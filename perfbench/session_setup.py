"""Session and data-source set-up, timed the way ``setup_s`` reports it."""

from __future__ import annotations

import subprocess
import time

import numpy as np

import measure

SETUPS = 3


def measure_setup(log_dir: str, tracer: measure.Tracer, source=None, extra_conf=None):
    """Set up ``SETUPS`` times: create the session (the first time also
    starts the JVM; later times restart the SparkContext inside it),
    register the ``hfp_text`` data source and, if given, open the
    workload's ``source(spark)``.  ``extra_conf`` adds session confs.

    Returns the last session, kept for the workload, the median set-up
    seconds and the median ``get_spark`` seconds."""
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import register

    total, session = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()  # the JVM stays up; the next session reuses it
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            conf = {**measure.spark_conf(log_dir), **(extra_conf or {})}
            spark = get_spark("perfbench", extra_conf=conf)
        session.append(time.perf_counter() - t0)
        register(spark)
        if source is not None:
            source(spark)
        total.append(time.perf_counter() - t0)
    return spark, float(np.median(total)), float(np.median(session))


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers the
    JVM started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
