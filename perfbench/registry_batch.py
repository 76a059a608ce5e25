"""Workload ``registry_batch``: a fixed list of registry queries.

Each query is built by ``queries.QUERIES[name](spark, sf_dir)`` and
forced through the noop sink.  The list holds the construct-bound
queries (plan construction with eager size-gate jobs and checkpoints
dominates) and execute-bound ones (the final job dominates).  This is
the only workload on ``queries`` and the batch ``operators``; the
streaming workloads bypass both.

Before the timed sweeps, untimed, every query runs once on the same
tables and its collected result is compared with the query's DuckDB
oracle (``queries.ORACLES``; every listed query has one) cell by cell.
That pass is also the warm-up (codegen and JIT).  ``bench.py`` warms up
on its sf 0.001 copy instead; one pass here serves both ends and keeps
a run inside the benchmark's time budget.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import gen_tables
import measure
import session_setup

CONSTRUCT_BOUND = ("q_dedup_minhash_lsh",)
EXECUTE_BOUND = ("q_agg_approx_check", "q_dedup_exact")
QUERY_NAMES = CONSTRUCT_BOUND + EXECUTE_BOUND
INPUT_TABLE = {  # the one table each query reads, for msgs_per_s
    "q_dedup_minhash_lsh": "documents",
    "q_agg_approx_check": "lineitem",
    "q_dedup_exact": "events",
}
SF = 0.02
# as bench.py: the session default runs a full System.gc() every minute,
# which would land inside whichever query is running; the sweep collects
# between queries instead
SESSION_CONF = {"spark.cleaner.periodicGC.interval": "3600min"}


def check_against_oracles(spark, names, sf_dir: str) -> dict[str, str | None]:
    """Collect each query at ``sf_dir`` and compare with its DuckDB
    oracle; returns the problem per query (None when it passed)."""
    import duckdb

    sys.path.insert(0, measure.TOOLS)
    from check_oracle import compare

    from transitdata_hfp_deduplicator_spark.queries import ORACLES, QUERIES
    from transitdata_hfp_deduplicator_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems: dict[str, str | None] = {}
    for name in names:
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            problems[name] = f"spark error: {e}"[:300]
            continue
        want = con.sql(ORACLES[name]).df()
        found = compare(name, got, want)
        problems[name] = "; ".join(found)[:300] if found else None
    con.close()
    return problems


def sweep(spark, sf_dir: str, tracer: measure.Tracer, problems: dict) -> tuple[float, dict]:
    """One timed pass: each query constructed, then run through the noop
    sink.  A full JVM collection runs before each query, outside its
    timing, as in bench.py.  Returns (summed query walls, per-query
    timestamps)."""
    from transitdata_hfp_deduplicator_spark.queries import QUERIES

    per_query = {}
    for name in QUERY_NAMES:
        spark.sparkContext._jvm.System.gc()
        q = per_query[name] = {"start": time.time()}
        try:
            with tracer.span(f"queries.{name}.construct"):
                df = QUERIES[name](spark, sf_dir)
            q["constructed"] = time.time()
            with tracer.span(f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            problems[name] = problems.get(name) or f"timed run error: {e}"[:300]
        q["end"] = time.time()
    return sum(q["end"] - q["start"] for q in per_query.values()), per_query


def run(ctx) -> dict:
    sf_dir = os.path.join(ctx.work, "sf")
    rows = gen_tables.generate(ctx.seed, SF, sf_dir)
    os.sync()  # write the tables back now, not while queries run
    input_rows = sum(rows[INPUT_TABLE[q]] for q in QUERY_NAMES)

    tracer = measure.Tracer(ctx.trace)
    log_dir = os.path.join(ctx.work, "eventlog")
    with measure.PeakRss() as rss:
        spark, setup, get_spark_s = session_setup.measure_setup(
            log_dir, tracer, extra_conf=SESSION_CONF
        )
        problems = check_against_oracles(spark, QUERY_NAMES, sf_dir)  # also the warm-up
        sweeps = measure.repeat(ctx.seconds, lambda: sweep(spark, sf_dir, tracer, problems))
    peak_rss = rss.peak_mb
    session_setup.shutdown(spark)

    failed = sum(1 for p in problems.values() if p)
    per_query = sweeps[-1][1]
    walls = [[(q["end"] - q["start"]) * 1000 for q in pq.values()] for _, pq in sweeps]
    metrics = {
        "setup_s": setup,
        "msgs_per_s": float(np.median([input_rows / s for s, _ in sweeps])),
        "sweep_s": float(np.median([s for s, _ in sweeps])),
        "latency_ms.p50": float(np.median([measure.quantile(w, 0.5) for w in walls])),
        "latency_ms.p99": float(np.median([measure.quantile(w, 0.99) for w in walls])),
        "peak_rss_mb": peak_rss,
    }
    report = {
        "failed_frac": failed / len(QUERY_NAMES),
        "queries": len(QUERY_NAMES),
        "latency_samples": len(walls[-1]),
        "sf": SF,
        "sweeps": len(sweeps),
    }
    report.update({f"problem.{n}": p for n, p in problems.items() if p})

    layers = {}
    if ctx.trace:
        layers["session.get_spark_s"] = get_spark_s
        layers.update(query_layers(measure.read_event_log(log_dir), per_query))
        report["span_sum_gap.max"] = span_sum_gap(layers)
    return {
        "metrics": metrics,
        "layers": layers,
        "report": report,
        "spans": tracer.spans,
        "attempted": len(QUERY_NAMES),
        "failed": failed,
        "correct": failed == 0,
    }


def sql_executions(events: list[dict]) -> list[dict]:
    """Root SQL executions with their start and end (epoch ms), as the
    driver posted them.  Ids restart in every application of a log dir,
    so each end closes the last open execution of its id."""
    out, open_ = [], {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            if e.get("rootExecutionId", e["executionId"]) == e["executionId"]:
                open_[e["executionId"]] = rec = {"start": e["time"]}
                out.append(rec)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            rec = open_.pop(e["executionId"], None)
            if rec is not None:
                rec["end"] = e["time"]
    return [r for r in out if "end" in r]


def query_layers(events: list[dict], per_query: dict) -> dict:
    """Per query, from the Python timestamps and the event log:

    * ``construct_s``: the ``QUERIES[name]`` call, with ``eager_jobs``
      and ``eager_s`` for the Spark jobs it ran;
    * ``plan_s``: from the noop write's call to the start of its SQL
      execution, which Spark posts once the write's plan is analysed,
      optimised and planned;
    * ``exec_s``: that execution, start to end, and its stage counters;
    * ``wall_s``: construct call to the write's return.

    The plan and exec spans come from the event log, not from the
    write's return, so construct + plan + exec falls short of the wall
    by whatever the spans miss."""
    jobs = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            jobs.setdefault(e["Job ID"], {})["start"] = e["Submission Time"]
        elif e.get("Event") == "SparkListenerJobEnd":
            jobs.setdefault(e["Job ID"], {})["end"] = e["Completion Time"]
    executions = sql_executions(events)
    out = {}
    for name, q in per_query.items():
        p = f"queries.{name}"
        if "constructed" not in q:
            continue
        c0, c1, end = q["start"] * 1000, q["constructed"] * 1000, q["end"] * 1000
        write = next((x for x in executions if c1 - 1 <= x["start"] <= end), None)
        if write is None:
            continue
        eager = [j for j in jobs.values() if c0 <= j.get("start", -1) <= c1 and "end" in j]
        out[f"{p}.construct_s"] = (c1 - c0) / 1000
        out[f"{p}.eager_jobs"] = len(eager)
        out[f"{p}.eager_s"] = sum(j["end"] - j["start"] for j in eager) / 1000
        out[f"{p}.plan_s"] = max(write["start"] - c1, 0.0) / 1000
        out[f"{p}.exec_s"] = (write["end"] - write["start"]) / 1000
        out[f"{p}.wall_s"] = (end - c0) / 1000
        stages = measure.stage_metrics(events, write["start"], write["end"])
        for k in ("tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes"):
            out[f"{p}.{k}"] = stages[k]
    for k in ("construct_s", "eager_jobs", "eager_s", "plan_s", "exec_s"):
        out[f"queries.total.{k}"] = sum(v for n, v in out.items() if n.endswith("." + k))
    return out


def span_sum_gap(layers: dict, names=QUERY_NAMES) -> float:
    """The worst query's |construct + plan + exec - wall| / wall; 1.0 when
    a query has no spans (it failed, or its write left no execution)."""
    gaps = []
    for q in names:
        p = f"queries.{q}"
        if f"{p}.wall_s" not in layers:
            gaps.append(1.0)
            continue
        spans = sum(layers[f"{p}.{k}"] for k in ("construct_s", "plan_s", "exec_s"))
        gaps.append(abs(spans - layers[f"{p}.wall_s"]) / layers[f"{p}.wall_s"])
    return max(gaps)
