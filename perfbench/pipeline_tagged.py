"""Workload ``pipeline_tagged``: parquet replay through the tagged pipeline.

The seeded feed is written, in arrival order, as ``FILES`` parquet files
(topic, payload, ts) and drained one file per trigger
(``parquet_stream(max_files_per_trigger=1)``) through
``pipeline.build_dedup_pipeline``; both of its sinks run via
``run_to_memory``: uniques in append mode, then the stats branch in
complete mode under ``allow_chained_stateful``.  The default 4 h TTL is
longer than the feed, so dedup state only grows.  This is the only
workload on ``streaming.stateful`` (the ``applyInPandasWithState`` tagger)
and ``streaming.analytics``.
"""

from __future__ import annotations

import os
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import feed as feedgen
import measure
import session_setup

VEHICLES = 50
SECONDS = 240  # 4 stats windows, the outage in the third
FILES = 2
# the first file holds two thirds of the lines, and so about two thirds of
# the uniques: latency_ms.p50 is the first batch's commit, .p99 the second's
FIRST_FILE_SHARE = 2 / 3


def write_replay(f: feedgen.Feed, src: str) -> list[np.ndarray]:
    """Split the feed, in arrival order, into FILES = 2 parquet files, the
    first with FIRST_FILE_SHARE of the lines, whose modification times
    follow that order (the file source's order)."""
    os.makedirs(src)
    topics, payloads = zip(*(f.topic_payload(i) for i in range(len(f.lines))))
    topics, payloads = np.array(topics, dtype=object), np.array(payloads, dtype=object)
    chunks = np.split(np.arange(len(f.lines)), [round(len(f.lines) * FIRST_FILE_SHARE)])
    now = time.time() - FILES
    for k, ix in enumerate(chunks):
        table = pa.table(
            {
                "topic": pa.array(topics[ix], pa.string()),
                "payload": pa.array(payloads[ix], pa.string()),
                "ts": pa.array(f.arrival_ms[ix] * 1000, pa.timestamp("us")),
            }
        )
        path = os.path.join(src, f"part-{k:03d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (now + k, now + k))
    return chunks


def run(ctx) -> dict:
    from transitdata_hfp_deduplicator_spark.operators.dedup import dup_stats_tumbling
    from transitdata_hfp_deduplicator_spark.pipeline import build_dedup_pipeline
    from transitdata_hfp_deduplicator_spark.streaming import parquet_stream, run_to_memory
    from transitdata_hfp_deduplicator_spark.streaming import runner
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    # run_to_memory spools and checkpoints through
    # streaming.runner.ephemeral_dir, which would otherwise create its
    # root in /dev/shm.  A run may write only inside its checkout, so the
    # root moves to the run's work dir, on disk: each commit's WAL and
    # state fsyncs then reach the disk, as with a deployment's real
    # checkpoint dir, and this workload pays for them (README, "Departures")
    runner._EPHEMERAL_ROOT = os.path.join(ctx.work, "ephemeral")
    os.makedirs(runner._EPHEMERAL_ROOT)

    f = feedgen.generate(ctx.seed, VEHICLES, SECONDS)
    src = os.path.join(ctx.work, "replay")
    chunks = write_replay(f, src)
    os.sync()  # write the inputs back now, not during the replay's fsyncs
    file_of_line = np.empty(len(f.lines), dtype=np.int64)
    for k, ix in enumerate(chunks):
        file_of_line[ix] = k
    first_line = np.nonzero(f.is_prime)[0]

    tracer = measure.Tracer(ctx.trace)
    log_dir = os.path.join(ctx.work, "eventlog")

    def replay():
        t0 = time.time()
        stream = parquet_stream(spark, src, max_files_per_trigger=1)
        with tracer.span("pipeline.build_s"):
            uniques_s, stats_s, _ = build_dedup_pipeline(
                stream, identity_cols=("topic", "payload"), ts_col="ts"
            )
        started = time.time()  # every file is due once the pipeline is built
        with tracer.span("streaming.runner.uniques"):
            uniques = run_to_memory(uniques_s, "append")
        t1 = time.time()
        with tracer.span("streaming.runner.stats"), runner.allow_chained_stateful(spark):
            stats = run_to_memory(stats_s, "complete")
        return t0, started, t1, time.time(), uniques, stats

    with measure.PeakRss() as rss:
        spark, setup, get_spark_s = session_setup.measure_setup(
            log_dir, tracer, lambda s: parquet_stream(s, src, max_files_per_trigger=1)
        )
        passes = measure.repeat(ctx.seconds, replay)
    peak_rss = rss.peak_mb

    # correctness, outside the timed region: the last pass
    _, _, t1, t2, uniques, stats = passes[-1]
    expected = {f.topic_payload(i) for i in first_line}
    spool = [urlparse(p).path for p in uniques.inputFiles()]
    table = pq.read_table(spool, columns=["topic", "payload"])
    got = list(zip(table.column("topic").to_pylist(), table.column("payload").to_pylist()))
    got_set = set(got)
    lost = len(expected - got_set)
    leaked = len(got) - len(got_set) + len(got_set - expected)

    cols = ["window_start", "primes", "duplicates", "dup_ratio", "avg_delay_ms"]
    oracle = dup_stats_tumbling(read_parquet(spark, src), ["topic", "payload"], ["ts"])
    want = {tuple(r) for r in oracle.select(*cols).collect()}
    stat_rows = stats.select(*cols, "alert").collect()
    have = {tuple(r[c] for c in cols) for r in stat_rows}
    windows = {r[0] for r in want | have}
    bad_windows = {r[0] for r in want ^ have}
    truth_bad = {
        w for w, t in f.windows.items()
        if (t["primes"], t["duplicates"]) not in {(r[1], r[2]) for r in have if r[0] == w}
    }
    alerts = {r["window_start"]: r["alert"] for r in stat_rows if r["alert"] is not None}
    expected_alerts = {
        w: a for w, t in f.windows.items()
        if (a := feedgen.expected_alert(t["primes"], t["duplicates"])) is not None
    }
    feed_down_ok = alerts == expected_alerts == {f.outage_window: "FEED_DOWN"}
    session_setup.shutdown(spark)

    # two queries per pass, started in order: uniques, then stats
    events = measure.read_event_log(log_dir)
    progress = measure.progress_by_query(events)
    started = measure.query_start_ms(events)
    qids = sorted(started, key=started.get)
    lats = []
    for k, (_, due, *_rest) in enumerate(passes):
        commits = [measure.commit_ms(p) for p in progress[qids[2 * k]]
                   if p["sources"][0]["numInputRows"] > 0]
        if len(commits) == FILES:  # one batch per file, in file order
            lats.append(np.asarray(commits)[file_of_line[first_line]] - due * 1000)
    sweep = [p[3] - p[0] for p in passes]
    metrics = {
        "setup_s": setup,
        "msgs_per_s": float(np.median([len(f.lines) / s for s in sweep])),
        "sweep_s": float(np.median(sweep)),
        "latency_ms.p50": float(np.median([measure.quantile(x, 0.5) for x in lats] or [0])),
        "latency_ms.p99": float(np.median([measure.quantile(x, 0.99) for x in lats] or [0])),
        "peak_rss_mb": peak_rss,
    }
    report = {
        "lost_frac": lost / len(expected),
        "dup_leak_frac": leaked / len(expected),
        "window_mismatch_frac": len(bad_windows | truth_bad) / max(len(windows), 1),
        "feed_down_alert_ok": feed_down_ok,
        "expected_uniques": len(expected),
        "replay_lines": len(f.lines),
        "replay_files": FILES,
        "passes": len(passes),
        "latency_samples": len(first_line) if len(lats) == len(passes) else 0,
    }
    ok = lost == 0 and leaked == 0 and not bad_windows and not truth_bad and feed_down_ok
    ok = ok and len(lats) == len(passes)

    layers = {}
    if ctx.trace:
        uq, sq = progress[qids[-2]], progress[qids[-1]]
        layers["session.get_spark_s"] = get_spark_s
        layers["pipeline.build_s"] = tracer.total("pipeline.build_s") / len(passes)
        layers.update(measure.runner_phases(uq + sq))
        layers.update(measure.state_operator(uq, "streaming.dedup_stream"))
        layers.update(stateful_layers(sq, events, t1 * 1000, t2 * 1000))
        layers["streaming.analytics.windows"] = len(stat_rows)
        layers["streaming.analytics.alerts"] = len(alerts)
        agg = [o for o in sq[-1]["stateOperators"] if o["operatorName"] == "stateStoreSave"]
        layers["streaming.analytics.state_rows"] = agg[0]["numRowsTotal"] if agg else 0
        layers["sinks.files"] = len(spool)
        layers["sinks.bytes"] = sum(os.path.getsize(p) for p in spool)
    return {
        "metrics": metrics,
        "layers": layers,
        "report": report,
        "spans": tracer.spans,
        "attempted": len(expected),
        "failed": lost + leaked,
        "correct": ok,
    }


def stateful_layers(progress: list[dict], events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """``streaming.stateful``: the applyInPandasWithState tagger's state
    operator in the stats query (the one that is not the window
    aggregation's ``stateStoreSave``), plus the Python worker time of
    that query's stages."""
    ops = [o for p in progress for o in p["stateOperators"]
           if o["operatorName"] != "stateStoreSave"]
    return {
        "streaming.stateful.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.stateful.updates_ms": sum(o["allUpdatesTimeMs"] for o in ops),
        "streaming.stateful.commit_ms": sum(o["commitTimeMs"] for o in ops),
        "streaming.stateful.groups_per_batch": (
            sum(o["numRowsUpdated"] for o in ops) / max(len(ops), 1)
        ),
        "streaming.stateful.python_exec_s": measure.stage_metrics(events, t0_ms, t1_ms)["python_s"],
    }
