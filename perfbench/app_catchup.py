"""Workload ``app_catchup``: closed-loop backlog catch-up through the app.

A seeded HFP backlog (about 2x redundant, spanning two of the app's
64 MB ``batchBytes`` micro-batches) is consumed by
``python -m transitdata_hfp_deduplicator_spark --source ... --out ...
--follow``, the live service restarting after an outage with a backlog
waiting.  Every backlog message is due when the app is launched.

The app's default availableNow drain is not used: its ``hfp_text``
reader stops after the first ``batchBytes`` in that mode, so a drain
of this backlog loses most of it (see the README's "Defects").

The app runs in its own process, so everything the benchmark knows
about its micro-batches comes from the app's Spark event log (the
``StreamingQueryProgress`` records) and its checkpoint, both enabled
from outside through ``PYSPARK_SUBMIT_ARGS`` and ``--checkpoint``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import re
import shlex
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import feed as feedgen
import measure

VEHICLES = 1000
SECONDS = 180  # 3 stats windows, about 112 MB: 1.7 x the app's 64 MB batch

_STATS = re.compile(
    r"^\[stats\] window=(?P<win>\S+ \S+) messages=(?P<msgs>\d+) "
    r"~uniques=(?P<uniq>\d+) dup_ratio=(?P<ratio>[\d.]+)(?P<alert> ALERT)?"
)


def _committed_pos(ckpt: str, query: str) -> int:
    """End byte position of a query's last committed micro-batch (0 before
    the first commit), from its checkpoint's ``commits`` and ``offsets``."""
    try:
        done = [int(n) for n in os.listdir(os.path.join(ckpt, query, "commits")) if n.isdigit()]
    except FileNotFoundError:
        return 0
    if not done:
        return 0
    with open(os.path.join(ckpt, query, "offsets", str(max(done)))) as f:
        return int(json.loads(f.read().splitlines()[2])["pos"])


def _progress_at(log_dir: str, size: int) -> bool:
    """Whether the event log holds, for two queries, a progress record of
    a batch that ends at ``size``."""
    progress = measure.progress_by_query(measure.read_event_log(log_dir))
    ends = [max((e for _, e, _ in measure.batch_ranges(ps)), default=0)
            for ps in progress.values()]
    return sum(e >= size for e in ends) >= 2


def _wait(cond, proc, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if proc.poll() is not None:
            raise RuntimeError(f"app exited {proc.returncode} before {what}")
        if time.time() > deadline:
            raise RuntimeError(f"app did not reach {what} in {timeout_s:.0f} s")
        time.sleep(0.1)


def run_app(env: dict, root: str, source: str, size: int, work: str,
            cpus: int | None) -> dict:
    """One catch-up; returns timing, stdout and the parsed event log.

    The app runs in ``--follow`` mode: it has caught up when both of its
    queries (forward and stats) have committed a micro-batch that ends at
    the end of the backlog.  The benchmark then stops it with SIGTERM, as
    an operator stops the live service."""
    out, ckpt, log_dir = (os.path.join(work, d) for d in ("out", "ckpt", "eventlog"))
    conf = measure.spark_conf(log_dir)
    env = dict(env)
    env["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell"
    )
    cmd = [sys.executable, "-m", "transitdata_hfp_deduplicator_spark",
           "--source", source, "--out", out, "--checkpoint", ckpt, "--follow"]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    launch_ms = time.time() * 1000
    with open(os.path.join(work, "app.stdout"), "w+") as stdout, \
            open(os.path.join(work, "app.stderr"), "w") as err:
        # its own process group, so the JVM and the Python workers it
        # starts are stopped and waited for with it
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=stdout,
                                stderr=err, text=True, start_new_session=True)
        try:
            _wait(lambda: min(_committed_pos(ckpt, q) for q in ("forward", "stats")) >= size,
                  proc, 150, "the end of the backlog")
            # the progress records follow the commits by a few ms
            _wait(lambda: _progress_at(log_dir, size), proc, 20,
                  "progress records of the last batches")
        except RuntimeError as e:
            raise RuntimeError(f"{e}; see {err.name}") from None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            measure.wait_group(proc.pid)
        stdout.seek(0)
        text = stdout.read()
    events = measure.read_event_log(log_dir)
    started = measure.query_start_ms(events)
    progress = measure.progress_by_query(events)
    # the forward query starts first; the stats query second
    order = sorted(started, key=started.get)
    fwd, stats = progress.get(order[0], []), progress.get(order[1], [])
    return {
        "launch_ms": launch_ms,
        "first_query_ms": started[order[0]],
        "caught_up_ms": max(r[2] for r in measure.batch_ranges(fwd) + measure.batch_ranges(stats)),
        "stdout": text,
        "events": events,
        "forward": fwd,
        "stats": stats,
        "out": out,
        "ckpt": ckpt,
    }


def committed_files(out: str) -> list[str]:
    """The parquet files a file-sink output holds, by its ``_spark_metadata``
    log: files of a batch that had not committed when the app stopped are
    not part of the output."""
    added, deleted = set(), set()
    meta = os.path.join(out, "_spark_metadata")
    for name in os.listdir(meta):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        with open(os.path.join(meta, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line: version
                entry = json.loads(line)
                (added if entry["action"] == "add" else deleted).add(entry["path"])
    return sorted(p.removeprefix("file://") for p in added - deleted)


def _checkpoint_batches(offset_dir: str) -> list[tuple[int, int]]:
    """(batchTimestampMs, end_pos) per committed batch of a checkpoint."""
    rows = []
    for name in sorted(os.listdir(offset_dir), key=lambda n: int(n) if n.isdigit() else -1):
        if not name.isdigit():
            continue
        with open(os.path.join(offset_dir, name)) as f:
            lines = f.read().splitlines()
        meta, src = json.loads(lines[1]), json.loads(lines[2])
        rows.append((int(meta["batchTimestampMs"]), int(src["pos"])))
    return rows


def alert_mismatches(stdout: str, ckpt: str, offsets: np.ndarray, feed) -> tuple[int, int]:
    """Compare the app's logged alert decisions (``approx_count_distinct``
    uniques) with the decision on exact counts over the same lines.

    The stats query windows on arrival = batch timestamp, so each window
    holds whole micro-batches; the checkpoint gives each batch's
    timestamp and byte range.  Returns (windows compared, mismatches)."""
    logged = {}
    for line in stdout.splitlines():
        m = _STATS.match(line)
        if m:  # update mode: the last line for a window is its final state
            logged[m["win"]] = m["alert"] is not None
    lines_in: dict[str, list[tuple[int, int]]] = {}
    start = 0
    for ts_ms, end in _checkpoint_batches(os.path.join(ckpt, "stats", "offsets")):
        win = dt.datetime.fromtimestamp(ts_ms // 60000 * 60, tz=dt.timezone.utc)
        key = win.strftime("%Y-%m-%d %H:%M:%S")
        lo, hi = np.searchsorted(offsets, [start, end])
        lines_in.setdefault(key, []).append((int(lo), int(hi)))
        start = end
    compared = mismatched = 0
    for key, spans in lines_in.items():
        if key not in logged:
            continue
        ids = np.concatenate([feed.msg_id[lo:hi] for lo, hi in spans])
        uniq = np.unique(ids).size
        exact_alert = (ids.size - uniq) / max(uniq, 1) > 1.0
        compared += 1
        mismatched += exact_alert != logged[key]
    return compared, mismatched


def consumed_per_s(d: dict) -> float:
    """Feed lines the forward query consumed per second, from its start to
    the commit of its last batch."""
    consumed = sum(p["sources"][0]["numInputRows"] for p in d["forward"])
    last_commit = max(r[2] for r in measure.batch_ranges(d["forward"]))
    return consumed / ((last_commit - d["first_query_ms"]) / 1000)


def run(ctx) -> dict:
    f = feedgen.generate(ctx.seed, VEHICLES, SECONDS)
    source = os.path.join(ctx.work, "backlog.txt")
    size = feedgen.write_lines(source, f.lines)
    os.sync()  # write the backlog back now, not during the app's fsyncs
    lengths = np.fromiter((len(s) + 1 for s in f.lines), dtype=np.int64, count=len(f.lines))
    offsets = np.concatenate([[0], np.cumsum(lengths)[:-1]])  # ASCII: chars == bytes
    first_line = np.nonzero(f.is_prime)[0]
    expected = {f.topic_payload(i) for i in first_line}

    tracer = measure.Tracer(ctx.trace)
    n_runs = itertools.count()

    def catch_up():
        with tracer.span("app.catch_up"):
            work = os.path.join(ctx.work, f"catchup{next(n_runs)}")
            os.makedirs(work)
            return run_app(ctx.env, ctx.root, source, size, work, None)

    with measure.PeakRss() as rss:
        runs = measure.repeat(ctx.seconds, catch_up)
    peak_rss = rss.peak_mb

    # correctness, outside the timed region: the last catch-up's output
    d = runs[-1]
    table = pq.read_table(committed_files(d["out"]), columns=["topic", "payload"])
    got = list(zip(table.column("topic").to_pylist(), table.column("payload").to_pylist()))
    got_set = set(got)
    lost = len(expected - got_set)
    leaked = len(got) - len(got_set) + len(got_set - expected)

    # latency of each forwarded unique; lost ones are counted in lost_frac
    lats = [
        measure.forward_latencies(
            offsets[first_line], np.full(len(first_line), x["launch_ms"]),
            measure.batch_ranges(x["forward"]),
        )[0]
        for x in runs
    ]
    metrics = {
        "setup_s": float(np.median([(x["first_query_ms"] - x["launch_ms"]) / 1000 for x in runs])),
        "msgs_per_s": float(np.median([consumed_per_s(x) for x in runs])),
        "sweep_s": float(np.median([(x["caught_up_ms"] - x["first_query_ms"]) / 1000 for x in runs])),
        "latency_ms.p50": float(np.median([measure.quantile(x, 0.5) for x in lats])),
        "latency_ms.p99": float(np.median([measure.quantile(x, 0.99) for x in lats])),
        "peak_rss_mb": peak_rss,
    }
    report = {
        "lost_frac": lost / len(expected),
        "dup_leak_frac": leaked / len(expected),
        "expected_uniques": len(expected),
        "forwarded_rows": len(got),
        "backlog_bytes": size,
        "backlog_lines": len(f.lines),
        "latency_samples": len(lats[-1]),
        "runs": len(runs),
    }

    layers = {}
    if ctx.trace:
        layers = trace_layers(d, size)
        compared, mism = alert_mismatches(d["stdout"], d["ckpt"], offsets, f)
        layers["app.alert_windows"] = compared
        layers["app.alert_mismatches"] = mism
        # single-core baseline: the same catch-up on local[1]
        work = os.path.join(ctx.work, "local1")
        os.makedirs(work)
        with tracer.span("app.catch_up_local1"):
            layers["baseline.local1_msgs_per_s"] = consumed_per_s(
                run_app(ctx.env, ctx.root, source, size, work, 1)
            )
    return {
        "metrics": metrics,
        "layers": layers,
        "report": report,
        "spans": tracer.spans,
        "attempted": len(expected),
        "failed": lost + leaked,
        "correct": lost == 0 and leaked == 0,
    }


def trace_layers(d: dict, source_bytes: int) -> dict:
    """Per-layer counters of one catch-up, from its event log and output."""
    app_start = next(e["Timestamp"] for e in d["events"]
                     if e.get("Event") == "SparkListenerApplicationStart")
    layers = {"session.get_spark_s": (app_start - d["launch_ms"]) / 1000}
    layers.update(measure.source_reads(d["forward"], source_bytes))
    layers.update(measure.runner_phases(d["forward"]))
    layers.update(measure.state_operator(d["forward"], "streaming.dedup_stream"))
    files = committed_files(d["out"])
    layers["sinks.files"] = len(files)
    layers["sinks.bytes"] = sum(os.path.getsize(p) for p in files)
    return layers
