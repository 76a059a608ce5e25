"""Measurement helpers shared by the workloads: percentiles, process-tree
memory sampling, Spark event-log parsing and the offset-to-latency
arithmetic, plus the in-memory span recorder used by the traced run."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import signal
import sys
import threading
import time

import numpy as np

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

# the event-log parser of tools/profile_stages.py; that module prepends a
# fixed repository path to sys.path on import, so the path is restored
# and the package is still imported from this checkout
_path = list(sys.path)
sys.path.insert(0, TOOLS)
from profile_stages import parse_events as read_event_log  # noqa: E402
sys.path[:] = _path


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


# -- memory -----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    """A process's peak resident set size so far (``VmHWM``), in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _jvm_spawn(pid: int) -> bool:
    """A JVM starting a worker: a child that is still a copy of its java
    parent, before exec.  It shares the parent's memory, so counting it
    would count the JVM twice."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
    cmd = _cmdline(pid)
    return b"java" in cmd.split(b"\0", 1)[0] and cmd == _cmdline(ppid)


def descendants(pid: int) -> set[int]:
    """Every process below ``pid``."""
    kids = _children()
    found, stack = set(), list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        if p not in found:
            found.add(p)
            stack.extend(kids.get(p, ()))
    return found


class PeakRss:
    """Peak memory of this process's descendants: every ``PERIOD_S`` a
    daemon thread reads each descendant's own peak resident set
    (``VmHWM``); ``peak_mb`` sums the per-process peaks.

    Per-process peaks do not depend on whether a sample lands on a short
    spike, such as a Python worker holding a whole micro-batch.  The
    benchmark's own process is left out (it holds the generated inputs);
    its Spark JVM and Python workers are counted, and so is the whole
    tree of an app subprocess."""

    PERIOD_S = 0.25

    def __init__(self):
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0

    def _sample(self) -> None:
        for p in descendants(os.getpid()):
            if not _jvm_spawn(p):
                self._peaks[p] = max(self._peaks.get(p, 0), _hwm_kb(p))

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_group(pgid: int) -> None:
    """Wait until every process of a process group has exited; kill the
    group if it outlives a minute."""
    deadline = time.time() + 60
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


# -- Spark event log ---------------------------------------------------------

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"


def iso_ms(ts: str) -> float:
    """Epoch ms of a progress timestamp like ``2026-10-17T05:21:40.295Z``."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def progress_by_query(events: list[dict]) -> dict[str, list[dict]]:
    """Progress records grouped by query id, in batch order."""
    out: dict[str, list[dict]] = {}
    for e in events:
        if e.get("Event") == PROGRESS:
            p = e["progress"]
            out.setdefault(p["id"], []).append(p)
    for ps in out.values():
        ps.sort(key=lambda p: p["batchId"])
    return out


def query_start_ms(events: list[dict]) -> dict[str, float]:
    return {e["id"]: iso_ms(e["timestamp"]) for e in events if e.get("Event") == STARTED}


def commit_ms(progress: dict) -> float:
    """When a micro-batch committed: trigger start plus its execution."""
    return iso_ms(progress["timestamp"]) + progress["durationMs"].get("triggerExecution", 0)


def _pos(offset) -> int | None:
    if offset is None:
        return None
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["pos"])


def batch_ranges(progress: list[dict]) -> list[tuple[int, int, float]]:
    """``(start_pos, end_pos, commit_ms)`` per batch that read bytes of a
    byte-offset source (the ``hfp_text`` stream reader)."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start = _pos(src.get("startOffset")) or 0
        end = _pos(src.get("endOffset"))
        if end is not None and end > start:
            out.append((start, end, commit_ms(p)))
    return out


def forward_latencies(
    line_offsets, due_ms, ranges: list[tuple[int, int, float]]
) -> tuple[np.ndarray, int]:
    """Latency of each line: from its due time to the commit of the batch
    whose byte range holds the line's first byte.  Returns (latencies of
    the covered lines, number of lines no batch covered)."""
    ranges = sorted(ranges)
    starts = np.array([r[0] for r in ranges], dtype=np.int64)
    ends = np.array([r[1] for r in ranges], dtype=np.int64)
    commits = np.array([r[2] for r in ranges], dtype=float)
    off = np.asarray(line_offsets, dtype=np.int64)
    i = np.searchsorted(ends, off, side="right")
    covered = i < len(ranges)
    covered[covered] &= starts[i[covered]] <= off[covered]
    lat = commits[i[covered]] - np.asarray(due_ms, dtype=float)[covered]
    return lat, int((~covered).sum())


PYTHON_TIME_METRIC = "time to run Python workers"  # a SQL metric, in ms


def stage_metrics(events: list[dict], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Totals over the stages that overlap [t0, t1] (epoch ms), selected
    by submission and completion time as tools/profile_stages.py does:
    tasks, executor CPU, shuffle bytes written, spill, Python worker time."""
    out = {"tasks": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
           "python_s": 0.0}
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        si = e["Stage Info"]
        sub, comp = si.get("Submission Time"), si.get("Completion Time")
        if sub is None or comp is None or comp < t0_ms or sub > t1_ms:
            continue
        out["tasks"] += si.get("Number of Tasks", 0)
        for acc in si.get("Accumulables", []):
            name, val = acc.get("Name"), acc.get("Value")
            try:
                val = int(val)
            except (TypeError, ValueError):
                continue
            if name == "internal.metrics.executorCpuTime":
                out["executor_cpu_s"] += val / 1e9
            elif name == "internal.metrics.shuffle.write.bytesWritten":
                out["shuffle_bytes"] += val
            elif name in (
                "internal.metrics.memoryBytesSpilled",
                "internal.metrics.diskBytesSpilled",
            ):
                out["spill_bytes"] += val
            elif name == PYTHON_TIME_METRIC:
                out["python_s"] += val / 1000
    return out


def spark_conf(log_dir: str) -> dict[str, str]:
    """Spark confs for every session the benchmark starts: an
    uncompressed event log in ``log_dir``, the JVM's tmpdir under the
    run's own ``TMPDIR``, and an initial heap equal to the maximum whose
    pages are touched at start-up (``AlwaysPreTouch``).  The Spark
    driver's RSS then does not depend on how much of the heap the
    collector happened to touch: the heap counts at its configured
    size, and ``peak_rss_mb`` moves with the JVM's off-heap memory and
    the Python processes."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.driver.defaultJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A disabled tracer records nothing, so the untraced run pays only the
    context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# -- streaming progress -> per-layer metrics -----------------------------------


def source_reads(progress: list[dict], source_bytes: int) -> dict[str, float]:
    """``sources.hfp_datasource``: offset planning time, rows and bytes
    read, and the largest gap between the file end and a batch's end."""
    ranges = batch_ranges(progress)
    return {
        "sources.hfp_datasource.latestOffset_ms": sum(
            p["durationMs"].get("latestOffset", 0) for p in progress
        ),
        "sources.hfp_datasource.rows": sum(p["sources"][0]["numInputRows"] for p in progress),
        "sources.hfp_datasource.bytes": sum(e - s for s, e, _ in ranges),
        "sources.hfp_datasource.lag_bytes.max": max(
            (source_bytes - e for _, e, _ in ranges), default=source_bytes
        ),
    }


def runner_phases(progress: list[dict]) -> dict[str, float]:
    """``streaming.runner``: micro-batch count, trigger-time quantiles and
    the summed ``durationMs`` phases."""
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress] or [0]
    out = {
        "streaming.runner.batches": len(progress),
        "streaming.runner.batch_ms.p50": quantile(trig, 0.5),
        "streaming.runner.batch_ms.p99": quantile(trig, 0.99),
    }
    for phase in ("queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        out[f"streaming.runner.{phase}_ms"] = sum(
            p["durationMs"].get(phase, 0) for p in progress
        )
    return out


def state_operator(progress: list[dict], layer: str) -> dict[str, float]:
    """State-store counters of a query's first stateful operator: final
    size, summed per-batch work, and the share of input rows it kept."""
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    rows_in = sum(p["sources"][0]["numInputRows"] for p in progress)
    last = ops[-1] if ops else {}
    updated = sum(o.get("numRowsUpdated", 0) for o in ops)
    return {
        f"{layer}.state_rows": last.get("numRowsTotal", 0),
        f"{layer}.state_bytes": last.get("memoryUsedBytes", 0),
        f"{layer}.rows_updated": updated,
        f"{layer}.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
        f"{layer}.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        f"{layer}.updates_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        f"{layer}.unique_share": updated / rows_in if rows_in else 0.0,
    }


def repeat(seconds: float, unit) -> list:
    """Run ``unit()`` at least once, then again while the next run is
    expected (from the last one's duration) to end within ``seconds``
    of the start.  Returns the units' results."""
    results, start = [], time.perf_counter()
    while True:
        t0 = time.perf_counter()
        results.append(unit())
        now = time.perf_counter()
        if now + (now - t0) - start > seconds:
            return results
