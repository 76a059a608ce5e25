"""Custom Spark DataSource for the HFP line corpus (Spark 4 Python
DataSource API): ``format("hfp_text")`` reads and streams parsed
(server_ts, topic, payload) rows from ``ts topic json`` lines
(hfp-5000.txt format; parse rule ITDeduplicatorTest.java:138-148 —
first space ends the timestamp, first '{' starts the payload, because
topics may contain spaces), and its stream sink writes them back.

This is the engine's "own connector" surface: where `sources/broker.py`
maps an EXISTING source's columns, this registers a NEW format with the
planner.  Batch and stream reads split into ``numPartitions`` (default
8) byte ranges with the Hadoop text-input boundary rule (a partition
owns the lines that START inside its range) and parse them in executor
Python workers, so parallelism scales with file size and no central
line index is needed.

A stream micro-batch is every byte present when its trigger fires: the
offset is ``{"pos": <byte>}`` and ``latestOffset`` is one ``stat``.  The
batch size has no cap: PySpark 4.1 gives Python sources no admission
control, so under ``availableNow`` Spark fixes the end from a single
``latestOffset`` call and any cap would truncate the drain.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

_COLUMNS = ["server_ts", "topic", "payload"]
_BLOCK = 1 << 20  # bytes decoded and parsed per Arrow batch


class HfpByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def parse_hfp_line(line: str) -> tuple[str, str, str]:
    """ts topic json — identical semantics to hfp.parse_lines (the
    column-expression twin); a line with no space or no '{' degrades to
    empty fields rather than erroring, like the raw-bytes fallback."""
    sp = line.find(" ")
    brace = line.find("{")
    if sp < 0 or brace < 0 or brace < sp:
        return line, "", ""
    return line[:sp], line[sp + 1 : brace].strip(), line[brace:]


class _ByteRangeReader:
    """What the batch and the stream reader share: the options, the
    split of ``[start, end)`` into ranges of ``total / numPartitions``
    bytes, and the line loop that runs in the executor's Python worker."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfp_text requires .option('path', ...)")
        self.n_splits = int(options.get("numPartitions", "8"))

    def _ranges(self, path: str, start: int, end: int, total: int) -> list[HfpByteRange]:
        step = max(1, (total + self.n_splits - 1) // self.n_splits)
        return [HfpByteRange(path, s, min(s + step, end)) for s in range(start, end, step)]

    def read(self, partition: HfpByteRange) -> Iterator:
        """Arrow batches of the lines that START inside the range (the
        last one read to its end, past ``end``), decoded and split a
        whole-line block at a time: per line, only the parse is Python."""
        import pyarrow as pa  # executor side only: the driver never reads

        with open(partition.path, "rb") as f:
            pos = partition.start
            if pos > 0:
                # boundary rule: discard the line containing byte
                # start-1; if that byte is '\n' the discarded chunk is
                # exactly the predecessor's final line, so the line
                # starting AT `start` survives.
                f.seek(pos - 1)
                pos += len(f.readline()) - 1
            while pos < partition.end:
                block = f.read(min(_BLOCK, partition.end - pos))
                if not block:
                    break
                if not block.endswith(b"\n"):
                    block += f.readline()  # finish the block's last line
                pos += len(block)
                text = block.decode("utf-8", errors="replace")
                rows = [
                    parse_hfp_line(line)
                    for line in (raw.rstrip("\r\n") for raw in text.split("\n"))
                    if line
                ]
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(col, pa.string()) for col in zip(*rows)], names=_COLUMNS
                    )


class HfpTextReader(_ByteRangeReader, DataSourceReader):
    def partitions(self):
        if os.path.isdir(self.path):  # a sink-written batch dir of parts
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith((".", "_"))
                and os.path.isfile(os.path.join(self.path, f))
            )
        else:
            files = [self.path]
        total = sum(os.path.getsize(f) for f in files)
        if total == 0:
            return [HfpByteRange(files[0] if files else self.path, 0, 0)]
        return [r for f in files for r in self._ranges(f, 0, os.path.getsize(f), total)]


class HfpTextStreamReader(_ByteRangeReader, DataSourceStreamReader):
    """Tail-like streaming ingest of an HFP line file, the live-feed
    analog of the reference's Pulsar consumer (Deduplicator.java:43):
    a committed byte range replays deterministically, the contract a
    broker offset gives the checkpoint.  A batch ends where the file
    ended when its trigger fired, so the writer must append whole lines.
    """

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        return {"pos": os.path.getsize(self.path)}

    def partitions(self, start: dict, end: dict) -> list[HfpByteRange]:
        lo, hi = int(start["pos"]), int(end["pos"])
        return self._ranges(self.path, lo, hi, hi - lo)

    def commit(self, end: dict) -> None:
        pass  # nothing to release; the file is the retention


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int


class HfpTextStreamWriter(DataSourceStreamWriter):
    """Streaming sink half of the format: serialize rows back to
    ``ts topic json`` lines — the reference's forward-to-output-topic
    (A7, Deduplicator.java:117-129) with STRONGER delivery semantics.
    Each task writes to a staged file; ``commit`` moves the batch's
    staged files into ``<dir>/batch=<id>/`` only after every task
    reported success, and a replayed batch OVERWRITES its own directory
    — write-ahead staging + idempotent rename = exactly-once into the
    file sink, where the reference acked after async-send *initiation*
    and could both drop (send failed, already acked) and re-emit."""

    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("hfp_text sink requires .option('path', ...)")

    def write(self, iterator) -> _StagedFile:
        os.makedirs(os.path.join(self.dir, "_staging"), exist_ok=True)
        staged = os.path.join(self.dir, "_staging", uuid.uuid4().hex)
        n = 0
        with open(staged, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(f"{row.server_ts} {row.topic} {row.payload}\n")
                n += 1
        return _StagedFile(staged=staged, rows=n)

    def commit(self, messages, batchId: int) -> None:
        import shutil

        batch_dir = os.path.join(self.dir, f"batch={batchId}")
        if os.path.isdir(batch_dir):  # replayed batch: idempotent redo
            shutil.rmtree(batch_dir)
        os.makedirs(batch_dir)
        for i, m in enumerate(messages):
            if m is not None and m.rows > 0:
                os.replace(m.staged, os.path.join(batch_dir, f"part-{i:05d}.txt"))
            elif m is not None:
                os.unlink(m.staged)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.unlink(m.staged)


class HfpTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hfp_text"

    def schema(self) -> str:
        return "server_ts string, topic string, payload string"

    def reader(self, schema) -> HfpTextReader:
        return HfpTextReader(self.options)

    def streamReader(self, schema) -> HfpTextStreamReader:
        return HfpTextStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> HfpTextStreamWriter:
        return HfpTextStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(HfpTextDataSource)
