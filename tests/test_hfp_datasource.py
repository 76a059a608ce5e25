"""Custom Python DataSource (`format("hfp_text")`): split-boundary
correctness against the column-expression parser, golden corpus parity,
and the byte-range stream reader on generated feeds (no corpus needed).
"""

from __future__ import annotations

import os
import random
import time

import pytest

from transitdata_hfp_deduplicator_spark.sources.hfp import read_corpus
from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
    HfpTextDataSource,
    HfpTextStreamReader,
    parse_hfp_line,
)

CORPUS = "/root/reference/src/integration-test/resources/hfp-5000.txt"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(HfpTextDataSource)


def _load(spark, **opts):
    r = spark.read.format("hfp_text").option("path", CORPUS)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_all_lines(spark):
    assert _load(spark).count() == 5000


def test_matches_column_expression_parser(spark):
    """The DataSource rows equal hfp.parse_lines' output exactly —
    two independent implementations of ITDeduplicatorTest.java:138-148."""
    via_ds = set(map(tuple, _load(spark).collect()))
    via_expr = set(map(tuple, read_corpus(spark, CORPUS).collect()))
    assert via_ds == via_expr


@pytest.mark.parametrize("n", [1, 3, 7, 32])
def test_split_boundaries_lose_nothing(spark, n):
    """Any byte-range split count yields the same 5000 rows — the
    partial-line ownership rule at work (a wrong rule drops or
    duplicates boundary lines)."""
    df = _load(spark, numPartitions=str(n))
    assert df.count() == 5000


def test_golden_unique_count_through_datasource(spark):
    """The reference's golden oracle (5000 → 4956 uniques by
    topic + ' ' + payload, ITDeduplicatorTest.java:80-93) through the
    custom format."""
    df = _load(spark)
    assert df.select("topic", "payload").distinct().count() == 4956


def test_parse_rule_degrades_gracefully():
    assert parse_hfp_line("noseparator") == ("noseparator", "", "")
    ts, topic, payload = parse_hfp_line('t /a/b {"x": 1}')
    assert (ts, topic, payload) == ("t", "/a/b", '{"x": 1}')
    # topic with spaces: json starts at first '{'
    ts, topic, payload = parse_hfp_line('t /a b c {"x": 1}')
    assert topic == "/a b c"


def test_streaming_tail_ingests_live_appends(spark, tmp_path):
    """`readStream.format("hfp_text")`: a live byte-offset tail of a
    growing HFP feed — half the corpus at start, half appended while
    the query runs; all 5000 messages arrive and the golden 4956-unique
    invariant holds end-to-end.  The growing file stands in for the
    growing broker topic (Deduplicator.java:43); the byte offset in the
    checkpoint is the replayable consumer position."""
    import os
    import time

    corpus_lines = open(CORPUS, "rb").read().splitlines(keepends=True)
    feed = str(tmp_path / "feed.txt")
    with open(feed, "wb") as f:
        f.write(b"".join(corpus_lines[:2500]))
    outd, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    sdf = (
        spark.readStream.format("hfp_text")
        .option("path", feed)
        .load()
    )
    q = (
        sdf.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(outd)
        )
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def _count() -> int:
        try:
            return spark.read.parquet(outd).count()
        except Exception:  # noqa: BLE001 - sink dir not created yet
            return 0

    try:
        deadline = time.time() + 90
        while _count() < 2500 and time.time() < deadline:
            time.sleep(0.5)
        assert _count() == 2500, "first half never fully ingested"
        with open(feed, "ab") as f:
            f.write(b"".join(corpus_lines[2500:]))
        while _count() < 5000 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.read.parquet(outd)
    assert out.count() == 5000
    assert out.select("topic", "payload").distinct().count() == 4956


def test_sink_roundtrip_golden(spark, tmp_path):
    """Full loop through BOTH halves of the custom format: batch-read
    the corpus via format('hfp_text') → first-wins dedup on
    (topic, payload) → stream the result into the hfp_text SINK
    (staged-file exactly-once commit) → re-read the sink output with
    the same format → the golden 4,956 identities survive byte-exact.
    This is the reference's consume → dedup → forward loop
    (Deduplicator.java:43-66,117-129) with the engine's own connector
    on both ends."""
    import os

    from pyspark.sql import functions as F

    deduped = (
        spark.readStream.format("hfp_text")
        .option("path", CORPUS)
        # availableNow drains every byte the file holds when the query
        # starts, in one micro-batch
        .load()
        .groupBy("topic", "payload")
        .agg(F.min("server_ts").alias("server_ts"))
        .select("server_ts", "topic", "payload")
    )
    out_dir = str(tmp_path / "forwarded")
    q = (
        deduped.writeStream.format("hfp_text")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
    assert batches, "sink committed no batch directory"
    back = (
        spark.read.format("hfp_text")
        .option("path", os.path.join(out_dir, sorted(batches)[-1]))
        .load()
    )
    assert back.count() == 4956
    want = set(
        (r.topic, r.payload)
        for r in _load(spark).select("topic", "payload").distinct().collect()
    )
    got = set((r.topic, r.payload) for r in back.collect())
    assert got == want


def test_empty_file_yields_no_rows(spark, tmp_path):
    p = str(tmp_path / "empty.txt")
    open(p, "w").close()
    df = spark.read.format("hfp_text").option("path", p).load()
    assert df.count() == 0


def test_missing_path_option_raises(spark):
    import pytest as _pytest

    with _pytest.raises(Exception, match="path"):
        spark.read.format("hfp_text").load().count()


def test_sink_abort_cleans_staged_files(tmp_path):
    """The write-ahead staging contract: abort() removes every staged
    file, commit() of a replayed batch overwrites its own directory."""
    import os

    from pyspark.sql import Row

    from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
        HfpTextStreamWriter,
    )

    w = HfpTextStreamWriter({"path": str(tmp_path)})
    rows = [Row(server_ts="t1", topic="/a", payload='{"x":1}')]
    m1 = w.write(iter(rows))
    m2 = w.write(iter([]))
    assert os.path.exists(m1.staged)
    w.abort([m1, m2, None], batchId=0)
    assert not os.path.exists(m1.staged)

    # commit path: staged -> batch dir; replay overwrites
    m3 = w.write(iter(rows))
    w.commit([m3], batchId=7)
    batch_dir = tmp_path / "batch=7"
    assert len(list(batch_dir.iterdir())) == 1
    m4 = w.write(iter(rows + rows))
    w.commit([m4], batchId=7)  # replayed batch
    files = list(batch_dir.iterdir())
    assert len(files) == 1  # overwritten, not appended
    assert open(files[0]).read().count("\n") == 2


def test_parse_parity_on_adversarial_lines(spark, tmp_path):
    """parse_hfp_line (Python, DataSource) vs hfp.parse_lines (SQL
    expressions) agree on arbitrary adversarial lines — two independent
    implementations of the same split rule."""
    from transitdata_hfp_deduplicator_spark.sources import hfp

    lines = [
        "ts topic {json}",
        "ts topic with spaces {json}",
        "ts {json-immediately}",
        "braces{inside}topic {x}",   # '{' before any space? no: space first
        "no-braces-at-all",
        "ts topic {nested {deep} json}",
        "ts  double-space  {x}",
        "{leading-brace}",
        "ts trailing-space- {x} ",
        "a {}",
    ]
    via_py = [
        __import__(
            "transitdata_hfp_deduplicator_spark.sources.hfp_datasource",
            fromlist=["parse_hfp_line"],
        ).parse_hfp_line(ln)
        for ln in lines
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    via_sql = [
        (r.server_ts, r.topic, r.payload) for r in hfp.parse_lines(df).collect()
    ]
    for ln, a, b in zip(lines, via_py, via_sql):
        if "{" in ln and " " in ln.split("{")[0]:
            assert a == b, f"parsers disagree on {ln!r}: {a} vs {b}"


# -- stream reader on generated feeds -------------------------------------


def _write(path, lines) -> str:
    with open(path, "ab") as f:
        f.write(b"".join(lines))
    return str(path)


def _stream(spark, path, n_splits="3"):
    return (
        spark.readStream.format("hfp_text")
        .option("path", path)
        .option("numPartitions", n_splits)
        .load()
    )


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("server_ts", "topic", "payload").collect()))


def _read(reader, parts) -> list[tuple]:
    """Rows of the Arrow batches ``reader.read`` yields for ``parts``."""
    return [
        row
        for p in parts
        for batch in reader.read(p)
        for row in zip(*(c.to_pylist() for c in batch.columns))
    ]


@pytest.mark.parametrize("n", [1, 3, 7, 32])
def test_stream_batches_deliver_every_line_once(tmp_path, hfp_feed, n):
    """Batches cut the file at line ends, mid-line and inside a
    multibyte character; each splits into at most ``n`` byte ranges
    that tile it.  Reading every range of every batch in order gives
    each line exactly once, in file order."""
    lines, rows = hfp_feed(600)
    path = _write(tmp_path / "feed.txt", lines)
    data = (tmp_path / "feed.txt").read_bytes()
    reader = HfpTextStreamReader({"path": path, "numPartitions": str(n)})
    assert reader.initialOffset() == {"pos": 0}
    assert reader.latestOffset() == {"pos": len(data)}
    line_end = data.index(b"\n", len(data) // 2) + 1
    mid_char = data.index("ä".encode()) + 1
    cuts = sorted(
        {0, len(data), line_end, mid_char, *random.Random(n).sample(range(1, len(data)), 4)}
    )
    got = []
    for lo, hi in zip(cuts, cuts[1:]):
        parts = reader.partitions({"pos": lo}, {"pos": hi})
        assert 1 <= len(parts) <= n
        assert parts[0].start == lo and parts[-1].end == hi
        assert all(a.end == b.start for a, b in zip(parts, parts[1:]))
        got += _read(reader, parts)
    assert got == rows


@pytest.mark.parametrize("block", [1, 5, 1 << 20])
def test_block_reads_match_line_by_line_parse(tmp_path, monkeypatch, block):
    """The reader decodes and splits whole-line blocks; on random
    adversarial bytes (invalid UTF-8, lone '\\r', braces, blank lines,
    no final newline) every split count and block size gives the rows
    of a plain line-by-line parse."""
    from transitdata_hfp_deduplicator_spark.sources import hfp_datasource

    monkeypatch.setattr(hfp_datasource, "_BLOCK", block)
    alphabet = [b"a", b" ", b"{", b"}", b"\n", b"\r", "ä".encode(), b"\xc3", b"\xff", b"\t"]
    rng = random.Random(block)
    path = tmp_path / "adversarial.txt"
    for _ in range(200):
        data = b"".join(rng.choice(alphabet) for _ in range(rng.randrange(60)))
        path.write_bytes(data)
        lines = (raw.decode("utf-8", errors="replace").rstrip("\r\n") for raw in data.split(b"\n"))
        want = [parse_hfp_line(line) for line in lines if line]
        n = rng.choice([1, 3, 7, 32])
        reader = hfp_datasource.HfpTextReader({"path": str(path), "numPartitions": str(n)})
        assert _read(reader, reader.partitions()) == want, data


def test_available_now_stream_equals_batch_read(spark, tmp_path, hfp_feed):
    """``trigger(availableNow=True)`` reads every byte present at start,
    in one micro-batch: the same rows as ``spark.read``."""
    lines, rows = hfp_feed(1500, seed=3)
    path = _write(tmp_path / "feed.txt", lines)
    q = (
        _stream(spark, path)
        .writeStream.format("memory")
        .queryName("hfp_available_now")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1 and batches[0]["numInputRows"] == len(rows)
    batch = _rows(spark.read.format("hfp_text").option("path", path).load())
    assert _rows(spark.table("hfp_available_now")) == batch == sorted(rows)


def test_stream_follows_appends(spark, tmp_path, hfp_feed):
    """A running query picks up lines appended to the file, as the
    app's ``--follow`` mode does: every line arrives exactly once."""
    lines, rows = hfp_feed(1200, seed=4)
    feed = _write(tmp_path / "feed.txt", lines[: len(lines) // 2])
    out = str(tmp_path / "out")
    q = (
        _stream(spark, feed)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def _count() -> int:
        try:
            return spark.read.parquet(out).count()
        except Exception:  # noqa: BLE001 - sink dir not written yet
            return 0

    try:
        deadline = time.time() + 90
        while q.lastProgress is None and time.time() < deadline:
            time.sleep(0.2)
        _write(feed, lines[len(lines) // 2 :])
        while _count() < len(rows) and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert _rows(spark.read.parquet(out)) == sorted(rows)


def test_restart_from_checkpoint_loses_and_repeats_nothing(spark, tmp_path, hfp_feed):
    """Stop and restart the query from its checkpoint between appends,
    and once as if it crashed after logging a batch's offsets but before
    committing it.  The restart replays that batch over its logged byte
    range, not the grown file (availableNow runs as a single batch for
    a Python source, so the replay is the whole restart); the next run
    reads the rest.  The output holds every line exactly once."""
    lines, rows = hfp_feed(1200, seed=5)
    feed, out, ck = (str(tmp_path / d) for d in ("feed.txt", "out", "ck"))
    chunks = [lines[len(lines) * i // 4 : len(lines) * (i + 1) // 4] for i in range(4)]

    def drain() -> None:
        q = (
            _stream(spark, feed)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for chunk in chunks[:3]:
        _write(feed, chunk)
        drain()
    # undo batch 2's commit in the checkpoint and in the sink's log
    for log in (os.path.join(ck, "commits"), os.path.join(out, "_spark_metadata")):
        for name in ("2", ".2.crc"):
            os.remove(os.path.join(log, name))
    _write(feed, chunks[3])
    drain()
    first_three = sum(1 for ln in chunks[0] + chunks[1] + chunks[2] if ln.strip())
    assert _rows(spark.read.parquet(out)) == sorted(rows[:first_three])
    drain()
    assert sorted(n for n in os.listdir(os.path.join(ck, "commits")) if n.isdigit()) == list("0123")
    assert _rows(spark.read.parquet(out)) == sorted(rows)
