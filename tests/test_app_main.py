"""The runnable application (`python -m transitdata_hfp_deduplicator_spark`)
— Main.java's operational surface: config-driven source → dedup →
forward → stats, end-to-end on the golden corpus."""

from __future__ import annotations


def test_app_drains_corpus_to_golden_uniques(spark, tmp_path, capsys):
    from transitdata_hfp_deduplicator_spark.__main__ import main

    out = str(tmp_path / "out")
    rc = main(
        [
            "--source",
            "/root/reference/src/integration-test/resources/hfp-5000.txt",
            "--out",
            out,
            "--checkpoint",
            str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 4956  # ITDeduplicatorTest.java:92-93
    # forwarded rows preserve the full envelope (server_ts/topic/payload)
    assert {"server_ts", "topic", "payload", "digest"} <= set(got.columns)
    printed = capsys.readouterr().out
    assert "[stats]" in printed and "[done]" in printed


def test_app_drain_forwards_every_unique_of_a_generated_backlog(spark, tmp_path, hfp_feed):
    """The default drain (no ``--follow``) of a backlog that spans all
    of the reader's byte ranges forwards exactly the planted unique
    (topic, payload) set, once each — no truncation at a batch size."""
    from transitdata_hfp_deduplicator_spark.__main__ import main

    lines, rows = hfp_feed(3000, seed=11)
    source = tmp_path / "backlog.txt"
    source.write_bytes(b"".join(lines))
    out = str(tmp_path / "out")
    rc = main(["--source", str(source), "--out", out, "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0
    got = [(r.topic, r.payload) for r in spark.read.parquet(out).collect()]
    assert len(got) == len(set(got))
    assert set(got) == {(topic, payload) for _, topic, payload in rows}
    assert len(got) < len(rows)  # the backlog did hold duplicates
