"""Production job entry point — ``spark-submit --py-files engine.zip job.py``
(BASELINE.json north_star deployment shape).

    spark-submit --py-files ocrd_calamari_spark.zip \
        ocrd_calamari_spark/job.py \
        --source iceberg:crawl.db.pages --snapshot-id 123456 \
        --out s3://bucket/extracted --buckets 4096 --chunks 64 \
        --since 2024-06-01 --until 2024-07-01 \
        --level block --voter confidence_voter_default_ctc

At 10^12-row scale the knobs that matter:
  --buckets   work-unit granularity for checkpoint/resume (xxhash64(url)
              buckets, or xxhash64(file path) for a warc: source; each
              chunk of buckets commits to the manifest)
  --chunks    manifest commit frequency — smaller chunks = finer resume
  --since/--until  partition pruning on days(warc_ts) — reaches the
              Iceberg scan, prunes snapshots/files before any compute

The extraction stage sizes itself (``pipeline.extract_df``): a chunk
pruned to whole files (``--bucket-col``) runs on its own scan splits when
there is at least one per core, else on one task per core; a chunk whose
rows are filtered (computed buckets) is sized by AQE from the bytes that
survive.  AQE coalesces down from ``spark.sql.shuffle.partitions``, so to
allow more, smaller tasks per chunk raise that setting or
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``:

    spark-submit --conf spark.sql.adaptive.coalescePartitions.initialPartitionNum=4096 ...
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="main-content extraction job")
    p.add_argument("--source", required=True,
                   help="iceberg:<catalog.db.table>, warc:<path glob>, "
                        "or a parquet path")
    p.add_argument("--bucket-col", default=None,
                   help="physical bucket column (Iceberg bucket(N,url) "
                        "value / partitionBy dir) — makes resume chunks "
                        "PRUNE the scan instead of re-reading the table "
                        "per chunk; --buckets must equal its cardinality")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="pin an Iceberg snapshot (lineage + reproducibility)")
    p.add_argument("--since", default=None,
                   help="warc_ts lower bound (not for warc: sources)")
    p.add_argument("--until", default=None,
                   help="warc_ts upper bound (not for warc: sources)")
    p.add_argument("--buckets", type=int, default=4096,
                   help="resume work units: xxhash64(url) buckets; a "
                        "warc: source buckets whole archives by file path")
    p.add_argument("--chunks", type=int, default=64)
    p.add_argument("--level", default="block",
                   choices=["block", "word", "glyph"])
    p.add_argument("--voter", default="confidence_voter_default_ctc")
    p.add_argument("--glyph-conf-cutoff", type=float, default=0.001)
    p.add_argument("--compact", action="store_true",
                   help="after a COMPLETE run, rewrite each chunk dir to "
                        "one file (small-files remediation; crash-safe "
                        "atomic swap)")
    p.add_argument("--validate", action="store_true",
                   help="after the run (and compaction, if any), audit "
                        "on-disk rows against the manifest; non-zero exit "
                        "on mismatch")
    args = p.parse_args(argv)
    if args.buckets < 1:
        # --buckets 0 would run zero work units yet report complete:true
        # and exit 0 — a scheduler would mark the no-op job succeeded
        p.error("--buckets must be >= 1")
    if args.chunks < 1:
        p.error("--chunks must be >= 1")
    if args.source.startswith("warc:") and (args.since is not None
                                            or args.until is not None):
        # read_pages would raise only after the session is up
        p.error("--since/--until prune on warc_ts; a warc: source is "
                "read as whole archives and has none")
    from ocrd_calamari_spark.config import ExtractConfig

    try:
        # validated here, not after the session is up: a bad value must
        # not start a JVM only to die with a traceback
        args.config = ExtractConfig(
            voter=args.voter,
            textequiv_level=args.level,
            glyph_conf_cutoff=args.glyph_conf_cutoff,
        )
    except ValueError as e:
        p.error(str(e))
    return args


def main(argv=None):
    args = parse_args(sys.argv[1:] if argv is None else argv)
    from pyspark.sql import SparkSession

    from ocrd_calamari_spark.pipeline import (
        compact_output, run_extraction, validate_output,
    )

    spark = (
        SparkSession.builder.appName("ocrd-calamari-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # html payloads are KB-MB sized: keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .getOrCreate()
    )
    metrics = run_extraction(
        spark,
        args.source,
        args.out,
        args.config,
        n_buckets=args.buckets,
        n_chunks=args.chunks,
        snapshot_id=args.snapshot_id,
        since=args.since,
        until=args.until,
        bucket_col=args.bucket_col,
    )
    if args.compact and metrics["complete"]:
        metrics["compaction"] = compact_output(spark, args.out)
    audit_ok = True
    if args.validate:
        metrics["validation"] = validate_output(spark, args.out)
        audit_ok = metrics["validation"]["ok"]
    print(json.dumps(metrics))
    spark.stop()
    if not metrics["complete"]:
        return 3
    return 0 if audit_ok else 4


if __name__ == "__main__":
    sys.exit(main())
