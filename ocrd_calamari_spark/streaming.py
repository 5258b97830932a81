"""Structured Streaming ingestion for incremental crawls.

The reference is bounded batch (SURVEY.md §2.9 — no streaming operators
anywhere), but the 10^12-row production shape ingests crawl deltas
incrementally.  The same extraction kernel runs unchanged under
``readStream``: mapInArrow is streaming-compatible, and the checkpoint
location gives exactly-once file-source progress tracking (the streaming
twin of the batch manifest in pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import extraction_map_fn
from ocrd_calamari_spark.schema import (
    FLAT_OUTPUT_SCHEMA, KERNEL_INPUT_COLS, OUTPUT_SCHEMA, PAGES_SCHEMA,
)


def read_pages_stream(spark: SparkSession, in_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of pages parquet drops (schema fixed, no inference)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )


def extract_stream(pages: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Streaming extraction: the batch map function over streaming
    micro-batches.  No lineage columns go in, so they come back null and
    are dropped."""
    out_cols = [f.name for f in OUTPUT_SCHEMA.fields if f.name != "lineage"]
    return (
        pages.select(*KERNEL_INPUT_COLS)
        .mapInArrow(extraction_map_fn(cfg or ExtractConfig()),
                    FLAT_OUTPUT_SCHEMA)
        .select(*out_cols)
    )


def start_extraction_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the extraction pipeline as a stream.

    ``available_now=True`` processes the current backlog then stops —
    the incremental-batch deployment mode (run per crawl drop, exactly-once
    via checkpoint).  False = continuous micro-batches.
    """
    out = extract_stream(read_pages_stream(spark, in_dir), cfg)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

