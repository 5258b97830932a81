"""CDXJ source: Common-Crawl / pywb capture-index shards.

The capture index is the PLANNING input of a crawl-corpus pipeline: you
prune it (by TLD, mime, HTTP status, digest) to decide which WARC byte
ranges are worth fetching BEFORE touching petabytes of payload — the
index is ~1/1000th the size of the archives it describes.  Reference
position: the workspace/file-group resolve step (SURVEY §2 S1/S2 — decide
what to process before loading payloads), lifted to crawl scale.

Line format (one capture per line)::

    org,example)/page 20240115123456 {"url": "...", "mime": "text/html",
        "status": "200", "digest": "sha1:...", "length": "2153",
        "offset": "845761", "filename": "crawl-.../file.warc.gz"}

i.e. a SURT url key, a 14-digit UTC timestamp, then a JSON blob whose
values are all STRINGS (the CDXJ convention) — numeric casts happen
here, typed.

Spark shape: the text source does the distributed line splitting (and
transparent .gz decompression — shard-granular parallelism);
the split/parse is JVM-only (``split(line, ' ', 3)`` + ``from_json``), no
Python.  Malformed lines (missing fields, bad JSON, bad timestamp) are
DATA, not task failures: raw line preserved in ``_corrupt``, the same
quarantine policy as the extraction kernel's error rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

CORRUPT_COL = "_corrupt"

# CDXJ JSON blob: every value is a string (spec); typed casts below.
_CDXJ_JSON_DDL = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)


def read_cdxj(
    spark: SparkSession, path: str, with_lineage: bool = True
) -> DataFrame:
    """Parse CDXJ shards → typed capture rows with quarantine.

    Output columns: ``urlkey`` (SURT), ``ts`` (timestamp), ``url``,
    ``mime``, ``status`` (int), ``digest``, ``warc_path``,
    ``warc_offset`` (long), ``warc_len`` (long), ``_corrupt`` (raw line
    when any stage failed, else null), ``_file`` lineage.

    A row quarantines when: the line has fewer than 3 space-separated
    parts, the JSON blob fails to parse or lacks a url, or the
    14-digit timestamp does not parse.  Casts of optional numerics
    (status/offset/length) yield null, NOT quarantine — real indexes
    carry '-' placeholders for revisit records.
    """
    # ANSI-mode safety (Spark 4 default, CLAUDE.md): out-of-bounds
    # element_at, unparseable timestamps, and '-' numeric placeholders
    # all THROW under ANSI — one malformed line must quarantine, not
    # kill a 10^12-row job, so every fallible step uses its try_/get
    # form (F.get is null-on-out-of-bounds; try_to_timestamp and
    # try_cast are null-on-failure).
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    j = F.from_json(F.get(parts, 2), _CDXJ_JSON_DDL)
    ts = F.try_to_timestamp(F.get(parts, 1), F.lit("yyyyMMddHHmmss"))
    parsed = lines.select(
        F.get(parts, 0).alias("urlkey"),
        ts.alias("ts"),
        j.alias("_j"),
        F.when(
            (F.size(parts) < 3)
            | F.col("value").isNull()
            | j.isNull()
            | j["url"].isNull()
            | ts.isNull(),
            F.col("value"),
        ).alias(CORRUPT_COL),
    )
    out = parsed.select(
        "urlkey",
        "ts",
        F.col("_j")["url"].alias("url"),
        F.col("_j")["mime"].alias("mime"),
        F.col("_j")["status"].try_cast("int").alias("status"),
        F.col("_j")["digest"].alias("digest"),
        F.col("_j")["filename"].alias("warc_path"),
        F.col("_j")["offset"].try_cast("long").alias("warc_offset"),
        F.col("_j")["length"].try_cast("long").alias("warc_len"),
        CORRUPT_COL,
    )
    if with_lineage:
        out = out.withColumn("_file", F.input_file_name())
    return out


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — clean rows lose the corrupt column.

    The parse is explicit expressions over a text scan, so no persist
    is forced; callers that consume both sides should cache the parsed
    frame themselves to parse once.
    """
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def plan_fetches(
    captures: DataFrame,
    statuses: tuple[int, ...] = (200,),
    mime_prefix: str = "text/",
) -> DataFrame:
    """The index-side fetch plan: latest 200-OK capture per url of the
    wanted mime family, one row per distinct digest — the dedup-before-
    download that makes a 100 TB crawl affordable (identical payloads
    share a digest; fetch one).

    Scale shape: filters are scan-level; the per-url latest pick and the
    per-digest representative are two window ranks over the INDEX (rows
    are ~100 B — this is why planning happens index-side); output is
    (url, warc_path, warc_offset, warc_len) fetch tasks, range-reads
    into the WARC source.
    """
    from pyspark.sql import Window

    wanted = captures.where(
        F.col("status").isin(*statuses)
        & F.col("mime").startswith(mime_prefix)
        & F.col("warc_path").isNotNull()
        & F.col("warc_offset").isNotNull()
    )
    latest = (
        wanted.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("urlkey").orderBy(
                    F.desc("ts"), F.desc("warc_offset")
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        latest.withColumn(
            "_rd",
            F.row_number().over(
                Window.partitionBy("digest").orderBy("urlkey", F.desc("ts"))
            ),
        )
        .where(F.col("_rd") == 1)
        .drop("_rd")
        .select("url", "urlkey", "ts", "digest",
                "warc_path", "warc_offset", "warc_len")
    )
