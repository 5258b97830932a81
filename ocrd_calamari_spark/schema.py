"""Fixed, declared schemas (no inference anywhere).

Input per BASELINE.json ``input_hint`` (authoritative); output mirrors the
reference's PAGE-XML hierarchy TextRegion→TextLine→Word→Glyph
(SURVEY.md §1.2) as nested arrays with explicit positions — Spark gives no
implicit order, so every span carries offsets.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages table (Iceberg in prod, parquet in tests).
# ---------------------------------------------------------------------------
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),  # pre-existing text (overwrite fixture)
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: extracted text + character-offset spans, one row per url.
#   blocks ≈ TextLine + line TextEquiv  (reference recognize.py:300-302)
#   words  ≈ WordType                   (reference recognize.py:348-352)
#   glyphs ≈ GlyphType + ranked alts    (reference recognize.py:373-393)
# ---------------------------------------------------------------------------
BLOCK_TYPE = StructType(
    [
        StructField("block_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("conf", DoubleType(), False),
    ]
)

WORD_TYPE = StructType(
    [
        StructField("block_id", StringType(), False),
        StructField("word_id", StringType(), False),  # "%s_word%04d" ≈ recognize.py:349
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("text", StringType(), False),
    ]
)

ALT_TYPE = StructType(  # ranked TextEquiv alternatives, index from 1 (recognize.py:379-391)
    [
        StructField("text", StringType(), False),
        StructField("conf", DoubleType(), False),
        StructField("index", IntegerType(), False),
    ]
)

GLYPH_TYPE = StructType(
    [
        StructField("glyph_id", StringType(), False),  # "%s_glyph%04d" ≈ recognize.py:374
        StructField("block_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("alts", ArrayType(ALT_TYPE), False),
    ]
)

LINEAGE_TYPE = StructType(  # per-partition lineage (north_star:
    [                       # snapshot-id, file, row-range)
        StructField("snapshot_id", LongType(), True),
        StructField("file", StringType(), True),
        StructField("row_index", LongType(), True),  # position within file;
        # the manifest aggregates these into per-file (row_lo, row_hi)
        StructField("part_id", IntegerType(), True),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("text", StringType(), True),  # null ⇔ error row
        StructField("conf", DoubleType(), True),
        StructField("n_blocks", IntegerType(), True),
        StructField("blocks", ArrayType(BLOCK_TYPE), True),
        StructField("words", ArrayType(WORD_TYPE), True),
        StructField("glyphs", ArrayType(GLYPH_TYPE), True),
        StructField("overwrote", BooleanType(), True),  # ≈ "already contained text results"
        StructField("raw_charset", BooleanType(), True),  # ≈ "Using raw image" warning
        StructField("error", StringType(), True),  # ≈ tf.data ignore_errors row
        StructField("lineage", LINEAGE_TYPE, True),
    ]
)

# UDF-internal variant: lineage rides as three FLAT columns (the input
# batch's Arrow arrays pass through the Python worker uncopied) and the
# lineage struct is assembled JVM-side by a Project after mapInArrow.
FLAT_OUTPUT_SCHEMA = StructType(
    [f for f in OUTPUT_SCHEMA.fields if f.name != "lineage"]
    + [
        StructField("_src_file", StringType(), True),
        StructField("_src_row", LongType(), True),
        StructField("_part_id", IntegerType(), True),
    ]
)

# Column subset the extraction kernel actually needs — selected explicitly
# before mapInArrow so Catalyst prunes the parquet/Iceberg scan to these.
KERNEL_INPUT_COLS = ["url", "html", "text", "lang"]
