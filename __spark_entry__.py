"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction over pages synthesized from
                 /root/testdata/sf0.001/documents.parquet
queries()      — the five extraction entries, in registry order
oracle_sql()   — the DuckDB twin of extract_golden_diff (reads the
                 committed golden parquet); the other four extraction
                 entries are rows-only by design.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocrd_calamari_spark.entry_queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over sf0.001-derived pages."""
    return QUERIES["extract_pages"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
