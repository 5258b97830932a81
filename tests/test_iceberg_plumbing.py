"""Iceberg reader/lineage plumbing coverage.

No Iceberg jars in this sandbox (environment constraint), so the
``iceberg:`` source cannot be driven end-to-end here; these tests stub the
DataFrameReader to exercise both branches of read_pages (snapshot pinning,
table-name parsing) and prove the Iceberg lineage column selection
(``_file``/``_pos`` — Iceberg DSv2 does NOT expose the file-source
``_metadata`` struct) flows through extract_df.
"""

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import extract_df, read_pages


@pytest.fixture()
def fake_read(spark, pages_parquet, monkeypatch):
    """Stub spark.read with a recorder whose load() returns a real pages
    DataFrame (so downstream where()/select() still work)."""
    real_df = spark.read.parquet(pages_parquet)
    calls = {}

    class FakeReader:
        def format(self, fmt):
            calls["format"] = fmt
            return self

        def option(self, k, v):
            calls.setdefault("options", {})[k] = v
            return self

        def load(self, path):
            calls["path"] = path
            return real_df

        def parquet(self, path):
            calls["parquet"] = path
            return real_df

    monkeypatch.setattr(type(spark), "read",
                        property(lambda self: FakeReader()))
    return calls


class TestIcebergReaderPlumbing:
    def test_snapshot_pinned_load(self, spark, fake_read):
        df = read_pages(spark, "iceberg:crawl.db.pages", snapshot_id=12345,
                        since="2024-06-05 00:00:00")
        assert fake_read["format"] == "iceberg"
        assert fake_read["options"] == {"snapshot-id": "12345"}
        assert fake_read["path"] == "crawl.db.pages"
        # the time predicate applies on top of the loaded table: a strict
        # subset of the 300-row fixture survives
        assert 0 < df.count() < 300
        assert "url" in df.columns

    def test_unpinned_load_sets_no_option(self, spark, fake_read):
        read_pages(spark, "iceberg:crawl.db.pages")
        assert fake_read["format"] == "iceberg"
        assert "options" not in fake_read

    def test_parquet_source_bypasses_format(self, spark, fake_read):
        read_pages(spark, "/some/dir")
        assert fake_read["parquet"] == "/some/dir"
        assert "format" not in fake_read


class TestIcebergLineageColumns:
    def test_file_pos_lineage_flows_to_output(self, spark, pages_parquet):
        """extract_df(lineage_cols=('_file','_pos')) — the pair
        run_extraction selects for iceberg: sources.  Simulated with
        explicit columns (real Iceberg scans expose them as metadata)."""
        pages = (
            spark.read.parquet(pages_parquet)
            .withColumn("_file", F.concat(F.lit("s3://t/data/f-"),
                                          (F.xxhash64("url") % 4).cast("string")))
            .withColumn("_pos", F.monotonically_increasing_id())
        )
        out = extract_df(pages, ExtractConfig(), snapshot_id=777,
                         lineage_cols=("_file", "_pos"))
        rows = out.select("url", "lineage").limit(50).collect()
        assert rows
        for r in rows:
            assert r["lineage"]["snapshot_id"] == 777
            assert r["lineage"]["file"].startswith("s3://t/data/f-")
            assert r["lineage"]["row_index"] is not None
