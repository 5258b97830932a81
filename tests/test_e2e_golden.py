"""End-to-end golden tests: Spark pipeline output must be byte-identical per
url to the frozen single-process oracle (the kernel run outside Spark) —
BASELINE.json north_rule correctness bar, mirroring the reference's
end-to-end fixture runs (test/test_recognize.py)."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.kernel.extract import extract_batch
from ocrd_calamari_spark.pipeline import extract_df, read_pages


@pytest.fixture(scope="module")
def oracle(pages_pdf):
    """Frozen oracle: kernel run single-process, outside Spark."""
    return extract_batch(pages_pdf, ExtractConfig()).set_index("url")


@pytest.fixture(scope="module")
def spark_result(spark, pages_parquet):
    df = read_pages(spark, pages_parquet)
    out = extract_df(df, ExtractConfig()).toPandas()
    return out.set_index("url")


class TestGolden:
    def test_row_count_preserved(self, spark_result, pages_pdf):
        assert len(spark_result) == len(pages_pdf)

    def test_byte_identical_text_per_url(self, spark_result, oracle):
        # THE correctness contract: byte-identical extracted text per url
        joined = oracle.join(spark_result, lsuffix="_o", rsuffix="_s")
        ok_mask = joined["error_o"].isna()
        mismatches = joined[ok_mask & (joined["text_o"] != joined["text_s"])]
        assert len(mismatches) == 0, mismatches.index.tolist()[:5]

    def test_conf_and_counts_match(self, spark_result, oracle):
        joined = oracle.join(spark_result, lsuffix="_o", rsuffix="_s")
        ok = joined[joined["error_o"].isna()]
        assert (ok["conf_o"] == ok["conf_s"]).all()
        assert (ok["n_blocks_o"] == ok["n_blocks_s"]).all()

    def test_error_rows_match(self, spark_result, oracle):
        joined = oracle.join(spark_result, lsuffix="_o", rsuffix="_s")
        assert (joined["error_o"].isna() == joined["error_s"].isna()).all()

    def test_counters_match_case_counts(self, spark_result, pages_pdf):
        cases = pages_pdf.set_index("url")["case"]
        joined = spark_result.join(cases)
        # failure count == poison count (≈ ignore_errors accounting)
        assert (joined["error"].notna()).sum() == (cases == "poison").sum()
        # overwrote == overwrite-case count (≈ "already contained text results")
        assert joined["overwrote"].sum() == (cases == "overwrite").sum()
        # raw_charset == raw_charset-case count (≈ "Using raw image")
        assert joined["raw_charset"].sum() == (cases == "raw_charset").sum()

    def test_unicode_marker_survives(self, spark_result, pages_pdf):
        # ≈ test_recognize.py:37,60 — long-s token must appear in output
        cases = pages_pdf.set_index("url")["case"]
        uni = spark_result.join(cases)
        uni = uni[uni["case"] == "unicode"]
        assert len(uni) > 0
        assert uni["text"].str.contains("verſchuldeten").all()

    def test_block_spans_slice_document_text(self, spark_result):
        for url, row in spark_result.iterrows():
            if row["error"] is not None or row["blocks"] is None:
                continue
            blocks = list(row["blocks"])
            assert "\n".join(b["text"] for b in blocks) == row["text"]
            for b in blocks:
                assert row["text"][b["start"]:b["end"]] == b["text"]

    def test_lineage_populated(self, spark_result):
        ln = spark_result["lineage"].iloc[0]
        assert ln["file"] is not None and ln["part_id"] is not None
        assert ln["row_index"] is not None


class TestConfigMatrix:
    """≈ the reference's ``/`pageparallel`/... fixture matrix
    (test/conftest.py:11-13): results invariant to parallelism."""

    def test_partitioning_invariance(self, spark, spark_conf, pages_parquet,
                                     pages_pdf, tmp_path):
        """The same pages as 1 file (one split: a url repartition to one
        task per core) and as 17 files (17 splits: map-only, 17 tasks)."""
        from ocrd_calamari_spark.gen import write_pages_parquet

        for k in range(17):
            write_pages_parquet(pages_pdf.iloc[k::17],
                                str(tmp_path / f"part-{k:02d}.parquet"))
        # Spark packs small files into one split up to its open cost; at
        # the split size the open cost keeps every file a split of its own
        spark_conf({"spark.sql.files.openCostInBytes":
                    spark.conf.get("spark.sql.files.maxPartitionBytes")})
        outs = []
        for src in (pages_parquet, str(tmp_path)):
            df = read_pages(spark, src)
            res = extract_df(df, ExtractConfig())
            outs.append((df.rdd.getNumPartitions(),
                         res._jdf.queryExecution().executedPlan().toString(),
                         res.select("url", "text").toPandas()
                         .set_index("url").sort_index()))
        (splits1, plan1, out1), (splits17, plan17, out17) = outs
        assert splits1 == 1 and splits17 == 17
        assert re.search(r"hashpartitioning\(url#\d+, 4\)", plan1)
        assert "Exchange" not in plan17
        pd.testing.assert_frame_equal(out1, out17)

    def test_word_level_through_spark(self, spark, pages_parquet):
        df = read_pages(spark, pages_parquet).limit(40)
        out = extract_df(df, ExtractConfig(textequiv_level="word")).toPandas()
        any_words = False
        for _, row in out.iterrows():
            if row["error"] is not None or not row["words"]:
                continue
            any_words = True
            for w in row["words"]:
                assert row["text"][w["start"]:w["end"]] == w["text"]
        assert any_words


class TestGlyphLevelThroughSpark:
    def test_glyph_arrays_roundtrip_arrow(self, spark, pages_parquet):
        from ocrd_calamari_spark.config import ExtractConfig

        df = read_pages(spark, pages_parquet).limit(30)
        out = extract_df(df, ExtractConfig(textequiv_level="glyph")).toPandas()
        seen_alts = 0
        for _, row in out.iterrows():
            if row["error"] is not None or row["glyphs"] is None:
                continue
            for g in row["glyphs"]:
                alts = list(g["alts"])
                assert alts[0]["index"] == 1
                # ranked desc by conf, index contiguous from 1
                confs = [a["conf"] for a in alts]
                assert confs == sorted(confs, reverse=True)
                assert [a["index"] for a in alts] == list(range(1, len(alts) + 1))
                assert row["text"][g["start"]:g["end"]] == alts[0]["text"]
                seen_alts += len(alts)
        assert seen_alts >= 100  # ≈ test_recognize.py:139-140

    def test_glyph_spans_equal_oracle_per_url(self, spark, pages_parquet,
                                              pages_pdf):
        """Every span list of every url, exactly as the single-process
        oracle emits it — None for error rows, [] for empty lists."""
        cfg = ExtractConfig(textequiv_level="glyph")
        cols = ["error", "blocks", "words", "glyphs"]
        got = {
            r["url"]: r.asDict(recursive=True)
            for r in extract_df(read_pages(spark, pages_parquet), cfg)
            .select("url", *cols).collect()
        }
        want = extract_batch(pages_pdf, cfg)
        assert len(got) == len(want) == len(pages_pdf)
        n_errors = 0
        for rec in want.to_dict("records"):
            row = got[rec["url"]]
            assert (row["error"] is None) == (rec["error"] is None), rec["url"]
            n_errors += rec["error"] is not None
            for c in cols[1:]:
                assert row[c] == rec[c], (rec["url"], c)
        assert n_errors > 0


class TestSkewDistribution:
    @pytest.fixture(scope="class")
    def zipf_pages(self, tmp_path_factory):
        from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet

        pdf = gen_pages(1500, seed=5)
        path = str(tmp_path_factory.mktemp("zipf") / "pages.parquet")
        write_pages_parquet(pdf, path)
        return pdf, path

    def test_url_key_spreads_skewed_host(self, spark, zipf_pages):
        """host00 holds ~30% of rows (gen.py Zipf fixture).  The engine's
        url-keyed repartition (one scan split → one task per core at
        local[4]) leaves no task empty and none above 3x the mean, in rows
        and in html bytes, and spreads host00 over every task."""
        pdf, path = zipf_pages
        df = read_pages(spark, path)
        out = extract_df(df, ExtractConfig(), with_lineage=False)
        pid = (out.select("url", F.spark_partition_id().alias("pid"))
               .toPandas())
        n_parts = spark.sparkContext.defaultParallelism
        tasks = pdf.merge(pid, on="url", validate="one_to_one")
        assert len(tasks) == len(pdf)
        tasks["html_bytes"] = tasks["html"].map(len)
        per_task = tasks.groupby("pid").agg(
            rows=("url", "size"), html_bytes=("html_bytes", "sum"))
        assert sorted(per_task.index) == list(range(n_parts))
        for col in ("rows", "html_bytes"):
            assert per_task[col].max() <= 3 * per_task[col].mean(), col
        host = tasks["url"].str.extract(r"//([^/]+)/", expand=False)
        hot = host.value_counts().idxmax()
        assert hot == "host00.example"
        assert tasks.loc[host == hot, "pid"].nunique() == n_parts
        # repartitioning by host alone puts all of host00 in one task,
        # which then holds more rows than any url-keyed task
        by_host = (df.repartition(n_parts, F.parse_url(F.col("url"),
                                                       F.lit("HOST")))
                   .select("url", F.spark_partition_id().alias("pid"))
                   .toPandas())
        assert by_host.loc[by_host["url"].str.contains("//" + hot + "/"),
                           "pid"].nunique() == 1
        assert by_host["pid"].value_counts().max() > per_task["rows"].max()


class TestParallelismInvariance:
    """local[2] output == local[8] output, byte-identical per url — the
    reference's pageparallel-matrix invariance (test/conftest.py:11-13,
    27-29: same fixture outputs across its 4-way --pageparallel settings).
    Each parallelism level runs in its own subprocess because one JVM can
    host only one master.  The one-file source has fewer splits than
    cores, so the stage is repartitioned by url to one task per core:
    widths 2 and 8, which also shifts every Arrow batch boundary, so this
    pins batch-shape independence too."""

    SCRIPT = r"""
import sys
from pyspark.sql import SparkSession
from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import extract_df, read_pages

cores, src, out = int(sys.argv[1]), sys.argv[2], sys.argv[3]
spark = (SparkSession.builder.master(f"local[{cores}]")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(64 * cores))
         .config("spark.ui.enabled", "false").getOrCreate())
df = read_pages(spark, src)
res = extract_df(df, ExtractConfig(), with_lineage=False)
res.select("url", "text", "conf", "n_blocks", "error") \
   .write.mode("overwrite").parquet(out)
spark.stop()
"""

    def test_local2_equals_local8(self, pages_parquet, tmp_path_factory):
        import os
        import subprocess
        import sys

        import pandas as pd

        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        outs = {}
        for cores in (2, 8):
            out = str(tmp_path_factory.mktemp(f"par{cores}") / "out")
            subprocess.run(
                [sys.executable, "-c", self.SCRIPT, str(cores),
                 pages_parquet, out],
                check=True, env=env, capture_output=True, timeout=300,
            )
            pdf = pd.read_parquet(out).set_index("url").sort_index()
            outs[cores] = pdf
        a, b = outs[2], outs[8]
        assert len(a) == len(b) == 300
        assert (a.index == b.index).all()
        assert a["text"].equals(b["text"])        # byte-identical
        assert a["conf"].equals(b["conf"])
        assert a["n_blocks"].equals(b["n_blocks"])
        assert a["error"].isna().equals(b["error"].isna())
