"""Structured Streaming: extraction kernel under readStream with
exactly-once checkpointing."""

import pytest

from ocrd_calamari_spark.gen import write_pages_parquet
from ocrd_calamari_spark.streaming import start_extraction_stream


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, pages_pdf):
    root = tmp_path_factory.mktemp("stream")
    in_dir = root / "in"
    in_dir.mkdir()
    # two file drops ≈ two crawl deltas
    write_pages_parquet(pages_pdf.iloc[:150], str(in_dir / "drop1.parquet"))
    write_pages_parquet(pages_pdf.iloc[150:], str(in_dir / "drop2.parquet"))
    return {
        "in": str(in_dir),
        "out": str(root / "out"),
        "ckpt": str(root / "ckpt"),
    }


class TestStreamingExtraction:
    def test_available_now_processes_backlog(self, spark, stream_dirs, pages_pdf):
        q = start_extraction_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"]
        )
        q.awaitTermination(120)
        out = spark.read.parquet(stream_dirs["out"])
        assert out.count() == len(pages_pdf)
        assert out.select("url").distinct().count() == len(pages_pdf)

    def test_restart_is_exactly_once(self, spark, stream_dirs, pages_pdf):
        # second run with the same checkpoint: nothing new → no duplicates
        q = start_extraction_stream(
            spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"]
        )
        q.awaitTermination(120)
        out = spark.read.parquet(stream_dirs["out"])
        assert out.count() == len(pages_pdf)

    def test_streaming_matches_batch_kernel(self, spark, stream_dirs, pages_pdf):
        from ocrd_calamari_spark.config import ExtractConfig
        from ocrd_calamari_spark.kernel.extract import extract_batch

        oracle = extract_batch(pages_pdf, ExtractConfig()).set_index("url")
        got = (
            spark.read.parquet(stream_dirs["out"])
            .select("url", "text").toPandas().set_index("url")
        )
        joined = oracle.join(got, lsuffix="_o")
        ok = joined[joined["text_o"].notna()]
        assert (ok["text_o"] == ok["text"]).all()
