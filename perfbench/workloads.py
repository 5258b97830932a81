"""The four workloads: seeded inputs, one closed-loop job, and the output
the oracle check reads.

Every input comes from ``ocrd_calamari_spark.gen.gen_pages`` (FIXTURES case
matrix, Zipf hosts with host00 ≈ 30 %, poison rows) and reaches the engine
only as files: one parquet file, or gzip WARC files for ``warc_ingest``.
The engine is driven through its public API.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ocrd_calamari_spark import pipeline
from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet
from ocrd_calamari_spark.sources.warc import write_warc


@dataclass(frozen=True)
class Spec:
    name: str
    docs: int
    big_page_every: int  # every k-th page is ~1 MB (0: none)
    level: str           # ExtractConfig.textequiv_level
    sample: int          # random rows checked against the oracle
    partitions: int      # spark.sql.shuffle.partitions: ~1000 block docs each


# Why each workload exists: perfbench/README.md.  warc_ingest carries no
# ~1 MB pages, so its time measures the WARC reader and the kernel rather
# than which task draws the big pages; extract_block and resume_job keep
# them as the skew case.  A glyph doc costs about 15 block docs.
SPECS = {s.name: s for s in (
    Spec("extract_block", 6000, 2000, "block", 400, 8),
    Spec("extract_glyph", 1500, 0, "glyph", 120, 8),
    Spec("resume_job", 6000, 2000, "block", 400, 8),
    Spec("warc_ingest", 16000, 0, "block", 400, 16),
)}

WARC_FILES = 16
N_BUCKETS = 8
N_CHUNKS = 2
STOP_AFTER_CHUNKS = 1
WARM_DOCS = 32


@dataclass
class Inputs:
    pages: pd.DataFrame  # the source's rows as the oracle sees them
    source: str          # the string handed to pipeline.read_pages
    source_path: str     # the file or directory behind ``source``
    source_bytes: int
    poison: int          # error rows the output must carry
    warm_source: str     # tiny parquet for the Python-worker warm job
    sample_urls: list[str]


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def make_inputs(spec: Spec, seed: int, docs: int, work: str) -> Inputs:
    pages = gen_pages(docs, seed=seed, big_page_every=spec.big_page_every)
    poison = int((pages["case"] == "poison").sum())
    if spec.name == "warc_ingest":
        path = os.path.join(work, "warc")
        os.makedirs(path)
        for k in range(WARC_FILES):
            write_warc(pages.iloc[k::WARC_FILES],
                       os.path.join(path, "part-%02d.warc.gz" % k), compress=True)
        source = "warc:" + path
        # a WARC response record carries no prior text and no language
        oracle_pages = pages.assign(text=None, lang=None)
    else:
        path = os.path.join(work, "pages.parquet")
        write_pages_parquet(pages, path)
        source = path
        oracle_pages = pages
    warm = os.path.join(work, "warm.parquet")
    write_pages_parquet(gen_pages(WARM_DOCS), warm)

    # every poison row and every big page, plus a seeded random sample
    special = pages["case"].isin(["poison", "skew_big"])
    rest = pages.loc[~special, "url"].tolist()
    picked = random.Random(seed).sample(rest, min(spec.sample, len(rest)))
    sample = sorted(pages.loc[special, "url"].tolist() + picked)
    return Inputs(oracle_pages, source, path, _size(path), poison, warm, sample)


def config(spec: Spec) -> ExtractConfig:
    return ExtractConfig(textequiv_level=spec.level)


def _extract(spark: SparkSession, source: str, cfg: ExtractConfig) -> DataFrame:
    lineage = (("_src_file", "_src_row") if source.startswith("warc:")
               else ("_metadata.file_path", "_metadata.row_index"))
    return pipeline.extract_df(pipeline.read_pages(spark, source), cfg,
                               lineage_cols=lineage)


def warm_job(spark: SparkSession, inputs: Inputs, cfg: ExtractConfig) -> None:
    """Starts the Python workers and imports the kernel in them."""
    _extract(spark, inputs.warm_source, cfg).write.format("noop").mode(
        "overwrite").save()


def _resume(spark: SparkSession, inputs: Inputs, cfg: ExtractConfig,
            out_dir: str) -> dict:
    """A killed-then-resumed extraction, then the integrity audit."""
    phases = {"chunks": 0, "extract_s": 0.0}
    for stop in (STOP_AFTER_CHUNKS, None):
        t0 = time.perf_counter()
        m = pipeline.run_extraction(spark, inputs.source, out_dir, cfg,
                                    n_buckets=N_BUCKETS, n_chunks=N_CHUNKS,
                                    stop_after_chunks=stop)
        phases["extract_s"] += time.perf_counter() - t0
        phases["chunks"] += m["chunks_this_run"]
    t0 = time.perf_counter()
    report = pipeline.validate_output(spark, out_dir)
    phases["validate_s"] = time.perf_counter() - t0
    if not (m["complete"] and report["ok"]):
        raise RuntimeError(f"resumed job incomplete or invalid: {m} {report}")
    return phases


def run_job(spec: Spec, spark: SparkSession, inputs: Inputs,
            cfg: ExtractConfig, out_dir: str) -> dict:
    """One closed-loop unit: input files → complete result.  Returns the
    phase timings the resume workload measures (empty elsewhere)."""
    if spec.name == "resume_job":
        return _resume(spark, inputs, cfg, out_dir)
    _extract(spark, inputs.source, cfg).write.format("noop").mode(
        "overwrite").save()
    return {}


def output(spec: Spec, spark: SparkSession, inputs: Inputs,
           cfg: ExtractConfig, out_dir: str) -> DataFrame:
    """The workload's result as a DataFrame, for the oracle check: the
    committed parquet for ``resume_job``, the extraction plan elsewhere."""
    if spec.name == "resume_job":
        _resume(spark, inputs, cfg, out_dir)
        return pipeline.read_output(spark, out_dir)
    return _extract(spark, inputs.source, cfg)


class CommitTimer:
    """Times ``pipeline.Manifest.commit`` while the ``with`` block runs."""

    def __init__(self):
        self.seconds: list[float] = []
        self._saved = None

    def __enter__(self) -> "CommitTimer":
        self._saved = original = pipeline.Manifest.commit
        seconds = self.seconds

        def commit(manifest, rec):
            t0 = time.perf_counter()
            try:
                return original(manifest, rec)
            finally:
                seconds.append(time.perf_counter() - t0)

        pipeline.Manifest.commit = commit
        return self

    def __exit__(self, *exc) -> None:
        pipeline.Manifest.commit = self._saved


def parquet_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(os.path.join(out_dir, "data"))
               for f in files if f.endswith(".parquet"))
