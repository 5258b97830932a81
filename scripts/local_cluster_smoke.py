"""Multi-JVM smoke (build plan §7.1.7): run the extraction engine on
``local-cluster[2,4,2048]`` — two SEPARATE executor JVMs, so cross-JVM
Arrow batches and shuffle-file transport are actually exercised (both of
which ``local[N]`` short-circuits in-process).  The cheapest available
step toward real-cluster confidence in a sandbox with no cluster.

Checks (all hard asserts):
1. extraction byte-identity: Spark output text/conf per url ==
   the committed golden parquet (the frozen single-process kernel
   oracle) — a one-split parquet scan → url-hash repartition to one
   task per executor core (8; cross-JVM shuffle files) → mapInArrow
   over executors in separate JVMs;
2. the WARC path: ``gen_pages(400, seed=42)`` written as WARC files and
   run through ``extract_df(read_pages(spark, "warc:…"))`` — binaryFile →
   one mapInArrow that splits the records and extracts them, no shuffle —
   equals single-process ``extract_batch`` over the same records, split
   by ``records_to_batch`` (the splitter the engine's map runs), per url.

Usage: python scripts/local_cluster_smoke.py   (~2 min)
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyspark  # noqa: E402

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

from pyspark.sql import SparkSession  # noqa: E402

GOLDEN = os.path.join(REPO, "tests", "golden", "pages_golden.parquet")
WARC_FILES = 4
COMPARED = ("text", "conf", "n_blocks", "blocks", "words", "overwrote",
            "raw_charset", "error")


def _canon(v):
    """Spark rows and oracle dicts to one comparable shape (an empty span
    list may come back from Arrow as [] or None; pandas holds an error
    row's null conf / n_blocks as NaN)."""
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v] or None
    return v


def main() -> None:
    from ocrd_calamari_spark.config import ExtractConfig
    from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet
    from ocrd_calamari_spark.kernel.extract import extract_batch
    from ocrd_calamari_spark.pipeline import extract_df, read_pages
    from ocrd_calamari_spark.sources.warc import records_to_batch, write_warc

    spark = (
        SparkSession.builder.master("local-cluster[2,4,2048]")
        .appName("ocs-multijvm-smoke")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.memory", "2g")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package to the executor python workers exactly as the
    # production deployment does (spark-submit --py-files engine.zip):
    # unlike local[N], executor JVMs spawn their OWN workers that do not
    # inherit the driver's sys.path
    from package import build as build_zip
    spark.sparkContext.addPyFile(
        build_zip(os.path.join(REPO, "dist", "ocrd_calamari_spark.zip")))
    # executor JVMs register asynchronously — wait for both before
    # asserting (defaultParallelism grows as cores arrive; an executor's
    # block manager can register after its cores)
    import time
    for _ in range(60):
        if (spark.sparkContext.defaultParallelism >= 8
                and spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
                .size() >= 3):
            break
        time.sleep(1.0)
    execs = spark.sparkContext.defaultParallelism
    assert execs == 8, f"expected 2x4 executor cores, got {execs}"
    # driver + 2 executor block managers == 3 distinct JVMs
    n_bm = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    assert n_bm == 3, f"expected 3 block managers (driver+2), got {n_bm}"

    # --- 1. golden byte-identity across executor JVMs ---
    work = tempfile.mkdtemp(prefix="ocs_mjvm_")
    src = os.path.join(work, "pages.parquet")
    write_pages_parquet(gen_pages(400, seed=42), src)
    df = extract_df(read_pages(spark, src),
                    ExtractConfig(textequiv_level="word"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(url#\d+, 8\)", plan), \
        "expected one url-hash repartition to the 8 executor cores"
    out = df.select("url", "text", "conf", "error").toPandas().set_index("url")
    golden = pd.read_parquet(GOLDEN).set_index("url")
    joined = golden.join(out, lsuffix="_o", rsuffix="_s")
    assert len(joined) == 400
    ok = joined["error_o"].isna()
    bad = joined[ok & (joined["text_o"] != joined["text_s"])]
    assert len(bad) == 0, f"text mismatch on {bad.index.tolist()[:5]}"
    assert (joined.loc[ok, "conf_o"] == joined.loc[ok, "conf_s"]).all()
    assert (joined["error_o"].isna() == joined["error_s"].isna()).all()
    print("[OK]   golden e2e: 400 urls byte-identical across 2 executor "
          "JVMs (cross-JVM Arrow and shuffle)")

    # --- 2. WARC path: binaryFile → one map (split + extract) ---
    pages = gen_pages(400, seed=42)
    warc_dir = os.path.join(work, "warc")
    os.makedirs(warc_dir)
    records = []
    for k in range(WARC_FILES):
        path = os.path.join(warc_dir, "part-%02d.warc.gz" % k)
        write_warc(pages.iloc[k::WARC_FILES], path, compress=True)
        with open(path, "rb") as f:
            records.append(records_to_batch(path, f.read()).to_pandas())
    cfg = ExtractConfig(textequiv_level="word")
    df = extract_df(read_pages(spark, "warc:" + warc_dir), cfg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "the WARC plan must not shuffle"
    assert plan.count("MapInArrow") == 1, "expected one fused map"
    got = {r["url"]: r.asDict(recursive=True)
           for r in df.select("url", *COMPARED).collect()}
    oracle = extract_batch(pd.concat(records, ignore_index=True), cfg)
    assert len(got) == len(oracle) == 400, (len(got), len(oracle))
    bad = [rec["url"] for rec in oracle.to_dict("records")
           if rec["url"] not in got
           or any(_canon(got[rec["url"]][c]) != _canon(rec[c])
                  for c in COMPARED)]
    assert not bad, f"WARC path differs from extract_batch on {bad[:5]}"
    print(f"[OK]   warc path: 400 urls from {WARC_FILES} WARC files equal "
          "extract_batch through one fused map stage")

    spark.stop()
    print("multi-JVM smoke: all checks pass")


if __name__ == "__main__":
    main()
