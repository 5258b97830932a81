"""Multi-JVM smoke (build plan §7.1.7): run the golden e2e plus one
shuffle-heavy and one broadcast query on ``local-cluster[2,4,2048]`` —
two SEPARATE executor JVMs, so cross-JVM Arrow batches, shuffle-file
transport, and broadcast distribution are actually exercised (all of
which ``local[N]`` short-circuits in-process).  The cheapest available
step toward real-cluster confidence in a sandbox with no cluster.

Checks (all hard asserts):
1. extraction byte-identity: Spark output text/conf per url ==
   the committed golden parquet (the frozen single-process kernel
   oracle) — mapInArrow over executors in separate JVMs;
2. minhash_dedup at sf0.01 == its DuckDB oracle (banded-LSH self-join:
   cross-JVM shuffle files);
3. decontaminate at sf0.01 == its DuckDB oracle (gram-set broadcast:
   cross-JVM broadcast transport).

Usage: python scripts/local_cluster_smoke.py   (~2-3 min)
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
import pyspark  # noqa: E402

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

from pyspark.sql import SparkSession  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
GOLDEN = os.path.join(REPO, "tests", "golden", "pages_golden.parquet")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype).startswith(("int", "uint")) \
                and str(df[c].dtype) != "int64":
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    from ocrd_calamari_spark.config import ExtractConfig
    from ocrd_calamari_spark.entry_queries import ORACLES, QUERIES
    from ocrd_calamari_spark.gen import gen_pages, write_pages_parquet
    from ocrd_calamari_spark.pipeline import extract_df, read_pages

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
    # asserting (defaultParallelism grows as cores arrive)
    import time
    for _ in range(60):
        if spark.sparkContext.defaultParallelism >= 8:
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
    out = (
        extract_df(read_pages(spark, src),
                   ExtractConfig(textequiv_level="word"))
        .select("url", "text", "conf", "error")
        .toPandas().set_index("url")
    )
    golden = pd.read_parquet(GOLDEN).set_index("url")
    joined = golden.join(out, lsuffix="_o", rsuffix="_s")
    assert len(joined) == 400
    ok = joined["error_o"].isna()
    bad = joined[ok & (joined["text_o"] != joined["text_s"])]
    assert len(bad) == 0, f"text mismatch on {bad.index.tolist()[:5]}"
    assert (joined.loc[ok, "conf_o"] == joined.loc[ok, "conf_s"]).all()
    assert (joined["error_o"].isna() == joined["error_s"].isna()).all()
    print("[OK]   golden e2e: 400 urls byte-identical across 2 executor "
          "JVMs (cross-JVM Arrow)")

    # --- 2+3. shuffle-heavy + broadcast queries vs DuckDB oracle ---
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    for name, why in (("minhash_dedup", "cross-JVM shuffle files"),
                      ("decontaminate", "cross-JVM broadcast transport")):
        got = normalize(QUERIES[name](spark, SF).toPandas())
        want = normalize(con.execute(ORACLES[name]).df())
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want), (name, len(got), len(want))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        print(f"[OK]   {name}: {len(got)} rows match oracle ({why})")

    spark.stop()
    print("multi-JVM smoke: all checks pass")


if __name__ == "__main__":
    main()
