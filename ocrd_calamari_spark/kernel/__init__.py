"""Pure pandas/numpy/pyarrow extraction kernel — no pyspark imports.

This package is the byte-identity surface (BASELINE.json north_rule): the
same per-page composition runs (a) single-process as the frozen oracle that
produces golden parquet (``extract.extract_batch``) and (b) inside
``DataFrame.mapInArrow`` on the cluster (``columnar.arrow_map_fn``, which
emits the same rows as Arrow columns).  Keeping it Spark-free makes the
oracle trivially independent of partitioning, batching and retries.
"""

from ocrd_calamari_spark.kernel.extract import extract_batch, extract_page  # noqa: F401
