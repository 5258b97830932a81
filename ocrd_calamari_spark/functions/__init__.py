"""Training-data analytics kept outside the extraction engine: document
text scoring and exact / normalized-text deduplication.

Nothing in the query registry or the extraction engine calls these;
``tests/test_worker_imports.py`` pins that the engine never imports them.
Everything stays JVM-side (pyspark.sql.functions / higher-order
functions) — no row-at-a-time Python.
"""
