"""Training-data pipeline functions beyond the reference's own operators:
text analysis and deduplication.

Everything here stays JVM-side (pyspark.sql.functions / higher-order
functions) unless genuinely impossible — no row-at-a-time Python in hot
paths (BASELINE.json input_hint).
"""
