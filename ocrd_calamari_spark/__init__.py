"""ocrd_calamari_spark — PySpark-native main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of OCR-D/ocrd_calamari
(reference at /root/reference, v2.1.0), recast per BASELINE.json north_rule as
main-content extraction over Common-Crawl-style web-page tables:

    region → line → word → glyph  OCR recognition      (reference)
    page   → block → word → glyph content extraction   (this engine)

The reference's hand-rolled concurrency layer (mp.Queue/Event/Lock,
ocrd_calamari/recognize.py:400-703) is deleted, not ported: Spark executors +
Arrow batch transport replace all of it.  The extraction kernel itself
(kernel/) is pure pandas/numpy/pyarrow and runs inside ``DataFrame.mapInArrow``.
"""

__version__ = "0.1.0"

from ocrd_calamari_spark.config import ExtractConfig  # noqa: F401
