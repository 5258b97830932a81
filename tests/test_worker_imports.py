"""Import boundaries, each checked in a fresh interpreter (this test
process has everything loaded already).

The code that runs inside a Python worker's map, the kernel and the WARC
record splitter, imports no Spark: it needs only pandas, numpy and
pyarrow, and the single-process oracle runs it without a JVM.  The
extraction engine (``pipeline`` and the ``job`` CLI) imports neither the
driver's query registry (``entry_queries``) nor the text analytics
(``functions``), so changing either cannot change what the engine runs."""

import os
import subprocess
import sys

WORKER_MODULES = (
    "ocrd_calamari_spark.kernel",
    "ocrd_calamari_spark.kernel.columnar",
    "ocrd_calamari_spark.kernel.native",
    "ocrd_calamari_spark.sources.warc",
)

ENGINE_MODULES = (
    "ocrd_calamari_spark.pipeline",
    "ocrd_calamari_spark.job",
)

SCRIPT = r"""
import importlib, sys
roots, names = sys.argv[1].split(","), sys.argv[2:]
for name in names:
    importlib.import_module(name)
print(sorted(m for m in sys.modules
             if any(m == r or m.startswith(r + ".") for r in roots)))
"""


def _loaded(modules, roots) -> str:
    """Modules under ``roots`` that importing ``modules`` loads."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, ",".join(roots), *modules],
        check=True, capture_output=True, text=True, timeout=120, cwd=repo)
    return out.stdout.strip()


def test_kernel_and_splitter_load_no_pyspark():
    assert _loaded(WORKER_MODULES, ["pyspark"]) == "[]"


def test_engine_loads_no_analytics():
    assert _loaded(ENGINE_MODULES, [
        "ocrd_calamari_spark.entry_queries",
        "ocrd_calamari_spark.functions",
    ]) == "[]"
