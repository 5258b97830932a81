"""The code that runs inside a Python worker's map, the kernel and the
WARC record splitter, imports no Spark: it needs only pandas, numpy and
pyarrow, and the single-process oracle runs it without a JVM."""

import os
import subprocess
import sys

WORKER_MODULES = (
    "ocrd_calamari_spark.kernel",
    "ocrd_calamari_spark.kernel.columnar",
    "ocrd_calamari_spark.kernel.native",
    "ocrd_calamari_spark.sources.warc",
)

SCRIPT = r"""
import importlib, sys
for name in sys.argv[1:]:
    importlib.import_module(name)
print(sorted(m for m in sys.modules if m.split(".")[0] == "pyspark"))
"""


def test_kernel_and_splitter_load_no_pyspark():
    # a fresh interpreter: this test process has pyspark loaded already
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", SCRIPT, *WORKER_MODULES],
                         check=True, capture_output=True, text=True,
                         timeout=120, cwd=repo)
    assert out.stdout.strip() == "[]"
