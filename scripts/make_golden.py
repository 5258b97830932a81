"""Produce the committed golden parquet (tests/golden/pages_golden.parquet)
from the frozen single-process oracle — FIXTURES.md table 2.

Never regenerated silently: tests/test_golden_pin.py compares the live
kernel against this file; a semantic change to the kernel must consciously
re-run this script and commit the diff (the byte-identity ledger).  The
file's schema metadata holds ``config.KERNEL_SEMANTICS`` under
``kernel_semantics``, and the pin test checks it against the constant, so
a regeneration goes with a bump of the id.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from ocrd_calamari_spark.config import KERNEL_SEMANTICS, ExtractConfig
from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel.extract import extract_batch

GOLDEN_N = 400
GOLDEN_SEED = 42
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "golden", "pages_golden.parquet")


def main():
    pages = gen_pages(GOLDEN_N, seed=GOLDEN_SEED)
    out = extract_batch(pages, ExtractConfig(textequiv_level="word"))
    out["case"] = pages["case"].values
    keep = out[["url", "text", "conf", "n_blocks", "blocks", "words",
                "overwrote", "raw_charset", "error", "case"]]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    table = pa.Table.from_pandas(keep, preserve_index=False)
    table = table.replace_schema_metadata({
        **table.schema.metadata,
        b"kernel_semantics": str(KERNEL_SEMANTICS).encode(),
    })
    pq.write_table(table, OUT)
    print(f"wrote {len(keep)} golden rows → {OUT}")


if __name__ == "__main__":
    main()
