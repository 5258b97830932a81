"""Generate PLANS.md: formatted physical plans for the load-bearing queries,
annotated with what each plan must exhibit (pushdown, pruning, broadcast,
partial agg, no spurious exchanges).  tests/test_plans.py asserts the same
properties; this artifact makes them reviewable without running Spark.

    python scripts/show_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — physical-plan evidence (generated by scripts/show_plans.py)

Each section shows the `explain("formatted")` (or simple) output for a
load-bearing query and calls out the property that matters at 100 TB.
The same properties are asserted by `tests/test_plans.py`.
"""


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    from ocrd_calamari_spark.config import ExtractConfig
    from ocrd_calamari_spark.entry_queries import (
        QUERIES, pages_from_documents,
    )
    from ocrd_calamari_spark.pipeline import extract_df

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    pages = pages_from_documents(spark, sf)
    ext_url = extract_df(pages, ExtractConfig(), with_lineage=False)
    sections.append((
        "Extraction (url-hash repartition when the scan has few splits)",
        "Exactly ONE Exchange, hashpartitioning(url, cores): one wave of "
        "Python tasks, and the url hash spreads a Zipf-skewed host over "
        "every task.  A scan with at least one split per core runs map-only "
        "instead, so at 100 TB no payload is re-written to shuffle storage.",
        plan_of(ext_url, "simple"),
    ))

    q = QUERIES["pack_sequences"](spark, sf)
    sections.append((
        "pack_sequences (distributed prefix sum)",
        "The big-side running offset is a window PARTITIONED by the range "
        "bucket (windowspecdefinition(_bkt...)); the only unpartitioned "
        "window runs over the n_buckets-row subtotal table, which then "
        "broadcasts back (BroadcastHashJoin).  A naive global-order window "
        "would funnel the full table through one task.",
        plan_of(q, "simple"),
    ))

    q = QUERIES["decontaminate"](spark, sf)
    sections.append((
        "decontaminate (benchmark leak scan)",
        "The eval-set gram table broadcasts (eval suites are tiny against "
        "a 100 TB corpus); the corpus side explodes to (id, gram) and only "
        "MATCHING grams reach the aggregation — corpus text never enters "
        "a shuffle.",
        plan_of(q, "simple"),
    ))

    q = QUERIES["boilerplate_lines"](spark, sf)
    sections.append((
        "boilerplate_lines (per-domain line-df removal)",
        "The line-df pass ships (domain, md5 hash, doc) triples with "
        "map-side partial aggregation; the per-domain doc-count side "
        "broadcasts; full text crosses the wire exactly twice (df join + "
        "per-doc reassembly) — the CCNet lower bound for a rewrite.",
        plan_of(q, "simple"),
    ))

    q = QUERIES["quality_funnel"](spark, sf)
    sections.append((
        "quality_funnel (one-scan cascade accounting)",
        "ONE FileScan and ONE Exchange: every quality signal is computed "
        "in a single projection, the first-failing CASE cascade assigns "
        "the stage, and the 5-row agg is partial (map-side combine) "
        "before the lone data shuffle (the rangepartitioning above it "
        "orders the 5 result rows for display).  No Python evaluator.  "
        "A per-stage-filter formulation would scan the corpus once per "
        "stage.",
        plan_of(q, "simple"),
    ))

    q = QUERIES["paragraph_dedup"](spark, sf)
    sections.append((
        "paragraph_dedup (map-side first-occurrence collapse)",
        "The rn==1 rank over md5(para) partitions plans as a PARTIAL "
        "WindowGroupLimit BELOW the hash exchange — duplicate "
        "paragraphs collapse map-side before any text crosses the "
        "wire, then the Final group-limit finishes per partition.  "
        "Text shuffles exactly twice (rank + per-doc reassembly), the "
        "CCNet lower bound for a rewrite.  No Python.",
        plan_of(q, "simple"),
    ))

    out = [HEADER]
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
