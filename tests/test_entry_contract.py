"""Driver-contract guard: __spark_entry__ loads, entry() runs at sf0.001,
every queries() entry is callable, the extraction entries run and return
their columns, and a fast subset of oracle pairs match DuckDB (the full
gate is scripts/check_oracles.py at sf0.01)."""

import ast
import pathlib

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"
SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
FAST_ORACLED = ["token_stats", "lang_id", "exact_dup_groups",
                "repetition_quality", "decontaminate", "domain_quota",
                "incremental_dedup", "snapshot_diff",
                "normalized_dedup", "mojibake_detect",
                "clean_pipeline", "lang_mix", "global_shuffle",
                "paragraph_dedup", "exact_sample"]
SCALAR_COLS = ["url", "text", "conf", "n_blocks", "error"]
EXTRACTION_COLS = {
    "extract_pages": SCALAR_COLS,
    "extract_word_spans": ["url", "word_id", "start", "end", "word_text",
                           "span_ok"],
    "extract_sequence_voter": SCALAR_COLS,
    "extract_glyph_spans": ["url", "glyph_id", "start", "end", "n_alts",
                            "top_text"],
    "extract_golden_diff": ["url", "text", "conf", "n_blocks", "overwrote",
                            "raw_charset", "error"],
}


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e
    return e


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark, entrymod):
    df = entrymod.entry(spark)
    rows = df.limit(2000).collect()
    assert len(rows) > 0
    assert {"url", "text", "conf"} <= set(df.columns)


def test_every_query_is_registered_consistently(entrymod):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)  # no orphan oracles
    assert len(oracles) >= 18


def _literal_registry_keys(tree):
    """String keys subscripted on `QUERIES[...]` or `queries()[...]`."""
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.Constant)
                and isinstance(node.slice.value, str)):
            continue
        v = node.value
        if isinstance(v, ast.Call):
            v = v.func
        name = v.attr if isinstance(v, ast.Attribute) else getattr(v, "id", None)
        if name in ("QUERIES", "queries"):
            yield node.slice.value, node.lineno


def test_scripts_name_only_registered_queries(entrymod):
    """A script that looks a query up by literal key fails with KeyError
    only when run; deleting a registry entry must also delete its uses."""
    registered = set(entrymod.queries())
    looked_up = [
        (f"{path.name}:{lineno}", key)
        for path in sorted(SCRIPTS.glob("*.py"))
        for key, lineno in _literal_registry_keys(ast.parse(path.read_text()))
    ]
    assert looked_up  # the scan sees scripts/show_plans.py's lookups
    assert [(where, k) for where, k in looked_up if k not in registered] == []


@pytest.mark.parametrize("name", FAST_ORACLED)
def test_oracle_parity_fast_subset(spark, entrymod, duck, name):
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    odf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(sdf) == len(odf)
    a, b = normalize(sdf), normalize(odf)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.mark.parametrize("name", list(EXTRACTION_COLS))
def test_extraction_query_runs_with_expected_columns(spark, entrymod, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.columns == EXTRACTION_COLS[name]
    rows = df.collect()
    assert len(rows) > 0
    if "span_ok" in df.columns:
        assert all(r["span_ok"] is not False for r in rows)


def test_golden_diff_matches_oracle_exactly(spark, entrymod):
    """The golden certificate compared unsorted and unnormalised: same
    columns, same row order, same values (the oracle reads the committed
    golden parquet)."""
    name = "extract_golden_diff"
    sdf = entrymod.queries()[name](spark, SF).toPandas()
    odf = duckdb.connect().execute(entrymod.oracle_sql()[name]).fetchdf()
    assert list(sdf.columns) == list(odf.columns)
    pd.testing.assert_frame_equal(sdf, odf, check_exact=True)
