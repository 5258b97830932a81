"""Driver-contract guard: __spark_entry__ loads, entry() runs at sf0.001,
the registry holds exactly the five extraction entries and the one golden
oracle, each entry runs and returns its columns, and the golden diff
equals its DuckDB oracle exactly."""

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"
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


def test_entry_smoke(spark, entrymod):
    df = entrymod.entry(spark)
    rows = df.limit(2000).collect()
    assert len(rows) > 0
    assert {"url", "text", "conf"} <= set(df.columns)


def test_every_query_is_registered_consistently(entrymod):
    assert set(entrymod.queries()) == set(EXTRACTION_COLS)
    assert set(entrymod.oracle_sql()) == {"extract_golden_diff"}


@pytest.mark.parametrize("name", list(EXTRACTION_COLS))
def test_extraction_query_runs_with_expected_columns(spark, entrymod, name):
    session = spark.conf.getAll
    df = entrymod.queries()[name](spark, SF)
    assert df.columns == EXTRACTION_COLS[name]
    rows = df.collect()
    assert spark.conf.getAll == session  # the caller's session is untouched
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
