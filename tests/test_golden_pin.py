"""Regression pin: the live kernel must reproduce the COMMITTED golden
parquet byte-for-byte.  Because the e2e tests compare Spark against the
same kernel code (oracle == kernel), an accidental semantic change would be
invisible to them; this file is the independent ledger.  A deliberate
semantics change bumps ``config.KERNEL_SEMANTICS``, re-runs
scripts/make_golden.py and commits the diff: the pin's metadata holds the
id it was made under, so a regeneration without a bump, or a bump without
a regeneration, fails here."""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from ocrd_calamari_spark.config import KERNEL_SEMANTICS, ExtractConfig
from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel.extract import extract_batch

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "pages_golden.parquet")


@pytest.fixture(scope="module")
def golden():
    return pd.read_parquet(GOLDEN).set_index("url")


@pytest.fixture(scope="module")
def live(golden):
    pages = gen_pages(400, seed=42)
    out = extract_batch(pages, ExtractConfig(textequiv_level="word"))
    return out.set_index("url")


def test_pin_was_made_by_this_kernel():
    metadata = pq.read_schema(GOLDEN).metadata
    assert metadata[b"kernel_semantics"] == str(KERNEL_SEMANTICS).encode()


def test_text_byte_identical(golden, live):
    joined = golden.join(live, lsuffix="_g", rsuffix="_l")
    ok = joined[joined["error_g"].isna()]
    assert (ok["text_g"] == ok["text_l"]).all()


def test_conf_and_structure_identical(golden, live):
    joined = golden.join(live, lsuffix="_g", rsuffix="_l")
    ok = joined[joined["error_g"].isna()]
    assert (ok["conf_g"] == ok["conf_l"]).all()
    assert (ok["n_blocks_g"] == ok["n_blocks_l"]).all()
    assert (joined["error_g"].isna() == joined["error_l"].isna()).all()
    assert (joined["overwrote_g"] == joined["overwrote_l"]).all()
    assert (joined["raw_charset_g"] == joined["raw_charset_l"]).all()


def test_word_spans_identical(golden, live):
    joined = golden.join(live, lsuffix="_g", rsuffix="_l")
    ok = joined[joined["error_g"].isna()]
    for url, row in ok.iterrows():
        g = [(w["start"], w["end"], w["text"]) for w in row["words_g"]]
        l = [(w["start"], w["end"], w["text"]) for w in row["words_l"]]
        assert g == l, url


def test_golden_case_counts(golden):
    # the committed corpus covers every fixture case
    cases = set(golden["case"].unique())
    for required in ("plain", "unicode", "overwrite", "raw_charset",
                     "whitespace", "poison", "empty_tiny"):
        assert required in cases, required
