"""Block conf, page conf and the fused vote are exact means: each is the
mean of its inputs in micro-units rounded half up, ⌊Σk / n + 1/2⌋,
computed here with ``fractions.Fraction``, and a permutation of the inputs
leaves it unchanged, in the scalar specification and in the batched engine
alike.  Exact half-micro ties and blocks past 8,192 chars included."""

import math
import random
from fractions import Fraction

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from ocrd_calamari_spark.config import (
    ACCEPT_THRESHOLD,
    ENSEMBLE,
    VOTERS,
    ExtractConfig,
)
from ocrd_calamari_spark.kernel import columnar
from ocrd_calamari_spark.kernel.fastpath import codepoints, normalize_block
from ocrd_calamari_spark.kernel.vote import (
    EXTRACTORS,
    fuse_votes,
    vote_features,
)

from test_columnar_equiv import _PARA, assert_equivalent, html_page, pages_frame
from test_vote_equiv import LANGS, _features, blocks

_UNIT = st.text(alphabet="abcdefgzABZ019.,!?ſßéü中\U0001d49c", min_size=1,
                max_size=40)
_FUSED = st.floats(min_value=0.0, max_value=1.0).map(lambda x: round(x, 6))
_RANDOM = st.randoms(use_true_random=False)
_MICRO = 1_000_000


def micro(x: float) -> int:
    return round(x * _MICRO)


def half_up(ks) -> float:
    """The mean of the micro-units ``ks``, rounded half up, in units."""
    mean = Fraction(sum(ks), len(ks))
    return math.floor(mean + Fraction(1, 2)) / _MICRO


def shuffled(seq, rnd):
    out = list(seq)
    rnd.shuffle(out)
    return out


@pytest.mark.parametrize("reps", (65, 300, 4100, 5000))
def test_tie_blocks_round_half_up(reps):
    """A block of "ac" repeated, at fused 0.5, has a mean p1 exactly on a
    half micro, also at 8,200 and 10,000 chars; its conf is the upper
    neighbour."""
    _, p1, conf = normalize_block("ac" * reps, 0.5)
    mean = Fraction(sum(micro(q) for q in p1.tolist()), len(p1))
    assert mean - math.floor(mean) == Fraction(1, 2)
    assert conf == (math.floor(mean) + 1) / _MICRO


@settings(max_examples=150, deadline=None)
@given(unit=_UNIT, reps=st.integers(1, 400), fused=_FUSED, rnd=_RANDOM)
@example(unit="ac", reps=65, fused=0.5, rnd=random.Random(0))
@example(unit="ac", reps=4100, fused=0.5, rnd=random.Random(1))
@example(unit="xyz", reps=3000, fused=0.25, rnd=random.Random(2))
def test_block_conf_is_an_exact_mean(unit, reps, fused, rnd):
    text = unit * reps
    perm = "".join(shuffled(text, rnd))
    _, p1, conf = normalize_block(text, fused)
    assert conf == half_up([micro(q) for q in p1.tolist()])
    assert normalize_block(perm, fused)[2] == conf
    off = np.array([0, len(text), 2 * len(text)], np.int64)
    _, got = columnar._block_numbers(codepoints(text + perm), off,
                                     [fused, fused])
    assert (got / 1e6).tolist() == [conf, conf]


@settings(max_examples=25, deadline=None)
@given(paras=st.lists(st.tuples(_UNIT, st.integers(1, 300)), min_size=1,
                      max_size=6),
       voter=st.sampled_from(VOTERS), rnd=_RANDOM)
@example(paras=[("ac", 4100), ("xyz", 7), ("ac", 65)], voter=VOTERS[0],
         rnd=random.Random(0))
def test_page_conf_is_an_exact_mean(paras, voter, rnd):
    """The row conf of a page, in the oracle and in the engine, is the
    exact mean of its block confs, whatever the order of the blocks."""
    texts = [f"{_PARA} {unit * reps}" for unit, reps in paras]
    pages = [html_page(*texts), html_page(*shuffled(texts, rnd))]
    rows = assert_equivalent(pages_frame(pages), ExtractConfig(voter=voter))
    assert rows[0]["n_blocks"] == rows[1]["n_blocks"] == len(texts)
    assert rows[0]["conf"] == rows[1]["conf"]
    for row in rows:
        assert row["conf"] == half_up([micro(b["conf"])
                                       for b in row["blocks"]])


@settings(max_examples=300, deadline=None)
@given(ks=st.lists(st.integers(0, _MICRO), min_size=1, max_size=7),
       voter=st.sampled_from(VOTERS),
       threshold=st.sampled_from([ACCEPT_THRESHOLD, 0.3, 0.7]), rnd=_RANDOM)
@example(ks=[500_000, 500_001], voter=VOTERS[0], threshold=0.5,
         rnd=random.Random(0))
@example(ks=[500_000, 0, 500_001, 0], voter=VOTERS[1], threshold=0.5,
         rnd=random.Random(0))
def test_fused_is_an_exact_mean(ks, voter, threshold, rnd):
    """``fuse_votes``: the confidence voter's mean over all scores, the
    sequence voter's over the majority side, each rounded half up; the
    accept flag compares exactly at the threshold."""
    scores = [k / _MICRO for k in ks]
    accept, fused = fuse_votes(scores, voter, threshold)
    assert fuse_votes(shuffled(scores, rnd), voter, threshold) == (accept,
                                                                   fused)
    t = micro(threshold)
    if voter == "sequence_voter":
        side = [k for k in ks if (k >= t) == accept]
        assert accept == (2 * sum(k >= t for k in ks) > len(ks))
    else:
        side = ks
        assert accept == (Fraction(sum(ks), len(ks)) >= Fraction(t))
    assert fused == half_up(side)


@settings(max_examples=100, deadline=None)
@given(items=st.lists(st.tuples(blocks(), st.sampled_from(LANGS)),
                      min_size=1, max_size=12),
       voter=st.sampled_from(VOTERS), rnd=_RANDOM)
def test_batched_fused_ignores_the_ensemble_order(items, voter, rnd):
    """``vote_features`` over an ensemble and over a permutation of it
    gives the same votes, each the exact mean of ``vote_block``'s side."""
    blks = [b for b, _ in items]
    langs = [lang for _, lang in items]
    f = _features(blks, langs)
    names = list(ENSEMBLE) + ["density"]
    accept, fused = vote_features(f, names, voter, ACCEPT_THRESHOLD)
    again = vote_features(f, shuffled(names, rnd), voter, ACCEPT_THRESHOLD)
    assert accept.tolist() == again[0].tolist()
    assert fused.tolist() == again[1].tolist()
    t = micro(ACCEPT_THRESHOLD)
    for b, lang, a, got in zip(blks, langs, accept.tolist(), fused.tolist()):
        ks = [micro(EXTRACTORS[n](b, lang)) for n in names]
        side = ks if voter == VOTERS[0] else [k for k in ks
                                              if (k >= t) == a]
        assert got == half_up(side)
