"""The batched vote (``vote.vote_features`` on feature columns, with the
stopword hits of ``vote.stop_hits_joined``) ≡ the scalar specification
(``vote.vote_block``), block for block and bit for bit: the accept flag
as a Python bool and the fused confidence as the same float.  The
features are gathered from ``Block`` objects here, as ``kernel/columnar.py``
gathers them from the batch columns."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from ocrd_calamari_spark.config import ACCEPT_THRESHOLD, ENSEMBLE, VOTERS
from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.segment import Block, segment
from ocrd_calamari_spark.kernel.vote import (
    profile_index,
    stop_hits_joined,
    tag_base,
    vote_block,
    vote_features,
)

LANGS = [None, "en", "de", "fr", "xx"]
# stopwords in every case, and tokens whose lower() is (or is not) one:
# Kelvin K lowers to ASCII "k", U+0130 to "i" plus a combining dot (so
# "İn" is not "in"), and final sigma depends on the letters around it
_WORDS = ["the", "THE", "The", "and", "of", "a", "der", "DIE", "Für", "FÜR",
          "für", "le", "LA", "Les", "dans", "İ", "İn", "İS", "K", "Key", "ſ",
          "ſo", "ΣΑΣ", "σς", "Σ", "x.", "why?", "no!", "...", "", "wörd",
          "\ud800", "😀"]
_TAGS = ["p", "li", "td", "div", "h1", "h6", "span", "article",
         "figcaption", "summary", "a"]


def _block(text: str, tag="p", depth=3, n_link=0, n_tags=0) -> Block:
    return Block(pos=0, tag=tag, depth=depth, chunks=[text],
                 n_link_chars=n_link, n_tags=n_tags)


@st.composite
def blocks(draw):
    words = draw(st.lists(st.sampled_from(_WORDS), max_size=40))
    text = " ".join(words)
    n_tags = draw(st.integers(0, 3))
    vis = len(text.replace(" ", ""))
    pad = draw(st.sampled_from(["none", "some", "cutoff"]))
    if pad == "some":
        text += " " + "y" * draw(st.integers(0, 30))
    elif pad == "cutoff":
        # density (vis / (1 + n_tags) - 20) / 15 at the sigmoid's +60
        # cutoff, or one char either side of it
        target = 920 * (1 + n_tags) + draw(st.integers(-2, 2))
        text += " " + "y" * max(0, target - vis)
    vis = len(text.replace(" ", ""))
    link = draw(st.sampled_from(["none", "all", "some"]))
    n_link = {"none": 0, "all": vis}.get(link) or draw(st.integers(0, vis))
    return _block(text, tag=draw(st.sampled_from(_TAGS)),
                  depth=draw(st.integers(0, 14)), n_link=n_link,
                  n_tags=n_tags)


def _bits(votes):
    """(accept, fused) pairs with the exact types and float bits."""
    return [(type(a), a, type(f), f.hex()) for a, f in votes]


def _features(blks, langs) -> dict:
    """``vote_features``' columns of ``blks``: the stopword hits over the
    "\\n"-joined texts (none holds "\\n"), one lang per block."""
    texts = [b.raw_text for b in blks]
    f = {
        "vis": [b.visible_len() for b in blks],
        "n_tags": [b.n_tags for b in blks],
        "n_link": [b.n_link_chars for b in blks],
        "depth": [b.depth for b in blks],
        "base": tag_base([b.tag for b in blks]),
        "n_punct": [t.count(".") + t.count("!") + t.count("?")
                    for t in texts],
        "hits": stop_hits_joined("".join(t + "\n" for t in texts),
                                 profile_index(langs)),
    }
    return {k: np.asarray(v, np.float64) for k, v in f.items()}


def _vote(blks, langs, names, voter, threshold):
    """(accept, fused) lists of ``vote_features`` over ``blks``."""
    accept, fused = vote_features(_features(blks, langs), names, voter,
                                  threshold)
    return accept.tolist(), fused.tolist()


def _check(blks, langs, names=ENSEMBLE, voter=VOTERS[0],
           threshold=ACCEPT_THRESHOLD):
    want = [vote_block(b, lang, names, voter, threshold)
            for b, lang in zip(blks, langs)]
    accept, fused = _vote(blks, langs, names, voter, threshold)
    assert _bits(zip(accept, fused)) == _bits(want)


@settings(max_examples=300, deadline=None)
@given(
    items=st.lists(st.tuples(blocks(), st.sampled_from(LANGS)), max_size=25),
    voter=st.sampled_from(VOTERS),
    names=st.sampled_from([ENSEMBLE, ENSEMBLE[::-1], ("readability",),
                           ("density", "density"), ()]),
    threshold=st.sampled_from([ACCEPT_THRESHOLD, 0.3, 0.7]),
)
@example(items=[(_block("die the le"), "de")], voter=VOTERS[0],
         names=ENSEMBLE, threshold=ACCEPT_THRESHOLD)
def test_vote_features_equals_vote_block(items, voter, names, threshold):
    _check([b for b, _ in items], [lang for _, lang in items], names, voter,
           threshold)


@pytest.mark.parametrize("voter", VOTERS)
def test_corpus_blocks(voter):
    """Every candidate block of 300 generated pages, in one call."""
    blks, langs = [], []
    for html, lang in zip(*gen_pages(300, seed=7)[["html", "lang"]].values.T):
        if html is None:
            continue
        try:
            text, _ = decode_html(bytes(html))
        except Exception:
            continue
        for b in segment(text):
            blks.append(b)
            langs.append(lang)
    assert len(blks) > 1000
    _check(blks, langs, voter=voter)


@pytest.mark.parametrize("voter", VOTERS)
def test_tie_and_threshold_blocks(voter):
    """A score at a half-micro tie, and a mean exactly at the threshold,
    beside plain blocks: the batched vote equals ``vote_block``."""
    tie = _block("y" * 256, n_link=1)  # link score 1 - 1.2/256 = 0.9953125
    # density 60 / 3 = 20 → 0.5, link 1 - 1.2 * 25/60 → 0.5, a div → 0.5
    at_threshold = _block("y" * 60, tag="div", n_link=25, n_tags=2)
    plain = _block("the and of a is " + "y" * 40)
    blks = [plain, tie, plain, at_threshold]
    _check(blks, ["en"] * 4, voter=voter)
    assert vote_block(at_threshold, "en", ENSEMBLE, voter,
                      ACCEPT_THRESHOLD) == (True, 0.5)
