"""Property test: the vectorized position pipeline (kernel/fastpath.py) is
equivalent to the scalar specification (kernel/textproc.py) on arbitrary
block text — the proof obligation for SURVEY.md §7.3 hard-part #1 after
vectorization."""

import math
from fractions import Fraction

import numpy as np
from hypothesis import given, settings, strategies as st

from ocrd_calamari_spark.kernel.extract import _alt_char
from ocrd_calamari_spark.kernel.fastpath import normalize_block
from ocrd_calamari_spark.kernel.textproc import (
    Position,
    assemble_text,
    normalize_positions,
    word_spans,
)

ALPHABET = " abcdefgzABZ019.,!?ſßéü 中"  # incl. space, unicode, nbsp
CUTOFF = 0.001


def scalar_p1(c: str, fused: float) -> float:
    jitter = ((ord(c) * 2654435761) % 997) / 997
    p1 = 0.70 + 0.30 * fused - 0.05 * jitter
    p1 = min(0.999, max(0.5, p1))
    return math.floor(p1 * 1e6 + 0.5) / 1e6


def scalar_positions(text: str, fused: float):
    out = []
    for c in text:
        p1 = scalar_p1(c, fused)
        alt = _alt_char(c)
        chars = ((c, p1),) if alt is None else (
            (c, p1), (alt, math.floor((1.0 - p1) * 0.5 * 1e6 + 0.5) / 1e6)
        )
        out.append(Position(chars=chars))
    return out


@settings(max_examples=400, deadline=None)
@given(
    text=st.text(alphabet=ALPHABET, min_size=0, max_size=400),
    fused=st.floats(min_value=0.5, max_value=1.0, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
)
def test_text_assembly_equivalent(text, fused):
    # scalar: X1→X2→X3 on Position objects, then sorted-top-1 join
    ps = normalize_positions(scalar_positions(text, fused), CUTOFF)
    scalar_text = assemble_text(ps, CUTOFF)
    fast_text, p1, conf = normalize_block(text, fused)
    assert fast_text == scalar_text
    if p1 is not None:
        # p1 and conf are part of the byte-identity contract (the golden
        # pin and test_columnar_equiv compare conf bit for bit), so both
        # are exact.  conf is the exact mean of the p1 micro-units,
        # rounded half up: floor(sum / n + 1/2) micro-units.
        probs = np.array([p.chars[0][1] for p in ps])
        assert np.array_equal(p1, probs)
        mean = Fraction(sum(round(q * 1e6) for q in probs.tolist()), len(probs))
        assert conf == math.floor(mean + Fraction(1, 2)) / 1e6


@settings(max_examples=300, deadline=None)
@given(text=st.text(alphabet=ALPHABET, min_size=0, max_size=120))
def test_word_spans_equivalent(text):
    import re

    # after normalization there are only single internal spaces, but the
    # splitter contract must hold for arbitrary text
    scalar = [(s, e, w) for _, s, e, w in word_spans(text)]
    regex = [(m.start(), m.end(), m.group()) for m in re.finditer(r"[^ ]+", text)]
    assert scalar == regex


@settings(max_examples=200, deadline=None)
@given(
    text=st.text(alphabet=ALPHABET, min_size=1, max_size=80),
    fused=st.floats(min_value=0.5, max_value=1.0, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
)
def test_normalized_invariants(text, fused):
    out, p1, conf = normalize_block(text, fused)
    assert not out.startswith(" ") and not out.endswith(" ")
    assert "  " not in out
    if out:
        assert len(p1) == len(out)
        assert 0.5 <= conf <= 0.999


@settings(max_examples=300, deadline=None)
@given(
    text=st.text(alphabet=ALPHABET, min_size=1, max_size=120),
    fused=st.floats(min_value=0.5, max_value=1.0, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
)
def test_split_word_offsets_equal_regex_spans_on_normalized(text, fused):
    """extract_page's split(' ')-with-running-offsets word emission is
    equivalent to the old _WORD_RE.finditer over normalize_block output
    (single internal spaces, no leading/trailing) — the invariant the
    round-4 split rewrite rides on."""
    import re

    out, _, _ = normalize_block(text, fused)
    if not out:
        return
    regex = [(m.start(), m.end(), m.group())
             for m in re.finditer(r"[^ ]+", out)]
    split = []
    ws = 0
    for w in out.split(" "):
        we = ws + len(w)
        split.append((ws, we, w))
        ws = we + 1
    assert split == regex
