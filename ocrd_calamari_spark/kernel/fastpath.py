"""Vectorized (numpy) implementation of the position pipeline.

Semantics are identical to the scalar reference implementation in
textproc.py — the scalar module remains the *specification* (it handles
arbitrary Position inputs, including the chars[0]-vs-sorted-top1 subtleties
of recognize.py:254 vs :265); this module exploits two invariants that hold
for positions *generated by this kernel*:

  1. the primary hypothesis always outranks the alternative
     (p1 >= 0.80 > 0.10 >= p2), so sorted-top-1 char == primary char;
  2. glyph_conf_cutoff < 0.5 <= p1, so the primary never gets filtered.

Under those invariants X1/X2/X3 (drop leading/trailing/double spaces on
positions) reduce to string operations on the block text (strip the edge
spaces, collapse space runs), and text assembly is a slice — no per-char
Python.

tests/test_fastpath_equiv.py proves scalar/vectorized equivalence
property-style on randomized blocks.
"""

from __future__ import annotations

import math

import numpy as np

_JITTER_MOD = 997
_JITTER_MULT = 2654435761


def codepoints(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def quantize6(x):
    """floor(x*1e6 + 0.5)/1e6 — half-up quantization in pure IEEE ops,
    identical scalar and vectorized (unlike round(), whose numpy/python
    implementations can disagree in the last bit).

    Scalar inputs dispatch to math.floor: bit-identical (the floored
    magnitude here is ≤ ~1e6, far below 2^53, so int→float is exact and
    the division matches np.floor's to the last bit — grid-verified
    over 200k points) while skipping numpy's per-call scalar overhead;
    measured median 1.04× kernel-level over 9 interleaved pairs
    (round-4 benchmark record, in git history)."""
    if isinstance(x, np.ndarray):
        return np.floor(x * 1e6 + 0.5) / 1e6
    return math.floor(x * 1e6 + 0.5) / 1e6


def micros(x):
    """``quantize6(x)`` as an integer count of micro-units (int64 for an
    array).  A value already quantized gives its own count back: k / 1e6
    times 1e6 is within 3e-10 of k for k up to 1e6."""
    if isinstance(x, np.ndarray):
        return np.floor(x * 1e6 + 0.5).astype(np.int64)
    return math.floor(x * 1e6 + 0.5)


def mean6(total, n):
    """The half-up mean, in micro-units, of ``n`` values in micro-units
    that sum to ``total``: ⌊(2·total + n) / 2n⌋.  Integer arithmetic, so
    exact and independent of the order of the sum; elementwise on int64
    arrays."""
    return (2 * total + n) // (2 * n)


_JITTER_LUT: np.ndarray | None = None
_JITTER_LUT_05: np.ndarray | None = None


def _jitter_lut() -> np.ndarray:
    """Per-codepoint jitter table, built once per process (~8.5 MB for
    the full Unicode range): jitter depends only on the codepoint, so a
    gather replaces the per-block astype/mul/mod/div chain — measured
    1.146× kernel-level (median of 9 interleaved pairs, round 4;
    CLAUDE.md Performance history).  Values are bit-identical to the inline form (same uint64
    math, precomputed)."""
    global _JITTER_LUT
    if _JITTER_LUT is None:
        cps = np.arange(0x110000, dtype=np.uint64)
        _JITTER_LUT = ((cps * _JITTER_MULT) % _JITTER_MOD) / float(
            _JITTER_MOD
        )
    return _JITTER_LUT


def _jitter_lut_05() -> np.ndarray:
    """0.05 * jitter, pre-scaled once: elementwise 0.05*x at build time is
    the same IEEE multiply the per-block form did, so values are
    bit-identical while char_p1 loses one full array pass."""
    global _JITTER_LUT_05
    if _JITTER_LUT_05 is None:
        _JITTER_LUT_05 = 0.05 * _jitter_lut()
    return _JITTER_LUT_05


def char_micros(cps: np.ndarray, base) -> np.ndarray:
    """Vectorized primary-hypothesis probability (extract._char_probs) in
    micro-units: p1 = char_micros / 1e6, as int32 (each is at most
    999,000; sum them into int64).  ``base`` is the block's ``0.70 + 0.30
    * fused``, one float or one per codepoint.

    One gather + one subtract, then clip and the half-up scale IN PLACE
    on the single temp (ops and order per element unchanged since the
    round-4 A/B, median 1.033× kernel-level over 9 interleaved pairs —
    round-4 benchmark record, in git history).  The cast truncates, which is the floor of these values
    (all ≥ 500000.5); numpy casts float64 to int32 in half the time it
    takes for int64."""
    p1 = _jitter_lut_05()[cps]
    np.subtract(base, p1, out=p1)
    np.clip(p1, 0.5, 0.999, out=p1)
    np.multiply(p1, 1e6, out=p1)
    np.add(p1, 0.5, out=p1)
    return p1.astype(np.int32)


import re as _re

_MULTISPACE_RE = _re.compile("  +")


def normalize_text(raw_text: str) -> str:
    """The text half of ``normalize_block``: edge spaces stripped, space
    runs collapsed to one."""
    return _MULTISPACE_RE.sub(" ", raw_text.strip(" "))


def normalize_block(raw_text: str, fused: float):
    """raw block text → (normalized_text, p1_array, conf).

    conf = the half-up mean of the kept positions' primary probabilities
    (``mean6`` over their micro-units, in Python ints) — the
    avg_char_probability analogue (recognize.py:299).

    X1→X2→X3 on the TEXT reduce to C string ops: X1/X2 trim only
    ASCII spaces (``strip(' ')`` — other whitespace was mapped to ' '
    upstream, anything else is not trimmed, matching the scalar spec's
    cp==32 test) and X3 collapses space runs (``'  +' → ' '``).  The
    codepoint array is then built ONCE, over the kept text only — the
    prior form built it over the raw text, ran the index-mask pipeline
    (two nonzero passes + boolean ops + fancy index) and re-encoded
    through utf-32 to get the text back; the round-4 A/B measured the
    string-op form at a 1.31× median kernel-level rate (7 interleaved
    pairs, 1.13-1.42 spread on a bus-noisy box — CLAUDE.md Performance
    history).
    test_fastpath_equiv.py arbitrates it against scalar textproc.
    """
    text = normalize_text(raw_text)
    if not text:
        return "", None, 0.0
    k = char_micros(codepoints(text), 0.70 + 0.30 * fused)
    return text, k / 1e6, mean6(int(k.sum(dtype=np.int64)), len(k)) / 1e6
