"""Extractor ensemble + voter fusion.

Analogue of the reference's multi-model Calamari ensemble: k checkpoints
loaded from a directory (ocrd_calamari/recognize.py:510-516) and fused by a
voter ∈ {confidence_voter_default_ctc, sequence_voter}
(recognize.py:507-508, :633-635; enum ocrd-tool.json:32-37).

Our "models" are the three content-vs-boilerplate heuristics named in
BASELINE.json north_star: text-density sequential classifier, link-density,
and readability-style tag/structure scoring.  All are pure deterministic
functions of block features — determinism under retries/speculative
execution is a correctness requirement (SURVEY.md §7.3).

``vote_block`` is the specification: one block, three scorer calls and
``fuse_votes``.  ``vote_features`` is the same vote over the feature
columns of a whole batch of blocks, with the scores and the voters on
numpy arrays (``kernel/columnar.py`` calls it on the batch pass's
columns, with the stopword hits of ``stop_hits_joined``);
tests/test_vote_equiv.py pins it equal to ``vote_block`` block for
block.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ocrd_calamari_spark.kernel.fastpath import mean6, micros, quantize6
from ocrd_calamari_spark.kernel.segment import Block

# Minimal stopword profiles; lang hint selects the profile — the analogue of
# the MODEL env / checkpoint selection (reference test/test_recognize.py:13).
STOPWORDS = {
    "en": frozenset("the and of to in a is that for it with as was on are".split()),
    "de": frozenset("der die das und ist von zu mit den nicht ein im auf für".split()),
    "fr": frozenset("le la les de des et un une est que pour dans sur au".split()),
}
_DEFAULT_PROFILE = "en"

_CONTENT_TAGS = {"p": 0.70, "article": 0.70, "blockquote": 0.70, "pre": 0.70,
                 "h1": 0.65, "h2": 0.65, "h3": 0.65, "h4": 0.65, "h5": 0.65,
                 "h6": 0.65, "figcaption": 0.60, "summary": 0.60}
_LIST_TAGS = {"li": 0.45, "td": 0.45, "th": 0.45, "dd": 0.45, "dt": 0.45}


def _clamp01(x: float) -> float:
    return 0.0 if x < 0.0 else (1.0 if x > 1.0 else x)


def _sigmoid(x: float) -> float:
    if x < -60.0:
        return 0.0
    if x > 60.0:
        return 1.0
    return 1.0 / (1.0 + math.exp(-x))


# ---------------------------------------------------------------------------
# The three extractor "models"
# ---------------------------------------------------------------------------
def score_density(block: Block, lang: str) -> float:
    """Text-density sequential classifier: chars per descendant tag."""
    visible = block.visible_len()
    density = visible / (1.0 + block.n_tags)
    return quantize6(_sigmoid((density - 20.0) / 15.0))


def score_link_density(block: Block, lang: str) -> float:
    """Link-density: fraction of visible chars inside anchors."""
    visible = block.visible_len()
    if visible == 0:
        return 0.0
    ratio = block.n_link_chars / visible
    return quantize6(_clamp01(1.0 - 1.2 * ratio))


def score_readability(block: Block, lang: str) -> float:
    """Readability-style prior: tag class + punctuation + stopword evidence."""
    base = _CONTENT_TAGS.get(block.tag)
    if base is None:
        base = _LIST_TAGS.get(block.tag, 0.50)
    text = block.raw_text
    n_punct = text.count(".") + text.count("!") + text.count("?")
    punct_bonus = 0.20 * min(1.0, n_punct / 3.0)
    profile = STOPWORDS.get(lang or _DEFAULT_PROFILE, STOPWORDS[_DEFAULT_PROFILE])
    # stop_bonus saturates at 5 hits — early-exit instead of counting all
    # (hot loop: ~3× of round-2 profile; same value for every input)
    hits = 0
    for t in text.lower().split(" "):
        if t and t in profile:
            hits += 1
            if hits == 5:
                break
    stop_bonus = 0.10 * min(1.0, hits / 5.0)
    depth_penalty = 0.02 * max(0, block.depth - 8)
    return quantize6(_clamp01(base + punct_bonus + stop_bonus - depth_penalty))


# Registry ≈ glob("%s/*.ckpt.json" % checkpoint_dir), recognize.py:510-511.
EXTRACTORS = {
    "density": score_density,
    "link_density": score_link_density,
    "readability": score_readability,
}


# ---------------------------------------------------------------------------
# Voters (reference: voter.finalize_sample, recognize.py:633-635)
# ---------------------------------------------------------------------------
def fuse_votes(scores: list[float], voter: str, threshold: float) -> tuple[bool, float]:
    """Fuse k extractor scores → (accept, fused_confidence).

    confidence_voter_default_ctc ≈ confidence-weighted fusion → mean score,
    accept iff mean ≥ threshold.
    sequence_voter ≈ majority vote → accept iff most scores pass the bar;
    confidence is the mean of the majority side.

    Scores and threshold count in micro-units (``micros``; the scores are
    ``quantize6``d already), so the comparisons and the half-up means
    (``mean6``) are exact integer arithmetic.
    """
    if not scores:
        return False, 0.0
    ks = [micros(s) for s in scores]
    t = micros(threshold)
    if voter == "sequence_voter":
        ayes = [k for k in ks if k >= t]
        accept = 2 * len(ayes) > len(ks)
        side = ayes if accept else [k for k in ks if k < t]
        return accept, mean6(sum(side), len(side)) / 1e6
    total = sum(ks)
    return total >= t * len(ks), mean6(total, len(ks)) / 1e6


def vote_block(block: Block, lang: str, extractor_names, voter: str,
               threshold: float) -> tuple[bool, float]:
    scores = [EXTRACTORS[name](block, lang) for name in extractor_names]
    return fuse_votes(scores, voter, threshold)


# ---------------------------------------------------------------------------
# The same vote over many blocks at once
# ---------------------------------------------------------------------------

# readability's tag prior in one lookup (the two tables are disjoint)
_TAG_BASE = {**_LIST_TAGS, **_CONTENT_TAGS}


def _density(f: dict) -> np.ndarray:
    """score_density before its quantize6.  The sigmoid runs per block
    through ``_sigmoid`` itself: ``np.exp`` can differ from ``math.exp``
    in the last bit, and no other step of the vote can."""
    x = (f["vis"] / (1.0 + f["n_tags"]) - 20.0) / 15.0
    return np.array([_sigmoid(v) for v in x.tolist()], dtype=np.float64)


def _link_density(f: dict) -> np.ndarray:
    """score_link_density before its quantize6 (0.0 where nothing is
    visible)."""
    vis = f["vis"]
    ratio = np.divide(f["n_link"], vis, out=np.zeros_like(vis), where=vis > 0)
    return np.where(vis > 0, np.clip(1.0 - 1.2 * ratio, 0.0, 1.0), 0.0)


def _readability(f: dict) -> np.ndarray:
    """score_readability before its quantize6."""
    punct_bonus = 0.20 * np.minimum(1.0, f["n_punct"] / 3.0)
    stop_bonus = 0.10 * np.minimum(1.0, f["hits"] / 5.0)
    depth_penalty = 0.02 * np.maximum(0.0, f["depth"] - 8.0)
    return np.clip(f["base"] + punct_bonus + stop_bonus - depth_penalty,
                   0.0, 1.0)


# the batched form of each scorer of EXTRACTORS
_BATCHED = {"density": _density, "link_density": _link_density,
            "readability": _readability}


def profile_index(langs) -> np.ndarray:
    """The stopword profile of each lang, as an index into ``STOPWORDS``
    (a lang without a profile reads ``_DEFAULT_PROFILE``'s)."""
    names = list(STOPWORDS)
    col = {lang: names.index(lang if lang in STOPWORDS else _DEFAULT_PROFILE)
           for lang in set(langs)}
    return np.array([col[lang] for lang in langs], dtype=np.int64)


def stop_hits_joined(joined: str, prof: np.ndarray) -> np.ndarray:
    """score_readability's stopword hits per text, capped at 5, of the
    texts of ``joined``, each followed by "\\n" and holding none, with
    ``prof[i]`` the profile index of text i.

    The texts are lowered in one call: "\\n" ends the final-sigma context
    of ``str.lower``, so each piece is that text's own ``lower()``.  Arrow
    splits each lowered text at " " and looks each token up once in the
    union of the profiles; a token counts when the profile of its text
    holds it.  Tokens compare as UTF-8 bytes (``surrogatepass``), which
    is ``str`` equality."""
    low = pa.array([joined.lower().encode("utf-8", "surrogatepass")],
                   pa.binary())
    low = pc.split_pattern(low, b"\n").flatten()
    low = low.slice(0, len(low) - 1)
    tokens = pc.split_pattern(low, b" ")
    tok_blk = np.repeat(np.arange(len(low)),
                        np.diff(tokens.offsets.to_numpy()))
    at = pc.index_in(tokens.flatten(), value_set=_STOP_WORDS)
    at = at.fill_null(-1).to_numpy()
    found = at >= 0
    tok_blk = tok_blk[found]
    hit = _STOP_MEMBER[at[found], prof[tok_blk]]
    return np.minimum(np.bincount(tok_blk[hit], minlength=len(low)), 5)


# the union of the profiles as UTF-8; _STOP_MEMBER[w, k]: word w is in
# profile k of STOPWORDS
_WORDS = sorted(set().union(*STOPWORDS.values()) - {""})
_STOP_WORDS = pa.array([w.encode("utf-8") for w in _WORDS], pa.binary())
_STOP_MEMBER = np.array([[w in p for p in STOPWORDS.values()]
                         for w in _WORDS], dtype=bool)


def tag_base(tags) -> np.ndarray:
    """score_readability's tag prior of each tag name."""
    return np.array([_TAG_BASE.get(t, 0.50) for t in tags], dtype=np.float64)


def vote_features(f: dict, extractor_names, voter: str,
                  threshold: float) -> tuple[np.ndarray, np.ndarray]:
    """The vote of n blocks from their feature columns: (accept, fused) as
    bool and float64 arrays, equal to ``vote_block`` block for block.

    ``f`` holds float64 arrays "vis", "n_tags", "n_link", "depth",
    "base" (the tag prior), "n_punct" and, when "readability" votes,
    "hits" (``stop_hits_joined``).  The scores run on float64 arrays in
    the scalar code's operation order, so each IEEE + - * / gives the bits
    the Python floats give (the sigmoid's exp is ``math.exp``, see
    ``_density``); from their ``micros`` on, ``fuse_votes``' integer
    arithmetic runs on int64 arrays."""
    n = len(f["vis"])
    ks = [micros(_BATCHED[name](f)) for name in extractor_names]
    if not ks:
        return np.zeros(n, dtype=bool), np.zeros(n)
    t = micros(threshold)
    if voter == "sequence_voter":
        ayes = [k >= t for k in ks]
        accept = 2 * np.sum(ayes, axis=0) > len(ks)
        total = np.zeros(n, np.int64)
        side = np.zeros(n, np.int64)
        for k, aye in zip(ks, ayes):
            on = aye == accept  # the ayes of a majority, else the nays
            total += np.where(on, k, 0)
            side += on
    else:
        total = sum(ks)
        side = len(ks)
        accept = total >= t * side
    return accept, mean6(total, side) / 1e6
