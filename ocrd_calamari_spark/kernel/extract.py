"""End-to-end extraction kernel: one page in → text + spans out.

Mirrors the reference's ``process_page_pcgts`` composition
(ocrd_calamari/recognize.py:97-217) stage for stage:

  decode payload          ≈ image_from_page + load_image (recognize.py:108-110, :752-785)
  segment into blocks     ≈ get_AllRegions("Text") → get_TextLine (recognize.py:125-146)
  tiny-segment filter     ≈ skip h<=8 / w<=8 / all-background (recognize.py:166-179)
  ensemble vote + fuse    ≈ MultiPredictor + voter (recognize.py:507-516, :633-635)
  positions normalize     ≈ _post_process_line whitespace ops (recognize.py:251-279)
  text assembly + spans   ≈ TextEquiv / Word / Glyph emission (recognize.py:298-398)
  hierarchy concat        ≈ _page_update_higher_textequiv_levels (recognize.py:708-747):
                            glyph "" -join → word " " -join → block "\n" -join

The position pipeline runs vectorized (kernel/fastpath.py, numpy over
codepoint arrays); kernel/textproc.py holds the scalar specification the
vectorization is proven equivalent to.  The whole module is pure
pandas/numpy.  It is the scalar specification of span emission and the
frozen single-process oracle; inside Spark, ``kernel/columnar.py`` runs the
same per-page composition but emits the spans as Arrow columns for
``mapInArrow`` (SURVEY.md §5.2), proven equal row for row by
tests/test_columnar_equiv.py.
"""

from __future__ import annotations

import re
from typing import Optional

import numpy as np
import pandas as pd

from ocrd_calamari_spark.config import (
    ACCEPT_THRESHOLD,
    ENSEMBLE,
    MIN_VISIBLE_CHARS,
    ExtractConfig,
)
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.fastpath import (
    mean6,
    micros,
    normalize_block,
    quantize6,
)
from ocrd_calamari_spark.kernel.segment import segment
from ocrd_calamari_spark.kernel.vote import vote_block

# Small confusion table for secondary hypotheses (≈ CTC alternatives,
# recognize.py:240-247).  The alternative's probability p2 = (1-p1)/2 is
# always below the primary's (p1 >= 0.5), which is what lets the fast path
# equate sorted-top-1 with the raw char (kernel/fastpath.py invariants).
_CONFUSION = {"l": "1", "1": "l", "o": "0", "0": "o", "ſ": "s", "S": "5", "5": "S"}

# A payload whose decoded form is mostly control characters is not HTML;
# raising here is the analogue of a poisoned sample the reference's
# ``ignore_errors`` pipeline drops (recognize.py:606-609).
_CTRL_FRACTION_LIMIT = 0.20
_CTRL_RE = re.compile(r"[\x00-\x08\x0e-\x1f]")
_BINARY_PAYLOAD = "binary payload (control-char fraction exceeded)"

_WORD_RE = re.compile(r"[^ ]+")  # ≈ _words emission: non-space runs only
                                 # (space runs advance offsets, emit nothing,
                                 # recognize.py:313-327, :335)


def _alt_char(c: str) -> Optional[str]:
    alt = _CONFUSION.get(c)
    if alt is None and c.isalpha():
        sw = c.swapcase()
        alt = sw if sw != c else None
    return alt


def _looks_binary(text: str) -> bool:
    if not text:
        return False
    head = text[:4096]
    return len(_CTRL_RE.findall(head)) / len(head) > _CTRL_FRACTION_LIMIT


def extract_page(
    url: str,
    html: Optional[bytes],
    prior_text: Optional[str],
    lang: Optional[str],
    cfg: ExtractConfig,
) -> dict:
    """Extract one page → output-row dict (schema.OUTPUT_SCHEMA sans lineage)."""
    overwrote = bool(prior_text)  # ≈ "already contained text results" warning,
    # recognize.py:288-296; becomes a counter, not a mutation warning.
    row = {
        "url": url,
        "text": None,
        "conf": None,
        "n_blocks": None,
        "blocks": None,
        "words": None,
        "glyphs": None,
        "overwrote": overwrote,
        "raw_charset": False,
        "error": None,
    }
    try:
        if html is None:
            raise ValueError("null html payload")
        decoded, raw = decode_html(bytes(html))
        row["raw_charset"] = raw
        if _looks_binary(decoded):
            raise ValueError(_BINARY_PAYLOAD)

        want_words = cfg.textequiv_level in ("word", "glyph")
        want_glyphs = cfg.textequiv_level == "glyph"
        blocks_out, words_out, glyphs_out = [], [], []
        doc_parts = []
        doc_pos = 0
        blk_no = 0
        conf_total = 0  # the block confs in micro-units
        for blk in segment(decoded):
            # F4 tiny-segment filter (recognize.py:166-179)
            if blk.visible_len() < MIN_VISIBLE_CHARS:
                continue
            accept, fused = vote_block(
                blk, lang, ENSEMBLE, cfg.voter, ACCEPT_THRESHOLD
            )
            if not accept:
                continue
            # X1→X2→X3 + assembly + conf, vectorized (fastpath)
            text, p1, conf = normalize_block(blk.raw_text, fused)
            if not text:
                continue
            block_id = "blk%04d" % blk_no
            blk_no += 1
            if doc_parts:
                doc_pos += 1  # "\n" separator (A3, recognize.py:743-747)
            start = doc_pos
            end = start + len(text)
            conf_total += micros(conf)
            blocks_out.append(
                {"block_id": block_id, "start": start, "end": end,
                 "text": text, "conf": conf}
            )
            if want_words:
                # normalize_block guarantees single-space-separated text
                # with no leading/trailing space, so split(" ") yields
                # exactly _WORD_RE's non-space runs and offsets are the
                # running sums — no match objects (equivalence pinned by
                # test_fastpath_equiv's word-span property)
                ws = 0
                for word_no, w in enumerate(text.split(" ")):
                    we = ws + len(w)
                    word_id = "%s_word%04d" % (block_id, word_no)  # recognize.py:349
                    words_out.append(
                        {"block_id": block_id, "word_id": word_id,
                         "start": start + ws, "end": start + we,
                         "text": w}
                    )
                    if want_glyphs:
                        for k in range(ws, we):
                            c = text[k]
                            pk = float(p1[k])
                            alts = [{"text": c, "conf": pk, "index": 1}]
                            ac = _alt_char(c)
                            if ac is not None:
                                p2 = float(quantize6((1.0 - pk) * 0.5))
                                if p2 >= cfg.glyph_conf_cutoff:
                                    alts.append(
                                        {"text": ac, "conf": p2, "index": 2}
                                    )
                            glyphs_out.append(
                                {
                                    "glyph_id": "%s_glyph%04d" % (word_id, k - ws),
                                    "block_id": block_id,
                                    "start": start + k,
                                    "end": start + k + 1,
                                    "alts": alts,
                                }
                            )
                    ws = we + 1  # skip the single separating space
            doc_parts.append(text)
            doc_pos = end

        row["text"] = "\n".join(doc_parts)
        row["n_blocks"] = len(blocks_out)
        row["conf"] = (mean6(conf_total, len(blocks_out)) / 1e6
                       if blocks_out else 0.0)
        row["blocks"] = blocks_out
        row["words"] = words_out
        row["glyphs"] = glyphs_out
    except Exception as exc:  # error row, never a task failure (ignore_errors)
        row["error"] = f"{type(exc).__name__}: {exc}"
        row["text"] = None
        row["conf"] = None
        row["n_blocks"] = None
        row["blocks"] = None
        row["words"] = None
        row["glyphs"] = None
    return row


_OUT_COLS = [
    "url", "text", "conf", "n_blocks", "blocks", "words", "glyphs",
    "overwrote", "raw_charset", "error",
]


def extract_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """One Arrow batch of pages → one batch of output rows.

    Columns required: url, html, text, lang (schema.KERNEL_INPUT_COLS).
    """
    rows = [
        extract_page(u, h, t, l, cfg)
        for u, h, t, l in zip(
            pdf["url"].values, pdf["html"].values, pdf["text"].values,
            pdf["lang"].values,
        )
    ]
    # dict-of-lists beats list-of-dicts: pandas pivots row dicts through a
    # per-cell python path; column lists build each Series in one shot
    data = {c: [r[c] for r in rows] for c in _OUT_COLS}
    return pd.DataFrame(data, columns=_OUT_COLS)
