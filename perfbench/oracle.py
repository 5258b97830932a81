"""Single-process oracle check and the traced kernel replay.

The oracle is the engine's own ``kernel.extract.extract_batch`` run in this
process; Spark's output must equal it row for row.  ``KernelTrace`` wraps
the public names ``kernel.extract`` calls (``decode_html``, ``segment``,
``vote_block``, ``normalize_block``, ``extract_page``) for the duration of
a ``with`` block, so the replay yields per-stage busy time and counts
while the code under test stays unchanged.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pandas as pd

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.kernel import extract as kx

# stage name → attribute of kernel.extract that the wrapper replaces
_STAGES = {
    "decode": "decode_html",
    "segment": "segment",
    "vote": "vote_block",
    "fastpath": "normalize_block",
    "page": "extract_page",
}

COMPARED = ("text", "conf", "n_blocks", "blocks", "words", "glyphs")


class KernelTrace:
    """Per-stage seconds and counts of one traced replay."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self._saved: dict[str, object] = {}

    def _wrap(self, stage: str, fn):
        seconds, counts = self.seconds, self.counts

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                seconds[stage] += time.perf_counter() - t0
            counts[stage] += 1
            if stage == "segment":
                counts["blocks"] += len(out)
            elif stage == "vote":
                counts["accepted"] += bool(out[0])
            elif stage == "page" and out["error"] is None:
                counts["spans"] += (len(out["blocks"]) + len(out["words"])
                                    + len(out["glyphs"]))
            return out

        return traced

    def __enter__(self) -> "KernelTrace":
        for stage, attr in _STAGES.items():
            self._saved[attr] = getattr(kx, attr)
            setattr(kx, attr, self._wrap(stage, self._saved[attr]))
        return self

    def __exit__(self, *exc) -> None:
        for attr, fn in self._saved.items():
            setattr(kx, attr, fn)
        self._saved.clear()

    def metrics(self, docs: int, batch_s: float) -> dict:
        s, c = self.seconds, self.counts
        children = s["decode"] + s["segment"] + s["vote"] + s["fastpath"]
        return {
            "kernel.decode.s": s["decode"],
            "kernel.segment.s": s["segment"],
            "kernel.segment.blocks_per_doc": c["blocks"] / docs,
            "kernel.vote.s": s["vote"],
            "kernel.vote.accept_ratio": c["accepted"] / max(c["vote"], 1),
            "kernel.fastpath.s": s["fastpath"],
            "kernel.extract.self_s": s["page"] - children,
            "kernel.extract.spans_per_doc": c["spans"] / docs,
            "kernel.extract.batch_s": batch_s - s["page"],
            "kernel.replay_s": batch_s,
            "kernel.replay_docs_per_s": docs / batch_s,
        }


def replay(pages: pd.DataFrame, cfg: ExtractConfig) -> tuple[pd.DataFrame, float]:
    """The single-process oracle over ``pages``; returns (rows, seconds)."""
    t0 = time.perf_counter()
    out = kx.extract_batch(pages, cfg)
    return out, time.perf_counter() - t0


def _canon(v):
    """Spark rows and oracle dicts to one comparable shape (empty list ≡
    None: an error row carries None in both, an empty span list may come
    back from Arrow as either)."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v] or None
    return v


def mismatches(spark_rows: dict[str, dict], oracle: pd.DataFrame) -> list[str]:
    """URLs whose Spark row differs from the oracle row in text, conf,
    n_blocks, any span list, or error presence (error text may carry
    process-specific detail, its presence may not)."""
    bad = []
    for rec in oracle.to_dict("records"):
        got = spark_rows.get(rec["url"])
        if got is None or (got["error"] is None) != (rec["error"] is None):
            bad.append(rec["url"])
        elif rec["error"] is None and any(
            _canon(got[c]) != _canon(rec[c]) for c in COMPARED
        ):
            bad.append(rec["url"])
    return bad
