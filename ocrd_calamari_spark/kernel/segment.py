"""DOM segmentation: html str → ordered candidate text blocks.

Analogue of the reference's page segmentation walk
(ocrd_calamari/recognize.py:125-146): ``get_AllRegions(classes=["Text"])`` →
``region.get_TextLine()`` with image crops per segment.  Here the "regions"
are block-level DOM elements and the "crop" is offset bookkeeping into the
decoded text.

  - non-Text region classes dropped  ≈ DROP_TAGS subtrees (F1)
  - document order preserved         ≈ XML iteration order (O3): blocks are
    emitted in order of their opening tag and carry an explicit ``pos``
  - whitespace chars are mapped 1:1 to " " but runs are NOT collapsed —
    normalization happens later on positions, mirroring the reference's
    decision to post-process positions, not the sentence
    (recognize.py:228-235)

Three implementations of one semantics, pinned equal by
test_segment_equiv.py: ``segment_spec`` on the stdlib ``html.parser``
(tolerant of malformed markup; poisoned payloads that still defeat it
surface as error rows upstream), ``_segment_fused``, a regex token loop
with the spec's handlers inlined, which ``segment()`` runs, and the
compiled ``_segment.c``, which runs only inside the batch pass of
``kernel/columnar.py`` (``native.Segmenter.segment_batch``).  The scalar
oracle (``extract_page``) calls ``segment()``, and so does the batch pass
for the pages C leaves to Python and for every page without the library;
``amp_block`` rebuilds the batch pass's blocks with "&" as
``_segment_fused`` builds them.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

# Subtrees that are never content — the analogue of filtering region classes
# to ["Text"] (reference recognize.py:125).
DROP_TAGS = frozenset(
    "script style nav header footer aside noscript template form iframe "
    "svg button select option object embed head".split()
)

# Elements that open a new candidate block (≈ TextLine granularity).
BLOCK_TAGS = frozenset(
    "p div article section main li h1 h2 h3 h4 h5 h6 blockquote pre td th "
    "dd dt figcaption summary".split()
)

# Void elements html.parser may report via handle_starttag.
_VOID = frozenset("br hr img input meta link area base col source track wbr".split())

# One dict lookup instead of four frozenset membership tests per tag event
# (DROP/BLOCK/_VOID/"a" are mutually disjoint, so one class per tag).
_C_VOID, _C_DROP, _C_ANCHOR, _C_BLOCK = 1, 2, 3, 4
_TAG_CLASS = {t: _C_VOID for t in _VOID}
_TAG_CLASS.update({t: _C_DROP for t in DROP_TAGS})
_TAG_CLASS.update({t: _C_BLOCK for t in BLOCK_TAGS})
_TAG_CLASS["a"] = _C_ANCHOR



@dataclass
class Block:
    """One candidate text block with the features the extractors score."""

    pos: int  # document order (O3: explicit position, no implicit order)
    tag: str
    depth: int  # DOM depth at the opening tag
    chunks: list = field(default_factory=list)  # "".join() is raw_text
    n_link_chars: int = 0  # chars inside <a> subtrees
    n_tags: int = 0  # descendant element count (density denominator)

    _raw: str = None  # memo — blocks are append-only during the parse and
    _vis: int = None  # read-only afterwards, so first access can cache

    @property
    def raw_text(self) -> str:
        """Text with each whitespace char mapped to ' ' (runs preserved)."""
        if self._raw is None:
            self._raw = "".join(self.chunks)
        return self._raw

    def visible_len(self) -> int:
        if self._vis is None:
            self._vis = len(self.raw_text.replace(" ", ""))
        return self._vis


class _Segmenter(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._stack: list[str] = []  # open non-void tags
        self._block_stack: list[Block] = []  # open candidate blocks
        self._drop_depth = 0  # >0 ⇒ inside a dropped subtree
        self._anchor_depth = 0

    # -- tag events ---------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        cls = _TAG_CLASS.get(tag, 0)
        if cls == _C_VOID:
            if self._drop_depth == 0 and self._block_stack:
                self._block_stack[-1].n_tags += 1
            return
        if cls == _C_DROP or self._drop_depth > 0:
            self._drop_depth += 1
            self._stack.append(tag)
            return
        if cls == _C_ANCHOR:
            self._anchor_depth += 1
        if self._block_stack:
            self._block_stack[-1].n_tags += 1
        if cls == _C_BLOCK:
            blk = Block(pos=len(self.blocks), tag=tag, depth=len(self._stack))
            self.blocks.append(blk)
            self._block_stack.append(blk)
        self._stack.append(tag)

    def handle_endtag(self, tag):
        if _TAG_CLASS.get(tag, 0) == _C_VOID:
            return
        # pop to the matching open tag if present (tolerates misnesting)
        if tag not in self._stack:
            return
        while self._stack:
            top = self._stack.pop()
            if self._drop_depth > 0:
                self._drop_depth -= 1
            else:
                cls = _TAG_CLASS.get(top, 0)
                if cls == _C_ANCHOR and self._anchor_depth > 0:
                    self._anchor_depth -= 1
                elif cls == _C_BLOCK and self._block_stack:
                    self._block_stack.pop()
            if top == tag:
                break

    # -- text events --------------------------------------------------------
    def handle_data(self, data):
        if self._drop_depth > 0 or not self._block_stack or not data:
            return
        # replace chain ≡ translate({ws → ' '}) but ~5× faster (C scans vs
        # per-char dict lookups); all five map to ' ', no overlap effects
        text = (data.replace("\n", " ").replace("\t", " ")
                    .replace("\r", " ").replace("\f", " ")
                    .replace("\v", " "))
        blk = self._block_stack[-1]
        blk.chunks.append(text)
        if self._anchor_depth > 0:
            blk.n_link_chars += len(text.replace(" ", ""))


def segment_spec(html_text: str) -> list[Block]:
    """SPEC segmenter: stdlib HTMLParser tokenizer (tolerant, slow)."""
    parser = _Segmenter()
    parser.feed(html_text)
    parser.close()
    return [b for b in parser.blocks if b.visible_len() > 0]


# ---------------------------------------------------------------------------
# Fast path: one compiled regex scan with the _Segmenter event logic FUSED
# into the loop (local-variable state, no per-token method dispatch) — the
# stack/drop/anchor semantics are copied verbatim from the spec handlers
# above and arbitrated by test_segment_equiv.py (corpus + hypothesis fuzz).
# ~3× faster than HTMLParser's goahead loop from the regex tokenizer, plus
# a measured ~5.6% kernel-level gain from fusing the event dispatch
# (round-3 A/B, CLAUDE.md Performance history).  Falls back to the spec parser on any scan error.
# ---------------------------------------------------------------------------
import html as _html
import re as _re

from ocrd_calamari_spark.kernel.native import F_AMP, F_ANCHOR

_TOKEN_RE = _re.compile(
    r"<!--.*?-->"                      # comment
    r"|<!\[CDATA\[.*?\]\]>"            # cdata
    r"|<![^>]*>"                       # doctype / declaration
    r"|<\?[^>]*>"                      # processing instruction
    r"|<(/?)([a-zA-Z][a-zA-Z0-9.:_-]*)"  # open/close tag name
    # quote-aware attrs — POSSESSIVE and length-bounded: a pathological
    # "<p aaaa…" with no closing ">" must fail in O(bound), not backtrack
    # over megabytes (a 1 MB such payload would otherwise stall the task;
    # tags with >4 KB of attributes are treated as text, divergence from
    # HTMLParser on such input is accepted per test_segment_equiv.py).
    # A "/" is an attribute char only when no ">" follows it, so the "/"
    # of "/>" is left for the self-closing group
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'/]|/(?!>)){0,4096}+)"
    r"(/?)>",
    _re.DOTALL,
)
_RAWTEXT = {"script", "style"}  # HTMLParser CDATA-mode elements
# CDATA close pattern — mirrors html.parser.HTMLParser.set_cdata_mode
# (HTMLParser finds it under re.I, but its end-tag name is [a-zA-Z]: a
# close such as "</scrİpt>", which re.I would fold to "script", is data
# there, so each letter matches only its ASCII case pair here)
_RAWTEXT_CLOSE = {
    t: _re.compile(r"</\s*%s\s*>" % "".join("[%s%s]" % (c, c.upper())
                                            for c in t))
    for t in _RAWTEXT
}


def _map_ws(text: str) -> str:
    """The spec's whitespace replace chain ("\\n\\t\\r\\f\\v" → " ")."""
    return (text.replace("\n", " ").replace("\t", " ")
                .replace("\r", " ").replace("\f", " ")
                .replace("\v", " "))


def _segment_fused(html_text: str) -> list[Block]:
    """Fused tokenizer + segmenter: the regex token loop and the
    _Segmenter event handlers inlined into one loop over local variables.

    Semantically identical to feeding the spec handlers above — the
    per-token method dispatch (3 bound calls/token) and per-event
    attribute loads were the kernel's top profile line at ~20%;
    test_segment_equiv.py (corpus + hypothesis fuzz incl. rawtext and
    misnesting) arbitrates equivalence against the HTMLParser spec.
    """
    blocks: list[Block] = []
    stack: list[str] = []
    block_stack: list[Block] = []
    drop_depth = 0
    anchor_depth = 0
    pos = 0
    n = len(html_text)
    search = _TOKEN_RE.search
    tag_class = _TAG_CLASS
    unescape = _html.unescape
    while pos < n:
        m = search(html_text, pos)
        end = m.start() if m is not None else n
        if end > pos and drop_depth == 0 and block_stack:
            data = html_text[pos:end]
            if "&" in data:
                data = unescape(data)
            text = _map_ws(data)
            blk = block_stack[-1]
            blk.chunks.append(text)
            if anchor_depth > 0:
                blk.n_link_chars += len(text.replace(" ", ""))
        if m is None:
            break
        pos = m.end()
        # one C call for all three groups (three separate .group() calls
        # profiled at ~4% of kernel time over ~70 tokens/page)
        closing, name, selfclose = m.group(1, 2, 4)
        if name is None:  # comment/doctype/pi — no event
            continue
        tag = name.lower()
        if closing:  # ---- closing tag ----
            if tag_class.get(tag, 0) == _C_VOID:
                continue
            if tag not in stack:  # tolerates misnesting
                continue
            while stack:
                top = stack.pop()
                if drop_depth > 0:
                    drop_depth -= 1
                else:
                    cls = tag_class.get(top, 0)
                    if cls == _C_ANCHOR and anchor_depth > 0:
                        anchor_depth -= 1
                    elif cls == _C_BLOCK and block_stack:
                        block_stack.pop()
                if top == tag:
                    break
            continue
        # ---- opening tag ----
        cls = tag_class.get(tag, 0)
        if cls == _C_VOID:
            if drop_depth == 0 and block_stack:
                block_stack[-1].n_tags += 1
            continue
        if cls == _C_DROP or drop_depth > 0:
            drop_depth += 1
            stack.append(tag)
            dropped = True
        else:
            dropped = False
            if cls == _C_ANCHOR:
                anchor_depth += 1
            if block_stack:
                block_stack[-1].n_tags += 1
            if cls == _C_BLOCK:
                blk = Block(pos=len(blocks), tag=tag, depth=len(stack))
                blocks.append(blk)
                block_stack.append(blk)
            stack.append(tag)
        if selfclose:  # self-closing → immediate endtag (tag is top)
            stack.pop()
            if dropped:
                drop_depth -= 1
            elif cls == _C_ANCHOR and anchor_depth > 0:
                anchor_depth -= 1
            elif cls == _C_BLOCK and block_stack:
                block_stack.pop()
        elif tag in _RAWTEXT:
            # raw-text element: skip to its FULL close tag — HTMLParser's
            # CDATA mode only ends at r"</\s*tag\s*>" ("</scriptx>" or
            # "</script/>" must NOT terminate a <script> element)
            m2 = _RAWTEXT_CLOSE[tag].search(html_text, pos)
            if m2 is None:
                break  # unterminated raw text: rest is dropped anyway
            stack.pop()  # rawtext tags are DROP class → dropped is True
            drop_depth -= 1
            pos = m2.end()
    return [b for b in blocks if b.visible_len() > 0]


def amp_block(html_text: str, chunks) -> tuple[str, int, int]:
    """A block with "&" rebuilt from its chunk records, (start, end,
    flags) triples of ``_segment.c``'s batch pass: per chunk the
    ``html.unescape`` (when it holds "&") and the whitespace replace chain
    of ``_segment_fused``.  Returns (raw text, visible chars, link chars),
    counted after the unescape."""
    texts, link = [], 0
    for start, end, flags in chunks:
        data = html_text[start:end]
        if flags & F_AMP:
            data = _html.unescape(data)
        text = _map_ws(data)
        texts.append(text)
        if flags & F_ANCHOR:
            link += len(text.replace(" ", ""))
    raw = "".join(texts)
    return raw, len(raw) - raw.count(" "), link


def segment(html_text: str) -> list[Block]:
    """Parse html → candidate blocks in document order (may be empty): the
    fused regex tokenizer+segmenter, with the HTMLParser spec as the
    fallback on scan errors."""
    try:
        return _segment_fused(html_text)
    except Exception:
        return segment_spec(html_text)
