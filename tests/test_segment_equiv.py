"""Differential test: the compiled segmenter (``_segment.c``'s batch pass
through ``kernel/native.py``), the fused regex tokenizer and the
HTMLParser spec tokenizer must produce the same blocks on generator output
and on randomized well-formed-ish HTML: native == fused everywhere, and
fused == spec except on the pathological inputs documented below.
``segment()`` is the fused loop (the spec only on a scan error), so the
tests that compare ``segment`` with ``segment_spec`` check fused == spec,
and the native tests compare the batch pass's block columns with the ones
``segment()`` implies (``test_batch_columns.batch_rows`` / ``spec_rows``)."""

import os
import platform
import random
import shutil

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel import native
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.extract import (
    _CTRL_FRACTION_LIMIT,
    _looks_binary,
)
from ocrd_calamari_spark.kernel.segment import (
    _segment_fused,
    segment,
    segment_spec,
)

from test_batch_columns import batch_rows, spec_rows

SEG = native.load()
needs_native = pytest.mark.skipif(
    SEG is None,
    reason="compiled segmenter unavailable (no cc, or the build or load "
           "failed): the native == fused tests did not run")


def blocks_key(blocks):
    return [
        (b.pos, b.tag, b.depth, b.raw_text, b.n_link_chars, b.n_tags,
         b.visible_len())
        for b in blocks
    ]


def native_equals_fused(html):
    """The batch pass takes ``html`` itself (status P_OK) and its block
    columns equal the ones ``segment()``'s blocks imply."""
    status = SEG.segment_batch([html], _CTRL_FRACTION_LIMIT)[4]
    assert status.tolist() == [native.P_OK], "C left the page to Python"
    return batch_rows([html]) == [spec_rows(html)]


def corpus_texts(n, seed):
    texts = []
    for _, row in gen_pages(n, seed=seed).iterrows():
        if row["case"] == "poison":
            continue
        texts.append(decode_html(bytes(row["html"]))[0])
    return texts


def test_corpus_equivalence():
    pages = gen_pages(300)
    diffs = []
    for _, row in pages.iterrows():
        if row["case"] == "poison":
            continue
        text, _ = decode_html(bytes(row["html"]))
        if blocks_key(segment(text)) != blocks_key(segment_spec(text)):
            diffs.append(row["url"])
    assert diffs == []


_TAGS = ["p", "div", "li", "span", "a", "em", "nav", "script", "h2"]
# NOTE: "< " (stray less-than before a space) is included — both tokenizers
# treat it as text.  "<" glued to a letter is EXCLUDED: HTMLParser's
# tolerant grammar parses "<p</div>" as a tag literally named "p<", a
# pathological-input divergence we accept (deterministic on both sides;
# the product contract compares kernel output to the kernel-built oracle,
# which always uses the same tokenizer).  For the same reason an unquoted
# attribute value that ends in "/" is EXCLUDED: HTMLParser keeps the "/"
# of "<img href=a/>" in the value, so the tag does not self-close there,
# while the tokenizers see "/>" (_FUSED_ONLY below).
# A tag whose attributes pass the 4,096-codepoint bound is text to the
# tokenizers and a tag to HTMLParser (test_attribute_bound_counts_codepoints).
#
# The exotic pieces pin the compiled segmenter's hazards: U+017F, U+0130
# and U+0131, which re.I would fold to "s" / "i", do not match those
# letters in the rawtext close, \x1c, \x85 and
# U+3000 are \s there but not whitespace to the replace chain, a comment
# splits "&amp;" into two chunks that never unescape, and "\ud800" is a
# lone surrogate.
_texts = st.lists(
    st.sampled_from(["a", "b", " ", "c", "&amp;", "< ", "&lt;", "é", "\n",
                     "\t", "\r\f\v", ".", "\u017f", "\u0130", "\u0131",
                     "\x1c", "\x85", "\u3000", "&am<!---->p;", "\ud800"]),
    min_size=0, max_size=30,
).map("".join)
# self-closing forms, one per tag class (unknown, block, anchor, drop, void)
_SELF_CLOSING = ["<span/>", "<p/>", "<a />", '<div class="x"/>', "<nav/>",
                 "<br/>", "<script/>"]
# an attribute group of exactly n codepoints (n units: the tag name's
# leading space plus n - 1 multibyte codepoints, 2 to 4 bytes each in
# UTF-8); 4,096 is the bound
_LONG_ATTR = {n: " " + ("é日😀" * n)[:n - 1] for n in (4095, 4096, 4097)}


@st.composite
def html_frag(draw, depth=0, bound=4096):
    if depth > 3:
        return draw(_texts)
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 5))
        if kind == 0:
            parts.append(draw(_texts))
        elif kind == 1:
            tag = draw(st.sampled_from(_TAGS))
            inner = draw(html_frag(depth + 1, bound))  # type: ignore
            attrs = draw(st.sampled_from(["", ' class="x"', ' href="a>b"']))
            parts.append(f"<{tag}{attrs}>{inner}</{tag}>")
        elif kind == 2:
            parts.append("<!-- a comment <p>ignored</p> -->")
        elif kind == 3:
            parts.append("<br>")
        elif kind == 4:
            parts.append(draw(st.sampled_from(_SELF_CLOSING)))
        else:
            n = draw(st.sampled_from([k for k in _LONG_ATTR if k <= bound]))
            tag = draw(st.sampled_from(_TAGS))
            inner = draw(_texts)
            parts.append(f"<{tag}{_LONG_ATTR[n]}>{inner}</{tag}>")
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(frag=html_frag())
def test_random_html_equivalence(frag):
    html = f"<html><body>{frag}</body></html>"
    assert blocks_key(segment(html)) == blocks_key(segment_spec(html))


@settings(max_examples=200, deadline=None)
@given(frag=html_frag())
def test_rawtext_and_misnesting(frag):
    html = (f"<body><script>var a = '<p>not content</p>';</script>"
            f"<div>{frag}</div><p>tail</p></body>")
    assert blocks_key(segment(html)) == blocks_key(segment_spec(html))


class TestPathologicalPayloads:
    def test_unclosed_tag_flood_is_time_bounded(self):
        """A payload of '<p aaa…' fragments with no '>' must segment in
        bounded time (possessive, length-capped attr matching), not
        backtrack quadratically."""
        import time

        from ocrd_calamari_spark.kernel.segment import segment

        bad = ("<p " + "a" * 40) * 5000 + "tail"
        t0 = time.monotonic()
        segment(bad)
        assert time.monotonic() - t0 < 10.0

    def test_one_megabyte_page_extracts(self):
        from ocrd_calamari_spark.config import ExtractConfig
        from ocrd_calamari_spark.kernel.extract import extract_page

        body = "".join(f"<p>{'word ' * 200}end.</p>" for _ in range(900))
        html = f'<html><head><meta charset="utf-8"></head><body><article>{body}</article></body></html>'.encode()
        assert len(html) > 900_000
        row = extract_page("u", html, None, "en", ExtractConfig())
        assert row["error"] is None
        assert row["n_blocks"] == 900
        assert len(row["text"]) > 800_000


def test_rawtext_close_requires_tag_boundary():
    """"</scriptx>" inside a <script> must NOT terminate it (HTMLParser's
    CDATA close needs a [\\t\\n\\r\\f />] boundary after the tag name) —
    fast and spec tokenizers must agree, including on the boundary chars
    themselves and on an unterminated trailing script."""
    cases = [
        '<p>a</p><script>x = "</scriptx>"; y();</script><p>b</p>',
        '<p>a</p><script>x</script ><p>b</p>',
        '<p>a</p><script>x</script\t><p>b</p>',
        '<p>a</p><script>x</script/><p>b</p>',  # NOT a close: cdata to EOF
        '<p>a</p><script>x</ script><p>b</p>',  # \s* before name: closes
        '<p>a</p><script>x</SCRIPT><p>b</p>',   # case-insensitive close
        '<p>a</p><style>s {}</stylesheet> body</style><p>b</p>',
        '<p>a</p><script>no close',
        '<p>a</p><script>tail</script',  # needle at EOF, no boundary char
    ]
    for html in cases:
        assert blocks_key(segment(html)) == blocks_key(segment_spec(html)), html


# ---------------------------------------------------------------------------
# The compiled segmenter: native == fused everywhere
# ---------------------------------------------------------------------------
def test_native_loads_when_cc_present():
    """With a compiler on PATH the native path must load: a silent
    fallback would leave every test below skipped."""
    if shutil.which("cc") is None:
        pytest.skip("no cc on PATH: the compiled segmenter cannot build")
    assert SEG is not None


def test_build_removes_stale_libraries(tmp_path, monkeypatch):
    """A fresh build deletes this machine's libraries of other source
    hashes from its cache dir and keeps other machines' libraries."""
    if shutil.which("cc") is None:
        pytest.skip("no cc on PATH: the compiled segmenter cannot build")
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    stale = tmp_path / ("_segment-%s-%s.so" % ("0" * 16, platform.machine()))
    other = tmp_path / ("_segment-%s-other-machine.so" % ("0" * 16))
    stale.write_bytes(b"")
    other.write_bytes(b"")
    lib = native.build()
    assert os.path.exists(lib)
    assert not stale.exists()
    assert other.exists()


@needs_native
@pytest.mark.parametrize("seed", [0, 7])
def test_corpus_native_equals_fused(seed):
    texts = corpus_texts(1000, seed)
    diffs = [i for i, text in enumerate(texts)
             if not native_equals_fused(text)]
    assert diffs == []


@needs_native
@settings(max_examples=300, deadline=None)
@given(frag=html_frag(bound=4097))
def test_random_html_native_equals_fused(frag):
    html = f"<html><body>{frag}</body></html>"
    assert native_equals_fused(html)


@needs_native
@settings(max_examples=200, deadline=None)
@given(frag=html_frag(bound=4097))
def test_rawtext_and_misnesting_native_equals_fused(frag):
    html = (f"<body><script>var a = '<p>not content</p>';</script>"
            f"<div>{frag}</div><p>tail</p></body>")
    assert native_equals_fused(html)


# re.I folds U+0130 / U+0131 to "i" and U+017F to "s"; HTMLParser's end
# tag name is [a-zA-Z], so none of these closes the element
_RE_I_FOLDS = [
    '<p>a</p><script>x</scrİpt><p>b</p>',
    '<p>a</p><script>x</scrıpt><p>b</p>',
    '<p>a</p><script>x</ſcript><p>b</p>',
    '<p>a</p><style>x</ſtyle><p>b</p>',
    '<p>a</p><script>x</SCRİPT ><p>b</p>',
]
# Each hazard of _segment.c as one page.  fused == spec on these, so
# native == fused == spec.
_HAZARDS = [
    # \s of the rawtext close: \x1c, \x85, U+3000; ASCII-only letters
    '<p>a</p><script>x</script\x1c><p>b</p>',
    '<p>a</p><script>x</\x85script　><p>b</p>',
    '<p>a</p><script>x</scrïpt><p>b</p><script>y</script><p>c</p>',
    '<p>a</p><style>x</stÿle><p>b</p>',
    # letters that re.I folds to ASCII do not close a script or style
    *_RE_I_FOLDS,
    # self-closing tags: the fixed "/>" group
    '<div/>hello<p>world</p>',
    '<div>a<p/>bbb more</div>',
    '<a/>xx<p>link text</p>',
    '<p>a<a href="x" />b</p><div class="x"/>c<nav/>d',
    # entities per chunk: a comment splits "&amp;"
    '<p>x &am<!---->p; y &amp; z</p>',
    '<p><a>&lt;&gt;</a> &#x41;&nbsp;</p>',
    # a lone surrogate
    '<p>a\ud800b</p><p>\udfff</p>',
    # misnesting by name, unknown tags included, case-insensitive
    '<div><custom-el><p>a</DIV>b</custom-el>c</div><p>d</p>',
    '<DiV><p>a</div><p>b</P></dIv>',
    # comments, cdata, declarations and processing instructions
    '<p>a<!--x-->b<![CDATA[c]]>d<!doctype x>e<?pi x?>f</p>',
    '<p>a<!-->b</p><p>c<!--->d</p>',
]
# Hazards where fused and spec part (pathological input, accepted like
# "<p<"), so only native == fused is pinned.  An unterminated "<![CDATA["
# is a declaration up to the next ">" for the tokenizers, and HTMLParser
# reads it another way.  An unquoted attribute value that ends in "/"
# keeps the "/" in HTMLParser, so "<p href=a/>" opens a p there, while
# the tokenizers read "/>" and close it at once (no generated page holds
# "/>").
_FUSED_ONLY = [
    '<p>a<![CDATA[b</p><p>c</p>',
    '<div><p href=a/>x</div>',
    '<p><a href=a/>x</p>y</p>',
]


@pytest.mark.parametrize("html", _HAZARDS)
def test_hazards_fused_equals_spec(html):
    assert blocks_key(_segment_fused(html)) == blocks_key(segment_spec(html))


@needs_native
@pytest.mark.parametrize("html", _HAZARDS + _FUSED_ONLY)
def test_hazards_native_equals_fused(html):
    assert native_equals_fused(html)


def test_rawtext_close_folds_like_re():
    """HTMLParser reads "</scrİpt>" (and "</ſcript>", "</scrıpt>") as data,
    because its end-tag name is [a-zA-Z]: the script stays open to the
    end, and so it does in the fused loop and in C."""
    for html in _RE_I_FOLDS:
        assert [b[3] for b in blocks_key(segment_spec(html))] == ["a"]
        assert [b[3] for b in blocks_key(_segment_fused(html))] == ["a"]


@pytest.mark.parametrize("n", sorted(_LONG_ATTR))
def test_attribute_bound_counts_codepoints(n):
    """The bound is 4,096 units of codepoints (multibyte ones included):
    at 4,095 and 4,096 the tag is a tag, at 4,097 it is text."""
    html = f"<div><p{_LONG_ATTR[n]}>hello</p></div>"
    fused = blocks_key(_segment_fused(html))
    if n <= 4096:
        assert fused == blocks_key(segment_spec(html))
        assert [b[1] for b in fused] == ["p"]
    else:
        assert [b[1] for b in fused] == ["div"]
    if SEG is not None:
        assert native_equals_fused(html)


# ---------------------------------------------------------------------------
# Bounds: one page never kills a worker
# ---------------------------------------------------------------------------
_BOUND_PAGES = {
    "unclosed_tag_flood": ("<p " + "a" * 40) * 5000 + "tail",
    "nested_divs": "<div>x" * 100_000,
    "one_mb_no_gt": ("<div " + "x" * 4090) * 256,
    "latin1_bytes": random.Random(0).randbytes(1 << 20).decode("latin-1"),
}


@needs_native
@pytest.mark.parametrize("name", sorted(_BOUND_PAGES))
def test_bound_pages_native_equals_fused(name):
    html = _BOUND_PAGES[name]
    assert native_equals_fused(html)


@needs_native
def test_capacity_overflow_is_an_error_code():
    """Given a cap below the page's count of "<", the batch pass leaves the
    page to Python (P_PYTHON) and writes nothing past the scratch it was
    given; so does a scratch smaller than the stated cap needs."""
    html = "<div><p>a</p>" * 50 + "</div>"
    data = html.encode(native._CODEC, "surrogatepass")
    page_off = np.array([0, len(html)], np.int64)
    n_rows = html.count("<")
    rows = np.empty((n_rows, native.ROW), np.int32)
    toff = np.empty(n_rows + 1, np.int64)
    text = np.empty(len(html) + n_rows, np.uint32)
    amp = np.empty((n_rows + 1, native.AMP_REC), np.int32)
    status = np.empty(1, np.int8)
    counts = np.zeros(3, np.int64)

    def run(cap, scratch_len):
        scratch = np.full(scratch_len + 64, 0x5A5A5A5A, np.int32)
        caps = np.array([cap], np.int32)
        rc = SEG._lib.ocs_segment_batch(
            data, page_off.ctypes.data, caps.ctypes.data, 1,
            _CTRL_FRACTION_LIMIT, scratch.ctypes.data, scratch_len,
            rows.ctypes.data, toff.ctypes.data, len(rows), text.ctypes.data,
            len(text), amp.ctypes.data, len(amp), status.ctypes.data,
            counts.ctypes.data)
        assert rc == 0
        assert status.tolist() == [native.P_PYTHON]
        assert counts.tolist() == [0, 0, 0]
        assert (scratch[scratch_len:] == 0x5A5A5A5A).all()

    for cap in (0, 1, 10, 50):
        run(cap, SEG._per_tag * (cap + 1))
    run(n_rows, 10)


# ---------------------------------------------------------------------------
# The control-char count of the compiled pass ≡ extract._looks_binary
# ---------------------------------------------------------------------------
# the edges of [\x00-\x08\x0e-\x1f] and chars that are one codepoint but
# several UTF-8 or UTF-16 units (astral, lone surrogates)
_CTRL_EDGES = ["\x00", "\x08", "\x09", "\x0d", "\x0e", "\x1f", "\x20", "a",
               "<p>", "\x7f", "\x85", "é", "😀", "\ud800", "\udfff"]


@st.composite
def ctrl_texts(draw):
    pattern = "".join(draw(st.lists(st.sampled_from(_CTRL_EDGES),
                                    min_size=1, max_size=40)))
    n = draw(st.sampled_from([None, 4095, 4096, 4097]))
    if n is None:
        return pattern
    text = (pattern * (n // len(pattern) + 1))[:n]
    # a control char as the last codepoint: inside the head at 4,095 and
    # 4,096, just past it at 4,097
    return text[:-1] + draw(st.sampled_from(["\x00", "\x1f", "a"]))


@needs_native
@settings(max_examples=300, deadline=None)
@given(text=ctrl_texts())
def test_ctrl_count_matches_regex(text):
    """The batch pass's control-char count of the page head ≡ ``_CTRL_RE``:
    a page is P_BINARY exactly when ``_looks_binary`` holds."""
    status = SEG.segment_batch([text], _CTRL_FRACTION_LIMIT)[4]
    assert (status[0] == native.P_BINARY) == _looks_binary(text)


@settings(max_examples=200, deadline=None)
@given(text=ctrl_texts(), native_path=st.booleans())
# 819 of the 4,096 head codepoints (just under the 0.20 limit), then more
# past the head; 820 of 4,096 (just over it)
@example(text="a" * 3277 + "\x00" * 2000, native_path=True)
@example(text="\x00" * 820 + "a" * 3276, native_path=True)
def test_reject_binary_matches_looks_binary(text, native_path):
    """The batch pass gives a page extract_page's binary-payload error
    exactly when ``_looks_binary`` holds, on the compiled path (P_BINARY)
    and on the Python path, and otherwise ``segment()``'s columns."""
    from unittest import mock

    if native_path and SEG is None:
        return
    with mock.patch.object(native, "load",
                           native.load if native_path else lambda: None):
        assert batch_rows([text]) == [spec_rows(text)]
    if _looks_binary(text):
        assert spec_rows(text) == ("ValueError: binary payload "
                                   "(control-char fraction exceeded)")
