"""WARC source: split Common-Crawl-style web archives into pages batches.

The crawl-native input format (ISO 28500): a WARC file is a sequence of
records — `WARC/1.0` header block, CRLFCRLF, `Content-Length` bytes of
body, CRLFCRLF — optionally gzip-compressed with one member per record
(the Common Crawl layout; multi-member gzip decompresses in one call).

Spark shape: `spark.read.format("binaryFile")` gives one row per WARC
file (path, bytes).  The engine's one ``mapInArrow`` function hands each
file to ``records_to_batch``, which splits it and returns its response
records as one Arrow pages batch for the extraction kernel, in the same
task: the html never returns to the JVM and there is no shuffle.  This
module imports no pyspark, so the splitter runs inside the worker with
the kernel's own dependencies only.
Parallelism is file-granular — exactly right for the real corpus shape
(Common Crawl segments are ~1 GB gzip × ~72k files per crawl, far more
files than executor slots, and a file above ``maxPartitionBytes`` is a
task of its own).  Each task holds one file's bytes; executor memory
budgets ≈ concurrent tasks × file size, the same budget every WARC reader
(warcio, FastWARC, Spark binaryFile) carries.  A DSv2 streaming-split
reader would lift the single-file-in-memory bound; the record parser
below would be reused unchanged.

Reference analogue: S1/S3 — the workspace/file-group scan + page payload
load (`ocrd_calamari/recognize.py:110-124` resolves image payloads from
the METS file group; here the payload comes out of the archive record).
"""

from __future__ import annotations

import gzip
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
import pyarrow as pa

_CRLF2 = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the WARC/1.0 version line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers


def iter_warc_records(data: bytes):
    """Yield (headers, body) per WARC record.  Content-Length-driven —
    never scans body bytes for delimiters (bodies may contain CRLFCRLF).

    A record whose Content-Length is not ASCII digits is skipped: its
    body length is unknown, so the reader resumes at the next line after
    its header block that starts with ``WARC/1.``, and stops when there
    is none.  A skipped record is not yielded, so it takes no index in
    ``records_to_rows`` / ``records_to_batch``: a later record's
    ``_src_row`` is its position among the yielded records (one lower
    for each skipped record before it)."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start == -1:
            return
        hdr_end = data.find(_CRLF2, start)
        if hdr_end == -1:
            return
        headers = _parse_headers(data[start:hdr_end])
        raw = headers.get(b"content-length", b"")
        if not raw.isdigit():  # int() would take a sign: "-1000" loops
            nxt = data.find(b"\nWARC/1.", hdr_end)
            if nxt == -1:
                return
            pos = nxt + 1
            continue
        length = int(raw)
        body_start = hdr_end + len(_CRLF2)
        yield headers, data[body_start:body_start + length]
        pos = body_start + length


def _dechunk(data: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (size-hex CRLF chunk CRLF
    ... 0 CRLF [trailers] CRLF).  Malformed framing returns what decoded
    so far plus the remainder raw — never raises (error rows are the
    kernel's job, not the reader's)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        eol = data.find(b"\r\n", pos)
        if eol == -1:
            out += data[pos:]
            break
        size_token = data[pos:eol].split(b";", 1)[0].strip()
        # hex digits only: int(x, 16) would also take "-", "+", "0x" and
        # "_", and a negative size sends pos back to this line forever
        if not size_token or size_token.strip(b"0123456789abcdefABCDEF"):
            out += data[pos:]
            break
        size = int(size_token, 16)
        if size == 0:
            break  # terminal chunk; ignore trailers
        start = eol + 2
        out += data[start:start + size]
        pos = start + size + 2  # skip chunk-data CRLF
    return bytes(out)


def _http_payload(body: bytes) -> bytes:
    """application/http response body → entity bytes.

    Real crawl records carry Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate (the Common Crawl default is
    identity-at-capture, but chunked + gzip appear throughout) — both are
    undone here so the html column holds markup bytes, not framing or
    compressed streams.  Decode failures fall back to the raw payload
    (the kernel's binary-payload guard turns those into error rows).
    """
    sep = body.find(_CRLF2)
    if sep == -1:
        return body
    head = body[:sep].lower()
    payload = body[sep + len(_CRLF2):]
    headers = {}
    for line in head.split(b"\r\n")[1:]:
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip()] = v.strip()
    if b"chunked" in headers.get(b"transfer-encoding", b""):
        payload = _dechunk(payload)
    enc = headers.get(b"content-encoding", b"")
    if b"gzip" in enc or b"x-gzip" in enc:
        payload = _bounded_inflate(payload, 16 + 15)  # gzip wrapper
    elif b"deflate" in enc:
        out = _bounded_inflate(payload, 15)  # zlib wrapper
        if out is payload:  # some servers send raw deflate
            out = _bounded_inflate(payload, -15)
        payload = out
    return payload


_MAX_ENTITY_BYTES = 64 << 20  # decompression-bomb cap per record


def _bounded_inflate(data: bytes, wbits: int) -> bytes:
    """Size-capped decompress: a hostile record must not be able to
    amplify a small compressed body into gigabytes inside an executor
    (gzip allows ~1000×).  Overflow or decode failure returns the raw
    bytes — the kernel's binary-payload guard turns those into error
    rows."""
    import zlib

    try:
        d = zlib.decompressobj(wbits)
        out = d.decompress(data, _MAX_ENTITY_BYTES)
        if d.unconsumed_tail:
            return data  # would exceed the cap → refuse to expand
        return out
    except zlib.error:
        return data


def _warc_ts(headers: dict):
    raw = headers.get(b"warc-date")
    if not raw:
        return None
    try:
        return datetime.fromisoformat(
            raw.decode("ascii").replace("Z", "+00:00")
        ).astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        return None


# file-level decompression-bomb cap: 128× the per-record entity cap
# (8 GiB).  A legitimate CC segment is ~1 GB compressed and inflates to a
# few GB — the cap must sit comfortably ABOVE that (a too-tight cap fails
# valid input), while still stopping a hostile archive from amplifying
# arbitrarily into executor memory (gzip allows ~1000×).
_MAX_FILE_BYTES = 128 * _MAX_ENTITY_BYTES


def _bounded_gunzip_members(data: bytes, max_total: int) -> bytes:
    """Incrementally inflate a (possibly multi-member) gzip stream with a
    cumulative output cap.

    The Common Crawl layout gzips one member per record, so members are
    walked via ``decompressobj.unused_data``; within a member, output is
    drained in ≤8 MiB pieces through ``unconsumed_tail`` — at no point
    does more than ``max_total`` (+ one piece) exist in memory, unlike a
    whole-file ``gzip.decompress`` whose output is unbounded before any
    record-level cap can apply.  Exceeding the cap raises ValueError (a
    clear per-file task error beats a silent executor OOM).

    Corruption vs trailer padding: leftover bytes that do NOT start with
    the gzip magic are trailer garbage (padded archives exist in the
    wild) and end the walk silently; a zlib error INSIDE a member that
    did start with the magic is real corruption and raises — silently
    returning a prefix there would drop the rest of the file's records
    from the corpus with no error anywhere.
    """
    import zlib

    out = bytearray()
    buf = data
    piece = 8 << 20
    while buf:
        if not buf.startswith(b"\x1f\x8b"):
            return bytes(out)  # trailer garbage after the last member
        d = zlib.decompressobj(16 + 15)  # gzip wrapper
        tail = buf
        try:
            while True:
                out += d.decompress(tail, piece)
                if len(out) > max_total:
                    raise ValueError(
                        f"gzip archive inflates past the {max_total}-byte "
                        f"file cap — refusing to materialize"
                    )
                if d.eof:
                    buf = d.unused_data
                    break
                if not d.unconsumed_tail:
                    return bytes(out)  # truncated final member: keep output
                tail = d.unconsumed_tail
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member in archive: {exc}") from exc
    return bytes(out)


def _responses(name: str, data: bytes) -> Iterator[tuple]:
    """WARC file bytes → (record index, headers, url, html) per response
    record with a target URI."""
    if name.endswith(".gz"):
        data = _bounded_gunzip_members(data, _MAX_FILE_BYTES)
    for i, (headers, body) in enumerate(iter_warc_records(data)):
        if headers.get(b"warc-type") != b"response":
            continue
        url = headers.get(b"warc-target-uri")
        if url is None:
            continue
        yield i, headers, url.decode("utf-8", "replace"), _http_payload(body)


# The engine reads with ``records_to_batch``.  Outside the tests, the only
# caller left is perfbench's ``_warc_replay`` (``records_to_rows_s``), kept
# until the benchmark times ``records_to_batch`` instead; then this and
# ``_warc_ts`` go.
def records_to_rows(name: str, data: bytes) -> Iterator[dict]:
    """WARC file bytes → pages rows (response records only), with
    (_src_file, _src_row) record lineage — WARC sources have no scan-level
    metadata columns once the bytes pass through the record splitter."""
    for i, headers, url, html in _responses(name, data):
        yield {
            "url": url,
            "warc_ts": _warc_ts(headers),
            "html": html,
            "text": None,
            "lang": None,
            "_src_file": name,
            "_src_row": i,
        }


# The pages batch the extraction kernel reads (schema.KERNEL_INPUT_COLS
# plus the lineage columns of kernel/columnar.py).
_PAGES_BATCH_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("_src_file", pa.string()),
    ("_src_row", pa.int64()),
    ("_part_id", pa.int32()),
])


def records_to_batch(name: str, data: bytes,
                     part_id: int | None = None) -> pa.RecordBatch:
    """WARC file bytes → one Arrow pages batch of its response records:
    the rows of ``records_to_rows`` without ``warc_ts`` (never parsed
    here), plus the file's ``_part_id`` on every record."""
    url, html, row = [], [], []
    for i, _, u, h in _responses(name, data):
        url.append(u)
        html.append(h)
        row.append(i)
    n = len(url)
    return pa.RecordBatch.from_arrays([
        pa.array(url, pa.string()),
        pa.array(html, pa.binary()),
        pa.nulls(n, pa.string()),
        pa.nulls(n, pa.string()),
        pa.array([name] * n, pa.string()),
        pa.array(row, pa.int64()),
        pa.array([part_id] * n, pa.int32()),
    ], schema=_PAGES_BATCH_SCHEMA)


# ---------------------------------------------------------------------------
# Test/bench helper: deterministic WARC writer for a pages DataFrame.
# ---------------------------------------------------------------------------
def write_warc(pages_pdf: pd.DataFrame, path: str,
               compress: bool = False) -> None:
    """pages rows → one WARC file (warcinfo + response records)."""
    out = bytearray()

    import hashlib

    def record(rtype: str, body: bytes, extra: dict) -> bytes:
        rid = hashlib.md5(
            rtype.encode() + extra.get("WARC-Target-URI", "").encode()
        ).hexdigest()
        head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode(),
                b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">"]
        for k, v in extra.items():
            head.append(k.encode() + b": " + v.encode())
        head.append(b"Content-Length: " + str(len(body)).encode())
        return b"\r\n".join(head) + _CRLF2 + body + _CRLF2

    out += record("warcinfo", b"software: ocrd-calamari-spark-gen\r\n",
                  {"WARC-Date": "2024-06-01T00:00:00Z"})
    for _, row in pages_pdf.iterrows():
        payload = bytes(row["html"]) if row["html"] is not None else b""
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(payload)).encode()
                + _CRLF2 + payload)
        ts = row["warc_ts"]
        iso = (pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
               if ts is not None else "2024-06-01T00:00:00Z")
        out += record("response", http, {
            "WARC-Target-URI": row["url"],
            "WARC-Date": iso,
            "Content-Type": "application/http;msgtype=response",
        })
    blob = bytes(out)
    if compress:
        blob = gzip.compress(blob)
    with open(path, "wb") as f:
        f.write(blob)

