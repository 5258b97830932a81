"""WARC source: the record splitter the engine runs (``records_to_batch``,
single-process) on round-trip, gzip members, record lineage and HTTP body
decoding; end-to-end extraction parity with the parquet-sourced
pipeline; the fused archive plan against the single-process oracle over
the pages staged into the archives; and archive-granular resume."""

import gzip
import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.kernel.extract import extract_batch
from ocrd_calamari_spark.pipeline import (
    Manifest,
    extract_df,
    read_output,
    read_pages,
    run_extraction,
    validate_output,
    with_part_id,
)
from ocrd_calamari_spark.schema import LINEAGE_TYPE, OUTPUT_SCHEMA
from ocrd_calamari_spark.sources.warc import (
    _CRLF2,
    iter_warc_records,
    records_to_batch,
    records_to_rows,
    write_warc,
)


def _read(path: str) -> pa.RecordBatch:
    """One archive file through the engine's splitter."""
    with open(path, "rb") as f:
        return records_to_batch(path, f.read())


def _response(url: bytes, http_head: bytes, payload: bytes) -> bytes:
    body = http_head + _CRLF2 + payload
    head = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2024-06-01T00:00:00Z\r\n"
            b"Content-Length: " + str(len(body)).encode())
    return head + _CRLF2 + body + _CRLF2


@pytest.fixture(scope="module")
def warc_path(pages_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    p = str(d / "crawl-00000.warc")
    write_warc(pages_pdf, p)
    return p


class TestWarcRoundTrip:
    def test_read_back_matches_source(self, pages_pdf, warc_path):
        got = _read(warc_path).to_pandas().set_index("url")
        src = pages_pdf.set_index("url")
        assert sorted(got.index) == sorted(src.index)
        for url in src.index:
            a, b = src.loc[url, "html"], got.loc[url, "html"]
            if a is None:
                assert b == b""  # null payload round-trips as empty body
            else:
                assert bytes(a) == bytes(b)
        # the splitter leaves text / lang null: a response record has none
        assert got["text"].isna().all() and got["lang"].isna().all()
        # timestamps survive (second precision)
        with open(warc_path, "rb") as f:
            ts = {r["url"]: r["warc_ts"]
                  for r in records_to_rows(warc_path, f.read())}
        assert ts == src["warc_ts"].to_dict()

    def test_gzip_multimember(self, pages_pdf, tmp_path_factory):
        # per-record gzip members, the Common Crawl layout
        d = tmp_path_factory.mktemp("warcgz")
        plain = str(d / "x.warc")
        write_warc(pages_pdf.head(20), plain)
        data = open(plain, "rb").read()
        recs = list(iter_warc_records(data))
        assert len(recs) == 21  # warcinfo + 20 responses
        # re-frame each record as its own gzip member
        gz = str(d / "x.warc.gz")
        with open(gz, "wb") as f:
            pos = 0
            for _ in recs:
                nxt = data.find(b"WARC/", pos + 1)
                nxt = len(data) if nxt == -1 else nxt
                f.write(gzip.compress(data[pos:nxt]))
                pos = nxt
        assert _read(gz).num_rows == 20

    def test_writer_gzip_mode_round_trips(self, pages_pdf, tmp_path_factory):
        d = tmp_path_factory.mktemp("warcgzw")
        p = str(d / "x.warc.gz")
        write_warc(pages_pdf.head(15), p, compress=True)
        assert _read(p).num_rows == 15

    def test_record_lineage_columns(self, warc_path):
        got = _read(warc_path)
        assert all(f.endswith("crawl-00000.warc")
                   for f in got.column("_src_file").to_pylist())
        idx = got.column("_src_row").to_pylist()
        # record 0 is warcinfo, skipped; then one response per page in
        # write order
        assert idx == list(range(1, got.num_rows + 1))
        assert got.column("_part_id").null_count == got.num_rows

    def test_mixed_container_keeps_only_response_records(
            self, pages_pdf, tmp_path):
        """A concatenated response + conversion + metadata stream: the
        record-type filter, not file naming, decides what the splitter
        keeps."""
        p = str(tmp_path / "mixed.warc")
        write_warc(pages_pdf.head(5), p)
        with open(p, "ab") as f:
            for rtype in (b"conversion", b"metadata"):
                f.write(b"WARC/1.0\r\nWARC-Type: " + rtype + b"\r\n"
                        b"WARC-Target-URI: https://other.example/\r\n"
                        b"Content-Length: 4\r\n\r\nbody\r\n\r\n")
        got = _read(p).column("url").to_pylist()
        assert sorted(got) == sorted(pages_pdf.head(5)["url"])

    def test_malformed_tail_stops_cleanly(self):
        bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"Content-Length: notanumber\r\n\r\nbody")
        assert list(iter_warc_records(bad)) == []
        truncated = b"WARC/1.0\r\nWARC-Type: response"  # no header end
        assert list(iter_warc_records(truncated)) == []
        assert records_to_batch("x.warc", b"").num_rows == 0


class TestFileLevelBombCap:
    def test_bounded_gunzip_equals_stdlib_on_wellformed(self, pages_pdf,
                                                        tmp_path):
        """Incremental member-walking inflate is byte-identical to
        gzip.decompress on well-formed single- and multi-member archives."""
        from ocrd_calamari_spark.sources.warc import _bounded_gunzip_members

        plain = str(tmp_path / "x.warc")
        write_warc(pages_pdf.head(10), plain)
        data = open(plain, "rb").read()
        single = gzip.compress(data)
        multi = gzip.compress(data[:1000]) + gzip.compress(data[1000:])
        cap = 64 << 20
        assert _bounded_gunzip_members(single, cap) == data
        assert _bounded_gunzip_members(multi, cap) == data
        # trailing garbage after the last member is tolerated (stdlib
        # raises here; padded archives exist in the wild)
        assert _bounded_gunzip_members(single + b"\x00garbage", cap) == data

    def test_file_level_bomb_raises_not_materializes(self):
        """A hostile archive inflating past the file cap must raise a clear
        error BEFORE the expansion materializes — never a silent OOM.  The
        inflate drains in ≤8 MiB pieces, so peak memory is cap + one piece
        regardless of the bomb's true size."""
        import pytest as _pytest

        from ocrd_calamari_spark.sources.warc import _bounded_gunzip_members

        bomb = gzip.compress(b"\x00" * (64 << 20))  # 64 MiB → ~64 KiB
        assert len(bomb) < 1 << 20
        with _pytest.raises(ValueError, match="file cap"):
            _bounded_gunzip_members(bomb, max_total=1 << 20)

    def test_records_to_rows_enforces_cap(self, monkeypatch):
        """Both splitters stop at the file cap: ``records_to_batch`` (the
        engine's) and ``records_to_rows`` while it exists."""
        import ocrd_calamari_spark.sources.warc as warc_mod

        bomb = gzip.compress(b"\x00" * (16 << 20))
        monkeypatch.setattr(warc_mod, "_MAX_FILE_BYTES", 1 << 20)
        with pytest.raises(ValueError, match="file cap"):
            records_to_batch("bomb.warc.gz", bomb)
        with pytest.raises(ValueError, match="file cap"):
            list(records_to_rows("bomb.warc.gz", bomb))

    def test_mid_member_corruption_raises_not_silently_truncates(
        self, pages_pdf, tmp_path
    ):
        """A flipped byte INSIDE a gzip member is corruption, not trailer
        padding — returning a partial prefix there would silently drop the
        rest of the file's records from the corpus."""
        from ocrd_calamari_spark.sources.warc import _bounded_gunzip_members

        plain = str(tmp_path / "x.warc")
        write_warc(pages_pdf.head(10), plain)
        data = open(plain, "rb").read()
        m1 = gzip.compress(data[:2000])
        m2 = gzip.compress(data[2000:])
        bad = bytearray(m1 + m2)
        flip = len(m1) + len(m2) // 2  # middle of member 2
        bad[flip] ^= 0xFF
        with pytest.raises(ValueError, match="corrupt gzip member"):
            _bounded_gunzip_members(bytes(bad), 64 << 20)

    def test_legit_sized_archive_passes_cap(self, tmp_path):
        """The file cap must sit ABOVE legitimate Common-Crawl-scale
        inflation (a few GB) — probe with the module constants instead of
        a multi-GB fixture."""
        import ocrd_calamari_spark.sources.warc as w

        assert w._MAX_FILE_BYTES >= 8 << 30

    def test_truncated_member_keeps_decoded_prefix(self, pages_pdf, tmp_path):
        from ocrd_calamari_spark.sources.warc import _bounded_gunzip_members

        plain = str(tmp_path / "x.warc")
        write_warc(pages_pdf.head(5), plain)
        data = open(plain, "rb").read()
        gz = gzip.compress(data)
        got = _bounded_gunzip_members(gz[:-20], 64 << 20)
        assert data.startswith(got) and len(got) > 0


class TestWarcExtractionParity:
    def test_warc_source_output_equals_parquet_source(
        self, spark, pages_parquet, warc_path, tmp_path_factory
    ):
        """run_extraction('warc:...') must produce byte-identical text per
        url to the parquet-sourced run — the source connector cannot leak
        into extraction semantics."""
        d_warc = str(tmp_path_factory.mktemp("outw"))
        d_parq = str(tmp_path_factory.mktemp("outp"))
        m1 = run_extraction(spark, "warc:" + warc_path, d_warc,
                            ExtractConfig(), n_buckets=8, n_chunks=2)
        m2 = run_extraction(spark, pages_parquet, d_parq,
                            ExtractConfig(), n_buckets=8, n_chunks=2)
        assert m1["complete"] and m2["complete"]
        a = (read_output(spark, d_warc).select("url", "text", "conf")
             .toPandas().set_index("url").sort_index())
        b = (read_output(spark, d_parq).select("url", "text", "conf")
             .toPandas().sort_index().set_index("url").sort_index())
        # parquet source carries a pre-existing `text` column (overwrite
        # fixture); WARC has none — compare on the rows where the input
        # text column played no role
        assert (a.index == b.index).all()
        src_text = spark.read.parquet(pages_parquet).select(
            "url", F.col("text").alias("pre")
        ).toPandas().set_index("url")
        fresh = src_text[src_text["pre"].isna()].index
        assert a.loc[fresh, "text"].equals(b.loc[fresh, "text"])
        # WARC-side lineage: every row carries (file, record-index)
        lw = read_output(spark, d_warc)
        n = lw.count()
        assert lw.where(F.col("lineage.file").contains("crawl-00000.warc")
                        & F.col("lineage.row_index").isNotNull()).count() == n


class TestHttpBodyDecoding:
    def test_chunked_and_gzip_bodies(self):
        """Real crawl responses use chunked framing and gzip content
        encoding — the reader must hand the kernel markup bytes."""
        import gzip as _gz

        html = b"<html><body><p>hello chunked world</p></body></html>"
        mid = len(html) // 2
        chunked = (hex(mid)[2:].encode() + b"\r\n" + html[:mid] + b"\r\n"
                   + hex(len(html) - mid)[2:].encode() + b"\r\n" + html[mid:]
                   + b"\r\n0\r\n\r\n")
        gz = _gz.compress(html)
        data = (
            _response(b"http://a/", b"HTTP/1.1 200 OK\r\n"
                   b"Transfer-Encoding: chunked", chunked)
            + _response(b"http://b/", b"HTTP/1.1 200 OK\r\n"
                     b"Content-Encoding: gzip", gz)
            + _response(b"http://c/", b"HTTP/1.1 200 OK\r\n"
                     b"Transfer-Encoding: chunked\r\n"
                     b"Content-Encoding: gzip",
                     hex(len(gz))[2:].encode() + b"\r\n" + gz
                     + b"\r\n0\r\n\r\n")
            + _response(b"http://d/", b"HTTP/1.1 200 OK", html)
        )
        batch = records_to_batch("enc.warc", data)
        got = dict(zip(batch.column("url").to_pylist(),
                       batch.column("html").to_pylist()))
        assert got == {"http://a/": html, "http://b/": html,
                       "http://c/": html, "http://d/": html}

    def test_malformed_encoding_falls_back_to_raw(self):
        from ocrd_calamari_spark.sources.warc import _http_payload

        # declared gzip but not gzip → raw bytes back (kernel will flag)
        body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
                b"NOT GZIP DATA")
        assert _http_payload(body) == b"NOT GZIP DATA"
        # truncated chunk framing → best-effort prefix + remainder
        body2 = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                 b"5\r\nhello")
        assert _http_payload(body2) == b"hello"


def _odd_records() -> list[tuple[bytes, str | None, bytes | None]]:
    """(record, url, html) for warcinfo, request and metadata records
    around chunked, gzip and plain responses, one of them a binary
    (poison) payload.  ``url`` and ``html`` are what the kernel should
    see, None on the records that are not responses."""
    html = b"<html><body><p>fused archive paragraph one</p></body></html>"
    poison = b"\x00\x01\x02\x03" * 512
    gz = gzip.compress(html)
    chunked = (hex(10)[2:].encode() + b"\r\n" + html[:10] + b"\r\n"
               + hex(len(html) - 10)[2:].encode() + b"\r\n" + html[10:]
               + b"\r\n0\r\n\r\n")

    def other(rtype: bytes) -> tuple[bytes, None, None]:
        return (b"WARC/1.0\r\nWARC-Type: " + rtype + b"\r\n"
                b"WARC-Target-URI: https://odd.example/other\r\n"
                b"Content-Length: 4\r\n\r\nbody\r\n\r\n", None, None)

    def response(name: str, http_head: bytes, payload: bytes,
                 html: bytes) -> tuple[bytes, str, bytes]:
        url = "https://odd.example/" + name
        return _response(url.encode(), http_head, payload), url, html

    return [
        (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
         b"software:\r\n\r\n", None, None),
        other(b"request"),
        response("chunked", b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked",
                 chunked, html),
        other(b"metadata"),
        response("gzip", b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip", gz,
                 html),
        response("poison", b"HTTP/1.1 200 OK", poison, poison),
        response("plain", b"HTTP/1.1 200 OK", html, html),
    ]


def _archive_name(k: int) -> str:
    return "part-%02d.warc" % k + (".gz" if k % 2 else "")


def _write_archives(pages, d, n_files: int) -> None:
    """``pages`` spread over ``n_files`` archives, plain and gzip."""
    for k in range(n_files):
        write_warc(pages.iloc[k::n_files], os.path.join(d, _archive_name(k)),
                   compress=bool(k % 2))


def _n_records(path: str) -> int:
    return _read(path).num_rows


def _expected_records(d: str) -> int:
    return sum(_n_records(os.path.join(d, name)) for name in os.listdir(d))


COMPARED = ("text", "conf", "n_blocks", "blocks", "words", "glyphs")


class TestFusedArchivePlan:
    """``extract_df`` over ``read_pages(spark, "warc:…")`` splits and
    extracts in one map; its rows must equal the single-process oracle
    (``extract_batch``) over the staged pages: the pages ``write_warc``
    was given and the odd records' responses, with no prior text and no
    language, as a WARC response record carries them."""

    N_FILES = 3

    @pytest.fixture(scope="class")
    def archive_dir(self, pages_pdf, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("fused"))
        _write_archives(pages_pdf.head(72), d, self.N_FILES)
        # the odd records as a per-record multi-member gzip archive (the
        # Common Crawl layout)
        with open(os.path.join(d, "odd.warc.gz"), "wb") as f:
            f.write(b"".join(gzip.compress(r) for r, _, _ in _odd_records()))
        return d

    @pytest.fixture(scope="class")
    def staged(self, pages_pdf):
        """The staged pages (url, html, text, lang) and each url's
        (archive name, record index in that file)."""
        pages, where = [], {}
        for k in range(self.N_FILES):
            part = pages_pdf.head(72).iloc[k::self.N_FILES]
            # record 0 of a written archive is its warcinfo record
            for i, (url, html) in enumerate(zip(part["url"], part["html"]),
                                            start=1):
                pages.append((url, html))
                where[url] = (_archive_name(k), i)
        for i, (_, url, html) in enumerate(_odd_records()):
            if url is not None:
                pages.append((url, html))
                where[url] = ("odd.warc.gz", i)
        pdf = pd.DataFrame(pages, columns=["url", "html"]).assign(
            text=None, lang=None)
        return pdf, where

    @staticmethod
    def _assert_rows_equal_oracle(rows, staged, cfg):
        pdf, _ = staged
        want = extract_batch(pdf, cfg).to_dict("records")
        assert len(rows) == len(want) == len(pdf)
        by_url = {r["url"]: r for r in rows}
        for rec in want:
            got = by_url[rec["url"]]
            assert (got["error"] is None) == (rec["error"] is None), \
                rec["url"]
            if rec["error"] is None:
                for c in COMPARED:
                    assert got[c] == rec[c], (rec["url"], c)
            else:
                assert got["text"] is None, rec["url"]

    @pytest.mark.parametrize("level", ["block", "word", "glyph"])
    def test_fused_equals_staged_pages_view(self, spark, archive_dir, staged,
                                            level):
        cfg = ExtractConfig(textequiv_level=level)
        fused = extract_df(read_pages(spark, "warc:" + archive_dir), cfg)
        rows = [r.asDict(recursive=True) for r in fused.collect()]
        assert len(rows) == _expected_records(archive_dir)
        self._assert_rows_equal_oracle(rows, staged, cfg)
        by_url = {r["url"]: r for r in rows}
        assert by_url["https://odd.example/poison"]["error"] is not None
        assert any(r["error"] is not None for r in rows
                   if not r["url"].startswith("https://odd."))
        for u in ("chunked", "gzip", "plain"):
            assert by_url["https://odd.example/" + u]["text"] == (
                "fused archive paragraph one")
        # lineage: the archive and the record's index in it
        _, where = staged
        for r in rows:
            name, index = where[r["url"]]
            assert r["lineage"]["file"].endswith("/" + name), r["url"]
            assert r["lineage"]["row_index"] == index, r["url"]
            assert r["lineage"]["part_id"] is not None

    def test_without_lineage_matches_staged(self, spark, archive_dir,
                                            staged):
        cfg = ExtractConfig()
        fused = extract_df(read_pages(spark, "warc:" + archive_dir), cfg,
                           with_lineage=False)
        assert fused.schema.names == OUTPUT_SCHEMA.names
        rows = [r.asDict(recursive=True) for r in fused.collect()]
        self._assert_rows_equal_oracle(rows, staged, cfg)
        nulls = dict.fromkeys(LINEAGE_TYPE.names)
        assert all(r["lineage"] == nulls for r in rows)

    def test_window_on_archives_raises(self, spark, archive_dir):
        for window in ({"since": "2024-01-01"}, {"until": "2024-01-01"}):
            with pytest.raises(ValueError, match="warc_ts"):
                read_pages(spark, "warc:" + archive_dir, **window)


class TestArchiveGranularResume:
    """A ``warc:`` source resumes by whole archive files: every record of
    a file lands in the file's chunk, and a chunk opens only its own
    archives."""

    N_FILES = 6

    @pytest.fixture()
    def archive_dir(self, pages_pdf, tmp_path):
        d = str(tmp_path / "warc")
        os.makedirs(d)
        _write_archives(pages_pdf.head(120), d, self.N_FILES)
        return d

    def test_killed_then_resumed_run_commits_each_archive_once(
            self, spark, archive_dir, tmp_path):
        src = "warc:" + archive_dir
        out = str(tmp_path / "out")
        kw = dict(n_buckets=8, n_chunks=4)
        m1 = run_extraction(spark, src, out, ExtractConfig(),
                            stop_after_chunks=1, **kw)
        assert m1["chunks_this_run"] == 1 and not m1["complete"]
        m2 = run_extraction(spark, src, out, ExtractConfig(), **kw)
        assert m2["complete"]
        assert m1["rows_this_run"] + m2["rows_this_run"] == m2["rows_total"]

        recs = list(Manifest(out).completed().values())
        assert {r["bucket_scheme"] for r in recs} == {"_warc_file"}
        files = [f["file"] for r in recs for f in r["files"]]
        assert len(files) == len(set(files)) == self.N_FILES
        assert sorted(os.path.basename(f) for f in files) == sorted(
            os.listdir(archive_dir))

        n_records = _expected_records(archive_dir)
        res = read_output(spark, out)
        assert res.count() == n_records == m2["rows_total"]
        assert res.groupBy("lineage.file", "lineage.row_index").count() \
            .where("count > 1").count() == 0
        assert validate_output(spark, out)["ok"]

    def test_resume_against_computed_scheme_raises(self, spark, archive_dir,
                                                   tmp_path):
        out = str(tmp_path / "out")
        Manifest(out).commit({
            "chunk_id": 0, "part_ids": [0], "n_buckets": 8,
            "bucket_scheme": "_computed", "source": "warc:" + archive_dir,
            "rows": 0, "failed": 0, "overwrote": 0, "raw_charset": 0,
            "files": [],
        })
        with pytest.raises(ValueError, match="bucket_scheme"):
            run_extraction(spark, "warc:" + archive_dir, out,
                           ExtractConfig(), n_buckets=8, n_chunks=4)

    def test_chunk_opens_only_its_own_archives(self, spark, archive_dir):
        pages = with_part_id(read_pages(spark, "warc:" + archive_dir), 64)
        part = {r["path"]: r["_part_id"]
                for r in pages.select("path", "_part_id").collect()}
        keep = part[min(part)]
        others = [p for p, b in part.items() if b != keep]
        assert others
        # the listing is already cached: a scan that opened another
        # chunk's archive would now fail on the missing file
        for p in others:
            os.remove(p[len("file:"):])
        chunk = pages.where(F.col("_part_id").isin([keep]))
        got = extract_df(chunk, ExtractConfig())
        assert got.count() == sum(_n_records(p[len("file:"):])
                                  for p, b in part.items() if b == keep)
