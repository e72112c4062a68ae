"""operators/warc — WARC (ISO 28500) crawl-archive record parsing."""

from __future__ import annotations

import gzip

from flycatcher_spark import plans
from flycatcher_spark.operators import warc


def _rec(rtype=b"response", uri=b"http://e.com/", body=b"hello",
         version=b"WARC/1.0", clen=None):
    head = [version, b"WARC-Type: " + rtype]
    if uri is not None:
        head.append(b"WARC-Target-URI: " + uri)
    head.append(
        b"Content-Length: %d" % (len(body) if clen is None else clen)
    )
    return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"


class TestParseWarc:
    def test_multi_record_walk(self):
        buf = _rec(body=b"one") + _rec(body=b"second body", uri=b"http://e.com/2")
        recs = warc.parse_warc(buf)
        assert [r["body"] for r in recs] == [b"one", b"second body"]
        assert recs[1]["target_uri"] == "http://e.com/2"
        assert recs[0]["content_length"] == 3

    def test_body_may_contain_header_like_bytes(self):
        # Content-Length drives the walk — a body containing
        # "WARC/1.0" or CRLFCRLF must not confuse record boundaries
        tricky = b"WARC/1.0\r\n\r\nfake"
        buf = _rec(body=tricky) + _rec(body=b"next")
        recs = warc.parse_warc(buf)
        assert [r["body"] for r in recs] == [tricky, b"next"]

    def test_gzip_whole_and_members(self):
        plain = _rec(body=b"a") + _rec(body=b"bb")
        whole = gzip.compress(plain, mtime=0)
        members = gzip.compress(_rec(body=b"a"), mtime=0) + gzip.compress(
            _rec(body=b"bb"), mtime=0
        )
        for buf in (plain, whole, members):
            assert [r["body"] for r in warc.parse_warc(buf)] == [b"a", b"bb"]

    def test_corrupt_returns_none(self):
        assert warc.parse_warc(None) is None
        assert warc.parse_warc(b"HTTP/1.1 200 OK\r\n\r\n") is None
        # truncated block: declared length exceeds payload
        assert warc.parse_warc(_rec(body=b"hello", clen=99)) is None
        # bad version, missing/invalid length, negative length
        assert warc.parse_warc(_rec(version=b"WARC/2.0")) is None
        bad = _rec().replace(b"Content-Length: 5", b"Content-Length: x")
        assert warc.parse_warc(bad) is None
        bad2 = _rec().replace(b"Content-Length: 5\r\n", b"")
        assert warc.parse_warc(bad2) is None
        # corrupt gzip stream
        assert warc.parse_warc(b"\x1f\x8bnot really gzip") is None
        # truncated gzip member
        assert warc.parse_warc(gzip.compress(_rec(), mtime=0)[:-4]) is None

    def test_padding_tolerated(self):
        buf = _rec(body=b"a") + b"\r\n\r\n" + _rec(body=b"b")
        assert [r["body"] for r in warc.parse_warc(buf)] == [b"a", b"b"]


class TestWarcRecordsStage:
    def test_fixture_roundtrip_all_gzip_modes(self, spark):
        df = spark.createDataFrame([(i,) for i in (0, 4, 11)], "doc_id long")
        expected = None
        for mode in ("none", "whole", "members"):
            rows = sorted(
                (r["doc_id"], r["rec_idx"], r["rec_type"], r["target_uri"],
                 r["content_length"], bytes(r["body"]))
                for r in warc.warc_records(
                    warc.make_warc_payload(df, gzip_mode=mode)
                ).collect()
            )
            if expected is None:
                expected = rows
            assert rows == expected, mode
        # closed-form check for one doc: id=4 -> warcinfo + 2 responses
        got4 = [r for r in expected if r[0] == 4]
        assert [r[2] for r in got4] == ["warcinfo", "response", "response"]
        assert got4[1][3] == "http://example.com/4/0"
        assert got4[1][5] == b"body 4 0 xxxx"

    def test_corrupt_archive_yields_attributable_null_row(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"not a warc")), (2, None)],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in warc.warc_records(df).collect()}
        assert rows[1]["rec_idx"] is None and rows[1]["body"] is None
        assert rows[2]["rec_idx"] is None

    def test_map_only_plan(self, spark):
        df = warc.make_warc_payload(
            spark.createDataFrame([(1,)], "doc_id long")
        )
        out = warc.warc_records(df)
        plans.assert_no_shuffle(out)

    def test_unknown_gzip_mode_raises(self, spark):
        import pytest

        df = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="gzip_mode"):
            warc.make_warc_payload(df, gzip_mode="zstd")


class TestCdxIndex:
    def test_known_answer_fields(self, spark):
        rows = [
            ("response", "HTTPS://Blog.Example.com:8443/A/?b=2&a=1#f",
             "2024-03-05T06:07:08Z", bytearray(b"hi")),
            ("response", "http://example.com:80/", "2024-01-01T00:00:00Z",
             bytearray(b"x")),
            ("request", "http://skip.me/", "2024-01-01T00:00:00Z",
             bytearray(b"")),
        ]
        df = spark.createDataFrame(
            rows,
            "rec_type string, target_uri string, warc_date string, body binary",
        )
        out = {r.surt_key: r for r in warc.cdx_index(df).collect()}
        assert set(out) == {
            "com,example,blog:8443)/A?a=1&b=2",  # request row filtered
            "com,example)/",
        }
        r = out["com,example,blog:8443)/A?a=1&b=2"]
        assert r.ts14 == "20240305060708"
        assert r.url == "https://blog.example.com:8443/A?a=1&b=2"
        assert r.length == 2
        import hashlib

        assert r.digest == hashlib.md5(b"hi").hexdigest()

    def test_composes_with_warc_records(self, spark):
        df = spark.createDataFrame([(4,)], "doc_id long")
        recs = warc.warc_records(warc.make_warc_payload(df, gzip_mode="members"))
        keys = sorted(r.surt_key for r in warc.cdx_index(recs).collect())
        assert keys == ["com,example)/4/0", "com,example)/4/1"]


class TestWriteWet:
    """r8 write side: extracted text re-packed as Common-Crawl-layout
    WET archives, read back by the same ingest."""

    def _pages(self, spark, n=23):
        rows = [(f"http://h{i % 4}.com/p{i}", f"text of page {i}")
                for i in range(n)]
        return rows, spark.createDataFrame(rows, ["url", "text"])

    def test_round_trip_identity_both_gzip_modes(self, spark):
        rows, pages = self._pages(spark)
        for gz in ("none", "members"):
            shards = warc.write_wet(pages, records_per_shard=10,
                                    gzip_mode=gz)
            back = warc.warc_records(shards, id_col="shard_id").collect()
            conv = {r.target_uri: bytes(r.body).decode()
                    for r in back if r.rec_type == "conversion"}
            assert conv == dict(rows), gz
            # every shard led by one warcinfo at rec_idx 0
            info = [r for r in back if r.rec_type == "warcinfo"]
            assert {r.shard_id for r in info} == {0, 1, 2}
            assert all(r.rec_idx == 0 for r in info)

    def test_shards_exactly_size_bounded(self, spark):
        _, pages = self._pages(spark, n=23)
        shards = warc.write_wet(pages, records_per_shard=10)
        sizes = {r.shard_id: r.n_records for r in shards.collect()}
        # +1 = the warcinfo record
        assert sizes == {0: 11, 1: 11, 2: 4}

    def test_byte_reproducible_and_seeded(self, spark):
        _, pages = self._pages(spark)
        a = {(r.shard_id, r.n_bytes)
             for r in warc.write_wet(pages, records_per_shard=10).collect()}
        b = {(r.shard_id, r.n_bytes)
             for r in warc.write_wet(pages, records_per_shard=10).collect()}
        assert a == b
        c = {(r.shard_id, r.n_bytes)
             for r in warc.write_wet(pages, records_per_shard=10,
                                     seed="epoch1").collect()}
        assert c != a

    def test_content_length_is_bytes_not_chars(self, spark):
        pages = spark.createDataFrame(
            [("http://h.com/u", "café")], ["url", "text"]
        )
        back = warc.warc_records(
            warc.write_wet(pages, records_per_shard=10),
            id_col="shard_id",
        ).collect()
        conv = [r for r in back if r.rec_type == "conversion"][0]
        assert conv.content_length == 5  # é is 2 bytes in UTF-8

    def test_bad_gzip_mode_raises(self, spark):
        _, pages = self._pages(spark, n=2)
        import pytest

        with pytest.raises(ValueError, match="gzip_mode"):
            warc.write_wet(pages, gzip_mode="whole")


# ---------------------------------------------------------------------------
# r9: HTTP-layer decode of response record bodies
# ---------------------------------------------------------------------------
class TestParseHttpResponse:
    def _chunked(self, payload: bytes, ext: bool = True) -> bytes:
        cut = min(5, len(payload))
        first, rest = payload[:cut], payload[cut:]
        out = (b"%x" % len(first)) + (b";ext=1" if ext else b"") + b"\r\n"
        out += first + b"\r\n"
        if rest:
            out += b"%x\r\n" % len(rest) + rest + b"\r\n"
        return out + b"0\r\nX-Trailer: t\r\n\r\n"

    def test_identity_status_headers_charset(self):
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Server: x\r\n\r\n" + "café".encode("utf-8")
        )
        assert (m["status"], m["reason"]) == (200, "OK")
        assert m["content_type"] == "text/html"
        assert m["charset"] == "utf-8"
        assert m["text"] == "café"
        assert m["headers"]["server"] == "x"

    def test_chunked_with_extension_and_trailer(self):
        body = b"hello, chunked world"
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + self._chunked(body)
        )
        assert m["payload"] == body
        assert m["headers"]["transfer-encoding"] == "chunked"

    def test_chunked_single_chunk_immediate_end(self):
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"3\r\nabc\r\n0\r\n\r\n"
        )
        assert m["payload"] == b"abc"

    def test_gzip_and_xgzip(self):
        for label in (b"gzip", b"x-gzip"):
            m = warc.parse_http_response(
                b"HTTP/1.1 200 OK\r\nContent-Encoding: " + label
                + b"\r\n\r\n" + gzip.compress(b"zipped", mtime=0)
            )
            assert m["payload"] == b"zipped"

    def test_deflate_both_forms(self):
        import zlib

        zl = zlib.compress(b"zlib-wrapped")
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + zl
        )
        assert m["payload"] == b"zlib-wrapped"
        c = zlib.compressobj(wbits=-15)
        raw = c.compress(b"raw-deflate") + c.flush()
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + raw
        )
        assert m["payload"] == b"raw-deflate"

    def test_chunked_over_gzip_common_crawl_double(self):
        m = warc.parse_http_response(
            b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n"
            b"Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n"
            + self._chunked(gzip.compress(b"double decoded", mtime=0))
        )
        assert (m["status"], m["text"]) == (404, "double decoded")
        assert m["charset"] == "iso-8859-1"  # HTTP default

    def test_obs_fold_continuation(self):
        m = warc.parse_http_response(
            b"HTTP/1.0 200 OK\r\nX-Long: part one\r\n\tpart two\r\n\r\nx"
        )
        assert m["headers"]["x-long"] == "part one part two"

    def test_quoted_and_unknown_charsets(self):
        m = warc.parse_http_response(
            b'HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="latin-1"\r\n\r\n\xe9'
        )
        assert m["charset"] == "latin-1" and m["text"] == "\xe9"
        m = warc.parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=bogus\r\n\r\n\xe9"
        )
        assert m["charset"] == "iso-8859-1" and m["text"] == "\xe9"

    def test_reason_optional(self):
        m = warc.parse_http_response(b"HTTP/1.1 204\r\n\r\n")
        assert (m["status"], m["reason"], m["payload"]) == (204, "", b"")

    def test_honest_none_matrix(self):
        p = warc.parse_http_response
        assert p(None) is None
        assert p(b"") is None
        assert p(b"not http at all") is None
        assert p(b"HTTP/2 200\r\n\r\nx") is None  # subset is 1.x
        # bad chunk size token
        chunked = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        assert p(chunked + b"zz\r\nx") is None
        # truncated chunk
        assert p(chunked + b"ff\r\nshort") is None
        # unknown transfer/content encodings
        assert p(b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\nx") is None
        assert p(b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nx") is None
        # corrupt gzip
        assert p(b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnotgz") is None
        # header line without a colon
        assert p(b"HTTP/1.1 200 OK\r\nbadline\r\n\r\nx") is None


class TestHttpResponsesStage:
    def test_fixture_closed_form(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(12)], "doc_id long"
        )
        recs = warc.warc_records(warc.make_http_warc_payload(docs))
        out = warc.http_responses(
            recs, passthrough=["rec_idx", "target_uri"]
        ).collect()
        assert len(out) == 36
        for r in out:
            i, j = r.doc_id, r.rec_idx
            want = f"Doc {i} rec {j} n {(i * 11 + j) % 89}" + (
                " é" if j < 2 else ""
            )
            assert r.text == want, (i, j)
            assert r.status == [200, 301, 404][j]
            assert r.charset == ["utf-8", "latin-1", "iso-8859-1"][j]
            assert r.content_type == (
                "text/plain" if j == 2 else "text/html"
            )
            assert r.target_uri == f"http://example.com/{i}/{j}"
            assert r.n_payload_bytes == len(
                want.encode("utf-8" if j == 0 else "latin-1")
            )

    def test_malformed_body_yields_null_columns(self, spark):
        df = spark.createDataFrame(
            [(1, b"not an http message"), (2, None)],
            "doc_id long, body binary",
        )
        rows = warc.http_responses(df).collect()
        assert len(rows) == 2
        assert all(r.status is None and r.text is None for r in rows)

    def test_stage_is_map_only(self, spark):
        docs = spark.createDataFrame([(1,)], "doc_id long")
        out = warc.http_responses(
            warc.warc_records(warc.make_http_warc_payload(docs))
        )
        rep = plans.plan_report(out)
        assert rep.n_shuffles == 0

    def test_composes_into_html_to_text(self, spark):
        # the real WET flow: HTTP decode -> html_to_text over `text`
        from pyspark.sql import functions as F

        from flycatcher_spark.operators import web

        df = spark.createDataFrame(
            [(1, b"HTTP/1.1 200 OK\r\n"
                 b"Content-Type: text/html; charset=utf-8\r\n\r\n"
                 b"<html><body><p>hello <b>crawl</b></p></body></html>")],
            "doc_id long, body binary",
        )
        out = warc.http_responses(df).select(
            "doc_id", web.html_to_text(F.col("text")).alias("t")
        ).first()
        assert out.t == "hello crawl"


# ---------------------------------------------------------------------------
# r9: WAT write side — the third leg of the WARC/WAT/WET triple
# ---------------------------------------------------------------------------
class TestWriteWat:
    def _pages(self, spark, n=25):
        from pyspark.sql import functions as F

        return spark.range(n).select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("uri"),
            F.lit(200).cast("long").alias("status"),
            F.lit("text/html").alias("content_type"),
            F.concat(F.lit("T"), F.col("id")).alias("title"),
            F.array(
                F.concat(F.lit("http://l/"), F.col("id")),
                F.lit("http://l/x"),
            ).alias("links"),
        )

    def test_round_trip_fields(self, spark):
        pages = self._pages(spark)
        shards = warc.write_wat(pages, records_per_shard=10)
        back = warc.wat_metadata(
            warc.warc_records(shards, id_col="shard_id")
        )
        rows = [r for r in back.collect() if r.rec_type == "metadata"]
        assert len(rows) == 25
        for r in rows:
            i = int(r.target_uri.rsplit("/", 1)[1])
            assert r.status == 200
            assert r.resp_content_type == "text/html"
            assert r.title == f"T{i}"
            assert r.links == [f"http://l/{i}", "http://l/x"]

    def test_gzip_members_layout(self, spark):
        pages = self._pages(spark, 8)
        shards = warc.write_wat(
            pages, records_per_shard=100, gzip_mode="members"
        )
        row = shards.first()
        assert bytes(row.payload[:2]) == b"\x1f\x8b"
        back = warc.warc_records(shards, id_col="shard_id")
        assert back.where("rec_type = 'metadata'").count() == 8

    def test_envelope_is_canonical_json(self, spark):
        import json

        pages = self._pages(spark, 3)
        shards = warc.write_wat(pages, records_per_shard=100)
        recs = warc.parse_warc(bytes(shards.first().payload))
        meta = [r for r in recs if r["rec_type"] == "metadata"]
        for r in meta:
            env = json.loads(r["body"])
            # canonical form: re-dumping with sorted keys is identical
            assert json.dumps(
                env, sort_keys=True, separators=(",", ":")
            ).encode() == r["body"]
            http = env["Envelope"]["Payload-Metadata"][
                "HTTP-Response-Metadata"
            ]
            assert http["Response-Message"]["Status"] == "200"
            assert env["Envelope"]["WARC-Header-Metadata"][
                "WARC-Type"
            ] == "response"

    def test_shard_assignment_matches_independent_replay(self, spark):
        import hashlib

        pages = self._pages(spark, 30)
        shards = warc.write_wat(pages, records_per_shard=10, seed="s9")
        back = warc.warc_records(shards, id_col="shard_id")
        got = {
            r.target_uri: (r.shard_id, r.rec_idx)
            for r in back.collect()
            if r.rec_type == "metadata"
        }
        uris = sorted(
            (hashlib.md5(f"s9:http://h/{i}".encode()).hexdigest(),
             f"http://h/{i}")
            for i in range(30)
        )
        for pos, (_, uri) in enumerate(uris):
            assert got[uri] == (pos // 10, pos % 10 + 1), uri

    def test_null_title_and_links(self, spark):
        from pyspark.sql import functions as F

        pages = spark.range(2).select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("uri"),
            F.lit(404).cast("long").alias("status"),
            F.lit("text/plain").alias("content_type"),
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("array<string>").alias("links"),
        )
        back = warc.wat_metadata(
            warc.warc_records(
                warc.write_wat(pages, records_per_shard=10),
                id_col="shard_id",
            )
        ).where("rec_type = 'metadata'")
        for r in back.collect():
            assert r.status == 404
            assert r.title is None
            assert r.links == []

    def test_wat_reader_is_jvm_only(self, spark):
        from flycatcher_spark import plans

        pages = self._pages(spark, 4)
        back = warc.warc_records(
            warc.write_wat(pages, records_per_shard=10),
            id_col="shard_id",
        )
        out = warc.wat_metadata(back)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # from_json runs JVM-side: the only Python stages are the
        # upstream writer/reader Arrow kernels, no BatchEvalPython
        assert "BatchEvalPython" not in plan
        assert plans.plan_report(out) is not None


class TestDecompressionBombGuard:
    """ADVICE r9: untrusted gzip/deflate must be output-capped —
    a small compression bomb must read as corrupt (None), not expand
    fully in executor memory."""

    def test_gunzip_members_cap(self):
        import zlib

        bomb = zlib.compress(b"\x00" * 100_000)
        # wrap as a proper gzip member
        import gzip as _gzip

        member = _gzip.compress(b"\x00" * 100_000, mtime=0)
        assert warc._gunzip_members(member, cap=50_000) is None
        assert warc._gunzip_members(member, cap=200_000) == b"\x00" * 100_000
        del bomb

    def test_gunzip_members_cap_is_total_across_members(self):
        import gzip as _gzip

        member = _gzip.compress(b"\x00" * 60_000, mtime=0)
        assert warc._gunzip_members(member * 2, cap=100_000) is None
        assert (
            warc._gunzip_members(member * 2, cap=200_000)
            == b"\x00" * 120_000
        )

    def test_inflate_capped_zlib_and_raw(self):
        import zlib

        data = b"a" * 10_000
        assert warc._inflate_capped(zlib.compress(data), 15, cap=5_000) is None
        assert warc._inflate_capped(zlib.compress(data), 15, cap=20_000) == data
        raw = zlib.compressobj(wbits=-15)
        rawdata = raw.compress(data) + raw.flush()
        assert warc._inflate_capped(rawdata, -15, cap=20_000) == data

    def test_http_gzip_bomb_is_honest_none(self):
        # a real over-cap bomb through the public HTTP path: ~65 MiB
        # of zeros gzips to ~64 KiB; parse_http_response must return
        # None instead of materializing it
        import gzip as _gzip

        bomb = _gzip.compress(b"\x00" * (warc.MAX_DECODED_BYTES + (1 << 20)), mtime=0)
        assert len(bomb) < 1 << 20
        resp = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + bomb
        )
        assert warc.parse_http_response(resp) is None

    def test_http_small_gzip_still_decodes(self):
        import gzip as _gzip

        body = _gzip.compress(b"<html>ok</html>", mtime=0)
        resp = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + body
        )
        out = warc.parse_http_response(resp)
        assert out is not None and out["payload"] == b"<html>ok</html>"


class TestWatNullStatus:
    def test_null_status_row_survives(self, spark):
        # a page with a NULL status must pack as a null Status field
        # (and read back as null through the .cast('long')), not
        # TypeError the whole applyInPandas task
        from pyspark.sql import functions as F

        pages = spark.range(3).select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("uri"),
            F.when(F.col("id") == 1, F.lit(None))
            .otherwise(F.lit(200))
            .cast("long")
            .alias("status"),
            F.lit("text/html").alias("content_type"),
            F.concat(F.lit("T"), F.col("id")).alias("title"),
            F.array(F.lit("http://l/x")).alias("links"),
        )
        shards = warc.write_wat(pages, records_per_shard=10)
        back = warc.wat_metadata(
            warc.warc_records(shards, id_col="shard_id")
        )
        rows = {
            r.target_uri: r.status
            for r in back.collect()
            if r.rec_type == "metadata"
        }
        assert rows == {
            "http://h/0": 200,
            "http://h/1": None,
            "http://h/2": 200,
        }
