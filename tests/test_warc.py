"""WARC ingestion (operators/warc.py): record walking, gzip
multi-member inflation, HTTP splitting, HTML→text, and the
distributed read path (binaryFile → mapInPandas → pipeline-ready
rows)."""

from __future__ import annotations

import gzip

import pytest

from scratchdata_spark.operators import warc as W


def _archive(n_pages: int = 3) -> bytes:
    out = [
        W.encode_warc_record(
            "warcinfo", b"software: test\r\n",
            content_type="application/warc-fields",
        )
    ]
    for i in range(n_pages):
        body = (
            f"<html><head><script>junk()</script>"
            f"<style>b{{}}</style></head>"
            f"<body><h1>Page {i}</h1><p>alpha &amp; beta {i}</p>"
            f"</body></html>"
        ).encode()
        out.append(
            W.encode_warc_record(
                "response",
                W.encode_http_response(body),
                target_uri=f"https://example.com/{i}",
            )
        )
    return b"".join(out)


def test_warc_record_walk_and_http_split():
    recs = list(W.iter_warc_records(_archive(2)))
    assert [r["warc_type"] for r in recs] == ["warcinfo", "response", "response"]
    assert recs[1]["target_uri"] == "https://example.com/0"
    status, hh, body = W.parse_http_response(recs[1]["block"])
    assert status == 200
    assert hh["content-type"] == "text/html"
    assert body.startswith(b"<html>")
    # non-HTTP blocks pass through
    s, h, b = W.parse_http_response(b"raw payload")
    assert s is None and h == {} and b == b"raw payload"


def test_warc_gzip_multimember_and_whole_file():
    plain = _archive(2)
    # per-record members (the crawl-writer layout)
    members = b"".join(
        gzip.compress(W.encode_warc_record("response",
                                           W.encode_http_response(b"<p>x</p>"),
                                           target_uri=f"u{i}"))
        for i in range(3)
    )
    assert len(list(W.iter_warc_records(members))) == 3
    # whole-file gzip
    assert len(list(W.iter_warc_records(gzip.compress(plain)))) == 3


def test_warc_html_to_text():
    t = W.html_to_text(
        b"<html><script>var x=1;</script><body>Hello &lt;world&gt;"
        b" <b>bold</b>\n\n  text</body></html>"
    )
    assert t == "Hello <world> bold text"


def test_warc_corruption_refuses():
    good = _archive(1)
    with pytest.raises(ValueError, match="truncated record block"):
        list(W.iter_warc_records(good[: len(good) - 30]))
    with pytest.raises(ValueError, match="bad version line"):
        list(W.iter_warc_records(b"NOTWARC/1.0\r\nfoo: 1\r\n\r\n"))
    nolen = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody"
    with pytest.raises(ValueError, match="Content-Length"):
        list(W.iter_warc_records(nolen))


def test_warc_read_distributed(spark, tmp_path):
    """read_warc over a directory of .warc + .warc.gz files: one row
    per response record, text extracted in-pass, filterable by the
    existing pipeline operators."""
    (tmp_path / "a.warc").write_bytes(_archive(3))
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(_archive(2)))
    df = W.read_warc(spark, str(tmp_path) + "/*")
    rows = sorted(df.collect(), key=lambda r: (r.warc_file, r.target_uri))
    assert len(rows) == 5  # warcinfo records filtered out
    assert all(r.http_status == 200 for r in rows)
    assert all(r.http_content_type == "text/html" for r in rows)
    assert rows[0].text.startswith("Page 0 alpha & beta 0")
    assert all(r.byte_len == len(bytes(r.payload)) for r in rows)
    # pipeline-ready: the text column feeds the existing operators
    from scratchdata_spark.operators.text import quality_score
    from pyspark.sql import functions as F

    scored = df.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(r.q is not None for r in scored)


def test_warc_negative_content_length_refuses():
    """A negative Content-Length must refuse loudly, never walk pos
    backwards into an infinite re-yield of the same record."""
    bad = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -33\r\n\r\nx"
    with pytest.raises(ValueError, match="negative Content-Length"):
        list(W.iter_warc_records(bad))


def test_warc_bare_lf_padding_between_records():
    a = W.encode_warc_record("response", W.encode_http_response(b"<p>a</p>"),
                             target_uri="u0")
    b = W.encode_warc_record("response", W.encode_http_response(b"<p>b</p>"),
                             target_uri="u1")
    recs = list(W.iter_warc_records(a + b"\n" + b))
    assert [r["target_uri"] for r in recs] == ["u0", "u1"]


def test_warc_chunked_and_gzip_bodies_decode():
    """Transfer-Encoding: chunked and Content-Encoding: gzip are
    routine in crawl captures; the HTTP splitter must decode both so
    the text column never scores frame noise or compressed bytes."""
    html = b"<html><body>chunky page body</body></html>"
    chunked = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        + hex(16)[2:].encode() + b"\r\n" + html[:16] + b"\r\n"
        + hex(len(html) - 16)[2:].encode() + b"\r\n" + html[16:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    s, hh, body = W.parse_http_response(chunked)
    assert s == 200 and body == html
    gzipped = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gzip.compress(html)
    )
    s, hh, body = W.parse_http_response(gzipped)
    assert s == 200 and body == html
    # deflate, both zlib-wrapped and raw
    import zlib

    co = zlib.compressobj(wbits=-15)
    raw = co.compress(html) + co.flush()
    for payload in (zlib.compress(html), raw):
        deflated = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + payload
        )
        assert W.parse_http_response(deflated)[2] == html
    # undecodable body degrades to raw bytes, never raises
    broken = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot-gzip"
    )
    assert W.parse_http_response(broken)[2] == b"not-gzip"


def test_warc_hostile_http_bodies_never_hang_or_fail():
    """Negative hex chunk sizes refuse (they walked pos backwards into
    an infinite loop) and truncated gzip degrades to raw bytes
    (EOFError is not an OSError)."""
    neg = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"-6\r\nAAAAAA\r\n0\r\n\r\n"
    )
    s, _, body = W.parse_http_response(neg)
    assert s == 200 and body == b"-6\r\nAAAAAA\r\n0\r\n\r\n"  # raw, no hang
    truncated = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + gzip.compress(b"<p>page</p>")[:-4]
    )
    s, _, body = W.parse_http_response(truncated)
    assert s == 200 and body == gzip.compress(b"<p>page</p>")[:-4]


def test_wet_reader(spark, tmp_path):
    """WET archives (conversion records, text/plain blocks) read
    directly into text rows — no HTML pass, response records in the
    same file ignored."""
    recs = [
        W.encode_warc_record(
            "conversion", f"Extracted   text of page {i}\nline two".encode(),
            target_uri=f"https://example.com/{i}",
            content_type="text/plain",
        )
        for i in range(3)
    ] + [
        W.encode_warc_record(
            "response", W.encode_http_response(b"<p>ignored</p>"),
            target_uri="https://example.com/html",
        )
    ]
    (tmp_path / "c.warc.wet").write_bytes(b"".join(recs))
    rows = sorted(
        W.read_warc(
            spark, str(tmp_path) + "/*", record_types=("conversion",)
        ).collect(),
        key=lambda r: r.target_uri,
    )
    assert len(rows) == 3
    assert rows[0].text == "Extracted text of page 0 line two"
    assert rows[0].http_content_type == "text/plain"
    assert all(r.warc_type == "conversion" for r in rows)


def test_warc_inflation_caps():
    """Gzip bombs refuse at the configured cap instead of inflating
    unboundedly (advisor catch): the archive path raises ValueError,
    and an under-cap archive still inflates fully."""
    import zlib

    bomb = gzip.compress(bytes(1 << 20))  # 1 MiB of zeros, ~1 KiB gz
    with pytest.raises(ValueError, match="exceeds"):
        W._maybe_gunzip(bomb, cap=1 << 16)
    assert W._maybe_gunzip(bomb, cap=1 << 21) == bytes(1 << 20)
    with pytest.raises(ValueError, match="exceeds"):
        W._bounded_inflate(bomb, 16 + zlib.MAX_WBITS, 1 << 16)


def test_warc_body_bomb_degrades_to_raw(monkeypatch):
    """An HTTP body exceeding the inflation cap keeps its raw
    compressed bytes (the existing degrade contract) — never an
    executor-sized inflation; under-cap bodies inflate as before."""
    monkeypatch.setattr(W, "MAX_INFLATED_BODY", 1 << 10)
    big = gzip.compress(b"<p>" + b"a" * (1 << 12) + b"</p>")
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + big
    )
    assert s == 200 and body == big  # raw, not 4 KiB inflated
    small = gzip.compress(b"<p>ok</p>")
    s2, _, b2 = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + small
    )
    assert s2 == 200 and b2 == b"<p>ok</p>"


def test_warc_corrupt_gzip_archive_raises_valueerror():
    """Gzip damage (BadGzipFile/EOFError/zlib.error) normalizes to
    this module's ValueError contract so on_error='skip' quarantines
    corrupt .gz archives like corrupt record structure."""
    with pytest.raises(ValueError, match="corrupt gzip"):
        list(W.iter_warc_records(b"\x1f\x8b" + b"junkjunkjunk"))
    with pytest.raises(ValueError, match="corrupt gzip"):
        list(W.iter_warc_records(gzip.compress(_archive(1))[:-6]))


def test_warc_record_parser_on_error_validates():
    with pytest.raises(ValueError, match="on_error"):
        W.record_parser(on_error="quarantine")


def test_warc_multimember_gzip_body_decodes_fully():
    """Concatenated gzip members in one HTTP body decode end to end
    (gzip.decompress did; a first-member-only inflate silently
    truncated the document — reviewer catch), and the cap spans ALL
    members, not each one."""
    body = gzip.compress(b"member-one ") + gzip.compress(b"member-two")
    s, _, got = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + body
    )
    assert s == 200 and got == b"member-one member-two"
    import zlib

    two = gzip.compress(bytes(600)) + gzip.compress(bytes(600))
    with pytest.raises(ValueError, match="exceeds"):
        W._bounded_inflate(two, 16 + zlib.MAX_WBITS, 1000)
    assert W._bounded_inflate(two, 16 + zlib.MAX_WBITS, 1200) == bytes(1200)


def test_warc_trailing_garbage_after_complete_member_tolerated():
    """Trailing junk after a complete compressed body decodes to the
    body, not raw mojibake (advisor catch r9: one-shot
    zlib.decompress ignored trailing garbage; the multi-member loop
    regressed that by raising on the junk 'member' and degrading the
    whole response to raw compressed bytes)."""
    import zlib

    doc = b"<p>hello world</p>"
    # zlib-wrapped deflate + trailing junk
    z = zlib.compress(doc) + b"JUNKJUNK"
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + z
    )
    assert s == 200 and body == doc
    # raw deflate + trailing junk (the no-wrapper retry path)
    raw = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    rd = raw.compress(doc) + raw.flush() + b"\x00\x00junk"
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + rd
    )
    assert s == 200 and body == doc
    # gzip + non-magic trailing junk (no \x1f\x8b prefix)
    g = gzip.compress(doc) + b"not-a-member"
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + g
    )
    assert s == 200 and body == doc
    # gzip + magic-prefixed but truncated second member: the complete
    # first member wins over degrading the whole response to raw
    # (only the trailing fragment is damaged)
    g2 = gzip.compress(doc) + gzip.compress(doc)[:8]
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + g2
    )
    assert s == 200 and body == doc
    # truncated FIRST member keeps the degrade-to-raw contract
    t = gzip.compress(doc)[:-6]
    s, _, body = W.parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + t
    )
    assert s == 200 and body == t
    # the cap still trips across member + junk boundaries
    bomb = zlib.compress(bytes(1 << 20)) + b"tail"
    with pytest.raises(ValueError, match="exceeds"):
        W._bounded_inflate(bomb, zlib.MAX_WBITS, 1 << 10)


def test_read_warc_keep_paragraphs(spark, tmp_path):
    """keep_paragraphs=True threads through to the text column so the
    boilerplate stage downstream sees paragraph structure (block tags
    become newlines; text/plain keeps its line breaks)."""
    html = (
        b"<html><body><p>substantial prose paragraph here.</p>"
        b"<p>Home | Products | Pricing</p></body></html>"
    )
    recs = [
        W.encode_warc_record(
            "response", W.encode_http_response(html),
            target_uri="https://x/h", record_id="<urn:uuid:h>",
        ),
        W.encode_warc_record(
            "response",
            W.encode_http_response(
                b"plain line one\nplain line two", content_type="text/plain"
            ),
            target_uri="https://x/p", record_id="<urn:uuid:p>",
        ),
    ]
    (tmp_path / "a.warc").write_bytes(b"".join(recs))
    got = {
        r.target_uri: r.text
        for r in W.read_warc(
            spark, str(tmp_path) + "/*", keep_paragraphs=True
        ).collect()
    }
    assert got["https://x/h"] == (
        "substantial prose paragraph here.\nHome | Products | Pricing"
    )
    assert got["https://x/p"] == "plain line one\nplain line two"
    # default stays collapsed (no behavior change)
    flat = {
        r.target_uri: r.text
        for r in W.read_warc(spark, str(tmp_path) + "/*").collect()
    }
    assert "\n" not in flat["https://x/h"]


def test_read_wet_keep_paragraphs(spark, tmp_path):
    """WET conversion records are exactly the text/plain case the
    line-preserving branch targets — the kwarg must pass through."""
    rec = W.encode_warc_record(
        "conversion",
        W.encode_http_response(
            b"para one line\npara two line", content_type="text/plain"
        ),
        target_uri="https://x/w",
    )
    (tmp_path / "c.warc.wet").write_bytes(rec)
    got = W.read_warc(
        spark,
        str(tmp_path) + "/*",
        record_types=("conversion",),
        keep_paragraphs=True,
    ).collect()
    assert got[0].text == "para one line\npara two line"
