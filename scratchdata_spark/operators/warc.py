"""WARC (Web ARChive, ISO 28500) ingestion — the file format crawl
corpora actually arrive in (Common Crawl et al.), parsed Spark-first
into the ``documents``-shaped rows the rest of this repo's pipeline
operators consume.

The reference engine ingests NDJSON/CSV only (SURVEY.md §2 — this
source is beyond-parity); the format here is the public ISO 28500 /
WARC 1.0/1.1 layout:

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Record-ID: <urn:uuid:...>\\r\\n
    WARC-Target-URI: https://...\\r\\n
    WARC-Date: 2026-01-01T00:00:00Z\\r\\n
    Content-Type: application/http; msgtype=response\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <N-byte block>\\r\\n\\r\\n        (records concatenate; .warc.gz
                                      is one gzip member per record —
                                      stdlib gzip reads multi-member
                                      streams transparently)

Scale shape (the standard Common-Crawl-on-Spark contract): WARC is
not splittable mid-record, so the unit of parallelism is the FILE —
``spark.read.format("binaryFile")`` gives one row per file and the
record parsing runs inside ``mapInPandas``, one archive resident per
core at a time.  Real crawl archives are ~1 GB each; thousands of
files spread across executors, no shuffle anywhere — the output is
immediately consumable by exact/near dedup, langid, quality scoring
and the recipe runner.

HTML→text here is a deliberately simple regex pass (drop
script/style/tags, unescape entities, collapse whitespace) — the
real-pipeline seam where trafilatura/bs4 would plug in; the parsing,
schema, and distribution plumbing around it are production-shaped.
"""

from __future__ import annotations

import gzip
import html as _html
import io
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"

# Inflation caps (advisor catch: a small gzip-bomb member in a
# hostile archive could otherwise inflate unboundedly and OOM the
# executor despite the one-archive-per-core memory contract).  The
# archive cap sizes to the contract itself — real crawl archives are
# ~1 GB compressed at ~4-5× inflation; 8 GiB leaves headroom without
# letting one file eat an executor.  The body cap is per-record
# (crawlers truncate captures near 1 MiB; 64 MiB is generous).
MAX_INFLATED_ARCHIVE = 8 << 30
MAX_INFLATED_BODY = 64 << 20


def _maybe_gunzip(data: bytes, cap: int = MAX_INFLATED_ARCHIVE) -> bytes:
    """Transparently inflate .warc.gz payloads (multi-member: stdlib
    gzip concatenates members, which is exactly the per-record-member
    layout crawl writers emit).  Stream-decompressed in chunks so a
    gzip bomb raises at ``cap`` instead of materializing."""
    if data[:2] == b"\x1f\x8b":
        import zlib

        out = []
        total = 0
        try:
            with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
                while True:
                    chunk = gz.read(1 << 20)
                    if not chunk:
                        break
                    total += len(chunk)
                    if total > cap:
                        raise ValueError(
                            f"warc: inflated archive exceeds {cap} bytes"
                        )
                    out.append(chunk)
        except (OSError, EOFError, zlib.error) as exc:
            # gzip damage surfaces as OSError(BadGzipFile)/EOFError/
            # zlib.error — normalize to this module's ValueError
            # contract so on_error='skip' quarantines corrupt .gz
            # archives the same as corrupt record structure
            raise ValueError(f"warc: corrupt gzip archive: {exc}") from exc
        return b"".join(out)
    return data


def _bounded_inflate(body: bytes, wbits: int, cap: int) -> bytes:
    """zlib-family inflate that refuses past ``cap`` output bytes —
    the HTTP-body twin of the archive cap.  Raises ValueError on a
    bomb; zlib.error on malformed/truncated input (callers degrade
    to raw).  Loops over concatenated members (some crawled servers
    emit multi-member gzip bodies; gzip.decompress decoded them all,
    and dropping ``unused_data`` would silently truncate the document
    to its first member — reviewer catch), with the cap held across
    members.

    Trailing garbage after a complete member is TOLERATED (advisor
    catch, r9: one-shot zlib.decompress ignored it, so raising here
    regressed such bodies to raw mojibake): for gzip wbits a next
    member must start with the ``\\x1f\\x8b`` magic, and for zlib/raw
    deflate — which have no usable magic — a zlib.error past the
    first member returns the output accumulated so far.  The cap
    still raises ValueError wherever it trips."""
    import zlib

    out = []
    total = 0
    data = body
    first = True
    while True:
        d = zlib.decompressobj(wbits)
        budget = cap - total
        try:
            chunk = d.decompress(data, budget + 1)
            if len(chunk) > budget:
                raise ValueError(f"http: inflated body exceeds {cap} bytes")
            chunk += d.flush()
            if len(chunk) > budget:
                raise ValueError(f"http: inflated body exceeds {cap} bytes")
            if not d.eof:
                # decompressobj returns PARTIAL data on truncation
                # where one-shot zlib.decompress raised — keep the
                # degrade-to-raw contract for truncated captures
                raise zlib.error("incomplete or truncated stream")
        except zlib.error:
            if first:
                raise
            return b"".join(out)  # complete member(s) + trailing junk
        total += len(chunk)
        out.append(chunk)
        first = False
        data = d.unused_data
        if not data:
            return b"".join(out)
        if wbits >= 16 and not data.startswith(b"\x1f\x8b"):
            return b"".join(out)  # gzip trailing garbage, not a member


def iter_warc_records(data: bytes):
    """Yield one dict per WARC record: the named headers this
    pipeline keys on, every raw header in ``headers``, and the exact
    ``Content-Length``-delimited block.  Raises on structural damage
    (bad version line, missing/oversized Content-Length) rather than
    silently resyncing — a corrupt archive should fail its file task
    loudly, not contribute half-parsed documents."""
    data = _maybe_gunzip(bytes(data))
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding newlines (CRLF or bare LF)
        while pos < n:
            if data[pos : pos + 2] == _CRLF:
                pos += 2
            elif data[pos : pos + 1] == b"\n":
                pos += 1
            else:
                break
        if pos >= n:
            return
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("warc: truncated record header")
        head = data[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"warc: bad version line {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("warc: missing/invalid Content-Length")
        if length < 0:
            # a negative length would walk pos BACKWARDS and loop the
            # generator forever on the same record (reviewer catch)
            raise ValueError("warc: negative Content-Length")
        block_start = head_end + 4
        block_end = block_start + length
        if block_end > n:
            raise ValueError("warc: truncated record block")
        yield {
            "warc_type": headers.get("warc-type", ""),
            "record_id": headers.get("warc-record-id", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "content_type": headers.get("content-type", ""),
            "headers": headers,
            "block": data[block_start:block_end],
        }
        pos = block_end


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP/1.1 chunked transfer framing: <hex size>\\r\\n<chunk>
    \\r\\n ... 0\\r\\n[trailers]\\r\\n.  Malformed framing raises (the
    caller degrades to the raw body rather than scoring frame noise
    as document text)."""
    out = []
    pos = 0
    while True:
        line_end = body.find(_CRLF, pos)
        if line_end < 0:
            raise ValueError("http: truncated chunk-size line")
        size_token = body[pos:line_end].split(b";", 1)[0].strip()
        size = int(size_token, 16)
        if size < 0:
            # int(b"-6", 16) parses; a negative size would walk pos
            # BACKWARDS and loop forever appending (reviewer catch —
            # the same failure mode as a negative Content-Length)
            raise ValueError("http: negative chunk size")
        if size == 0:
            return b"".join(out)
        start = line_end + 2
        if start + size > len(body):
            raise ValueError("http: truncated chunk")
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk's trailing CRLF


def parse_http_response(block: bytes):
    """Split an ``application/http; msgtype=response`` block into
    (status_code, header dict, body bytes).  A block without an HTTP
    status line (some writers store raw payloads) returns
    (None, {}, block).

    Transfer-Encoding: chunked is de-framed and Content-Encoding:
    gzip/deflate inflated — both are routine in real crawl captures,
    and skipping them would feed hex chunk-size lines or compressed
    bytes to the text extractor as 'document text' (reviewer catch).
    Undecodable bodies degrade to the raw bytes instead of failing
    the archive."""
    if not block.startswith(b"HTTP/"):
        return None, {}, block
    head_end = block.find(_CRLF + _CRLF)
    if head_end < 0:
        return None, {}, block
    lines = block[:head_end].decode("latin-1").split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, {}, block
    headers = {}
    for line in lines[1:]:
        k, sep, v = line.partition(":")
        if sep:
            headers[k.strip().lower()] = v.strip()
    body = block[head_end + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        try:
            body = _dechunk(body)
        except ValueError:
            pass  # keep raw framing rather than drop the record
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip"):
        import zlib

        try:
            # wbits 16+MAX_WBITS = gzip wrapper; bounded so a bomb
            # body degrades to its raw bytes instead of inflating
            # (ValueError), and truncated gzip (zlib.error) keeps
            # degrading as before — routine in real captures
            body = _bounded_inflate(
                body, 16 + zlib.MAX_WBITS, MAX_INFLATED_BODY
            )
        except (ValueError, zlib.error):
            pass
    elif enc == "deflate":
        import zlib

        try:
            body = _bounded_inflate(body, zlib.MAX_WBITS, MAX_INFLATED_BODY)
        except ValueError:
            pass  # bomb: keep the raw compressed bytes
        except zlib.error:
            try:  # raw-deflate servers (no zlib wrapper) are common
                body = _bounded_inflate(
                    body, -zlib.MAX_WBITS, MAX_INFLATED_BODY
                )
            except (ValueError, zlib.error):
                pass
    return status, headers, body


_TAG_DROP = re.compile(
    rb"<(script|style)\b.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAGS = re.compile(rb"<[^>]+>")
_WS = re.compile(r"\s+")
_WS_NO_NL = re.compile(r"[^\S\n]+")  # collapse within lines, keep \n
_BLOCK_TAGS = re.compile(
    rb"</?(p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header"
    rb"|footer|nav|blockquote|pre|dd|dt|form)\b[^>]*>",
    re.IGNORECASE,
)
def html_to_text(body: bytes, keep_paragraphs: bool = False) -> str:
    """Regex HTML→text: drop script/style subtrees, strip tags,
    unescape entities, collapse whitespace.  The quality is
    deliberately baseline (the trafilatura seam); determinism and
    byte-safety are the contract.

    ``keep_paragraphs=True`` converts block-level tags to newlines,
    emitting one line per block (empty lines dropped) — the input
    shape paragraph-level operators (text.remove_boilerplate) key
    on.  Only TAG-derived boundaries count: source newlines (HTML is
    routinely pretty-printed mid-paragraph) and entity newlines
    (``&#10;``) are in-paragraph whitespace — splitting on them
    would fragment every wrapped ``<p>`` into pieces the boilerplate
    word-count floor then eats (reviewer catch), so blocks are
    marked with a NUL sentinel that survives the unescape.  Default
    stays the flat collapse: existing extractions, oracles and
    fingerprints are byte-stable."""
    body = _TAG_DROP.sub(b" ", body)
    if keep_paragraphs:
        body = body.replace(b"\x00", b" ")  # input can't forge marks
        body = _BLOCK_TAGS.sub(b"\x00", body)
        body = _TAGS.sub(b" ", body)
        text = _html.unescape(body.decode("utf-8", "replace"))
        blocks = [_WS.sub(" ", blk).strip() for blk in text.split("\x00")]
        return "\n".join(blk for blk in blocks if blk)
    body = _TAGS.sub(b" ", body)
    text = body.decode("utf-8", "replace")
    return _WS.sub(" ", _html.unescape(text)).strip()


WARC_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("payload", BinaryType()),
        StructField("text", StringType()),
    ]
)


#: warc_type of the sentinel row a skipped (structurally corrupt)
#: archive emits under ``on_error='skip'`` — ``warc_file`` carries
#: the path, ``text`` the parse error.  Never a real WARC type.
PARSE_ERROR_TYPE = "__parse_error"


def record_parser(
    record_types: tuple[str, ...] = ("response",),
    extract_text: bool = True,
    on_error: str = "fail",
    keep_paragraphs: bool = False,
):
    """The mapInPandas function the batch reader and the streaming
    admission chain (streaming/admission.py) share: (path, content)
    file rows → WARC_SCHEMA record rows, one inflated archive in
    memory per core.

    Text derivation is content-type aware: HTML bodies go through
    the tag-stripping extractor, plain-text bodies (WET conversion
    records, text/plain responses) just decode + collapse whitespace
    — tag-stripping prose would eat literal ``<angle bracket>``
    spans the upstream extractor deliberately kept.

    ``on_error='fail'`` (batch default) keeps the fail-loud contract:
    a structurally corrupt archive fails its file task.  ``'skip'``
    (the admission stream's poison-pill escape — a foreachBatch retry
    replays the SAME file set, so one bad archive would otherwise
    wedge the stream forever) drops the bad archive's
    records and emits one :data:`PARSE_ERROR_TYPE` sentinel row
    naming the file and the error, so callers can quarantine it.
    Records already yielded before the corruption point are kept —
    they parsed under the full structural checks."""
    import pandas as pd

    if on_error not in ("fail", "skip"):
        raise ValueError("record_parser: on_error must be 'fail'|'skip'")

    def run(batches):
        for pdf in batches:
            rows = {f.name: [] for f in WARC_SCHEMA.fields}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    _parse_one(
                        rows, fpath, content, record_types, extract_text,
                        keep_paragraphs,
                    )
                except ValueError as exc:
                    if on_error == "fail":
                        raise
                    rows["warc_file"].append(fpath)
                    rows["record_id"].append("")
                    rows["warc_type"].append(PARSE_ERROR_TYPE)
                    rows["target_uri"].append("")
                    rows["warc_date"].append("")
                    rows["http_status"].append(None)
                    rows["http_content_type"].append(None)
                    rows["byte_len"].append(0)
                    rows["payload"].append(None)
                    rows["text"].append(str(exc))
            yield pd.DataFrame(rows)

    return run


def _parse_one(
    rows, fpath, content, record_types, extract_text, keep_paragraphs=False
):
    """One archive → WARC_SCHEMA column lists (appended in place)."""
    for rec in iter_warc_records(bytes(content)):
        if rec["warc_type"] not in record_types:
            continue
        status, hh, body = parse_http_response(rec["block"])
        ctype = (
            hh.get("content-type") or rec["content_type"] or ""
        ).lower()
        if not extract_text:
            text = None
        elif ctype.startswith("text/") and "html" not in ctype:
            raw = body.decode("utf-8", "replace")
            if keep_paragraphs:
                text = "\n".join(
                    _WS_NO_NL.sub(" ", ln).strip()
                    for ln in raw.splitlines()
                ).strip("\n")
            else:
                text = _WS.sub(" ", raw).strip()
        else:
            text = html_to_text(body, keep_paragraphs=keep_paragraphs)
        rows["warc_file"].append(fpath)
        rows["record_id"].append(rec["record_id"])
        rows["warc_type"].append(rec["warc_type"])
        rows["target_uri"].append(rec["target_uri"])
        rows["warc_date"].append(rec["warc_date"])
        rows["http_status"].append(status)
        rows["http_content_type"].append(
            hh.get("content-type", rec["content_type"]) or None
        )
        rows["byte_len"].append(len(body))
        rows["payload"].append(body)
        rows["text"].append(text)


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] = ("response",),
    extract_text: bool = True,
    keep_paragraphs: bool = False,
) -> DataFrame:
    """Read WARC archives at ``path`` (glob ok; .warc and .warc.gz)
    into one row per record of ``record_types``.  WET archives are
    read with ``record_types=("conversion",)``.

    Distribution contract: one file = one task (binaryFile source —
    WARC is unsplittable mid-record), parsing inside mapInPandas so
    at most one inflated archive sits in memory per core; the text
    extraction happens in the same pass, so raw HTML never crosses a
    shuffle.  Downstream dedup/quality/langid operators consume the
    output directly."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    return files.mapInPandas(
        record_parser(
            record_types, extract_text, keep_paragraphs=keep_paragraphs
        ),
        WARC_SCHEMA,
    )


def encode_warc_record(
    warc_type: str,
    block: bytes,
    target_uri: str = "",
    record_id: str = "<urn:uuid:00000000-0000-0000-0000-000000000000>",
    date: str = "2026-01-01T00:00:00Z",
    content_type: str = "application/http; msgtype=response",
) -> bytes:
    """One spec-correct WARC 1.0 record (test-vector generator)."""
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: " + record_id.encode(),
        b"WARC-Date: " + date.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(block)).encode(),
    ]
    if target_uri:
        head.insert(3, b"WARC-Target-URI: " + target_uri.encode())
    return _CRLF.join(head) + _CRLF + _CRLF + block + _CRLF + _CRLF


def encode_http_response(
    body: bytes, status: int = 200, content_type: str = "text/html"
) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n".encode() + body
    )
