"""The Common Crawl container family: WARC ingestion (ISO 28500 / WARC
1.0, public spec) and its WET text, WAT metadata and CDX index exports.

The pipeline's input_hint table (url, warc_ts, html, text, lang) is what a
crawl looks like AFTER ingestion; this module supplies the ingestion step
itself: parse ``.warc.gz`` files (each record its own gzip member, the
Common-Crawl convention — concatenated members decode in one stdlib
``gzip.decompress`` pass), keep ``WARC-Type: response`` records, split the
HTTP response envelope off, and emit input_hint-schema rows. A writer
(``make_warc_gz``) assembles spec-conformant fixtures so the parser is
tested against real container bytes.

Every format shares one set of container mechanics:

- **Encoder** (``_warc_member``): one record → one gzip member whose
  header mtime is pinned to 0 (``write_cdx``'s one gzip stream too), so
  equal records always give equal bytes.
- **Sink** (``sources.sink.segment_sink``, behind ``write_wet``/
  ``write_wat``/``write_cdx``): each task streams its partition into one
  segment named after its partition, under the publish contract it shares
  with the extraction job. The caller's partitioning sizes the segments.
- **Scan** (``_scan_segments``, behind ``read_warc_documents``/
  ``read_wet_documents``/``read_wat_metadata``/``index_warc_segments``):
  ``spark.read.format("binaryFile")`` gives one row per segment file and
  an Arrow ``mapInPandas`` stage fans each file out into its rows — a
  map-only plan, no shuffle; Common Crawl's ~1 GB segment files ARE the
  partitions. Record dates are cut to whole seconds (WARC 1.1 fractions
  dropped) and parsed with ``try_to_timestamp``: a malformed date yields
  NULL, never an ANSI-mode DateTimeException aborting the job.

HTTP-envelope realism (all routine in real Common Crawl segments):
- ``Transfer-Encoding: chunked`` bodies are de-chunked (RFC 9112 §7.1);
- Content-Type is parsed (mime + charset); ``read_warc_documents`` keeps
  only mimes the extractor handles (html/xhtml/pdf + absent) and decodes
  the declared charset into the ``text`` column, re-encoding non-UTF-8
  HTML payloads to UTF-8 bytes in ``html`` so the downstream extraction
  branch (which assumes UTF-8) is correct for latin-1/KOI8/etc. pages;
- the charset re-encode is STRICT-gated: a payload whose declared charset
  decodes cleanly is re-encoded to UTF-8; a mislabeled one keeps its
  original bytes (baking U+FFFD over recoverable content is worse than a
  passthrough);
- ``WARC-Type: revisit`` dedup records (ubiquitous in real segments —
  their block is the bare HTTP headers of an identical refetch) never
  surface as documents;
- ``WARC-Truncated`` records are tolerated: parsed normally, payload
  as-stored, the flag surfaced per record.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import gzip
import json
import os
import re
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator
from urllib.parse import quote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.sources.sink import SEGMENT_MANIFEST, segment_sink

_CRLF = b"\r\n"
# NOTE: no ^ anchors — pattern.match(data, pos) anchors at pos, but ^ would
# additionally require pos == 0 (non-MULTILINE), silently failing on every
# record after the first
_WARC_VERSION_RE = re.compile(rb"WARC/\d+\.\d+\r?\n")
_HTTP_STATUS_RE = re.compile(rb"HTTP/\d\.\d (\d{3})")

INPUT_HINT_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _chunk_encode(payload: bytes, chunk_size: int = 97) -> bytes:
    """RFC 9112 §7.1 chunked transfer coding (fixture writer side)."""
    out = bytearray()
    for i in range(0, len(payload), chunk_size):
        piece = payload[i : i + chunk_size]
        out += f"{len(piece):x}".encode("ascii") + _CRLF + piece + _CRLF
    out += b"0" + _CRLF + _CRLF
    return bytes(out)


# ---------------------------------------------------------------------------
# The record encoder — one gzip member per record, for every format

# the header gzip.compress writes at level 9 (OS "unknown"), with mtime 0
# instead of the wall clock; gzip.compress(mtime=0) would switch to zlib's
# header, whose OS byte differs
_GZIP_HEADER = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x02\xff"


def _gzip_member(data: bytes) -> bytes:
    return (
        _GZIP_HEADER
        + zlib.compress(data, 9, wbits=-15)
        + struct.pack("<LL", zlib.crc32(data), len(data) & 0xFFFFFFFF)
    )


def _warc_date_str(date) -> str:
    if date is None:
        date = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    if date.microsecond:  # WARC 1.1 fractional seconds
        return date.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return date.strftime("%Y-%m-%dT%H:%M:%SZ")


def _urn(n: int) -> str:
    return f"<urn:uuid:00000000-0000-0000-0000-{n:012d}>"


def _uri(url) -> str:
    """WARC-Target-URI must be a URI (ASCII): map raw IRI codepoints to
    UTF-8 percent-escapes (RFC 3987 §3.1) instead of crashing the sink task
    on ``.encode('latin-1')``. ASCII urls — including already
    percent-encoded ones — pass through byte-identical."""
    return quote(str(url), safe=":/?#[]@!$&'()*+,;=%-._~")


def _warc_member(
    rtype: str,
    url: str,
    date: dt.datetime | None,
    record_id: int,
    content_type: str,
    extra_headers: str,
    payload: bytes,
) -> bytes:
    """One WARC/1.0 record as ONE gzip member (ISO 28500 §D: a reader can
    seek to a record offset and inflate just that member, and a sink can
    stream members to an open file without materializing the segment).
    ``extra_headers`` are complete CRLF-terminated lines placed between
    ``WARC-Record-ID`` and ``Content-Type``."""
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {_warc_date_str(date)}\r\n"
        f"WARC-Record-ID: {_urn(record_id)}\r\n"
        + extra_headers
        + f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("latin-1")
    return _gzip_member(head + payload + _CRLF + _CRLF)


def make_warc_gz(records: list[dict]) -> bytes:
    """Assemble a real ``.warc.gz``: one gzip MEMBER per record (the
    Common-Crawl layout — a reader can seek to a record offset and inflate
    just that member). Record dicts: {"type": "response"|"request"|
    "metadata", "url": str, "date": datetime, "payload": bytes,
    "status": int, "content_type": str (HTTP Content-Type header value),
    "chunked": bool (emit Transfer-Encoding: chunked), "truncated": str
    (emit WARC-Truncated with this reason, e.g. "length")} — the last
    three, plus a ``date`` with microseconds (emitted as a WARC 1.1
    fractional-second timestamp), cover the envelope variants real
    Common Crawl segments contain."""
    out = []
    for rec in records:
        rtype = rec.get("type", "response")
        payload = bytes(rec.get("payload", b""))
        extra = (
            f"WARC-Truncated: {rec['truncated']}\r\n"
            if rec.get("truncated")
            else ""
        )
        ctype = "application/http; msgtype=response"
        if rtype == "response":
            if rec.get("chunked"):
                body = _chunk_encode(payload)
                framing = "Transfer-Encoding: chunked\r\n"
            else:
                body = payload
                framing = f"Content-Length: {len(payload)}\r\n"
            block = (
                f"HTTP/1.1 {int(rec.get('status', 200))} OK\r\n"
                f"Content-Type: "
                f"{rec.get('content_type', 'text/html; charset=utf-8')}\r\n"
                + framing
                + "\r\n"
            ).encode("latin-1") + body
        elif rtype == "revisit":
            # dedup record (ubiquitous in real segments): the block is the
            # bare HTTP response HEADERS of the revisited fetch, no body
            block = (
                f"HTTP/1.1 {int(rec.get('status', 200))} OK\r\n"
                "Content-Type: text/html; charset=utf-8\r\n\r\n"
            ).encode("latin-1")
            extra += (
                "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
                f"identical-payload-digest\r\nWARC-Refers-To: {_urn(1)}\r\n"
            )
        else:
            block, ctype = payload, "application/octet-stream"
        out.append(
            _warc_member(
                rtype, rec.get("url", ""), rec.get("date"), 0, ctype, extra, block
            )
        )
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1", "replace"
            )
    return headers


def _dechunk(body: bytes) -> bytes:
    """Decode RFC 9112 §7.1 chunked transfer coding. Tolerant: on any
    framing error the bytes decoded so far are returned (a truncated
    capture mid-chunk is routine in crawl data)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        size_token = body[pos:eol].split(b";", 1)[0].strip()  # ignore ext
        try:
            size = int(size_token, 16)
        except ValueError:
            break
        if size == 0:
            break  # terminal chunk (trailers ignored)
        out += body[eol + 2 : eol + 2 + size]
        pos = eol + 2 + size + 2  # chunk data + its trailing CRLF
    return bytes(out)


def _parse_content_type(value: str) -> tuple[str, str | None]:
    """'text/html; charset=ISO-8859-1' → ('text/html', 'iso-8859-1')."""
    parts = value.split(";")
    mime = parts[0].strip().lower()
    charset = None
    for p in parts[1:]:
        p = p.strip()
        if p.lower().startswith("charset="):
            charset = p[8:].strip().strip('"').strip("'").lower() or None
    return mime, charset


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Yield {"type", "url", "date", "payload", "mime", "charset",
    "truncated"} per record. Accepts gzipped (single- or multi-member) and
    plain WARC bytes; response records get the HTTP envelope stripped
    (payload = body only), chunked transfer coding de-chunked, and the
    Content-Type header parsed into (mime, charset). ``WARC-Truncated``
    records parse normally with the flag surfaced. Tolerant: malformed
    records are skipped, never raised on."""
    try:
        if data[:2] == b"\x1f\x8b":
            data = gzip.decompress(data)  # multi-member-aware
    except Exception:
        return
    pos = 0
    n = len(data)
    while pos < n:
        m = _WARC_VERSION_RE.match(data, pos)
        if m is None:
            nxt = data.find(b"WARC/", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        head_end = data.find(b"\r\n\r\n", m.end())
        if head_end < 0:
            return
        headers = _parse_headers(data[m.end() : head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = head_end + 4
            continue
        body = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        # skip the record separator (two CRLFs) if present
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        rtype = headers.get("warc-type", "")
        payload = body
        mime: str = ""
        charset: str | None = None
        status: int | None = None
        sm = _HTTP_STATUS_RE.match(body) if rtype == "response" else None
        if sm is not None:
            status = int(sm.group(1))
            http_end = body.find(b"\r\n\r\n")
            if http_end >= 0:
                http_headers = _parse_headers(body[:http_end])
                payload = body[http_end + 4 :]
                if "chunked" in http_headers.get("transfer-encoding", "").lower():
                    payload = _dechunk(payload)
                ct = http_headers.get("content-type", "")
                if ct:
                    mime, charset = _parse_content_type(ct)
        yield {
            "type": rtype,
            "url": headers.get("warc-target-uri", ""),
            "date": headers.get("warc-date", ""),
            "payload": payload,
            "mime": mime,
            "charset": charset,
            "status": status,
            "truncated": headers.get("warc-truncated", "") or None,
        }


# mimes the downstream extractor has a branch for; "" = no Content-Type
# header at all (tolerated — old servers), everything else (images, css,
# js, fonts, json APIs...) is dropped at ingestion
DEFAULT_KEEP_MIMES = frozenset(
    {"", "text/html", "application/xhtml+xml", "application/pdf"}
)

_WARC_DATE_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})(?:\.\d{1,9})?Z$"
)

_TEXT_MIMES = frozenset({"", "text/html", "application/xhtml+xml"})


# ---------------------------------------------------------------------------
# The segment scan — shared by every reader that opens container bytes


def _scan_segments(
    spark: SparkSession,
    path: str,
    glob: str,
    rows_of: Callable[[str, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The ``glob`` files under ``path`` → ``schema`` rows, one per tuple
    that ``rows_of(file name, file bytes)`` yields. The glob matters:
    crawl landing dirs carry manifests/temp files alongside segments."""
    import pandas as pd

    # column names of a flat DDL string whose types hold no ", "
    names = [field.split()[0] for field in schema.split(", ")]
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for p, blob in zip(pdf["path"], pdf["content"])
                for row in rows_of(os.path.basename(p), bytes(blob))
            ]
            yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(fan_out, schema=schema)


def _date_key(warc_date: str) -> str | None:
    """A WARC-Date cut to whole seconds (WARC 1.1 fractions dropped), the
    ``_ts`` column ``_warc_ts`` parses; None if malformed."""
    m = _WARC_DATE_RE.match(warc_date)
    return m.group(1) if m else None


def _warc_ts() -> Column:
    return F.try_to_timestamp(
        F.col("_ts"), F.lit("yyyy-MM-dd'T'HH:mm:ss")
    ).alias("warc_ts")


def read_warc_documents(
    spark: SparkSession,
    path: str,
    keep_mimes: frozenset[str] | set[str] = DEFAULT_KEEP_MIMES,
    keep_statuses: range | set[int] = range(200, 300),
    glob: str = "*.warc*",
) -> DataFrame:
    """``.warc(.gz)`` files → input_hint-schema DataFrame of the response
    records, through the shared segment scan.

    Envelope handling: only ``keep_mimes`` responses are emitted; chunked
    bodies are de-chunked in the fan-out; for text mimes the declared
    charset is decoded into the ``text`` column (source text — downstream
    extraction replaces it) and a non-UTF-8 payload is re-encoded to UTF-8
    in ``html`` so the extraction branch's UTF-8 assumption holds;
    truncated records are kept as stored; a malformed/missing date becomes
    a NULL ``warc_ts``."""
    keep = frozenset(keep_mimes)

    def rows_of(_: str, blob: bytes) -> Iterator[tuple]:
        for rec in iter_warc_records(blob):
            if rec["type"] != "response" or not rec["url"]:
                continue
            if rec["mime"] not in keep:
                continue
            # only successful fetches carry page content worth extracting
            # (404/5xx bodies are server chrome); a record with NO parsed
            # HTTP envelope (bare payload) is kept — old-crawl convention
            if rec["status"] is not None and rec["status"] not in keep_statuses:
                continue
            payload = rec["payload"]
            text = ""
            if rec["mime"] in _TEXT_MIMES:
                charset = rec["charset"] or "utf-8"
                try:
                    text = payload.decode(charset, "replace")
                except LookupError:  # unknown charset label
                    text = payload.decode("utf-8", "replace")
                if charset not in ("utf-8", "utf8", "ascii", "us-ascii"):
                    try:
                        strict = payload.decode(charset)
                    except (UnicodeDecodeError, LookupError):
                        strict = None
                    if strict is not None:
                        payload = strict.encode("utf-8")
                    # else: mislabeled charset — keep the ORIGINAL bytes;
                    # re-encoding the replace-decoded string would bake
                    # U+FFFD over recoverable content (ADVICE r4)
            yield rec["url"], _date_key(rec["date"]), payload, text

    rows = _scan_segments(
        spark, path, glob, rows_of, "url string, _ts string, html binary, text string"
    )
    return rows.select(
        "url", _warc_ts(), "html", "text", F.lit("unknown").alias("lang")
    )


# ---------------------------------------------------------------------------
# WET export (r6) — Common Crawl's extracted-text derivative (the
# ``*.warc.wet.gz`` conversion files, ISO 28500 §6.8: ``WARC-Type:
# conversion`` records whose block is the plain text of the page). This
# is the pipeline's natural OUTPUT container: extraction results become
# seekable, member-per-record text shards any WARC tool can read back.

_REFERS_TO_0 = f"WARC-Refers-To: {_urn(0)}\r\n"


def make_wet_gz(records: list[dict]) -> bytes:
    """Assemble ``.wet.gz`` bytes: one gzip member per conversion record.
    Record dicts: {"url": str, "date": datetime, "text": str}."""
    return b"".join(make_wet_record_gz(rec) for rec in records)


def make_wet_record_gz(rec: dict) -> bytes:
    """One conversion record as ONE gzip member (ISO 28500 §D: WET files
    are member-per-record concatenations, so a sink can stream members to
    an open file without ever materializing the segment)."""
    return _warc_member(
        "conversion",
        _uri(rec.get("url", "")),
        rec.get("date"),
        2,
        "text/plain",
        _REFERS_TO_0,
        str(rec.get("text", "")).encode("utf-8"),
    )


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "extracted_text",
) -> DataFrame:
    """Distributed WET sink: each task writes its partition as one
    ``part-{partitionId}.warc.wet.gz`` segment through the shared segment
    sink (atomic, retry-safe; see ``sources.sink``) and emits a manifest
    row (file, n_records). Map-only — the caller controls partitioning
    (and therefore segment sizing) upstream; Common Crawl's ~150 MB WET
    segments ≈ one task's worth. The returned manifest is lazy: an action
    on it IS the write."""

    def encode(url, ts, text) -> bytes:
        return make_wet_record_gz({"url": url, "date": ts, "text": text or ""})

    sink = segment_sink(out_dir, "part-{:05d}.warc.wet.gz", encode)
    return df.select(url_col, ts_col, text_col).mapInArrow(
        sink, schema=SEGMENT_MANIFEST
    )


def read_wet_documents(spark: SparkSession, path: str) -> DataFrame:
    """``.wet(.gz)`` files → (url, warc_ts, text) rows from the
    conversion records, through the shared segment scan."""

    def rows_of(_: str, blob: bytes) -> Iterator[tuple]:
        for rec in iter_warc_records(blob):
            if rec["type"] == "conversion" and rec["url"]:
                text = rec["payload"].decode("utf-8", "replace")
                yield rec["url"], _date_key(rec["date"]), text

    rows = _scan_segments(
        spark, path, "*.wet*", rows_of, "url string, _ts string, text string"
    )
    return rows.select("url", _warc_ts(), "text")


# ---------------------------------------------------------------------------
# WAT derivative (r7) — Common Crawl's metadata sibling of WET: one
# WARC-Type: metadata record per page whose payload is a JSON envelope
# (Envelope.WARC-Header-Metadata + Envelope.Payload-Metadata.HTML-Metadata
# with Head.Title and the outgoing Links).


def make_wat_record_gz(rec: dict) -> bytes:
    """One metadata record as ONE gzip member. Record dict:
    {"url": str, "date": datetime, "title": str|None,
    "links": list[str]}. The JSON payload is CANONICAL (sorted keys,
    compact separators) so equal inputs always produce identical bytes."""
    url = _uri(rec.get("url", ""))
    html_meta: dict = {
        "Links": [{"url": u} for u in rec.get("links") or []],
    }
    if rec.get("title") is not None:
        html_meta["Head"] = {"Title": str(rec["title"])}
    envelope = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Date": _warc_date_str(rec.get("date")),
                "WARC-Target-URI": url,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {"HTML-Metadata": html_meta}
            },
        }
    }
    payload = json.dumps(
        envelope, sort_keys=True, separators=(",", ":")
    ).encode("utf-8")
    return _warc_member(
        "metadata", url, rec.get("date"), 3, "application/json", _REFERS_TO_0, payload
    )


def write_wat(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    title_col: str = "title",
    links_col: str = "links",
) -> DataFrame:
    """Distributed WAT sink: one ``part-{partitionId}.warc.wat.gz``
    segment per task through the shared segment sink (see
    ``sources.sink``), lazy manifest (file, n_records) as the return
    frame."""

    def encode(url, ts, title, links) -> bytes:
        return make_wat_record_gz(
            {
                "url": url,
                "date": ts,
                "title": title,
                "links": links or [],
            }
        )

    sink = segment_sink(out_dir, "part-{:05d}.warc.wat.gz", encode)
    return df.select(url_col, ts_col, title_col, links_col).mapInArrow(
        sink, schema=SEGMENT_MANIFEST
    )


def read_wat_metadata(spark: SparkSession, path: str) -> DataFrame:
    """``.wat(.gz)`` files → (url, warc_ts, title, links array<string>)
    rows from the metadata records' JSON envelopes, through the shared
    segment scan. Records whose payload is not the expected envelope
    shape are skipped, never crash the task."""

    def rows_of(_: str, blob: bytes) -> Iterator[tuple]:
        for rec in iter_warc_records(blob):
            if rec["type"] != "metadata" or not rec["url"]:
                continue
            try:
                env = json.loads(rec["payload"].decode("utf-8"))["Envelope"]
                hm = env["Payload-Metadata"]["HTTP-Response-Metadata"][
                    "HTML-Metadata"
                ]
            except (ValueError, KeyError, TypeError):
                continue  # not JSON, or a non-object on the envelope path
            if not isinstance(hm, dict):
                continue
            head, links = hm.get("Head") or {}, hm.get("Links") or []
            if not isinstance(head, dict) or not isinstance(links, list):
                continue
            title = head.get("Title")
            if title is not None and not isinstance(title, str):
                continue
            links = [
                e["url"]
                for e in links
                if isinstance(e, dict) and isinstance(e.get("url"), str)
            ]
            yield rec["url"], _date_key(rec["date"]), title, links

    rows = _scan_segments(
        spark,
        path,
        "*.wat*",
        rows_of,
        "url string, _ts string, title string, links array<string>",
    )
    return rows.select("url", _warc_ts(), "title", "links")


# ---------------------------------------------------------------------------
# CDX derivative (r7) — the index member of the Common Crawl family
# (WARC capture / WET text / WAT metadata / CDX URL index). Segments are
# ``cdx-{partitionId}.gz``: one gzip STREAM of newline-terminated CDXJ
# lines, sorted by SURT key within the segment (a line BEGINS with its
# key and keys contain no spaces, so sorting lines sorts keys). The
# lines themselves are built entirely JVM-side (functions/web.cdx_line);
# Python appears only here, streaming pre-built strings to the file.
# For a globally sorted index, range-partition by key upstream:
#   df.repartitionByRange(n, "cdx_line").sortWithinPartitions("cdx_line")
# — then segment i's keys all precede segment i+1's.


@contextlib.contextmanager
def _gzip_stream(path: str) -> Iterator[gzip.GzipFile]:
    """One gzip stream over the whole segment, mtime pinned to 0."""
    with open(path, "wb") as fh, gzip.GzipFile(
        filename="", mode="wb", fileobj=fh, mtime=0
    ) as gz:
        yield gz


def write_cdx(df: DataFrame, out_dir: str, line_col: str = "cdx_line") -> DataFrame:
    """Distributed CDX sink: one ``cdx-{partitionId}.gz`` segment per task
    through the shared segment sink (see ``sources.sink``), lines
    streamed through one gzip stream, lazy manifest (file, n_records) as
    the return frame. Sorts within the partition here (Spark's sort,
    spill-aware) so the per-task Python loop stays O(1) memory."""
    sink = segment_sink(
        out_dir,
        "cdx-{:05d}.gz",
        lambda line: line.encode("utf-8") + b"\n",
        _gzip_stream,
    )
    src = df.select(line_col).sortWithinPartitions(line_col)
    return src.mapInArrow(sink, schema=SEGMENT_MANIFEST)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """``cdx-*.gz`` segments → (surt_key, ts14, url, mime, digest,
    length, filename) rows. FULLY JVM-side: Spark's text reader
    decompresses .gz transparently, the key/timestamp/JSON split is one
    regexp_extract chain and the JSON fields come out of
    get_json_object — no Python operator in the read plan."""
    lines = (
        spark.read.format("text")
        .option("pathGlobFilter", "cdx-*.gz")
        .load(path)
    )
    v = F.col("value")
    js = F.regexp_extract(v, r"^\S+ \S+ (.*)$", 1)
    return lines.select(
        F.regexp_extract(v, r"^(\S+) ", 1).alias("surt_key"),
        F.regexp_extract(v, r"^\S+ (\S+) ", 1).alias("ts14"),
        F.get_json_object(js, "$.url").alias("url"),
        F.get_json_object(js, "$.mime").alias("mime"),
        F.get_json_object(js, "$.digest").alias("digest"),
        F.get_json_object(js, "$.length").cast("long").alias("length"),
        F.get_json_object(js, "$.filename").alias("filename"),
    ).filter(F.col("surt_key") != "")


# ---------------------------------------------------------------------------
# WARC record-level random access (r8) — the wayback primitive


def iter_gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Walk a multi-member gzip container yielding (offset, length,
    inflated_bytes) per member — the structural fact CDX offset indexes
    rely on: Common Crawl writes ONE gzip member per WARC record, so a
    reader can fetch a single record with one byte-range read. Pure
    stdlib zlib with explicit offset bookkeeping (``gzip.decompress``
    inflates the whole container and discards the member boundaries).

    Feeds the decompressor in bounded CHUNKS over a memoryview: naively
    passing the whole remaining buffer per member makes ``unused_data``
    materialize a near-full copy of the container for EVERY member —
    O(members × container) bytes on a real segment (1 GB, ~100k
    records). Chunked feeding bounds the per-member overcopy to one
    chunk."""
    import zlib

    view = memoryview(data)
    n = len(view)
    pos = 0
    chunk_size = 1 << 20
    while pos < n:
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out: list[bytes] = []
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                chunk = view[pos + fed : pos + fed + chunk_size]
                out.append(d.decompress(chunk))
                fed += len(chunk)
        except zlib.error:
            return
        if not d.eof:  # truncated trailing member
            return
        consumed = fed - len(d.unused_data)
        yield pos, consumed, b"".join(out)
        pos += consumed


def warc_member_index(data: bytes) -> list[dict]:
    """Per-member offset index of one ``.warc.gz`` segment: [{"offset",
    "length", "record_type", "url", "warc_date"}] — the (file, offset,
    length) triple is exactly what a CDXJ line's envelope carries, and
    ``read_warc_record_at`` consumes it without touching any other byte
    of the segment."""
    out: list[dict] = []
    for offset, length, raw in iter_gzip_members(data):
        rec = next(iter_warc_records(raw), None)
        out.append(
            {
                "offset": offset,
                "length": length,
                "record_type": (rec or {}).get("type", ""),
                "url": (rec or {}).get("url", ""),
                "warc_date": (rec or {}).get("date", ""),
            }
        )
    return out


def index_warc_segments(spark: SparkSession, path: str) -> DataFrame:
    """Distributed offset-index build over a directory of ``.warc.gz``
    segments: the shared segment scan fans each segment out to
    (filename, offset, length, record_type, url, warc_date) rows. At
    archive scale this job IS how the CDX index gets built, and its output
    is the lookup table ``fetch_warc_records_at`` point-reads against."""

    def rows_of(fname: str, blob: bytes) -> Iterator[tuple]:
        for e in warc_member_index(blob):
            yield (
                fname, e["offset"], e["length"],
                e["record_type"], e["url"], e["warc_date"],
            )

    return _scan_segments(
        spark,
        path,
        "*.warc.gz",
        rows_of,
        "filename string, offset long, length long, "
        "record_type string, url string, warc_date string",
    )


def read_warc_record_at(path: str, offset: int, length: int) -> dict | None:
    """POINT LOOKUP: fetch exactly one WARC record by (file, offset,
    length) — seek + read ``length`` bytes + inflate that single gzip
    member. Never scans the container (the unit test proves it by
    corrupting every OTHER byte of the segment). On object storage this
    maps 1:1 to a byte-range GET — the wayback-machine access path the
    CDX quartet exists to serve."""
    with open(path, "rb") as f:
        f.seek(offset)
        blob = f.read(length)
    return next(iter_warc_records(blob), None)


def fetch_warc_records_at(index: DataFrame, warc_dir: str) -> DataFrame:
    """Distributed point-lookup stage: ``index`` rows (filename, offset,
    length) → one fetched-record row each (url, warc_date, n_bytes,
    payload). Each task seek-reads ONLY its rows' byte ranges — the work
    is O(selected records), independent of archive size; the plan is
    map-only over the (tiny) index frame, so Spark never opens the
    unselected segments at all."""
    import pandas as pd

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fname, off, ln in zip(
                pdf["filename"], pdf["offset"], pdf["length"]
            ):
                rec = read_warc_record_at(
                    os.path.join(warc_dir, str(fname)), int(off), int(ln)
                )
                if rec is None:
                    continue
                rows.append(
                    (
                        rec["url"],
                        rec["date"],
                        len(rec["payload"]),
                        bytes(rec["payload"]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["url", "warc_date", "n_bytes", "payload"]
            )

    return index.select("filename", "offset", "length").mapInPandas(
        fetch,
        schema="url string, warc_date string, n_bytes long, payload binary",
    )
