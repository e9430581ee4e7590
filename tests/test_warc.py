"""WARC ingestion (sources/warc.py): spec-conformant .warc.gz fixtures →
record parse → input_hint rows → the REAL extraction operator end-to-end."""

from __future__ import annotations

import datetime as dt
import gzip
import os
import time

import pytest

from deepseek_ocr_api_rs_spark.sources.warc import (
    iter_warc_records,
    make_warc_gz,
    read_warc_documents,
)

DATE = dt.datetime(2024, 3, 5, 12, 0, 0, tzinfo=dt.timezone.utc)


def _fixture_records():
    html = (
        b"<html><head><title>t</title></head><body>"
        b"<nav><a href='/x'>x</a></nav><main><p>real warc main content body "
        b"with enough words to pass the extractor thresholds easily</p></main>"
        b"</body></html>"
    )
    return [
        {"type": "request", "url": "https://ex.org/a", "date": DATE,
         "payload": b"GET /a HTTP/1.1\r\nHost: ex.org\r\n\r\n"},
        {"type": "response", "url": "https://ex.org/a", "date": DATE,
         "payload": html, "status": 200},
        {"type": "metadata", "url": "https://ex.org/a", "date": DATE,
         "payload": b"fetchTimeMs: 12"},
        {"type": "response", "url": "https://ex.org/b", "date": DATE,
         "payload": b"<html><body><p>second doc body text here today</p></body></html>"},
    ], html


def test_warc_roundtrip_scalar():
    records, html = _fixture_records()
    blob = make_warc_gz(records)
    got = list(iter_warc_records(blob))
    assert [r["type"] for r in got] == ["request", "response", "metadata", "response"]
    responses = [r for r in got if r["type"] == "response"]
    assert responses[0]["url"] == "https://ex.org/a"
    assert responses[0]["payload"] == html  # HTTP envelope stripped exactly
    assert responses[0]["date"] == "2024-03-05T12:00:00Z"


def test_warc_each_record_is_own_gzip_member():
    records, _ = _fixture_records()
    blob = make_warc_gz(records)
    # Common-Crawl layout: inflating ONLY the first member yields only the
    # first record
    first = gzip.GzipFile(fileobj=__import__("io").BytesIO(blob)).read()
    # stdlib GzipFile reads all members; use a raw single-member decompress
    import zlib

    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    one = d.decompress(blob)
    assert one.startswith(b"WARC/1.0") and b"WARC-Type: request" in one
    assert b"WARC-Type: metadata" not in one  # later members untouched
    assert first.count(b"WARC/1.0") == 4  # full stream has all records


def test_warc_plain_and_malformed():
    records, _ = _fixture_records()
    plain = gzip.decompress(make_warc_gz(records))
    assert len(list(iter_warc_records(plain))) == 4
    assert list(iter_warc_records(b"")) == []
    assert list(iter_warc_records(b"\x1f\x8bnot really gzip")) == []
    assert list(iter_warc_records(b"garbage WARC/1.0\r\nbroken")) == []
    # truncated mid-record: earlier records still come out
    cut = plain[: plain.find(b"WARC-Type: metadata") + 10]
    assert len(list(iter_warc_records(cut))) >= 2


def test_warc_chunked_body_is_dechunked():
    """Transfer-Encoding: chunked responses (routine in crawls) must yield
    the DECODED body, not the chunk-framed bytes."""
    html = b"<html><body><p>" + b"chunked content words " * 20 + b"</p></body></html>"
    blob = make_warc_gz(
        [{"type": "response", "url": "https://ex.org/ch", "date": DATE,
          "payload": html, "chunked": True}]
    )
    got = [r for r in iter_warc_records(blob) if r["type"] == "response"]
    assert got[0]["payload"] == html
    # dechunk tolerance: a capture cut mid-chunk returns the decoded prefix
    from deepseek_ocr_api_rs_spark.sources.warc import _chunk_encode, _dechunk

    full = _chunk_encode(html, chunk_size=50)
    cut = full[: len(full) // 2]
    prefix = _dechunk(cut)
    assert html.startswith(prefix) and len(prefix) > 0
    assert _dechunk(b"not hex\r\nstuff") == b""


def test_warc_content_type_and_charset(spark, tmp_path):
    """Non-HTML mimes are dropped at ingestion; a declared non-UTF-8
    charset is decoded into `text` and the html payload re-encoded to
    UTF-8 so the extractor's UTF-8 assumption holds."""
    latin = "<html><body><p>café naïve résumé content words here</p></body></html>"
    records = [
        {"type": "response", "url": "https://ex.org/latin", "date": DATE,
         "payload": latin.encode("iso-8859-1"),
         "content_type": "text/html; charset=ISO-8859-1"},
        {"type": "response", "url": "https://ex.org/img", "date": DATE,
         "payload": b"\x89PNG fake image bytes",
         "content_type": "image/png"},
        {"type": "response", "url": "https://ex.org/badcs", "date": DATE,
         "payload": b"<html><body><p>unknown charset label page</p></body></html>",
         "content_type": "text/html; charset=no-such-charset"},
    ]
    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    (warc_dir / "seg.warc.gz").write_bytes(make_warc_gz(records))
    rows = {r.url: r for r in read_warc_documents(spark, str(warc_dir)).collect()}
    assert set(rows) == {"https://ex.org/latin", "https://ex.org/badcs"}  # image dropped
    assert rows["https://ex.org/latin"].text == latin  # charset-decoded source
    assert bytes(rows["https://ex.org/latin"].html) == latin.encode("utf-8")
    assert "unknown charset label" in rows["https://ex.org/badcs"].text  # utf-8 fallback


def test_warc_truncated_and_fractional_dates(spark, tmp_path):
    """WARC-Truncated records are tolerated (parsed, flag surfaced); WARC
    1.1 fractional-second dates parse to the floor second; a garbage date
    yields a NULL warc_ts instead of an ANSI DateTimeException (ADVICE)."""
    frac_date = dt.datetime(2024, 3, 5, 12, 0, 1, 123000, tzinfo=dt.timezone.utc)
    records = [
        {"type": "response", "url": "https://ex.org/t", "date": DATE,
         "payload": b"<html><body><p>cut off mid cont",
         "truncated": "length"},
        {"type": "response", "url": "https://ex.org/frac", "date": frac_date,
         "payload": b"<html><body><p>warc 1.1 fractional date page</p></body></html>"},
    ]
    got = list(iter_warc_records(make_warc_gz(records)))
    assert got[0]["truncated"] == "length" and got[1]["truncated"] is None
    assert got[1]["date"] == "2024-03-05T12:00:01.123Z"

    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    (warc_dir / "seg.warc.gz").write_bytes(make_warc_gz(records))
    # splice a garbage WARC-Date in to prove the NULL-not-abort contract
    plain = gzip.decompress(make_warc_gz(
        [{"type": "response", "url": "https://ex.org/baddate", "date": DATE,
          "payload": b"<html><body><p>bad date page body</p></body></html>"}]
    )).replace(b"WARC-Date: 2024-03-05T12:00:00Z", b"WARC-Date: not-a-date-at-all")
    (warc_dir / "seg2.warc.gz").write_bytes(gzip.compress(plain))
    rows = {r.url: r for r in read_warc_documents(spark, str(warc_dir)).collect()}
    assert rows["https://ex.org/t"].text.startswith("<html><body><p>cut off")
    assert rows["https://ex.org/frac"].warc_ts == dt.datetime(2024, 3, 5, 12, 0, 1)
    assert rows["https://ex.org/baddate"].warc_ts is None  # NULL, job alive


def test_warc_status_gating_and_fuzz(spark, tmp_path):
    """Non-2xx responses (404 chrome, 500 pages, redirects) are dropped at
    ingestion; records without an HTTP envelope are kept (old-crawl
    convention). Plus: iter_warc_records never raises on mutated bytes."""
    ok_body = b"<html><body><p>status two hundred page body</p></body></html>"
    records = [
        {"type": "response", "url": "https://ex.org/ok", "date": DATE,
         "payload": ok_body, "status": 200},
        {"type": "response", "url": "https://ex.org/gone", "date": DATE,
         "payload": b"<html><body><p>not found chrome</p></body></html>",
         "status": 404},
        {"type": "response", "url": "https://ex.org/moved", "date": DATE,
         "payload": b"", "status": 301},
        {"type": "response", "url": "https://ex.org/err", "date": DATE,
         "payload": b"<html><body><p>oops</p></body></html>", "status": 500},
    ]
    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    blob = make_warc_gz(records)
    (warc_dir / "seg.warc.gz").write_bytes(blob)
    rows = {r.url for r in read_warc_documents(spark, str(warc_dir)).collect()}
    assert rows == {"https://ex.org/ok"}
    # statuses surfaced per record by the scalar iterator
    statuses = [r["status"] for r in iter_warc_records(blob)]
    assert statuses == [200, 404, 301, 500]
    # deterministic byte-flip fuzz: tolerant parse, never raises
    plain = gzip.decompress(blob)
    state = 7
    mut = bytearray(plain)
    for _ in range(300):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        mut[state % len(mut)] = (mut[state % len(mut)] + 1 + state % 250) % 256
        if state % 6 == 0:
            list(iter_warc_records(bytes(mut)))
            list(iter_warc_records(gzip.compress(bytes(mut))))


def test_read_warc_documents_and_extract(spark, tmp_path):
    """End-to-end: .warc.gz on disk → binaryFile scan → record fan-out →
    input_hint rows → extract_documents main-content extraction."""
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents

    records, _ = _fixture_records()
    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    (warc_dir / "seg-00000.warc.gz").write_bytes(make_warc_gz(records))
    (warc_dir / "seg-00001.warc.gz").write_bytes(
        make_warc_gz(
            [
                {"type": "response", "url": "https://ex.org/c", "date": DATE,
                 "payload": b"<html><body><p>third document from second segment file</p></body></html>"},
            ]
        )
    )
    docs = read_warc_documents(spark, str(warc_dir))
    rows = {r.url: r for r in docs.collect()}
    assert set(rows) == {"https://ex.org/a", "https://ex.org/b", "https://ex.org/c"}
    assert rows["https://ex.org/a"].warc_ts == dt.datetime(2024, 3, 5, 12, 0, 0)
    assert bytes(rows["https://ex.org/a"].html).startswith(b"<html>")

    out = {r.url: r for r in extract_documents(docs).collect()}
    assert out["https://ex.org/a"].branch == "html"
    assert "real warc main content body" in out["https://ex.org/a"].extracted_text
    assert out["https://ex.org/c"].branch == "html"


def test_warc_revisit_records_never_surface(spark, tmp_path):
    """WARC-Type: revisit dedup records (ubiquitous in real Common Crawl
    segments — the block is the bare HTTP headers of an identical
    refetch) are parsed tolerantly and NEVER emitted as documents."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        iter_warc_records,
        make_warc_gz,
        read_warc_documents,
    )

    blob = make_warc_gz(
        [
            {"type": "response", "url": "http://a.example/page",
             "payload": b"<html><body><p>real page body</p></body></html>"},
            {"type": "revisit", "url": "http://a.example/page"},
            {"type": "revisit", "url": "http://b.example/dup"},
            {"type": "response", "url": "http://c.example/other",
             "payload": b"<html><body><p>second body</p></body></html>"},
        ]
    )
    recs = list(iter_warc_records(blob))
    assert [r["type"] for r in recs] == [
        "response", "revisit", "revisit", "response",
    ]
    # the revisit blocks carry a profile and an HTTP status line, but no body
    p = str(tmp_path / "seg")
    import os as _os

    _os.makedirs(p)
    with open(_os.path.join(p, "part.warc.gz"), "wb") as f:
        f.write(blob)
    got = read_warc_documents(spark, p).collect()
    assert sorted(r.url for r in got) == [
        "http://a.example/page", "http://c.example/other",
    ]
    assert all(b"body" in bytes(r.html) for r in got)


def test_warc_mislabeled_charset_keeps_original_bytes(spark, tmp_path):
    """A payload whose declared charset does NOT decode cleanly keeps its
    ORIGINAL bytes in html (re-encoding the replace-decoded string would
    bake U+FFFD over recoverable content — ADVICE r4); a correctly
    labeled non-UTF-8 page is still re-encoded to UTF-8."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        make_warc_gz,
        read_warc_documents,
    )

    good_latin = "<html><body><p>café señor</p></body></html>".encode("latin-1")
    # invalid EUC-JP: lone 0x8F prefix byte — strict decode raises
    bad_euc = b"<html><body><p>broken \x8f\x21 bytes</p></body></html>"
    blob = make_warc_gz(
        [
            {"type": "response", "url": "http://ok.example/",
             "payload": good_latin,
             "content_type": "text/html; charset=iso-8859-1"},
            {"type": "response", "url": "http://bad.example/",
             "payload": bad_euc,
             "content_type": "text/html; charset=euc-jp"},
        ]
    )
    p = str(tmp_path / "seg")
    import os as _os

    _os.makedirs(p)
    with open(_os.path.join(p, "part.warc.gz"), "wb") as f:
        f.write(blob)
    got = {r.url: r for r in read_warc_documents(spark, p).collect()}
    # clean label → UTF-8 re-encode
    assert bytes(got["http://ok.example/"].html) == (
        good_latin.decode("latin-1").encode("utf-8")
    )
    # mislabeled → original bytes preserved verbatim, no U+FFFD baked in
    assert bytes(got["http://bad.example/"].html) == bad_euc
    assert "�".encode() not in bytes(got["http://bad.example/"].html)


# ---------------------------------------------------------------------------
# WET derivative export (r6)


def test_wet_writer_reader_roundtrip_scalar():
    import datetime as dt

    from deepseek_ocr_api_rs_spark.sources.warc import (
        iter_warc_records,
        make_wet_gz,
    )

    recs = [
        {"url": "https://a.example/1",
         "date": dt.datetime(2024, 3, 1, 12, 0, 5, tzinfo=dt.timezone.utc),
         "text": "extracted body one\nwith a second line"},
        {"url": "https://a.example/2",
         "date": dt.datetime(2024, 3, 1, 12, 0, 6, 500000, tzinfo=dt.timezone.utc),
         "text": "unicode — ß 你好"},
    ]
    blob = make_wet_gz(recs)
    got = [r for r in iter_warc_records(blob) if r["type"] == "conversion"]
    assert [r["url"] for r in got] == [r["url"] for r in recs]
    assert [r["payload"].decode("utf-8") for r in got] == [r["text"] for r in recs]
    # WARC 1.1 fractional date on the second record
    assert got[1]["date"].startswith("2024-03-01T12:00:06.500")


def test_wet_distributed_sink_and_read(spark, tmp_path):
    """write_wet: one atomic .wet.gz per task + manifest rows; read back
    equals the input including the timestamp second grain; empty
    partitions produce no file."""
    import os

    from deepseek_ocr_api_rs_spark.sources.warc import (
        read_wet_documents,
        write_wet,
    )
    from pyspark.sql import functions as F

    out = str(tmp_path / "wet")
    rows = (
        spark.range(0, 37)
        .select(
            F.concat(F.lit("https://w.example/"), F.col("id")).alias("url"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
            F.concat(F.lit("text-"), F.col("id")).alias("extracted_text"),
        )
        .repartition(8)
    )
    manifest = write_wet(rows, out).collect()
    files = [f for f in os.listdir(out) if f.endswith(".warc.wet.gz")]
    assert sorted(m.file for m in manifest) == sorted(files)
    assert sum(m.n_records for m in manifest) == 37
    assert not any(f.startswith(".") for f in os.listdir(out))  # no tmp left
    back = read_wet_documents(spark, out)
    got = {r.url: (r.text, r.warc_ts) for r in back.collect()}
    assert len(got) == 37
    for i in (0, 17, 36):
        text, ts = got[f"https://w.example/{i}"]
        assert text == f"text-{i}"
        assert int(ts.timestamp()) == 1704067200 + i


def test_wet_sink_retry_overwrites_not_duplicates(spark, tmp_path):
    """Segment names derive from the task partitionId (ADVICE r6): a task
    retry or speculative second attempt os.replace-overwrites the first
    attempt's identical segment instead of adding a fresh uuid-named one —
    running the identical sink job twice leaves the SAME file set and the
    reader sees each record exactly once."""
    import os

    from deepseek_ocr_api_rs_spark.sources.warc import (
        read_wet_documents,
        write_wet,
    )
    from pyspark.sql import functions as F

    out = str(tmp_path / "wet")
    rows = (
        spark.range(0, 23)
        .select(
            F.concat(F.lit("https://r.example/"), F.col("id")).alias("url"),
            F.timestamp_seconds(F.lit(1704067200)).alias("warc_ts"),
            F.concat(F.lit("body-"), F.col("id")).alias("extracted_text"),
        )
        .repartition(4, "url")
    )
    write_wet(rows, out).collect()
    first = sorted(os.listdir(out))
    write_wet(rows, out).collect()  # the "retry"
    assert sorted(os.listdir(out)) == first
    assert all(f.startswith("part-") for f in first)
    assert read_wet_documents(spark, out).count() == 23


def test_wet_iri_url_percent_encoded_not_crashing():
    """A raw-IRI URL (non-Latin path) maps to UTF-8 percent-escapes per
    RFC 3987 §3.1 instead of crashing the sink (code-review r6); ASCII
    and already-percent-encoded urls pass through byte-identical."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        iter_warc_records,
        make_wet_gz,
    )

    recs = [
        {"url": "https://example.org/путь/к?q=значение", "text": "t1"},
        {"url": "https://example.org/a%20b?x=1#frag", "text": "t2"},
    ]
    blob = make_wet_gz(recs)
    got = [r["url"] for r in iter_warc_records(blob)
           if r["type"] == "conversion"]
    assert got[0] == (
        "https://example.org/%D0%BF%D1%83%D1%82%D1%8C/%D0%BA"
        "?q=%D0%B7%D0%BD%D0%B0%D1%87%D0%B5%D0%BD%D0%B8%D0%B5"
    )
    assert got[1] == "https://example.org/a%20b?x=1#frag"


def test_warc_member_index_covers_container_exactly():
    """iter_gzip_members walks the one-member-per-record layout with exact
    (offset, length) bookkeeping: members tile the container with no gaps,
    and each indexed record's url/type matches the sequential parse."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        iter_gzip_members,
        warc_member_index,
    )

    records, _ = _fixture_records()
    data = make_warc_gz(records)
    idx = warc_member_index(data)
    assert len(idx) == len(records)
    pos = 0
    for e in idx:
        assert e["offset"] == pos
        pos += e["length"]
    assert pos == len(data)
    assert [e["record_type"] for e in idx] == [r["type"] for r in records]
    assert [e["url"] for e in idx] == [r["url"] for r in records]
    # inflated member == the record the sequential parser sees
    members = list(iter_gzip_members(data))
    assert len(members) == len(records)
    seq = list(iter_warc_records(data))
    assert [next(iter_warc_records(m[2]))["payload"] for m in members] == [
        r["payload"] for r in seq
    ]


def test_warc_point_read_touches_only_its_byte_range(tmp_path):
    """read_warc_record_at is a true point lookup: with every byte OUTSIDE
    the target member overwritten with garbage, the target record still
    reads back intact (the access path can only have touched
    [offset, offset+length))."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        read_warc_record_at,
        warc_member_index,
    )

    records, html = _fixture_records()
    data = make_warc_gz(records)
    idx = warc_member_index(data)
    target = idx[1]  # the first response record
    lo, hi = target["offset"], target["offset"] + target["length"]
    corrupted = b"\xde" * lo + data[lo:hi] + b"\xad" * (len(data) - hi)
    p = tmp_path / "seg.warc.gz"
    p.write_bytes(corrupted)
    rec = read_warc_record_at(str(p), lo, hi - lo)
    assert rec is not None
    assert rec["url"] == "https://ex.org/a"
    assert rec["type"] == "response"
    assert rec["payload"] == html


def test_warc_index_and_fetch_distributed(spark, tmp_path):
    """index_warc_segments builds the offset index over a directory of
    segments; fetch_warc_records_at point-reads a selected subset and
    returns the exact payload bytes."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.sources.warc import (
        fetch_warc_records_at,
        index_warc_segments,
        make_warc_gz,
    )

    d = tmp_path / "warcs"
    d.mkdir()
    for seg in range(3):
        recs = [
            {
                "type": "response",
                "url": f"https://ex.org/s{seg}/d{i}",
                "date": DATE,
                "payload": f"<html><body><p>seg {seg} doc {i}</p></body></html>".encode(),
            }
            for i in range(4)
        ]
        (d / f"seg-{seg}.warc.gz").write_bytes(make_warc_gz(recs))
    idx = index_warc_segments(spark, str(d))
    assert idx.count() == 12
    wanted = idx.filter(F.col("url").endswith("/d2"))
    got = fetch_warc_records_at(wanted, str(d)).collect()
    assert sorted(r.url for r in got) == [f"https://ex.org/s{s}/d2" for s in range(3)]
    for r in got:
        seg = r.url.split("/s")[1].split("/")[0]
        assert bytes(r.payload) == (
            f"<html><body><p>seg {seg} doc 2</p></body></html>".encode()
        )
        assert r.n_bytes == len(r.payload)


def test_encoders_ignore_the_wall_clock(monkeypatch):
    """Every member's gzip header carries mtime 0, so equal records give
    equal bytes whatever the clock reads."""
    from deepseek_ocr_api_rs_spark.sources.warc import (
        iter_gzip_members,
        make_wat_record_gz,
        make_wet_record_gz,
    )

    recs, _ = _fixture_records()

    def encode_all() -> list[bytes]:
        return [
            make_warc_gz(recs),
            make_wet_record_gz({"url": "https://ex.org/a", "date": DATE, "text": "t"}),
            make_wat_record_gz(
                {"url": "https://ex.org/a", "date": DATE, "title": "T",
                 "links": ["https://b.org/x"]}
            ),
        ]

    monkeypatch.setattr(time, "time", lambda: 1e9)
    first = encode_all()
    monkeypatch.setattr(time, "time", lambda: 2e9)
    assert encode_all() == first
    for blob in first:
        members = list(iter_gzip_members(blob))
        assert members
        for offset, _, _ in members:
            assert blob[offset + 4 : offset + 8] == b"\0\0\0\0"


@pytest.mark.parametrize("fmt", ["wet", "wat", "cdx"])
def test_sink_retry_rewrites_identical_segments(spark, tmp_path, fmt):
    """Rerunning a sink job (as a retried task does) more than a second
    later leaves the same segment names with byte-identical contents and
    no tmp dot-file."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.sources.warc import write_cdx, write_wat, write_wet

    writer = {"wet": write_wet, "wat": write_wat, "cdx": write_cdx}[fmt]
    url = F.concat(F.lit("https://r.example/"), F.col("id"))
    rows = spark.range(0, 23).select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.concat(F.lit("body-"), F.col("id")).alias("extracted_text"),
        F.concat(F.lit("title-"), F.col("id")).alias("title"),
        F.array(F.concat(url, F.lit("/next"))).alias("links"),
        F.concat(F.lit("example,r)/"), F.col("id"), F.lit(" 20240101 {}")).alias(
            "cdx_line"
        ),
    ).repartition(4, "url")
    out = str(tmp_path / fmt)

    def segments() -> dict[str, bytes]:
        return {f: open(os.path.join(out, f), "rb").read() for f in os.listdir(out)}

    writer(rows, out).collect()
    first = segments()
    time.sleep(1.1)
    writer(rows, out).collect()  # the "retry"
    assert first
    assert sorted(segments()) == sorted(first)
    assert segments() == first
    assert not any(f.startswith(".") for f in os.listdir(out))


def test_segment_sink_removes_tmp_when_attempt_raises(tmp_path):
    """An attempt whose input fails after one batch re-raises and leaves
    neither a segment nor its tmp file."""
    import pyarrow as pa

    from deepseek_ocr_api_rs_spark.sources.sink import segment_sink

    out = tmp_path / "seg"
    sink = segment_sink(str(out), "part-{:05d}.warc.wet.gz", lambda s: s.encode())

    def batches():
        yield pa.record_batch({"s": ["a", "b"]})
        raise RuntimeError("attempt failed")

    with pytest.raises(RuntimeError, match="attempt failed"):
        list(sink(batches()))
    assert os.listdir(out) == []


def test_segment_sink_removes_tmp_of_killed_attempt(spark, tmp_path):
    """A tmp file that a killed attempt left next to its segment is gone
    once the segment is published."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.sources.warc import write_wet

    out = tmp_path / "wet"
    out.mkdir()
    for k in range(4):
        (out / f".part-{k:05d}.warc.wet.gz.987654.tmp").write_bytes(b"partial")
    rows = spark.range(0, 23).select(
        F.concat(F.lit("https://k.example/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.concat(F.lit("body-"), F.col("id")).alias("extracted_text"),
    ).repartition(4, "url")
    manifest = write_wet(rows, str(out)).collect()
    assert sorted(os.listdir(out)) == sorted(r.file for r in manifest)
    assert len(manifest) == 4 and sum(r.n_records for r in manifest) == 23
