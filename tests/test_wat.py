"""WAT derivative export (r7) — Common Crawl's metadata sibling of WET.

write_wat/read_wat_metadata share the WET sink contract (streamed gzip
members, task-identity segment names, tmp+rename) with a canonical-JSON
envelope payload per record.
"""

import datetime as dt
import gzip
import json

from deepseek_ocr_api_rs_spark.sources.warc import (
    make_wat_record_gz,
    make_wet_record_gz,
    read_wat_metadata,
    write_wat,
)


def test_wat_record_is_canonical_json():
    """Equal inputs → identical bytes; the envelope carries the Common
    Crawl layout (Envelope.WARC-Header-Metadata + HTML-Metadata with
    Head.Title and Links), keys sorted, separators compact."""
    rec = {
        "url": "https://ex.org/a",
        "date": dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc),
        "title": "T",
        "links": ["https://b.org/x", "https://b.org/y"],
    }
    a, b = make_wat_record_gz(rec), make_wat_record_gz(dict(rec))
    assert a == b
    body = gzip.decompress(a)
    head, _, payload = body.partition(b"\r\n\r\n")
    assert b"WARC-Type: metadata" in head
    assert b"Content-Type: application/json" in head
    env = json.loads(payload.rstrip(b"\r\n"))["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == "https://ex.org/a"
    hm = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    assert hm["Head"]["Title"] == "T"
    assert [e["url"] for e in hm["Links"]] == [
        "https://b.org/x", "https://b.org/y"
    ]
    # canonical serialization: re-dumping the parsed payload with
    # sort_keys+compact separators reproduces the stored bytes
    raw = payload.rstrip(b"\r\n")
    assert raw == json.dumps(
        json.loads(raw), sort_keys=True, separators=(",", ":")
    ).encode("utf-8")
    # no-title records omit Head rather than writing a null
    rec2 = dict(rec, title=None)
    hm2 = json.loads(
        gzip.decompress(make_wat_record_gz(rec2)).partition(b"\r\n\r\n")[2]
        .rstrip(b"\r\n")
    )["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"
    ]
    assert "Head" not in hm2


def test_wat_write_read_roundtrip(spark, tmp_path):
    """Sink → reader roundtrip preserves url/ts/title/links, including a
    zero-link page (empty array, not a dropped row) and a None title."""
    out = str(tmp_path / "wat")
    rows = [
        (
            "https://a.org/1",
            dt.datetime(2024, 1, 2, 3, 4, 5),
            "First",
            ["https://a.org/x", "https://cdn.net/l.js"],
        ),
        ("https://a.org/2", dt.datetime(2024, 1, 2, 3, 4, 6), None, []),
        ("https://b.org/3", dt.datetime(2024, 1, 2, 3, 4, 7), "Third",
         ["https://b.org/only"]),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, title string, links array<string>"
    ).repartition(2, "url")
    manifest = write_wat(df, out).collect()
    assert sum(m.n_records for m in manifest) == 3
    assert all(m.file.startswith("part-") for m in manifest)
    assert all(m.file.endswith(".warc.wat.gz") for m in manifest)
    got = {
        r.url: (r.warc_ts, r.title, list(r.links))
        for r in read_wat_metadata(spark, out).collect()
    }
    assert got == {u: (ts, t, ls) for u, ts, t, ls in rows}


def test_wat_reader_skips_foreign_and_malformed(spark, tmp_path):
    """A conversion (WET) record in a .wat file and metadata records
    whose payload is not the envelope shape — not JSON, a top-level
    array, a string Envelope, a list-valued HTML-Metadata or Head — are
    all skipped: the reader never crashes, never fabricates rows."""
    out = tmp_path / "wat"
    out.mkdir()
    good = make_wat_record_gz(
        {
            "url": "https://ok.org/p",
            "date": dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc),
            "title": "ok",
            "links": ["https://ok.org/l"],
        }
    )
    stray_wet = make_wet_record_gz(
        {
            "url": "https://wet.org/p",
            "date": dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc),
            "text": "hello",
        }
    )

    def html_meta(value: object) -> bytes:
        return json.dumps({"Envelope": {"Payload-Metadata": {
            "HTTP-Response-Metadata": {"HTML-Metadata": value}}}}).encode()

    bad_payloads = [
        b"this is not json",
        b"[1]",
        b'{"Envelope": "x"}',
        html_meta([{"Links": []}]),
        html_meta({"Head": ["Title"], "Links": []}),
    ]
    bad = b""
    for i, bad_payload in enumerate(bad_payloads):
        bad_head = (
            "WARC/1.0\r\n"
            "WARC-Type: metadata\r\n"
            f"WARC-Target-URI: https://bad.org/{i}\r\n"
            "WARC-Date: 2024-05-01T00:00:00Z\r\n"
            f"Content-Length: {len(bad_payload)}\r\n\r\n"
        ).encode("latin-1")
        bad += gzip.compress(bad_head + bad_payload + b"\r\n\r\n")
    (out / "part-00000.warc.wat.gz").write_bytes(good + stray_wet + bad)
    rows = read_wat_metadata(spark, str(out)).collect()
    assert [r.url for r in rows] == ["https://ok.org/p"]
    assert rows[0].title == "ok" and list(rows[0].links) == [
        "https://ok.org/l"
    ]
