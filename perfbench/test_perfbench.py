"""Tests of the benchmark's own checks and bookkeeping. They need no
Spark session:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import common as C
from perfbench import corpus, extract_job, inputs, ledger, run, serve


@pytest.fixture(scope="module")
def docs():
    from deepseek_ocr_api_rs_spark.extraction.reference import extract_document
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    df = make_documents(40, start_id=7_000_000)
    by_url = dict(zip(df["url"], df["html"]))
    rows = []
    for u, h in by_url.items():
        ref = extract_document(h)
        rows.append((u, ref.branch, ref.extracted_text))
    return by_url, rows


def test_check_rows_accepts_reference_output(docs):
    by_url, rows = docs
    assert extract_job.check_rows(by_url, rows, sorted(by_url)) == (40, 0)


@pytest.mark.parametrize("corruption", ["text", "branch", "missing", "duplicate", "foreign"])
def test_check_rows_fails_a_corrupted_row(docs, corruption):
    by_url, rows = docs
    rows = list(rows)
    u, b, t = rows[3]
    if corruption == "text":
        rows[3] = (u, b, t + "x")
    elif corruption == "branch":
        rows[3] = (u, "error" if b != "error" else "html", t)
    elif corruption == "missing":
        del rows[3]
    elif corruption == "duplicate":
        rows.append(rows[3])
    else:
        rows.append(("https://elsewhere.example/x", b, t))
    attempted, failed = extract_job.check_rows(by_url, rows, sorted(by_url))
    assert attempted == 40 and failed >= 1
    assert (attempted - failed) / attempted < 1


def _response(expected: list[dict]) -> bytes:
    return json.dumps({"object": "extraction", "results": [dict(e, truncated=False) for e in expected]}).encode()


def test_response_check(docs):
    by_url, _ = docs
    urls = sorted(by_url)[:8]
    expected = serve.expected_rows([by_url[u] for u in urls], urls)
    assert serve.response_ok(200, _response(expected), expected)
    bad_text = [dict(e) for e in expected]
    bad_text[5]["extracted_text"] += "x"
    assert not serve.response_ok(200, _response(bad_text), expected)
    assert not serve.response_ok(200, _response(expected[:-1]), expected)
    assert not serve.response_ok(500, _response(expected), expected)
    assert not serve.response_ok(200, b"not json", expected)


def test_server_answers_match_in_process_kernel(docs):
    by_url, _ = docs
    urls = sorted(by_url)[:8]
    payloads = [by_url[u] for u in urls]
    body = json.dumps(
        {"documents": [{"url": u, "html_base64": __import__("base64").b64encode(p).decode()} for u, p in zip(urls, payloads)]}
    ).encode()
    server = serve.Server(inputs.warmup_body())
    try:
        status, data = serve.post(server.port, body)
    finally:
        server.stop()
    assert server.proc.poll() is not None
    assert serve.response_ok(status, data, serve.expected_rows(payloads, urls))


def test_oracle_comparison_is_exact():
    from tests.test_queries_oracle import _canon

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25], "s": ["b", "a"]})
    assert corpus.same(_canon(a), _canon(a.iloc[::-1]))
    b = a.copy()
    b.loc[0, "v"] = 0.5000000001
    assert not corpus.same(_canon(a), _canon(b))
    assert not corpus.same(_canon(a), _canon(a.iloc[:1]))


def test_self_time_subtracts_covered_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 2.0, 4.0, 10.0])
    monkeypatch.setattr(C.time, "perf_counter", lambda: next(clock))
    tr = C.Tracer(True)
    with tr.span("root"):
        with tr.span("a"):  # 1 .. 3
            pass
        with tr.span("b"):  # 2 .. 4, overlapping a by one second
            pass
    assert tr.spans[0].dur == 10.0
    assert tr.self_time(0) == 7.0
    assert tr.self_by_name(0) == {"root": 7.0, "a": 2.0, "b": 2.0}


@pytest.mark.parametrize("loop_gap, closes", [(0.5, True), (2.0, False)])
def test_ledger_closure_counts_uncovered_loop_time(monkeypatch, loop_gap, closes):
    # job 0 .. 10 holds the loop 0 .. 10; the loop's one child covers all
    # but loop_gap seconds of it
    clock = iter([0.0, 0.0, loop_gap, 10.0, 10.0, 10.0])
    monkeypatch.setattr(C.time, "perf_counter", lambda: next(clock))
    tr = C.Tracer(True)
    with tr.span("job"):
        with tr.span(ledger.RRE):
            with tr.span("operators.checkpoint.bucket_write"):
                pass
    closed, unattributed = ledger.closure(tr, 0)
    assert unattributed == loop_gap
    assert closed == pytest.approx(1 - loop_gap / 10)
    assert (closed >= ledger.CLOSURE_MIN) is closes


def test_corpus_table_is_the_sf0_01_test_table():
    from deepseek_ocr_api_rs_spark.conf import testdata_dir

    original = os.path.join(testdata_dir("0.01"), "documents.parquet")
    if not os.path.exists(original):
        pytest.skip("the sf0.01 test tables are not present")
    with open(original, "rb") as a, open(os.path.join(corpus.TABLE_DIR, "documents.parquet"), "rb") as b:
        assert a.read() == b.read()


def test_disabled_tracer_records_nothing():
    tr = C.Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_percentile():
    xs = list(range(1, 101))
    assert C.percentile(xs, 50) == 50.5
    assert C.percentile(xs, 99) == pytest.approx(99.01)
    assert C.percentile([3.0], 99) == 3.0


def test_layer_metrics_are_completed_and_checked():
    full = ledger.complete({"conf.package_zip_mb": 1.5})
    assert set(full) == set(ledger.LAYER_UNITS) and full["conf.package_zip_mb"] == 1.5
    with pytest.raises(KeyError):
        ledger.complete({"no.such.layer": 1.0})


def test_benchmark_json_matches_the_code():
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == ledger.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == ["extract_job", "serve"]
