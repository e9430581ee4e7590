"""HTTP API surface tests — driven through a real socket like a reference
user's client (routes.rs /v1/* + SSE stream.rs parity)."""

from __future__ import annotations

import base64
import hashlib
import json
import subprocess
import sys
import urllib.error
import urllib.request

import pytest

from deepseek_ocr_api_rs_spark.extraction.reference import extract_document
from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents
from deepseek_ocr_api_rs_spark.server.app import serve

PORT = 8119


@pytest.fixture(scope="module")
def server():
    httpd = serve(port=PORT)
    yield f"http://127.0.0.1:{PORT}"
    httpd.shutdown()


def _post(url: str, obj) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url, data=json.dumps(obj).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_health(server):
    with urllib.request.urlopen(f"{server}/health", timeout=10) as r:
        assert json.loads(r.read())["status"] == "ok"


def test_models_listing_round_trips_as_recipe(server):
    """GET /models (+ /v1/models alias) lists every registered recipe in
    the reference's {"object": "list", "data": [...]} envelope
    (routes.rs:26-47), and each listed id is accepted back as a request's
    `recipe` — the model-id round-trip a reference client performs."""
    from deepseek_ocr_api_rs_spark.extraction.recipes import list_recipes

    for path in ("/models", "/v1/models"):
        with urllib.request.urlopen(f"{server}{path}", timeout=10) as r:
            out = json.loads(r.read())
        assert out["object"] == "list"
        ids = [m["id"] for m in out["data"]]
        assert ids == sorted(rec.name for rec in list_recipes())
        assert sum(m["default"] for m in out["data"]) == 1
        assert all(m["object"] == "recipe" for m in out["data"])
    # every listed id is usable as the request recipe
    doc = {"url": "u", "html_base64": base64.b64encode(
        b"<p>listed recipe works end to end</p>").decode()}
    for m in out["data"]:
        code, raw = _post(
            f"{server}/v1/extract", {"documents": [doc], "recipe": m["id"]}
        )
        assert code == 200, m["id"]


def test_extract_endpoint_matches_kernel(server):
    docs = make_documents(20)
    body = {
        "documents": [
            {"url": u, "html_base64": base64.b64encode(bytes(h)).decode()}
            for u, h in zip(docs.url, docs.html)
        ]
    }
    code, raw = _post(f"{server}/v1/extract", body)
    assert code == 200
    resp = json.loads(raw)
    assert resp["usage"]["documents"] == 20
    for row, payload in zip(resp["results"], docs.html):
        ref = extract_document(payload)
        assert row["extracted_text"] == ref.extracted_text
        assert row["branch"] == ref.branch


def test_extract_stream_sse(server):
    docs = make_documents(3)
    body = {
        "documents": [
            {"url": u, "html_base64": base64.b64encode(bytes(h)).decode()}
            for u, h in zip(docs.url, docs.html)
        ]
    }
    req = urllib.request.Request(
        f"{server}/v1/extract/stream",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers["Content-Type"].startswith("text/event-stream")
        raw = r.read().decode("utf-8")
    assert "event: response.created" in raw
    assert raw.strip().endswith("data: [DONE]")
    # deltas reassemble to the exact kernel output per url
    texts: dict[str, list[str]] = {}
    for block in raw.split("\n\n"):
        if "event: response.delta" in block:
            data = json.loads(block.split("data: ", 1)[1])
            texts.setdefault(data["url"], []).append(data["delta"])
    for url, payload in zip(docs.url, docs.html):
        ref = extract_document(payload)
        if ref.extracted_text:
            assert "".join(texts[url]) == ref.extracted_text


def test_bad_request_is_400(server):
    code, raw = _post(f"{server}/v1/extract", {"nope": 1})
    assert code == 400
    assert "bad request" in json.loads(raw)["error"]


def test_unknown_path_404(server):
    code, _ = _post(f"{server}/v1/whatever", {"documents": []})
    assert code == 404


def test_malformed_base64_isolated_to_error_branch(server):
    body = {
        "documents": [
            {"url": "good", "html_base64": base64.b64encode(b"<p>hello world today</p>").decode()},
            {"url": "bad", "html_base64": "!!!not-base64!!!"},
        ]
    }
    code, raw = _post(f"{server}/v1/extract", body)
    assert code == 200
    results = {r["url"]: r for r in json.loads(raw)["results"]}
    assert results["good"]["branch"] == "html"
    assert results["bad"]["branch"] == "error"


def test_recipe_selection_and_unknown_recipe(server):
    """Per-request recipe = the model hot-swap analogue (state.rs:118-152):
    markdown recipe frames the output; unknown recipe → 400."""
    body = {
        "documents": [
            {
                "url": "u1",
                "html_base64": base64.b64encode(
                    b"<p>framed content body here</p>"
                ).decode(),
            }
        ],
        "recipe": "markdown",
    }
    code, raw = _post(f"{server}/v1/extract", body)
    assert code == 200
    out = json.loads(raw)
    text = out["results"][0]["extracted_text"]
    assert text.startswith("# u1\n\n")
    assert "framed content body here" in text
    # usage counts kernel chars, not framing
    assert out["results"][0]["n_chars"] == len("framed content body here")

    body["recipe"] = "no-such-recipe"
    code, raw = _post(f"{server}/v1/extract", body)
    assert code == 400
    assert "unknown recipe" in json.loads(raw)["error"]


def test_server_imports_neither_pandas_nor_pyarrow():
    """The server reads the kernel's plain columns, so its process never
    pays the pandas/pyarrow import (about 0.45 s of a 0.73 s set-up). It
    runs outside Spark, so it has no pyspark and keeps the stdlib
    ``zipimporter.invalidate_caches``."""
    probe = (
        "import sys, zipimport, deepseek_ocr_api_rs_spark.server.app; "
        "print(sorted(m for m in ('pandas', 'pyarrow', 'pyspark') if m in sys.modules), "
        "zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[] zipimport", out.stdout


# sha256 over the response bodies of 400 eight-page requests per seed,
# pages from the start ids the benchmark's serve workload uses for its
# request bodies; pinned from the DataFrame-based kernel result, so the
# columnar result must serialize to the same bytes
RESPONSE_DIGESTS = {
    101: "ba4915a70bd77d543e8c75815a3bcd992760db44b2f59c6dcc814a59e8249a39",
    999: "4f66a32f3c8bfffa7dcd6963b50e57a0b43c4ae7dd7b78f8b268650e807cdc09",
}


@pytest.mark.parametrize("seed", sorted(RESPONSE_DIGESTS))
def test_response_bytes_are_pinned(server, seed):
    docs = make_documents(3200, start_id=1_000_000 + (seed % 400) * 100_000 + 50_000)
    digest = hashlib.sha256()
    for lo in range(0, len(docs), 8):
        body = json.dumps({"documents": [
            {"url": u, "html_base64": base64.b64encode(p).decode("ascii")}
            for u, p in zip(docs.url[lo : lo + 8], docs.html[lo : lo + 8])
        ]}).encode()
        req = urllib.request.Request(
            f"{server}/v1/extract", data=body, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 200
            digest.update(r.read())
    assert digest.hexdigest() == RESPONSE_DIGESTS[seed]
