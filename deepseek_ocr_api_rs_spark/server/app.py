"""HTTP extraction server — API parity with the reference's server mode
(crates/server: Rocket app, routes.rs /v1/responses + /v1/chat/completions,
SSE streaming stream.rs). A reference user who POSTs documents and reads
back text (+ usage counters, + SSE deltas) can do the same here.

Transport only — the engine is the same extraction kernel the Spark path
runs (`extraction.batch.extract_columns`, read as plain columns, so the
process imports neither pandas nor pyarrow); a server request is a batch
of size N, exactly like one Arrow batch. stdlib http.server (no
Rocket/flask in this container), threaded like the reference's
one-request-at-a-time model lock (state.rs:24) generalized to a thread
pool.

Endpoints:
- GET  /health                 → {"status": "ok"}
- GET  /models (+ /v1/models)  → {"object": "list", "data": [recipes]}
  (routes.rs:26-47 list_models analogue: each registered recipe is a
  "model" entry a client can pass back as the request's `recipe`)
- POST /v1/extract             → JSON rows + usage counters (S10 analogue)
- POST /v1/extract/stream      → SSE: response.created / delta* / done
  (S9 analogue; deltas are UTF-8-safe by construction — chunking happens
  on str, the X5 lesson: never split a codepoint, crates/core/src/streaming.rs:4-18)
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from deepseek_ocr_api_rs_spark import __version__
from deepseek_ocr_api_rs_spark.extraction.batch import extract_columns
from deepseek_ocr_api_rs_spark.extraction.recipes import (
    DEFAULT_RECIPE,
    get_recipe,
    list_recipes,
    render_frame,
)

STREAM_CHUNK_CHARS = 64


def _extract_payloads(docs: list[dict], recipe_name: str = DEFAULT_RECIPE) -> list[dict]:
    """Run the extraction kernel, then apply the request's RECIPE framing.

    Per-request recipe selection is the reference's model hot-swap analogue
    (crates/server/src/state.rs:118-152: requested model id validated, then
    swapped in before decode); unknown names raise KeyError → mapped to 400
    by the handler, like prepare_generation's model-id validation
    (state.rs:87-102)."""
    recipe = get_recipe(recipe_name)
    payloads = []
    for d in docs:
        raw = d.get("html_base64")
        try:
            # strict validation: malformed base64 routes that document to
            # the error branch (per-doc isolation — one bad payload must
            # not fail the batch; the 400 path is for malformed REQUESTS)
            payloads.append(base64.b64decode(raw, validate=True) if raw else None)
        except Exception:
            payloads.append(None)
    out = extract_columns(payloads)
    # ndarray.tolist(): plain Python int/bool values for the JSON encoder
    branch, text = out.branch, out.extracted_text
    n_chars, n_total, n_acc, truncated = (
        c.tolist()
        for c in (out.n_chars, out.n_blocks_total, out.n_blocks_accepted, out.truncated)
    )
    rows = []
    for i, d in enumerate(docs):
        url = d.get("url", f"doc_{i}")
        rows.append(
            {
                "url": url,
                "branch": branch[i],
                "extracted_text": render_frame(recipe, text[i], url),
                # usage counts the KERNEL output (pre-framing) — the
                # reference's usage counters likewise count generated
                # tokens, not template text (routes.rs:205-227)
                "n_chars": n_chars[i],
                "n_blocks_total": n_total[i],
                "n_blocks_accepted": n_acc[i],
                "truncated": truncated[i],
            }
        )
    return rows


class _Handler(BaseHTTPRequestHandler):
    server_version = f"deepseek-ocr-api-rs-spark/{__version__}"

    def log_message(self, fmt, *args):  # quiet
        pass

    def _json(self, code: int, obj) -> None:
        body = json.dumps(obj).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/health":
            self._json(200, {"status": "ok", "version": __version__})
        elif self.path in ("/models", "/v1/models"):
            # list_models analogue (routes.rs:26-47): same {"object":
            # "list", "data": [...]} envelope; each recipe's id is valid as
            # the `recipe` field of an extract request (the reference's
            # model-id round-trip). `created` is pinned to 0 — recipes are
            # compiled in, and a deterministic listing is testable.
            data = [
                {
                    "id": r.name,
                    "object": "recipe",
                    "created": 0,
                    "owned_by": "deepseek-ocr-api-rs-spark",
                    "default": r.name == DEFAULT_RECIPE,
                    "langs": list(r.langs) if r.langs is not None else None,
                    "include_pdf": r.include_pdf,
                }
                for r in list_recipes()
            ]
            self._json(200, {"object": "list", "data": data})
        else:
            self._json(404, {"error": f"unknown path {self.path}"})

    def _read_docs(self) -> tuple[list[dict], str] | None:
        try:
            n = int(self.headers.get("Content-Length", "0"))
            req = json.loads(self.rfile.read(n).decode("utf-8"))
            docs = req["documents"]
            assert isinstance(docs, list)
            return docs, str(req.get("recipe", DEFAULT_RECIPE))
        except Exception as e:  # 400 like generation.rs error mapping
            self._json(400, {"error": f"bad request: {e}"})
            return None

    def do_POST(self):
        if self.path == "/v1/extract":
            parsed = self._read_docs()
            if parsed is None:
                return
            docs, recipe_name = parsed
            try:
                rows = _extract_payloads(docs, recipe_name)
            except KeyError as e:
                # unknown recipe → 400, the state.rs:87-102 model-id path
                self._json(400, {"error": str(e)})
                return
            self._json(
                200,
                {
                    "object": "extraction",
                    "results": rows,
                    # usage counters (routes.rs:205-227 response usage)
                    "usage": {
                        "documents": len(rows),
                        "total_chars": sum(r["n_chars"] for r in rows),
                        "blocks_accepted": sum(r["n_blocks_accepted"] for r in rows),
                    },
                },
            )
        elif self.path == "/v1/extract/stream":
            parsed = self._read_docs()
            if parsed is None:
                return
            docs, recipe_name = parsed
            try:
                rows = _extract_payloads(docs, recipe_name)
            except KeyError as e:
                self._json(400, {"error": str(e)})
                return
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()

            def emit(event: str, data) -> None:
                self.wfile.write(
                    f"event: {event}\ndata: {json.dumps(data)}\n\n".encode("utf-8")
                )

            emit("response.created", {"documents": len(rows)})
            for r in rows:
                text = r["extracted_text"]
                # chunk on characters, never bytes → UTF-8-safe deltas (X5)
                for lo in range(0, len(text), STREAM_CHUNK_CHARS):
                    emit(
                        "response.delta",
                        {"url": r["url"], "delta": text[lo : lo + STREAM_CHUNK_CHARS]},
                    )
                emit(
                    "response.completed",
                    {"url": r["url"], "branch": r["branch"], "n_chars": r["n_chars"]},
                )
            self.wfile.write(b"data: [DONE]\n\n")
        else:
            self._json(404, {"error": f"unknown path {self.path}"})


def serve(host: str = "127.0.0.1", port: int = 8111) -> ThreadingHTTPServer:
    """Start the server on a background thread; returns the server object
    (call .shutdown() to stop)."""
    httpd = ThreadingHTTPServer((host, port), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd


if __name__ == "__main__":
    import sys

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8111
    print(f"serving on http://127.0.0.1:{port}")
    s = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
    s.serve_forever()
