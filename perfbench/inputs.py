"""Seeded inputs. The program sees only what these functions generate.

Extraction inputs come from the package's own corpus generator
(``fixtures.corpus.make_documents``); the seed picks the ``start_id``
range, so every seed gives different pages with the same mix (about 88%
HTML, 5% PDF, 3% Markdown, 2% malformed, 2.5% legacy charset).

Files are cached under ``.perfbench_work/inputs`` keyed by (seed, size,
CORPUS_VERSION). Generation and the cache check both run before set-up
starts, and a cached file is read through once either way, so a hit or a
miss leaves every timing alone.
"""

from __future__ import annotations

import base64
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import WORK

DOC_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Each seed owns a start_id range of this width, above the row ids the
# goldens use. The generator stamps row r at 2024-01-01 + 137 s * r, and
# the extraction stage cannot carry a timestamp past 2262 (the limit of
# pandas' nanosecond datetimes), so seeds wrap at SEED_SLOTS to keep
# every row id below 4.1e7, in the year 2202 or earlier.
RANGE = 100_000
SEED_SLOTS = 400


def start_id(seed: int, offset: int = 0) -> int:
    return 1_000_000 + (seed % SEED_SLOTS) * RANGE + offset


def _cached(name: str, build) -> str:
    path = os.path.join(WORK, "inputs", name)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        build(tmp)
        os.replace(tmp, path)
    with open(path, "rb") as fh:  # same page-cache state on hit and miss
        while fh.read(1 << 20):
            pass
    return path


def documents_parquet(seed: int, n_docs: int, offset: int = 0) -> str:
    """Pages table ``(url, warc_ts, html, text, lang)`` for ``n_docs`` rows."""
    from deepseek_ocr_api_rs_spark.fixtures.corpus import CORPUS_VERSION, make_documents

    first = start_id(seed, offset)

    def build(path: str) -> None:
        df = make_documents(n_docs, start_id=first)
        pq.write_table(pa.Table.from_pandas(df, schema=DOC_SCHEMA, preserve_index=False), path)

    return _cached(f"docs_s{seed}_o{offset}_n{n_docs}_v{CORPUS_VERSION}.parquet", build)


def request_bodies(seed: int, n_bodies: int, docs_per_request: int) -> list[tuple[list[str], list[bytes | None], bytes]]:
    """``n_bodies`` distinct ``POST /v1/extract`` bodies of
    ``docs_per_request`` pages each, from a start_id range disjoint from
    the job corpus. Returns (urls, payloads, body bytes) per request."""
    table = pq.read_table(documents_parquet(seed, n_bodies * docs_per_request, offset=RANGE // 2))
    urls = table.column("url").to_pylist()
    htmls = table.column("html").to_pylist()
    out = []
    for lo in range(0, len(urls), docs_per_request):
        u, h = urls[lo : lo + docs_per_request], htmls[lo : lo + docs_per_request]
        body = json.dumps(
            {"documents": [{"url": a, "html_base64": base64.b64encode(b).decode("ascii")} for a, b in zip(u, h)]}
        ).encode("utf-8")
        out.append((u, h, body))
    return out


# Eight fixed pages every server answers, and every Spark worker
# extracts, before timing. The first of them is an AES-256 (/V 5 /R 6)
# PDF: the first such page a process meets runs the memoised Algorithm
# 2.B key derivation, about 1 s of pure Python. The generator gives these
# PDFs the same salts, so after that one page the cost is gone for the
# process's lifetime. Paying it in set-up makes every seed's timed region
# start from the same state, whether or not its own pages hold such a
# PDF, and shows the cost in setup_s.
WARMUP_START_ID = 11_250_800


def warmup_body() -> bytes:
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    df = make_documents(8, start_id=WARMUP_START_ID)
    return json.dumps(
        {"documents": [{"url": u, "html_base64": base64.b64encode(h).decode("ascii")} for u, h in zip(df["url"], df["html"])]}
    ).encode("utf-8")

