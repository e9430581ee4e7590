"""Workload ``extract_job``: the resumable extraction job as
``deepseek_ocr_api_rs_spark.job`` runs it (``run_resumable_extraction``
with the CLI default of 8 buckets, then the output count and the
``extraction_metrics`` rollup), at ``local[nproc]`` on a warmed session.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from collections.abc import Iterator

import pyarrow.parquet as pq

from perfbench import common as C
from perfbench import inputs

N_DOCS = 4000
N_BUCKETS = 8  # job.py --n-buckets default
WARM_DOCS = 256
SETUPS = 3
MIN_REPS = 2
SAMPLE = 256  # rows checked against the scalar reference extractor


def _warm_worker(batches: Iterator) -> Iterator:
    """Worker warm-up: import the kernel and fill the AES-256 key-derivation
    cache, as the warm-up body does for a server (``inputs.warmup_body``)."""
    from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    extract_batch(list(make_documents(8, start_id=inputs.WARMUP_START_ID)["html"]))
    yield from batches


def new_session():
    from deepseek_ocr_api_rs_spark.conf import build_session

    spark = build_session(
        app_name="perfbench-extract", master=f"local[{C.nproc()}]", extra_conf=C.spark_conf()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(warm_path: str) -> tuple[object, dict[str, float]]:
    """Bring the engine up once: session start with the package shipped
    (zip rebuilt), worker fork, import and cache warm-up, and a one-bucket
    job through the checkpoint path so codegen is done before timing."""
    from deepseek_ocr_api_rs_spark.conf import package_zip
    from deepseek_ocr_api_rs_spark.operators.checkpoint import run_resumable_extraction

    if os.path.exists(package_zip()):
        os.remove(package_zip())
    t0 = time.perf_counter()
    spark = new_session()
    t1 = time.perf_counter()
    n = C.nproc()
    spark.range(n * 4).repartition(n).mapInPandas(_warm_worker, "id long").count()
    t2 = time.perf_counter()
    warm_dir = os.path.join(C.WORK, "warm")
    shutil.rmtree(warm_dir, ignore_errors=True)
    run_resumable_extraction(
        spark, spark.read.parquet(warm_path), os.path.join(warm_dir, "out"),
        os.path.join(warm_dir, "ckpt"), n_buckets=1,
    )
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "workers_s": t2 - t1, "warm_job_s": t3 - t2, "total_s": t3 - t0}


def set_up_repeated(n: int) -> tuple[object, list[dict[str, float]]]:
    """``n`` set-ups in a row (the first on a cold JVM); the last session
    stays up for the timed region."""
    warm_path = inputs.documents_parquet(0, WARM_DOCS, offset=inputs.RANGE - WARM_DOCS)
    runs = []
    spark = None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        spark, parts = set_up(warm_path)
        runs.append(parts)
    return spark, runs


def run_job(spark, docs_path: str, run_dir: str, run_id: str) -> dict[str, float]:
    """One job as job.py runs it. Returns its wall time (extraction, the
    output count and the rollup) and the output row count."""
    from deepseek_ocr_api_rs_spark.operators.checkpoint import run_resumable_extraction
    from deepseek_ocr_api_rs_spark.operators.extract import extraction_metrics
    from deepseek_ocr_api_rs_spark.sources.io import read_documents

    shutil.rmtree(run_dir, ignore_errors=True)
    out, ckpt = os.path.join(run_dir, "out"), os.path.join(run_dir, "ckpt")
    t0 = time.perf_counter()
    buckets = run_resumable_extraction(
        spark, read_documents(spark, docs_path), out, ckpt, n_buckets=N_BUCKETS, run_id=run_id
    )
    written = spark.read.parquet(out)
    n = written.count()
    extraction_metrics(written).collect()
    t1 = time.perf_counter()
    return {"job_s": t1 - t0, "rows": n, "buckets": buckets, "out": out}


def check_rows(
    inputs_by_url: dict[str, bytes], rows: list[tuple[str, str, str]], sample_urls: list[str]
) -> tuple[int, int]:
    """(attempted, failed) over input documents. A document fails if its
    url is not in the output exactly once, or if it is sampled and its
    ``extracted_text`` or ``branch`` differs from the scalar reference
    extractor. Output rows for urls that were never input also fail."""
    from deepseek_ocr_api_rs_spark.extraction.reference import extract_document

    counts = Counter(u for u, _, _ in rows)
    bad = {u for u in inputs_by_url if counts.get(u, 0) != 1}
    extra = sum(c for u, c in counts.items() if u not in inputs_by_url)
    got = {u: (b, t) for u, b, t in rows}
    for u in sample_urls:
        if u in bad:
            continue
        ref = extract_document(inputs_by_url[u])
        if got[u] != (ref.branch, ref.extracted_text):
            bad.add(u)
    attempted = len(inputs_by_url)
    return attempted, min(attempted, len(bad) + extra)


def verify_output(spark, docs_path: str, out: str, seed: int) -> tuple[int, int]:
    table = pq.read_table(docs_path, columns=["url", "html"])
    by_url = dict(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
    rows = [
        (r.url, r.branch, r.extracted_text)
        for r in spark.read.parquet(out).select("url", "branch", "extracted_text").collect()
    ]
    sample = random.Random(seed).sample(sorted(by_url), min(SAMPLE, len(by_url)))
    return check_rows(by_url, rows, sample)


def timed_reps(spark, docs_path: str, seconds: float) -> list[dict]:
    """Run the job until ``seconds`` have passed, at least MIN_REPS times.
    Task CPU and Python-worker CPU are read around each rep."""
    reps = []
    t_end = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < t_end:
        cpu0 = C.cpu_totals(spark)
        rep = run_job(spark, docs_path, os.path.join(C.WORK, "job"), f"rep{len(reps)}")
        rep["cpu_s"] = sum(C.cpu_delta(cpu0, C.cpu_totals(spark)))
        reps.append(rep)
    return reps


def run(seed: int, seconds: float, trace: bool) -> tuple[dict, int, int]:
    docs_path = inputs.documents_parquet(seed, N_DOCS)
    # a traced run reports the layers of the first, cold set-up only
    spark, setups = set_up_repeated(1 if trace else SETUPS)
    try:
        if trace:
            from perfbench import ledger

            return ledger.extract_layers(spark, seed, docs_path, setups)
        reps = timed_reps(spark, docs_path, seconds)
        rss = C.python_worker_peak_rss_mb()
        out = reps[-1]["out"]
        out_mb = C.dir_bytes(out) / 1e6
        attempted, failed = verify_output(spark, docs_path, out, seed)
        # a rep that wrote fewer rows than it read fails its missing docs
        failed = min(attempted, failed + sum(max(0, N_DOCS - r["rows"]) for r in reps))
        metrics = {
            "setup_s": C.median([s["total_s"] for s in setups]),
            "docs_per_s": N_DOCS / C.median([r["job_s"] for r in reps]),
            "cpu_s": C.median([r["cpu_s"] for r in reps]),
            "rss_mb": rss,
            "out_mb": out_mb,
            "ok_frac": (attempted - failed) / attempted,
        }
        return metrics, attempted, failed
    finally:
        C.stop_spark(spark)
