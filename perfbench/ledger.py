"""Per-layer metrics (``--trace 1``). Layers are named after the
package's modules; spans are recorded by the benchmark around calls into
each module's public functions, never inside the program.

Every traced run reports every layer metric. A layer the workload does
not exercise reports 0: it did no work there.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

from perfbench import common as C
from perfbench import corpus, kernel

_QUERY_FIELDS = ("wall_s", "task_cpu_s", "py_cpu_s", "jobs", "stages", "shuffle_mb", "spill_mb", "first_pass_s")

LAYER_UNITS: dict[str, str] = {
    "conf.session_start_s": "s",
    "conf.warmup_s": "s",
    "conf.cold_first_job_s": "s",
    "conf.package_zip_mb": "MB",
    "entry.import_s": "s",
    "package.loc": "lines",
    "sources.io.scan_s": "s",
    "sources.io.scan_mb": "MB",
    "sources.io.write_s": "s",
    "operators.partitioning.exchange_s": "s",
    "operators.partitioning.shuffle_write_mb": "MB",
    "operators.extract.arrow_roundtrip_s": "s",
    "operators.extract.map_s": "s",
    "operators.extract.task_cpu_s": "s",
    "operators.extract.py_cpu_s": "s",
    "operators.checkpoint.job_s": "s",
    "operators.checkpoint.jobs": "count",
    "operators.checkpoint.stages": "count",
    "operators.checkpoint.tasks": "count",
    "operators.checkpoint.buckets": "count",
    "operators.checkpoint.commit_s": "s",
    "operators.checkpoint.scan_amplification": "scans",
    "operators.checkpoint.bucket_writes_s": "s",
    "operators.checkpoint.listing_s": "s",
    "operators.checkpoint.readback_s": "s",
    "operators.checkpoint.manifest_s": "s",
    "operators.checkpoint.loop_self_s": "s",
    "operators.extract.rollup_s": "s",
    "ledger.closure": "fraction",
    "ledger.traced_job_s": "s",
    "ledger.untraced_job_s": "s",
    "ledger.trace_overhead_s": "s",
    "extraction.batch.kernel_docs_per_s": "1/s",
    "extraction.batch.kernel_s": "s",
    "extraction.charset.route_decode_s": "s",
    "extraction.html_blocks.segment_html_s": "s",
    "extraction.batch.features_score_smooth_s": "s",
    "extraction.normalize.normalize_text_s": "s",
    "extraction.pdf_spans.pdf_s": "s",
    "extraction.markdown.markdown_blocks_s": "s",
    "extraction.batch.assembly_s": "s",
    "extraction.batch.docs_html": "count",
    "extraction.batch.docs_pdf": "count",
    "extraction.batch.docs_text": "count",
    "extraction.batch.docs_error": "count",
    "extraction.batch.blocks": "count",
    "extraction.batch.block_accept_rate": "fraction",
    "server.app.service_ms": "ms",
    "extraction.batch.request_kernel_ms": "ms",
    "server.app.transport_ms": "ms",
    "server.app.queue_ms": "ms",
    "serve.lat_p50_ms": "ms",
    "serve.lat_p99_ms": "ms",
    "serve.peak_docs_per_s": "1/s",
    "serve.gen_late_p99_ms": "ms",
    "serve.requests_failed": "count",
    **{
        f"{q}.{f}": ("count" if f in ("jobs", "stages") else "MB" if f.endswith("_mb") else "s")
        for q in corpus.QUERIES
        for f in _QUERY_FIELDS
    },
}

KERNEL_SAMPLE = 1024  # documents run through the in-process kernel ledger


def complete(metrics: dict[str, float]) -> dict[str, float]:
    """Every layer metric, 0 where this workload did not exercise it."""
    unknown = set(metrics) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"undeclared layer metrics: {sorted(unknown)}")
    return {name: float(metrics.get(name, 0.0)) for name in LAYER_UNITS}


# ------------------------------------------------------- package and set-up


def package_layers() -> dict[str, float]:
    """Lines of package + entry code, the executor zip size, and the
    import time of ``__spark_entry__`` in a fresh interpreter (median of 3)."""
    from deepseek_ocr_api_rs_spark.conf import package_zip

    loc = 0
    files = [os.path.join(C.ROOT, "__spark_entry__.py")]
    for dirpath, _dirs, names in os.walk(os.path.join(C.ROOT, "deepseek_ocr_api_rs_spark")):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    for path in files:
        with open(path, "rb") as fh:
            loc += sum(1 for _ in fh)
    probe = "import time; t = time.perf_counter(); import __spark_entry__; print(time.perf_counter() - t)"
    imports = []
    for _ in range(3):
        out = subprocess.run(
            [sys.executable, "-c", probe], cwd=C.ROOT, capture_output=True, text=True, check=True, timeout=120
        )
        imports.append(float(out.stdout.strip().splitlines()[-1]))
    return {
        "package.loc": loc,
        "conf.package_zip_mb": os.path.getsize(package_zip()) / 1e6,
        "entry.import_s": C.median(imports),
    }


def setup_layers(setups: list[dict[str, float]]) -> dict[str, float]:
    cold = setups[0]
    return {
        "conf.session_start_s": cold["session_s"],
        "conf.warmup_s": cold["workers_s"],
        "conf.cold_first_job_s": cold["warm_job_s"],
    }


# ------------------------------------------------------------ job tracing


RRE = "operators.checkpoint.run_resumable_extraction"


@contextmanager
def traced_job_calls(spark, tracer: C.Tracer) -> Iterator[None]:
    """For the duration of the block, wrap in spans the checkpoint module's
    public functions, the extraction plan, and the Spark reads and actions
    the job starts. Inside the bucket loop the first collect is the bucket
    listing, each write is a bucket's write, and later reads and collects
    are read-backs; after the loop, the count and the collect are the
    job's rollup."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from deepseek_ocr_api_rs_spark.operators import checkpoint, extract

    df_cls = type(spark.range(1))
    wrote = []

    def in_loop() -> bool:
        return bool(tracer._stack) and tracer.spans[tracer._stack[-1]].name == RRE

    def write_name() -> str:
        if in_loop():
            wrote.append(1)
            return "operators.checkpoint.bucket_write"
        return "spark.write"

    def collect_name() -> str:
        if in_loop():
            return "operators.checkpoint.readback" if wrote else "operators.checkpoint.listing"
        return "operators.extract.rollup"

    def read_name() -> str:
        return "operators.checkpoint.readback" if in_loop() else "sources.io.read"

    targets = [
        (checkpoint, "run_resumable_extraction", lambda: RRE),
        (checkpoint, "with_bucket", lambda: "operators.checkpoint.plan"),
        (checkpoint, "resume_filter", lambda: "operators.checkpoint.plan"),
        (checkpoint, "commit_bucket", lambda: "operators.checkpoint.commit_bucket"),
        (checkpoint, "committed_buckets", lambda: "operators.checkpoint.committed_buckets"),
        (extract, "extract_documents", lambda: "operators.extract.plan"),
        (df_cls, "collect", collect_name),
        (df_cls, "count", lambda: "operators.extract.rollup"),
        (DataFrameReader, "parquet", read_name),
        (DataFrameWriter, "parquet", write_name),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]

    def wrap(fn, name_of):
        def inner(*args, **kwargs):
            with tracer.span(name_of()):
                return fn(*args, **kwargs)

        return inner

    for (owner, attr, fn), (_, _, name_of) in zip(saved, targets):
        setattr(owner, attr, wrap(fn, name_of))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


# ROADMAP direction 1: the spans of the traced job must account for all
# but 10% of its wall time, or the traced run fails.
CLOSURE_MIN = 0.9


def closure(tracer: C.Tracer, root: int) -> tuple[float, float]:
    """(closure, unattributed seconds) of the traced job under ``root``.
    Unattributed time is the self time of the job span and of the
    checkpoint loop: Python in this process that no span below them
    covers. Closure is the share of the job's wall the other spans cover."""
    selfs = tracer.self_by_name(root)
    unattributed = selfs.get("job", 0.0) + selfs.get(RRE, 0.0)
    wall = tracer.spans[root].dur
    return (wall - unattributed) / wall, unattributed


def traced_job(spark, docs_path: str, run_dir: str, tracer: C.Tracer) -> tuple[int, dict]:
    """``extract_job.run_job`` under spans; returns the root span's index
    and the job's result."""
    from perfbench.extract_job import run_job

    with traced_job_calls(spark, tracer), tracer.span("job") as root:
        rep = run_job(spark, docs_path, run_dir, "traced")
    return next(i for i, s in enumerate(tracer.spans) if s is root), rep


# ---------------------------------------------------------------- ladder


def _timed_action(spark, group: str, action) -> tuple[float, dict, tuple[float, float]]:
    sc = spark.sparkContext
    cpu0 = C.cpu_totals(spark)
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    action()
    dt = time.perf_counter() - t0
    sc.setJobGroup("", "")
    return dt, C.group_stats(spark, group), C.cpu_delta(cpu0, C.cpu_totals(spark))


def _identity_batches(batches):
    yield from batches


def extract_layers(spark, seed: int, docs_path: str, setups: list[dict]) -> tuple[dict, int, int]:
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents
    from deepseek_ocr_api_rs_spark.operators.partitioning import repartition_by_url
    from deepseek_ocr_api_rs_spark.sources.io import read_documents

    from perfbench.extract_job import N_DOCS, run_job, verify_output

    m: dict[str, float] = setup_layers(setups)
    sc = spark.sparkContext

    # ladder: each rung adds one layer to the one before
    docs = read_documents(spark, docs_path)
    cols = ["url", "warc_ts", "html", "lang"]
    ladder_out = os.path.join(C.WORK, "ladder")

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    scan_s, _, _ = _timed_action(spark, "scan", noop(docs.select(*cols)))
    arrow_s, _, _ = _timed_action(
        spark, "arrow", noop(docs.select(*cols).mapInPandas(_identity_batches, docs.select(*cols).schema))
    )
    map_s, _, map_cpu = _timed_action(spark, "map", noop(extract_documents(docs)))
    write_s, _, _ = _timed_action(
        spark, "write", lambda: extract_documents(docs).write.mode("overwrite").parquet(ladder_out)
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    exch_s, exch_st, _ = _timed_action(spark, "exchange", noop(repartition_by_url(docs.select(*cols), n_parts)))
    shutil.rmtree(ladder_out, ignore_errors=True)

    # the job traced, then untraced: the difference is the tracing
    # overhead. The first job after set-up runs slower than the next, so
    # the ladder above runs first and warms the same extraction path.
    tracer = C.Tracer(True)
    sc.setJobGroup("job", "job")
    root, traced = traced_job(spark, docs_path, os.path.join(C.WORK, "job_traced"), tracer)
    sc.setJobGroup("", "")
    untraced = run_job(spark, docs_path, os.path.join(C.WORK, "job"), "untraced")
    C.settle(spark)
    job_stats = C.group_stats(spark, "job")
    tracer.dump(os.path.join(C.WORK, "trace", "extract_job.json"))
    wall = tracer.spans[root].dur
    closed, unattributed = closure(tracer, root)
    rre = next(s for s in tracer.spans if s.name == RRE)

    def total(name: str) -> float:
        return sum(s.dur for s in tracer.spans if s.name == name)

    def count(name: str) -> int:
        return sum(1 for s in tracer.spans if s.name == name)

    m.update(
        {
            "sources.io.scan_s": scan_s,
            "sources.io.scan_mb": os.path.getsize(docs_path) / 1e6,
            "operators.extract.arrow_roundtrip_s": arrow_s - scan_s,
            "operators.extract.map_s": map_s - arrow_s,
            "operators.extract.task_cpu_s": map_cpu[0],
            "operators.extract.py_cpu_s": map_cpu[1],
            "sources.io.write_s": write_s - map_s,
            "operators.partitioning.exchange_s": exch_s - scan_s,
            "operators.partitioning.shuffle_write_mb": exch_st["shuffle_write_mb"],
            "operators.checkpoint.job_s": rre.dur,
            "operators.checkpoint.jobs": job_stats["jobs"],
            "operators.checkpoint.stages": job_stats["stages"],
            "operators.checkpoint.tasks": job_stats["tasks"],
            "operators.checkpoint.buckets": traced["buckets"],
            "operators.checkpoint.commit_s": rre.dur - write_s,
            "operators.checkpoint.scan_amplification": count("operators.checkpoint.listing")
            + count("operators.checkpoint.bucket_write"),
            "operators.checkpoint.bucket_writes_s": total("operators.checkpoint.bucket_write"),
            "operators.checkpoint.listing_s": total("operators.checkpoint.listing"),
            "operators.checkpoint.readback_s": total("operators.checkpoint.readback"),
            "operators.checkpoint.manifest_s": total("operators.checkpoint.commit_bucket")
            + total("operators.checkpoint.committed_buckets"),
            "operators.checkpoint.loop_self_s": unattributed,
            "operators.extract.rollup_s": total("operators.extract.rollup"),
            "ledger.closure": closed,
            "ledger.traced_job_s": wall,
            "ledger.untraced_job_s": untraced["job_s"],
            "ledger.trace_overhead_s": wall - untraced["job_s"],
        }
    )

    attempted, failed = verify_output(spark, docs_path, traced["out"], seed)
    failed = min(attempted, failed + max(0, N_DOCS - untraced["rows"]))
    # the ledger's closure is one more checked unit
    attempted += 1
    failed += int(closed < CLOSURE_MIN)

    # the corpus operators share this session, so their first pass runs
    # on a JVM the extraction jobs have already warmed
    q_metrics, q_attempted, q_failed = corpus.corpus_layers(spark, seed)
    m.update(q_metrics)
    return complete(m), attempted + q_attempted, failed + q_failed


def serve_layers(
    reqs: list, service_ms: float, lat_ms: list[float], late_ms: list[float], peak: float, failed: int
) -> dict[str, float]:
    """Server layers from the phases just run, the kernel on the same
    request pages in process, and the package layers. These run here, and
    the corpus operators in the ``extract_job`` traced run, so that
    neither traced run comes near the 180 s limit."""
    from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch

    kernel_ms = []
    for _, payloads, _ in reqs:
        t0 = time.perf_counter()
        extract_batch(payloads)
        kernel_ms.append(1000 * (time.perf_counter() - t0))
    request_kernel_ms = C.median(kernel_ms)
    m: dict[str, float] = {
        "server.app.service_ms": service_ms,
        "extraction.batch.request_kernel_ms": request_kernel_ms,
        "server.app.transport_ms": service_ms - request_kernel_ms,
        "server.app.queue_ms": C.percentile(lat_ms, 50) - service_ms,
        "serve.lat_p50_ms": C.percentile(lat_ms, 50),
        "serve.lat_p99_ms": C.percentile(lat_ms, 99),
        "serve.peak_docs_per_s": peak,
        "serve.gen_late_p99_ms": C.percentile(late_ms, 99),
        "serve.requests_failed": failed,
    }
    m.update(kernel.kernel_layers([p for _, payloads, _ in reqs for p in payloads][:KERNEL_SAMPLE]))
    m.update(package_layers())
    return complete(m)
