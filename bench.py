"""Benchmark harness (driver contract: prints ONE JSON line).

Headline metric (BASELINE.json): extracted docs/sec through the full Spark
extraction pipeline (byte-identical-to-reference kernels), measured over a
deterministic synthetic corpus generated IN PARALLEL with the same per-row
seeding as the golden fixtures (so any subset is reproducible).

Also times the operator query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) — the per-query seconds land in the "queries" dict.

Env knobs:
  SPARK_GRAFT_CPUS        executor threads (default 32)
  SPARK_GRAFT_SF_DIR      operator-query scale dir (default sf0.1)
  BENCH_N_DOCS            extraction corpus size (default 120000)
  BENCH_EXTRACTION_ONLY   if set, skip the operator queries (scaling runs)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Iterator

import pandas as pd


def _bench_corpus(spark, n_docs: int, cache_dir: str = "/tmp/spark_graft_bench") -> str:
    """Generate (once) the extraction-bench corpus in parallel.

    Per-row seeding (fixtures.corpus) makes parallel generation identical
    to serial; cached across bench invocations AND parallelism levels so
    local[8] and local[32] read the exact same bytes.
    """
    from deepseek_ocr_api_rs_spark.fixtures.corpus import CORPUS_VERSION

    path = os.path.join(cache_dir, f"docs_v{CORPUS_VERSION}_{n_docs}.parquet")
    done_marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(done_marker):
        return path
    if os.path.exists(path):
        shutil.rmtree(path)

    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                start, count = int(row["start"]), int(row["count"])
                yield make_documents(count, start_id=start)

    chunk = 2000
    starts = [(s, min(chunk, n_docs - s)) for s in range(0, n_docs, chunk)]
    plan = spark.createDataFrame(starts, "start long, count long").repartition(
        len(starts)
    )
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    plan.mapInPandas(gen, schema=schema).write.mode("overwrite").parquet(path)
    return path


def _cum_task_seconds(spark) -> tuple[float, float]:
    """Cumulative executor task (cpu_sec, run_sec) summed over every stage
    the app status store retains (spark.ui.retainedStages, default 1000 —
    far above one bench run's stage count).

    Reads AppStatusStore directly (populated by AppStatusListener whether
    or not the web UI is enabled), via the full 5-arg stageList signature —
    py4j has no Scala default-arg support. Task-CPU is the falsifiable
    bench metric on a shared box: external tenant load inflates wall-clock
    up to 2× but barely moves on-CPU time (VERDICT r3: same-code wall
    spread exceeded the round-over-round delta under test)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    lst = store.stageList(
        gw.jvm.java.util.ArrayList(),  # statuses: empty = all
        False,  # details
        False,  # withSummaries
        gw.new_array(gw.jvm.double, 0),  # unsortedQuantiles
        gw.jvm.java.util.ArrayList(),  # taskStatus
    )
    cpu_ns = 0
    run_ms = 0
    for i in range(lst.size()):
        s = lst.apply(i)
        cpu_ns += s.executorCpuTime()
        run_ms += s.executorRunTime()
    return cpu_ns / 1e9, run_ms / 1e3


def _settled_cum_task_seconds(spark) -> tuple[float, float]:
    """Stage-completion events land on an async listener queue; poll until
    the cumulative counters stop moving (≤0.5 s) so a query's tail stages
    aren't attributed to the next query."""
    prev = _cum_task_seconds(spark)
    for _ in range(10):
        time.sleep(0.05)
        cur = _cum_task_seconds(spark)
        if cur == prev:
            return cur
        prev = cur
    return prev


def _python_worker_cpu_seconds() -> float:
    """Python-worker CPU seconds (the JVM-side executorCpuTime blind spot
    — VERDICT r5 'What's wrong' #4): in local mode the pyspark.daemon
    workers are descendants of the driver's java child process, so their
    CPU is the sum of (a) utime+stime of every LIVE /proc descendant of
    the JVM and (b) the JVM's cutime+cstime, which the kernel accumulates
    for REAPED children (workers that exited or were replaced). Deltas of
    this across a query window attribute Python-stage CPU per query.
    Approximate by construction (a worker reaped mid-window moves from
    (a) to (b), both inside the sum) — good to the jiffy."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        procs: dict[int, tuple[int, str, int, int, int, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    raw = fh.read().decode("latin-1")
            except OSError:
                continue
            # comm may contain spaces/parens: split at the LAST ')'
            rp = raw.rindex(")")
            comm = raw[raw.index("(") + 1 : rp]
            fields = raw[rp + 2 :].split()
            # fields[1]=ppid, [11]=utime [12]=stime [13]=cutime [14]=cstime
            procs[int(entry)] = (
                int(fields[1]), comm,
                int(fields[11]), int(fields[12]),
                int(fields[13]), int(fields[14]),
            )
        me = os.getpid()
        jvms = [p for p, v in procs.items() if v[0] == me and v[1] == "java"]
        if not jvms:
            return 0.0
        ticks = 0
        # reaped-children rusage of the JVM(s)
        for j in jvms:
            ticks += procs[j][4] + procs[j][5]
        # live descendants of the JVM(s): BFS over the ppid tree
        children: dict[int, list[int]] = {}
        for p, v in procs.items():
            children.setdefault(v[0], []).append(p)
        frontier = list(jvms)
        while frontier:
            cur = frontier.pop()
            for ch in children.get(cur, []):
                ticks += procs[ch][2] + procs[ch][3]
                frontier.append(ch)
        return ticks / hz
    except Exception:
        return 0.0


def run_extraction_bench(spark, n_docs: int) -> tuple[float, int]:
    """Returns (seconds, docs) for the full extraction job: read parquet →
    salted url-hash repartition → mapInArrow extraction → write parquet."""
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents
    from deepseek_ocr_api_rs_spark.operators.partitioning import repartition_by_url

    corpus = _bench_corpus(spark, n_docs)
    out = f"/tmp/spark_graft_bench/extracted_{os.getpid()}.parquet"
    docs = spark.read.parquet(corpus)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t0 = time.time()
    extract_documents(repartition_by_url(docs, n_parts)).write.mode(
        "overwrite"
    ).parquet(out)
    dt = time.time() - t0
    n = spark.read.parquet(out).count()
    shutil.rmtree(out, ignore_errors=True)
    assert n == n_docs, (n, n_docs)
    return dt, n


# operator queries timed at the sf dir (name → action is a full collect)
_HEADLINE_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    "q06_forecast_revenue",
    "q_topk_orders_per_priority",
    "q_stage_totals",
    "q_branch_dispatch",
    "q_minhash_lsh_fast",
    "q_simhash_fast",
    "q_ngram_jaccard",
    "q_cosine_topk",
    "q_cosine_topk_pandas",
    "q_neardup_lsh",
    "q_stream_hourly_counts",
    "q_extract_normalize",
    "q_pdf_real_roundtrip",
    "q_stream_click_purchase_join",
    # round-3 additions: the de-recomputed text-retrieval/dedup plans and
    # the real-pixel path
    "q_bm25_search",
    "q_dup_passages",
    "q_kmv_distinct_users",
    "q_png_resize",
    # round-4: progressive-JPEG multi-scan decode through the pixel path
    "q_jpeg_progressive_resize",
    "q_audio_spectrum",
    "q_sequence_packing",
    "q_url_canonical",
    # round-6: crawl-side operators (links, politeness, WET export,
    # MP4 metadata) — cheap JVM-dominated queries, wall budget ~1-3 s each
    "q_html_links",
    "q_robots",
    "q_wet_roundtrip",
    "q_mp4_meta",
    # round-7: MP4 JPEG-sample pixel path (frame-budgeted §8.7.4 walk)
    "q_video_mp4_frames",
    # round-7 session 2: PDF embedded-image decode, WAT metadata export,
    # structured-data mining (pure JVM), snapshot changelog scan
    "q_pdf_images",
    "q_wat_roundtrip",
    "q_jsonld",
    "q_snapshot_changelog",
    # round-7 session 3: per-cell table normalization and anchor-text
    # aggregation (both pure JVM), pointer-doubling redirect resolution
    # (5 bounded join rounds), EXIF parse + GPS scrub (Arrow stage)
    "q_html_tables",
    "q_anchor_text",
    "q_redirect_chains",
    "q_exif",
    # round-7 session 4: tokenizer-training fixed point (12 shuffles over
    # the distinct-word table; q_bpe_encode runs learn AND apply, so the
    # merges-only query would double-pay the learner here — it stays in
    # the correctness gate only) and CCNet-style line dedup (one explode
    # + two fingerprint aggs)
    "q_line_dedup",
    "q_hits",
    "q_crawl_traps",
    "q_zorder_layout",
    "q_cdc_chunks",
    "q_bpe_encode",
    "q_phrase_search",
    "q_containment",
    "q_quantile_sketch",
    # round 8: canonical-doc selection and the end-to-end dedup decision
    # pipeline — benchable once connected_components checkpoints its loop
    # inputs (driver-side plan analysis of the re-embedded LSH lineage was
    # the 161 s pathology) and scopes iteration shuffles to the pair graph
    "q_canonical_docs",
    "q_dedup_pipeline",
    # round 8: new-capability queries
    "q_semdedup",
    "q_warc_lookup",
    "q_quality_tree",
    "q_wds_roundtrip",
    "q_mixture_sample",
    "q_corpus_build",
]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from deepseek_ocr_api_rs_spark.conf import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_docs = int(os.environ.get("BENCH_N_DOCS", "120000"))
    extraction_only = bool(os.environ.get("BENCH_EXTRACTION_ONLY"))

    spark = build_session(
        app_name=f"bench-local[{cpus}]",
        master=f"local[{cpus}]",
        # fine-grained partitioning: ≥4 waves per core so stragglers
        # (and external tenant load) smooth out instead of gating the tail
        shuffle_partitions=max(int(cpus) * 4, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM and the Python worker pool (pandas/numpy imports in
    # every worker — a steady-state cluster carries these once, so the
    # throughput measurement excludes them; spark.python.worker.reuse=true)
    spark.range(1000).selectExpr("sum(id)").collect()
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _warm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy  # noqa: F401 — force the heavy imports per worker

        from deepseek_ocr_api_rs_spark.extraction import batch  # noqa: F401

        for b in batches:
            yield b

    spark.range(n_parts * 4).repartition(n_parts).mapInPandas(
        _warm, "id long"
    ).count()

    # best-of-2: the sandbox shares cores with other tenants; max throughput
    # is the least-noisy estimator of machine capability (same policy as
    # scripts/scaling_bench.py). cpu_sec comes from the SAME (best) run:
    # task-CPU is the falsifiable round-over-round metric — wall-clock on
    # this box can't resolve <2× changes (VERDICT r3).
    _bench_corpus(spark, n_docs)  # generate OUTSIDE the cpu_sec window
    cum0 = _settled_cum_task_seconds(spark)
    py0 = _python_worker_cpu_seconds()
    ext_sec, n = run_extraction_bench(spark, n_docs)
    cum1 = _settled_cum_task_seconds(spark)
    py1 = _python_worker_cpu_seconds()
    ext_sec2, _ = run_extraction_bench(spark, n_docs)
    cum2 = _settled_cum_task_seconds(spark)
    py2 = _python_worker_cpu_seconds()
    if ext_sec <= ext_sec2:
        ext_cpu, ext_pycpu = cum1[0] - cum0[0], py1 - py0
    else:
        ext_cpu, ext_pycpu = cum2[0] - cum1[0], py2 - py1
    ext_sec = min(ext_sec, ext_sec2)
    docs_per_sec = n / ext_sec

    queries: dict[str, float] = {"extraction_job": round(ext_sec, 3)}
    queries_cpu: dict[str, float] = {"extraction_job": round(ext_cpu, 3)}
    queries_pycpu: dict[str, float] = {"extraction_job": round(ext_pycpu, 3)}
    if not extraction_only:
        import __spark_entry__ as entrymod

        from deepseek_ocr_api_rs_spark.operators.dedup import release_persisted

        qmap = entrymod.queries()
        for name in _HEADLINE_QUERIES:
            cpu_before = _settled_cum_task_seconds(spark)[0]
            pycpu_before = _python_worker_cpu_seconds()
            t0 = time.time()
            qmap[name](spark, sf_dir).collect()
            queries[name] = round(time.time() - t0, 3)
            queries_cpu[name] = round(
                max(0.0, _settled_cum_task_seconds(spark)[0] - cpu_before), 3
            )
            queries_pycpu[name] = round(
                max(0.0, _python_worker_cpu_seconds() - pycpu_before), 3
            )
            release_persisted()  # free operator-persisted intermediates

    total_sec = round(sum(queries.values()), 3)
    result = {
        "metric": "total wall seconds: extraction job + headline operator queries",
        "value": total_sec,
        "unit": "sec",
        "queries": queries,
        # executor task-CPU seconds per query (same best run) — the
        # load-noise-immune metric for round-over-round comparison.
        # NOTE (VERDICT r5): executorCpuTime is JVM-side ONLY — Python
        # worker CPU (pandas/Arrow UDF stages) is invisible here, so
        # Python-heavy queries report wall >> cpu. queries_python_cpu_sec
        # (below, /proc-sampled pyspark.daemon descendants of the JVM)
        # closes that gap; interleaved WALL remains the arbiter for
        # Python-stage changes.
        "queries_cpu_sec": queries_cpu,
        "cpu_sec_total": round(sum(queries_cpu.values()), 3),
        "queries_python_cpu_sec": queries_pycpu,
        "python_cpu_sec_total": round(sum(queries_pycpu.values()), 3),
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        # headline throughput metric per BASELINE.json:
        "extraction_docs_per_sec": round(docs_per_sec, 1),
        "n_docs": n,
        "cpus": int(cpus),
        "extraction_sec": round(ext_sec, 3),
        "extraction_cpu_sec": round(ext_cpu, 3),
    }
    print(json.dumps(result))
    # The detailed record above (three 30-entry per-query dicts) outgrew
    # the driver's tail-capture window in round 6 (BENCH_r06 "parsed":
    # null — the line's FRONT, with "value", was cut off). Emit a short
    # FINAL line carrying the contract fields (metric/value/unit/queries/
    # sf) plus the headline scalars, so the tail window always ends with
    # a complete, parseable JSON record. scripts/scaling_bench.py reads
    # this last line.
    headline = {
        k: result[k]
        for k in (
            "metric", "value", "unit", "queries", "sf",
            "extraction_docs_per_sec", "n_docs", "cpus",
            "extraction_sec", "cpu_sec_total", "python_cpu_sec_total",
        )
    }
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
