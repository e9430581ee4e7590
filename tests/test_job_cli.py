"""The spark-submit job entrypoint, driven like a user would (§3.1 CLI
lifecycle): run, kill-free completion, then resume-noop on rerun."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_job_end_to_end_and_resume(tmp_path, corpus_path, spark):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    metrics = str(tmp_path / "metrics")
    cmd = [
        sys.executable, "-m", "deepseek_ocr_api_rs_spark.job",
        "--input", corpus_path,
        "--output", out,
        "--checkpoint-dir", ckpt,
        "--metrics-path", metrics,
        "--n-buckets", "4",
        "--master", "local[4]",
        "--shuffle-partitions", "4",
        "--run-id", "t1",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "extraction complete: 300 docs, 4 buckets this run" in r1.stdout, r1.stdout

    # rerun: fully committed → zero buckets re-done, output intact
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "extraction complete: 300 docs, 0 buckets this run" in r2.stdout, r2.stdout

    import duckdb

    m = duckdb.sql(f"select count(*) n from '{metrics}/*.parquet'").df()
    assert int(m.n[0]) >= 3  # html/pdf/error rollup rows per run

    # each run appended the rollup of the same output
    from deepseek_ocr_api_rs_spark.operators.extract import extraction_metrics

    written = spark.read.parquet(metrics)
    assert {r.run_id for r in written.select("run_id").collect()} == {"t1"}
    want = extraction_metrics(spark.read.parquet(out)).collect()
    assert sorted(map(tuple, written.drop("run_id").collect())) == sorted(
        map(tuple, 2 * want)
    )


def test_job_snapshot_table_commit(tmp_path, corpus_path, spark):
    """--snapshot-table commits the run output as an atomic versioned
    snapshot with run metrics in the manifest lineage; a rerun adds a
    version equal to the output, not a second copy of it."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "snaptbl")
    cmd = [
        sys.executable, "-m", "deepseek_ocr_api_rs_spark.job",
        "--input", corpus_path,
        "--output", out,
        "--checkpoint-dir", ckpt,
        "--n-buckets", "2",
        "--master", "local[4]",
        "--shuffle-partitions", "4",
        "--run-id", "snap1",
        "--snapshot-table", table,
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert f"snapshot committed: {table} v1" in r.stdout, r.stdout

    from deepseek_ocr_api_rs_spark.sources.snapshots import history, read_snapshot

    assert read_snapshot(spark, table).count() == 300
    h = history(table)
    assert h[0]["metrics"]["run_id"] == "snap1"
    assert h[0]["metrics"]["n_docs"] == 300

    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "0 buckets this run" in r.stdout, r.stdout
    assert f"snapshot committed: {table} v2" in r.stdout, r.stdout
    assert read_snapshot(spark, table).count() == 300
    h = history(table)
    assert [e["n_rows"] for e in h] == [300, 300]
    assert h[0]["metrics"]["buckets_this_run"] == 0


def test_job_snapshot_maintenance_flags(tmp_path, corpus_path, spark):
    """--compact-snapshots + --expire-snapshots run the table-lifecycle
    maintenance after the commit: the surviving version is one compacted
    file set, expired manifests are reclaimed, contents intact."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "snaptbl")
    cmd = [
        sys.executable, "-m", "deepseek_ocr_api_rs_spark.job",
        "--input", corpus_path,
        "--output", out,
        "--checkpoint-dir", ckpt,
        "--n-buckets", "4",
        "--master", "local[4]",
        "--shuffle-partitions", "4",
        "--run-id", "maint1",
        "--snapshot-table", table,
        "--compact-snapshots",
        "--expire-snapshots", "1",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "snapshots compacted: v2" in r.stdout, r.stdout
    assert "snapshots expired: 1 versions" in r.stdout, r.stdout

    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        current_version,
        read_manifest,
        read_snapshot,
    )

    assert current_version(table) == 2
    m = read_manifest(table)
    assert m["operation"].startswith("compact(")
    assert read_snapshot(spark, table).count() == 300


def test_job_with_no_input_rows_to_do(tmp_path):
    """When no bucket still to do has an input row (a --langs filter that
    matches nothing), the job commits every bucket with n_docs = 0 and
    reads the empty output, on the first run and on the rerun."""
    from deepseek_ocr_api_rs_spark.fixtures.corpus import write_documents_parquet
    from deepseek_ocr_api_rs_spark.operators.checkpoint import read_manifest

    docs = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, 50)
    ckpt = str(tmp_path / "ckpt")
    cmd = [
        sys.executable, "-m", "deepseek_ocr_api_rs_spark.job",
        "--input", docs,
        "--output", str(tmp_path / "out"),
        "--checkpoint-dir", ckpt,
        "--langs", "xx",
        "--n-buckets", "4",
        "--master", "local[2]",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "extraction complete: 0 docs, 4 buckets this run" in r1.stdout, r1.stdout
    assert read_manifest(ckpt).column("n_docs").to_pylist() == [0] * 4

    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO, env=env)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "extraction complete: 0 docs, 0 buckets this run" in r2.stdout, r2.stdout
