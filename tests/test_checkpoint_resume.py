"""Resume semantics: a killed run continues from the last committed bucket
and the final output equals a clean one-shot run (north_rule: 'resumable
from checkpoint with per-partition lineage + metrics')."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.operators.checkpoint import (
    committed_buckets,
    manifest_path,
    read_manifest,
    run_resumable_extraction,
    with_bucket,
)


def test_resume_after_kill(spark, corpus_path, tmp_path):
    docs = spark.read.parquet(corpus_path)
    out1 = str(tmp_path / "out_resumed")
    ckpt = str(tmp_path / "ckpt")

    # run 1: killed after 3 buckets
    done1 = run_resumable_extraction(
        spark, docs, out1, ckpt, n_buckets=8, run_id="r1", fail_after_buckets=3
    )
    assert done1 == 3
    assert len(committed_buckets(spark, ckpt)) == 3

    # the killed run's uncommitted buckets stay in _staging, which neither
    # shows in the output nor reaches the manifest
    assert os.listdir(os.path.join(out1, "_staging"))
    seen = {r.bucket for r in spark.read.parquet(out1).select("bucket").distinct().collect()}
    assert seen == committed_buckets(spark, ckpt)

    # run 2: resumes — must process exactly the remaining 5
    done2 = run_resumable_extraction(spark, docs, out1, ckpt, n_buckets=8, run_id="r2")
    assert done2 == 5
    assert len(committed_buckets(spark, ckpt)) == 8

    # resumed output == one-shot output, row for row
    out2 = str(tmp_path / "out_oneshot")
    run_resumable_extraction(
        spark, docs, out2, str(tmp_path / "ckpt2"), n_buckets=8, run_id="clean"
    )
    a = spark.read.parquet(out1).select("url", "extracted_text")
    b = spark.read.parquet(out2).select("url", "extracted_text")
    assert a.count() == b.count() == docs.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # lineage: manifest rows carry per-bucket metrics that reconcile with data
    manifest = spark.read.parquet(f"{ckpt}/_checkpoints")
    total_docs = manifest.agg(F.sum("n_docs")).collect()[0][0]
    assert total_docs == docs.count()
    runs = {r.run_id for r in manifest.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}

    # one manifest row per bucket, each equal to an aggregate of its data
    rows = manifest.collect()
    assert sorted(r.bucket for r in rows) == list(range(8))
    assert {r.n_buckets for r in rows} == {8}
    assert not os.path.exists(os.path.join(out1, "_staging"))
    for r in rows:
        agg = (
            spark.read.parquet(os.path.join(out1, f"bucket={r.bucket}"))
            .agg(F.count("*"), F.sum("n_chars"), F.sum("n_blocks_accepted"))
            .collect()[0]
        )
        assert (r.n_docs, r.n_chars, r.n_blocks_accepted) == tuple(agg)


def test_rerun_noop_when_complete(spark, corpus_path, tmp_path):
    docs = spark.read.parquet(corpus_path).limit(50)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=4) == 4
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=4) == 0


def test_bucket_assignment_stable(spark, corpus_path):
    """Bucket = pmod(xxhash64(url), n) must be scheduling-independent."""
    docs = spark.read.parquet(corpus_path)
    a = with_bucket(docs, 8).select("url", "bucket")
    b = with_bucket(docs.repartition(13), 8).select("url", "bucket")
    assert a.exceptAll(b).count() == 0


def test_one_plan_for_all_buckets(spark, corpus_path, tmp_path):
    """The 8-bucket job scans once, writes once and commits from the driver,
    so it starts a handful of Spark jobs, not several per bucket."""
    docs = spark.read.parquet(corpus_path)
    sc = spark.sparkContext
    group = "test_one_plan_for_all_buckets"
    sc.setJobGroup(group, group)
    try:
        done = run_resumable_extraction(
            spark, docs, str(tmp_path / "out"), str(tmp_path / "ckpt"), n_buckets=8
        )
    finally:
        sc.setJobGroup("", "")
    assert done == 8
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def test_corrupt_manifest_raises(spark, corpus_path, tmp_path):
    """Only a missing manifest means nothing is committed: a truncated
    manifest file raises instead of re-running every bucket."""
    docs = spark.read.parquet(corpus_path).limit(50)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert committed_buckets(spark, ckpt) == set()
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=2) == 2
    mdir = manifest_path(ckpt)
    files = sorted(f for f in os.listdir(mdir) if f.endswith(".parquet"))
    victim = os.path.join(mdir, files[0])
    with open(victim, "rb") as fh:
        data = fh.read()
    with open(victim, "wb") as fh:
        fh.write(data[: len(data) // 2])
    with pytest.raises(pa.ArrowInvalid):
        committed_buckets(spark, ckpt)
    with pytest.raises(pa.ArrowInvalid):
        run_resumable_extraction(spark, docs, out, ckpt, n_buckets=2)
    assert sorted(f for f in os.listdir(mdir) if f.endswith(".parquet")) == files


def test_resume_with_other_n_buckets_raises(spark, corpus_path, tmp_path):
    """Bucket ids of pmod(hash, 4) name other urls under pmod(hash, 8), so
    a resume with another n_buckets must not skip by them."""
    docs = spark.read.parquet(corpus_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert run_resumable_extraction(
        spark, docs, out, ckpt, n_buckets=4, fail_after_buckets=2
    ) == 2
    with pytest.raises(ValueError, match=r"n_buckets=4.*n_buckets=8"):
        run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8)
    assert len(committed_buckets(spark, ckpt)) == 2


def test_resume_with_every_bucket_committed_runs_no_job(spark, corpus_path, tmp_path):
    """A rerun whose every bucket is committed returns before it builds a
    plan: no scan, no exchange, no empty _staging write."""
    docs = spark.read.parquet(corpus_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8) == 8
    sc = spark.sparkContext
    group = "test_resume_with_every_bucket_committed_runs_no_job"
    sc.setJobGroup(group, group)
    try:
        done = run_resumable_extraction(
            spark, docs, out, ckpt, n_buckets=8, run_id="rerun"
        )
    finally:
        sc.setJobGroup("", "")
    assert done == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert read_manifest(ckpt).num_rows == 8
