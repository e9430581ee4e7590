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


def _tmp_files(root: str) -> list[str]:
    """Every dot-file under ``root``: what an unfinished attempt leaves."""
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.startswith(".")
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

    # the killed tasks left their tmp data files, which neither show in
    # the output nor reach the manifest
    assert _tmp_files(out1)
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
    assert _tmp_files(out1) == []
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
    """The 8-bucket job scans once and each task commits its own bucket, so
    it starts a handful of Spark jobs, not several per bucket."""
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


def test_empty_bucket_is_committed(spark, corpus_path, tmp_path):
    """A bucket still to do that has no input rows gets a manifest row with
    ``n_docs = 0`` and no data file, so the rerun of a finished job starts
    no Spark job."""
    bucketed = with_bucket(spark.read.parquet(corpus_path), 8)
    docs = bucketed.filter(F.col("bucket") != 5).drop("bucket")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8) == 8
    rows = {r["bucket"]: r for r in read_manifest(ckpt).to_pylist()}
    assert sorted(rows) == list(range(8))
    assert rows[5]["n_docs"] == 0
    assert not os.path.exists(os.path.join(out, "bucket=5"))
    sc = spark.sparkContext
    group = "test_empty_bucket_is_committed"
    sc.setJobGroup(group, group)
    try:
        done = run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8)
    finally:
        sc.setJobGroup("", "")
    assert done == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_redo_removes_files_of_killed_attempts(spark, corpus_path, tmp_path):
    """A tmp file that a killed attempt of another run left in a bucket
    directory is gone once the bucket is published again."""
    docs = spark.read.parquet(corpus_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    planted = []
    for k in (0, 3):
        d = os.path.join(out, f"bucket={k}")
        os.makedirs(d)
        planted.append(os.path.join(d, f".part-{k:05d}.parquet.987654.tmp"))
        with open(planted[-1], "wb") as fh:
            fh.write(b"partial")
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=4) == 4
    assert _tmp_files(out) == []
    for k in range(4):
        assert os.listdir(os.path.join(out, f"bucket={k}")) == [f"part-{k:05d}.parquet"]
    assert spark.read.parquet(out).count() == docs.count()


def test_retried_bucket_task_leaves_one_file_and_one_row(spark, corpus_path, tmp_path):
    """A bucket's task run again more than a second later, as a retried
    attempt is, replaces its data file with identical rows and its manifest
    row, and adds neither a second file nor a second row."""
    import functools
    import time

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from deepseek_ocr_api_rs_spark.operators.checkpoint import (
        MANIFEST_SCHEMA,
        _bucket_task,
    )

    docs = spark.read.parquet(corpus_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    bucket_dir = os.path.join(out, "bucket=2")
    task = functools.partial(
        _bucket_task,
        output_dir=out,
        checkpoint_dir=ckpt,
        todo=frozenset({2}),
        survivors=frozenset({2}),
        run_id="retry",
        n_buckets=4,
    )

    def attempt() -> list:
        stage = (
            with_bucket(docs, 4)
            .repartitionById(4, "bucket")
            .select("url", "warc_ts", "html", "lang")
            .mapInArrow(task, schema=from_arrow_schema(MANIFEST_SCHEMA))
        )
        return stage.collect()

    first = attempt()
    files = os.listdir(bucket_dir)
    data = pq.read_table(os.path.join(bucket_dir, files[0]))
    time.sleep(1.1)
    second = attempt()
    assert [r.bucket for r in first] == [r.bucket for r in second] == [2]
    assert os.listdir(bucket_dir) == files == ["part-00002.parquet"]
    assert pq.read_table(os.path.join(bucket_dir, files[0])).equals(data)
    manifest = read_manifest(ckpt).to_pylist()
    assert [r["bucket"] for r in manifest] == [2]
    assert manifest[0]["n_docs"] == data.num_rows == second[0].n_docs > 0
    assert _tmp_files(out) == [] and _tmp_files(ckpt) == []


def test_input_with_no_rows_is_committed(spark, corpus_path, tmp_path):
    """When a filter leaves no input row, AQE drops the empty exchange and
    no task runs; every bucket still gets its manifest row, so the rerun
    starts no Spark job."""
    docs = spark.read.parquet(corpus_path).limit(50).filter(F.col("lang") == "no-such-lang")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=4) == 4
    rows = read_manifest(ckpt).to_pylist()
    assert sorted(r["bucket"] for r in rows) == list(range(4))
    assert {r["n_docs"] for r in rows} == {0}
    sc = spark.sparkContext
    group = "test_input_with_no_rows_is_committed"
    sc.setJobGroup(group, group)
    try:
        done = run_resumable_extraction(spark, docs, out, ckpt, n_buckets=4)
    finally:
        sc.setJobGroup("", "")
    assert done == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
