"""Iceberg-style snapshot log (sources/snapshots.py): atomic optimistic
commits, snapshot-isolated reads, time travel, rollback, lineage."""

from __future__ import annotations

import json
import os

import pytest

from deepseek_ocr_api_rs_spark.sources.snapshots import (
    _manifest_file,
    _publish,
    current_version,
    history,
    read_manifest,
    read_snapshot,
    rollback,
    write_snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 as v")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = write_snapshot(_df(spark, 0, 10), t, metrics={"stage": "initial"})
    v2 = write_snapshot(_df(spark, 10, 15), t, mode="append")
    assert (v1, v2) == (1, 2)
    assert read_snapshot(spark, t).count() == 15  # latest
    assert read_snapshot(spark, t, version=1).count() == 10  # time travel
    v3 = write_snapshot(_df(spark, 100, 103), t, mode="overwrite")
    assert read_snapshot(spark, t).count() == 3
    assert read_snapshot(spark, t, version=2).count() == 15  # history intact
    assert current_version(t) == v3 == 3


def test_uncommitted_files_are_invisible(spark, tmp_path):
    """A writer that dies after writing data but before publishing the
    manifest leaves orphans readers never see — the property that makes
    resume safe under concurrent reads."""
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)
    # simulate a killed writer: data lands, no manifest
    _df(spark, 0, 999).write.parquet(os.path.join(t, "data", "orphan"))
    assert read_snapshot(spark, t).count() == 10
    assert read_manifest(t)["n_rows"] == 10


def test_commit_conflict_retries_to_next_version(tmp_path):
    """Two racing writers cannot both claim a version: the loser's publish
    lands at the next number with the refreshed parent."""
    t = str(tmp_path / "tbl")
    m = {"files": [], "n_rows": 0, "committed_ts": 0.0, "operation": "a", "metrics": {}}
    v1 = _publish(t, dict(m))
    # simulate the race: v2 already exists when the second writer publishes
    os.link(_manifest_file(t, v1), _manifest_file(t, 2))
    v_next = _publish(t, dict(m, operation="b"))
    assert v_next == 3
    assert read_manifest(t, 3)["parent"] == 2


def test_append_reads_a_constant_number_of_manifests(tmp_path, monkeypatch):
    """An append reads its parent's manifest, not the version chain: the
    40th append of a table reads as few manifests as the first."""
    import deepseek_ocr_api_rs_spark.sources.snapshots as snap

    t = str(tmp_path / "tbl")
    reads = []
    real_read = snap.read_manifest

    def counting_read(*args, **kwargs):
        reads.append(1)
        return real_read(*args, **kwargs)

    monkeypatch.setattr(snap, "read_manifest", counting_read)
    per_append = []
    for k in range(40):
        reads.clear()
        m = {
            "files": [f"data/part-{k:02d}.parquet"], "n_rows": 1,
            "committed_ts": 0.0, "operation": "append", "metrics": {},
            "file_stats": {},
        }
        assert _publish(t, m, append=True) == k + 1
        per_append.append(len(reads))
    assert max(per_append) <= 2, per_append
    final = real_read(t)
    assert final["n_rows"] == 40 and len(final["files"]) == 40


def test_append_loser_remerges_winner_files(spark, tmp_path, monkeypatch):
    """ADVICE r3 (medium): when an appender loses the version race, its
    retry must re-read the WINNER's freshly-committed manifest and merge
    file lists — the pre-fix code captured the parent file list before the
    retry loop, so the losing appender silently dropped the winner's files."""
    import deepseek_ocr_api_rs_spark.sources.snapshots as snap

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)  # v1: 10 rows
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if not state["fired"] and dst.endswith("v2.json"):
            state["fired"] = True
            # the WINNER commits v2 between the loser's data write and its
            # manifest publish; the loser's create-if-absent then collides
            write_snapshot(_df(spark, 100, 105), t, mode="append")  # +5 rows
        return real_link(src, dst)

    monkeypatch.setattr(snap.os, "link", racing_link)
    v = write_snapshot(_df(spark, 50, 53), t, mode="append")  # loser, +3 rows
    assert v == 3
    m3, m2 = read_manifest(t, 3), read_manifest(t, 2)
    assert set(m2["files"]) <= set(m3["files"])  # winner's files survived
    assert m3["n_rows"] == 18
    assert read_snapshot(spark, t).count() == 18


def test_rollback_is_copy_on_write(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)
    write_snapshot(_df(spark, 0, 5), t, mode="overwrite")
    v3 = rollback(t, to_version=1)
    assert v3 == 3
    assert read_snapshot(spark, t).count() == 10  # back to v1 contents
    assert read_snapshot(spark, t, version=2).count() == 5  # v2 still readable
    ops = [h["operation"] for h in history(t)]
    assert ops == ["rollback(v1)", "overwrite", "append"]


def test_history_carries_metrics_lineage(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t, metrics={"n_chars": 123})
    write_snapshot(_df(spark, 10, 12), t, metrics={"n_chars": 45})
    h = history(t)
    assert [x["version"] for x in h] == [2, 1]
    assert h[0]["metrics"] == {"n_chars": 45} and h[1]["metrics"] == {"n_chars": 123}
    assert h[0]["parent"] == 1 and h[1]["parent"] is None


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "missing"))


def test_compact_preserves_contents_and_history(spark, tmp_path):
    """OPTIMIZE analogue: many small appends → one rewritten file; same
    rows, history intact, PRE-compaction versions still time-travelable
    (their files stay on disk until expiry)."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import compact

    t = str(tmp_path / "tbl")
    for lo in range(0, 50, 10):  # 5 appends → ≥5 data files
        write_snapshot(_df(spark, lo, lo + 10).repartition(2), t, mode="append")
    n_files_before = len(read_manifest(t)["files"])
    assert n_files_before >= 5
    v = compact(spark, t, target_files=1)
    m = read_manifest(t, v)
    assert len(m["files"]) == 1 and m["n_rows"] == 50
    assert m["operation"].startswith("compact(")
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == set(range(50))
    # time travel across the compaction boundary still works
    assert read_snapshot(spark, t, version=3).count() == 30


def test_expire_snapshots_reclaims_only_dead_files(spark, tmp_path):
    """VACUUM analogue: expired manifests and the data files ONLY they
    reference are deleted; retained versions read fine; history stops at
    the retention horizon instead of erroring."""
    import os as _os

    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        compact,
        expire_snapshots,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 30, 10):
        write_snapshot(_df(spark, lo, lo + 10), t, mode="append")
    compact(spark, t, target_files=1)  # v4
    def count_data_files():
        return sum(
            1
            for root, _, fs in _os.walk(_os.path.join(t, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    before = count_data_files()
    rep = expire_snapshots(t, keep_last=1)
    assert rep["expired_versions"] == [1, 2, 3]
    assert rep["deleted_files"] > 0 and count_data_files() < before
    # the live snapshot is intact
    assert read_snapshot(spark, t).count() == 30
    # expired versions are gone (bounded storage is the point)
    with pytest.raises(FileNotFoundError):
        read_manifest(t, 2)
    # lineage walk ends at the horizon, no error
    h = history(t)
    assert [x["version"] for x in h] == [4]


def test_compact_conflicts_instead_of_erasing_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Compare-and-swap: an append committed between compact's read and
    its publish must raise CommitConflict — a blind retry would publish a
    rewrite of the OLD version and silently erase the appended rows
    (code-review r4 finding, same race class as the append-merge fix)."""
    import deepseek_ocr_api_rs_spark.sources.snapshots as snap
    from deepseek_ocr_api_rs_spark.sources.snapshots import CommitConflict, compact

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)  # v1
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if not state["fired"] and dst.endswith("v2.json"):
            state["fired"] = True
            write_snapshot(_df(spark, 100, 105), t, mode="append")  # winner
        return real_link(src, dst)

    monkeypatch.setattr(snap.os, "link", racing_link)
    with pytest.raises(CommitConflict, match="advanced to v2"):
        compact(spark, t, target_files=1)
    # the concurrent append's rows survived; nothing was erased
    assert read_snapshot(spark, t).count() == 15


def test_expire_keep_last_zero_rejected(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import expire_snapshots

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 3), t)
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(t, keep_last=0)


def test_manifest_is_valid_json_with_relative_paths(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 3), t)
    with open(_manifest_file(t, 1)) as f:
        m = json.load(f)
    assert all(p.startswith("data/") for p in m["files"])
    assert m["version"] == 1 and m["parent"] is None


def test_binpack_compaction_heterogeneous_sizes(spark, tmp_path):
    """Size-targeted bin packing: small files group into ~target_bytes
    bins (>1 output when they cannot all fit one bin), files already at
    the target pass through UNREWRITTEN, and contents are preserved."""
    import os as _os

    from deepseek_ocr_api_rs_spark.sources.snapshots import compact

    t = str(tmp_path / "tbl")
    # one big append (1 file) + six tiny appends (1 file each)
    write_snapshot(_df(spark, 0, 2000).coalesce(1), t, mode="append")
    for lo in range(2000, 2060, 10):
        write_snapshot(_df(spark, lo, lo + 10).coalesce(1), t, mode="append")
    m0 = read_manifest(t)
    sizes = sorted(
        _os.path.getsize(_os.path.join(t, f)) for f in m0["files"]
    )
    big = sizes[-1]
    # target between: big passes through, tinies need >1 bin
    target = sizes[0] * 3
    assert target < big
    v = compact(spark, t, target_bytes=target)
    m = read_manifest(t, v)
    assert m["metrics"]["files_passthrough"] >= 1
    assert m["metrics"]["files_rewritten"] == len(m0["files"]) - m["metrics"]["files_passthrough"]
    rewritten_out = [f for f in m["files"] if "_bin=" in f]
    assert len(rewritten_out) > 1  # heterogeneous → multiple bins
    # the big file is listed verbatim (not rewritten)
    assert any(f in m0["files"] for f in m["files"])
    # row-level preservation
    got = {(r.id, r.v) for r in read_snapshot(spark, t).collect()}
    assert got == {(i, i * 2) for i in range(2000)} | {
        (i, i * 2) for i in range(2000, 2060)
    }
    assert m["n_rows"] == m0["n_rows"]


def test_compact_noop_when_everything_at_target(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import compact

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10).coalesce(1), t)
    v0 = current_version(t)
    assert compact(spark, t, target_bytes=1) == v0  # all files ≥ 1 byte
    assert current_version(t) == v0  # no useless version published


def test_file_stats_prune_whole_files(spark, tmp_path):
    """Iceberg-style manifest column stats: per-file min/max recorded at
    write (same pass as the row count), range reads prune whole files on
    the driver, files without stats are never pruned (safe), and the
    pruned result equals the unpruned filter exactly."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import compact

    t = str(tmp_path / "tbl")
    for lo in range(0, 40, 10):  # 4 appends, disjoint id ranges
        write_snapshot(
            _df(spark, lo, lo + 10).coalesce(1), t, mode="append",
            stats_cols=["id"],
        )
    m = read_manifest(t)
    assert len(m["file_stats"]) == 4
    assert all(set(v) == {"id"} for v in m["file_stats"].values())

    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, where=("id", 12, 17))
    assert len(pruned.inputFiles()) == 1  # only the [10,20) file
    assert sorted(
        r.id for r in pruned.filter("id between 12 and 17").collect()
    ) == sorted(
        r.id for r in full.filter("id between 12 and 17").collect()
    )
    # open-ended ranges
    assert len(read_snapshot(spark, t, where=("id", 25, None)).inputFiles()) == 2
    assert len(read_snapshot(spark, t, where=("id", None, 5)).inputFiles()) == 1
    # disjoint range → empty frame with the table schema
    empty = read_snapshot(spark, t, where=("id", 1000, 2000))
    assert empty.count() == 0 and empty.columns == full.columns

    # a stats-less append is always kept
    write_snapshot(_df(spark, 100, 105).coalesce(1), t, mode="append")
    assert len(read_snapshot(spark, t, where=("id", 0, 5)).inputFiles()) == 2

    # compaction: everything rewritten into bins → stats gone → no file
    # is pruned, but the read is still correct (pruning is advisory)
    compact(spark, t, target_bytes=10**9)
    assert read_snapshot(spark, t, where=("id", 12, 17)).count() == 45


def test_file_stats_timestamp_pruning(spark, tmp_path):
    """Datetime stats round-trip through the ISO representation and prune
    chronologically."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    epoch = dt.datetime(2024, 1, 1)
    for day in range(3):
        df = spark.range(5).select(
            "id",
            F.lit(epoch + dt.timedelta(days=day)).cast("timestamp").alias("ts"),
        )
        write_snapshot(df.coalesce(1), t, mode="append", stats_cols=["ts"])
    got = read_snapshot(
        spark, t,
        where=("ts", dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23)),
    )
    assert len(got.inputFiles()) == 1
    assert got.count() == 5


def test_stat_repr_unknown_types_and_mixed_bounds_never_prune(
    spark, tmp_path
):
    """Unknown stat types record None (str() of a Decimal is not
    order-preserving) and mixed-type bounds keep the file instead of
    raising — pruning stays advisory in every case."""
    from decimal import Decimal

    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        _stat_repr,
        _stats_comparable,
    )

    assert _stat_repr(Decimal("9")) is None
    assert _stat_repr(b"bytes") is None
    assert _stat_repr("s") == "s" and _stat_repr(3) == 3
    assert not _stats_comparable(3, "3") and not _stats_comparable(True, 1)

    t = str(tmp_path / "tbl")
    write_snapshot(
        _df(spark, 0, 10).coalesce(1), t, stats_cols=["id"]
    )
    # string bound against int stats: file kept, read correct, no raise
    got = read_snapshot(spark, t, where=("id", "0", "5"))
    assert got.count() == 10


def test_rollback_keeps_file_stats(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import rollback

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10).coalesce(1), t, stats_cols=["id"])
    write_snapshot(
        _df(spark, 10, 20).coalesce(1), t, mode="append", stats_cols=["id"]
    )
    rollback(t, 1)
    m = read_manifest(t)
    assert m["operation"] == "rollback(v1)"
    assert m["file_stats"] and all("id" in v for v in m["file_stats"].values())
    # pruning still works across the rollback boundary
    assert len(read_snapshot(spark, t, where=("id", 100, 200)).inputFiles()) <= 1


def test_compact_many_bins_is_one_job(spark, tmp_path):
    """Judge ask r5 #5: with many bins the rewrite must NOT run one
    driver-serialized Spark job per bin. 16 tiny single-file appends at
    a target that packs ~2 files/bin → ≥8 bins; job count inside
    compact() must be bounded (rewrite + row-count + plumbing), far
    below one-per-bin, and contents + CAS behavior unchanged."""
    import os as _os

    from deepseek_ocr_api_rs_spark.sources.snapshots import compact

    t = str(tmp_path / "tbl")
    for lo in range(0, 320, 10):
        write_snapshot(_df(spark, lo, lo + 10).coalesce(1), t, mode="append")
    m0 = read_manifest(t)
    assert len(m0["files"]) == 32
    sizes = [_os.path.getsize(_os.path.join(t, f)) for f in m0["files"]]
    target = min(sizes) * 2 + 1  # ~2 files per bin → ≥8 bins

    sc = spark.sparkContext
    group = "compact-onejob-test"
    sc.setJobGroup(group, "compact job-count probe")
    try:
        v = compact(spark, t, target_bytes=target)
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    m = read_manifest(t, v)
    n_bins = sum(1 for f in m["files"] if "_bin=" in f)
    assert n_bins >= 16
    # bounded: one rewrite query (AQE splits it into a handful of stage
    # jobs) + broadcast + count + plumbing — NOT O(n_bins): the old
    # per-bin loop ran n_bins write jobs before the count
    assert n_jobs <= 8, n_jobs
    assert n_jobs < n_bins
    got = {(r.id, r.v) for r in read_snapshot(spark, t).collect()}
    assert got == {(i, i * 2) for i in range(320)}
    assert m["n_rows"] == m0["n_rows"]
    # CAS: a conflicting commit against the pre-compaction parent raises
    import pytest as _pytest

    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        CommitConflict,
        _publish,
    )

    stale = dict(m0)
    with _pytest.raises(CommitConflict):
        _publish(t, {"files": m0["files"], "n_rows": m0["n_rows"],
                     "committed_ts": 0.0, "operation": "stale",
                     "metrics": {}}, require_parent=v - 2)


def test_delete_where_copy_on_write(spark, tmp_path):
    """DELETE … WHERE: matching rows gone, non-matching preserved,
    pre-delete version still time-travelable, metrics recorded."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import delete_where

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 100).coalesce(1), t, mode="append")
    write_snapshot(_df(spark, 100, 200).coalesce(1), t, mode="append")
    v0 = current_version(t)
    v = delete_where(spark, t, "id % 10 = 3")
    assert v == v0 + 1
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == {i for i in range(200) if i % 10 != 3}
    m = read_manifest(t, v)
    assert m["n_rows"] == 180
    assert m["metrics"]["rows_deleted"] == 20
    # time travel across the delete
    assert read_snapshot(spark, t, version=v0).count() == 200
    # deleting nothing publishes nothing
    assert delete_where(spark, t, "id < 0") == v
    assert current_version(t) == v


def test_delete_where_stats_prune_rewrites_only_candidates(spark, tmp_path):
    """With a sound prune hint, files whose stats are disjoint from the
    range pass through UNREWRITTEN and keep their column stats."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import delete_where

    t = str(tmp_path / "tbl")
    for lo in range(0, 400, 100):  # four files with disjoint id ranges
        write_snapshot(
            _df(spark, lo, lo + 100).coalesce(1), t,
            mode="append", stats_cols=["id"],
        )
    m0 = read_manifest(t)
    assert len(m0["files"]) == 4
    v = delete_where(
        spark, t, "id between 120 and 180", prune=("id", 120, 180)
    )
    m = read_manifest(t, v)
    assert m["metrics"]["files_rewritten"] == 1
    assert m["metrics"]["files_passthrough"] == 3
    assert m["metrics"]["rows_deleted"] == 61
    # passthrough files keep stats; three of the four originals survive
    assert sum(1 for f in m["files"] if f in m0["files"]) == 3
    kept_stats = [f for f in m["files"] if f in m["file_stats"]]
    assert len(kept_stats) == 3
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == {i for i in range(400) if not (120 <= i <= 180)}


def test_delete_where_conflicts_with_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """CAS: an append committed between delete's read and publish raises
    CommitConflict instead of silently erasing the appended rows."""
    import deepseek_ocr_api_rs_spark.sources.snapshots as snap
    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        CommitConflict,
        delete_where,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 50).coalesce(1), t, mode="append")
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if not state["fired"] and dst.endswith("v2.json"):
            state["fired"] = True
            write_snapshot(_df(spark, 500, 510).coalesce(1), t, mode="append")
        return real_link(src, dst)

    monkeypatch.setattr(snap.os, "link", racing_link)
    with pytest.raises(CommitConflict):
        delete_where(spark, t, "id < 10")
    # the concurrent append survives
    assert read_snapshot(spark, t).count() == 60


def test_merge_into_upsert(spark, tmp_path):
    """MERGE: matched keys replaced, unmatched inserted, stats-disjoint
    files pass through with stats, history intact, counts in metrics."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    for lo in range(0, 300, 100):  # three files, disjoint id ranges
        write_snapshot(
            _df(spark, lo, lo + 100).coalesce(1), t,
            mode="append", stats_cols=["id"],
        )
    v0 = current_version(t)
    # updates: replace ids 150..159 (v = 0), insert ids 1000..1004
    upd = spark.createDataFrame(
        [(i, 0) for i in range(150, 160)] + [(i, i) for i in range(1000, 1005)],
        "id long, v long",
    )
    v = merge_into(spark, t, upd, "id")
    assert v == v0 + 1
    m = read_manifest(t, v)
    assert m["metrics"]["rows_updated"] == 10
    assert m["metrics"]["rows_inserted"] == 5
    assert m["n_rows"] == 305
    # only the middle file (100..199) and none other rewritten — but the
    # inserted 1000s extend the key range, so candidates are files
    # overlapping [150, 1004]: files 2 and 3
    assert m["metrics"]["files_rewritten"] == 2
    assert m["metrics"]["files_passthrough"] == 1
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert len(got) == 305
    for i in range(150, 160):
        assert got[i] == 0
    for i in range(1000, 1005):
        assert got[i] == i
    assert got[50] == 100 and got[250] == 500  # untouched rows intact
    assert read_snapshot(spark, t, version=v0).count() == 300  # time travel


def test_merge_into_empty_table_and_empty_updates(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 5).coalesce(1), t, mode="append")
    v0 = current_version(t)
    empty = spark.createDataFrame([], "id long, v long")
    assert merge_into(spark, t, empty, "id") == v0  # no-op
    # insert-only merge (no key overlap)
    ins = spark.createDataFrame([(99, 1)], "id long, v long")
    v = merge_into(spark, t, ins, "id")
    m = read_manifest(t, v)
    # the base file has no stats → always a candidate, but id 99 matches
    # nothing: pure insert
    assert m["metrics"]["rows_updated"] == 0
    assert m["metrics"]["rows_inserted"] == 1
    assert read_snapshot(spark, t).count() == 6


def test_schema_evolution_add_and_drop_column(spark, tmp_path):
    """Manifest-tracked schema (r6): a later writer's appended column
    surfaces as NULL in pre-evolution files; a column the latest writer
    dropped disappears; time travel reads each version under ITS schema."""
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 5).coalesce(1), t, mode="append")  # id, v
    v1 = current_version(t)
    evolved = spark.range(5, 8).selectExpr(
        "id", "id * 2 as v", "id * 10 as extra"
    )
    write_snapshot(evolved.coalesce(1), t, mode="append")
    cur = read_snapshot(spark, t)
    assert set(cur.columns) == {"id", "v", "extra"}
    got = {r.id: (r.v, r.extra) for r in cur.collect()}
    assert got[2] == (4, None)      # old file: new column is NULL
    assert got[6] == (12, 60)       # new file: populated
    # time travel: v1 still reads under the ORIGINAL two-column schema
    old = read_snapshot(spark, t, version=v1)
    assert set(old.columns) == {"id", "v"}
    # a writer that drops a column: latest-writer-wins
    write_snapshot(
        spark.range(100, 102).selectExpr("id", "id * 2 as v").coalesce(1),
        t, mode="append",
    )
    assert set(read_snapshot(spark, t).columns) == {"id", "v"}


def test_schema_survives_compact_delete_merge(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        compact,
        delete_where,
        merge_into,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 20).coalesce(1), t, mode="append")
    write_snapshot(
        spark.range(20, 40).selectExpr("id", "id * 2 as v", "id as extra"
                                       ).coalesce(1),
        t, mode="append",
    )
    compact(spark, t, target_files=1)
    assert set(read_snapshot(spark, t).columns) == {"id", "v", "extra"}
    delete_where(spark, t, "id >= 35")
    assert set(read_snapshot(spark, t).columns) == {"id", "v", "extra"}
    upd = spark.createDataFrame(
        [(0, 999, 1)], "id long, v long, extra long"
    )
    merge_into(spark, t, upd, "id")
    cur = read_snapshot(spark, t)
    assert set(cur.columns) == {"id", "v", "extra"}
    assert cur.filter("id = 0").first().v == 999
    assert cur.count() == 35


def test_mor_equality_deletes_scoped_and_materialized(spark, tmp_path):
    """Merge-on-read deletes: O(keys) commit, readers anti-join; the
    delete is SCOPED to commit-time files so a later re-insert of the
    same key survives (CDC delete-then-reinsert); apply_deletes
    materializes and clears the batches; rewrites are guarded while
    batches are outstanding."""
    import pytest as _pytest

    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        apply_deletes,
        compact,
        delete_keys,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 50).coalesce(1), t, mode="append")
    v = delete_keys(
        spark, t, spark.createDataFrame([(7,), (8,), (9,)], "id long"), "id"
    )
    assert read_manifest(t, v)["operation"] == "delete_keys(3 keys)"
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == set(range(50)) - {7, 8, 9}
    # re-insert key 7 AFTER the delete: append is out of scope → visible
    write_snapshot(
        spark.createDataFrame([(7, 777)], "id long, v long").coalesce(1),
        t, mode="append",
    )
    got2 = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got2[7] == 777  # the NEW row, not the deleted one
    assert 8 not in got2
    # rewrites are guarded while deletes are outstanding
    with _pytest.raises(RuntimeError, match="apply_deletes"):
        compact(spark, t, target_files=1)
    # materialize: batches cleared, physical rows now match
    v2 = apply_deletes(spark, t)
    m = read_manifest(t, v2)
    assert not m.get("deletes")
    assert m["n_rows"] == 48  # 50 - 3 + 1 reinsert
    got3 = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got3[7] == 777 and 8 not in got3 and len(got3) == 48
    # now compaction works again
    compact(spark, t, target_files=1)
    assert read_snapshot(spark, t).count() == 48


def test_mor_deletes_stack_and_empty_keys_noop(spark, tmp_path):
    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        apply_deletes,
        delete_keys,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 20).coalesce(1), t, mode="append")
    v0 = current_version(t)
    empty = spark.createDataFrame([], "id long")
    assert delete_keys(spark, t, empty, "id") == v0  # no-op
    delete_keys(spark, t, spark.createDataFrame([(1,)], "id long"), "id")
    delete_keys(spark, t, spark.createDataFrame([(2,)], "id long"), "id")
    assert len(read_manifest(t).get("deletes", [])) == 2
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == set(range(20)) - {1, 2}
    apply_deletes(spark, t)
    assert apply_deletes(spark, t) == current_version(t)  # no-op when clear
    assert read_snapshot(spark, t).count() == 18


def test_rollback_carries_outstanding_mor_deletes(spark, tmp_path):
    """Code-review r6 #2: rolling back to a version with outstanding
    delete batches must restore them — not resurrect deleted rows."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import delete_keys

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10).coalesce(1), t, mode="append")
    v2 = delete_keys(
        spark, t, spark.createDataFrame([(3,)], "id long"), "id"
    )
    write_snapshot(_df(spark, 100, 105).coalesce(1), t, mode="append")
    rollback(t, to_version=v2)
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == set(range(10)) - {3}


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """Code-review r6 #3: SQL DELETE semantics — rows where the
    predicate is NULL are KEPT, not deleted."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import delete_where

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 50), (2, None), (3, 200)], "id long, score long"
    )
    write_snapshot(df.coalesce(1), t, mode="append")
    v = delete_where(spark, t, "score > 100")
    m = read_manifest(t, v)
    assert m["metrics"]["rows_deleted"] == 1  # only id=3
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert got == {1, 2}  # the NULL-score row survives


def test_merge_into_additive_schema_with_candidates(spark, tmp_path):
    """Code-review r6 #6: updates adding a column must merge cleanly
    even when candidate files (pre-evolution schema) are rewritten."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    write_snapshot(
        _df(spark, 0, 10).coalesce(1), t, mode="append", stats_cols=["id"]
    )
    upd = spark.createDataFrame(
        [(5, 555, "en")], "id long, v long, lang string"
    )
    v = merge_into(spark, t, upd, "id")  # key 5 overlaps the only file
    m = read_manifest(t, v)
    assert m["metrics"]["rows_updated"] == 1
    cur = read_snapshot(spark, t)
    assert set(cur.columns) == {"id", "v", "lang"}
    got = {r.id: (r.v, r.lang) for r in cur.collect()}
    assert got[5] == (555, "en")
    assert got[4] == (8, None)  # pre-evolution rows: new column NULL


def _table_files(t):
    return sorted(
        os.path.relpath(os.path.join(d, f), t)
        for d, _, fs in os.walk(t)
        for f in fs
        if not os.path.relpath(d, t).startswith("_snapshots")
    )


def test_noop_commits_leave_no_file(spark, tmp_path):
    """A delete_keys of no keys and a delete_where that matches no row
    publish nothing, and remove the files they wrote."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import (
        delete_keys,
        delete_where,
    )

    t = str(tmp_path / "tbl")
    v0 = write_snapshot(_df(spark, 0, 20), t)
    before = _table_files(t)
    assert delete_keys(spark, t, spark.createDataFrame([], "id long"), "id") == v0
    assert delete_where(spark, t, "id > 1000") == v0
    assert _table_files(t) == before
    assert current_version(t) == v0


def test_write_snapshot_runs_one_job(spark, tmp_path):
    """The rows of a commit are counted from the footers of the files it
    wrote, so a write_snapshot without stats_cols is its write job alone."""
    t = str(tmp_path / "tbl")
    sc = spark.sparkContext
    group = "test_write_snapshot_runs_one_job"
    sc.setJobGroup(group, group)
    try:
        v = write_snapshot(_df(spark, 0, 10), t)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert read_manifest(t, v)["n_rows"] == 10


_RETRY_SCRIPT = r"""
import json, os, sys, uuid
from pyspark import TaskContext
from deepseek_ocr_api_rs_spark.conf import build_session
from deepseek_ocr_api_rs_spark.sources import snapshots as S

root = sys.argv[1]
marks = os.path.join(root, "faults")
os.makedirs(marks)
spark = build_session(master="local[4,2]", shuffle_partitions=4)


def udf(fail):
    def f(x):
        ctx = TaskContext.get()
        if fail and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(os.path.join(marks, uuid.uuid4().hex), "w").close()
            raise RuntimeError("injected fault")
        return x
    return f


spark.udf.register("flaky", udf(True), "long")
spark.udf.register("steady", udf(False), "long")
out = {}
for fn in ("steady", "flaky"):
    t = os.path.join(root, fn)
    for lo in (0, 40):
        S.write_snapshot(
            spark.range(lo, lo + 40, numPartitions=4).selectExpr("id", f"{fn}(id * 2) as v"), t
        )
    S.delete_where(spark, t, f"{fn}(id) % 7 = 0")
    upd = spark.range(0, 20, numPartitions=4).selectExpr(f"{fn}(id) * 3 as id", "0L as v")
    S.merge_into(spark, t, upd, "id")
    out[fn] = {
        "log": [
            [m["n_rows"], m["operation"]]
            for m in (S.read_manifest(t, v) for v in range(1, S.current_version(t) + 1))
        ],
        "rows": sorted(tuple(r) for r in S.read_snapshot(spark, t).collect()),
    }
out["faults"] = len(os.listdir(marks))
print(json.dumps(out))
spark.stop()
"""


def test_commits_under_task_retries_equal_fault_free_run(tmp_path):
    """Under local[4,2], a UDF that fails attempt 0 of partition 0 in the
    data path of write_snapshot, delete_where and merge_into makes each
    retry a task; the manifests' n_rows and operation strings, and the
    rows, equal those of the same commits without faults."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=repo,
        env=dict(os.environ, PYTHONPATH=repo),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    # one fault per stage that ran the UDF: both appends, the delete's
    # rewrite and the merge's updates
    assert out["faults"] >= 4
    assert out["flaky"] == out["steady"]
    ops = [op for _, op in out["steady"]["log"]]
    assert ops[:2] == ["append", "append"]
    assert ops[2].startswith("delete(") and ops[3].startswith("merge(")
