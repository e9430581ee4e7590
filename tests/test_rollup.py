"""Hypertable-style incremental rollup (operators/rollup.py): only changed
date partitions are recomputed; final contents always equal the from-scratch
rollup."""

from __future__ import annotations

import pyspark.sql.functions as F

from deepseek_ocr_api_rs_spark.operators.rollup import (
    _hourly_rollup,
    read_rollup,
    refresh_hourly_rollup,
)

SF = "/root/testdata/sf0.001"


def _assert_equals_batch(spark, got, events):
    want = _hourly_rollup(events)
    g = got.select("date", "window_start", "event_type", "n_events", "sum_value")
    w = want.select("date", "window_start", "event_type", "n_events", "sum_value")
    assert g.count() == w.count()
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def test_incremental_refresh_touches_only_changed_dates(spark, tmp_path):
    out = str(tmp_path / "agg")
    events = spark.read.parquet(f"{SF}/events.parquet")
    dates = sorted(r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect())
    assert len(dates) >= 3
    first_days = events.filter(F.to_date("ts") <= F.lit(dates[-2]))

    # initial build over all-but-last day
    rep1 = refresh_hourly_rollup(spark, first_days, out)
    assert rep1["skipped_dates"] == 0 and len(rep1["refreshed_dates"]) == len(dates) - 1
    _assert_equals_batch(spark, read_rollup(spark, out), first_days)

    # idempotent re-run: nothing changed -> nothing refreshed
    rep2 = refresh_hourly_rollup(spark, first_days, out)
    assert rep2["refreshed_dates"] == []
    assert rep2["skipped_dates"] == len(dates) - 1

    # the last day lands -> ONLY that date refreshes; earlier partitions kept
    rep3 = refresh_hourly_rollup(spark, events, out)
    assert rep3["refreshed_dates"] == [str(dates[-1])]
    assert rep3["skipped_dates"] == len(dates) - 1
    _assert_equals_batch(spark, read_rollup(spark, out), events)

    # late data for an OLD date -> exactly that date recomputes
    late = events.unionAll(events.filter(F.to_date("ts") == F.lit(dates[0])).limit(5))
    rep4 = refresh_hourly_rollup(spark, late, out)
    assert rep4["refreshed_dates"] == [str(dates[0])]
    _assert_equals_batch(spark, read_rollup(spark, out), late)


def test_in_place_update_with_constant_count_is_detected(spark, tmp_path):
    """The count-only manifest missed value changes that keep per-date row
    counts constant; the content fingerprint (xor of row hashes) catches
    them."""
    out = str(tmp_path / "agg")
    events = spark.read.parquet(f"{SF}/events.parquet")
    refresh_hourly_rollup(spark, events, out)

    d0 = events.select(F.min(F.to_date("ts")).alias("d")).first().d
    # same rows, same counts everywhere — but every value on day d0 doubled
    updated = events.withColumn(
        "value",
        F.when(F.to_date("ts") == F.lit(d0), F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    rep = refresh_hourly_rollup(spark, updated, out)
    assert rep["refreshed_dates"] == [str(d0)]
    _assert_equals_batch(spark, read_rollup(spark, out), updated)


def test_removed_date_partition_is_deleted(spark, tmp_path):
    """A date present in the previous manifest but absent from the input is
    a retraction: its partition must disappear from read_rollup, not linger
    stale."""
    import os

    out = str(tmp_path / "agg")
    events = spark.read.parquet(f"{SF}/events.parquet")
    refresh_hourly_rollup(spark, events, out)

    d0 = events.select(F.min(F.to_date("ts")).alias("d")).first().d
    remaining = events.filter(F.to_date("ts") != F.lit(d0))
    rep = refresh_hourly_rollup(spark, remaining, out)
    assert rep["deleted_dates"] == [str(d0)]
    assert rep["refreshed_dates"] == []  # surviving dates untouched
    assert not os.path.isdir(os.path.join(out, "rollup", f"date={d0}"))
    _assert_equals_batch(spark, read_rollup(spark, out), remaining)

    # idempotent: re-running with the same input changes nothing
    rep2 = refresh_hourly_rollup(spark, remaining, out)
    assert rep2["refreshed_dates"] == [] and rep2["deleted_dates"] == []


def test_legacy_count_only_manifest_migrates(spark, tmp_path):
    """An old {date: count} manifest is treated as fp-unknown: every date
    recomputes once (safe direction), then fingerprints take over."""
    import json
    import os

    out = str(tmp_path / "agg")
    events = spark.read.parquet(f"{SF}/events.parquet")
    refresh_hourly_rollup(spark, events, out)

    # rewrite the manifest in the legacy count-only format
    path = os.path.join(out, "_rollup_manifest.json")
    with open(path) as f:
        m = json.load(f)
    with open(path, "w") as f:
        json.dump({d: v["n"] for d, v in m.items()}, f)

    rep = refresh_hourly_rollup(spark, events, out)
    assert sorted(rep["refreshed_dates"]) == sorted(m.keys())
    rep2 = refresh_hourly_rollup(spark, events, out)
    assert rep2["refreshed_dates"] == []
    _assert_equals_batch(spark, read_rollup(spark, out), events)
