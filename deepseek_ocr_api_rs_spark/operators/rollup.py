"""Hypertable-style continuous aggregate: an hourly rollup table partitioned
by date, refreshed INCREMENTALLY — only date partitions whose inputs changed
are recomputed (TimescaleDB continuous-aggregate / materialized-view-refresh
pattern, restated on parquet partitions + dynamic partition overwrite).

Scale shape: the refresh never rescans history. Changed dates are found by
comparing a per-date CONTENT FINGERPRINT — (row count, bit_xor of xxhash64
over the full row struct) — against the previous manifest (one pruned
aggregate over the scan; xor is order-independent so the fingerprint is
partitioning-stable). The recompute filters the input to the changed dates
(partition/predicate pushdown does the skipping), and
``partitionOverwriteMode=dynamic`` swaps ONLY the affected date directories
atomically-per-partition — the Iceberg-snapshot-append analogue available on
plain parquet. Dates present in the previous manifest but absent from the
input are treated as retractions: their partitions are deleted. Same
job-granularity resume idea as operators.checkpoint (reference KV-cache
incrementality, crates/core/src/cache.rs:78-116).

Detection limits (documented, not silent): the xor-of-hashes fingerprint
misses a change only if the multiset delta xors to zero AND the row count is
unchanged — i.e. replacing a row with a row of identical content (a no-op)
or an engineered xxhash64 collision. In-place value updates and
insert+delete pairs that keep the count constant ARE detected (they change
the xor), which the previous count-only manifest missed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hourly_rollup(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.to_date("ts").alias("date"),
            F.date_trunc("hour", "ts").alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


def _per_date_fingerprints(events: DataFrame) -> dict[str, dict]:
    """One pruned aggregate: {date: {"n": rows, "fp": xor of row hashes}}.

    The row hash covers EVERY input column, so any value change flips the
    xor; the count guards the (pair-cancelling) duplicate-row edge of xor.
    """
    row_hash = F.xxhash64(*[F.col(c) for c in events.columns])
    rows = (
        events.groupBy(F.to_date("ts").alias("date"))
        .agg(F.count("*").alias("n"), F.bit_xor(row_hash).alias("fp"))
        .collect()
    )
    return {str(r.date): {"n": r.n, "fp": r.fp} for r in rows}


def refresh_hourly_rollup(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    snapshot_log: bool = False,
) -> dict:
    """Refresh the rollup at ``out_dir`` from the current ``events`` table.

    Returns {"refreshed_dates": [...], "skipped_dates": n,
    "deleted_dates": [...]} — the caller (and tests) can verify no-change
    dates were not recomputed and retracted dates were dropped. Never
    silent: the returned accounting IS the log.

    Retraction substrate: with ``snapshot_log=False`` retracted date
    partitions are deleted with a driver-side directory remove — the
    plain-local-parquet stand-in for what is a CATALOG-level delete on a
    real table format (Iceberg/Delta drop data files from the next
    snapshot's manifest; the files themselves are pruned later by GC).
    ``snapshot_log=True`` does it the catalog way via sources.snapshots:
    every refresh publishes a manifest listing exactly the live partition
    files, a retraction is a manifest that omits the retracted date (no
    physical delete — the files become invisible orphans), and
    ``read_rollup_snapshot`` resolves through the manifest. Note dynamic
    partition overwrite rewrites files IN PLACE, so older snapshot versions
    of a *changed* date are not time-travelable on this substrate (a real
    catalog writes new files per commit); the manifest's value here is
    atomic visibility + retraction-without-delete + lineage metrics.
    """
    manifest_path = os.path.join(out_dir, "_rollup_manifest.json")
    prev: dict[str, dict] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            loaded = json.load(f)
        # migrate the legacy count-only manifest: unknown fp ⇒ treated as
        # changed on the next refresh (safe: recompute, never skip)
        prev = {
            d: (v if isinstance(v, dict) else {"n": v, "fp": None})
            for d, v in loaded.items()
        }

    per_date = _per_date_fingerprints(events)
    changed = sorted(d for d, v in per_date.items() if prev.get(d) != v)
    deleted = sorted(d for d in prev if d not in per_date)
    rollup_dir = os.path.join(out_dir, "rollup")
    if changed:
        subset = events.filter(F.to_date("ts").isin(changed))
        (
            _hourly_rollup(subset)
            .repartition("date")
            .write.mode("overwrite")
            .partitionBy("date")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(rollup_dir)
        )
    if not snapshot_log:
        for d in deleted:
            part_dir = os.path.join(rollup_dir, f"date={d}")
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
    if changed or deleted:
        with open(manifest_path, "w") as f:
            json.dump(per_date, f)
        if snapshot_log:
            from deepseek_ocr_api_rs_spark.sources.snapshots import (
                _footer_rows,
                _publish,
            )

            # catalog-style commit: the manifest lists exactly the LIVE
            # dates' files; retracted dates are simply absent (their files
            # stay on disk as invisible orphans — GC's job, not the
            # refresh's)
            date_files = {
                d: sorted(
                    os.path.join("rollup", f"date={d}", name)
                    for name in os.listdir(os.path.join(rollup_dir, f"date={d}"))
                    if name.endswith(".parquet")
                )
                for d in per_date
            }
            files = sorted(f for fs in date_files.values() for f in fs)
            # per-date rows from the footers of the listed files: exact,
            # and no Spark job
            rollup_rows = {d: _footer_rows(out_dir, fs) for d, fs in date_files.items()}
            _publish(
                out_dir,
                {
                    "files": files,
                    "n_rows": int(sum(rollup_rows.values())),
                    "committed_ts": time.time(),
                    "operation": "rollup_refresh",
                    "metrics": {
                        "refreshed_dates": changed,
                        "deleted_dates": deleted,
                        "rollup_rows_per_date": rollup_rows,
                    },
                },
            )
    return {
        "refreshed_dates": changed,
        "skipped_dates": len(per_date) - len(changed),
        "deleted_dates": deleted,
    }


def read_rollup(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "rollup"))


def read_rollup_snapshot(
    spark: SparkSession, out_dir: str, version: int | None = None
) -> DataFrame:
    """Manifest-resolved read of a ``snapshot_log=True`` rollup: only the
    files the (given or latest) snapshot lists are visible — a physically
    present but retracted partition does NOT appear. ``basePath`` keeps the
    ``date=`` partition column recoverable from leaf-file paths."""
    from deepseek_ocr_api_rs_spark.sources.snapshots import read_manifest

    m = read_manifest(out_dir, version)
    paths = [os.path.join(out_dir, f) for f in m["files"]]
    return (
        spark.read.option("basePath", os.path.join(out_dir, "rollup"))
        .parquet(*paths)
    )
