"""spark-submit entrypoint — the analogue of the reference CLI lifecycle
(crates/cli/src/main.rs → run_inference, SURVEY.md §3.1):

    spark-submit --py-files dist.zip -m deepseek_ocr_api_rs_spark.job \
        --input  /data/pages.parquet \
        --output /data/extracted     \
        --checkpoint-dir /data/_ckpt \
        --langs en,de --n-buckets 256

Config precedence mirrors the reference (CLI > env > defaults,
crates/config/src/config.rs:296-324): argparse flags > SPARK_GRAFT_* env >
conf.py defaults. The job is resumable: each task publishes its own bucket,
and a rerun redoes only the uncommitted ones (operators.checkpoint).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="main-content extraction job")
    p.add_argument("--input", required=True, help="documents parquet/table")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--metrics-path", default=None)
    p.add_argument("--langs", default=None, help="comma-separated lang filter")
    p.add_argument(
        "--n-buckets",
        type=int,
        default=8,
        help="url-hash buckets: the task count and the commit unit (a kill "
        "loses only buckets in flight); a resume must use the same value",
    )
    p.add_argument("--run-id", default=None)
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--snapshot-table",
        default=None,
        help="also commit the run's output as the current version of this "
        "versioned table, replacing the previous one (sources.snapshots: "
        "snapshot-isolated readers, time travel, per-run metrics lineage)",
    )
    p.add_argument(
        "--compact-snapshots",
        action="store_true",
        help="after committing, compact the snapshot table's current "
        "version into fewer larger files (OPTIMIZE — the small-files "
        "remedy for many incremental commits); requires --snapshot-table",
    )
    p.add_argument(
        "--expire-snapshots",
        type=int,
        default=None,
        metavar="KEEP_LAST",
        help="after committing (and compacting), expire all but the "
        "newest KEEP_LAST snapshot versions and reclaim data files only "
        "they referenced (VACUUM); requires --snapshot-table",
    )
    args = p.parse_args(argv)
    if (args.compact_snapshots or args.expire_snapshots is not None) and (
        not args.snapshot_table
    ):
        p.error(
            "--compact-snapshots/--expire-snapshots require --snapshot-table"
        )
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from deepseek_ocr_api_rs_spark.conf import build_session
    from deepseek_ocr_api_rs_spark.operators import checkpoint
    from deepseek_ocr_api_rs_spark.operators.extract import (
        EXTRACT_OUTPUT_SCHEMA,
        extraction_metrics,
    )
    from deepseek_ocr_api_rs_spark.sources.io import read_documents
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = build_session(
        app_name="extraction-job",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    docs = read_documents(spark, args.input)
    if args.langs:
        from pyspark.sql import functions as F

        docs = docs.filter(F.col("lang").isin(args.langs.split(",")))
    run_id = args.run_id or f"run-{int(time.time())}"
    t0 = time.time()
    n_buckets_done = checkpoint.run_resumable_extraction(
        spark,
        docs,
        args.output,
        args.checkpoint_dir,
        n_buckets=args.n_buckets,
        run_id=run_id,
    )
    dt = time.time() - t0
    # each task counted the rows it wrote into its bucket's manifest row
    n = sum(checkpoint.read_manifest(args.checkpoint_dir).column("n_docs").to_pylist())
    # the known schema reads an output whose buckets are all empty (no
    # data file, no directory) as an empty frame instead of raising
    os.makedirs(args.output, exist_ok=True)
    out = spark.read.schema(
        StructType(EXTRACT_OUTPUT_SCHEMA.fields + [StructField("bucket", IntegerType())])
    ).parquet(args.output)
    print(
        f"extraction complete: {n} docs, {n_buckets_done} buckets this run, "
        f"{dt:.1f}s ({n / max(dt, 1e-9):.0f} docs/sec)"
    )
    # one evaluation of the rollup feeds both the metrics table and the print
    rollup = extraction_metrics(out)
    metrics = spark.createDataFrame(rollup.collect(), rollup.schema)
    if args.metrics_path:
        from pyspark.sql import functions as F

        metrics.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(
            args.metrics_path
        )
    if args.snapshot_table:
        from deepseek_ocr_api_rs_spark.sources.snapshots import write_snapshot

        # the output directory holds every run's buckets, so the new
        # version replaces the previous one instead of adding to it
        version = write_snapshot(
            out,
            args.snapshot_table,
            mode="overwrite",
            metrics={
                "run_id": run_id,
                "n_docs": n,
                "buckets_this_run": n_buckets_done,
                "wall_seconds": round(dt, 3),
            },
        )
        print(f"snapshot committed: {args.snapshot_table} v{version}")
        if args.compact_snapshots:
            from deepseek_ocr_api_rs_spark.sources.snapshots import compact

            cv = compact(spark, args.snapshot_table, metrics={"run_id": run_id})
            print(f"snapshots compacted: v{cv}")
        if args.expire_snapshots is not None:
            from deepseek_ocr_api_rs_spark.sources.snapshots import (
                expire_snapshots,
            )

            rep = expire_snapshots(
                args.snapshot_table, keep_last=args.expire_snapshots
            )
            print(
                f"snapshots expired: {len(rep['expired_versions'])} versions, "
                f"{rep['deleted_files']} data files reclaimed"
            )
    metrics.show(truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
