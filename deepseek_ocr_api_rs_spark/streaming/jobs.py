"""Structured Streaming pipelines.

The reference streams decoded deltas over SSE (crates/server/src/stream.rs)
— transport streaming of a per-request computation. The Spark-native
restatement is corpus-level: documents/events arrive continuously, and the
engine maintains watermarked windowed aggregates, sessions, stream-stream
joins and cross-batch dedup state. ``extraction_stream`` runs the
extraction stage itself on a stream (readStream → mapInArrow → parquet file
sink, exactly once through the streaming checkpoint). Every sink here is a
memory or parquet file sink; snapshot-table commits belong to the batch job
(``job.py --snapshot-table``).

Batch-equivalence: with Trigger.AvailableNow over static input, the final
result of a streaming aggregation equals the batch group-by — which is what
lets the driver's DuckDB oracle check a streaming query.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.operators.partitioning import scoped_shuffle_partitions

# spark.sql.shuffle.partitions for a stream's START (scoped by
# operators.partitioning.scoped_shuffle_partitions). A stateful streaming
# operator LOCKS its partition count at first start (it is baked into the
# checkpoint), and every micro-batch pays a state-store open/commit per
# partition PER STORE (a stream-stream join keeps four stores per
# partition) — so the right number tracks expected STATE volume, not the
# batch shuffle default (at sf-demo scale, 128 batch partitions = 128
# near-empty state stores = pure overhead, ~4× the wall time of the actual
# join; r9 measured the same effect again from 32 → 8: the watermark-commit
# batch alone fell 2.9 s → 0.7 s, the whole join 9 s → 2.4 s, because
# ≤10⁵ state rows never need 32 stores). A production clickstream sizes
# this UP via the ``state_partitions`` parameter so per-partition state
# fits executor memory; these demo jobs default to 8. ``None`` leaves the
# session setting untouched.
DEFAULT_STATE_PARTITIONS = 8


def hourly_event_counts_stream(
    spark: SparkSession,
    events_path: str,
    watermark: str = "1 hour",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """Tumbling 1-hour windowed counts per event_type over a *stream* of
    events, with a watermark for late data; runs to completion with
    AvailableNow and returns the final (batch-equal) result.

    At production scale the source is a Kafka/files stream and the sink an
    Iceberg table in append mode per window close; here: memory sink.
    """
    schema = spark.read.parquet(events_path).schema
    # the file stream source takes a directory; a single-file input is
    # expressed as parent dir + glob (same as a real landing directory)
    if events_path.endswith(".parquet"):
        parent, fname = os.path.split(events_path)
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(parent)
        )
    else:
        stream = spark.readStream.schema(schema).parquet(events_path)
    # watermarks require TIMESTAMP (with local tz), parquet yields NTZ. The
    # watermark column is a cast copy; the GROUP key stays the original NTZ
    # hour so results are session-timezone-independent (an LTZ cast can
    # shift rows across hour buckets in DST-gap wall times).
    stream = stream.withColumn("ts_event", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts_event", watermark)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )
    sink = f"stream_result_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        query = query.option("checkpointLocation", checkpoint_dir)
    with scoped_shuffle_partitions(spark, state_partitions):
        q = query.start()
        q.awaitTermination()
    return spark.table(sink)


def _sessionize_events(
    state_tuple: tuple | None,
    rows: list[tuple[int, int, int]],
    gap_seconds: int,
) -> tuple[tuple | None, list[tuple]]:
    """Pure sessionization step: (open-session state, batch rows sorted by
    (epoch_s, event_id)) → (new state, closed sessions). State tuple =
    (start_s, last_s, n_events, cents, seq). Integer arithmetic only —
    bit-exact vs the batch sessionizer's oracle."""
    closed: list[tuple] = []
    cur = state_tuple
    for epoch_s, _event_id, cents in rows:
        if cur is None:
            cur = (epoch_s, epoch_s, 1, cents, 1)
        elif epoch_s - cur[1] > gap_seconds:
            closed.append(cur)
            cur = (epoch_s, epoch_s, 1, cents, cur[4] + 1)
        else:
            cur = (cur[0], epoch_s, cur[2] + 1, cur[3] + cents, cur[4])
    return cur, closed


def sessionize_stream(
    spark: SparkSession,
    events_path: str,
    work_dir: str,
    gap_minutes: int = 30,
    n_slices: int = 3,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """Streaming gap-sessionization: ``applyInPandasWithState`` with
    EVENT-TIME TIMEOUT. The open session lives in keyed state across
    micro-batches; a session closes either when a later event of the same
    user arrives past the gap, or when the WATERMARK passes
    ``last_event + gap`` (the timeout path — how a live stream emits
    sessions for users who simply stopped).

    Mechanics mirrored from the reference's scope-guarded mutable cache
    (crates/core/src/cache.rs:358-401): state is created, grown, and
    reclaimed by the runtime against an explicit horizon (the watermark).

    Determinism: session arithmetic is integer-only — value is converted
    to CENTS (decimal(18,2)·100 → long) JVM-side, timestamps to floor
    seconds, so the emitted rollups equal the batch sessionizer's DuckDB
    oracle bit-for-bit. Input is staged into ``n_slices`` time-ordered files
    (a landing directory in event-time order, the production file-stream
    shape) plus one far-future sentinel event (user_id −1, NOT filtered
    before the stateful op — the watermark is computed from the column the
    operator sees, so filtering the sentinel would silence it) that pushes
    the watermark past every real session's timeout.

    Lateness bound: the staged replay advances event time by the whole data
    span within seconds of wall time, so the watermark delay is sized to
    span + gap (a live deployment uses its real out-of-orderness bound —
    with a bound smaller than the span, mid-replay timeouts would race the
    slices; the TIMEOUT path itself is identical either way).
    """
    import glob
    import shutil
    import time as _time

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_seconds = gap_minutes * 60
    landing = os.path.join(work_dir, "landing")
    os.makedirs(landing, exist_ok=True)
    events = spark.read.parquet(events_path)
    schema = events.schema

    mn, mx = events.agg(F.min("ts"), F.max("ts")).first()
    span_seconds = int((mx - mn).total_seconds()) + 1
    delay_seconds = span_seconds + gap_seconds + 3600

    if not glob.glob(os.path.join(landing, "*.parquet")):
        import datetime as _dt

        bounds = [
            mn + _dt.timedelta(seconds=span_seconds * (i + 1) / n_slices)
            for i in range(n_slices - 1)
        ]
        now = _time.time()
        lo = None
        for i in range(n_slices):
            hi = bounds[i] if i < len(bounds) else None
            sl = events
            if lo is not None:
                sl = sl.filter(F.col("ts") > F.lit(lo))
            if hi is not None:
                sl = sl.filter(F.col("ts") <= F.lit(hi))
            spath = os.path.join(work_dir, f"_slice{i}")
            sl.coalesce(1).write.mode("overwrite").parquet(spath)
            for f in glob.glob(os.path.join(spath, "*.parquet")):
                dst = os.path.join(landing, f"d{i}.parquet")
                shutil.copy(f, dst)
                os.utime(dst, (now - 100 + i, now - 100 + i))
            lo = hi
        sentinel = spark.createDataFrame(
            [(int(-1), mx, int(-1), SENTINEL_EVENT_TYPE, 0.0, "")], schema
        ).withColumn(
            "ts",
            F.col("ts")
            + F.expr(f"INTERVAL {delay_seconds + gap_seconds + 7200} SECONDS"),
        )
        spath = os.path.join(work_dir, "_sentinel")
        sentinel.coalesce(1).write.mode("overwrite").parquet(spath)
        for f in glob.glob(os.path.join(spath, "*.parquet")):
            dst = os.path.join(landing, "z_sentinel.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now, now))

    def fn(key, pdfs, state: GroupState):
        user_id = int(key[0])
        out: list[tuple] = []
        if state.hasTimedOut:
            start_s, last_s, n, cents, seq = state.get
            out.append((user_id, seq, n, last_s - start_s, cents / 100.0))
            state.remove()
        elif user_id < 0:
            pass  # the watermark sentinel carries no session
        else:
            rows: list[tuple[int, int, int]] = []
            for pdf in pdfs:
                rows.extend(
                    zip(
                        pdf["epoch_s"].astype("int64"),
                        pdf["event_id"].astype("int64"),
                        pdf["cents"].astype("int64"),
                    )
                )
            rows.sort(key=lambda r: (r[0], r[1]))
            cur = tuple(state.get) if state.exists else None
            cur, closed = _sessionize_events(cur, rows, gap_seconds)
            out.extend(
                (user_id, c[4], c[2], c[1] - c[0], c[3] / 100.0) for c in closed
            )
            if cur is not None:
                state.update(cur)
                # close via watermark when the user goes quiet; never set a
                # timeout at or below the current watermark (runtime error)
                timeout_ms = max(
                    (cur[1] + gap_seconds) * 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
                state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_seq", "n_events", "span_seconds", "sum_value"],
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    prepared = stream.select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("epoch_s"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.col("ts").cast("timestamp").alias("ts_event"),
    ).withWatermark("ts_event", f"{delay_seconds} seconds")
    sessions = prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, session_seq long, n_events long, "
            "span_seconds long, sum_value double"
        ),
        stateStructType="start_s long, last_s long, n long, cents long, seq long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    sink = f"sessions_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            sessions.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


def click_purchase_stream_join(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: each purchase matched to the
    same user's clicks in the preceding ``window``. Both sides carry
    watermarks and the join condition is time-bounded, so Spark can evict
    state for rows older than watermark+window — the bounded-state shape a
    100 TB clickstream needs (an unbounded-condition stream join would hold
    both streams forever). AvailableNow over static input ⇒ final result
    equals the batch self-join, which is what the oracle checks.
    """
    schema = spark.read.parquet(events_path).schema

    def side(event_type: str, alias: str) -> DataFrame:
        if events_path.endswith(".parquet"):
            parent, fname = os.path.split(events_path)
            s = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", fname)
                .parquet(parent)
            )
        else:
            s = spark.readStream.schema(schema).parquet(events_path)
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("event_id").alias(f"{alias}_id"),
                F.col("ts").cast("timestamp").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", watermark)
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL {window}"
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_seconds"),
    )
    sink = f"join_result_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


SENTINEL_EVENT_TYPE = "__watermark_sentinel__"


def hourly_event_counts_stream_append(
    spark: SparkSession,
    events_path: str,
    work_dir: str,
    watermark: str = "1 hour",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """APPEND-mode variant of ``hourly_event_counts_stream``: each window is
    emitted exactly once to a parquet FILE sink when the watermark closes it
    — the production shape. State holds only open windows (complete-mode +
    memory sink holds the entire aggregate forever; fine as the
    batch-equivalence demo, wrong at scale).

    Closed-window mechanics over a finite input: real event files are staged
    into a landing dir followed by one SENTINEL event whose timestamp sits
    past ``max(ts) + watermark``, so the final micro-batch's watermark
    closes every real window. The sentinel's own (filtered-out) window is
    the only state left unflushed — exactly the steady-state behavior of a
    live stream, where the open tail window is always pending.
    """
    import glob
    import shutil
    import time

    landing = os.path.join(work_dir, "landing")
    out_dir = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")
    os.makedirs(landing, exist_ok=True)

    events = spark.read.parquet(events_path)
    schema = events.schema
    if not glob.glob(os.path.join(landing, "*.parquet")):
        src_files = sorted(
            glob.glob(os.path.join(events_path, "*.parquet"))
            if os.path.isdir(events_path)
            else [events_path]
        )
        now = time.time()
        for i, f in enumerate(src_files):
            dst = os.path.join(landing, f"d{i}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now - 100 + i, now - 100 + i))
        max_ts = events.agg(F.max("ts").alias("m")).first().m
        sentinel = spark.createDataFrame(
            [(int(-1), max_ts, int(-1), SENTINEL_EVENT_TYPE, 0.0, "")],
            schema,
        ).withColumn(
            "ts",
            F.col("ts") + F.expr(f"INTERVAL {watermark}") + F.expr("INTERVAL 3 HOURS"),
        )
        spath = os.path.join(work_dir, "_sentinel")
        sentinel.coalesce(1).write.mode("overwrite").parquet(spath)
        for f in glob.glob(os.path.join(spath, "*.parquet")):
            dst = os.path.join(landing, "z_sentinel.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now, now))  # strictly after the data files

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # data batch(es), then sentinel
        .parquet(landing)
    )
    stream = stream.withColumn("ts_event", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts_event", watermark)
        .groupBy(F.window("ts_event", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir).filter(
        F.col("event_type") != SENTINEL_EVENT_TYPE
    )


def _dedup_batch(
    seen_list: list[bytes], ids, fps
) -> tuple[list[bytes] | None, list[int], list[str]]:
    """Pure (state, batch) → (state'|None, out) core of streaming_dedup.

    Returns the NEW state list only when the batch added fingerprints
    (None ⇒ caller skips the state write entirely), and the appended tail is
    exactly the batch's first-seen digests — state work is O(new
    fingerprints), never a re-sort/re-serialize of the whole history.
    """
    seen = set(seen_list)
    new: list[bytes] = []
    out_ids: list[int] = []
    out_fps: list[str] = []
    for doc_id, fp in zip(ids, fps):
        fpb = bytes(fp)
        if fpb in seen:
            continue
        seen.add(fpb)
        new.append(fpb)
        out_ids.append(int(doc_id))
        out_fps.append(fpb.hex())
    return (seen_list + new if new else None), out_ids, out_fps


def streaming_dedup(
    spark: SparkSession,
    docs_path: str,
    checkpoint_dir: str,
    key_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 16,
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    cross-micro-batch exact dedup. Only first-seen documents are emitted.

    This is the reference's mutable per-request KV-cache pattern
    (crates/core/src/cache.rs:358-401 — growable state keyed to a scope,
    carried by the runtime) re-expressed as Spark-managed keyed state, with
    the cache's GROWTH discipline honored:

    - the fingerprint itself (md5 of whitespace-canonicalized text) is
      computed JVM-side before the stateful operator — codegen, no Python;
    - state is keyed on (group, fp-shard): ``n_shards`` sub-states per group
      keep each state value small and bound the per-batch rewrite to the
      shards a batch actually touches (same fp → same shard, so dedup stays
      exact);
    - state is an ``array<binary>`` of 16-byte digests appended in arrival
      order — no sort, no string join/split; batches with no new
      fingerprints write NOTHING (see ``_dedup_batch``).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(docs_path).schema

    def dedup_fn(key, pdfs, state: GroupState):
        seen_list = [bytes(b) for b in state.get[0]] if state.exists else []
        group_key = str(key[0])
        all_ids: list[int] = []
        all_fps: list[str] = []
        for pdf in pdfs:
            seen_list_new, out_ids, out_fps = _dedup_batch(
                seen_list, pdf[id_col], pdf["fp"]
            )
            if seen_list_new is not None:
                seen_list = seen_list_new
                state.update((seen_list,))
            all_ids.extend(out_ids)
            all_fps.extend(out_fps)
        yield pd.DataFrame(
            {
                "group_key": [group_key] * len(all_ids),
                id_col: all_ids,
                "fp": all_fps,
            }
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force multi-batch processing
        .parquet(docs_path)
    )
    canon = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    fingered = stream.select(
        F.col(key_col),
        F.col(id_col),
        F.unhex(F.md5(F.encode(canon, "UTF-8"))).alias("fp"),
    ).withColumn("fp_shard", F.pmod(F.xxhash64("fp"), F.lit(n_shards)))
    deduped = (
        fingered.groupBy(F.col(key_col), F.col("fp_shard"))
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=f"group_key string, {id_col} long, fp string",
            stateStructType="seen array<binary>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = f"dedup_result_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


def extraction_stream(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """The extraction pipeline as a stream: new document files appearing
    under `docs_path` are extracted incrementally (exactly-once via the
    streaming checkpoint — the job-level resume story for continuous
    ingestion, complementing operators.checkpoint for batch backfills)."""
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents

    schema = spark.read.parquet(docs_path).schema
    stream = spark.readStream.schema(schema).parquet(docs_path)
    extracted = extract_documents(stream)
    q = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def click_purchase_stream_left_join(
    spark: SparkSession,
    events_path: str,
    work_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    state_partitions: int | None = DEFAULT_STATE_PARTITIONS,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (r7): every purchase
    emits exactly once — matched to the same user's clicks in the
    preceding ``window``, or with a NULL click once the watermark passes
    ``p_ts + window`` and no click can still arrive. The outer side is
    the production shape conversion analytics needs (an inner join
    silently drops click-less purchases).

    Null emission requires the watermark to ADVANCE past each
    purchase's join bound, and each side's event_type filter sits
    before its watermark operator — so the finite-input staging plants
    a SENTINEL PAIR (one click + one purchase, user_id −1, timestamped
    past ``max(ts) + watermark + window``) that advances BOTH sides'
    watermarks in the final micro-batch, flushing every pending null
    exactly like a live stream's steady state. Sentinel rows are
    dropped from the result by their negative user id."""
    import glob
    import shutil
    import time

    landing = os.path.join(work_dir, "landing")
    ckpt = os.path.join(work_dir, "ckpt")
    out_dir = os.path.join(work_dir, "out")
    os.makedirs(landing, exist_ok=True)

    events = spark.read.parquet(events_path)
    schema = events.schema
    if not glob.glob(os.path.join(landing, "*.parquet")):
        src_files = sorted(
            glob.glob(os.path.join(events_path, "*.parquet"))
            if os.path.isdir(events_path)
            else [events_path]
        )
        now = time.time()
        for i, f in enumerate(src_files):
            dst = os.path.join(landing, f"d{i}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now - 100 + i, now - 100 + i))
        max_ts = events.agg(F.max("ts").alias("m")).first().m
        sentinels = spark.createDataFrame(
            [
                (int(-1), max_ts, int(-1), "click", 0.0, ""),
                (int(-2), max_ts, int(-1), "purchase", 0.0, ""),
            ],
            schema,
        ).withColumn(
            "ts",
            F.col("ts")
            + F.expr(f"INTERVAL {watermark}")
            + F.expr(f"INTERVAL {window}")
            + F.expr("INTERVAL 3 HOURS"),
        )
        spath = os.path.join(work_dir, "_sentinel")
        sentinels.coalesce(1).write.mode("overwrite").parquet(spath)
        for f in glob.glob(os.path.join(spath, "*.parquet")):
            dst = os.path.join(landing, "z_sentinel.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now, now))  # strictly after the data files

    def side(event_type: str, alias: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")  # data first, sentinel last
            .parquet(landing)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("event_id").alias(f"{alias}_id"),
                F.col("ts").cast("timestamp").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", watermark)
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND c_ts <= p_ts "
            f"AND c_ts >= p_ts - INTERVAL {window}"
        ),
        "leftOuter",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias(
            "gap_seconds"
        ),
    )
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)
