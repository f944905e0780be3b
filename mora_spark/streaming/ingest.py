"""Streaming ingestion pipelines over the events stream.

Semantics preserved from the reference (SURVEY §3.3):

- micro-batching ≈ WAL group commit (``wal/persist.go:14`` rotates every
  256 writes; here a micro-batch is a file trigger),
- idempotent replay ≈ ``dropDuplicates`` under watermark + checkpoint
  (the WAL flusher applies only committed txs, ``wal/flusher.go:110-128``;
  Structured Streaming's checkpoint + deterministic sink gives the same
  all-or-nothing contract),
- late-data upsert into old partitions ≈ update-mode aggregation whose
  latest emission per key wins (mora merges into years-old pages,
  ``page/page.go:95-142``).

The streaming OHLCV aggregation uses ``min(struct(event_id, value))``
for open/close (struct min orders by event_id first) because those are
incrementally maintainable aggregates — the streaming twin of the batch
``min_by/max_by`` in ``datasets.candles_from_events``.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mora_spark.datasets import load_table

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _write_chunks(
    spark: SparkSession, sf_dir: str, src: str, n_chunks: int
) -> str:
    """One parquet file per event_id range with strictly increasing
    mtimes — the file source processes oldest-first, so the replay order
    is GUARANTEED to follow event_id (which the generator makes monotone
    with ts).

    The split is fully distributed: ``repartitionByRange(event_id)``
    gives ascending disjoint ranges across output files (part-file
    order == range order), so no row ever passes through the driver —
    at fixture scale this is indifferent, but it is the pattern a
    100 TB backfill replay would use. Only the rename/mtime stamping
    (bounded by n_chunks) is driver-side."""
    import glob

    if os.path.exists(src):
        return src
    build = src + ".build"
    shutil.rmtree(build, ignore_errors=True)
    (
        load_table(spark, sf_dir, "events")
        .repartitionByRange(n_chunks, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .parquet(build)
    )
    os.makedirs(src)
    parts = sorted(glob.glob(os.path.join(build, "part-*.parquet")))
    for i, p in enumerate(parts):
        path = os.path.join(src, f"chunk-{i:04d}.parquet")
        os.rename(p, path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    shutil.rmtree(build, ignore_errors=True)
    return src


def chunked_source(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> str:
    """Materialize events as n_chunks parquet files so a file stream
    replays them as real micro-batches (the driver's events table is a
    single file). Chunking is deterministic (event_id ranges)."""
    return _write_chunks(
        spark, sf_dir, os.path.join(out_dir, "source"), n_chunks
    )


def ordered_chunked_source(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> str:
    """Alias of :func:`chunked_source` under a separate directory,
    kept as an explicit name for order-SENSITIVE stateful operators
    (EMA): callers that copy these files elsewhere must preserve
    mtimes (``shutil.copy2``) to keep the replay order."""
    return _write_chunks(
        spark, sf_dir, os.path.join(out_dir, "ordered_source"), n_chunks
    )


@contextmanager
def _state_partitions(spark: SparkSession, n: int):
    """Run a bounded streaming job with ``n`` state-store partitions.

    Shuffle-partition count is baked into a NEW checkpoint as the state
    partitioning; these replay jobs create a fresh checkpoint per run,
    so sizing it to the micro-batch volume (instead of the session-wide
    batch setting) removes per-batch task overhead. Production streams
    should size this to peak key cardinality before first start — it
    cannot change across restarts of the same checkpoint.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _read_stream(spark: SparkSession, src: str) -> DataFrame:
    # 2 files per trigger: still a genuine multi-batch replay (the
    # equivalence being tested), at half the fixed per-batch cost.
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )


def stream_dedup_ingest(
    spark: SparkSession, src: str, work_dir: str
) -> DataFrame:
    """Exactly-once ingest: watermark + dropDuplicatesWithinWatermark
    (event_id) → append sink. Returns the ingested table.

    ``dropDuplicatesWithinWatermark`` ages dedup state out with the
    watermark, so state is bounded by ids-per-horizon instead of ALL ids
    ever seen — the difference between O(window) and O(corpus) state at
    scale. A duplicate arriving later than the watermark horizon would
    slip through; that horizon is exactly the reference's WAL-replay
    window (only uncheckpointed, committed txs replay,
    ``wal/flusher.go:110-128``). For a merge sink (see
    :func:`stream_store_merge`) even horizon-late duplicates collapse.
    """
    out = os.path.join(work_dir, "ingested")
    ckpt = os.path.join(work_dir, "ckpt_ingest")
    stream = (
        _read_stream(spark, src)
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stream_candles(
    spark: SparkSession, src: str, work_dir: str
) -> DataFrame:
    """Streaming OHLCV candle aggregation equal to the batch derivation.

    update-mode per-minute aggregate; every micro-batch emits the
    changed (code, minute) groups with their batch id; the final table
    keeps each key's LAST emission (last-writer-wins on batch id) —
    byte-identical to running the batch aggregation once. The watermark
    is wider than the data span so no state is dropped: mora accepts
    arbitrarily late backfill (SURVEY §2.C/page merge), and so does
    this pipeline; bound it in production to bound state.
    """
    out = os.path.join(work_dir, "candle_updates")
    ckpt = os.path.join(work_dir, "ckpt_candles")

    stream = _read_stream(spark, src).withWatermark("ts", "90 days")
    agg = (
        stream.groupBy(
            F.col("event_type").alias("code"),
            F.window("ts", "60 seconds").alias("win"),
        )
        .agg(
            F.min(F.struct("event_id", "value")).alias("first_ev"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("event_id", "value")).alias("last_ev"),
            F.sum("value").alias("volume"),
            F.count(F.lit(1)).alias("bit_fields"),
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    with _state_partitions(spark, 8):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    updates = spark.read.parquet(out)
    from pyspark.sql import Window

    w = Window.partitionBy("code", "win").orderBy(F.col("batch_id").desc())
    latest = (
        updates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return latest.select(
        F.lit("SYN").alias("market"),
        "code",
        F.lit(60).alias("candle_length"),
        F.col("win.start").alias("ts"),
        F.col("first_ev.value").alias("open"),
        "high",
        "low",
        F.col("last_ev.value").alias("close"),
        "volume",
        "bit_fields",
    )


def stream_store_merge(
    spark: SparkSession,
    src: str,
    work_dir: str,
    store_path: str,
    rollup_lengths: tuple[int, ...] = (),
):
    """Streaming candle aggregation upserted into the persistent
    :class:`~mora_spark.engine.CandleStore` — mora's late-backfill path
    (arriving events merge into already-written pages,
    ``page/page.go:95-142``), here as foreachBatch MERGE.

    Every update-mode emission carries a (code, minute) group's COMPLETE
    aggregate-so-far (streaming state holds the running OHLCV), and the
    store merge is last-writer-wins per key — so the store converges to
    exactly the batch-derived candle table regardless of how events were
    split across micro-batches, including events for minutes whose
    partition was committed many batches ago. Returns the CandleStore.

    ``rollup_lengths`` turns the sink into a streaming continuous
    aggregate: after each micro-batch's merge, ``derive_rollup``
    re-derives ONLY the coarse buckets that batch touched, for each
    listed target length. Both the merge and the bucket recompute are
    idempotent, so checkpoint-replayed batches (exactly-once under
    at-least-once delivery) and late backfill converge to the same
    coarse series a from-scratch resample would produce. Per-batch
    maintenance wall is the sink's ``durationMs["addBatch"]`` in the
    stream's progress events (``tools/scale_probe.py`` prints the curve).
    """
    from mora_spark.engine import CandleStore

    ckpt = os.path.join(work_dir, "ckpt_store_merge")
    store = CandleStore(spark, store_path)

    stream = _read_stream(spark, src).withWatermark("ts", "90 days")
    agg = (
        stream.groupBy(
            F.col("event_type").alias("code"),
            F.window("ts", "60 seconds").alias("win"),
        )
        .agg(
            F.min(F.struct("event_id", "value")).alias("first_ev"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("event_id", "value")).alias("last_ev"),
            F.sum("value").alias("volume"),
            F.count(F.lit(1)).alias("bit_fields"),
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        candles = batch_df.select(
            F.lit("SYN").alias("market"),
            "code",
            F.lit(60).alias("candle_length"),
            F.col("win.start").alias("ts"),
            F.col("first_ev.value").alias("open"),
            "high",
            "low",
            F.col("last_ev.value").alias("close"),
            "volume",
            "bit_fields",
        )
        # The merge alone is TWO actions over the batch (the touched-
        # partition collect inside CandleStore.write, then the staging
        # write), and each rollup length adds its span/bucket collect —
        # uncached, every one re-evaluates the micro-batch projection
        # from the state store. Always persist for the batch's lifetime.
        candles = candles.persist()
        try:
            store.write(candles, mode="merge")
            for length in rollup_lengths:
                store.derive_rollup(candles, length)
        finally:
            candles.unpersist()

    with _state_partitions(spark, 8):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return store


def stream_sessions(
    spark: SparkSession, src: str, work_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Streaming session windows (``F.session_window``): per-user
    activity sessions that close after ``gap`` of silence.

    Session-window aggregation supports complete (not update) output
    mode, and complete is also the robust choice: each micro-batch
    re-emits every session merged so far, so the LAST emission is the
    final merged table even if late events bridged two
    previously-separate sessions. foreachBatch overwrites the sink, so
    no post-pass is needed. Production streams with unbounded keyspace
    would use append mode with a finite watermark (emit sessions as
    they close) instead — complete mode holds all state.

    Session boundary: a new session starts when the inter-event gap is
    >= the gap duration (session windows are end-exclusive).
    """
    out = os.path.join(work_dir, "sessions")
    ckpt = os.path.join(work_dir, "ckpt_sessions")

    stream = _read_stream(spark, src).withWatermark("ts", "90 days")
    agg = stream.groupBy(
        F.session_window("ts", gap).alias("win"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    with _state_partitions(spark, 8):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return spark.read.parquet(out).select(
        "user_id",
        F.col("win.start").alias("session_start"),
        "n_events",
        "sum_value",
    )


def stream_sliding(
    spark: SparkSession,
    src: str,
    work_dir: str,
    window_s: int = 300,
    slide_s: int = 60,
) -> DataFrame:
    """Streaming SLIDING-window aggregation (each event lands in
    window_s/slide_s overlapping windows): per-type rolling activity.
    update mode + last-emission-wins per (type, window start), like
    :func:`stream_candles`."""
    out = os.path.join(work_dir, "sliding_updates")
    ckpt = os.path.join(work_dir, "ckpt_sliding")

    stream = _read_stream(spark, src).withWatermark("ts", "90 days")
    agg = stream.groupBy(
        F.col("event_type"),
        F.window("ts", f"{window_s} seconds", f"{slide_s} seconds").alias(
            "win"
        ),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    with _state_partitions(spark, 8):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    updates = spark.read.parquet(out)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "win.start").orderBy(
        F.col("batch_id").desc()
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_enrich(
    spark: SparkSession, src: str, work_dir: str, dim: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch hash-joins the
    arriving events against a static dimension table.

    The static side is re-resolved per micro-batch (so a Delta dim
    would be re-snapshotted); it is explicitly broadcast — a stream
    should never shuffle its fact side against a dimension. No
    streaming state is held: stream-static inner joins are stateless.
    """
    out = os.path.join(work_dir, "enriched")
    ckpt = os.path.join(work_dir, "ckpt_enrich")
    stream = _read_stream(spark, src)
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    with _state_partitions(spark, 8):
        q = (
            enriched.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stream_stream_join(
    spark: SparkSession,
    src: str,
    work_dir: str,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "240 minutes",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair each ``left_type``
    event with the same user's ``right_type`` events that follow it
    within ``within`` (funnel/attribution shape).

    Both sides carry a watermark and the join condition bounds event
    time on both sides — that is what lets Spark age out join state;
    with the replay-wide watermark used here nothing is dropped, so
    the append-mode output equals the batch self-join. At scale the
    watermark horizon is the knob that trades completeness against
    state size (state ≈ events per horizon per side).
    """
    out = os.path.join(work_dir, "joined")
    ckpt = os.path.join(work_dir, "ckpt_ssjoin")
    left = (
        _read_stream(spark, src)
        .where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user_id"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
            F.col("value").alias("left_value"),
        )
        .withWatermark("left_ts", "90 days")
    )
    right = (
        _read_stream(spark, src)
        .where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("right_ts", "90 days")
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user_id = r_user_id
            AND right_ts >= left_ts
            AND right_ts <= left_ts + INTERVAL {within}
            """
        ),
        "inner",
    )
    with _state_partitions(spark, 8):
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stream_ema(
    spark: SparkSession, src: str, work_dir: str, span: int = 12
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key exponential moving average whose recursion state (the last
    EMA value) carries across micro-batches.

    EMA is the canonical operator Spark's built-in streaming aggregates
    cannot express (y_t = a·x_t + (1-a)·y_{t-1} is order-dependent and
    non-decomposable). Per key and batch: sort arrivals, run the
    vectorized pandas ewm recursion seeded from state (a pseudo-row
    trick keeps the arithmetic identical to one uninterrupted pass),
    emit, store the last value back. Requires an in-order source
    (:func:`ordered_chunked_source`); state is one double per key.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = os.path.join(work_dir, "ema_out")
    ckpt = os.path.join(work_dir, "ckpt_ema")
    alpha = 2.0 / (span + 1.0)

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ema", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_ema", T.DoubleType())])

    def fn(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"])
        vals = rows["value"].astype("float64")
        if state.exists:
            prev = state.get[0]
            seeded = pd.concat([pd.Series([prev]), vals], ignore_index=True)
            ema_vals = (
                seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].values
            )
        else:
            ema_vals = vals.ewm(alpha=alpha, adjust=False).mean().values
        state.update((float(ema_vals[-1]),))
        out_pdf = rows[["event_type", "event_id", "ts", "value"]].copy()
        out_pdf["ema"] = ema_vals
        yield out_pdf

    stream = (
        _read_stream(spark, src)
        .groupBy("event_type")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stream_drawdown(
    spark: SparkSession, src: str, work_dir: str
) -> DataFrame:
    """Second custom stateful operator via ``applyInPandasWithState``
    (the pattern generalizes past EMA): per-key RUNNING PEAK of the
    value stream, carried across micro-batches as one double of state,
    with the per-row drawdown below that peak. A running max is
    order-dependent like the EMA recursion but its state composition
    is pure max — the minimal stateful-operator shape. Requires an
    in-order source (:func:`ordered_chunked_source`); drawdown is the
    absolute gap (not a ratio — stream values may be <= 0 and the
    parity contract must stay NaN-free)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = os.path.join(work_dir, "drawdown_out")
    ckpt = os.path.join(work_dir, "ckpt_drawdown")

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("drawdown", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("peak", T.DoubleType())])

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"])
        vals = rows["value"].astype("float64").to_numpy()
        prev = state.get[0] if state.exists else float("-inf")
        peaks = np.maximum.accumulate(np.maximum(vals, prev))
        state.update((float(peaks[-1]),))
        out_pdf = rows[["event_type", "event_id", "ts", "value"]].copy()
        out_pdf["peak"] = peaks
        out_pdf["drawdown"] = peaks - vals
        yield out_pdf

    stream = (
        _read_stream(spark, src)
        .groupBy("event_type")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stream_store_asof(
    spark: SparkSession,
    src: str,
    work_dir: str,
    store,
    lookback_s: int = 86_400,
) -> DataFrame:
    """Streaming feature lookup: each event micro-batch is AS-OF
    enriched against the persistent :class:`CandleStore` — the
    real-time feature-store pattern (attach the latest stored bar
    at-or-before each event).

    Per batch the store read-back is pruned THREE ways before any file
    opens: the batch's code set (bounded by key cardinality), the
    batch's ts span widened by ``lookback_s`` (the staleness horizon —
    a production knob bounding how far back a feature may be fetched;
    manifest + row-group pruning make the read span-proportional), and
    the market key. Enrichment is the shared :func:`asof_join` plan, so
    batch backfill and live lookup agree by construction. The per-batch
    sink dir + overwrite keeps replays idempotent. Against a STATIC
    store, the union of enriched batches equals one batch-mode as-of
    join — the oracle's statement."""
    import datetime as _dt

    from mora_spark.operators.asof import asof_join

    out = os.path.join(work_dir, "asof_out")
    ckpt = os.path.join(work_dir, "ckpt_store_asof")

    def sink(batch: DataFrame, batch_id: int) -> None:
        trades = batch.select(
            "event_id",
            F.lit("SYN").alias("market"),
            F.col("event_type").alias("code"),
            "ts",
            "value",
        )
        # One action computes the ts span AND the code set together
        # (previously a span collect plus a separate distinct collect —
        # two full batch evaluations per micro-batch, guide §5.4), and
        # the batch is persisted so the as-of join's scan below doesn't
        # re-evaluate it a third time. The code set is bounded by key
        # cardinality, same as the old distinct collect.
        trades = trades.persist()
        try:
            span = trades.agg(
                F.min("ts").alias("lo"),
                F.max("ts").alias("hi"),
                F.collect_set("code").alias("codes"),
            ).collect()[0]
            if span["lo"] is None:
                return
            series = store.read(
                market="SYN",
                start=span["lo"] - _dt.timedelta(seconds=lookback_s),
                end=span["hi"] + _dt.timedelta(seconds=1),
            ).where(F.col("code").isin(sorted(span["codes"])))
            enriched = asof_join(
                trades, series, on=["market", "code"],
                right_cols=["close", "volume"],
            ).select("event_id", "code", "ts", "value", "close_asof",
                     "volume_asof")
            enriched.write.mode("overwrite").parquet(
                os.path.join(out, f"batch_id={batch_id}")
            )
        finally:
            trades.unpersist()

    with _state_partitions(spark, 8):
        q = (
            _read_stream(spark, src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_id", "code", "ts", "value", "close_asof", "volume_asof"
    )
