"""Structured Streaming operators — the streaming twins of the batch
event operators (megalista_spark/operators/sessions.py).

The reference is strictly bounded batch (SURVEY §2.8: no watermarks, no
event-time windows anywhere) — this module is the greenfield extension the
rebuild adds: the same rollup/sessionization semantics under
``readStream``, with watermarked late-data handling, plus a foreachBatch
bridge that uploads each micro-batch with the batch SinkExecutor. The
checkpoint keeps source offsets only: a micro-batch replayed after a
failure is uploaded again, and nothing records or drops its keys, so
delivery is at-least-once (see ``stream_sink_foreach_batch``).

At scale: file sources are for replay/testing; swap ``readStream.format``
for kafka without touching the transformations. State store size is
bounded by the watermark horizon.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.zip_imports import install_stamped_zipimporter


def _exact_value_sum(value_col: str):
    """Engine-portable money sum: the value column carries 2-decimal
    amounts, so summing exact integer cents (bigint, order-independent)
    and dividing once avoids float accumulation-order drift — Spark's
    partial-agg tree and an external oracle otherwise disagree in the
    last ulp once a group holds ~10^5 rows (seen at sf1)."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    return F.round(F.sum(cents) / 100.0, 6)

def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based event stream (testing/replay); ts normalized to a real
    timestamp column.

    File streams require an explicit schema, but the on-disk encoding of
    ``ts`` varies by producer (INT64 TIMESTAMP(NANOS) read as long under
    nanosAsLong, no-tz TIMESTAMP(MICROS), or tz-adjusted micros) — so take
    the schema from a one-file batch read of the same path (footer-only,
    no data scan) and normalize whatever arrives to TimestampType."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    import os

    if os.path.isfile(path):
        # streaming file sources require a directory; point at the parent
        # and glob-filter down to the one file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-as-long
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":  # value-preserving under UTC session tz
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_tumbling_rollup(
    events: DataFrame,
    minutes: int = 60,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window rollup — same output schema as the batch
    ``tumbling_rollup`` so results are comparable query-for-query.

    Grouping is on the WINDOW column itself (start projected after the
    agg): grouping on ``window.start`` strips the event-time attribute
    and Spark then refuses APPEND mode ("aggregation without watermark"),
    which would confine the operator to complete/update — fine for tests,
    broken for production append sinks."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), f"{minutes} minutes").alias("_w"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_value_sum(value_col).alias("total_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def stream_hopping_rollup(
    events: DataFrame,
    window_minutes: int = 60,
    slide_minutes: int = 30,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked hopping-window rollup — streaming twin of the batch
    ``hopping_rollup``; state holds window/slide open windows per key,
    all bounded by the watermark horizon. Groups on the window column
    (not window.start) so append mode stays supported — see
    ``stream_tumbling_rollup``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(
                F.col(ts_col), f"{window_minutes} minutes", f"{slide_minutes} minutes"
            ).alias("_w"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_value_sum(value_col).alias("total_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def stream_session_window_stats(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Native session windows (gap-based) — the streaming counterpart of
    the batch lag+cumsum sessionization."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), f"{gap_minutes} minutes"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_value_sum(value_col).alias("total_value"),
        )
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_sink_foreach_batch(
    transformed: DataFrame,
    sink_factory: Callable[[], SinkExecutor],
    checkpoint_dir: str,
    on_batch: Callable[[int, int, int], None] | None = None,
):
    """Drive the batch SinkExecutor from a stream: each micro-batch is
    uploaded with the same chunk/retry/partial-failure semantics. Replays
    are NOT idempotent: ``epoch_id`` is not used to skip committed epochs,
    so an epoch replayed after a failure is sent again (ROADMAP,
    "Exactly-once under failure").

    Returns the started StreamingQuery.
    """

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        result = sink_factory().run(batch_df)
        result.release()
        if on_batch is not None:
            on_batch(epoch_id, result.accepted, len(result.error_messages))

    return (
        transformed.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_enrich_dimension(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-STATIC dimension enrichment — the third join family next to
    stream-stream (``stream_attribution_join``) and batch joins: the
    static side is a plain batch DataFrame that Spark re-resolves every
    micro-batch, so a slowly-changing dimension picks up updates between
    batches with NO join state at all (nothing is buffered, nothing is
    watermarked — the stream side passes through map-side).

    The dimension is broadcast: at 100 TB-of-stream scale the events
    never shuffle for this join; a dimension too big to broadcast would
    flip to a shuffled stream-static join, at which point pre-bucketing
    the dimension on the key (operators/bucketed.py) restores map-side
    behavior. ``how`` follows Spark's stream-static support matrix
    (inner and left_outer with the stream on the left)."""
    return events.join(F.broadcast(dim), events[stream_key] == dim[dim_key], how)


def stream_transactional_dedup(
    events: DataFrame,
    uploaded: DataFrame,
    key: str = "event_id",
    uploaded_key: str | None = None,
) -> DataFrame:
    """The reference's transactional anti-join dedup (uploaded-keys
    control table, sources/data_source.py) applied to a STREAM: rows
    whose key already exists in the static control table are dropped
    before the sink. Stream-static LEFT ANTI is stateless on the stream
    side — Spark re-resolves the static table each micro-batch, so a
    control table appended to between batches takes effect immediately;
    combine with ``stream_dedup_events`` (watermarked within-stream
    dedup) for redeliveries inside the same run.

    At 100 TB-of-stream: the control side holds ~15 days of keys and
    broadcasts (the batch path's own contract); the stream never
    shuffles for this join."""
    ukey = uploaded_key or key
    u = uploaded.select(F.col(ukey).alias("__u_key")).distinct()
    return events.join(
        F.broadcast(u), events[key] == F.col("__u_key"), "left_anti"
    )


def stream_dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch anti-join
    dedup (and of ``operators/dedup.py::exact_dedup``):
    ``dropDuplicatesWithinWatermark`` keeps first-seen rows per key and
    lets the watermark bound the dedup state (an unbounded
    ``dropDuplicates`` would grow state forever — the thing that kills
    long-running streams). At-least-once upstreams (Kafka redeliveries)
    become effectively-once downstream."""
    if keys is None:
        keys = ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 300,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of the batch
    binned range join (operators/rangejoin.py): every purchase joined to
    the clicks inside its trailing attribution window.

    Spark REFUSES stream-stream joins without an equality predicate (it
    needs a key to partition join state). The bin trick from the batch
    operator provides exactly that: the purchase side explodes to the
    time bins its window covers, the click side computes its single bin,
    and the join is equi-on-bin plus the exact range filter. Watermarks
    on both sides plus the bounded event-time condition let Spark expire
    join state (no unbounded buffering — the stream-stream-join failure
    mode). Inputs must expose ``c_ts`` / ``p_ts`` timestamp columns."""
    c = (
        clicks.withWatermark("c_ts", watermark)
        .withColumn(
            "_bin", (F.unix_timestamp(F.col("c_ts")) / window_seconds).cast("bigint")
        )
    )
    p = (
        purchases.withWatermark("p_ts", watermark)
        .withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    (
                        (F.unix_timestamp(F.col("p_ts")) - window_seconds)
                        / window_seconds
                    ).cast("bigint"),
                    (F.unix_timestamp(F.col("p_ts")) / window_seconds).cast("bigint"),
                )
            ),
        )
    )
    return p.join(
        c,
        (p["_bin"] == c["_bin"])
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"interval {window_seconds} seconds"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).drop("_bin")


def stream_attribution_left_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 300,
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every purchase, with its
    attributable clicks, or one all-null click row once the watermark
    proves no click can still arrive.

    The bin explode sits on the CLICK side here (each click covers the
    bins of purchases it could serve, ``[bin(c_ts), bin(c_ts+window)]``),
    while a purchase keeps its single bin — that inversion is what makes
    outer semantics correct: an exploded left side would emit a spurious
    null row for every bin copy that found no match even when another
    copy matched. With the left side un-exploded, each (purchase, click)
    pair meets exactly once and an unmatched purchase is exactly one
    state row.

    State-timeout semantics (this is the "state expiry" contract): a
    purchase is held in join state until the global watermark passes
    ``p_ts`` — the join condition ``c_ts <= p_ts`` means any still-future
    click can no longer match it — at which point Spark evicts it and
    emits the null row. Purchases younger than the final watermark stay
    buffered (correct: a real deployment might still see their clicks),
    so an ``availableNow`` replay emits null rows only for purchases
    older than ``min(max c_ts, max p_ts) - watermark``.
    """
    c = (
        clicks.withWatermark("c_ts", watermark)
        .withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    (F.unix_timestamp(F.col("c_ts")) / window_seconds).cast("bigint"),
                    (
                        (F.unix_timestamp(F.col("c_ts")) + window_seconds)
                        / window_seconds
                    ).cast("bigint"),
                )
            ),
        )
    )
    p = (
        purchases.withWatermark("p_ts", watermark)
        .withColumn(
            "_bin", (F.unix_timestamp(F.col("p_ts")) / window_seconds).cast("bigint")
        )
    )
    return p.join(
        c,
        (p["_bin"] == c["_bin"])
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"interval {window_seconds} seconds"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).drop("_bin")


USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def stream_user_running_stats(
    events: DataFrame, output_mode: str = "update"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, total_value) across micro-batches — the
    arbitrary-state escape hatch for semantics windows can't express
    (reference has nothing like it; this is the Spark-first extension
    point for custom accumulators at scale: state is partitioned by the
    group key across executors and checkpointed). ``output_mode``
    "update" suits memory/foreachBatch sinks; "append" lets the emitted
    per-batch snapshots flow to file sinks (each batch appends the
    touched groups' running values)."""

    def update(key, pdfs, state):
        install_stamped_zipimporter()
        import pandas as pd

        # NB: GroupState.get is a PROPERTY (calling it would invoke the
        # state tuple); getOption is its None-safe twin
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf="NoTimeout",
    )


SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("last_seen_sec", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_SILENCE_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("last_sec", T.LongType()),
    ]
)


def stream_silence_monitor(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Heartbeat/silence detection — the EventTimeTimeout face of
    arbitrary state: a key that stops producing events for
    ``gap_seconds`` of EVENT TIME (watermark clock, not wall clock) is
    emitted exactly once as (user_id, last_seen_sec, n_events) and its
    state dropped. The complement of session windows: those emit when
    activity ENDS INSIDE the data; this fires on ABSENCE — a sensor
    going dark, an SLA heartbeat missed — which no windowed aggregation
    can express (there is no row to aggregate).

    Mechanics: per batch, a group's kernel runs either with new rows
    (update last-seen, re-arm the timeout at last+gap — clamped one
    tick above the current watermark, since Spark rejects timeouts at
    or below it) or with ``state.hasTimedOut`` after the watermark
    passes the armed timestamp (emit + remove). State is
    (count, last_sec) per live key, partitioned across executors and
    checkpointed; dead keys leave the store, so state size tracks
    ACTIVE keys only — the property that keeps a 100 TB keyspace's
    monitor bounded.
    """

    def update(key, pdfs, state):
        install_stamped_zipimporter()
        import pandas as pd

        if state.hasTimedOut:
            n, last = state.get  # property, not a method
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "last_seen_sec": [last], "n_events": [n]}
            )
            return
        n, last = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                last = max(
                    last, int(pdf[ts_col].astype("int64").max() // 1_000_000_000)
                )
        state.update((n, last))
        state.setTimeoutTimestamp(
            max((last + gap_seconds) * 1000, state.getCurrentWatermarkMs() + 1)
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=SILENCE_SCHEMA,
            stateStructType=_SILENCE_STATE,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stream_cms_maintenance(
    events: DataFrame,
    col: str,
    state_path: str,
    checkpoint_dir: str,
    d: int | None = None,
    w: int | None = None,
):
    """Streaming count-min accumulator: each micro-batch's sketch merges
    counter-wise into a persisted (r, bkt, c) parquet table — the
    incremental twin of ``operators/sketches.py::cms_merge``, so the
    maintained table ALWAYS equals the from-scratch sketch of everything
    ingested (CM linearity), and any point-frequency/heavy-hitter/join-
    size estimate reads 4k rows instead of rescanning history.

    Exactly-once under replay: foreachBatch can re-deliver a batch after
    a crash, and a double-merged sketch would silently over-count — so
    the state table carries the last applied batch id in a sidecar
    column and the handler SKIPS any epoch ≤ it (idempotent-foreachBatch
    pattern; legal because microbatch epochs are monotone WITHIN a
    checkpoint generation). The merged result is materialized
    (localCheckpoint) BEFORE the overwrite so the read-then-overwrite of
    the same path can't truncate its own input.

    OPERATIONAL CONTRACT: the checkpoint dir and the state table live
    and die TOGETHER. The epoch watermark is only meaningful under the
    checkpoint that produced it — losing the checkpoint but keeping the
    state restarts epochs at 0, so genuinely NEW data arriving after
    that loss lands in epochs ≤ the stored watermark and is skipped
    (replaying only the original inputs is safe, which is what the
    recovery test exercises). On checkpoint loss with new data pending:
    delete the state table too and rebuild from the source — the same
    rule Spark's own foreachBatch idempotence guidance implies.

    Returns the started StreamingQuery.
    """
    from pyspark.sql.utils import AnalysisException

    from megalista_spark.operators.sketches import CM_D, CM_W, cms_build, cms_merge

    d_ = d if d is not None else CM_D
    w_ = w if w is not None else CM_W

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(state_path)
            applied = existing.agg(F.max("batch_id")).collect()[0][0]
            if applied is not None and epoch_id <= applied:
                return
            prior = existing.select("r", "bkt", "c")
        except AnalysisException:
            prior = None
        delta = cms_build(batch_df, col, d_, w_)
        merged = cms_merge(prior, delta) if prior is not None else delta
        out = merged.select(
            "r", "bkt", "c", F.lit(epoch_id).cast("bigint").alias("batch_id")
        ).localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(state_path)

    return (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_bitmap_maintenance(
    events: DataFrame,
    id_col: str,
    state_path: str,
    checkpoint_dir: str,
):
    """Streaming audience-bitmap accumulator: each micro-batch's
    membership words OR-merge into a persisted (word, bits) parquet
    table (operators/bitmaps.py) — the bitmap twin of
    ``stream_cms_maintenance``, maintaining an EXACT distinct-member
    set that any overlap/cardinality query reads in sketch-sized rows.
    bit_or is idempotent, so unlike the CMS counters a replayed batch
    cannot corrupt the state — the batch-id watermark here only saves
    the wasted work; the same checkpoint-and-state live-together
    contract applies for completeness of NEW data (see
    stream_cms_maintenance).

    Returns the started StreamingQuery.
    """
    from pyspark.sql.utils import AnalysisException

    from megalista_spark.operators.bitmaps import bitmap_build

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(state_path)
            applied = existing.agg(F.max("batch_id")).collect()[0][0]
            if applied is not None and epoch_id <= applied:
                return
            prior = existing.select("word", "bits")
        except AnalysisException:
            prior = None
        delta = bitmap_build(batch_df, id_col)
        merged = (
            prior.unionByName(delta) if prior is not None else delta
        ).groupBy("word").agg(F.bit_or("bits").alias("bits"))
        out = merged.select(
            "word", "bits", F.lit(epoch_id).cast("bigint").alias("batch_id")
        ).localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(state_path)

    return (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
