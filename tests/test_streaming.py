"""Structured Streaming: rollup parity with batch, session windows,
foreachBatch sink bridge."""

from __future__ import annotations

from pyspark.sql import functions as F

from megalista_spark.operators.sessions import tumbling_rollup
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import MockTransport
from megalista_spark.streaming.events import (
    read_events_stream,
    stream_session_window_stats,
    stream_sink_foreach_batch,
    stream_tumbling_rollup,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _batch_events(spark):
    # mirror read_events_stream's encoding normalization (the driver's
    # events fixture has shipped ts as INT64 nanos, no-tz micros, and
    # tz-adjusted micros across rounds)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    e = spark.read.parquet(EVENTS)
    ts_type = dict(e.dtypes).get("ts")
    if ts_type == "bigint":
        e = e.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def test_stream_rollup_matches_batch(spark, tmp_path):
    stream = read_events_stream(spark, EVENTS)
    agg = stream_tumbling_rollup(stream, minutes=60)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_rollup(_batch_events(spark), minutes=60).collect()
    }
    assert got == expected


def test_stream_session_windows(spark, tmp_path):
    stream = read_events_stream(spark, EVENTS)
    sess = stream_session_window_stats(stream, gap_minutes=30)
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # session windows never overlap per user and end >= start + observed span
    for r in rows:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_foreach_batch_sink_bridge(spark, tmp_path):
    stream = read_events_stream(spark, EVENTS).select(
        F.col("event_id").cast("string").alias("uuid"), "event_type", "value"
    )
    batches: list[tuple[int, int, int]] = []
    q = stream_sink_foreach_batch(
        stream,
        sink_factory=lambda: SinkExecutor(MockTransport(), batch_size=500),
        checkpoint_dir=str(tmp_path / "ckpt3"),
        on_batch=lambda epoch, ok, errs: batches.append((epoch, ok, errs)),
    )
    q.awaitTermination(120)
    assert sum(ok for _, ok, _ in batches) == 1000  # sf0.001 events rows
    assert all(errs == 0 for _, _, errs in batches)


def test_foreach_batch_sink_releases_cache_each_epoch(spark, tmp_path):
    """Two micro-batches: each epoch's upload reports its counts and frees
    its cached rows, so no RDD is persisted afterwards that was not before
    (RDDs of earlier tests may be unpersisted meanwhile)."""
    src = tmp_path / "src"
    for part in range(2):
        spark.createDataFrame(
            [(f"e{part}-{i}",) for i in range(10)], ["uuid"]
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema("uuid string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    batches: list[tuple[int, int, int]] = []
    q = stream_sink_foreach_batch(
        stream,
        sink_factory=lambda: SinkExecutor(MockTransport(), batch_size=4),
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda epoch, ok, errs: batches.append((epoch, ok, errs)),
    )
    q.awaitTermination(120)
    assert batches == [(0, 10, 0), (1, 10, 0)]
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= persisted


def test_stateful_running_stats(spark, tmp_path):
    from megalista_spark.streaming.events import stream_user_running_stats

    stream = read_events_stream(spark, EVENTS).select("user_id", "value")
    out = stream_user_running_stats(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("ustats")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user must equal the batch aggregate
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT * FROM ustats"
        ).collect()  # availableNow on a static dir → one batch → one row per user
    }
    exp = {
        r["user_id"]: (r["n"], r["tv"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("tv"))
        .collect()
    }
    assert got == exp


def test_stream_dedup_within_watermark(spark, tmp_path):
    from megalista_spark.streaming.events import stream_dedup_events

    # duplicate the stream source (union with itself) — dedup must collapse
    # the copies back to the batch-distinct count
    stream = read_events_stream(spark, EVENTS)
    doubled = stream.union(stream)
    deduped = stream_dedup_events(doubled, keys=["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = spark.table("_dedup_stream").count()
    expected = _batch_events(spark).select("event_id").distinct().count()
    assert got == expected


def test_stream_left_outer_join_emits_unmatched_at_watermark(spark, tmp_path):
    # state-timeout contract: an unmatched purchase emits its null row
    # once the watermark passes p_ts; a purchase still inside the
    # watermark horizon stays buffered and emits NOTHING
    from megalista_spark.streaming.events import stream_attribution_left_join

    base = 1_700_000_000  # epoch seconds
    rows = [
        # (event_id, ts_nanos, user_id, event_type, value, props)
        (1, (base + 1000) * 10**9, 1, "click", 1.0, "{}"),
        (2, (base + 1100) * 10**9, 1, "purchase", 9.0, "{}"),  # matches click 1
        (3, (base + 5000) * 10**9, 2, "purchase", 5.0, "{}"),  # unmatched, OLD
        (4, (base + 9900) * 10**9, 3, "purchase", 7.0, "{}"),  # unmatched, RECENT
        (5, (base + 10000) * 10**9, 9, "click", 1.0, "{}"),
    ]
    src = tmp_path / "events_src"
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.parquet(str(src))

    def side(tcol, etype):
        return (
            read_events_stream(spark, str(src))
            .where(F.col("event_type") == etype)
            .select(F.col("event_id").alias(f"{etype}_id"), F.col("ts").alias(tcol))
        )

    joined = stream_attribution_left_join(
        side("c_ts", "click"), side("p_ts", "purchase"),
        window_seconds=300, watermark="1 hour",
    )
    q = (
        joined.select("purchase_id", "click_id")
        .writeStream.format("memory")
        .queryName("outer_join_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM outer_join_out").collect()
    }
    # watermark = min(max c_ts, max p_ts) - 1h = base+6300:
    # purchase 2 matched, purchase 3 expired→null row, purchase 4 buffered
    assert got == {(2, 1), (3, None)}


def test_stream_attribution_join_matches_batch(spark, tmp_path):
    from megalista_spark.streaming.events import stream_attribution_join

    def side(tcol, etype):
        return read_events_stream(spark, EVENTS).where(
            F.col("event_type") == etype
        ).select(F.col("event_id").alias(f"{tcol[0]}_id"), F.col("ts").alias(tcol))

    joined = stream_attribution_join(
        side("c_ts", "click"), side("p_ts", "purchase"), window_seconds=300
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("_attrib_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = spark.table("_attrib_stream").count()

    b = _batch_events(spark)
    bp = b.where(F.col("event_type") == "purchase").select(F.col("ts").alias("p_ts"))
    bc = b.where(F.col("event_type") == "click").select(F.col("ts").alias("c_ts"))
    expected = bp.join(
        bc, F.expr("c_ts >= p_ts - interval 5 minutes AND c_ts <= p_ts")
    ).count()
    assert got == expected and expected > 0


def test_foreach_batch_cdc_merge_composition(spark, tmp_path):
    # streaming micro-batches applied as CDC merges: a change stream
    # folded into a base snapshot via foreachBatch + merge_upsert —
    # upserts land, deletes drop, the final state equals the batch merge
    from pyspark.sql import functions as SF

    from megalista_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "v", "amt"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21, 100, "U"),
            (3, None, None, 101, "D"),
            (4, "d", 40, 102, "U"),
            (2, "b3", 22, 103, "U"),  # later change to same key wins
        ],
        ["k", "v", "amt", "seq", "op"],
    )
    src = str(tmp_path / "changes")
    changes.write.parquet(src)
    stream = spark.readStream.schema(changes.schema).parquet(src)

    state = {"result": None}

    def apply_batch(batch_df, epoch_id):
        state["result"] = merge_upsert(
            base, batch_df, keys=["k"], order_cols=["seq"], update_cols=["v", "amt"]
        ).collect()

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["k"]: (r["v"], r["amt"]) for r in state["result"]}
    assert out == {1: ("a", 10), 2: ("b3", 22), 4: ("d", 40)}  # 3 deleted


def test_stream_attribution_join_recovers_from_checkpoint(spark, tmp_path):
    # state recovery / exactly-once: run the join, "kill" it (the query
    # terminates after draining the files present), append new source
    # files, restart from the SAME checkpoint. Run 2 must (a) not re-emit
    # run-1 pairs (file-sink metadata + committed offsets) and (b) join
    # run-2 purchases against run-1 clicks RESTORED FROM JOIN STATE.
    from datetime import datetime, timedelta

    from megalista_spark.streaming.events import stream_attribution_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt_recover")
    c_schema = "click_id long, c_ts timestamp"
    p_schema = "purchase_id long, p_ts timestamp"

    def write(rows, schema, path):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    def sec(s):
        return t0 + timedelta(seconds=s)

    # run 1 inputs: clicks at +0/+60/+120, one purchase at +90
    write([(0, sec(0)), (60, sec(60)), (120, sec(120))], c_schema, c_dir)
    write([(10, sec(90))], p_schema, p_dir)

    def run():
        cs = spark.readStream.schema(c_schema).parquet(c_dir)
        ps = spark.readStream.schema(p_schema).parquet(p_dir)
        j = stream_attribution_join(cs, ps, window_seconds=300)
        q = (
            j.select("purchase_id", "click_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # processes run-1 files, then the query dies

    # run 2 inputs: purchase at +200 must attribute to the RUN-1 clicks
    # (only reachable through checkpointed join state); purchase at +420
    # spans both runs' clicks
    write([(400, sec(400))], c_schema, c_dir)
    write([(11, sec(200)), (12, sec(420))], p_schema, p_dir)
    run()  # restart from the same checkpoint

    rows = spark.read.parquet(out).collect()
    got = {(r.purchase_id, r.click_id) for r in rows}
    assert len(rows) == len(got)  # exactly-once: no duplicated pair
    assert got == {
        (10, 0), (10, 60),                # run 1 (window: [p_ts-300, p_ts])
        (11, 0), (11, 60), (11, 120),     # run-1 clicks from restored state
        (12, 120), (12, 400),             # cross-run + run-2 click
    }


def test_stream_transactional_dedup_drops_uploaded_keys(spark, tmp_path):
    # the uploaded-keys anti-join (the reference's core transactional
    # semantic) applied mid-stream: keys present in the static control
    # table never reach the sink; appending to the control table between
    # runs takes effect on the next micro-batch (static side re-resolved)
    from megalista_spark.streaming.events import stream_transactional_dedup

    src = tmp_path / "ev"
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "event_id long, value double"
    ).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("event_id long, value double").parquet(str(src))
    uploaded = spark.createDataFrame([(i,) for i in range(0, 20, 2)], ["event_id"])
    kept = stream_transactional_dedup(stream, uploaded, key="event_id")
    q = (
        kept.writeStream.format("memory")
        .queryName("_txn_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_txn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.table("_txn_dedup_stream").collect())
    assert got == list(range(1, 20, 2))  # odd ids only


def test_stream_rollup_drops_late_data_in_append_mode(spark, tmp_path):
    # watermark contract: in APPEND mode a window only emits once the
    # watermark passes its end; events arriving in a later batch that are
    # older than the advanced watermark never count. Two-batch replay:
    # batch 2 carries a straggler 10 hours older than batch-2's max ts —
    # far beyond the 1h watermark — plus fresh rows that advance time.
    from datetime import datetime, timedelta

    from megalista_spark.streaming.events import stream_tumbling_rollup

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    src = tmp_path / "late_ev"
    schema = "event_id long, ts timestamp, event_type string, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    out = tmp_path / "late_out"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = stream_tumbling_rollup(stream, minutes=60, watermark="1 hour")
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two events in hour 0, one at hour 12 (advances watermark to 11:00)
    write([
        (1, t0 + timedelta(minutes=10), "click", 1.0),
        (2, t0 + timedelta(minutes=20), "click", 2.0),
        (3, t0 + timedelta(hours=12), "click", 4.0),
    ])
    run()
    # batch 2: a straggler back in hour 0 (behind the 11:00 watermark —
    # its window is closed and already emitted; must NOT be re-counted)
    # and a fresh event that keeps the stream moving
    write([
        (4, t0 + timedelta(minutes=30), "click", 100.0),
        (5, t0 + timedelta(hours=13), "click", 8.0),
    ])
    run()

    got = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got[t0] == (2, 3.0)  # hour-0 window: only the on-time events
    assert 100.0 not in {v for _, v in got.values()}


def test_stream_silence_monitor_times_out_quiet_users(spark, tmp_path):
    # EventTimeTimeout semantics: a user quiet for gap_seconds of EVENT
    # time is emitted exactly once with their final state, then dropped.
    # Three availableNow runs over one checkpoint: run 2 advances the
    # watermark past A's gap; run 3's timeout sweep (which uses the
    # watermark committed at the END of run 2) fires A. B stays live.
    from datetime import datetime, timedelta

    from megalista_spark.streaming.events import stream_silence_monitor

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "user_id long, ts timestamp"

    def sec(s):
        return t0 + timedelta(seconds=s)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run():
        ev = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_silence_monitor(ev, gap_seconds=300, watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write([(1, sec(0)), (1, sec(30)), (1, sec(60)), (2, sec(0))])
    run()  # watermark -> 60; A armed for 360, B for 300
    write([(2, sec(1000))])
    run()  # sweep at wm=60: nothing; then watermark -> 1000, B re-armed 1300
    write([(2, sec(1100))])
    run()  # sweep at wm=1000: A (360) fires, B (1300) does not

    rows = spark.read.parquet(out).collect()
    assert [(r.user_id, r.last_seen_sec, r.n_events) for r in rows] == [
        (1, int(sec(60).replace(tzinfo=__import__("datetime").timezone.utc).timestamp()), 3)
    ]


def test_stateful_running_stats_accumulates_across_batches(spark, tmp_path):
    # two availableNow runs over one checkpoint: run 2 must RESTORE each
    # user's (n, total) and add to it — the state.exists branch the
    # single-batch test never reaches (and where a get-as-method bug hid)
    from megalista_spark.streaming.events import stream_user_running_stats

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    schema = "user_id long, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_user_running_stats(stream, output_mode="append")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write([(1, 10.0), (1, 5.0), (2, 1.0)])
    run()
    write([(1, 2.5), (3, 7.0)])
    run()

    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    # run 1 snapshots + run 2 snapshots of the touched groups, the
    # latter carrying state RESTORED from the checkpoint
    assert got == {(1, 2, 15.0), (2, 1, 1.0), (1, 3, 17.5), (3, 1, 7.0)}


def test_stream_cms_maintenance_equals_batch_and_skips_replay(spark, tmp_path):
    """Maintained counters == from-scratch sketch of everything ingested
    (CM linearity), and a replayed epoch never double-merges."""
    import shutil

    from megalista_spark.operators.sketches import cms_build
    from megalista_spark.streaming.events import stream_cms_maintenance

    src = str(tmp_path / "src")
    rows = [(i, "u%d" % (i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, ["event_id", "user"])
    # two files -> with maxFilesPerTrigger=1, two distinct micro-batches
    df.where(F.col("event_id") < 100).coalesce(1).write.parquet(src + "/a.parquet")
    df.where(F.col("event_id") >= 100).coalesce(1).write.parquet(src + "/b.parquet")

    stream = (
        spark.readStream.schema("event_id long, user string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "ckpt_cms")
    q = stream_cms_maintenance(stream, "user", state, ckpt)
    q.awaitTermination(120)

    expected = {
        (r["r"], r["bkt"]): r["c"]
        for r in cms_build(spark.read.parquet(src + "/*"), "user").collect()
    }
    got = {
        (r["r"], r["bkt"]): r["c"] for r in spark.read.parquet(state).collect()
    }
    assert got == expected
    n_batches = spark.read.parquet(state).select("batch_id").first()

    # simulate a replay-after-crash: drop the checkpoint so epochs restart
    # at 0 over the SAME files — every epoch is <= the applied watermark
    # and must be skipped, leaving the counters bit-identical
    shutil.rmtree(ckpt)
    stream2 = (
        spark.readStream.schema("event_id long, user string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = stream_cms_maintenance(stream2, "user", state, ckpt)
    q2.awaitTermination(120)
    got2 = {
        (r["r"], r["bkt"]): r["c"] for r in spark.read.parquet(state).collect()
    }
    assert got2 == expected


def test_stream_bitmap_maintenance_equals_batch(spark, tmp_path):
    """Maintained bitmap == from-scratch bitmap of everything ingested;
    idempotent OR means even a forced re-merge cannot change it."""
    from megalista_spark.operators.bitmaps import bitmap_build
    from megalista_spark.streaming.events import stream_bitmap_maintenance

    src = str(tmp_path / "bsrc")
    rows = [(i, i % 97) for i in range(300)]
    df = spark.createDataFrame(rows, ["event_id", "user"])
    df.where(F.col("event_id") < 150).coalesce(1).write.parquet(src + "/a.parquet")
    df.where(F.col("event_id") >= 150).coalesce(1).write.parquet(src + "/b.parquet")

    stream = (
        spark.readStream.schema("event_id long, user long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    state = str(tmp_path / "bm_state")
    q = stream_bitmap_maintenance(stream, "user", state, str(tmp_path / "bm_ckpt"))
    q.awaitTermination(120)

    expected = {
        (r["word"], r["bits"])
        for r in bitmap_build(spark.read.parquet(src + "/*"), "user").collect()
    }
    got = {
        (r["word"], r["bits"]) for r in
        spark.read.parquet(state).select("word", "bits").collect()
    }
    assert got == expected
