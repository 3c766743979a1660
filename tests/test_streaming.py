"""Streaming execution path: file-source streams driven to completion via
the memory sink (availableNow), checked against the batch twins that are
themselves oracle-verified in test_queries_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_query_engine_spark.queries.streaming_q import (
    events_hourly_counts,
    events_sessionization,
)
from csv_query_engine_spark.streaming import (
    ensure_event_time,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    stream_dedup,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


def test_stream_windowed_counts_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour")
    out = run_stream_to_memory(agg, "win_counts", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): r["count"]
        for r in out.collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["count"]
        for r in events_hourly_counts(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_stream_sessionization_append_subset_of_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    sess = sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
    out = run_stream_to_memory(sess, "sessions", output_mode="append").collect()
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in events_sessionization(spark, SF_SMOKE).collect()
    }
    # Append mode emits only watermark-closed sessions -> subset of batch,
    # but the one-shot file source closes almost everything.
    assert len(out) > 0
    for r in out:
        assert batch.get((r["user_id"], r["session_start"])) == r["n_events"]
    assert len(out) >= 0.8 * len(batch)


def test_stream_dedup_within_watermark(spark, tmp_path):
    # Duplicate the events rows into a two-file stream -> every event_id
    # arrives twice; dropDuplicatesWithinWatermark must emit each once.
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(200)
    d = str(tmp_path / "dup_events")
    src.write.mode("overwrite").parquet(d)
    src.write.mode("append").parquet(d)

    stream = ensure_event_time(spark.readStream.schema(src.schema).parquet(d))
    deduped = stream_dedup(stream, watermark="1 hour")
    out = run_stream_to_memory(deduped, "dedup_events", output_mode="append")
    n = out.count()
    n_distinct = out.select("event_id").distinct().count()
    assert n == n_distinct == 200


def test_stateful_running_totals_across_batches(spark, tmp_path):
    from csv_query_engine_spark.streaming import running_user_totals

    # Two files -> with maxFilesPerTrigger=1 the state must carry the
    # first batch's totals into the second.
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(300)
    half_a = src.filter(F.col("event_id") % 2 == 0)
    half_b = src.filter(F.col("event_id") % 2 == 1)
    d = str(tmp_path / "staged_events")
    half_a.coalesce(1).write.mode("overwrite").parquet(d)
    half_b.coalesce(1).write.mode("append").parquet(d)

    stream = ensure_event_time(
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    out = run_stream_to_memory(running_user_totals(stream), "running_totals", output_mode="update")

    # The memory sink accumulates every update; the LAST row per user is
    # the final running total and must equal the batch aggregate.
    rows = out.collect()
    final = {}
    for r in rows:  # memory sink preserves batch order
        final[r["user_id"]] = r
    batch = {
        r["user_id"]: (r["n"], r["tot"])
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, r in final.items():
        assert r["n_events"] == batch[uid][0]
        assert abs(r["total_value"] - (batch[uid][1] or 0.0)) < 1e-9
    # at least one user must have been updated in two separate batches
    assert any(r["n_batches"] == 2 for r in final.values())


def test_stream_static_dim_enrichment(spark):
    from csv_query_engine_spark.streaming import enrich_with_dim

    stream = read_events_stream(spark, SF_SMOKE)
    users = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    enriched = enrich_with_dim(stream, users, "user_id")
    out = run_stream_to_memory(
        enriched.groupBy("segment").count(), "seg_counts", output_mode="complete"
    )
    got = {r["segment"]: r["count"] for r in out.collect()}
    batch_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    expected = {
        r["segment"]: r["count"]
        for r in batch_events.join(F.broadcast(users), "user_id", "left")
        .groupBy("segment")
        .count()
        .collect()
    }
    assert got == expected


def test_stream_checkpoint_restart_no_reprocess(spark, tmp_path):
    """Restart recovery: a second run over the SAME checkpoint must pick
    up only files that arrived since the first run — already-committed
    source files are not reprocessed and the file sink is not
    double-appended (exactly-once across restarts). Uses a stateless
    transform: a WATERMARKED operator would (correctly) drop the
    second batch as late data, since the checkpoint also persists the
    advanced watermark — that semantics is covered by the dedup test."""
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(300)
    half_a = src.filter(F.col("event_id") % 2 == 0)
    half_b = src.filter(F.col("event_id") % 2 == 1)
    staged = str(tmp_path / "staged")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half_a.coalesce(1).write.mode("overwrite").parquet(staged)

    def run_once():
        stream = ensure_event_time(spark.readStream.schema(src.schema).parquet(staged))
        q = (
            stream.select("event_id", "ts", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == half_a.count()

    half_b.coalesce(1).write.mode("append").parquet(staged)
    run_once()
    result = spark.read.parquet(out)
    assert result.count() == 300  # 450 would mean half_a was reprocessed
    assert result.select("event_id").distinct().count() == 300


def test_stream_stream_conversion_join_matches_batch(spark):
    """Two watermarked streams over the same file source interval-join
    (view -> purchase within 1 hour per user); the appended pairs must
    equal the batch join's pair set exactly."""
    from csv_query_engine_spark.streaming import conversion_join

    v_stream = read_events_stream(spark, SF_SMOKE)
    p_stream = read_events_stream(spark, SF_SMOKE)
    joined = conversion_join(v_stream, p_stream)
    assert joined.isStreaming
    out = run_stream_to_memory(joined, "conv_pairs", output_mode="append")
    got = {(r["view_id"], r["purchase_id"]) for r in out.collect()}

    from csv_query_engine_spark.io.readers import load_tables

    e = load_tables(spark, SF_SMOKE, ("events",))["events"]
    want = {(r["view_id"], r["purchase_id"]) for r in conversion_join(e, e).collect()}
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """The outer half of the attribution contract: a view with no
    purchase inside the horizon must EMIT (null purchase columns) once
    the watermark passes view_ts + horizon — and not before. Two files
    drive two micro-batches; the second carries much-later timestamps
    to push the watermark past the first batch's horizon."""
    import datetime as dt

    from csv_query_engine_spark.streaming import conversion_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [
        # user 1: view converts 10 minutes later
        (101, 1, "view", t0, 0.0),
        (201, 1, "purchase", t0 + dt.timedelta(minutes=10), 5.0),
        # user 2: view never converts
        (102, 2, "view", t0, 0.0),
    ]
    # batch 2, three days later, advances the watermark far past
    # t0 + horizon; state eviction (and therefore outer emission) runs
    # in the batch AFTER the watermark update, so batch 3 exists to
    # flush batch 1's unmatched view. Purchases keep trickling (the
    # operator's documented watermark contract: the event_type filter is
    # pushed into the scan, so a side with NO arriving purchases would
    # stall the min-watermark). The late events themselves stay in
    # state / match nothing (correctly unemitted).
    t1 = t0 + dt.timedelta(days=3)
    rows2 = [(103, 3, "view", t1, 0.0), (202, 93, "purchase", t1, 1.0)]
    rows3 = [
        (104, 4, "view", t1 + dt.timedelta(days=3), 0.0),
        (203, 94, "purchase", t1 + dt.timedelta(days=3), 1.0),
    ]
    schema = "event_id long, user_id long, event_type string, ts timestamp, value double"
    src = str(tmp_path / "stream_src")
    for rows in (rows1, rows2, rows3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def one_file_stream():
        return ensure_event_time(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    joined = conversion_join(
        one_file_stream(), one_file_stream(), horizon_minutes=60,
        watermark="10 minutes", how="left_outer",
    )
    assert joined.isStreaming
    out = run_stream_to_memory(joined, "conv_outer", output_mode="append").collect()
    by_view = {r["view_id"]: r for r in out}
    # converting view pairs with its purchase
    assert by_view[101]["purchase_id"] == 201
    assert by_view[101]["purchase_value"] == 5.0
    # non-converting view EMITS with nulls after watermark expiry
    assert 102 in by_view, f"unmatched view never emitted: {out}"
    assert by_view[102]["purchase_id"] is None
    assert by_view[102]["purchase_ts"] is None
    # the last batch's view is still inside its horizon at query end ->
    # stays in state, not emitted
    assert 104 not in by_view


def test_foreachbatch_merge_upsert_sink(spark, tmp_path):
    """CDC-apply sink: each micro-batch of change records merge-upserts
    into a parquet target via foreachBatch — the streaming half of the
    operators/merge.py contract (batch order preserved, read-modify-
    write with lineage cut before the overwrite)."""
    import time

    from csv_query_engine_spark.operators.merge import merge_upsert

    target = str(tmp_path / "target")
    src = str(tmp_path / "incoming")
    (tmp_path / "incoming").mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(target)
    # two change files with distinct mtimes -> two ordered micro-batches
    spark.createDataFrame([(2, "B2"), (3, "c")], "k int, v string").coalesce(1).write.parquet(
        src + "/f1"
    )
    time.sleep(1.1)
    spark.createDataFrame([(3, "C3"), (4, "d")], "k int, v string").coalesce(1).write.parquet(
        src + "/f2"
    )

    def apply_batch(batch_df, _bid):
        cur = batch_df.sparkSession.read.parquet(target)
        # localCheckpoint cuts lineage to the target files so the
        # overwrite below cannot invalidate its own input scan
        merged = merge_upsert(cur, batch_df, ["k"]).localCheckpoint()
        merged.write.mode("overwrite").parquet(target)

    stream = (
        spark.readStream.schema("k int, v string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B2", 3: "C3", 4: "d"}, got


def test_synthetic_source_drives_conversion_join_with_restart(spark, tmp_path):
    """Round-6 wiring: the custom Python stream source feeds the
    stream-stream conversion join END-TO-END (previously source and
    operators were only tested separately) — including a checkpoint
    restart that extends the offset range. The final pair set must
    equal the batch twin over the replayed rows, with no duplicates
    (duplicates would mean the restart reprocessed committed offsets)."""
    from csv_query_engine_spark.io.pysource import (
        SyntheticEventsStreamReader,
        register,
    )
    from csv_query_engine_spark.streaming import conversion_join

    register(spark)
    out, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    base = 1_600_000_000

    def with_ts(df):
        # deterministic event time: one event per minute from a fixed epoch
        return df.withColumn(
            "ts", F.timestamp_seconds(F.lit(base) + F.col("event_id") * 60)
        )

    def run_once(rows_per_batch):
        def src():
            return with_ts(
                spark.readStream.format("synthetic_events")
                .option("rows_per_batch", rows_per_batch)
                .option("rows_per_partition", 50)
                .option("max_offset", 400)
                .load()
            )

        q = (
            conversion_join(src(), src(), horizon_minutes=60)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(200)  # first run commits offsets [0, 200)
    first = spark.read.parquet(out).count()
    run_once(400)  # restart: latestOffset 400, checkpoint resumes at 200

    # batch twin over the full replayed range [0, 400)
    r = SyntheticEventsStreamReader({"rows_per_partition": "100"})
    rows = [t for p in r.partitions({"offset": 0}, {"offset": 400}) for t in r.read(p)]
    batch = with_ts(
        spark.createDataFrame(
            rows, "event_id long, user_id int, event_type string, value int"
        )
    )
    want = {
        (x["view_id"], x["purchase_id"])
        for x in conversion_join(batch, batch, horizon_minutes=60).collect()
    }
    got_rows = spark.read.parquet(out).collect()
    got = {(x["view_id"], x["purchase_id"]) for x in got_rows}
    assert got == want and len(want) > 0
    assert len(got_rows) == len(got), "restart must not re-emit committed pairs"
    assert len(got) > first, "restart must contribute new cross-batch pairs"


def test_stateful_type_profiles_end_to_end(spark, tmp_path):
    """transformWithStateInPandas end-to-end (previously shipped
    unexercised): two micro-batches over the synthetic source; the
    LAST emitted profile per user must equal the batch ground truth
    computed from the replayed rows, proving ValueState/MapState carry
    across batches. Sets the RocksDB provider the operator documents
    as required.

    The TWS Python runner needs google.protobuf at EXECUTION time
    (the driver-side state-server handshake is protobuf-framed);
    plan construction does not. Where protobuf is absent the test
    still pins the streaming plan + schema, then skips execution —
    mirroring the env-gated live-LLM test's contract."""
    from csv_query_engine_spark.io.pysource import (
        SyntheticEventsStreamReader,
        register,
    )
    from csv_query_engine_spark.streaming import stateful_type_profiles

    register(spark)
    plan_df = stateful_type_profiles(
        spark.readStream.format("synthetic_events").load()
    )
    assert plan_df.isStreaming
    assert [f.name for f in plan_df.schema.fields] == [
        "user_id", "n_events", "total_value", "n_types", "top_type",
    ]
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas runner requires protobuf at execution",
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = (
            spark.readStream.format("synthetic_events")
            .option("rows_per_batch", 60)
            .option("rows_per_partition", 30)
            .option("max_offset", 120)
            .load()
        )
        q = (
            stateful_type_profiles(src)
            .writeStream.format("memory")
            .queryName("type_profiles")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.awaitTermination(180)
        # "update" emits one row per user per batch it appears in: keep
        # the LAST emission per user (cumulative state at stream end)
        emitted = spark.sql("SELECT * FROM type_profiles").collect()
        assert emitted, "no profile rows emitted"
        last = {}
        for row in emitted:  # memory sink preserves batch order
            last[row["user_id"]] = row

        r = SyntheticEventsStreamReader({"rows_per_partition": "30"})
        rows = [
            t for p in r.partitions({"offset": 0}, {"offset": 120}) for t in r.read(p)
        ]
        from collections import Counter, defaultdict

        by_user = defaultdict(list)
        for eid, uid, etype, value in rows:
            by_user[uid].append((etype, value))
        assert set(last) == set(by_user)
        for uid, evs in by_user.items():
            c = Counter(t for t, _ in evs)
            row = last[uid]
            assert row["n_events"] == len(evs)
            assert row["total_value"] == float(sum(v for _, v in evs))
            assert row["n_types"] == len(c)
            want_top = sorted(c.items(), key=lambda tc: (-tc[1], tc[0]))[0][0]
            assert row["top_type"] == want_top, (uid, dict(c))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_heavy_hitters_matches_batch_with_restart(spark, tmp_path):
    """Per-window MG state across micro-batches + checkpoint restart:
    stage the events as two files, run with maxFilesPerTrigger=1 and a
    checkpoint, restart over the SAME checkpoint with a third file, and
    require the final per-window candidates to EQUAL the batch twin
    (k=8 exceeds the live type cardinality, so MG never decrements and
    its counts are exact — the documented harness case)."""
    from csv_query_engine_spark.queries.streaming_q import events_window_heavy_hitters
    from csv_query_engine_spark.streaming import streaming_heavy_hitters

    src = ensure_event_time(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ).limit(600)
    d = str(tmp_path / "staged")
    src.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode("overwrite").parquet(d)
    src.filter(F.col("event_id") % 3 == 1).coalesce(1).write.mode("append").parquet(d)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = ensure_event_time(
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )

        # foreachBatch parquet sink: the memory sink cannot recover
        # from a checkpoint; batch_id preserves update order on disk
        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            streaming_heavy_hitters(stream, k=8)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).collect()
    assert first, "no updates emitted in first run"
    # restart over the same checkpoint with one more file: only the new
    # file is processed, state carries the prior counts forward
    src.filter(F.col("event_id") % 3 == 2).coalesce(1).write.mode("append").parquet(d)
    run_once()
    rows = spark.read.parquet(out).collect()

    # updates accumulate across batches: the highest batch_id per
    # (window, type) is the final MG view of that window
    final = {}
    for r in sorted(rows, key=lambda r: r["batch_id"]):
        final[(r["window_start"], r["event_type"])] = r

    # batch twin semantics over the same 600 rows (the registered query
    # reads the full table, so recompute its plan on `src` directly)
    w = src.select(F.window("ts", "1 hour").start.alias("ws"), "event_type")
    tot = w.groupBy("ws").agg(F.count(F.lit(1)).alias("n_window"))
    batch = {
        (r["ws"], r["event_type"]): (r["n_occ"], r["n_window"])
        for r in w.groupBy("ws", "event_type")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .join(tot, "ws")
        .collect()
    }
    # exact-counts case: every batch (window, type) must appear in the
    # final streaming state with the exact count and window total
    assert set(batch) == set(final)
    for key, (n_occ, n_window) in batch.items():
        assert final[key]["mg_count"] == n_occ, key
        assert final[key]["n_window"] == n_window, key
    # and state genuinely crossed batches: some window's total in the
    # final view must exceed any single file's contribution
    assert any(r["n_window"] > 0 for r in final.values())
    # registered batch twin still runs and thresholds correctly
    hh = events_window_heavy_hitters(spark, SF_SMOKE).collect()
    assert all(r["n_occ"] > r["n_window"] // 8 for r in hh)


def test_streaming_heavy_hitters_bounded_state_under_small_k(spark):
    """k smaller than the type cardinality: the summary must hold ≤ k
    candidates per window (bounded state) and still include every type
    whose count exceeds n_window/k (the MG guarantee)."""
    from collections import Counter

    from csv_query_engine_spark.streaming import streaming_heavy_hitters

    src = ensure_event_time(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).limit(400)
    stream = ensure_event_time(
        spark.readStream.schema(src.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMOKE)
    )
    out = run_stream_to_memory(
        streaming_heavy_hitters(stream, k=2), "hh_small_k", output_mode="update"
    )
    rows = out.collect()
    per_window = Counter()
    final = {}
    for r in rows:
        final[(r["window_start"], r["event_type"])] = r
    for ws, _ in final:
        per_window[ws] += 1
    assert per_window and all(v <= 2 for v in per_window.values())
    # MG coverage: types with true count > n_window/2 must be present
    full = ensure_event_time(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    w = full.select(F.window("ts", "1 hour").start.alias("ws"), "event_type")
    tot = {r["ws"]: r["n"] for r in w.groupBy("ws").agg(F.count(F.lit(1)).alias("n")).collect()}
    exact = w.groupBy("ws", "event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    for r in exact:
        if r["n"] > tot[r["ws"]] // 2:
            assert (r["ws"], r["event_type"]) in final, (r["ws"], r["event_type"])


def test_streaming_heavy_hitters_event_time_state_retirement(spark, tmp_path):
    """The state-bounding contract along the window axis: with a
    watermark, a window whose end the watermark has passed must emit
    one FINAL summary (is_final=true) and be evicted — so live state is
    bounded by the watermark horizon. Staged as three single-file
    micro-batches: window A, then events 3 h later (advances the
    watermark computed AFTER that batch), then one more batch in which
    A's timeout fires."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.streaming import streaming_heavy_hitters

    base = 1_700_000_000  # epoch seconds, on the hour boundary side
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def batch(rows):
        import datetime as dt

        return spark.createDataFrame(
            [(dt.datetime.utcfromtimestamp(base + off), et) for off, et in rows],
            schema,
        )

    d = str(tmp_path / "staged")
    batch([(0, "view"), (60, "view"), (120, "click")]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    batch([(3 * 3600, "purchase"), (3 * 3600 + 60, "view")]).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    batch([(3 * 3600 + 120, "click")]).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    out = run_stream_to_memory(
        streaming_heavy_hitters(stream, k=8, window="1 hour", watermark="30 minutes"),
        "hh_timeout",
        output_mode="update",
    )
    rows = out.collect()
    finals = [r for r in rows if r["is_final"]]
    updates = [r for r in rows if not r["is_final"]]
    assert updates, "no live updates emitted"
    # window A (the base hour) must have been finalized with its exact
    # summary once the watermark passed its end
    import datetime as dt

    a_start_naive = dt.datetime.utcfromtimestamp(base - base % 3600)
    a_finals = {r["event_type"]: r for r in finals if abs(
        (r["window_start"] - a_start_naive).total_seconds()) < 1}
    assert set(a_finals) == {"view", "click"}, finals
    assert a_finals["view"]["mg_count"] == 2
    assert a_finals["click"]["mg_count"] == 1
    assert all(r["n_window"] == 3 for r in a_finals.values())
    # the late window must NOT be finalized (watermark never passed it)
    late = [r for r in finals if r["window_start"] != a_finals["view"]["window_start"]]
    assert not late, late


def test_quality_gate_stream_dead_letter_routing(spark, tmp_path):
    """Streaming dead-letter contract: every micro-batch row lands in
    exactly one of good/quarantine, quarantined rows carry failed_rules,
    and a restart over the checkpoint does not double-route."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.pipeline.validation import Check
    from csv_query_engine_spark.streaming.events import route_quality_batch, run_batches

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows_a = [(1, "view", 1.0), (2, None, 2.0), (3, "click", -5.0)]
    rows_b = [(4, "purchase", 9.0), (5, "bogus", 1.0)]
    d = str(tmp_path / "staged")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("overwrite").parquet(d)
    checks = [
        Check("completeness", "event_type", 1.0),
        Check("range", "value", 1.0, lo=0.0, hi=1000.0),
        Check("accepted", "event_type", 1.0, values=("view", "click", "purchase")),
    ]
    good_p, bad_p, ckpt = (
        str(tmp_path / "good"),
        str(tmp_path / "bad"),
        str(tmp_path / "ck"),
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(d)
        q = run_batches(
            stream, ckpt, route_quality_batch,
            checks=checks, good_path=good_p, quarantine_path=bad_p,
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(d)
    run_once()  # restart: only the new file routes

    good_ids = sorted(r["event_id"] for r in spark.read.parquet(good_p).collect())
    bad = {r["event_id"]: r["failed_rules"] for r in spark.read.parquet(bad_p).collect()}
    assert good_ids == [1, 4]
    assert sorted(bad) == [2, 3, 5]
    assert "completeness(event_type)" in bad[2]
    assert "range(value)" in bad[3]
    assert "accepted(event_type)" in bad[5]


def test_quality_gate_replayed_batch_is_noop(spark, tmp_path):
    """Round-7 verdict bug #2: foreachBatch is at-least-once — a crash
    after the sink writes but before the checkpoint commit replays the
    batch. The batch_id-partitioned dynamic overwrite must make that
    replay a rewrite, not an append: invoking the batch router twice
    (and once more with NULL rows under accepted-only rules, covering
    the conservation fix in the streaming path) yields zero duplicates."""
    from csv_query_engine_spark.pipeline.validation import Check
    from csv_query_engine_spark.streaming.events import route_quality_batch

    df = spark.createDataFrame(
        [(1, "view", 1.0), (2, None, 2.0), (3, "click", -5.0)],
        "event_id long, event_type string, value double",
    )
    checks = [
        Check("range", "value", 1.0, lo=0.0, hi=1000.0),
        Check("accepted", "event_type", 1.0, values=("view", "click", "purchase")),
    ]
    good_p, bad_p = str(tmp_path / "good"), str(tmp_path / "bad")
    route_quality_batch(df, 0, checks, good_p, bad_p)
    route_quality_batch(df, 0, checks, good_p, bad_p)  # simulated replay
    good = spark.read.parquet(good_p)
    bad = spark.read.parquet(bad_p)
    assert sorted(r["event_id"] for r in good.collect()) == [1]
    # row 2: NULL event_type under accepted (no completeness rule) must
    # quarantine, not vanish; row 3 fails range. No replay duplicates.
    assert sorted(r["event_id"] for r in bad.collect()) == [2, 3]
    assert good.count() + bad.count() == df.count()
    # a second batch lands in its own partition without clobbering batch 0
    df2 = spark.createDataFrame(
        [(4, "purchase", 9.0)], "event_id long, event_type string, value double"
    )
    route_quality_batch(df2, 1, checks, good_p, bad_p)
    route_quality_batch(df2, 1, checks, good_p, bad_p)  # replay of batch 1
    assert sorted(r["event_id"] for r in spark.read.parquet(good_p).collect()) == [1, 4]
    assert sorted(r["event_id"] for r in spark.read.parquet(bad_p).collect()) == [2, 3]


BASE_DOC = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa"
)


def test_dedup_admission_batches_and_replay(spark, tmp_path):
    """Streaming dedup admission (round 8): cross-batch exact and
    near-dup rejection against the admitted store, within-batch exact
    collapse, and replay idempotence via the pre-batch corpus filter +
    batch_id-keyed overwrite."""
    from csv_query_engine_spark.streaming.events import route_admission_batch

    adm, rej = str(tmp_path / "admitted"), str(tmp_path / "rejected")

    def run(batch_id, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        route_admission_batch(df, batch_id, adm, rej)

    # batch 0: doc 2 is an exact within-batch dup of doc 1
    run(0, [(1, BASE_DOC), (2, BASE_DOC), (3, "totally different words one two three")])
    admitted = {r["doc_id"] for r in spark.read.parquet(adm).collect()}
    assert admitted == {1, 3}
    rej0 = {r["doc_id"]: (r["verdict"], r["dup_of"]) for r in spark.read.parquet(rej).collect()}
    assert rej0 == {2: ("exact_dup", 1)}

    # batch 1: doc 4 near-dups doc 1 (one word changed), doc 5 exact-dups
    # doc 3 across batches, doc 6 is novel
    near = BASE_DOC.replace("oscar", "sierra")
    run(1, [(4, near), (5, "totally different words one two three"), (6, "entirely novel content here")])
    admitted = {r["doc_id"] for r in spark.read.parquet(adm).collect()}
    assert admitted == {1, 3, 6}
    rej1 = {r["doc_id"]: (r["verdict"], r["dup_of"]) for r in spark.read.parquet(rej).collect() if r["batch_id"] == 1}
    assert rej1 == {4: ("near_dup", 1), 5: ("exact_dup", 3)}

    # replay batch 1 (foreachBatch at-least-once): the store already
    # holds batch 1's rows; the pre-batch corpus filter must screen
    # against batches < 1 only, and the overwrite must not duplicate
    run(1, [(4, near), (5, "totally different words one two three"), (6, "entirely novel content here")])
    again = sorted((r["doc_id"], r["batch_id"]) for r in spark.read.parquet(adm).collect())
    assert again == [(1, 0), (3, 0), (6, 1)]
    assert spark.read.parquet(rej).count() == 3


def test_dedup_admission_unreadable_store_fails_the_batch(spark, tmp_path):
    """Only a MISSING admitted store is a first batch (round-9
    store-reader rule): when the admitted store exists but its files
    are not parquet, the next batch must FAIL (so the checkpoint
    retries it) instead of screening against an empty corpus and
    admitting an exact duplicate — and nothing of the failed batch may
    land in either store."""
    import os

    from csv_query_engine_spark.streaming.events import route_admission_batch

    adm, rej = str(tmp_path / "admitted"), str(tmp_path / "rejected")
    route_admission_batch(
        spark.createDataFrame([(1, BASE_DOC)], "doc_id long, text string"), 0, adm, rej
    )
    part = os.path.join(adm, "batch_id=0")
    data = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert data
    for f in os.listdir(part):
        if f.endswith(".crc"):
            os.remove(os.path.join(part, f))
    for f in data:
        with open(os.path.join(part, f), "wb") as fh:
            fh.write(b"these bytes are not a parquet file")
    dup = spark.createDataFrame([(2, BASE_DOC)], "doc_id long, text string")
    with pytest.raises(Exception):
        route_admission_batch(dup, 1, adm, rej)
    for d in (adm, rej):
        assert not os.path.exists(os.path.join(d, "batch_id=1")), d


def test_minhash_admission_stream_matches_batch_and_replay(spark, tmp_path):
    """Streaming MinHash admission (round 12): on an ascending-id batch
    split the accumulated verdicts EQUAL minhash_dedup_survivors
    (est_margin=None) over the union — the bucket-MIN store is the
    incremental face of the linear dedup operator — and re-routing the
    last batch under its recorded batch_id leaves every store table
    byte-identical (MIN-mergeable accumulated-state idiom)."""
    from csv_query_engine_spark.pipeline.dedup import minhash_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_minhash_bucket_mins,
        read_minhash_verdicts,
        route_minhash_admission_batch,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    # plant a cross-batch near-dup and an exact dup so the equality is
    # never vacuous: ids above the corpus max land in the LAST batch
    first = docs.orderBy("doc_id").limit(1).collect()[0]
    plants = spark.createDataFrame(
        [
            (9_000_000, first["text"]),  # exact dup of the smallest doc
            (9_000_001, first["text"] + " zz"),  # near-dup
        ],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(plants)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    store = str(tmp_path / "mh")
    batches = [
        corpus.filter(F.col("doc_id") < cut1),
        corpus.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)),
        corpus.filter(F.col("doc_id") >= cut2),
    ]
    for i, b in enumerate(batches):
        route_minhash_admission_batch(b, i, store, threshold=0.5)
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["dup_jaccard"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    want = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["dup_jaccard"])
        for r in minhash_dedup_survivors(
            corpus, threshold=0.5, est_margin=None
        ).collect()
    }
    assert got == want
    assert got[9_000_000][0] and got[9_000_000][1] == first["doc_id"]
    assert got[9_000_001][0]  # the near-dup dropped too (non-vacuous)
    # merged bucket mins equal the batch operator's global bucket mins
    mins_before = sorted(
        (r["band"], r["bucket"], r["min_id"])
        for r in read_minhash_bucket_mins(spark, store).collect()
    )
    verd_before = sorted(map(tuple, spark.read.parquet(f"{store}/verdicts").collect()))
    tables_before = {
        t: sorted(map(tuple, spark.read.parquet(f"{store}/{t}").collect()))
        for t in ("docs", "entries")
    }
    # replay the LAST batch under its recorded batch_id: byte-identical
    route_minhash_admission_batch(batches[2], 2, store, threshold=0.5)
    assert sorted(
        (r["band"], r["bucket"], r["min_id"])
        for r in read_minhash_bucket_mins(spark, store).collect()
    ) == mins_before
    assert sorted(map(tuple, spark.read.parquet(f"{store}/verdicts").collect())) == verd_before
    for t, rows in tables_before.items():
        assert sorted(map(tuple, spark.read.parquet(f"{store}/{t}").collect())) == rows, t


def test_minhash_admission_live_stream_restart(spark, tmp_path):
    """End-to-end through a real file-source stream: two availableNow
    passes over a growing directory; the second pass folds only the new
    file and its docs verdict against the first pass's bucket mins."""
    from csv_query_engine_spark.streaming.events import (
        read_minhash_verdicts,
        route_minhash_admission_batch,
        run_batches,
    )

    src = tmp_path / "src"
    store, ckpt = str(tmp_path / "mh"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, BASE_DOC), (2, "other text entirely unrelated words")],
        "doc_id long, text string",
    ).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = run_batches(stream, ckpt, route_minhash_admission_batch, store_dir=store, threshold=0.5)
    q.awaitTermination(120)
    v0 = {r["doc_id"]: r["is_dup"] for r in read_minhash_verdicts(spark, store).collect()}
    assert v0 == {1: False, 2: False}
    # second slice: a near-copy of doc 1 plus a novel doc
    near = BASE_DOC.replace("oscar", "sierra")
    spark.createDataFrame(
        [(3, near), (4, "brand new words nothing shared here at all")],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = run_batches(stream, ckpt, route_minhash_admission_batch, store_dir=store, threshold=0.5)
    q.awaitTermination(120)
    v1 = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    assert v1[3] == (True, 1) and v1[4] == (False, -1)
    assert len(v1) == 4


def test_dedup_admission_live_stream(spark, tmp_path):
    """End-to-end through a real file-source stream: two availableNow
    passes over a growing directory land in the admitted store exactly
    once each."""
    from csv_query_engine_spark.streaming.events import route_admission_batch, run_batches

    src = tmp_path / "src"
    adm, rej = str(tmp_path / "admitted"), str(tmp_path / "rejected")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, BASE_DOC), (2, "other text entirely")], "doc_id long, text string").write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = run_batches(stream, ckpt, route_admission_batch, admitted_dir=adm, rejected_dir=rej)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(adm).collect()} == {1, 2}
    # second slice: an exact dup of doc 1 plus a novel doc
    spark.createDataFrame([(3, BASE_DOC), (4, "brand new words")], "doc_id long, text string").write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = run_batches(stream, ckpt, route_admission_batch, admitted_dir=adm, rejected_dir=rej)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(adm).collect()} == {1, 2, 4}
    rejs = {r["doc_id"]: r["verdict"] for r in spark.read.parquet(rej).collect()}
    assert rejs == {3: "exact_dup"}


def _persistent_rdd_ids(spark):
    """Ids of every persistent RDD the driver tracks (cached tables and
    localCheckpoint blocks alike)."""
    sc = spark.sparkContext
    return {
        int(rid)
        for rid in sc._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            sc._jsc.sc().getPersistentRDDs()
        ).keys()
    }


def test_dedup_admission_route_releases_its_caches(spark, tmp_path):
    """incremental_dedup persists and pins its token and candidate
    tables and leaves their lifetime to the caller; the admission route
    is that caller, so after EVERY routed batch (first batch, cross-
    batch near and exact dups, novel docs) no persistent RDD may exist
    that did not exist before the first — a long admission stream would
    otherwise grow its cached blocks batch after batch.  Ids that vanish
    (the context cleaner releasing an earlier test's blocks) are not a
    leak, so the check is on new ids only."""
    from csv_query_engine_spark.streaming.events import route_admission_batch

    adm, rej = str(tmp_path / "admitted"), str(tmp_path / "rejected")
    near = BASE_DOC.replace("oscar", "sierra")
    batches = [
        [(1, BASE_DOC), (2, "other text entirely unrelated words")],
        [(3, near), (4, "brand new words nothing shared here at all")],
        [(5, BASE_DOC), (6, "a fifth slice of fresh words")],
        [(7, near), (8, "other text entirely unrelated words")],
    ]
    cached_before = _persistent_rdd_ids(spark)
    for batch_id, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        route_admission_batch(df, batch_id, adm, rej)
        leaked = _persistent_rdd_ids(spark) - cached_before
        assert not leaked, f"batch {batch_id} leaked persisted blocks: {leaked}"
    admitted = {r["doc_id"] for r in spark.read.parquet(adm).collect()}
    assert admitted == {1, 2, 4, 6}, admitted


def test_cm_sketch_stream_matches_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming Count-Min: the SUM-merged per-batch cells equal the
    one-shot batch sketch over the same rows (mergeable contract
    end-to-end), estimates never undercount, a checkpointed restart
    folds only the NEW file, and re-routing a batch with its own
    batch_id (the at-least-once replay) leaves the merged sketch
    byte-identical."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.pipeline.sketches import cm_cells, cm_estimates
    from csv_query_engine_spark.streaming import (
        read_cm_cells,
        route_cm_batch,
        run_batches,
    )

    schema = T.StructType([T.StructField("user_id", T.LongType())])
    rows_a = [(i % 7,) for i in range(50)]
    rows_b = [(i % 11,) for i in range(30)]
    staged = str(tmp_path / "staged")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("overwrite").parquet(staged)
    cells_p, ckpt = str(tmp_path / "cells"), str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(staged)
        q = run_batches(
            stream, ckpt, route_cm_batch,
            key_col="user_id", cells_path=cells_p, depth=4, width=8,
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(staged)
    run_once()  # restart: only the new file folds in

    merged = read_cm_cells(spark, cells_p)
    all_rows = spark.createDataFrame(rows_a + rows_b, schema)
    batch = cm_cells(all_rows, "user_id", depth=4, width=8)
    mk = {(r["r"], r["c"]): r["cnt"] for r in merged.collect()}
    bk = {(r["r"], r["c"]): r["cnt"] for r in batch.collect()}
    assert mk == bk

    keys = all_rows.distinct()
    est = {
        r["user_id"]: r["est_count"]
        for r in cm_estimates(merged, keys, "user_id", depth=4, width=8).collect()
    }
    exact = {}
    for (u,) in rows_a + rows_b:
        exact[u] = exact.get(u, 0) + 1
    assert all(est[u] >= n for u, n in exact.items())

    # replay: re-route the LAST batch under its recorded batch_id
    import re as _re

    parts = sorted(
        int(_re.search(r"batch_id=(\d+)", p).group(1))
        for p in __import__("glob").glob(f"{cells_p}/batch_id=*")
    )
    last = parts[-1]
    route_cm_batch(spark.createDataFrame(rows_b, schema), last, "user_id", cells_p, 4, 8)
    mk2 = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert mk2 == mk


def test_hll_sketch_stream_matches_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming HLL: MAX-merged per-batch registers produce the SAME
    estimate as the one-shot batch sketch (duplicates across batches
    cannot move a register), restart folds only new data, replay is a
    byte-identical rewrite."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.pipeline.sketches import (
        hll_distinct,
        hll_estimate_from_registers,
    )
    from csv_query_engine_spark.streaming import (
        read_hll_registers,
        route_hll_batch,
        run_batches,
    )

    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("k", T.StringType())]
    )
    rows_a = [("x", f"u{i}") for i in range(300)]
    rows_b = [("x", f"u{i}") for i in range(150, 450)] + [("y", f"v{i}") for i in range(40)]
    staged = str(tmp_path / "staged")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("overwrite").parquet(staged)
    regs_p, ckpt = str(tmp_path / "regs"), str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(staged)
        q = run_batches(
            stream, ckpt, route_hll_batch, key_col="k", group_col="g", regs_path=regs_p
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(staged)
    run_once()

    merged = read_hll_registers(spark, regs_p, "g")
    streamed = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate_from_registers(merged, "g").collect()
    }
    batch = {
        r["g"]: r["hll_estimate"]
        for r in hll_distinct(spark.createDataFrame(rows_a + rows_b, schema), "k", "g").collect()
    }
    assert streamed == batch  # overlap (u150..u299 twice) moves nothing

    # replay the last batch under its recorded batch_id: byte-identical
    import glob as _g
    import re as _re

    last = max(
        int(_re.search(r"batch_id=(\d+)", p).group(1))
        for p in _g.glob(f"{regs_p}/batch_id=*")
    )
    before = {(r["g"], r["b"]): r["mb"] for r in merged.collect()}
    route_hll_batch(spark.createDataFrame(rows_b, schema), last, "k", "g", regs_p)
    after = {
        (r["g"], r["b"]): r["mb"]
        for r in read_hll_registers(spark, regs_p, "g").collect()
    }
    assert after == before


def test_hll_stream_int_group_column_roundtrips(spark, tmp_path):
    """route_hll_batch casts the group column to STRING on write, so
    the reader's explicit string schema holds for ANY group type (an
    int group used to write int32 partitions the read could not
    decode — review regression)."""
    from csv_query_engine_spark.streaming import read_hll_registers, route_hll_batch

    df = spark.createDataFrame([(7, "a"), (7, "b"), (9, "c")], "gid int, k string")
    route_hll_batch(df, 0, "k", "gid", str(tmp_path / "regs"))
    out = read_hll_registers(spark, str(tmp_path / "regs"), "gid").collect()
    assert sorted({r["gid"] for r in out}) == ["7", "9"]


def test_bm25_index_stream_matches_batch_replay_noop_and_freshness(spark, tmp_path):
    """Streaming inverted-index maintenance (round 9): the union of
    per-batch postings scored through the SHARED core equals the
    one-shot batch bm25_topk over the same docs; a checkpointed
    restart folds only the new file; replaying a batch under its
    recorded batch_id rewrites its partition byte-identically; and a
    doc UPDATE in a later batch supersedes its old postings
    (retrieval freshness)."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.pipeline.retrieval import (
        bm25_topk,
        bm25_topk_from_postings,
    )
    from csv_query_engine_spark.streaming import (
        read_bm25_postings,
        route_bm25_batch,
        run_batches,
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    docs_a = [(i, f"alpha beta common{i % 3} gamma gamma") for i in range(20)]
    docs_b = [(100 + i, f"beta delta common{i % 3} epsilon") for i in range(15)]
    staged = str(tmp_path / "staged")
    spark.createDataFrame(docs_a, schema).coalesce(1).write.mode("overwrite").parquet(staged)
    postings_p, ckpt = str(tmp_path / "postings"), str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(staged)
        q = run_batches(stream, ckpt, route_bm25_batch, postings_path=postings_p)
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(docs_b, schema).coalesce(1).write.mode("append").parquet(staged)
    run_once()  # restart: only the new file folds in

    def ranking(df):
        return [
            (r["doc_id"], r["n_matched_terms"], r["bm25_score"])
            for r in df.orderBy(F.col("bm25_score").desc(), "doc_id").collect()
        ]

    merged = read_bm25_postings(spark, postings_p)
    streamed = ranking(
        bm25_topk_from_postings(merged, n_terms=4, top_n=10).withColumnRenamed(
            "id", "doc_id"
        )
    )
    batch = ranking(
        bm25_topk(spark.createDataFrame(docs_a + docs_b, schema), n_terms=4, top_n=10)
    )
    assert streamed == batch

    # replay: re-route the LAST batch under its recorded batch_id
    import glob
    import re as _re

    parts = sorted(
        int(_re.search(r"batch_id=(\d+)", p).group(1))
        for p in glob.glob(f"{postings_p}/batch_id=*")
    )
    before = sorted(
        tuple(r) for r in read_bm25_postings(spark, postings_p).collect()
    )
    route_bm25_batch(spark.createDataFrame(docs_b, schema), parts[-1], postings_p)
    after = sorted(tuple(r) for r in read_bm25_postings(spark, postings_p).collect())
    assert after == before

    # freshness: doc 0 re-sent with new text in a NEW batch supersedes
    route_bm25_batch(
        spark.createDataFrame([(0, "zeta zeta zeta")], schema), parts[-1] + 1, postings_p
    )
    fresh = read_bm25_postings(spark, postings_p)
    doc0 = {
        (r["token"], r["tf"]) for r in fresh.filter(F.col("id") == 0).collect()
    }
    assert doc0 == {("zeta", 3)}
    # every other doc's postings are untouched
    others_before = {t for t in before if t[0] != 0}
    others_after = {
        tuple(r) for r in fresh.filter(F.col("id") != 0).collect()
    }
    assert others_after == others_before


def test_hdr_sketch_stream_matches_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming HDR quantile sketch: SUM-merged per-batch buckets
    equal the one-shot batch build, a checkpointed restart folds only
    the new file, and replaying a batch under its recorded batch_id is
    a no-op (deterministic integer bucketing)."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.pipeline.sketches import hdr_buckets, hdr_quantiles
    from csv_query_engine_spark.streaming import (
        read_hdr_buckets,
        route_hdr_batch,
        run_batches,
    )

    schema = T.StructType([T.StructField("v", T.LongType())])
    rows_a = [((i * 48271) % 100003 + 1,) for i in range(400)]
    rows_b = [((i * 69621) % 50021 + 1,) for i in range(300)]
    staged = str(tmp_path / "staged")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("overwrite").parquet(staged)
    bp, ckpt = str(tmp_path / "buckets"), str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(staged)
        q = run_batches(stream, ckpt, route_hdr_batch, value_col="v", buckets_path=bp)
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(staged)
    run_once()

    merged = read_hdr_buckets(spark, bp)
    direct = hdr_buckets(spark.createDataFrame(rows_a + rows_b, schema), "v")
    mk = sorted(tuple(r) for r in merged.collect())
    assert mk == sorted(tuple(r) for r in direct.collect())
    assert sorted(tuple(r) for r in hdr_quantiles(merged).collect()) == sorted(
        tuple(r) for r in hdr_quantiles(direct).collect()
    )

    import glob
    import re as _re

    parts = sorted(
        int(_re.search(r"batch_id=(\d+)", p).group(1))
        for p in glob.glob(f"{bp}/batch_id=*")
    )
    route_hdr_batch(spark.createDataFrame(rows_b, schema), parts[-1], "v", bp)
    assert sorted(tuple(r) for r in read_hdr_buckets(spark, bp).collect()) == mk


def test_entity_admission_stream_verdicts_restart_and_replay(spark, tmp_path):
    """Streaming entity admission (round 9): batch-2 records match the
    batch-1 store through the provably-complete cross-frame blocks
    (typo+same-phone, exact-name+new-phone, typo+new-phone — the
    fuzzy-only case — all matched; new entities admit with -1); a
    checkpointed restart folds only the new file; replaying the last
    batch under its recorded batch_id leaves the store byte-identical
    (the batch_id < current read guard).  The whole admission cycle —
    stream + direct replay — must leave NO persisted blocks behind
    (the route owns its per-batch caches; round-9 fix, pinned here
    alongside the HTTP-route pin in test_http)."""
    from pyspark.sql import types as T

    cached_before = _persistent_rdd_ids(spark)

    from csv_query_engine_spark.streaming import (
        read_entity_store,
        route_entity_admission_batch,
        run_batches,
    )

    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("phone", T.StringType()),
            T.StructField("city", T.IntegerType()),
            T.StructField("segment", T.StringType()),
            T.StructField("bal_cents", T.LongType()),
        ]
    )
    base = [
        (10, "customer#000000001", "5-111", 5, "BUILDING", 10000),
        (20, "customer#000000002", "7-222", 7, "MACHINERY", 20000),
        (30, "customer#000000003", "9-333", 9, "FURNITURE", 30000),
    ]
    # batch 2: one dup of each planted kind + one genuinely new entity
    later = [
        (11, "cstomer#000000001", "5-111", 5, "BUILDING", 10000),   # typo + phone
        (21, "customer#000000002", "7-999", 7, "MACHINERY", 20000),  # exact name, new phone
        (31, "cstomer#000000003", "9-888", 9, "FURNITURE", 30000),   # typo + new phone (fuzzy-only)
        (40, "customer#000000099", "1-444", 1, "AUTOMOBILE", 40000),  # new
    ]
    staged = str(tmp_path / "staged")
    spark.createDataFrame(base, schema).coalesce(1).write.mode("overwrite").parquet(staged)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(staged)
        q = run_batches(stream, ckpt, route_entity_admission_batch, store_dir=store)
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(later, schema).coalesce(1).write.mode("append").parquet(staged)
    run_once()  # restart: only the new file folds in

    recs, _ = read_entity_store(spark, store)
    got = {r["rec_id"]: r["matched_to"] for r in recs.collect()}
    assert got == {10: -1, 20: -1, 30: -1, 11: 10, 21: 20, 31: 30, 40: -1}, got

    # replay the LAST batch under its recorded batch_id: byte-identical
    import glob
    import re as _re

    parts = sorted(
        int(_re.search(r"batch_id=(\d+)", p).group(1))
        for p in glob.glob(f"{store}/records/batch_id=*")
    )
    before = sorted(tuple(r) for r in recs.collect())
    route_entity_admission_batch(
        spark.createDataFrame(later, schema), parts[-1], store
    )
    after, _ = read_entity_store(spark, store)
    assert sorted(tuple(r) for r in after.collect()) == before

    leaked = _persistent_rdd_ids(spark) - cached_before
    assert not leaked, f"admission cycle leaked persisted blocks: {leaked}"


def test_join_view_stream_maintains_and_replays(spark, tmp_path):
    """Streaming join-view IVM (round 10): copy-on-write bucket
    rewrites track fact ⋈ dim under upserts/deletes, emptied buckets'
    directories are removed, and replaying a batch is row-idempotent."""
    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "dk int, seg string"
    )
    schema = "fk int, dk int, v double, seg string, _b int"
    n_buckets = 16

    def fact_rows(rows):
        return spark.createDataFrame(
            rows, "fk int, dk int, v double, change_type string"
        )

    def view_rows():
        return sorted(
            (r["fk"], r["dk"], r["v"], r["seg"])
            for r in read_join_view(spark, view_dir, schema).collect()
        )

    # batch 0: initial load (all upserts)
    b0 = [(1, 10, 1.0, "upsert"), (2, 20, 2.0, "upsert"), (3, 30, 3.0, "upsert"),
          (4, 10, 4.0, "upsert")]
    route_join_view_batch(fact_rows(b0), 0, view_dir, dim, ["fk"], ["dk"], n_buckets)
    assert view_rows() == [(1, 10, 1.0, "x"), (2, 20, 2.0, "y"),
                           (3, 30, 3.0, "z"), (4, 10, 4.0, "x")]

    # find a key ALONE in its bucket so its delete EMPTIES the bucket
    from pyspark.sql import functions as SF

    bdf = spark.createDataFrame([(k,) for k, *_ in b0], "fk int").select(
        "fk", SF.pmod(SF.xxhash64("fk"), SF.lit(n_buckets)).cast("int").alias("_b")
    )
    counts = bdf.groupBy("_b").count().collect()
    solo_buckets = {r["_b"] for r in counts if r["count"] == 1}
    solo = [r["fk"] for r in bdf.collect() if r["_b"] in solo_buckets]
    assert solo, "fixture must have at least one solo-bucket key"
    gone = solo[0]
    survivors = {(1, 10, 1.0, "x"), (2, 20, 2.0, "y"),
                 (3, 30, 3.0, "z"), (4, 10, 4.0, "x")}
    survivors = {t for t in survivors if t[0] != gone}

    # batch 1: delete the solo key, update fk=2, insert fk=5
    b1 = [(gone, 10, 0.0, "delete"), (2, 20, 22.0, "upsert"), (5, 30, 5.0, "upsert")]
    expect = sorted(
        ({t for t in survivors if t[0] != 2} | {(2, 20, 22.0, "y"), (5, 30, 5.0, "z")})
        if gone != 2
        else (survivors | {(2, 20, 22.0, "y"), (5, 30, 5.0, "z")})
    )
    route_join_view_batch(fact_rows(b1), 1, view_dir, dim, ["fk"], ["dk"], n_buckets)
    assert view_rows() == expect
    # the emptied bucket's directory is gone (when the delete emptied one)
    import os

    dirs = {d for d in os.listdir(view_dir) if d.startswith("_b=")}
    live_buckets = {
        r["_b"]
        for r in read_join_view(spark, view_dir, schema).select("_b").distinct().collect()
    }
    assert dirs == {f"_b={b}" for b in live_buckets}

    # replay batch 1 (at-least-once): row-identical store
    route_join_view_batch(fact_rows(b1), 1, view_dir, dim, ["fk"], ["dk"], n_buckets)
    assert view_rows() == expect


def test_join_view_live_stream(spark, tmp_path):
    """End-to-end through a file-source stream with a checkpoint: two
    availableNow passes maintain the view exactly once each."""
    from csv_query_engine_spark.streaming.events import join_view_stream, read_join_view

    src = tmp_path / "src"
    view_dir, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    dim = spark.createDataFrame([(10, "x"), (20, "y")], "dk int, seg string")
    schema = "fk int, dk int, v double, seg string, _b int"
    fschema = "fk int, dk int, v double, change_type string"
    spark.createDataFrame(
        [(1, 10, 1.0, "upsert"), (2, 20, 2.0, "upsert")], fschema
    ).write.parquet(str(src))
    stream = spark.readStream.schema(fschema).parquet(str(src))
    q = join_view_stream(stream, view_dir, dim, ["fk"], ["dk"], ckpt)
    q.awaitTermination(120)
    got = {(r["fk"], r["v"], r["seg"]) for r in read_join_view(spark, view_dir, schema).collect()}
    assert got == {(1, 1.0, "x"), (2, 2.0, "y")}

    spark.createDataFrame(
        [(1, 10, 0.0, "delete"), (3, 20, 3.0, "upsert")], fschema
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(fschema).parquet(str(src))
    q = join_view_stream(stream, view_dir, dim, ["fk"], ["dk"], ckpt)
    q.awaitTermination(120)
    got = {(r["fk"], r["v"], r["seg"]) for r in read_join_view(spark, view_dir, schema).collect()}
    assert got == {(2, 2.0, "y"), (3, 3.0, "y")}


def test_join_view_live_stream_auto_compacts(spark, tmp_path):
    """join_view_stream's maintenance slot (round 11): with
    compact_every, the Nth batch's foreachBatch call compacts hot
    buckets in the SAME serialized slot as the rewrites — files per
    bucket stay bounded across a fragmenting availableNow pass and the
    view contents are preserved."""
    from csv_query_engine_spark.streaming.events import (
        join_view_file_census,
        join_view_stream,
        read_join_view,
    )

    src = tmp_path / "src"
    view_dir, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    schema = "fk int, dk int, mon string, v double, seg string, _b string"
    fschema = "fk int, dk int, mon string, v double, change_type string"
    # 4 source files -> 4 micro-batches (maxFilesPerTrigger=1), all into
    # ONE month bucket; each batch's rows arrive 4-way repartitioned so
    # every rewrite fragments the bucket
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i, 10, "2024-01", float(i), "upsert") for i in range(4)],
            fschema,
        ).repartition(4).write.mode("append").parquet(str(src / str(b)))
    stream = (
        spark.readStream.schema(fschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = join_view_stream(
        stream, view_dir, dim, ["fk"], ["dk"], ckpt,
        bucket_expr=F.col("mon"),
        compact_every=4, compact_schema=schema, max_files_per_bucket=1,
    )
    q.awaitTermination(180)
    rows = read_join_view(spark, view_dir, schema)
    assert rows.count() == 16
    # the 4th batch's slot compacted: one file left in the hot bucket
    census = join_view_file_census(spark, view_dir)
    assert set(census) == {"2024-01"}
    assert census["2024-01"][1] == 1, census


def test_contamination_stream_equals_batch_and_replays(spark, tmp_path):
    """Streaming semantic-decontamination (round 11): per-batch verdicts
    accumulated batch_id-keyed equal the one-shot batch screen over the
    union, and a replayed batch rewrites its partition identically (the
    accumulated-state idiom)."""
    from csv_query_engine_spark.pipeline.similarity import semantic_contamination
    from csv_query_engine_spark.streaming.events import (
        read_contamination_verdicts,
        route_contamination_batch,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bench = e.filter(F.col("vec_id") % 37 == 0)
    b0 = e.filter(F.col("vec_id") % 2 == 0)
    b1 = e.filter(F.col("vec_id") % 2 == 1)
    vdir = str(tmp_path / "verdicts")
    route_contamination_batch(b0, 0, vdir, bench)
    route_contamination_batch(b1, 1, vdir, bench)
    got = {
        r["vec_id"]: (r["contaminated"], r["max_cosine"], r["matched_bench_id"])
        for r in read_contamination_verdicts(spark, vdir).collect()
    }
    want = {
        r["vec_id"]: (r["contaminated"], r["max_cosine"], r["matched_bench_id"])
        for r in semantic_contamination(e, bench, threshold=0.9).collect()
    }
    assert got == want
    # replay batch 1: store unchanged
    route_contamination_batch(b1, 1, vdir, bench)
    again = {
        r["vec_id"]: (r["contaminated"], r["max_cosine"], r["matched_bench_id"])
        for r in read_contamination_verdicts(spark, vdir).collect()
    }
    assert again == want
    # empty store reads empty, other paths raise
    assert read_contamination_verdicts(spark, str(tmp_path / "nope")).count() == 0


def test_census_stream_and_drift_timeline(spark, tmp_path):
    """Streaming census monitor (round 10): per-batch table_profile
    snapshots batch_id-keyed; the drift reader pairs consecutive
    batches from the STORE alone (data never re-read) and flags the
    planted null-rate regression and type change."""
    from csv_query_engine_spark.streaming.events import (
        read_census_drift,
        route_census_batch,
    )

    census = str(tmp_path / "census")
    b0 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k int, s string, v double")
    route_census_batch(b0, 0, census)
    # batch 1: null-rate regression in s, v widened... (schema change)
    b1 = spark.createDataFrame([(3, None, 3), (4, "d", 4)], "k int, s string, v bigint")
    route_census_batch(b1, 1, census)

    drift = read_census_drift(spark, census).collect()
    by = {(r["from_batch"], r["to_batch"], r["column_name"]): r for r in drift}
    assert set(by) == {(0, 1, "k"), (0, 1, "s"), (0, 1, "v")}
    assert by[(0, 1, "s")]["status"] == "ok"
    assert by[(0, 1, "s")]["null_ppm_old"] == 0
    assert by[(0, 1, "s")]["null_ppm_new"] == 500000
    assert by[(0, 1, "v")]["status"] == "type_changed"

    # replay batch 1: census recomputes identically, timeline unchanged
    route_census_batch(b1, 1, census)
    drift2 = sorted(map(tuple, read_census_drift(spark, census).collect()))
    assert drift2 == sorted(map(tuple, drift))

    # empty store reads as an empty, correctly-typed timeline
    empty = read_census_drift(spark, str(tmp_path / "census2"))


def test_join_view_custom_bucket_locality(spark, tmp_path):
    """bucket_expr locality: with a month-valued bucket, a one-month
    delta rewrites ONLY that month's partition — the other partition's
    files are untouched on disk (the CoW-pruning point of partitioning
    by a delta-correlated column instead of key hash)."""
    import os

    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x"), (20, "y")], "dk int, seg string")
    schema = "fk int, dk int, mon string, v double, seg string, _b string"
    fschema = "fk int, dk int, mon string, v double, change_type string"
    bexpr = F.col("mon")

    b0 = spark.createDataFrame(
        [(1, 10, "2024-01", 1.0, "upsert"), (2, 20, "2024-01", 2.0, "upsert"),
         (3, 10, "2024-02", 3.0, "upsert"), (4, 20, "2024-02", 4.0, "upsert")],
        fschema,
    )
    route_join_view_batch(b0, 0, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr)
    jan = f"{view_dir}/_b=2024-01"
    feb = f"{view_dir}/_b=2024-02"
    assert os.path.isdir(jan) and os.path.isdir(feb)
    feb_files = {
        f: os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    }

    # delta touches January only
    b1 = spark.createDataFrame(
        [(1, 10, "2024-01", 11.0, "upsert"), (2, 20, "2024-01", 0.0, "delete")],
        fschema,
    )
    route_join_view_batch(b1, 1, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr)
    got = {(r["fk"], r["v"]) for r in read_join_view(spark, view_dir, schema).collect()}
    assert got == {(1, 11.0), (3, 3.0), (4, 4.0)}
    # February partition files are byte-untouched
    feb_after = {
        f: os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    }
    assert feb_after == feb_files


def test_join_view_first_batch_pure_delete_is_noop(spark, tmp_path):
    """A deletes-only FIRST batch (store does not exist yet) must not
    fail and must leave the view readable-as-empty."""
    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    b0 = spark.createDataFrame(
        [(1, 10, 1.0, "delete")], "fk int, dk int, v double, change_type string"
    )
    route_join_view_batch(b0, 0, view_dir, dim, ["fk"], ["dk"])
    schema = "fk int, dk int, v double, seg string, _b int"
    assert read_join_view(spark, view_dir, schema).count() == 0


def test_join_view_emptied_bucket_with_escaped_partition_value(spark, tmp_path):
    """Emptied-bucket cleanup must match Spark's percent-ESCAPED
    partition dir names (ADVICE round 10): a bucket value containing
    ':' writes to ``_b=...%3A...``, so an f-string path built from the
    raw value misses it and 'deleted' rows resurface on the next read.
    The fix lists ``_b=*`` dirs and percent-decodes before matching."""
    import os

    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    schema = "fk int, dk int, hr string, v double, seg string, _b string"
    fschema = "fk int, dk int, hr string, v double, change_type string"
    bexpr = F.col("hr")
    route_join_view_batch(
        spark.createDataFrame(
            [(1, 10, "2024-01-01 10:00", 1.0, "upsert"),
             (2, 10, "2024-01-01 11:00", 2.0, "upsert")],
            fschema,
        ),
        0, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    # Spark escapes ':' in partition dir names
    dirs = {d for d in os.listdir(view_dir) if d.startswith("_b=")}
    assert any("%3A" in d for d in dirs), dirs
    # delete the ONLY row of the 10:00 bucket -> bucket must vanish
    route_join_view_batch(
        spark.createDataFrame(
            [(1, 10, "2024-01-01 10:00", 1.0, "delete")], fschema
        ),
        1, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    rows = read_join_view(spark, view_dir, schema).collect()
    assert [(r["fk"], r["v"]) for r in rows] == [(2, 2.0)]
    dirs_after = {d for d in os.listdir(view_dir) if d.startswith("_b=")}
    assert len(dirs_after) == 1 and "11" in next(iter(dirs_after)), dirs_after
    # compaction must also resolve ESCAPED dir names: fragment the
    # surviving ':'-valued bucket, then compact it back to one file
    from csv_query_engine_spark.streaming.events import (
        compact_join_view,
        join_view_file_census,
    )

    for b in (2, 3):
        route_join_view_batch(
            spark.createDataFrame(
                [(100 + b * 10 + i, 10, "2024-01-01 11:00", 1.0, "upsert") for i in range(3)],
                fschema,
            ).repartition(3),
            b, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
        )
    val = "2024-01-01 11:00"
    assert join_view_file_census(spark, view_dir)[val][1] > 1
    audit = compact_join_view(spark, view_dir, schema, max_files_per_bucket=1)
    assert audit["buckets_compacted"] == 1 and audit["files_after"] == 1
    assert join_view_file_census(spark, view_dir)[val][1] == 1
    assert read_join_view(spark, view_dir, schema).count() == 7


def test_join_view_dim_batch_stream_equals_batch_and_replays(spark, tmp_path):
    """Dim-side streaming maintenance (round 11): attribute updates
    overwrite the dim-owned columns across every touched bucket,
    equal to the BATCH refresh_join_view_dim over the same view;
    untouched buckets' files stay byte-untouched; a replayed dim batch
    is a no-op (idempotent); a dim-key delete retracts its rows and
    removes buckets it empties."""
    import os

    from csv_query_engine_spark.operators.merge import refresh_join_view_dim
    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
        route_join_view_dim_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x"), (20, "y")], "dk int, seg string")
    schema = "fk int, dk int, mon string, v double, seg string, _b string"
    fschema = "fk int, dk int, mon string, v double, change_type string"
    dschema = "dk int, seg string, change_type string"
    bexpr = F.col("mon")
    # jan holds dk 10+20, feb holds ONLY dk 20
    b0 = spark.createDataFrame(
        [(1, 10, "2024-01", 1.0, "upsert"), (2, 20, "2024-01", 2.0, "upsert"),
         (3, 20, "2024-02", 3.0, "upsert"), (4, 20, "2024-02", 4.0, "upsert")],
        fschema,
    )
    route_join_view_batch(b0, 0, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr)
    feb = f"{view_dir}/_b=2024-02"
    feb_files = {f: os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)}

    # batch-equivalence oracle computed BEFORE mutating the store
    pre = read_join_view(spark, view_dir, schema)
    d1 = spark.createDataFrame([(10, "x2", "update")], dschema)
    expected = {
        tuple(r)
        for r in refresh_join_view_dim(pre, d1, ["dk"], ["seg"]).collect()
    }
    route_join_view_dim_batch(d1, 1, view_dir, ["dk"], ["seg"], schema)
    got = {tuple(r) for r in read_join_view(spark, view_dir, schema).collect()}
    assert got == expected
    assert {r["seg"] for r in read_join_view(spark, view_dir, schema)
            .filter(F.col("dk") == 10).collect()} == {"x2"}
    # dk=10 lives only in jan -> feb untouched on disk
    feb_after = {f: os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)}
    assert feb_after == feb_files
    # replay: same dim batch again -> store identical
    route_join_view_dim_batch(d1, 1, view_dir, ["dk"], ["seg"], schema)
    assert {tuple(r) for r in read_join_view(spark, view_dir, schema).collect()} == got
    # delete dk=20: feb bucket fully emptied -> directory removed
    d2 = spark.createDataFrame([(20, "", "delete")], dschema)
    route_join_view_dim_batch(d2, 2, view_dir, ["dk"], ["seg"], schema)
    rows = read_join_view(spark, view_dir, schema).collect()
    assert {(r["fk"], r["seg"]) for r in rows} == {(1, "x2")}
    assert not os.path.isdir(feb)
    # replayed delete: still a no-op
    route_join_view_dim_batch(d2, 2, view_dir, ["dk"], ["seg"], schema)
    assert {(r["fk"],) for r in read_join_view(spark, view_dir, schema).collect()} == {(1,)}
    # dim-route file sizing: a tiny target rolls one file per row on the
    # rewritten bucket (the fact route's knob, threaded symmetrically)
    import os as _os

    route_join_view_batch(
        spark.createDataFrame(
            [(6, 10, "2024-01", 6.0, "upsert"), (7, 10, "2024-01", 7.0, "upsert")],
            fschema,
        ),
        3, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    route_join_view_dim_batch(
        spark.createDataFrame([(10, "x3", "update")], dschema),
        4, view_dir, ["dk"], ["seg"], schema, target_file_bytes=1,
    )
    jan = f"{view_dir}/_b=2024-01"
    n_files = sum(1 for f in _os.listdir(jan) if not f.startswith(("_", ".")))
    assert n_files >= 3  # one file per row under the tiny target
    assert {r["seg"] for r in read_join_view(spark, view_dir, schema).collect()} == {"x3"}


def test_join_view_compaction_bounds_files_per_bucket(spark, tmp_path):
    """Long-stream file hygiene (round 11): many micro-batches fragment
    a hot bucket; compact_join_view rewrites ONLY the hot buckets
    bucket-local and bounds files-per-bucket, with the audit knobs
    returned and the view contents byte-identical."""
    import os

    from csv_query_engine_spark.streaming.events import (
        compact_join_view,
        join_view_file_census,
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    schema = "fk int, dk int, mon string, v double, seg string, _b string"
    fschema = "fk int, dk int, mon string, v double, change_type string"
    bexpr = F.col("mon")
    # 6 batches, each upserting NEW keys into the same month bucket —
    # every rewrite re-reads kept rows and appends, and the multi-task
    # union fragments the bucket a little more each time
    for b in range(6):
        batch = spark.createDataFrame(
            [(b * 10 + i, 10, "2024-01", float(b * 10 + i), "upsert") for i in range(5)],
            fschema,
        ).repartition(4)
        route_join_view_batch(batch, b, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr)
    census = join_view_file_census(spark, view_dir)
    assert set(census) == {"2024-01"}
    name, n_before = census["2024-01"]
    assert n_before > 1  # fragmented
    before = {(r["fk"], r["v"]) for r in read_join_view(spark, view_dir, schema).collect()}
    assert len(before) == 30
    audit = compact_join_view(spark, view_dir, schema, max_files_per_bucket=1)
    assert audit["buckets_compacted"] == 1
    assert audit["files_before"] == n_before
    assert audit["files_after"] == 1  # one bucket-local writer task
    assert audit["max_records_per_file"] >= 30
    after = {(r["fk"], r["v"]) for r in read_join_view(spark, view_dir, schema).collect()}
    assert after == before
    # idempotent / no-op second run: nothing left over the threshold
    audit2 = compact_join_view(spark, view_dir, schema, max_files_per_bucket=1)
    assert audit2["buckets_compacted"] == 0
    # per-batch maxRecordsPerFile threading: a tiny target forces the
    # next rewrite to roll multiple small files (size knob reaches the
    # CoW write path)
    batch = spark.createDataFrame(
        [(100 + i, 10, "2024-01", float(i), "upsert") for i in range(8)], fschema
    )
    route_join_view_batch(
        batch, 7, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr, target_file_bytes=1
    )
    _, n_tiny = join_view_file_census(spark, view_dir)["2024-01"]
    assert n_tiny >= 38  # maxRecordsPerFile=1 -> one file per row
    rows = read_join_view(spark, view_dir, schema)
    assert rows.count() == 38
    # and compaction heals the fragmentation it caused
    audit3 = compact_join_view(spark, view_dir, schema, max_files_per_bucket=4)
    assert audit3["files_after"] == 1
    assert {r["fk"] for r in read_join_view(spark, view_dir, schema).collect()} == (
        {r0 for r0, _ in before} | {100 + i for i in range(8)}
    )


def test_join_view_null_bucket_value_raises(spark, tmp_path):
    """A bucket_expr that yields NULL must RAISE (round 11): a NULL
    bucket writes __HIVE_DEFAULT_PARTITION__, which the string-matched
    emptied-bucket cleanup can never target — totality is enforced,
    never silently mis-stored."""
    import pytest

    from csv_query_engine_spark.streaming.events import route_join_view_batch

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    b0 = spark.createDataFrame(
        [(1, 10, None, 1.0, "upsert")],
        "fk int, dk int, mon string, v double, change_type string",
    )
    with pytest.raises(ValueError, match="NULL"):
        route_join_view_batch(
            b0, 0, view_dir, dim, ["fk"], ["dk"], bucket_expr=F.col("mon")
        )
    # MIXED NULL/non-NULL batch (ADVICE round 11): sorted() over the
    # touched values used to raise TypeError ('<' vs NoneType) BEFORE
    # the diagnostic — the NULL check must run first.
    b1 = spark.createDataFrame(
        [(1, 10, "2024-01", 1.0, "upsert"), (2, 10, None, 2.0, "upsert")],
        "fk int, dk int, mon string, v double, change_type string",
    )
    with pytest.raises(ValueError, match="NULL"):
        route_join_view_batch(
            b1, 0, view_dir, dim, ["fk"], ["dk"], bucket_expr=F.col("mon")
        )


def test_join_view_bucket_columns_are_immutable_contract(spark, tmp_path):
    """The documented HARD contract: a delete whose bucket value
    differs from the stored row's cannot remove it (only touched
    buckets are read); the supported move is delete-with-OLD-values +
    insert-with-new."""
    from csv_query_engine_spark.streaming.events import (
        read_join_view,
        route_join_view_batch,
    )

    view_dir = str(tmp_path / "view")
    dim = spark.createDataFrame([(10, "x")], "dk int, seg string")
    schema = "fk int, dk int, mon string, v double, seg string, _b string"
    fschema = "fk int, dk int, mon string, v double, change_type string"
    bexpr = F.col("mon")
    route_join_view_batch(
        spark.createDataFrame([(1, 10, "2024-01", 1.0, "upsert")], fschema),
        0, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    # WRONG: delete carries a different month -> stored row survives
    route_join_view_batch(
        spark.createDataFrame([(1, 10, "2024-02", 1.0, "delete")], fschema),
        1, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    assert read_join_view(spark, view_dir, schema).count() == 1
    # RIGHT: delete with the stored bucket value + insert into the new
    route_join_view_batch(
        spark.createDataFrame(
            [(1, 10, "2024-01", 1.0, "delete"), (1, 10, "2024-02", 5.0, "upsert")],
            fschema,
        ),
        2, view_dir, dim, ["fk"], ["dk"], bucket_expr=bexpr,
    )
    rows = read_join_view(spark, view_dir, schema).collect()
    assert [(r["fk"], r["mon"], r["v"]) for r in rows] == [(1, "2024-02", 5.0)]


def test_compact_batch_store_min_and_max_stores(spark, tmp_path):
    """Round-12 store maintenance: compacting a MIN store (minhash
    bucket mins) folds old batch partitions into one with the merged
    reads unchanged, later batches still screen against it, re-running
    is a no-op, and SUM stores are refused (crash-window double-count)."""
    import pytest

    from csv_query_engine_spark.streaming.events import (
        compact_batch_store,
        read_minhash_bucket_mins,
        read_minhash_verdicts,
        route_minhash_admission_batch,
    )

    store = str(tmp_path / "mh")
    near = BASE_DOC.replace("papa", "quebec")
    route_minhash_admission_batch(
        spark.createDataFrame([(1, BASE_DOC)], "doc_id long, text string"), 0, store
    )
    route_minhash_admission_batch(
        spark.createDataFrame(
            [(2, "totally different words one two three four five six")],
            "doc_id long, text string",
        ),
        1,
        store,
    )
    route_minhash_admission_batch(
        spark.createDataFrame([(3, "yet another unrelated doc")], "doc_id long, text string"),
        2,
        store,
    )
    mins_schema = "band INT, bucket BIGINT, min_id BIGINT, batch_id BIGINT"
    before = sorted(
        map(tuple, read_minhash_bucket_mins(spark, store).collect())
    )
    removed = compact_batch_store(
        spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id", "min"
    )
    assert removed == 1  # batches 0 and 1 folded into partition 1
    assert sorted(map(tuple, read_minhash_bucket_mins(spark, store).collect())) == before
    batches = {
        r["batch_id"]
        for r in spark.read.schema(mins_schema).parquet(f"{store}/mins").collect()
    }
    assert batches == {1, 2}
    # a later batch still screens against the compacted state
    route_minhash_admission_batch(
        spark.createDataFrame([(4, near)], "doc_id long, text string"), 3, store
    )
    v = {r["doc_id"]: (r["is_dup"], r["dup_of"]) for r in read_minhash_verdicts(spark, store).collect()}
    assert v[4] == (True, 1)
    # idempotent: nothing below the chosen bound remains
    assert (
        compact_batch_store(
            spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id", "min",
            upto_batch=1,
        )
        == 0
    )
    # SUM stores are refused with the rationale
    with pytest.raises(ValueError, match="min/max"):
        compact_batch_store(
            spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id", "sum"
        )


def test_compact_batch_store_hll_registers(spark, tmp_path):
    """The MAX face: HLL register partitions compact with estimates
    unchanged (register MAX-merge is the sketch's own contract)."""
    from csv_query_engine_spark.streaming.events import (
        compact_batch_store,
        read_hll_registers,
        route_hll_batch,
    )

    regs = str(tmp_path / "regs")
    for b in range(3):
        df = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("user_id"), F.lit("t").alias("type")
        )
        route_hll_batch(df, b, "user_id", "type", regs)
    before = sorted(map(tuple, read_hll_registers(spark, regs, "type").collect()))
    removed = compact_batch_store(
        spark,
        regs,
        "type STRING, b BIGINT, mb INT, batch_id BIGINT",
        ["type", "b"],
        "mb",
        "max",
    )
    assert removed == 1
    assert sorted(map(tuple, read_hll_registers(spark, regs, "type").collect())) == before


def test_centroid_store_merge_drift_and_replay(spark, tmp_path):
    """Round-12 embedding-centroid monitor: the SUM-merged store equals
    label_centroids over the union BIT-FOR-BIT (quantize-before-sum
    makes the state exactly mergeable), identical consecutive batches
    show zero L2 shift, a planted +0.5 shift on dim 0 shows up in the
    next transition, and a replayed batch rewrites its partition
    byte-identically."""
    from csv_query_engine_spark.pipeline.similarity import label_centroids
    from csv_query_engine_spark.streaming.events import (
        read_centroid_drift,
        read_merged_centroids,
        route_centroid_batch,
    )

    store = str(tmp_path / "cent")
    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("label", "embedding")
        .limit(200)
    )
    shifted = e.select(
        "label",
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.5)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    route_centroid_batch(e, 0, store)
    route_centroid_batch(e, 1, store)        # identical batch
    route_centroid_batch(shifted, 2, store)  # planted dim-0 shift
    # merged == label_centroids on the union, exactly
    # the store casts labels to STRING on write (the HLL group-cast
    # convention) — align the batch twin's key type for the comparison
    union = (
        e.unionByName(e)
        .unionByName(shifted)
        .withColumn("label", F.col("label").cast("string"))
    )
    want = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in label_centroids(union).collect()
    }
    got = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in read_merged_centroids(spark, store).collect()
    }
    assert got == want
    drift = {
        (r["from_batch"], r["to_batch"], r["label"]): r
        for r in read_centroid_drift(spark, store).collect()
    }
    labels = {lbl for (_, _, lbl) in drift}
    for lbl in labels:
        r01 = drift[(0, 1, lbl)]
        assert r01["l2_shift"] == 0.0 and abs(r01["cosine"] - 1.0) < 1e-12
        r12 = drift[(1, 2, lbl)]
        assert abs(r12["l2_shift"] - 0.5) < 1e-5  # the planted dim-0 shift
        assert r12["n_vecs_old"] == r12["n_vecs_new"]
    # replay: re-route batch 2 under its recorded id — store byte-identical
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    route_centroid_batch(shifted, 2, store)
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before


def test_vocab_drift_store_js_and_replay(spark, tmp_path):
    """Round-12 vocabulary-drift monitor: identical consecutive batches
    score JS 0, a planted template/vocabulary swap scores JS far above
    the identical-batch noise floor, the SUM-merged histogram equals
    the one-shot batch histogram over the union, and a replayed batch
    rewrites its partition byte-identically."""
    from csv_query_engine_spark.streaming.events import (
        read_vocab_drift,
        route_vocab_batch,
    )

    store = str(tmp_path / "vocab")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    swapped = spark.createDataFrame(
        [(i, "completely different vocabulary about rockets and telescopes") for i in range(200)],
        "doc_id long, text string",
    )
    route_vocab_batch(docs, 0, store)
    route_vocab_batch(docs, 1, store)     # identical distribution
    route_vocab_batch(swapped, 2, store)  # planted vocabulary swap
    drift = {
        (r["from_batch"], r["to_batch"]): r for r in read_vocab_drift(spark, store).collect()
    }
    assert drift[(0, 1)]["js_divergence"] == 0.0
    assert drift[(1, 2)]["js_divergence"] > 0.3  # ln 2 ~ 0.693 is the max
    assert drift[(0, 1)]["tokens_old"] == drift[(0, 1)]["tokens_new"] > 0
    # merged histogram equals the one-shot histogram over the union
    from csv_query_engine_spark.pipeline.text import tokens as _tokens

    union = docs.unionByName(docs).unionByName(swapped)
    want = {
        r["bucket"]: r["n"]
        for r in union.select(F.explode(_tokens(F.col("text"))).alias("_t"))
        .select(F.pmod(F.xxhash64("_t"), F.lit(1024)).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r["bucket"]: r["n"]
        for r in spark.read.parquet(store)
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert got == want
    # replay: byte-identical partition rewrite
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    route_vocab_batch(swapped, 2, store)
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before


def test_minhash_admission_degenerate_doc_matches_batch_spine(spark, tmp_path):
    """Round-13 ADVICE fix: the streaming verdict spine is now DERIVED
    from the same hashed-shingle table the signatures come from, so it
    is structurally identical to the batch operator's sig-based spine.
    In this implementation NO input is spine-degenerate — short text
    yields one whole-string gram via the greatest(...,1) guard and
    even NULL text hashes to one element ([xxhash64(NULL)]) — so the
    pin is stream==batch INCLUDING NULL-text docs, which both sides
    must carry as non-dup singletons."""
    from csv_query_engine_spark.pipeline.dedup import minhash_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_minhash_verdicts,
        route_minhash_admission_batch,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again zz"),
            (3, None),  # NULL text: zero shingle hashes, no signature
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "mh_degen")
    route_minhash_admission_batch(
        corpus.filter(F.col("doc_id") <= 2), 0, store, threshold=0.5
    )
    route_minhash_admission_batch(
        corpus.filter(F.col("doc_id") == 3), 1, store, threshold=0.5
    )
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    want = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in minhash_dedup_survivors(
            corpus, threshold=0.5, est_margin=None
        ).collect()
    }
    assert got == want
    assert got[3] == (False, -1)  # NULL-text doc: singleton on BOTH sides
    assert got[2] == (True, 1)  # non-vacuous: the near-dup still drops


def test_compact_batch_store_refuses_newest_batch(spark, tmp_path):
    """Round-13 ADVICE fix: an explicit upto_batch at (or past) the
    NEWEST stored batch raises — that batch's foreachBatch may still
    replay and would rewrite the merged partition with batch-only rows
    after the older partitions were deleted."""
    from csv_query_engine_spark.streaming.events import (
        compact_batch_store,
        route_minhash_admission_batch,
    )

    store = str(tmp_path / "mh_guard")
    txt = "the quick brown fox jumps over the lazy dog number %d end"
    for i in range(3):
        route_minhash_admission_batch(
            spark.createDataFrame([(i, txt % i)], "doc_id long, text string"),
            i,
            store,
        )
    mins_schema = "band INT, bucket BIGINT, min_id BIGINT, batch_id BIGINT"
    with pytest.raises(ValueError, match="newest stored batch"):
        compact_batch_store(
            spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id",
            "min", upto_batch=2,
        )
    with pytest.raises(ValueError, match="newest stored batch"):
        compact_batch_store(
            spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id",
            "min", upto_batch=99,
        )
    # strictly below the newest is still fine
    assert (
        compact_batch_store(
            spark, f"{store}/mins", mins_schema, ["band", "bucket"], "min_id",
            "min", upto_batch=1,
        )
        == 1
    )


def test_centroid_batch_null_coordinate_matches_label_centroids(spark, tmp_path):
    """Round-13 ADVICE fix: a NULL vector coordinate must not break the
    bit-identical merge contract — route_centroid_batch now counts
    non-NULL coordinates (F.count('_q')) exactly like label_centroids'
    F.count(v)."""
    from csv_query_engine_spark.pipeline.similarity import label_centroids
    from csv_query_engine_spark.streaming.events import (
        read_merged_centroids,
        route_centroid_batch,
    )

    e = spark.createDataFrame(
        [
            ("a", [1.0, None, 3.0]),
            ("a", [2.0, 5.0, None]),
            ("b", [0.5, 0.25, 0.125]),
        ],
        "label string, embedding array<double>",
    )
    store = str(tmp_path / "cent_null")
    route_centroid_batch(e, 0, store)
    want = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in label_centroids(e).collect()
    }
    got = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
        for r in read_merged_centroids(spark, store).collect()
    }
    assert got == want
    assert got[("a", 1)][1] == 1  # the NULL coordinate is NOT counted


def test_drift_readers_job_count_independent_of_snapshots(spark, tmp_path):
    """Round-13 (round-12 verdict #5): the drift readers run ONE lagged
    self-join over all transitions — Spark job count must not grow with
    the number of stored snapshots (the old readers paid one-plus
    driver round-trips per transition)."""
    from csv_query_engine_spark.streaming.events import (
        read_vocab_drift,
        route_vocab_batch,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    sc = spark.sparkContext

    def jobs_for(n_batches, tag):
        store = str(tmp_path / f"vocab_{n_batches}")
        for b in range(n_batches):
            route_vocab_batch(docs, b, store)
        sc.setJobGroup(tag, tag)
        rows = read_vocab_drift(spark, store).collect()
        sc.setJobGroup("idle", "idle")
        assert len(rows) == n_batches - 1
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    j3 = jobs_for(3, "drift_j3")
    j8 = jobs_for(8, "drift_j8")
    # identical per-batch data -> identical plan shape; AQE stage
    # materializations give a constant, snapshot-independent job count
    assert j8 <= j3 + 1, (j3, j8)


def test_compact_sum_store_two_phase_commit_swap(spark, tmp_path):
    """Round-13 (round-12 verdict #3): SUM stores compact through the
    two-phase-commit generation swap — merged state equals the uncompacted
    SUM in EVERY crash window (staged-without-marker, marker-without-
    deletes) and under a replayed newest batch; raw partition count is
    bounded afterwards."""
    import glob

    from pyspark.sql import types as T

    from csv_query_engine_spark.streaming.events import (
        _latest_committed_gen,
        compact_sum_store,
        read_cm_cells,
        route_cm_batch,
    )

    schema = T.StructType([T.StructField("user_id", T.LongType())])
    cells_p = str(tmp_path / "cells")
    batches = [
        [(i % 5,) for i in range(40)],
        [(i % 7,) for i in range(30)],
        [(i % 3,) for i in range(20)],
        [(i % 11,) for i in range(25)],
    ]
    for b, rows in enumerate(batches):
        route_cm_batch(spark.createDataFrame(rows, schema), b, "user_id", cells_p, 4, 8)
    want = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    cm_schema = "r INT, c BIGINT, cnt BIGINT, batch_id BIGINT"

    # guard: the newest batch is refused (replay could rewrite it)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="newest stored batch"):
        compact_sum_store(spark, cells_p, cm_schema, ["r", "c"], "cnt", upto_batch=3)

    # crash window 1: staged data, NO marker -> invisible to readers
    spark.createDataFrame([(0, 0, 99999, 1)], cm_schema).write.mode(
        "overwrite"
    ).parquet(f"{cells_p}/_gen/1/data")
    got = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert got == want
    assert _latest_committed_gen(spark, cells_p) is None

    # real compaction up to batch 2 (re-stages over the crashed attempt's dir tree)
    removed = compact_sum_store(spark, cells_p, cm_schema, ["r", "c"], "cnt", upto_batch=2)
    assert removed == 3
    assert _latest_committed_gen(spark, cells_p) == 2
    got = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert got == want
    raw_parts = glob.glob(f"{cells_p}/batch_id=*")
    assert len(raw_parts) == 1 and raw_parts[0].endswith("batch_id=3")

    # crash window 2: a stale raw partition at-or-below the committed
    # generation (deletes never ran) must NOT double-count
    route_cm_batch(spark.createDataFrame(batches[1], schema), 1, "user_id", cells_p, 4, 8)
    got = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert got == want

    # replayed NEWEST batch: rewrites its raw partition, read unchanged
    route_cm_batch(spark.createDataFrame(batches[3], schema), 3, "user_id", cells_p, 4, 8)
    got = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert got == want

    # idempotent: nothing below the committed generation remains
    assert compact_sum_store(spark, cells_p, cm_schema, ["r", "c"], "cnt", upto_batch=2) == 0

    # a later batch + second compaction folds generation + newer raws
    route_cm_batch(spark.createDataFrame([(i % 2,) for i in range(10)], schema), 4, "user_id", cells_p, 4, 8)
    want2 = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert compact_sum_store(spark, cells_p, cm_schema, ["r", "c"], "cnt") > 0
    assert _latest_committed_gen(spark, cells_p) == 3
    got = {(r["r"], r["c"]): r["cnt"] for r in read_cm_cells(spark, cells_p).collect()}
    assert got == want2


def test_compact_sum_store_hdr_quantiles_unchanged(spark, tmp_path):
    """The HDR face of the SUM swap: quantile estimates are identical
    before and after compaction."""
    from pyspark.sql import types as T

    from csv_query_engine_spark.streaming.events import (
        compact_sum_store,
        read_hdr_buckets,
        route_hdr_batch,
    )

    schema = T.StructType([T.StructField("price", T.DoubleType())])
    p = str(tmp_path / "hdr")
    import random

    rnd = random.Random(13)
    for b in range(3):
        rows = [(rnd.uniform(1.0, 1000.0),) for _ in range(200)]
        route_hdr_batch(spark.createDataFrame(rows, schema), b, "price", p)
    before = sorted(map(tuple, read_hdr_buckets(spark, p).collect()))
    assert compact_sum_store(
        spark, p, "e INT, sb BIGINT, cnt BIGINT, batch_id BIGINT", ["e", "sb"], "cnt"
    ) == 2
    after = sorted(map(tuple, read_hdr_buckets(spark, p).collect()))
    assert after == before


def test_minhash_admission_reconcile_closes_arrival_order_gap(spark, tmp_path):
    """Round-13 (round-12 verdict #4): under NON-ascending arrival a doc
    can verify before its global bucket min arrives (greedy admit);
    reconcile_minhash_admission re-verdicts exactly the affected docs
    and restores stream==batch.  The planted corpus guarantees the gap
    is NON-VACUOUS: the template's smallest id arrives LAST, so every
    earlier near-dup verified against a larger (or absent) min."""
    from csv_query_engine_spark.pipeline.dedup import minhash_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_minhash_verdicts,
        reconcile_minhash_admission,
        route_minhash_admission_batch,
    )

    base = "the quick brown fox jumps over the lazy dog again and again every day"
    rows = [
        (1, base),                      # global min of the template cluster
        (50, base + " tail one"),
        (51, base + " tail two"),
        (80, "a completely unrelated document about parquet shuffles and joins"),
        (81, base + " tail three"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "mh_rec")
    # REVERSED arrival: the cluster min (doc 1) lands in the LAST batch
    arrival = [[80, 81], [50, 51], [1]]
    for b, ids in enumerate(arrival):
        route_minhash_admission_batch(
            corpus.filter(F.col("doc_id").isin(ids)), b, store, threshold=0.5
        )
    want = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["dup_jaccard"])
        for r in minhash_dedup_survivors(corpus, threshold=0.5, est_margin=None).collect()
    }
    got_greedy = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    # the order gap is real on this corpus
    assert got_greedy != {k: v[:2] for k, v in want.items()}
    n = reconcile_minhash_admission(spark, store, threshold=0.5)
    assert n > 0
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["dup_jaccard"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    assert got == want
    assert want[50][:2] == (True, 1) and want[81][:2] == (True, 1)  # non-vacuous
    # idempotent: a second pass finds nothing left to fix
    assert reconcile_minhash_admission(spark, store, threshold=0.5) == 0
    # a REPLAY of a reconciled batch rewrites greedy verdicts and drops
    # the watermark; the next maintenance pass restores equality
    route_minhash_admission_batch(
        corpus.filter(F.col("doc_id").isin([50, 51])), 1, store, threshold=0.5
    )
    replayed = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    # greedy verdicts are back for batch 1
    assert replayed != {k: v[:2] for k, v in want.items()}
    assert reconcile_minhash_admission(spark, store, threshold=0.5) > 0
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["dup_jaccard"])
        for r in read_minhash_verdicts(spark, store).collect()
    }
    assert got == want


def test_minhash_admission_reconcile_noop_on_ascending_arrival(spark, tmp_path):
    """Ascending-id arrival already satisfies stream==batch — the
    reconciliation pass must detect a consistent store and touch
    nothing (0 re-verdicted, verdicts byte-identical)."""
    from csv_query_engine_spark.streaming.events import (
        read_minhash_verdicts,
        reconcile_minhash_admission,
        route_minhash_admission_batch,
    )

    base = "the quick brown fox jumps over the lazy dog again and again every day"
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " x"), (3, "something wholly unrelated to the rest here")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "mh_asc")
    route_minhash_admission_batch(corpus.filter(F.col("doc_id") <= 2), 0, store)
    route_minhash_admission_batch(corpus.filter(F.col("doc_id") == 3), 1, store)
    before = sorted(map(tuple, read_minhash_verdicts(spark, store).collect()))
    assert reconcile_minhash_admission(spark, store) == 0
    assert sorted(map(tuple, read_minhash_verdicts(spark, store).collect())) == before


# ---------------- streaming SEMANTIC admission (round 13, bucket-MIN)


def _sem_unit(vec):
    import math

    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def _sem_vec(seed, dim=64):
    import hashlib

    def h(i, d):
        return (
            int.from_bytes(hashlib.md5(f"{i}:{d}".encode()).digest()[:4], "big")
            / float(1 << 31)
            - 1.0
        )

    return _sem_unit([h(seed, d) for d in range(dim)])


def test_semantic_admission_stream_matches_batch_and_replay(spark, tmp_path):
    """Streaming semantic admission (round 13): on an ascending-id
    batch split the accumulated verdicts EQUAL semantic_dedup_survivors
    over the union, and re-routing the last batch under its recorded
    batch_id leaves every store table byte-identical (the MIN-mergeable
    accumulated-state idiom, embedding face)."""
    from csv_query_engine_spark.pipeline.similarity import semantic_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_semantic_bucket_mins,
        read_semantic_verdicts,
        route_semantic_admission_batch,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    first = e.orderBy("vec_id").limit(1).collect()[0]
    plants = spark.createDataFrame(
        [(9_000_000, [float(x) for x in first["embedding"]])],
        "vec_id long, embedding array<float>",
    )
    corpus = e.unionByName(plants)
    ids = sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    store = str(tmp_path / "sem")
    batches = [
        corpus.filter(F.col("vec_id") < cut1),
        corpus.filter((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)),
        corpus.filter(F.col("vec_id") >= cut2),
    ]
    for i, b in enumerate(batches):
        route_semantic_admission_batch(b, i, store, threshold=0.92)
    got = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in read_semantic_verdicts(spark, store).collect()
    }
    want = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in semantic_dedup_survivors(corpus, threshold=0.92).collect()
    }
    assert got == want
    assert got[9_000_000] == (True, first["vec_id"], 1.0)  # non-vacuous
    mins_before = sorted(
        (r["band"], r["bucket"], r["min_id"])
        for r in read_semantic_bucket_mins(spark, store).collect()
    )
    verd_before = sorted(map(tuple, spark.read.parquet(f"{store}/verdicts").collect()))
    tables_before = {
        t: sorted(map(tuple, spark.read.parquet(f"{store}/{t}").collect()))
        for t in ("vecs", "entries")
    }
    route_semantic_admission_batch(batches[2], 2, store, threshold=0.92)
    assert sorted(
        (r["band"], r["bucket"], r["min_id"])
        for r in read_semantic_bucket_mins(spark, store).collect()
    ) == mins_before
    assert sorted(map(tuple, spark.read.parquet(f"{store}/verdicts").collect())) == verd_before
    for t, rows in tables_before.items():
        assert sorted(map(tuple, spark.read.parquet(f"{store}/{t}").collect())) == rows, t


def test_semantic_admission_reconcile_closes_arrival_order_gap(spark, tmp_path):
    """Under reversed arrival the cluster min lands LAST, so earlier
    copies verified against larger mins (greedy admits);
    reconcile_semantic_admission re-verdicts exactly the affected
    vectors on the shared _stale_min_affected detector and restores
    stream==batch, watermark semantics included."""
    from csv_query_engine_spark.pipeline.similarity import semantic_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_semantic_verdicts,
        reconcile_semantic_admission,
        route_semantic_admission_batch,
    )

    base = _sem_vec(7)
    rows = [
        (1, base),              # global min of the copy cluster
        (50, base),
        (51, base),
        (80, _sem_vec(99)),     # unrelated
        (81, base),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    store = str(tmp_path / "sem_rec")
    arrival = [[80, 81], [50, 51], [1]]
    for b, ids in enumerate(arrival):
        route_semantic_admission_batch(
            corpus.filter(F.col("vec_id").isin(ids)), b, store, threshold=0.92
        )
    want = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in semantic_dedup_survivors(corpus, threshold=0.92).collect()
    }
    got_greedy = {
        r["vec_id"]: (r["is_dup"], r["dup_of"])
        for r in read_semantic_verdicts(spark, store).collect()
    }
    # the order gap is real on this corpus
    assert got_greedy != {k: v[:2] for k, v in want.items()}
    n = reconcile_semantic_admission(spark, store, threshold=0.92)
    assert n > 0
    got = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in read_semantic_verdicts(spark, store).collect()
    }
    assert got == want
    assert want[50][:2] == (True, 1) and want[81][:2] == (True, 1)  # non-vacuous
    assert reconcile_semantic_admission(spark, store, threshold=0.92) == 0
    # replay of a reconciled batch -> greedy verdicts return, watermark
    # drops, the next pass restores equality
    route_semantic_admission_batch(
        corpus.filter(F.col("vec_id").isin([50, 51])), 1, store, threshold=0.92
    )
    assert {
        r["vec_id"]: (r["is_dup"], r["dup_of"])
        for r in read_semantic_verdicts(spark, store).collect()
    } != {k: v[:2] for k, v in want.items()}
    assert reconcile_semantic_admission(spark, store, threshold=0.92) > 0
    assert {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in read_semantic_verdicts(spark, store).collect()
    } == want


def test_semantic_admission_reconcile_noop_on_ascending_arrival(spark, tmp_path):
    from csv_query_engine_spark.streaming.events import (
        read_semantic_verdicts,
        reconcile_semantic_admission,
        route_semantic_admission_batch,
    )

    base = _sem_vec(7)
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, _sem_vec(42))],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "sem_asc")
    route_semantic_admission_batch(corpus.filter(F.col("vec_id") <= 2), 0, store)
    route_semantic_admission_batch(corpus.filter(F.col("vec_id") == 3), 1, store)
    before = sorted(map(tuple, read_semantic_verdicts(spark, store).collect()))
    assert reconcile_semantic_admission(spark, store) == 0
    assert sorted(map(tuple, read_semantic_verdicts(spark, store).collect())) == before


def test_semantic_admission_live_stream_restart(spark, tmp_path):
    """End-to-end through a real file-source stream: two availableNow
    passes over a growing directory; the second pass folds only the new
    file and the accumulated verdicts equal the batch operator over
    everything seen."""
    from csv_query_engine_spark.pipeline.similarity import semantic_dedup_survivors
    from csv_query_engine_spark.streaming.events import (
        read_semantic_verdicts,
        route_semantic_admission_batch,
        run_batches,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = _sem_vec(7)
    part1 = spark.createDataFrame(
        [(1, base), (2, _sem_vec(11))], "vec_id long, embedding array<float>"
    )
    part1.write.parquet(str(src / "p1"))
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run_pass():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = run_batches(
            stream, ckpt, route_semantic_admission_batch, store_dir=store, threshold=0.92
        )
        q.awaitTermination(120)

    run_pass()
    part2 = spark.createDataFrame(
        [(10, base), (11, _sem_vec(23))], "vec_id long, embedding array<float>"
    )
    part2.write.parquet(str(src / "p2"))
    run_pass()
    corpus = part1.unionByName(part2)
    got = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in read_semantic_verdicts(spark, store).collect()
    }
    want = {
        r["vec_id"]: (r["is_dup"], r["dup_of"], r["dup_cosine"])
        for r in semantic_dedup_survivors(corpus, threshold=0.92).collect()
    }
    assert got == want
    assert got[10] == (True, 1, 1.0)  # cross-pass dup caught


_STORE_READERS = {
    "read_minhash_bucket_mins": (),
    "read_minhash_verdicts": (),
    "read_semantic_bucket_mins": (),
    "read_semantic_verdicts": (),
    "read_sum_store": ("r INT, c BIGINT, cnt BIGINT, batch_id BIGINT",),
    "read_cm_cells": (),
    "read_hll_registers": ("grp",),
    "read_bm25_postings": (),
    "read_hdr_buckets": (),
    "read_entity_store": (),
    "read_join_view": ("fk INT, v DOUBLE, _b INT",),
    "read_merged_centroids": (),
    "read_centroid_drift": (),
    "read_vocab_drift": (),
    "read_contamination_verdicts": (),
    "read_census_drift": (),
}


@pytest.mark.parametrize("reader", sorted(_STORE_READERS))
def test_store_reader_reads_fresh_path_as_empty(spark, tmp_path, reader):
    """Every store reader treats a store no batch has written yet (a
    missing path — the first batch) as EMPTY, never as an error; the
    reader list must cover every ``read_*`` store reader of the module."""
    from csv_query_engine_spark.streaming import events as ev

    assert set(_STORE_READERS) == {
        n for n in dir(ev) if n.startswith("read_") and n != "read_events_stream"
    }
    out = getattr(ev, reader)(spark, str(tmp_path / "never_written"), *_STORE_READERS[reader])
    frames = out if isinstance(out, tuple) else (out,)
    assert [f.count() for f in frames] == [0] * len(frames)
