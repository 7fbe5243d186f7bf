"""Structured Streaming tests: availableNow drains must equal the batch
window queries; watermarks must drop late data; the stateful operator
must reproduce the batch aggregate.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

from distributed_computing_platform_mapreduce_spark.plans import QUERIES
from distributed_computing_platform_mapreduce_spark.plans.streaming_batch import (
    window_session,
    window_sliding,
    window_tumbling,
)
from distributed_computing_platform_mapreduce_spark.sources.catalog import load_table
from distributed_computing_platform_mapreduce_spark.streaming.stateful import (
    run_update_to_memory,
    running_user_totals,
)
from distributed_computing_platform_mapreduce_spark.streaming.windows import (
    run_to_memory,
    sessionized_stream,
    sliding_counts_stream,
    stream_events,
    tumbling_counts_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize(
    "stream_fn,batch_name,cols",
    [
        (
            tumbling_counts_stream,
            window_tumbling,
            ["window_start", "event_type", "n_events", "total_value"],
        ),
        (
            sliding_counts_stream,
            window_sliding,
            ["window_start", "n_events", "total_value"],
        ),
        (
            sessionized_stream,
            window_session,
            ["user_id", "session_start", "n_events", "total_value"],
        ),
    ],
)
def test_stream_equals_batch(spark, sf_dir, stream_fn, batch_name, cols):
    # batch_name: registry key, or (post-r5 fold) the plain batch callable
    batch_fn = QUERIES[batch_name] if isinstance(batch_name, str) else batch_name
    name = f"mem_{getattr(batch_name, '__name__', batch_name)}"
    streamed = run_to_memory(spark, stream_fn(stream_events(spark, sf_dir)), name)
    batch = batch_fn(spark, sf_dir)
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_watermark_drops_late_data(spark, tmp_path):
    """Run 1 aggregates on-time data and commits a watermark past the
    10:00 window's end; run 2 (same checkpoint — the restart scenario)
    delivers a late event for that window, which the restored watermark
    must drop. Spark applies the late-event filter with the watermark of
    the previous committed RUN, so the cross-run shape is the correct
    way to observe the drop (within one availableNow run the first
    batch's filter watermark is still 1970)."""
    src = tmp_path / "src"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = pa.schema([("ts", pa.timestamp("us")), ("value", pa.float64())])

    def write(fname, rows, mtime):
        ts, val = zip(*rows)
        pq.write_table(
            pa.table({"ts": list(ts), "value": list(val)}, schema=schema),
            str(src / fname),
        )
        os.utime(src / fname, (mtime, mtime))

    base = 1704103200_000_000  # 2024-01-01T10:00:00 UTC in µs
    minute = 60_000_000
    sschema = StructType(
        [StructField("ts", TimestampType()), StructField("value", DoubleType())]
    )

    def run():
        stream = (
            spark.readStream.schema(sschema)
            .parquet(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .select(F.col("w.start").alias("window_start"), "n", "total")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    write(
        "f0.parquet",
        [
            (base + 0 * minute, 1.0),
            (base + 5 * minute, 2.0),
            (base + 120 * minute, 5.0),  # pushes the watermark to 11:50
        ],
        mtime=1_000_000,
    )
    run()
    write("f1.parquet", [(base + 6 * minute, 100.0)], mtime=2_000_000)  # late
    q2 = run()

    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q2.recentProgress
    )
    assert dropped == 1, "the late row must be dropped by the restored watermark"
    out = {
        r["window_start"].isoformat(): (r["n"], r["total"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert out["2024-01-01T10:00:00"] == (2, 3.0), (
        f"late event must not reach the finalized window, got {out}"
    )


def test_stream_dedup_exact(spark, sf_dir, tmp_path):
    """Streaming exact dedup drops in-horizon duplicates: replaying the
    events file twice into the stream yields each event_id once."""
    import glob
    import shutil

    from distributed_computing_platform_mapreduce_spark.sources.catalog import table_path
    from distributed_computing_platform_mapreduce_spark.streaming.joins_dedup import stream_dedup_exact

    src = tmp_path / "dup_src"
    os.makedirs(src)
    shutil.copy(table_path(sf_dir, "events"), src / "a.parquet")
    shutil.copy(table_path(sf_dir, "events"), src / "b.parquet")

    schema = spark.read.parquet(str(src / "a.parquet")).schema
    from distributed_computing_platform_mapreduce_spark.sources.catalog import nanos_to_ts

    raw = spark.readStream.schema(schema).parquet(str(src))
    stream = stream_dedup_exact(nanos_to_ts(raw, "ts"), ["event_id"], delay="365 days")
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_mem")
    n_unique = spark.read.parquet(str(src / "a.parquet")).count()
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique
    assert glob.glob(str(src / "*.parquet"))  # both files were present


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """Watermarked stream-stream interval join == the batch interval
    join over the same events."""
    from distributed_computing_platform_mapreduce_spark.streaming.joins_dedup import stream_interval_join

    ev = stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    q = (
        stream_interval_join(clicks, purchases)
        .writeStream.format("memory")
        .queryName("ssjoin_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("ssjoin_mem")

    e = load_table(spark, sf_dir, "events")
    bc = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = bc.join(
        bp,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 30 minutes"
        ),
    ).select("c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value")
    cols = ["c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert batch.count() > 0


def test_stateful_running_totals_equals_batch(spark, sf_dir):
    streamed = run_update_to_memory(
        spark, running_user_totals(stream_events(spark, sf_dir)), "stateful_mem"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in streamed.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == pytest.approx(want[uid][1], rel=1e-9)


def test_stream_sample_rate_equals_batch(spark, sf_dir):
    """sample_rate is a stateless priority filter, so it composes with
    Structured Streaming unchanged — the streamed draw must equal the
    batch draw EXACTLY (same (id, seed) hash, no per-partition
    randomness), which is what makes sampled training mixtures
    reproducible across batch and incremental ingestion."""
    from distributed_computing_platform_mapreduce_spark.operators import sampling

    ev = stream_events(spark, sf_dir)
    q = (
        sampling.sample_rate(ev.select("event_id"), "event_id", 0.25, seed=5)
        .writeStream.format("memory")
        .queryName("sampled_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {r["event_id"] for r in spark.table("sampled_mem").collect()}
    batch = {
        r["event_id"]
        for r in sampling.sample_rate(
            load_table(spark, sf_dir, "events").select("event_id"), "event_id", 0.25, seed=5
        ).collect()
    }
    assert streamed == batch and streamed


def test_foreach_batch_sink_idempotent_and_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch parquet sink: (1) availableNow drain through the
    sink equals the batch aggregation; (2) replaying a batch function
    with the SAME batch_id (Spark's failure-recovery contract) replaces
    that batch's partition instead of appending duplicates."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        idempotent_parquet_sink,
        read_sink,
        run_foreach_batch,
    )
    from distributed_computing_platform_mapreduce_spark.streaming.windows import stream_events

    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )
    run_foreach_batch(agg, ckpt, out)

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )
    got = {(r["ws"], r["event_type"]): r["cnt"] for r in read_sink(spark, out).collect()}
    want = {(r["ws"], r["event_type"]): r["cnt"] for r in batch.collect()}
    # append mode emits a window only once the watermark passes its end:
    # emitted rows must match the batch truth exactly, and the held-back
    # remainder must be exactly the tail windows the final watermark
    # (max ts − 1 h) hasn't closed
    import datetime

    assert len(got) > 0 and all(want[k] == v for k, v in got.items())
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(hours=1)
    for ws, _etype in set(want) - set(got):
        assert ws + datetime.timedelta(hours=1) > wm
    want = got  # the emitted snapshot is the baseline for the replay checks

    # replay: re-invoking the batch fn with an already-landed batch_id
    # must leave the sink with the same logical content (no duplicates)
    existing = spark.read.parquet(out)
    replay_ids = [r["__batch_id"] for r in existing.select("__batch_id").distinct().collect()]
    fn = idempotent_parquet_sink(out)
    # materialize first: a lazy self-referential read of the partition
    # being overwritten would race its own deletion
    replay_rows = (
        existing.filter(F.col("__batch_id") == replay_ids[0]).drop("__batch_id").collect()
    )
    some_batch = spark.createDataFrame(replay_rows, existing.drop("__batch_id").schema)
    fn(some_batch, replay_ids[0])
    after = {(r["ws"], r["event_type"]): r["cnt"] for r in read_sink(spark, out).collect()}
    assert after == want
    # and a replay carrying a CORRECTED batch (simulating the retry
    # recomputing slightly different rows) fully replaces the old ones
    fn(some_batch.limit(1), replay_ids[0])
    n_after = read_sink(spark, out).count()
    assert n_after == len(want) - some_batch.count() + 1


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_pbshim_waiver_stays_narrow():
    """r13 VERDICT #7: the protobuf shim's gencode-version waiver must
    stay exactly one-minor-same-major wide — a future pyspark whose
    generated code is produced by a cross-major or ≥2-minor-ahead
    protoc must fail LOUDLY against the vendored runtime, not sail
    through a silently widened waiver. Runs only where the shim is the
    active `google` package (a real protobuf install never loads it)."""
    import google

    shim_init = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "_pbshim", "google", "__init__.py"
    )
    if os.path.abspath(getattr(google, "__file__", "") or "") != shim_init:
        pytest.skip("real protobuf installed; the shim (and its waiver) is inactive")

    from google.protobuf import runtime_version as rv

    validate = rv.ValidateProtobufRuntimeVersion
    loc = "pbshim-waiver-test.proto"
    # exact runtime version: always fine
    validate(rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR, rv.PATCH, "", loc)
    # the waived case the shim exists for: gencode ONE minor ahead
    validate(rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 1, 0, "", loc)
    # two minors ahead: the waiver must NOT stretch
    with pytest.raises(rv.VersionError):
        validate(rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 2, 0, "", loc)
    # cross-major: refuse in both directions
    with pytest.raises(rv.VersionError):
        validate(rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "", loc)
    with pytest.raises(rv.VersionError):
        validate(rv.Domain.PUBLIC, rv.MAJOR - 1, rv.MINOR, 0, "", loc)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state-server protocol needs protobuf; "
    "neither an installed google.protobuf nor the on-disk runtime that "
    "tests/_pbshim routes to is available in this environment",
)
def test_transform_with_state_equals_classic_stateful(spark, sf_dir):
    """Spark 4's transformWithStateInPandas twin of the classic
    applyInPandasWithState running totals: identical results on the
    same stream, and both equal the batch aggregation. Requires the
    RocksDB state store provider (set per-query via the session conf,
    restored after) and the protobuf package (pyspark's [connect]/
    streaming-state extra)."""
    from distributed_computing_platform_mapreduce_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        streamed = run_update_to_memory(
            spark, running_user_totals_tws(stream_events(spark, sf_dir)), "tws_mem"
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value"]) for r in streamed.collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(got) == set(want) and len(got) > 0
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == pytest.approx(want[uid][1], rel=1e-9)


def test_stream_interval_join_outer_equals_batch(spark, sf_dir):
    """LEFT OUTER stream-stream interval join == the batch left join:
    matched rows identical, and every unmatched click emits exactly one
    null-padded row once the watermark closes its window (availableNow
    commits the final watermark, so all windows close)."""
    from distributed_computing_platform_mapreduce_spark.streaming.joins_dedup import (
        stream_interval_join_outer,
    )

    ev = stream_events(spark, sf_dir)
    q = (
        stream_interval_join_outer(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
        .writeStream.format("memory")
        .queryName("ssjoin_outer_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.table("ssjoin_outer_mem")

    e = load_table(spark, sf_dir, "events")
    bc = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = bc.join(
        bp,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 30 minutes"
        ),
        "leftOuter",
    ).select(
        "c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"
    )
    cols = ["c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"]
    got, want = set(_rows(streamed, cols)), set(_rows(batch, cols))
    # a null row is only emitted once the watermark PROVES no match can
    # arrive — clicks whose window end lies beyond the final committed
    # watermark (max purchase ts − 2 h) stay held in state, so the
    # streamed set is the batch set minus exactly those tail rows
    import datetime

    assert got <= want and len(got) > 0
    ets = load_table(spark, sf_dir, "events")
    max_click = ets.filter(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0]
    max_purch = ets.filter(F.col("event_type") == "purchase").agg(F.max("ts")).collect()[0][0]
    # Spark's global watermark is the MIN across watermarked inputs
    # (each from its own stream's max event time)
    global_wm = min(
        max_click - datetime.timedelta(hours=1),
        max_purch - datetime.timedelta(hours=2),
    )
    # left state evicts (emitting the null row) once click_ts falls
    # behind global_wm − upperBound; allow one trigger of slack
    evict_bound = global_wm - datetime.timedelta(minutes=30)
    for row in want - got:
        assert row[3] is None, f"matched row missing from stream: {row}"
        assert row[2] >= evict_bound - datetime.timedelta(minutes=30), row
    # the outer rows are non-vacuous: some clicks really are unmatched
    n_null = streamed.filter(F.col("purchase_id").isNull()).count()
    assert n_null > 0


def test_stream_static_enrichment_equals_batch(spark, sf_dir):
    """Stream-static join: streamed events enriched with the customer
    dim drain (availableNow) to exactly the batch join's rows — nulls
    preserved for facts without a dim row under the left form."""
    from distributed_computing_platform_mapreduce_spark.streaming.joins_dedup import (
        stream_enrich_static,
    )
    from distributed_computing_platform_mapreduce_spark.streaming.windows import run_to_memory, stream_events

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_enrich_static(
        stream_events(spark, sf_dir).select("event_id", "user_id", "value"),
        dim,
        on="user_id",
    )
    # append mode: a stream-static join is stateless row-wise output
    # (run_to_memory's complete mode is for aggregations)
    q = (
        enriched.writeStream.format("memory")
        .queryName("stream_static_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_static_enrich")
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    want = events.join(dim, "user_id", "left")
    cols = ["event_id", "user_id", "value", "c_mktsegment"]
    assert _rows(got.select(*cols), cols) == _rows(want.select(*cols), cols)
    assert got.count() == events.count()  # left join keeps every fact


def test_streaming_windowed_topk_equals_batch(spark, tmp_path):
    """Streaming windowed top-k through the foreachBatch rank+overwrite
    pattern: drained availableNow in update mode, the sink holds
    exactly the batch query's per-window top-3 event types."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import topk_per_window_sink
    from distributed_computing_platform_mapreduce_spark.streaming.windows import stream_events

    sf_dir = "/root/testdata/sf0.01"
    counts = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "event_type", "n_events")
    )
    out = str(tmp_path / "topk")
    q = (
        counts.writeStream.foreachBatch(topk_per_window_sink(out, k=3))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        # partition-column inference reads the string dir back as a
        # timestamp; normalize for the compare
        .select(F.col("window_start").cast("string"), "event_type", "n_events")
        .collect()
    )

    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "event_type", "n_events")
    )
    wspec = W.partitionBy("window_start").orderBy(F.col("n_events").desc(), "event_type")
    want = sorted(
        tuple(r)
        for r in batch.withColumn("rk", F.row_number().over(wspec))
        .filter("rk <= 3")
        .drop("rk")
        .collect()
    )
    assert got == want and len(want) > 0


def test_topk_sink_merges_partial_updates_across_triggers(spark, tmp_path):
    """The update-mode hazard the sink must survive: a later micro-batch
    contains ONLY the (window, key) groups that changed, so the sink has
    to merge with its own prior rows for the window — ranking the batch
    alone and overwriting would delete top-k keys that didn't update.
    Drives the foreachBatch writer directly (it is a plain function)
    across four triggers: partial update, exact replay (idempotence),
    displacement by a new key, and an untouched-window check."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import topk_per_window_sink

    out = str(tmp_path / "topk_merge")
    sink = topk_per_window_sink(out, k=3)
    schema = "window_start string, event_type string, n_events long"

    def read_back():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("window_start", "event_type", "n_events")
            .collect()
        )

    # trigger 1: window w1 seeds a=10, b=9, c=8, d=1 → top-3 = a, b, c
    sink(spark.createDataFrame(
        [("w1", "a", 10), ("w1", "b", 9), ("w1", "c", 8), ("w1", "d", 1)], schema), 0)
    assert read_back() == [("w1", "a", 10), ("w1", "b", 9), ("w1", "c", 8)]

    # trigger 2: ONLY c updates — a and b must survive the overwrite
    sink(spark.createDataFrame([("w1", "c", 12)], schema), 1)
    assert read_back() == [("w1", "a", 10), ("w1", "b", 9), ("w1", "c", 12)]

    # replay of trigger 2 (same batch_id, same rows): idempotent
    sink(spark.createDataFrame([("w1", "c", 12)], schema), 1)
    assert read_back() == [("w1", "a", 10), ("w1", "b", 9), ("w1", "c", 12)]

    # trigger 3: new key e=50 displaces b from the top-3
    sink(spark.createDataFrame([("w1", "e", 50)], schema), 2)
    assert read_back() == [("w1", "a", 10), ("w1", "c", 12), ("w1", "e", 50)]

    # trigger 4: a different window updates; w1's rows are untouched
    sink(spark.createDataFrame([("w2", "x", 1)], schema), 3)
    assert read_back() == [
        ("w1", "a", 10), ("w1", "c", 12), ("w1", "e", 50), ("w2", "x", 1)]


def test_topk_sink_recovers_from_first_trigger_crash_debris(spark, tmp_path):
    """A crash DURING the first trigger's write can leave the sink
    directory present but with only ``_temporary``/hidden committer
    debris — no committed parquet, no ``_SUCCESS``. A bare fs.exists
    probe then classifies the sink as existing, every retry's merge
    read throws 'unable to infer schema', and the stream is wedged
    permanently. The probe must treat exists-but-nothing-committed as
    first-trigger (mirroring the dedup index's ``_SUCCESS``-gated
    versions) so the retry makes progress."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        _has_committed_data,
        topk_per_window_sink,
    )

    out = tmp_path / "topk_crash_first"
    (out / "_temporary" / "0").mkdir(parents=True)
    (out / "_temporary" / "0" / "task_000_partial").write_bytes(b"\x00" * 16)
    (out / ".hidden_committer_file").write_bytes(b"")
    assert not _has_committed_data(spark, str(out))
    # r11 (ADVICE): a lone _SUCCESS marker with ZERO data files must NOT
    # count as committed — spark.read.parquet would still fail schema
    # inference on it, the exact wedge the probe exists to eliminate
    (out / "_SUCCESS").write_bytes(b"")
    assert not _has_committed_data(spark, str(out))
    (out / "_SUCCESS").unlink()

    sink = topk_per_window_sink(str(out), k=2)
    schema = "window_start string, event_type string, n_events long"
    sink(spark.createDataFrame(
        [("w1", "a", 10), ("w1", "b", 9), ("w1", "c", 8)], schema), 0)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out))
        .select("window_start", "event_type", "n_events")
        .collect()
    )
    assert got == [("w1", "a", 10), ("w1", "b", 9)]
    # and once data IS committed, the probe flips (later triggers merge)
    assert _has_committed_data(spark, str(out))
    sink(spark.createDataFrame([("w1", "c", 12)], schema), 1)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out))
        .select("window_start", "event_type", "n_events")
        .collect()
    )
    assert got == [("w1", "a", 10), ("w1", "c", 12)]


def test_incremental_dedup_sink_stream_with_replay(spark, tmp_path):
    """The nightly-increment loop as a stream: three micro-batches flow
    through foreachBatch incremental dedup against the persisted
    signature index — cross-batch near-dups die WITHOUT historical text
    ever being re-read, within-batch dups keep the min id, and a
    crash-replay of a batch re-derives identical survivors and an
    identical index (the self-dedup trap the sink's anti-join exists
    for). Final state equals the batch-mode incremental_dedup chain."""
    from distributed_computing_platform_mapreduce_spark.operators import dedup as dd
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        incremental_dedup_sink,
        read_dedup_index,
    )

    idx = str(tmp_path / "sig_index")
    out = str(tmp_path / "survivors")
    sink = incremental_dedup_sink(idx, out)
    schema = "doc_id long, text string"

    b0 = [
        (0, "the quick brown fox jumps over the lazy dog near the old river bank"),
        (1, "pack my box with five dozen liquor jugs before the long winter arrives"),
    ]
    b1 = [
        (10, b0[0][1]),                    # exact dup of batch-0 doc -> dies
        (11, "entirely novel second wave content about distributed shuffle behavior"),
        (12, "entirely novel second wave content about distributed shuffle behavior"),
        # ^ within-batch dup -> 12 dies, 11 survives
    ]
    b2 = [
        (20, b1[1][1]),                    # dup of a batch-1 SURVIVOR -> dies
        (21, "third wave text sharing nothing with anything seen before now"),
    ]

    sink(spark.createDataFrame(b0, schema), 0)
    sink(spark.createDataFrame(b1, schema), 1)
    # crash-replay of batch 1: same batch_id, same rows — must not lose
    # the batch to self-dedup, must not grow the index
    sink(spark.createDataFrame(b1, schema), 1)
    sink(spark.createDataFrame(b2, schema), 2)

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got == [0, 1, 11, 21]
    index_ids = sorted(
        r["id"] for r in read_dedup_index(spark, idx).select("id").collect()
    )
    assert index_ids == [0, 1, 11, 21]
    # r16 layout: first trigger compacts to base v=0, later triggers
    # append O(batch) delta segments; the batch-1 replay rewrote d=1 in
    # place instead of duplicating it
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import _index_state

    assert _index_state(spark, idx) == (0, [1, 2])

    # equivalence with the batch-mode chain
    hist = dd.minhash_index(spark.createDataFrame(b0, schema), "doc_id", "text")
    s1, u1 = dd.incremental_dedup(spark.createDataFrame(b1, schema), hist.localCheckpoint())
    s2, u2 = dd.incremental_dedup(spark.createDataFrame(b2, schema), u1.localCheckpoint())
    batch_mode = sorted(
        [r["doc_id"] for r in s1.collect()] + [r["doc_id"] for r in s2.collect()]
        + [d for d, _ in b0]
    )
    assert batch_mode == got


def test_incremental_index_survives_crash_mid_write(spark, tmp_path):
    """The ADVICE r8 failure mode: a crash while the index is being
    rewritten must NOT destroy history or be mistaken for 'first
    trigger'. The versioned layout commits v=<batch_id> and readers only
    see directories with _SUCCESS — here a fake partial v=1 (no
    _SUCCESS, garbage content) is invisible, the replay of batch 1 reads
    v=0, and the recommit clobbers the partial dir."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        incremental_dedup_sink,
        read_dedup_index,
    )

    idx = str(tmp_path / "sig_index")
    out = str(tmp_path / "survivors")
    sink = incremental_dedup_sink(idx, out)
    schema = "doc_id long, text string"

    with pytest.raises(FileNotFoundError):
        read_dedup_index(spark, idx)  # nothing committed yet

    b0 = [(0, "the quick brown fox jumps over the lazy dog near the river")]
    b1 = [
        (10, b0[0][1]),  # cross-batch dup -> dies
        (11, "totally fresh second batch content about adaptive query execution"),
    ]
    sink(spark.createDataFrame(b0, schema), 0)

    # simulate a crash mid-write of batch 1's index segment: partial
    # directory, garbage file, no _SUCCESS marker — in BOTH the base
    # and the delta namespace
    for name in ("v=1", "d=1"):
        partial = tmp_path / "sig_index" / name
        partial.mkdir(parents=True)
        (partial / "part-00000.parquet").write_bytes(b"\x00not parquet\x00")
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import _index_state

    assert _index_state(spark, idx) == (0, [])  # partial dirs invisible

    sink(spark.createDataFrame(b1, schema), 1)  # the stream's retry
    # r16 layout: the retry commits d=1 (clobbering the partial), base
    # v=0 stays — the live index is their union
    assert _index_state(spark, idx) == (0, [1])
    assert sorted(
        r["id"] for r in read_dedup_index(spark, idx).collect()
    ) == [0, 11]
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [0, 11]


def test_incremental_index_compaction_cycle(spark, tmp_path):
    """r16 delta layout: every ``compact_every`` triggers the deltas
    fold into a fresh base and older dirs prune; a replay of the
    compaction trigger itself re-derives the SAME base (not a delta),
    and the final index equals the batch-mode chain. compact_every=3
    exercises base → delta → delta → compact → delta in 5 triggers.
    The compaction also deletes uncommitted crash debris below the new
    base."""
    from distributed_computing_platform_mapreduce_spark.operators import dedup as dd
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        _index_state,
        incremental_dedup_sink,
        read_dedup_index,
    )

    idx = str(tmp_path / "sig_index")
    out = str(tmp_path / "survivors")
    sink = incremental_dedup_sink(idx, out, compact_every=3)
    schema = "doc_id long, text string"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "pack my box with five dozen liquor jugs before winter arrives",
        "the quick brown fox jumps over the lazy dog near the river",
    ]
    batches = [[(10 * i + j, texts[i]) for j in range(2)] for i in range(5)]
    # each batch: two exact dups of each other -> min id survives; all
    # batches distinct from each other -> one survivor per batch
    expected_states = [
        (0, []),        # trigger 0: first -> base v=0
        (0, [1]),       # trigger 1: delta
        (0, [1, 2]),    # trigger 2: delta (len(deltas)+1 == 3 only at next)
        (3, []),        # trigger 3: 2 deltas + this one >= 3 -> compact
        (3, [4]),       # trigger 4: delta
    ]
    debris = [tmp_path / "sig_index" / name for name in ("v=1", "v=2", "d=0")]
    for i, b in enumerate(batches):
        if i == 3:
            # crashed writes: partial dirs (no _SUCCESS) below the base
            # trigger 3 is about to commit
            for partial in debris:
                partial.mkdir()
                (partial / "part-00000.parquet").write_bytes(b"\x00not parquet\x00")
        sink(spark.createDataFrame(b, schema), i)
        assert _index_state(spark, idx) == expected_states[i], f"trigger {i}"
        if i == 3:
            assert not any(p.exists() for p in debris)
            # replay of the COMPACTION trigger must re-take the base
            # decision and leave an identical state, not append a delta
            sink(spark.createDataFrame(b, schema), 3)
            assert _index_state(spark, idx) == (3, [])

    survivors = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert survivors == [0, 10, 20, 30, 40]
    # the compacted-then-delta index holds exactly the survivor set
    # (batch-mode chain equivalence is covered by the 3-batch replay
    # test; re-running it here would double this test's wall cost)
    assert sorted(
        r["id"] for r in read_dedup_index(spark, idx).select("id").collect()
    ) == survivors


def test_topk_sink_merge_read_is_partition_pruned(spark, tmp_path):
    """At scale the sink accumulates unbounded windows; the per-trigger
    merge read must stay pruned to the batch's OWN windows or the merge
    degrades into a full-sink scan. Seeds ~100 windows, updates 2, and
    pins via the logged plan that the parquet scan's PartitionFilters
    restrict to exactly those 2 windows."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        topk_per_window_sink,
    )

    out = str(tmp_path / "topk_pruned")
    plans: list[str] = []
    sink = topk_per_window_sink(out, k=3, plan_log=plans)
    schema = "window_start string, event_type string, n_events long"

    seed = [(f"w{i:03d}", "a", 5) for i in range(100)]
    sink(spark.createDataFrame(seed, schema), 0)
    assert plans == []  # first trigger: no merge read

    sink(spark.createDataFrame([("w007", "b", 9), ("w042", "b", 9)], schema), 1)
    assert len(plans) == 1
    scan = plans[0]
    pf_lines = [ln for ln in scan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, f"no PartitionFilters in merge-read plan:\n{scan}"
    pf = pf_lines[0]
    assert "w007" in pf and "w042" in pf
    # an unaffected window must NOT be readable through the filter
    assert "w000" not in pf and pf.count("w0") + pf.count("w1") <= 4

    got = {
        (r[0], r[1], r[2])
        for r in spark.read.parquet(out)
        .filter(F.col("window_start").isin("w007", "w042", "w000"))
        .select("window_start", "event_type", "n_events")
        .collect()
    }
    assert got == {
        ("w007", "a", 5), ("w007", "b", 9),
        ("w042", "a", 5), ("w042", "b", 9),
        ("w000", "a", 5),
    }


def test_topk_sink_aborts_on_corrupt_read(spark, tmp_path):
    """A transient/corrupt sink read on a later trigger must FAIL the
    micro-batch (streaming retries it) — treating it as 'first trigger'
    would skip the merge and the partition overwrite would permanently
    delete non-updating top-k keys (ADVICE r8, medium)."""
    from distributed_computing_platform_mapreduce_spark.streaming.sinks import (
        topk_per_window_sink,
    )

    out = tmp_path / "topk_corrupt"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"\x00garbage\x00")
    sink = topk_per_window_sink(str(out), k=3)
    schema = "window_start string, event_type string, n_events long"
    with pytest.raises(Exception):
        sink(spark.createDataFrame([("w1", "a", 1)], schema), 1)
