"""Streaming tests (SURVEY §5.4): stream-batch equivalence of the
windowed counts over a file-source stream of the events table, TTL
store pruning, and the deterministic generator's native/stream schema.
No Kafka broker in CI — the Kafka paths are configuration-only."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .conftest import SF_SMOKE

RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # timestamp[us] without isAdjustedToUTC reads as NTZ in Spark 4;
        # normalize_events_ts relabels it zoned (same instants, UTC zone).
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture()
def events_stream_dir(tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    shutil.copy(Path(SF_SMOKE) / "events.parquet", d / "events.parquet")
    return str(d)


def test_stream_batch_equivalence(spark, events_stream_dir, tmp_path):
    """The Structured Streaming core property: a windowed agg over the
    stream equals the same agg over the batch table."""
    from ecostream.streaming import drain, windowed_counts

    from ecostream.schema import normalize_events_ts

    stream = spark.readStream.schema(RAW_EVENTS_SCHEMA).parquet(events_stream_dir)
    stream = normalize_events_ts(stream).withColumn("event_ts", F.col("ts"))
    counts = windowed_counts(
        stream, window="6 hours", watermark="1 hour", keys=("event_type",)
    )
    drain(
        counts.writeStream.format("memory")
        .queryName("stream_counts")
        .outputMode("append")
    )
    got = {
        (r["window_start"], r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM stream_counts").collect()
    }

    from ecostream.schema import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        .collect()
    )
    expected = {(r["ws"], r["event_type"]): r["cnt"] for r in batch}
    # append mode only emits windows sealed by the watermark; every
    # emitted window must match the batch result exactly, and most
    # windows must have been emitted (all but the trailing watermark).
    assert got, "stream produced no sealed windows"
    for k, v in got.items():
        assert expected.get(k) == v, (k, v, expected.get(k))
    # the trailing window(s) not yet past the watermark stay open —
    # up to 2 windows × 5 event types may be withheld
    assert len(got) >= len(expected) - 10


def test_store_with_ttl_prunes_old_partitions(spark, tmp_path):
    """T3: partitions older than the retention horizon are evicted;
    recent partitions survive — and ALL data is pruned (not 4/7 indexes
    like the reference's leak)."""
    from ecostream.generator import insect_events
    from ecostream.streaming import store_with_ttl

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    # batch 1: old events (o'clock hours far in the past relative to batch 2)
    old = insect_events(spark, 50).withColumn(
        "event_ts", F.expr("timestampadd(HOUR, -72, event_ts)")
    )
    old.write.mode("overwrite").parquet(str(src_dir / "batch=0"))
    new = insect_events(spark, 50)
    new.write.mode("overwrite").parquet(str(src_dir / "batch=1"))

    stream = spark.readStream.schema(old.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src_dir / "batch=*"))
    store_dir = tmp_path / "store"
    q = store_with_ttl(
        stream,
        str(store_dir),
        checkpoint=str(tmp_path / "ckpt"),
        retention_hours=2,
    ).start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    parts = sorted(p.name for p in store_dir.glob("event_hour=*"))
    assert parts, "store is empty"
    # the -72h partitions must be gone once the fresh batch advanced the horizon
    hours = [p.split("=")[1] for p in parts]
    assert all(h >= "2024-02-29" for h in hours), hours


def test_generator_deterministic_and_native_schema(spark):
    """S1: repeat-run identical; nested schema matches SURVEY §1.1;
    streaming variant builds against the rate source (not executed —
    no unbounded sources in CI)."""
    from ecostream.generator import insect_event_stream, insect_events
    from ecostream.schema import INSECT_EVENT_SCHEMA

    a = insect_events(spark, 200).collect()
    b = insect_events(spark, 200).collect()
    assert a == b
    got = insect_events(spark, 1).drop("event_ts").schema
    assert [f.name for f in got] == [f.name for f in INSECT_EVENT_SCHEMA]
    s = insect_event_stream(spark)
    assert s.isStreaming
    assert "insect" in s.columns

    # vocabulary coverage (uniform-ish draw hits every category)
    rows = insect_events(spark, 500).select("insect.species").distinct().collect()
    assert len(rows) == 4


def test_kafka_paths_construct(spark):
    """S2/S3 are configuration-only in CI (no broker): the plans must
    construct with the right topic/bootstrap without starting."""
    from ecostream.streaming import kafka_sink, kafka_source

    try:
        src = kafka_source(spark)
        assert src.isStreaming
        writer = kafka_sink(src, checkpoint="/tmp/unused-ckpt")
        assert writer is not None
    except Exception as e:  # kafka connector jar may be absent entirely
        assert "kafka" in str(e).lower()


def test_stateful_running_sketch_stream_equals_batch(spark, tmp_path):
    """T5: the applyInPandasWithState keyed sketch, fed the events table
    split across 3 micro-batches, converges to the batch twin exactly
    (count, sum, and every MinHash slot)."""
    from ecostream.schema import load_table
    from ecostream.streaming import batch_sketch, running_sketch

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", "value"
    )
    src_dir = tmp_path / "src"
    events.repartition(3).write.mode("overwrite").parquet(str(src_dir))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    q = (
        running_sketch(stream)
        .writeStream.format("memory")
        .queryName("sketch_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    # memory sink in update mode appends each emission; the LAST row per
    # key is the final state (multiple batches => multiple emissions)
    emitted = spark.sql("SELECT * FROM sketch_state").collect()
    assert len(emitted) > 5, "expected multiple emissions across micro-batches"
    final = {}
    for r in emitted:
        # the cumulative count is monotone, so max-n = the final emission
        # (collect() order from the memory sink is not guaranteed)
        if r["event_type"] not in final or r["n"] > final[r["event_type"]]["n"]:
            final[r["event_type"]] = r
    expected = {r["event_type"]: r for r in batch_sketch(events).collect()}
    assert set(final) == set(expected)
    for k in expected:
        assert final[k]["n"] == expected[k]["n"], k
        assert abs(final[k]["total"] - expected[k]["total"]) < 1e-6, k
        assert list(final[k]["sig"]) == list(expected[k]["sig"]), k


def test_watermark_drops_late_data(spark, tmp_path):
    """T1 semantics pin, against MEASURED Spark behavior: the
    late-record filter evaluates against the previous batch's watermark
    (it lags state eviction by one micro-batch), so a 2-hours-late row
    in the first batch after the frontier advanced is still admitted —
    but the same late row one batch later is dropped
    (numRowsDroppedByWatermark), and append mode never re-emits a
    finalized window.  The reference's analog drops late rows from its
    window counters immediately (consumer.py:79-83) while keeping them
    in the store — our deviation to uniform watermark semantics is
    documented at SURVEY T1/T2."""
    import pandas as pd

    d = tmp_path / "late_in"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")

    def write(name, rows):
        # Coerce to µs: pandas defaults to TIMESTAMP(NANOS), which Spark
        # reads only under the nanosAsLong conf, and then as INT64.
        pd.DataFrame(
            {
                "species": [r[0] for r in rows],
                "event_ts": [r[1] for r in rows],
            }
        ).to_parquet(d / name, coerce_timestamps="us")

    # Batch 0: frontier 12:00 -> watermark becomes 11:00 for eviction.
    write("f1.parquet", [("ant", base), ("bee", base), ("mark", base + pd.Timedelta("2h"))])
    time.sleep(1.1)  # file-source orders batches by modification time
    # Batch 1: spider 2h late; admitted (filter still at batch-0 wm).
    write("f2.parquet", [("spider", base - pd.Timedelta("1h")), ("mark", base + pd.Timedelta("3h"))])
    time.sleep(1.1)
    # Batch 2: the SAME late row again; now filtered by the 11:00 wm.
    write("f3.parquet", [("spider", base - pd.Timedelta("1h")), ("mark", base + pd.Timedelta("4h"))])

    schema = T.StructType(
        [
            T.StructField("species", T.StringType()),
            T.StructField("event_ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    counts = (
        stream.withWatermark("event_ts", "1 hour")
        .groupBy(F.window("event_ts", "1 hour").alias("w"), "species")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "species", "cnt")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    q.stop()
    q.awaitTermination(60)
    rows = {}
    for r in spark.table("late_drop").collect():
        rows[(r["ws"], r["species"])] = rows.get((r["ws"], r["species"]), 0) + r["cnt"]
    late_key = ((base - pd.Timedelta("1h")).to_pydatetime(), "spider")
    # Batch 2's repeat of the late row was dropped by the watermark...
    assert dropped == 1, (dropped, rows)
    # ...so the finalized 09:00 window counts the admitted copy exactly
    # once — append mode never re-emits or double-counts it.
    assert rows.get(late_key) == 1, rows
    # On-time windows finalized with correct counts.
    assert rows.get((base.to_pydatetime(), "ant")) == 1, rows
    assert rows.get((base.to_pydatetime(), "bee")) == 1, rows


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks and a time-range
    condition (clicks joined to purchases within 1 hour after) must
    equal the same join computed in batch — capability the reference's
    single-stream store cannot express at all."""
    import pandas as pd

    from ecostream.streaming import drain

    base = pd.Timestamp("2024-01-01 10:00:00")
    cd, pdir = tmp_path / "clicks", tmp_path / "purch"
    cd.mkdir(); pdir.mkdir()
    clicks = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            "click_ts": [
                base,
                base + pd.Timedelta("30min"),
                base,
                base + pd.Timedelta("2h"),
            ],
        }
    )
    purchases = pd.DataFrame(
        {
            "p_user_id": [1, 2, 3],
            "purchase_ts": [
                base + pd.Timedelta("45min"),   # joins both user-1 clicks
                base + pd.Timedelta("90min"),   # outside 1h of user-2 click
                base + pd.Timedelta("2h30min"), # joins user-3 click
            ],
        }
    )
    clicks.to_parquet(cd / "c.parquet", coerce_timestamps="us")
    purchases.to_parquet(pdir / "p.parquet", coerce_timestamps="us")

    cs = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("click_ts", T.TimestampType())]
    )
    ps = T.StructType(
        [T.StructField("p_user_id", T.LongType()), T.StructField("purchase_ts", T.TimestampType())]
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    c_stream = (
        spark.readStream.schema(cs).parquet(str(cd)).withWatermark("click_ts", "2 hours")
    )
    p_stream = (
        spark.readStream.schema(ps).parquet(str(pdir)).withWatermark("purchase_ts", "2 hours")
    )
    joined = c_stream.join(p_stream, cond, "inner").select(
        "user_id", "click_ts", "purchase_ts"
    )
    drain(
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
    )
    got = sorted(
        (r["user_id"], r["click_ts"], r["purchase_ts"])
        for r in spark.table("ss_join").collect()
    )
    want = sorted(
        (r["user_id"], r["click_ts"], r["purchase_ts"])
        for r in spark.createDataFrame(clicks)
        .join(spark.createDataFrame(purchases), cond, "inner")
        .select("user_id", "click_ts", "purchase_ts")
        .collect()
    )
    assert got == want and len(got) == 3, (got, want)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup with bounded state
    (dropDuplicatesWithinWatermark): re-deliveries of the same event_id
    across micro-batches inside the watermark are suppressed; state is
    evicted beyond it.  This is the streaming face of the d1 dedup
    family — at-least-once delivery (the reference's consume loop,
    SURVEY T7) becomes effectively-once."""
    import pandas as pd

    from ecostream.streaming import drain

    d = tmp_path / "dup_in"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")

    def write(name, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "event_ts": [r[1] for r in rows],
            }
        ).to_parquet(d / name, coerce_timestamps="us")

    write("f1.parquet", [(1, base), (2, base), (1, base)])          # in-batch dup
    time.sleep(1.1)
    write("f2.parquet", [(1, base), (3, base + pd.Timedelta("10min"))])  # re-delivery

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    drain(
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
    )
    ids = sorted(r["event_id"] for r in spark.table("dedup_stream").collect())
    assert ids == [1, 2, 3], ids


def test_transform_with_state_stream_equals_batch(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-key running totals over 3
    micro-batches converge to the batch groupBy exactly.  Runs on the
    RocksDB state store (the only provider supporting transformWithState,
    and the scale-path provider regardless).  The TWS workers need the
    python protobuf package — installed or the vendored runtime
    (ecostream/_vendor); skip only if neither resolves."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import drain, rocksdb_state_store
    from ecostream.streaming.stateful import ensure_protobuf, running_totals_tws

    if not ensure_protobuf(spark):
        pytest.skip("no protobuf available (installed or vendored)")

    with rocksdb_state_store(spark, "test"):
        events = load_table(spark, SF_SMOKE, "events").select("event_type", "value")
        src_dir = tmp_path / "tws_src"
        events.repartition(3).write.mode("overwrite").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        drain(
            running_totals_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        )

        emitted = spark.sql("SELECT * FROM tws_totals").collect()
        assert len(emitted) > 5, "expected emissions across micro-batches"
        final = {}
        for r in emitted:
            if r["event_type"] not in final or r["n"] > final[r["event_type"]]["n"]:
                final[r["event_type"]] = r
        expected = {
            r["event_type"]: r
            for r in events.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert set(final) == set(expected)
        for k, exp in expected.items():
            assert final[k]["n"] == exp["n"]
            assert abs(final[k]["total"] - exp["total"]) < 1e-6


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER join: an unmatched left row must emit
    with nulls — but only once the watermark passes the end of its join
    range (until then the engine must hold it as potentially matching).
    Two micro-batches: batch 1 carries the data, batch 2 carries a
    late-clock row that advances the watermark and flushes the
    unmatched rows."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 10:00:00")
    cd, pdir = tmp_path / "clicks2", tmp_path / "purch2"
    cd.mkdir(); pdir.mkdir()
    clicks = pd.DataFrame(
        {
            "user_id": [1, 2],
            "click_ts": [base, base + pd.Timedelta("10min")],
        }
    )
    # user 1 purchases within the hour; user 2 never does
    purchases1 = pd.DataFrame(
        {
            "p_user_id": [1],
            "purchase_ts": [base + pd.Timedelta("30min")],
        }
    )
    # batch 2: far-future rows on BOTH sides — the global watermark is
    # the MIN across inputs, so each side must advance past user 2's
    # join window before the unmatched row can flush
    purchases2 = pd.DataFrame(
        {
            "p_user_id": [99],
            "purchase_ts": [base + pd.Timedelta("12h")],
        }
    )
    clicks2 = pd.DataFrame(
        {
            "user_id": [98],
            "click_ts": [base + pd.Timedelta("12h")],
        }
    )
    clicks.to_parquet(cd / "c.parquet", coerce_timestamps="us")
    purchases1.to_parquet(pdir / "p1.parquet", coerce_timestamps="us")

    cs = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("click_ts", T.TimestampType())]
    )
    ps = T.StructType(
        [T.StructField("p_user_id", T.LongType()), T.StructField("purchase_ts", T.TimestampType())]
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    c_stream = (
        spark.readStream.schema(cs)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(cd))
        .withWatermark("click_ts", "10 minutes")
    )
    p_stream = (
        spark.readStream.schema(ps)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(pdir))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = c_stream.join(p_stream, cond, "leftOuter").select(
        "user_id", "click_ts", "purchase_ts"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    q.processAllAvailable()
    first = {
        (r["user_id"], r["purchase_ts"])
        for r in spark.sql("SELECT * FROM ss_left_join").collect()
    }
    # before the watermark advances, user 2 must NOT have emitted a
    # null row (its join window is still open)
    assert (2, None) not in first

    purchases2.to_parquet(pdir / "p2.parquet", coerce_timestamps="us")
    clicks2.to_parquet(cd / "c2.parquet", coerce_timestamps="us")
    q.processAllAvailable()
    # one more empty-input cycle lets the state-eviction batch run
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    rows = {
        (r["user_id"], r["purchase_ts"])
        for r in spark.sql("SELECT * FROM ss_left_join").collect()
    }
    assert (1, base + pd.Timedelta("30min")) in rows
    assert (2, None) in rows, rows
    # the watermark-advancing rows themselves are unmatched lefts too,
    # but user 98's window is still open — it must NOT have emitted
    assert (98, None) not in rows


def test_incremental_agg_store_equals_batch(spark, tmp_path):
    """The merged per-key store after draining a multi-batch stream
    equals the one-shot batch aggregate (materialized-view maintenance
    correctness across merges)."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import incremental_agg_store, read_agg_store

    ev = load_table(spark, SF_SMOKE, "events").select("event_type", "value")
    src = tmp_path / "src"
    # 4 input files → maxFilesPerTrigger=1 forces 4 separate merges.
    ev.repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        incremental_agg_store(
            stream, str(tmp_path / "store"), str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_agg_store(spark, str(tmp_path / "store")).orderBy("event_type")
    want = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .orderBy("event_type")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Stopping a stream and restarting from the same checkpoint must
    continue from the committed offset: files processed before the stop
    are NOT re-merged (exactly-once across restarts), and the final
    store equals the batch aggregate over everything."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import incremental_agg_store, read_agg_store

    # Split deterministically into two file batches.
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value"
    )
    a = ev.where(F.col("event_id") % 2 == 0).drop("event_id")
    b = ev.where(F.col("event_id") % 2 == 1).drop("event_id")
    src = tmp_path / "src"
    src.mkdir()
    a.coalesce(1).write.mode("append").parquet(str(src))

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    schema = a.schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = incremental_agg_store(stream, store, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # processes only file-batch A
    got_a = {
        r["event_type"]: r["cnt"]
        for r in read_agg_store(spark, store).collect()
    }
    want_a = {
        r["event_type"]: r["cnt"]
        for r in a.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert got_a == want_a

    b.coalesce(1).write.mode("append").parquet(str(src))
    run_once()  # restart: must merge ONLY the new file

    got = read_agg_store(spark, store).orderBy("event_type")
    want = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .orderBy("event_type")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_agg_store_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch that wrote its version
    directory but crashed before the checkpoint commit is REPLAYED with
    the same batch_id on restart.  Simulate by deleting the last commit
    log entry and restarting — the merge must rebuild from the
    pre-batch base, not double-count the delta."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import incremental_agg_store, read_agg_store

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value"
    )
    a = ev.where(F.col("event_id") % 2 == 0).drop("event_id")
    b = ev.where(F.col("event_id") % 2 == 1).drop("event_id")
    src = tmp_path / "src"
    src.mkdir()
    a.coalesce(1).write.mode("append").parquet(str(src))
    b.coalesce(1).write.mode("append").parquet(str(src))

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    schema = a.schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = incremental_agg_store(stream, store, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    run_once()  # batches 0 and 1 both committed
    commits = sorted((Path(ckpt) / "commits").glob("[0-9]*"))
    assert len(commits) >= 2
    commits[-1].unlink()  # crash between store write and commit
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():  # stale checksum would fail the rewrite's rename
        crc.unlink()
    run_once()  # replays the last batch with the same batch_id

    got = read_agg_store(spark, store).orderBy("event_type")
    want = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .orderBy("event_type")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_tws_recent_events_multibatch(spark, tmp_path):
    """st20's ListState buffer across 3 micro-batches: the final
    (user, rank) -> max(ts) slice must equal the batch top-5-recent per
    user regardless of how events were split into batches (per-rank
    emissions are monotone — the property the declared query's final
    aggregate relies on)."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import drain, rocksdb_state_store
    from ecostream.streaming.stateful import ensure_protobuf, recent_events_tws

    if not ensure_protobuf(spark):
        pytest.skip("no protobuf available (installed or vendored)")

    with rocksdb_state_store(spark, "test"):
        events = load_table(spark, SF_SMOKE, "events").select("user_id", "ts")
        src_dir = tmp_path / "tws20_src"
        events.repartition(3).write.mode("overwrite").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        drain(
            recent_events_tws(stream, k=5)
            .writeStream.format("memory")
            .queryName("tws20_recent")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws20_ckpt"))
        )

        got = {
            (r["user_id"], r["rk"]): r["ts_us"]
            for r in spark.sql(
                "SELECT user_id, rk, max(ts_us) AS ts_us FROM tws20_recent "
                "GROUP BY user_id, rk"
            ).collect()
        }
        expected = {
            (r["user_id"], r["rk"]): r["ts_us"]
            for r in events.select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                F.row_number()
                .over(Window.partitionBy("user_id").orderBy(F.desc("ts")))
                .alias("rk"),
            )
            .where(F.col("rk") <= 5)
            .collect()
        }
        assert got == expected


def test_tws_ttl_expiry_sliding_timer_multibatch(spark, tmp_path):
    """st19's timer semantics across 4 time-ordered micro-batches: a
    key's expiry timer must SLIDE with activity (old timer deleted, new
    one registered at last_ms + ttl), and every key whose final timer
    precedes the final watermark fires exactly once with its FULL
    count.  Data is constructed so no key can expire mid-stream (every
    inter-batch time gap < ttl until the far-future sentinel), which
    pins the expected output exactly."""
    import datetime as dt

    from ecostream.streaming.ingest import drain, rocksdb_state_store
    from ecostream.streaming.stateful import ensure_protobuf, ttl_expiry_tws

    if not ensure_protobuf(spark):
        pytest.skip("no protobuf available (installed or vendored)")

    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    ttl_ms = 2 * 3600 * 1000  # 2 h
    batches = [
        [(1, ts(0)), (2, ts(1))],          # A=1, B=2 first seen
        [(3, ts(60))],                      # C at +1 h (gap 1 h < ttl)
        [(2, ts(120))],                     # B slides its timer to +2h+ttl
        [(9, ts(600))],                     # sentinel: watermark -> +10 h
    ]
    src_dir = tmp_path / "tws19_src"
    src_dir.mkdir()
    schema = "user_id long, ts timestamp"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / f"b{i}"))

    with rocksdb_state_store(spark, "test"):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(src_dir / "b*"))
            .withWatermark("ts", "1 minute")
        )
        drain(
            ttl_expiry_tws(stream, ttl_ms=ttl_ms)
            .writeStream.format("memory")
            .queryName("tws19_ttl")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws19_ckpt"))
        )

        got = sorted(
            (r["user_id"], r["n"])
            for r in spark.sql("SELECT * FROM tws19_ttl").collect()
        )
        # final watermark = 600 min - 1 min; timers: u1 @ 0+120, u2 @
        # 120+120, u3 @ 60+120 all fire once with full counts; the
        # sentinel u9 @ 600+120 never fires.
        assert got == [(1, 1), (2, 2), (3, 1)], got


def test_tws_daily_map_multibatch(spark, tmp_path):
    """st21's MapState across 3 micro-batches: the final
    (event_type) -> max(n_days, n) slice must equal the batch
    aggregate (per-day counts fold correctly even when one day's
    events are split across batches)."""
    from ecostream.schema import load_table
    from ecostream.streaming.ingest import drain, rocksdb_state_store
    from ecostream.streaming.stateful import daily_map_tws, ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no protobuf available (installed or vendored)")

    with rocksdb_state_store(spark, "test"):
        events = load_table(spark, SF_SMOKE, "events").select("event_type", "ts")
        src_dir = tmp_path / "tws21_src"
        events.repartition(3).write.mode("overwrite").parquet(str(src_dir))
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        drain(
            daily_map_tws(stream)
            .writeStream.format("memory")
            .queryName("tws21_daily")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws21_ckpt"))
        )

        got = {
            r["event_type"]: (r["n_days"], r["n"])
            for r in spark.sql(
                "SELECT event_type, max(n_days) AS n_days, max(n) AS n "
                "FROM tws21_daily GROUP BY event_type"
            ).collect()
        }
        expected = {
            r["event_type"]: (r["n_days"], r["n"])
            for r in events.groupBy("event_type")
            .agg(
                F.countDistinct(
                    (F.unix_micros("ts") / 86_400_000_000).cast("long")
                ).alias("n_days"),
                F.count("*").alias("n"),
            )
            .collect()
        }
        assert got == expected


def test_drain_surfaces_foreach_batch_error_and_stops(spark, tmp_path):
    """A failing foreachBatch surfaces from ``drain`` as the query's
    error, and no stream outlives the drain that started it — also when
    the drain itself is interrupted while the query still runs."""
    from pyspark.errors import StreamingQueryException

    from ecostream.streaming import drain

    src = tmp_path / "src"
    spark.range(3).write.parquet(str(src))

    def _fail(batch, batch_id):
        raise ValueError("boom in foreachBatch")

    writer = (
        spark.readStream.schema("id bigint")
        .parquet(str(src))
        .writeStream.foreachBatch(_fail)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(StreamingQueryException, match="boom in foreachBatch"):
        drain(writer)
    assert spark.streams.active == []

    class _Interrupted:
        """Starts an unbounded query whose drain raises while it runs."""

        def start(self):
            q = spark.readStream.format("rate").load().writeStream.format("noop").start()

            def _raise():
                raise RuntimeError("drain interrupted")

            q.processAllAvailable = _raise
            return q

    with pytest.raises(RuntimeError, match="drain interrupted"):
        drain(_Interrupted())
    assert spark.streams.active == []


@pytest.mark.parametrize("prior", [None, "org.example.PriorProvider"])
def test_rocksdb_scope_restores_provider_when_body_raises(spark, prior):
    """The RocksDB scope puts back whatever provider conf the session
    had — unset or set — even when its body raises."""
    from ecostream.streaming.ingest import (
        PROVIDER_CLASS,
        ROCKSDB_PROVIDER,
        rocksdb_state_store,
    )
    from ecostream.streaming.stateful import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no protobuf available (installed or vendored)")

    before = spark.conf.get(PROVIDER_CLASS, None)
    try:
        if prior is None:
            spark.conf.unset(PROVIDER_CLASS)
        else:
            spark.conf.set(PROVIDER_CLASS, prior)
        with pytest.raises(ZeroDivisionError):
            with rocksdb_state_store(spark, "test"):
                assert spark.conf.get(PROVIDER_CLASS) == ROCKSDB_PROVIDER
                1 / 0
        assert spark.conf.get(PROVIDER_CLASS, None) == prior
    finally:
        if before is None:
            spark.conf.unset(PROVIDER_CLASS)
        else:
            spark.conf.set(PROVIDER_CLASS, before)


def test_workdir_is_removed_at_interpreter_exit(tmp_path):
    """A scratch dir from ``_workdir`` does not outlive its process."""
    import os
    import subprocess
    import sys

    from .conftest import REPO

    script = (
        "import os\n"
        "from ecostream.queries.storage_queries import _workdir\n"
        "p = _workdir('exit_probe')\n"
        "os.makedirs(p, exist_ok=True)\n"
        "open(os.path.join(p, 'f.txt'), 'w').write('x')\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path)), path
    assert not os.path.exists(path)


def _lifecycle_violations(path: Path) -> list[str]:
    """Calls to ``processAllAvailable`` and string constants naming the
    state-store provider conf in one source file."""
    import ast

    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "processAllAvailable"
        ):
            found.append(f"{path}:{node.lineno} processAllAvailable")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "stateStore.providerClass" in node.value
        ):
            found.append(f"{path}:{node.lineno} stateStore.providerClass")
    return found


def test_stream_lifecycle_lives_only_in_ingest():
    """Drains and the state-store provider conf belong to
    ``ecostream/streaming/ingest.py``: no other engine file calls
    ``processAllAvailable`` or names ``stateStore.providerClass``."""
    from .conftest import REPO

    ingest = REPO / "ecostream" / "streaming" / "ingest.py"
    # the scan sees the helpers' own uses (it is not vacuous)
    assert len(_lifecycle_violations(ingest)) == 2
    found = [
        v
        for p in sorted((REPO / "ecostream").rglob("*.py"))
        if p != ingest
        for v in _lifecycle_violations(p)
    ]
    assert found == []
