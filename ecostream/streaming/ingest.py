"""Streaming ingest / window / state (SURVEY §2.10).

Maps the reference's consumer loop (consumer.py:358-428) onto
Structured Streaming:

- Kafka source/sink (S2/S3) behind options — the test environment has
  no broker, so CI uses the file-stream source over the same schema
  (SURVEY §7.3 risk table).
- Watermark 1 hour ≙ the reference's late-data drop (T1,
  consumer.py:79-83) — but applied *correctly*: state cleanup, not the
  reference's monotone counters (documented deviation, SURVEY T2).
- Windowed counts per (category, key) ≙ the time_windows counters (T2).
- ``store_with_ttl`` ≙ the 2-hour TTL purge (T3, consumer.py:119-148)
  via foreachBatch parquet partitions pruned by event hour — and unlike
  the reference, it prunes *every* index (the reference leaks 3 of 7).
- Checkpointing gives exactly-once state (T7) vs the reference's
  at-least-once consume with swallowed errors.

This module also owns the lifecycle every declared ``st*`` query
shares, so no query copies it: ``drain``/``drain_to_memory`` (start →
``processAllAvailable`` → stop), ``rocksdb_state_store`` (the TWS
provider conf, restored on exit), ``replay_feed`` (a table replayed as
a multi-batch file stream) and ``fold_store`` (a batch-id-versioned,
replay-safe ``foreachBatch`` store).
"""

from __future__ import annotations

import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..schema import INSECT_EVENT_SCHEMA, parse_event_ts
from .stateful import ensure_protobuf

KAFKA_TOPIC = "insect-events"  # producer.py:52
KAFKA_BOOTSTRAP = "localhost:9092"  # producer.py:35 / consumer.py:14


def kafka_source(
    spark: SparkSession,
    bootstrap: str = KAFKA_BOOTSTRAP,
    topic: str = KAFKA_TOPIC,
    starting_offsets: str = "earliest",  # consumer.py:16 auto.offset.reset
) -> DataFrame:
    """S3: Kafka JSON consumer → typed columns.  ``from_json`` yields
    null rows for malformed payloads (filtered) — per-record error
    isolation replacing the reference's per-message except/print."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), INSECT_EVENT_SCHEMA).alias("e")
    )
    return (
        parsed.where(F.col("e").isNotNull())
        .select("e.*")
        .withColumn("event_ts", parse_event_ts())
    )


def kafka_sink(
    df: DataFrame,
    checkpoint: str,
    bootstrap: str = KAFKA_BOOTSTRAP,
    topic: str = KAFKA_TOPIC,
):
    """S2: JSON-encode the event struct → Kafka (producer.py:34-55)."""
    payload = df.select(
        F.to_json(F.struct(*[c for c in df.columns if c != "event_ts"])).alias(
            "value"
        )
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "event_ts",
    window: str = "1 minute",
    watermark: str = "1 hour",
    keys: tuple[str, ...] = ("species", "role"),
) -> DataFrame:
    """T1+T2: tumbling event-time counts per key tuple with late-data
    watermark — the correct-semantics re-spec of the reference's
    (species, role) window counters (consumer.py:32-44,86-110)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "cnt",
        )
    )


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process all input available now, and stop the
    query — also when the drain raises (a failed ``foreachBatch``
    surfaces here as a ``StreamingQueryException``).  Returns the
    stopped query; its ``recentProgress`` stays readable.

    A bounded source drained this way equals the batch computation over
    the same data — the stream-batch equivalence every declared
    streaming query's oracle relies on."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def drain_to_memory(
    df: DataFrame, prefix: str, output_mode: str, checkpoint: str | None = None
) -> tuple[StreamingQuery, DataFrame]:
    """T6: queryable live state — ``drain`` ``df`` into a memory sink
    under a fresh ``<prefix>_<uuid>`` name; returns the stopped query
    and the sink as a table (``spark.sql`` over it replaces the
    reference's pickle-over-socket snapshot queries)."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return drain(writer), df.sparkSession.table(name)


PROVIDER_CLASS = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession, who: str) -> Iterator[None]:
    """Run the body on the RocksDB state store — the only provider that
    supports ``transformWithStateInPandas`` — and restore the session's
    prior provider on exit, also when the body raises.  Raises
    RuntimeError up front when ``google.protobuf``, which the TWS driver
    worker imports, is neither installed nor vendored."""
    if not ensure_protobuf(spark):
        raise RuntimeError(
            f"{who} needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get(PROVIDER_CLASS, None)
    spark.conf.set(PROVIDER_CLASS, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER_CLASS)
        else:
            spark.conf.set(PROVIDER_CLASS, prev)


def replay_feed(df: DataFrame, work: str | Path) -> DataFrame:
    """Write ``df`` as a 4-file parquet feed under ``<work>/feed`` and
    return a file stream that replays it one file per micro-batch
    (``maxFilesPerTrigger=1`` → up to 4 batches).  The stream reads
    with ``df.schema`` — the schema just written — so no inference job
    runs; the file source forces every field nullable either way."""
    path = f"{work}/feed"
    df.repartition(4).write.mode("overwrite").parquet(path)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def store_with_ttl(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    ts_col: str = "event_ts",
    retention_hours: int = 2,  # consumer.py:119 max_age_hours
):
    """T3: durable materialized store with TTL eviction.

    foreachBatch appends each micro-batch to parquet partitioned by
    event hour, then prunes partitions wholly older than the retention
    horizon (horizon = max event time seen − retention, i.e. event-time
    TTL like the reference's, but applied to the whole store — the
    reference misses 3 of its 7 indexes, consumer.py:131-146).
    Partition-level deletes mean eviction is O(#partitions), no rewrite.
    """
    store = Path(store_dir)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.withColumn(
                "event_hour",
                F.date_format(ts_col, "yyyy-MM-dd-HH"),
            )
            .write.mode("append")
            .partitionBy("event_hour")
            .parquet(str(store))
        )
        mx = batch_df.agg(F.max(ts_col)).collect()[0][0]
        if mx is None:
            return
        horizon = mx - timedelta(hours=retention_hours)
        for part in store.glob("event_hour=*"):
            hour_str = part.name.split("=", 1)[1]
            try:
                hour_end = datetime.strptime(hour_str, "%Y-%m-%d-%H") + timedelta(
                    hours=1
                )
            except ValueError:
                continue
            if hour_end <= horizon:
                shutil.rmtree(part, ignore_errors=True)

    return (
        events.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
    )


def _versions(store: Path) -> list[int]:
    return sorted(int(p.name.split("=", 1)[1]) for p in store.glob("v=*"))


def fold_store(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    initial: DataFrame,
) -> DataStreamWriter:
    """A versioned store maintained by folding each micro-batch into it:
    version ``v=<batch_id>`` is ``merge(base, batch)``, where ``base``
    is the newest version STRICTLY OLDER than ``batch_id`` (``initial``
    before the first one).  Each write goes to a new version directory
    and older versions are retired afterwards (versioned swap ≙ poor
    man's ACID — never overwrite what you are reading; at real scale
    this exact loop is a Delta/Iceberg ``MERGE INTO`` and the versioning
    comes from the table format).

    Idempotent under foreachBatch's at-least-once replay: a
    pre-existing ``v=<batch_id>`` (a replayed or partially written
    attempt) is discarded and rebuilt from the pre-batch base, so
    re-running a batch after a mid-write crash produces the same store,
    never a double-applied batch — the standard idempotent foreachBatch
    write pattern (batch_id as the version key).  ``read_agg_store``
    reads the newest version."""
    store = Path(store_dir)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        versions = _versions(store)
        if batch_id in versions:
            shutil.rmtree(store / f"v={batch_id}", ignore_errors=True)
        versions = [v for v in versions if v < batch_id]
        base = (
            batch.sparkSession.read.parquet(str(store / f"v={versions[-1]}"))
            if versions
            else initial
        )
        merge(base, batch).write.mode("overwrite").parquet(
            str(store / f"v={batch_id}")
        )
        for v in versions[:-1]:  # keep previous version for readers mid-swap
            shutil.rmtree(store / f"v={v}", ignore_errors=True)

    return stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint
    )


def incremental_agg_store(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataStreamWriter:
    """Incremental materialized-view maintenance: a per-key aggregate
    (count + DECIMAL sum) kept up to date by merging each micro-batch's
    partial aggregate into the stored totals — the streaming upsert the
    reference's counter dicts (consumer.py:32-48) approximate in memory.

    A ``fold_store`` whose merge aggregates the batch (tiny — |keys|
    rows) and full-outer joins it with the stored totals, so merge cost
    is O(|keys|) per batch, never a rescan of history.  Sums add like
    SQL ``sum``: a side that is NULL (absent key, or all-NULL values)
    contributes nothing."""
    dec = "decimal(18,2)"

    def _add(a: str, b: str) -> F.Column:
        return F.coalesce(F.col(a) + F.col(b), F.col(a), F.col(b))

    def _merge(store: DataFrame, batch: DataFrame) -> DataFrame:
        delta = batch.groupBy(key_col).agg(
            F.count("*").alias("d_cnt"),
            F.sum(F.col(value_col).cast(dec)).alias("d_sum"),
        )
        return store.join(delta, key_col, "full_outer").select(
            key_col,
            _add("cnt", "d_cnt").alias("cnt"),
            _add("total", "d_sum").cast(dec).alias("total"),
        )

    initial = events.sparkSession.createDataFrame(
        [], f"`{key_col}` {events.schema[key_col].dataType.simpleString()},"
        f" cnt bigint, total {dec}"
    )
    return fold_store(events, store_dir, checkpoint, _merge, initial)


def store_version(store_dir: str) -> str:
    """Path of the newest version of a ``fold_store``."""
    versions = _versions(Path(store_dir))
    if not versions:
        raise FileNotFoundError(f"no versions in {store_dir}")
    return f"{store_dir}/v={versions[-1]}"


def read_agg_store(spark, store_dir: str) -> DataFrame:
    """Read the newest version of a ``fold_store`` (such as an
    ``incremental_agg_store``)."""
    return spark.read.parquet(store_version(store_dir))
