"""Declared queries for the storage layer (SURVEY §2.1 S6, write side).

The reference has no file I/O at all (SURVEY S6: Kafka in, stdout out);
the engine's batch substrate is parquet, and its write-side operators —
small-file compaction and clustering re-layout (ecostream/storage.py) —
were previously pytest-only.  These queries put the write path under
the driver's oracle gate: each rewrites a table into a new physical
layout, reads the result back, and aggregates — the oracle runs the
same aggregate over the ORIGINAL table, so any row lost, duplicated, or
mutated by the re-layout fails the hash (row identity across layouts).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query

_AGG_ORACLE = """
SELECT event_type, count(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total_value,
       CAST(MIN(user_id) AS BIGINT) AS min_user,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM events
GROUP BY event_type
"""


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
    )


_REGISTERED: set[str] = set()


def _workdir(name: str) -> str:
    """Per-process scratch dir: stable within a process (repeated runs
    overwrite instead of accumulating), pid-suffixed so concurrent
    drivers on one host can't clobber each other's files mid-query.
    The path is removed when the interpreter exits, so no run leaves
    scratch behind on the host."""
    path = os.path.join(tempfile.gettempdir(), f"ecostream_{name}_{os.getpid()}")
    if path not in _REGISTERED:
        _REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@query("s6_compact_roundtrip", oracle=_AGG_ORACLE)
def s6_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 write side: fragment the events table into many small files
    (the pathological post-streaming-ingest layout), compact with
    ``storage.compact`` — coalesce path, NO shuffle — and aggregate the
    compacted copy.  Oracle = same aggregate over the original table:
    compaction must be row-identical.

    Scale note: coalesce-based compaction concatenates whole input
    partitions per output task — cost is one linear rewrite with no
    exchange, which is why it's the default maintenance pass for a
    100 TB lake's small-file problem."""
    from ..storage import compact

    ev = load_table(spark, sf_dir, "events")
    frag = _workdir("s6_frag")
    ev.repartition(16).write.mode("overwrite").parquet(frag)
    compacted = _workdir("s6_compacted")
    compact(spark, frag, compacted, target_file_bytes=256 * 1024 * 1024)
    return _agg(spark.read.parquet(compacted))


@query("s6_cluster_roundtrip", oracle=_AGG_ORACLE)
def s6_cluster_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 write side, clustering path: re-layout the events table with
    ``repartitionByRange(user_id) + sortWithinPartitions`` (one range
    shuffle that restores min/max-stat selectivity on the cluster key)
    and aggregate the clustered copy — row identity per the oracle.
    tests/test_storage.py separately asserts the layout property (file
    ranges narrow); here the driver checks the data survived."""
    from ..storage import compact

    ev = load_table(spark, sf_dir, "events")
    frag = _workdir("s6c_frag")
    ev.repartition(16).write.mode("overwrite").parquet(frag)
    clustered = _workdir("s6c_clustered")
    compact(
        spark,
        frag,
        clustered,
        target_file_bytes=64 * 1024 * 1024,
        cluster_cols=["user_id"],
    )
    return _agg(spark.read.parquet(clustered))


@query(
    "s7_bucketed_join",
    oracle="""
    SELECT o.o_custkey AS custkey, count(*) AS n_orders,
           ROUND(CAST(SUM(o.o_totalprice) AS DOUBLE), 2) AS total_spend,
           max(c.c_name) AS c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def s7_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing: both sides are
    written bucketed on the join key (8 buckets, sorted), then joined —
    with bucketed scans Spark plans NO exchange on either side (the
    plan property tests/test_storage.py asserts; here the driver checks
    the DATA: the bucketed join must equal the plain join the oracle
    runs).  At 100 TB this is the difference between re-shuffling two
    huge tables per join and reading co-located buckets."""
    import os
    import shutil
    from pathlib import Path

    from ..storage import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # Process-unique table names: two concurrent processes (a pytest
    # run beside a parity sweep) otherwise drop/rewrite/read the SAME
    # managed location and one of them reads a mid-rewrite empty table
    # (observed: spark=0 rows vs oracle=14999 only under concurrency).
    suffix = os.getpid()
    t_orders, t_cust = f"s7_orders_b_{suffix}", f"s7_customer_b_{suffix}"
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_cust}")
    # DROP TABLE is a no-op for a table this session never registered,
    # but a dead process with this pid may have left the managed
    # location behind — saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS.
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in (t_orders, t_cust):
        shutil.rmtree(Path(warehouse) / t, ignore_errors=True)
    write_bucketed(orders, t_orders, ["o_custkey"], 8, ["o_custkey"])
    write_bucketed(cust, t_cust, ["c_custkey"], 8, ["c_custkey"])
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum("o_totalprice").cast("double"), 2
            ).alias("total_spend"),
            F.max("c_name").alias("c_name"),
        )
    )


_S8_MERGE_ORACLE = """
    WITH changes AS (
        SELECT o_orderkey,
               CASE o_orderkey % 10 WHEN 7 THEN 'D' WHEN 3 THEN 'U' END AS op
        FROM orders WHERE o_orderkey % 10 IN (3, 7)
    ), kept AS (
        SELECT o.* FROM orders o
        LEFT JOIN changes c USING (o_orderkey)
        WHERE c.op IS NULL
    ), updated AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE)
                   AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 3
    ), inserted AS (
        SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
               'I' AS o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 1
    ), merged AS (
        SELECT * FROM kept
        UNION ALL SELECT * FROM updated
        UNION ALL SELECT * FROM inserted
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("s8_merge_upsert", oracle=_S8_MERGE_ORACLE)
def s8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (CDC upsert) into a parquet snapshot: apply a deterministic
    change batch — deletes (key%10==7), updates (key%10==3: status 'U',
    price doubled), inserts (key%10==1 re-keyed +1e9, status 'I') — the
    maintenance operator every incremental lake table needs (the engine
    has no table format; this is MERGE as dataflow + snapshot rewrite).

    Shape: the delete/update key set anti-joins the snapshot (broadcast
    — a CDC batch is orders of magnitude smaller than the snapshot),
    updated and inserted rows union in, and the merged snapshot is
    REWRITTEN to parquet and read back before aggregating, so the
    oracle's row-identity check covers the physical write too.  At
    100 TB the same plan applies per partition touched by the batch
    (partition pruning on the join keys), not to the whole table."""
    orders = load_table(spark, sf_dir, "orders")
    touched = orders.where(F.col("o_orderkey") % 10 == 3).unionByName(
        orders.where(F.col("o_orderkey") % 10 == 7)
    ).select("o_orderkey")
    kept = orders.join(F.broadcast(touched), "o_orderkey", "left_anti")
    updated = orders.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 2)
        .cast("double")
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserted = orders.where(F.col("o_orderkey") % 10 == 1).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("I").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    merged = kept.unionByName(updated).unionByName(inserted)
    out = _workdir("s8_merged")
    merged.write.mode("overwrite").parquet(out)
    snap = spark.read.parquet(out)
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


# --- Z-ORDER: multi-dimensional clustering layout -----------------------------

# 8 bits per QUANTIZED dimension (16-bit Morton code, 64 top-prefix
# buckets): each raw dimension is scaled into 0..255 by its own max —
# the value-quantized cousin of Delta's rank-quantized z-order (which
# range-partitions each column first; at scale swap the exact max for
# sampled range boundaries, same bucket semantics).
_Z_BITS = 8
_Z_EPOCH_MIN = 1_704_067_200 // 60  # floor(epoch('2024-01-01') / 60)

_Z_SPARK = " + ".join(
    f"(shiftleft(shiftright(qx, {i}) & 1, {2 * i})"
    f" + shiftleft(shiftright(qy, {i}) & 1, {2 * i + 1}))"
    for i in range(_Z_BITS)
)
_Z_DUCK = " + ".join(
    f"((qx >> {i}) & 1) * {1 << (2 * i)}"
    f" + ((qy >> {i}) & 1) * {1 << (2 * i + 1)}"
    for i in range(_Z_BITS)
)


@query(
    "zorder1_layout_stats",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id AS zx,
               CAST(floor(epoch(ts) / 60) AS BIGINT) - {_Z_EPOCH_MIN} AS zy
        FROM events
    ),
    mx AS (SELECT MAX(zx) AS mx, MAX(zy) AS my FROM keyed),
    quant AS (
        SELECT zx, zy,
               (zx * 256) // (mx + 1) AS qx,
               (zy * 256) // (my + 1) AS qy
        FROM keyed CROSS JOIN mx
    ),
    coded AS (SELECT zx, zy, {_Z_DUCK} AS z FROM quant)
    SELECT CAST(z >> 10 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(MIN(zx) AS BIGINT) AS min_user,
           CAST(MAX(zx) AS BIGINT) AS max_user,
           CAST(MIN(zy) AS BIGINT) AS min_minute,
           CAST(MAX(zy) AS BIGINT) AS max_minute
    FROM coded GROUP BY 1 ORDER BY 1
    """,
)
def zorder1_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering statistics — the layout decision a
    100 TB table makes so that file-level min/max stats prune on TWO
    dimensions at once: quantize (user_id, minutes-since-base) each to
    8 bits by its own max (one broadcast stat row — Delta's z-order
    rank-quantizes the same way, with sampled range boundaries instead
    of an exact max), interleave the bits into a 16-bit Morton key,
    group rows by the key's top-6-bit prefix (the file an order-by-z
    writer would place them in), and report each prefix bucket's
    min/max on BOTH raw dimensions.  The payoff is visible in the
    output: every bucket bounds user AND time simultaneously, so a
    predicate on either column skips most buckets — a single-column
    sort only ever bounds one.  At scale the same key feeds
    ``df.repartitionByRange(F.col("z")).sortWithinPartitions("z")``
    before the parquet write (the s6_cluster_roundtrip machinery);
    this query is the layout's STATISTICS so the decision is
    oracle-checkable: quantization and interleave are pure integer
    arithmetic, identical in both engines.

    Plan: one scan + a 1-row max aggregate broadcast back onto it, the
    16-term interleave folds inside whole-stage codegen, one
    partial-agg shuffle on the 6-bit prefix."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("zx"),
        (
            F.floor(F.unix_timestamp("ts") / 60).cast("long") - _Z_EPOCH_MIN
        ).alias("zy"),
    )
    mx = ev.agg(F.max("zx").alias("mx"), F.max("zy").alias("my"))
    quant = ev.crossJoin(F.broadcast(mx)).select(
        "zx",
        "zy",
        F.expr("(zx * 256) div (mx + 1)").alias("qx"),
        F.expr("(zy * 256) div (my + 1)").alias("qy"),
    )
    coded = quant.select(F.expr(_Z_SPARK).alias("z"), "zx", "zy")
    return (
        coded.groupBy(F.shiftright("z", 10).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("zx").cast("long").alias("min_user"),
            F.max("zx").cast("long").alias("max_user"),
            F.min("zy").cast("long").alias("min_minute"),
            F.max("zy").cast("long").alias("max_minute"),
        )
        .orderBy("z_bucket")
    )


@query(
    "s9_schema_evolution",
    oracle="""
    WITH med AS (
        SELECT CAST(FLOOR(COUNT(*) / 2.0) AS BIGINT) AS split FROM events
    )
    SELECT CASE WHEN event_id < med.split THEN '__legacy__'
                ELSE event_type END AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events, med
    GROUP BY 1 ORDER BY 1
    """,
)
def s9_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 write side, SCHEMA-EVOLUTION path: the events table is
    rewritten as two physical generations — v1 files WITHOUT the
    event_type column (the schema a year-old ingest job wrote), v2
    files with it — and read back as ONE relation via
    ``mergeSchema=true``, v1's missing column surfacing as nulls.
    That null-for-absent semantics is what lets a 100 TB lake add
    columns without rewriting history; the declared aggregate labels
    the legacy rows explicitly so the oracle can replay the
    generation boundary exactly (v1 = event_id below the median
    split, a count-derived cut).

    Scale note: merged-schema reads keep per-file pushdown and
    pruning (each file's own footer schema filters first); the only
    cost is footer reconciliation at planning time — no data rewrite,
    no shuffle beyond the aggregate's."""
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    split = n // 2
    root = _workdir("s9_evo")
    v1 = ev.where(F.col("event_id") < split).drop("event_type")
    v2 = ev.where(F.col("event_id") >= split)
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    return (
        merged.select(
            F.coalesce("event_type", F.lit("__legacy__")).alias(
                "event_type"
            ),
            "user_id",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
        .orderBy("event_type")
    )


# --- S10: column encoding statistics (round 6) -------------------------------


@query(
    "s10_encoding_stats",
    oracle="""
    WITH ordered AS (
        SELECT event_id, event_type, user_id,
               lag(event_type) OVER (ORDER BY event_id) AS prev_type,
               lag(user_id) OVER (ORDER BY event_id) AS prev_user
        FROM events
    ),
    per_col AS (
        SELECT 'event_type' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
               CAST(SUM(CASE WHEN prev_type IS NULL
                              OR prev_type <> event_type
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM ordered
        UNION ALL
        SELECT 'user_id',
               CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT user_id) AS BIGINT),
               CAST(SUM(CASE WHEN prev_user IS NULL
                              OR prev_user <> user_id
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM ordered
    )
    SELECT col, n_rows, n_distinct, n_runs,
           CAST(n_rows // n_runs AS BIGINT) AS rle_ratio,
           CASE WHEN 1000 * n_distinct <= 2 * n_rows THEN 'dictionary'
                WHEN n_rows >= 4 * n_runs THEN 'rle'
                ELSE 'plain' END AS recommendation
    FROM per_col ORDER BY col
    """,
)
def s10_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column ENCODING statistics — the scan an ANALYZE/OPTIMIZE layout
    advisor runs before choosing parquet encodings: per column, row
    count, distinct count, and the number of value RUNS in storage
    (event_id) order, from which dictionary-vs-RLE-vs-plain is decided
    (dictionary when distinct/rows <= 0.2%, RLE when the mean run
    length >= 4 — all-integer predicates).

    Scale shape: run counting needs each row's PREDECESSOR in storage
    order, but NOT a global window (Exchange SinglePartition at 100
    TB) — the engine joins the table to itself on
    event_id = event_id - 1 (a co-partitioned equi-join after one
    hash shuffle each side; contiguous ids make the predecessor an
    equi-key).  The first row (no predecessor) starts a run by
    definition, which the LEFT join's null encodes.  Distinct counts
    are partial-aggregated; the final result is 2 rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    prev = ev.select(
        (F.col("event_id") + 1).alias("event_id"),
        F.col("event_type").alias("prev_type"),
        F.col("user_id").alias("prev_user"),
    )
    joined = ev.join(prev, "event_id", "left").localCheckpoint(eager=False)
    rows = []
    for col, prev_col in (
        ("event_type", "prev_type"),
        ("user_id", "prev_user"),
    ):
        rows.append(
            joined.agg(
                F.lit(col).alias("col"),
                F.count("*").alias("n_rows"),
                F.countDistinct(col).cast("long").alias("n_distinct"),
                F.sum(
                    F.when(
                        F.col(prev_col).isNull()
                        | (F.col(prev_col) != F.col(col)),
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_runs"),
            )
        )
    per_col = rows[0].unionAll(rows[1])
    return per_col.select(
        "col",
        "n_rows",
        "n_distinct",
        "n_runs",
        F.expr("n_rows div n_runs").cast("long").alias("rle_ratio"),
        F.when(
            1000 * F.col("n_distinct") <= 2 * F.col("n_rows"), "dictionary"
        )
        .when(F.col("n_rows") >= 4 * F.col("n_runs"), "rle")
        .otherwise("plain")
        .alias("recommendation"),
    ).orderBy("col")


# --- ROLL1: materialized rollup serving (round 6) ----------------------------


# Shared by roll1 (batch build) and st12 (streaming incremental
# maintenance): both must serve the identical weekly answer, so the
# oracle is the direct raw-events weekly query in both declarations.
_ROLL1_WEEKLY_ORACLE = """
    -- day must be BIGINT BEFORE the // — DuckDB's // on DOUBLE is
    -- plain division (no floor) and the BIGINT cast then ROUNDS
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7 AS week,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY week, event_type
    """


@query("roll1_weekly_from_daily", oracle=_ROLL1_WEEKLY_ORACLE)
def roll1_weekly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED ROLLUP serving — the continuous-aggregate /
    summary-table pattern (TimescaleDB's hypertable rollups, every
    warehouse's daily-cube): aggregate raw events to a DAILY
    (day, event_type) rollup table, WRITE it to parquet (the
    materialization), then answer a WEEKLY query purely from the
    rollup — raw events are never rescanned at serve time.  The oracle
    computes the weekly answer directly from raw events, so the
    re-aggregation is provably lossless: any row dropped, double-
    counted, or mis-bucketed by the rollup or its additivity fails the
    hash.

    Exactness across re-aggregation: counts are integers and value
    sums are DECIMAL(18,2) partials — decimal addition is associative,
    so sum-of-daily-sums equals the direct weekly sum bit-for-bit
    (a double partial would not promise that).  Day and week are
    integer epoch arithmetic (day = floor(epoch/86400), week = day
    div 7) — no engine calendar/week-convention dependence.

    Scale shape: the rollup build is one partial-aggregated shuffle on
    (day, type) writing |days|x|types| rows; serving reads ONLY the
    rollup (at 100 TB: MBs instead of the raw TBs — the entire point),
    with one tiny shuffle to week granularity."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
    daily = ev.groupBy(
        day.alias("day"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
    )
    rollup_path = _workdir("roll1_daily")
    daily.write.mode("overwrite").parquet(rollup_path)
    rollup = spark.read.parquet(rollup_path)
    return (
        rollup.groupBy(
            F.expr("day div 7").cast("long").alias("week"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("value_sum").cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("week", "event_type")
    )


# --- SHARD1: rendezvous (HRW) shard assignment (round 7) -----------------------
#
# The placement primitive under every sharded store and shuffle
# service: highest-random-weight (rendezvous) hashing assigns a key to
# the shard whose hash(key, shard) is maximal, and its defining
# property is MINIMAL MOVEMENT — growing N shards to N+1 reassigns only
# the keys the NEW shard now wins, ~1/(N+1) of them, where a modulo
# scheme reshuffles (N-1)/N of everything.  This declared query
# measures that property on the corpus.

_SHARD1_N = 8


@query(
    "shard1_rendezvous",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(0, {_SHARD1_N + 1}),
                   s -> md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(s AS VARCHAR))) AS hs
        FROM documents
    ),
    asg AS MATERIALIZED (
        SELECT doc_id,
               CAST(list_position(hs[1:{_SHARD1_N}],
                                  list_max(hs[1:{_SHARD1_N}])) - 1
                    AS BIGINT) AS shard_n,
               CAST(list_position(hs, list_max(hs)) - 1 AS BIGINT)
                   AS shard_n1
        FROM h
    )
    SELECT shard_n AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard_n1 <> shard_n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST((1000 * CAST(sum(CASE WHEN shard_n1 <> shard_n
                                      THEN 1 ELSE 0 END) AS BIGINT))
                // count(*) AS BIGINT) AS moved_permille
    FROM asg GROUP BY shard_n ORDER BY shard
    """,
)
def shard1_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment of documents
    to {n} shards, plus the resize experiment: re-assign under {n1}
    shards and report, per original shard, how many documents MOVE —
    rendezvous hashing's minimal-disruption guarantee says ~1/{n1} of
    keys move (only those the new shard wins), versus ~{frac} under
    mod-N.  The per-shard doc counts double as the balance check.

    Scale shape: pure MAP — each row computes its {n1} md5 weights as
    an in-row array expression (argmax = array_position of array_max;
    hex strings compare bytewise identically in both engines) with
    ZERO shuffles before the final {n}-row aggregate.  This is the
    shape that matters: shard assignment runs inside ingest at full
    scan speed.  The oracle replays weights, both argmaxes, and the
    movement counts."""
    n = _SHARD1_N
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        f"transform(sequence(0, {n}), "
        f"s -> md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))))"
    )
    asg = docs.select(
        F.expr(
            f"CAST(array_position(slice({hs}, 1, {n}), "
            f"array_max(slice({hs}, 1, {n}))) - 1 AS BIGINT)"
        ).alias("shard"),
        F.expr(
            f"CAST(array_position({hs}, array_max({hs})) - 1 AS BIGINT)"
        ).alias("shard_n1"),
    )
    return (
        asg.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("shard_n1") != F.col("shard")).cast("int"))
            .cast("long")
            .alias("n_moved"),
        )
        .select(
            "shard",
            "n_docs",
            "n_moved",
            F.expr("(1000 * n_moved) div n_docs")
            .cast("long")
            .alias("moved_permille"),
        )
        .orderBy("shard")
    )


shard1_rendezvous.__doc__ = shard1_rendezvous.__doc__.format(
    n=_SHARD1_N, n1=_SHARD1_N + 1, frac=f"{_SHARD1_N - 1}/{_SHARD1_N}"
)


# --- S11: snapshot time travel (round 7) ---------------------------------------


@query(
    "s11_time_travel",
    oracle="""
    WITH ev AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               (SELECT count(*) // 2 FROM events) AS split
        FROM events
    ),
    v1 AS (SELECT * FROM ev WHERE event_id < split),
    v2 AS (SELECT * FROM ev),
    v3 AS (SELECT * FROM ev
           WHERE event_id >= split OR event_type <> 'error')
    SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM v1
    UNION ALL
    SELECT 2, count(*), CAST(sum(cents) AS BIGINT),
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM v2
    UNION ALL
    SELECT 3, count(*), CAST(sum(cents) AS BIGINT),
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM v3
    ORDER BY version
    """,
)
def s11_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 write side, SNAPSHOT TIME TRAVEL: the lakehouse commit model
    (Iceberg/Delta) as plain parquet + a manifest table.  Three commits
    are physically written — c1 (the first half of events), c2 (an
    APPEND of the second half), c1r (a COPY-ON-WRITE DELETE: c1
    rewritten without its 'error' rows) — and a model-sized MANIFEST
    maps each version to the file sets alive at that version: v1=[c1],
    v2=[c1,c2], v3=[c1r,c2].  Reading "as of v" is then just resolving
    the manifest and scanning v's files: old versions stay queryable
    because commits never mutate files, exactly the property that makes
    snapshot isolation and reproducible training runs possible on a
    100 TB lake.  The declared result audits all three versions (row
    count, cents total, surviving error rows), so the driver hash-pins
    that v1 still reads pre-append, that the append is isolated to v2+,
    and that the delete rewrote history for v3 only.

    Scale shape: the manifest is the ONLY driver-side state (one row
    per commit — Iceberg's own design); each version's read plans as a
    plain multi-dir parquet scan with full pushdown; the audit is one
    union of partial-aggregated scans.  The oracle replays the commit
    boundaries (count-derived midpoint split, the s9 device) from the
    raw table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    split = ev.count() // 2
    root = _workdir("s11_tt")
    c1 = os.path.join(root, "c1")
    c2 = os.path.join(root, "c2")
    c1r = os.path.join(root, "c1r")
    ev.where(F.col("event_id") < split).write.mode("overwrite").parquet(c1)
    ev.where(F.col("event_id") >= split).write.mode("overwrite").parquet(c2)
    spark.read.parquet(c1).where(F.col("event_type") != "error").write.mode(
        "overwrite"
    ).parquet(c1r)
    manifest = spark.createDataFrame(
        [(1, c1), (2, c1), (2, c2), (3, c1r), (3, c2)],
        "version int, path string",
    )
    man_path = os.path.join(root, "manifest")
    manifest.write.mode("overwrite").parquet(man_path)

    # time travel: resolve each version's live file set FROM THE
    # MANIFEST TABLE (model-sized collect — the Iceberg read path),
    # then scan exactly those files
    man = spark.read.parquet(man_path)
    by_version: dict[int, list[str]] = {}
    for r in man.collect():
        by_version.setdefault(int(r["version"]), []).append(r["path"])

    audits = []
    for version in sorted(by_version):
        snap = spark.read.parquet(*by_version[version])
        audits.append(
            snap.agg(
                F.lit(version).cast("long").alias("version"),
                F.count("*").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("sum_cents"),
                F.sum((F.col("event_type") == "error").cast("long"))
                .cast("long")
                .alias("n_errors"),
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("version")


# --- ROLL2: mergeable quantile-sketch serving (round 8) ------------------------
#
# roll1 proves ADDITIVE rollup serving (counts / decimal sums);
# production serving also needs NON-additive stats — p50/p95 latencies,
# value quantiles — answered from stored partials without rescanning
# raw data.  The standard device is a mergeable quantile sketch
# (DDSketch [Masson et al., VLDB 2019], HdrHistogram): log-bucketed
# counters with a RELATIVE-error guarantee, merged by plain addition.
# This implementation uses an integer-exact variant so the DuckDB
# oracle replays it bit-for-bit: a value's bucket keeps the top 6
# binary digits (octave o = bit-length, shift = max(o - 6, 0),
# bucket = [cents >> shift << shift, +2^shift)), giving <= 2^-5 ~ 3.1%
# relative error at any magnitude — all integer shifts, no libm.
#
# The sketch bin expressions are shared with st15 (streaming
# maintenance of the same daily sketch) the way roll1 shares
# _ROLL1_WEEKLY_ORACLE with st12.

_ROLL2_KEEP_BITS = 6


def roll2_bin_exprs():
    """(b_lo, ub) bucket expressions over a BIGINT ``cents`` column —
    Spark side of the sketch binning (guarded to >= 1 so the octave is
    defined; the events generator's floor is 1 cent)."""
    kb = _ROLL2_KEEP_BITS
    c = f"greatest(CAST(round(value * 100) AS BIGINT), CAST(1 AS BIGINT))"
    shift = f"greatest(length(bin({c})) - {kb}, 0)"
    b_lo = f"shiftleft(shiftright({c}, {shift}), {shift})"
    ub = f"{b_lo} + shiftleft(CAST(1 AS BIGINT), {shift}) - 1"
    return F.expr(b_lo).alias("b_lo"), F.expr(ub).alias("ub")


_ROLL2_WEEKLY_ORACLE = f"""
    WITH c AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7 AS week,
               event_type,
               greatest(CAST(round(value * 100) AS BIGINT),
                        CAST(1 AS BIGINT)) AS cents
        FROM events
    ),
    b AS (
        SELECT week, event_type,
               (cents >> s) << s AS b_lo,
               ((cents >> s) << s) + (CAST(1 AS BIGINT) << s) - 1 AS ub,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT *, greatest(length(bin(cents)) - {_ROLL2_KEEP_BITS}, 0)
                            AS s
              FROM c)
        GROUP BY 1, 2, 3, 4
    ),
    cum AS (
        SELECT week, event_type, ub, n,
               CAST(sum(n) OVER (PARTITION BY week, event_type
                                 ORDER BY b_lo) AS BIGINT) AS cum,
               CAST(sum(n) OVER (PARTITION BY week, event_type)
                    AS BIGINT) AS total
        FROM b
    )
    SELECT week, event_type, CAST(max(total) AS BIGINT) AS n,
           CAST(min(CASE WHEN 2 * cum >= total THEN ub END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN 20 * cum >= 19 * total THEN ub END)
                AS BIGINT) AS p95_cents
    FROM cum GROUP BY week, event_type ORDER BY week, event_type
    """


@query("roll2_quantile_sketch_serve", oracle=_ROLL2_WEEKLY_ORACLE)
def roll2_quantile_sketch_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable QUANTILE-sketch serving — the non-additive companion
    to roll1 (VERDICT r7 #7): per-(day, event_type) log-bucketed value
    histograms (DDSketch-style, see module comment) are built once and
    WRITTEN to parquet; the weekly p50/p95 serve then reads ONLY the
    stored sketches and merges them by summing bucket counters —
    quantiles are not additive, but the sketch is, which is the whole
    point of sketch-based serving.  Quantile extraction is integer
    rank selection over the cumulative bucket counts: p50 = first
    bucket where 2·cum >= total (cum >= ceil(total/2)), p95 where
    20·cum >= 19·total; the served value is the bucket upper bound, so
    the answer is within one bucket width (<= 2^-5 relative) of the
    exact percentile — tests/test_storage.py pins that bound against
    exact percentiles AND proves merge-vs-direct losslessness (the
    merged weekly sketch is bit-identical to a sketch built directly
    over the week's raw values).

    Exactness for the oracle: binning is integer bit arithmetic
    (bit-length octave, shifts), counters are BIGINTs, rank conditions
    are integer inequalities — the oracle replays construction, merge,
    and selection exactly, so a single mis-bucketed or double-counted
    value fails the hash.

    Scale shape: the sketch build is one partial-aggregated shuffle on
    (day, type, bucket) — at most |days|·|types|·(64·octaves) rows
    regardless of event count (the 100 TB saving: raw events are never
    rescanned at serve time); the weekly merge is a group-sum over
    that model-sized table, and the per-(week, type) cumulative
    windows run over <= a few hundred buckets each."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
    b_lo, ub = roll2_bin_exprs()
    daily = (
        ev.select(day.alias("day"), "event_type", b_lo, ub)
        .groupBy("day", "event_type", "b_lo", "ub")
        .agg(F.count("*").cast("long").alias("n"))
    )
    sketch_path = _workdir("roll2_daily_sketch")
    daily.write.mode("overwrite").parquet(sketch_path)
    sketches = spark.read.parquet(sketch_path)
    return roll2_serve_weekly(sketches)


def roll2_serve_weekly(daily_sketches: DataFrame) -> DataFrame:
    """Serve weekly p50/p95 from stored daily sketch rows
    (day, event_type, b_lo, ub, n) — merge by addition, then integer
    rank selection.  Shared by roll2 (batch-built sketches) and st15
    (stream-maintained sketches)."""
    from pyspark.sql import Window as W

    weekly = (
        daily_sketches.groupBy(
            F.expr("day div 7").cast("long").alias("week"),
            "event_type",
            "b_lo",
            "ub",
        )
        .agg(F.sum("n").cast("long").alias("n"))
    )
    pw = W.partitionBy("week", "event_type")
    cum = weekly.select(
        "week",
        "event_type",
        "ub",
        F.sum("n").over(pw.orderBy("b_lo")).cast("long").alias("cum"),
        F.sum("n").over(pw).cast("long").alias("total"),
    )
    return (
        cum.groupBy("week", "event_type")
        .agg(
            F.max("total").cast("long").alias("n"),
            F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("ub")))
            .cast("long")
            .alias("p50_cents"),
            F.min(
                F.when(20 * F.col("cum") >= 19 * F.col("total"), F.col("ub"))
            )
            .cast("long")
            .alias("p95_cents"),
        )
        .orderBy("week", "event_type")
    )


# --- S12: zone-map data skipping (round 8) --------------------------------------

_S12_BUCKETS = 16


@query(
    "s12_zonemap_skipping",
    oracle=f"""
    WITH g AS (SELECT CAST(max(user_id) AS BIGINT) AS gmax FROM events),
    w AS (SELECT gmax, gmax // {_S12_BUCKETS} + 1 AS wd FROM g),
    m AS (
        SELECT CAST(user_id // wd AS BIGINT) AS bucket,
               CAST(min(user_id) AS BIGINT) AS mn,
               CAST(max(user_id) AS BIGINT) AS mx,
               CAST(count(*) AS BIGINT) AS n
        FROM events, w GROUP BY 1
    ),
    p AS (SELECT gmax // 4 AS lo, gmax // 2 AS hi FROM g)
    SELECT bucket, mn AS min_user, mx AS max_user, n AS n_rows,
           (mx < lo OR mn > hi) AS pruned,
           (SELECT CAST((1000 * sum(CASE WHEN m2.mx < p2.lo
                                           OR m2.mn > p2.hi
                                         THEN m2.n ELSE 0 END))
                        // sum(m2.n) AS BIGINT)
            FROM m m2, p p2) AS skipped_permille
    FROM m, p ORDER BY bucket
    """,
)
def s12_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP data skipping — the file-pruning mechanic behind every
    lakehouse scan (parquet footer min/max, Delta/Iceberg file stats,
    ORC stripe indexes), declared end to end: the events table is
    physically REWRITTEN clustered into {b} user-range buckets
    (partitionBy — each bucket is a real directory of files), a
    model-sized ZONE MAP (per-bucket min/max/rowcount) is derived from
    the written layout, and a range predicate (the second user-id
    quartile, derived from the data so it scales) is answered AGAINST
    THE MAP ALONE: a bucket whose [min, max] misses the range is
    pruned without touching its files.  Output is the map plus each
    bucket's pruning verdict and the corpus-level skipped-rows
    permille — the number a layout advisor optimizes (on a clustered
    key ~{b}-2 of {b} buckets prune; on a random key none would, which
    is zorder1's motivation).

    Exactness: bucket width, bounds, and permille are pure integer
    arithmetic replayed by the oracle from the raw table — any row
    landing in the wrong physical bucket (or lost by the rewrite)
    changes a min/max/count and fails the hash.

    Scale shape: the rewrite is one range-style shuffle; the zone map
    is built by ONE partial-aggregated pass over the written layout
    (real writers collect it from footers at write time); the pruning
    decision itself touches only the |buckets|-row map — that is the
    entire point at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    g = ev.agg(F.max("user_id").cast("long").alias("gmax"))
    bucketed = ev.crossJoin(F.broadcast(g)).select(
        "user_id",
        "event_type",
        F.expr(f"user_id div (gmax div {_S12_BUCKETS} + 1L)")
        .cast("long")
        .alias("bucket"),
    )
    path = _workdir("s12_zonemap")
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    written = spark.read.parquet(path)
    manifest = written.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
        F.count("*").cast("long").alias("n_rows"),
    )
    pred = g.select(
        F.expr("gmax div 4").cast("long").alias("lo"),
        F.expr("gmax div 2").cast("long").alias("hi"),
    )
    flagged = manifest.crossJoin(F.broadcast(pred)).withColumn(
        "pruned",
        (F.col("max_user") < F.col("lo")) | (F.col("min_user") > F.col("hi")),
    )
    tot = flagged.agg(
        F.expr(
            "CAST((1000 * sum(CASE WHEN pruned THEN n_rows ELSE 0 END))"
            " div sum(n_rows) AS BIGINT)"
        ).alias("skipped_permille")
    )
    return (
        flagged.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "min_user",
            "max_user",
            "n_rows",
            "pruned",
            "skipped_permille",
        )
        .orderBy("bucket")
    )


s12_zonemap_skipping.__doc__ = s12_zonemap_skipping.__doc__.format(
    b=_S12_BUCKETS
)


# --- S13: merge-on-read deletion vectors (round 9) ------------------------------
#
# s8/st9/s11 prove the COPY-ON-WRITE lakehouse write path (MERGE,
# time travel): a delete rewrites every touched file.  The OTHER
# production path (Iceberg v2 positional deletes, Delta deletion
# vectors) defers the rewrite: deletes land as a tiny DV SIDECAR keyed
# by (file, row identity), reads apply it as an anti-join, and a
# maintenance pass rewrites only files whose DV fraction crossed a
# threshold.  Writes stay O(|delete|) instead of O(|touched files|) —
# the reason row-level-update-heavy 100 TB tables choose MOR.

_S13_FILES = 4
_S13_COMPACT_PERMILLE = 300  # rewrite a file once >30% of it is dead


@query(
    "s13_deletion_vector_read",
    oracle=f"""
    WITH ev AS MATERIALIZED (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               event_id % {_S13_FILES} AS file_id
        FROM events
    ),
    flagged AS (
        SELECT *,
               (event_type = 'error'
                OR (file_id = 2 AND cents % 2 = 0)) AS is_del
        FROM ev
    ),
    stats AS (
        SELECT file_id,
               CAST(count(*) AS BIGINT) AS n_base,
               CAST(sum(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deleted,
               CAST(sum(CASE WHEN is_del THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_live,
               CAST(sum(CASE WHEN is_del THEN 0 ELSE cents END) AS BIGINT)
                   AS sum_cents_live
        FROM flagged GROUP BY file_id
    )
    SELECT file_id, n_base, n_deleted,
           CAST((1000 * n_deleted) // n_base AS BIGINT) AS dv_permille,
           (1000 * n_deleted) // n_base > {_S13_COMPACT_PERMILLE}
               AS compacted,
           n_live, sum_cents_live
    FROM stats ORDER BY file_id
    """,
)
def s13_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion vectors (VERDICT r8 #4), end to end on
    real files: the events table is committed as {f} base file groups
    (hash layout: file_id = event_id % {f}); a row-level DELETE
    (error rows everywhere, plus every even-cent row of file 2 — the
    skewed file that makes the threshold non-vacuous) is written as a
    DV SIDECAR parquet of (file_id, event_id) — the base files are
    NOT touched.  Serving reads base ⟕̸ DV (left anti-join on the row
    identity).  The maintenance pass then rewrites exactly the files
    whose DV fraction exceeds {p}‰ (file 2 here) into a compacted
    commit and drops their DV entries; the post-compaction read —
    compacted files served clean + untouched files still applying the
    residual DV — is what the declared per-file audit aggregates, so
    the driver hash pins that MOR-read == compaction-read == the
    copy-on-write answer (the s8 row-identity device, replayed by the
    oracle from the raw table).

    Scale shape: the DV write is O(deleted rows), never a base-file
    rewrite; the serve-path anti-join is file-and-id keyed (at 100 TB
    each scan task anti-joins only ITS file's DV slice — Iceberg
    applies exactly this as a per-file filter at task open); the
    compaction decision reads a {f}-row model-sized stats table; the
    rewrite touches only flagged files.  Everything downstream of the
    physical writes reads FROM the written artifacts, not from
    lineage."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_id") % _S13_FILES).cast("long").alias("file_id"),
    )
    root = _workdir("s13_dv")
    base_path = os.path.join(root, "base")
    dv_path = os.path.join(root, "dv")
    comp_path = os.path.join(root, "compacted")
    ev.write.mode("overwrite").partitionBy("file_id").parquet(base_path)

    base = spark.read.parquet(base_path)
    is_del = (F.col("event_type") == "error") | (
        (F.col("file_id") == 2) & (F.col("cents") % 2 == 0)
    )
    # the DV sidecar: (file, row identity) only — O(|delete|) bytes
    base.where(is_del).select("file_id", "event_id").write.mode(
        "overwrite"
    ).parquet(dv_path)
    dv = spark.read.parquet(dv_path)

    # per-file stats: base counts from the committed files, dead counts
    # from the committed DV — a model-sized table driving compaction
    stats = (
        base.groupBy("file_id")
        .agg(F.count("*").cast("long").alias("n_base"))
        .join(
            dv.groupBy("file_id").agg(
                F.count("*").cast("long").alias("n_deleted")
            ),
            "file_id",
            "left",
        )
        .select(
            "file_id",
            "n_base",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
        )
        .withColumn(
            "dv_permille",
            F.expr("(1000 * n_deleted) div n_base").cast("long"),
        )
        .withColumn(
            "compacted", F.col("dv_permille") > _S13_COMPACT_PERMILLE
        )
    )
    to_compact = [
        int(r["file_id"]) for r in stats.where("compacted").collect()
    ]

    # maintenance: rewrite ONLY the flagged files without their dead
    # rows; their DV entries are retired with the rewrite
    base.where(F.col("file_id").isin(to_compact)).join(
        dv, ["file_id", "event_id"], "left_anti"
    ).write.mode("overwrite").partitionBy("file_id").parquet(comp_path)

    # post-compaction serve: compacted commits read clean, untouched
    # files still anti-join the residual DV
    untouched = base.where(~F.col("file_id").isin(to_compact)).join(
        dv, ["file_id", "event_id"], "left_anti"
    )
    served = spark.read.parquet(comp_path).unionByName(untouched)
    live = served.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_live"),
        F.sum("cents").cast("long").alias("sum_cents_live"),
    )
    return (
        stats.join(live, "file_id", "left")
        .select(
            F.col("file_id").cast("long").alias("file_id"),
            "n_base",
            "n_deleted",
            "dv_permille",
            "compacted",
            F.coalesce("n_live", F.lit(0)).cast("long").alias("n_live"),
            F.coalesce("sum_cents_live", F.lit(0))
            .cast("long")
            .alias("sum_cents_live"),
        )
        .orderBy("file_id")
    )


s13_deletion_vector_read.__doc__ = s13_deletion_vector_read.__doc__.format(
    f=_S13_FILES, p=_S13_COMPACT_PERMILLE
)


# --- S14: snapshot diff (round 9) ----------------------------------------------
#
# s11 proves old versions stay READABLE; the operational question a
# lakehouse owner actually asks between two versions is "what
# changed?" — the table-diff that feeds incremental consumers, audit
# logs, and CDC backfills.  Two physical snapshots are written (v1 =
# the corpus; v2 = v1 with planted DELETEs, INSERTs, and UPDATEs by
# deterministic id rules), then the diff is ONE full outer join on the
# primary key classifying every row as added / removed / changed /
# unchanged, rolled up with exact integer shares.


@query(
    "s14_snapshot_diff",
    oracle="""
    WITH base AS (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               event_type
        FROM events
    ),
    v1 AS (SELECT * FROM base),
    v2 AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 3 THEN cents + 100
                    ELSE cents END AS cents,
               event_type
        FROM base WHERE event_id % 11 != 5
        UNION ALL
        SELECT -event_id - 1, CAST(1 AS BIGINT), 'inserted'
        FROM base WHERE event_id % 13 = 1
    ),
    d AS (
        SELECT CASE
                 WHEN v1.event_id IS NULL THEN 'added'
                 WHEN v2.event_id IS NULL THEN 'removed'
                 WHEN v1.cents != v2.cents
                      OR v1.event_type != v2.event_type THEN 'changed'
                 ELSE 'unchanged'
               END AS change,
               coalesce(v2.cents, 0) - coalesce(v1.cents, 0) AS delta
        FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM d)
    SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(delta) AS BIGINT) AS cents_delta,
           CAST((1000 * count(*)) // t AS BIGINT) AS share_permille
    FROM d, tot
    GROUP BY change, t
    ORDER BY change
    """,
)
def s14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table diff between two physically-written snapshots — the
    incremental-consumer view of the s11 commit model: v2 is v1 with
    deterministic planted deletes (id % 11 = 5), updates (+100 cents
    on id % 7 = 3), and inserts (ids negated out of the non-negative
    natural key domain, for id % 13 = 1); the diff
    classifies every key as added / removed / changed / unchanged via
    ONE full outer join on the primary key and rolls up counts, net
    cents delta, and exact integer shares.  Both snapshots are real
    parquet directories (written, then diffed by reading back), so the
    declared result exercises the actual storage round-trip; the
    oracle replays the mutation rules from the raw table.

    Scale shape: the diff is a single co-partitioned full outer join
    on the key (both sides shuffle once on event_id — at 100 TB this
    is the bucketed-join case: two bucketed-by-key snapshots diff with
    NO shuffle at all) followed by a partial-aggregated 4-group
    rollup.  No driver-side state beyond the 4-row report.

    Reference analog: none — extends the S6 lakehouse write-side
    family (SURVEY §2.10) beside s8/s11/s13."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_type",
    )
    root = _workdir("s14_diff")
    p1 = os.path.join(root, "v1")
    p2 = os.path.join(root, "v2")
    base.write.mode("overwrite").parquet(p1)
    v2 = (
        base.where(F.expr("event_id % 11 != 5"))
        .select(
            "event_id",
            F.expr(
                "CASE WHEN event_id % 7 = 3 THEN cents + 100"
                " ELSE cents END"
            ).alias("cents"),
            "event_type",
        )
        .unionByName(
            base.where(F.expr("event_id % 13 = 1")).select(
                # Insert keys NEGATED out of the natural key domain
                # (ids are non-negative), so a corpus with ids >= 1e9
                # can never collide a planted insert with a real key.
                F.expr("-event_id - 1").alias("event_id"),
                F.lit(1).cast("long").alias("cents"),
                F.lit("inserted").alias("event_type"),
            )
        )
    )
    v2.write.mode("overwrite").parquet(p2)

    s1 = spark.read.parquet(p1).select(
        F.col("event_id").alias("k1"),
        F.col("cents").alias("c1"),
        F.col("event_type").alias("t1"),
    )
    s2 = spark.read.parquet(p2).select(
        F.col("event_id").alias("k2"),
        F.col("cents").alias("c2"),
        F.col("event_type").alias("t2"),
    )
    d = s1.join(s2, s1["k1"] == s2["k2"], "full_outer").select(
        F.expr(
            "CASE WHEN k1 IS NULL THEN 'added'"
            " WHEN k2 IS NULL THEN 'removed'"
            " WHEN c1 != c2 OR t1 != t2 THEN 'changed'"
            " ELSE 'unchanged' END"
        ).alias("change"),
        F.expr("coalesce(c2, 0L) - coalesce(c1, 0L)").alias("delta"),
    )
    tot = d.agg(F.count("*").cast("long").alias("t"))
    return (
        d.groupBy("change")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("delta").cast("long").alias("cents_delta"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "change",
            "n_rows",
            "cents_delta",
            F.expr("CAST((1000 * n_rows) div t AS BIGINT)").alias(
                "share_permille"
            ),
        )
        .orderBy("change")
    )


# --- S15: order-free integrity checksum manifest (round 9) ----------------------
#
# The data-integrity half of the lakehouse story: a per-bucket content
# checksum that is invariant to physical row order (XOR of per-row
# content hashes — commutative, associative, overflow-free), so two
# replicas, a pre/post-migration pair, or a suspect re-export can be
# compared bucket-by-bucket without sorting 100 TB.  The engine
# PHYSICALLY exercises the property: the checksum is computed from a
# written-and-read-back REPARTITIONED copy (a totally different row
# order than the source scan), and a planted single-row corruption in
# a second copy must flip exactly its own bucket's checksum and no
# other.

_S15_BUCKETS = 16
_S15_CORRUPT_ID = 7  # the planted flipped row


@query(
    "s15_integrity_checksum",
    oracle=f"""
    WITH rows_h AS (
        SELECT event_id % {_S15_BUCKETS} AS bucket,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                    || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
                    || ':' || event_type), 1, 15))::UBIGINT::BIGINT AS h,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                    || CAST(CASE WHEN event_id = {_S15_CORRUPT_ID}
                                 THEN CAST(round(value * 100) AS BIGINT) + 1
                                 ELSE CAST(round(value * 100) AS BIGINT)
                            END AS VARCHAR)
                    || ':' || event_type), 1, 15))::UBIGINT::BIGINT AS hc
        FROM events
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS checksum,
           bit_xor(h) != bit_xor(hc) AS corrupt_detected
    FROM rows_h GROUP BY bucket ORDER BY bucket
    """,
)
def s15_integrity_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free per-bucket content checksums (XOR of md5-prefix row
    hashes) — the replica-verification manifest: the declared checksum
    is computed from a REPARTITIONED written-and-read-back copy of the
    corpus, so the oracle hash match (computed straight off the source
    in a different physical order) IS the proof that the checksum
    ignores row order; and a second copy with ONE planted flipped cent
    (event_id {cid}) must differ in exactly its own bucket
    (corrupt_detected true there, false everywhere else).

    Scale shape: one map-side hash per row, one partial-aggregated XOR
    per bucket — XOR partials combine on the map side, so the shuffle
    carries {b} rows per partition regardless of corpus size; no sort,
    no driver state.  This is how 100 TB replicas are actually
    compared (content-defined manifests, not row-order diffs).

    Reference analog: none — extends the S6 storage family (SURVEY
    §2.10) beside s14's logical diff with the physical-integrity
    check."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_type",
    )
    root = _workdir("s15_chk")
    copy = os.path.join(root, "copy")
    # a physically different layout: shuffled into 8 files by hash
    base.repartition(8, "event_type").write.mode("overwrite").parquet(copy)
    rows = spark.read.parquet(copy).select(
        F.expr(f"event_id % {_S15_BUCKETS}").alias("bucket"),
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':',"
            " CAST(cents AS STRING), ':', event_type)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':',"
            f" CAST(CASE WHEN event_id = {_S15_CORRUPT_ID} THEN cents + 1"
            f" ELSE cents END AS STRING), ':', event_type)), 1, 15), 16, 10)"
            f" AS BIGINT)"
        ).alias("hc"),
    )
    return (
        rows.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(h)").cast("long").alias("checksum"),
            (F.expr("bit_xor(h)") != F.expr("bit_xor(hc)")).alias(
                "corrupt_detected"
            ),
        )
        .orderBy("bucket")
    )


s15_integrity_checksum.__doc__ = s15_integrity_checksum.__doc__.format(
    cid=_S15_CORRUPT_ID, b=_S15_BUCKETS
)


# --- ROLL3: mergeable distinct-count sketch rollup (round 9) --------------------
#
# The rollup trilogy's third member: roll1 proves ADDITIVE rollups
# (sums re-aggregate), roll2 proves QUANTILE rollups (log-bucket
# histograms merge), and this proves DISTINCT-COUNT rollups — the one
# aggregate that is NEITHER additive nor histogram-able, and the
# reason theta/KMV/HLL sketches exist in every lakehouse.  Daily KMV
# sketches (k smallest md5-derived user hashes per (day, type)) are
# physically written once; weekly distinct-user estimates are served
# by MERGING stored sketches (union -> re-take k smallest).  Because
# the hash of a user is deterministic, the k smallest of the union of
# per-day k-minima ARE the k smallest of the raw weekly set — so the
# served estimate is BIT-IDENTICAL to the direct weekly KMV, and the
# oracle signs exactly that (it computes the weekly sketch straight
# from raw events; a hash match proves lossless mergeability, the
# roll2 merge-vs-direct property for the distinct aggregate).

_ROLL3_K = 64
_ROLL3_SCALE = 1 << 40


_ROLL3_WEEKLY_ORACLE = f"""
    WITH hashed AS (
        SELECT DISTINCT
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) // 7 AS week,
               event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                   ::UBIGINT::BIGINT + 1 AS h
        FROM events
    ),
    ranked AS (
        SELECT week, event_type, h,
               row_number() OVER (
                   PARTITION BY week, event_type ORDER BY h
               ) AS rn,
               count(*) OVER (PARTITION BY week, event_type) AS nd
        FROM hashed
    )
    SELECT week, event_type,
           CAST(max(nd) AS BIGINT) AS n_exact,
           CAST(CASE WHEN max(nd) < {_ROLL3_K} THEN max(nd)
                ELSE ({_ROLL3_K - 1} * {_ROLL3_SCALE})
                     // max(CASE WHEN rn = {_ROLL3_K} THEN h END)
           END AS BIGINT) AS kmv_est,
           CAST((1000 * abs(CAST(CASE WHEN max(nd) < {_ROLL3_K}
                    THEN max(nd)
                    ELSE ({_ROLL3_K - 1} * {_ROLL3_SCALE})
                         // max(CASE WHEN rn = {_ROLL3_K} THEN h END)
                END AS BIGINT) - max(nd))) // greatest(max(nd), 1)
                AS BIGINT) AS err_permille
    FROM ranked WHERE rn <= {_ROLL3_K}
    GROUP BY week, event_type ORDER BY week, event_type
    """


def roll3_daily_sketch(ev_hashed: DataFrame) -> DataFrame:
    """(day, event_type, h) -> the k smallest hashes per (day, type):
    the stored daily KMV rows.  Shared by roll3 (batch build) and
    st17 (streaming maintenance) so both paths provably write the
    same sketch."""
    from pyspark.sql import Window as W

    wd = W.partitionBy("day", "event_type").orderBy("h")
    return (
        ev_hashed.distinct()
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= _ROLL3_K)
        .select("day", "event_type", "h")
    )


def roll3_serve_weekly(spark: SparkSession, store: str, sf_dir: str) -> DataFrame:
    """Weekly KMV merge + estimate + exact audit from a daily-sketch
    parquet store — roll3's serve path, reused by st17."""
    from pyspark.sql import Window as W

    sk = spark.read.parquet(store).select(
        F.expr("day div 7").alias("week"), "event_type", "h"
    )
    ww = W.partitionBy("week", "event_type").orderBy("h")
    merged = (
        sk.distinct()
        .withColumn("rn", F.row_number().over(ww))
        .where(F.col("rn") <= _ROLL3_K)
    )
    # The exact audit counts the SAME quantity the oracle counts:
    # distinct 40-bit user HASHES per (week, type), not distinct user
    # ids — a hash collision between two users in one group would
    # otherwise make the two sides disagree by 1.  (The sketch domain
    # is the hash space, so the collision-folded count is also the
    # estimator's true target.)
    exact = (
        roll3_hash_exprs(load_table(spark, sf_dir, "events"))
        .select(F.expr("day div 7").alias("week"), "event_type", "h")
        .distinct()
        .groupBy("week", "event_type")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    est = merged.groupBy("week", "event_type").agg(
        F.count("*").cast("long").alias("n_in_sketch"),
        F.max(
            F.expr(f"CASE WHEN rn = {_ROLL3_K} THEN h END")
        ).alias("hk"),
    )
    return (
        est.join(exact, ["week", "event_type"])
        .select(
            "week",
            "event_type",
            "n_exact",
            F.expr(
                f"CAST(CASE WHEN n_in_sketch < {_ROLL3_K} THEN n_in_sketch"
                f" ELSE ({_ROLL3_K - 1} * {_ROLL3_SCALE}) div hk"
                f" END AS BIGINT)"
            ).alias("kmv_est"),
            F.expr(
                f"CAST((1000 * abs(CAST(CASE WHEN n_in_sketch < {_ROLL3_K}"
                f" THEN n_in_sketch"
                f" ELSE ({_ROLL3_K - 1} * {_ROLL3_SCALE}) div hk END"
                f" AS BIGINT) - n_exact)) div greatest(n_exact, 1L)"
                f" AS BIGINT)"
            ).alias("err_permille"),
        )
        .orderBy("week", "event_type")
    )


def roll3_hash_exprs(df: DataFrame) -> DataFrame:
    """events -> (day, event_type, h) with the portable md5-derived
    40-bit user hash (kmv1's family)."""
    return df.select(
        F.expr(
            "CAST(unix_micros(ts) div 86400000000 AS BIGINT)"
        ).alias("day"),
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 10),"
            " 16, 10) AS BIGINT) + 1"
        ).alias("h"),
    )


@query("roll3_distinct_sketch_serve", oracle=_ROLL3_WEEKLY_ORACLE)
def roll3_distinct_sketch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct-user estimates served ENTIRELY from stored
    daily KMV sketches — the distinct-count member of the rollup
    trilogy (roll1 additive / roll2 quantile / roll3 distinct): per
    (day, type) the k = {k} smallest md5-derived user hashes are
    written to parquet once; the weekly serve unions stored daily
    rows, re-takes the k smallest per (week, type), and estimates
    (k−1)·2^40 div h_(k) with the exact-count fallback for small
    sets.  Deterministic hashing makes the merge LOSSLESS (the k
    smallest of unioned per-day k-minima are the weekly k smallest),
    so the oracle — which computes the weekly sketch straight from
    raw events — signs bit-identical merge-vs-direct, roll2's
    property for the aggregate that is neither additive nor
    histogram-able.  n_exact and err_permille audit the estimator
    against the exact count of DISTINCT 40-BIT HASHES per (week, type)
    — the quantity a KMV sketch estimates; hash collisions fold true
    users together identically in both engines, so n_exact is a
    hash-distinct count, not a user-distinct count (they differ only
    with ~n²/2^41 collision probability).  k = {k} ⇒ ~12% relative
    error bound; testdata reads single digits.

    Scale shape: sketch build is one distinct (day, type, hash)
    shuffle + the per-group top-k; the store holds ≤ |days|·|types|·k
    rows; serving never rescans events — at 100 TB the distinct
    dashboard reads kilobytes.  Reference analog: the K5/K2 sketch
    family (SURVEY §2.7) lifted to the S6 serving story."""
    ev = roll3_hash_exprs(load_table(spark, sf_dir, "events"))
    daily = roll3_daily_sketch(ev)
    root = _workdir("roll3_kmv")
    store = os.path.join(root, "daily_sketches")
    daily.write.mode("overwrite").parquet(store)
    return roll3_serve_weekly(spark, store, sf_dir)


roll3_distinct_sketch_serve.__doc__ = roll3_distinct_sketch_serve.__doc__.format(
    k=_ROLL3_K
)


# --- S16: incremental join-view maintenance (round 10) --------------------------
#
# The maintenance side of the materialized-view story s14 reads and
# st12/roll3 cover for single-table rollups: an AGGREGATED JOIN view
# (orders ⋈ customer rolled up to (nation, priority)) kept current
# under inserts WITHOUT recomputing the join over the full fact table.
# Aggregate-join views are self-maintainable under inserts (Gupta &
# Mumick's IVM classification): delta-view = delta-orders ⋈ customer
# aggregated to the same keys, and the merged view is the group-wise
# SUM of the stored view and the delta view.  The oracle computes the
# view DIRECTLY over the full orders table, so the hash match proves
# incremental maintenance == full recompute, row for row and cent for
# cent.


@query(
    "s16_incremental_join_view",
    oracle="""
    SELECT c.c_nationkey AS nation, o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def s16_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregated join view: the base
    view (orders with o_orderkey % 10 != 7, joined to customer and
    rolled up to (nation, priority) counts + exact revenue cents) is
    physically WRITTEN to parquet; the remaining orders arrive as the
    insert delta, and maintenance joins ONLY the delta against the
    dimension, aggregates it to the same keys, and group-wise sums it
    into the stored view — the fact table is never rescanned.  The
    oracle computes the same view directly over ALL orders, so the
    driver hash proves the incremental path equals the full recompute
    (the d12/sim11/st17 increment-equals-batch contract, now for the
    aggregate-JOIN view class — self-maintainable under inserts, Gupta
    & Mumick 1995).

    Scale shape at 100 TB: maintenance cost is |delta| ⋈ broadcast
    dimension + a |groups|-row merge — independent of the fact table's
    size, which is the entire point of IVM; the stored view is
    |nations|x|priorities| rows.  Deletes/updates extend the same
    dataflow with signed deltas (counts and cents are both additive);
    non-additive aggregates (min/max) need the s13-style tombstone
    path instead.

    Reference analog: none — extends the S6 lakehouse family
    (SURVEY §2.10) beside s8/s11/s13/s14."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )

    def view(fact: DataFrame) -> DataFrame:
        return (
            fact.join(F.broadcast(cust), fact["o_custkey"] == cust["c_custkey"])
            .groupBy(
                F.col("c_nationkey").alias("nation"),
                F.col("o_orderpriority").alias("priority"),
            )
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
        )

    root = _workdir("s16_view")
    store = os.path.join(root, "view_v0")
    view(orders.where(F.expr("o_orderkey % 10 != 7"))).write.mode(
        "overwrite"
    ).parquet(store)

    delta = orders.where(F.expr("o_orderkey % 10 = 7"))
    merged = (
        spark.read.parquet(store)
        .unionByName(view(delta))
        .groupBy("nation", "priority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )
    return merged.select(
        "nation", "priority", "n_orders", "revenue_cents"
    ).orderBy("nation", "priority")


# --- ROLL4: CMS heavy-hitter rollup serve (round 11) ----------------------------
#
# The FREQUENCY member completing the rollup family (roll1 additive /
# roll2 quantile / roll3 distinct / roll4 heavy-hitters): per (day) a
# Count-Min grid (cms1's construction and hash family) plus that day's
# top-K candidate list are written to parquet once; the weekly serve
# SUMS the stored daily grids (CMS counters are linear — cell-wise
# addition of per-day grids IS the weekly grid, exactly) and probes the
# union of the daily candidate lists against the merged grid.  The
# oracle builds the weekly grid STRAIGHT from raw events, so the hash
# match proves merge-of-daily == direct-weekly bit for bit — roll1's
# property, for a sketch instead of a plain sum.

from .sketches import _cms1_bucket_sql  # noqa: E402  (shared hash family)

_ROLL4_D = 4  # CMS depth (rows)
_ROLL4_TOPD = 25  # per-day candidate heap size
_ROLL4_TOPW = 5  # served heavy hitters per week


def _roll4_oracle() -> str:
    from .sketches import _CMS1_W

    return f"""
    WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
    daily_uc AS MATERIALIZED (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    wk_grid AS MATERIALIZED (
        SELECT d // 7 AS week, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                    || CAST(user_id AS VARCHAR)), 1, 8))
                   ::UBIGINT::BIGINT % {_CMS1_W} AS bucket,
               CAST(sum(cnt) AS BIGINT) AS c
        FROM daily_uc CROSS JOIN js
        GROUP BY 1, 2, 3
    ),
    daily_top AS (
        SELECT d, user_id
        FROM (
            SELECT d, user_id,
                   row_number() OVER (PARTITION BY d
                                      ORDER BY cnt DESC, user_id) AS rn
            FROM daily_uc
        ) WHERE rn <= {_ROLL4_TOPD}
    ),
    cands AS (
        SELECT d // 7 AS week, user_id,
               CAST(count(*) AS BIGINT) AS n_cand_days
        FROM daily_top GROUP BY 1, 2
    ),
    est AS (
        SELECT c.week, c.user_id, c.n_cand_days,
               CAST(min(g.c) AS BIGINT) AS est_count
        FROM cands c
        CROSS JOIN js
        JOIN wk_grid g ON g.week = c.week AND g.j = js.j
         AND g.bucket = ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                 || CAST(c.user_id AS VARCHAR)), 1, 8))
                 ::UBIGINT::BIGINT % {_CMS1_W}
        GROUP BY 1, 2, 3
    )
    SELECT week, rank, user_id, est_count, n_cand_days
    FROM (
        SELECT week, user_id, est_count, n_cand_days,
               CAST(row_number() OVER (PARTITION BY week
                        ORDER BY est_count DESC, user_id) AS BIGINT) AS rank
        FROM est
    ) WHERE rank <= {_ROLL4_TOPW}
    ORDER BY week, rank
    """



def roll4_daily_counts(ev: DataFrame) -> DataFrame:
    """events -> exact per-(day, user) counts — the additive candidate
    tier the CMS + heap pairing requires (a grid alone cannot
    enumerate keys).  Additive: partial-slice counts SUM to the total,
    so st22 maintains this table under micro-batch slicing."""
    return ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        "user_id",
    ).agg(F.count("*").cast("long").alias("cnt"))


def roll4_daily_grid(daily_uc: DataFrame) -> DataFrame:
    """(d, user_id, cnt) -> per-day CMS grid rows (d, j, bucket, c).
    LINEAR: grids of partial slices sum, cell-wise, to the grid of the
    whole — the property both the weekly serve (merge across days) and
    st22 (merge across micro-batches) rely on."""
    js = F.array(*[F.lit(j) for j in range(_ROLL4_D)])
    return (
        daily_uc.select("d", "user_id", "cnt", F.explode(js).alias("j"))
        .select(
            "d", "cnt", "j", F.expr(_cms1_bucket_sql("j", "user_id")).alias("bucket")
        )
        .groupBy("d", "j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def roll4_daily_top(daily_uc: DataFrame) -> DataFrame:
    """Per-day top-{k} candidate heap (ties to user_id)."""
    from pyspark.sql import Window

    wd = Window.partitionBy("d").orderBy(F.desc("cnt"), "user_id")
    return (
        daily_uc.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= _ROLL4_TOPD)
        .select("d", "user_id")
    )


def roll4_serve_weekly(grid: DataFrame, daily_top: DataFrame) -> DataFrame:
    """Weekly top-{k} heavy hitters from the two stores alone."""
    from pyspark.sql import Window

    js = F.array(*[F.lit(j) for j in range(_ROLL4_D)])
    wk_grid = grid.groupBy(
        F.expr("d div 7").cast("long").alias("week"), "j", "bucket"
    ).agg(F.sum("c").cast("long").alias("c"))
    cands = daily_top.groupBy(
        F.expr("d div 7").cast("long").alias("week"), "user_id"
    ).agg(F.count("*").cast("long").alias("n_cand_days"))
    probes = cands.select(
        "week", "user_id", "n_cand_days", F.explode(js).alias("j")
    ).select(
        "week",
        "user_id",
        "n_cand_days",
        "j",
        F.expr(_cms1_bucket_sql("j", "user_id")).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(wk_grid), ["week", "j", "bucket"])
        .groupBy("week", "user_id", "n_cand_days")
        .agg(F.min("c").cast("long").alias("est_count"))
    )
    ww = Window.partitionBy("week").orderBy(F.desc("est_count"), "user_id")
    return (
        est.withColumn("rank", F.row_number().over(ww).cast("long"))
        .where(F.col("rank") <= _ROLL4_TOPW)
        .select("week", "rank", "user_id", "est_count", "n_cand_days")
        .orderBy("week", "rank")
    )


roll4_daily_top.__doc__ = roll4_daily_top.__doc__.format(k=_ROLL4_TOPD)
roll4_serve_weekly.__doc__ = roll4_serve_weekly.__doc__.format(k=_ROLL4_TOPW)


@query("roll4_cms_rollup_serve", oracle=_roll4_oracle())
def roll4_cms_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly heavy hitters served from STORED daily Count-Min grids —
    the frequency member completing the rollup family (roll1 additive /
    roll2 quantile / roll3 distinct / roll4 heavy-hitters): per day,
    cms1's {d}x{w} grid (same md5-prefix hash family, weighted by the
    pre-aggregated per-(day, user) counts) and the day's top-{topd}
    candidate list (the classic CMS + candidate-heap pairing — a CMS
    alone cannot enumerate keys) are written to parquet once; the
    weekly serve reads ONLY the two stores, SUMS the daily grids
    cell-wise into the weekly grid, unions the daily candidates, and
    ranks each week's top-{topw} by min-of-{d} estimate.  Counter
    LINEARITY is the property under proof: the oracle builds the
    weekly grid straight from raw events, so the driver's hash match
    certifies merge-of-daily == direct-weekly to the last counter —
    roll1's additivity, lifted to a sketch.  Ties fall to user_id at
    both the daily heap and the weekly ranking, so the result is
    deterministic in both engines.

    Scale shape: ONE partial-aggregated (day, user) count shuffle
    touches the fact table; the grid store holds <= |days|·{d}·{w}
    rows and the candidate store |days|·{topd} — the weekly dashboard
    reads kilobytes at any corpus size, and a new day appends one grid
    + one heap without touching history.  Candidate recall follows the
    heap bound: a user in a week's true top-{topw} must clear some
    day's top-{topd} unless their traffic is uniformly thin — the
    documented CMS+heap trade (Cormode & Muthukrishnan 2005, §4.2).
    Reference analog: the K-family sketches (SURVEY §2.7) on the S6
    serving story."""
    ev = load_table(spark, sf_dir, "events")
    daily_uc = roll4_daily_counts(ev).localCheckpoint(eager=False)
    # (two consumers below — grid build + daily heap: one scan, one
    # partial-aggregated shuffle behind the checkpoint)
    grids = roll4_daily_grid(daily_uc)
    daily_top = roll4_daily_top(daily_uc)
    root = _workdir("roll4_cms")
    grid_store = os.path.join(root, "daily_grids")
    top_store = os.path.join(root, "daily_top")
    grids.write.mode("overwrite").parquet(grid_store)
    daily_top.write.mode("overwrite").parquet(top_store)

    # ---- serve: the two stores only — events are never rescanned ----
    return roll4_serve_weekly(
        spark.read.parquet(grid_store), spark.read.parquet(top_store)
    )


from .sketches import _CMS1_W as _ROLL4_W  # noqa: E402  (shared grid width)

roll4_cms_rollup_serve.__doc__ = roll4_cms_rollup_serve.__doc__.format(
    d=_ROLL4_D, w=_ROLL4_W, topd=_ROLL4_TOPD, topw=_ROLL4_TOPW
)


# --- VAR1: VariantType storage + typed access for events.props (round 12) -------


@query(
    "var1_variant_typed_serve",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT CAST(props ->> '$.k' AS INT)) AS BIGINT)
               AS n_k,
           CAST(sum(CASE WHEN CAST(props ->> '$.k' AS INT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(count(CASE WHEN 1 = 0 THEN 1 END) AS BIGINT) AS n_miss,
           'OBJECT<k: BIGINT>' AS var_schema
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def var1_variant_typed_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6's modern semi-structured surface: ``events.props`` parsed to
    Spark 4 VARIANT (``parse_json``), PERSISTED as a variant parquet
    column, read back, and served through typed access — the
    public-engine answer to JSON columns at 100 TB (binary-encoded
    values + shredded statistics instead of per-query string parsing,
    the path f3/a2's ``get_json_object`` cannot take).

    Exercised surface, all JVM expressions (no Python in the plan):
    ``parse_json`` (ingest), a parquet write/read ROUNDTRIP of the
    variant column (the storage leg — the reader must reassemble
    binary variant, not re-parse text), ``variant_get`` with a typed
    path (``'$.k'`` as int, feeding sum/distinct/range predicates),
    ``try_variant_get`` on a MISSING path (must be NULL for every row:
    ``n_miss`` = 0), and ``schema_of_variant`` (every row must infer
    ``OBJECT<k: BIGINT>`` — the type the shredding planner would use;
    min() over rows pins uniformity).  The oracle replays every
    aggregate from the raw JSON text with DuckDB's JSON operators, so
    the hash certifies text-parse == binary-variant end to end.

    Scale shape: one events scan + variant encode + columnar write,
    one store scan with a partial-aggregated groupBy to |types| rows.
    Variant decode is vectorized JVM code; no UDF, no re-tokenizing
    JSON per access at serve time.

    Reference analog: the nested-document event payload
    (producer.py:13-32, X12/SURVEY §2.11) — the reference stores parsed
    dicts; the Spark-first form stores typed binary variant."""
    ev = load_table(spark, sf_dir, "events")
    root = _workdir("var1_variant")
    store = os.path.join(root, "variant_store")
    (
        ev.select("event_type", F.parse_json("props").alias("v"))
        .write.mode("overwrite")
        .parquet(store)
    )
    back = spark.read.parquet(store)
    typed = back.select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("try_variant_get(v, '$.missing', 'int')").alias("miss"),
        F.expr("schema_of_variant(v)").alias("sch"),
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
            .cast("long")
            .alias("n_hi"),
            F.count("miss").cast("long").alias("n_miss"),
            F.min("sch").alias("var_schema"),
        )
        .orderBy("event_type")
    )
