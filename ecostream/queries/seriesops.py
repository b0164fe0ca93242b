"""Time-series densification and fuzzy string matching (training-data
pipeline extensions, BASELINE.json north star).

ts1: gap-fill / densify — the warehouse op behind every dashboard and
feature-store timeline: build the complete day × type grid from the
data's own bounds, left-join the observed aggregates, zero-fill counts
and forward-fill measures.  The reference's window buffers
(consumer.py:32-37) simply skip empty windows; a training pipeline
needs the explicit dense grid.

str1/str2: fuzzy matching and regex extraction — edit-distance
candidate pairs under a blocking key (the classic record-linkage plan:
block first so the quadratic comparison runs per-block, never globally)
and regex-based token extraction (X-family scalar coverage).

Determinism: the grid is fully determined by the data bounds; rounding
happens on the per-day aggregate BEFORE forward-filling so the carried
value is bit-identical in both engines; levenshtein is identically
defined (unit-cost edits) in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import load_table
from .registry import query


# --- TS1: gap-fill / densification ------------------------------------------


@query(
    "ts1_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, event_type,
               count(*) AS cnt,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS sum_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT min(d) AS lo, max(d) AS hi FROM daily
    ), spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS d
        FROM bounds
    ), grid AS (
        SELECT spine.d, t.event_type
        FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT epoch_us(grid.d) AS day_us, grid.event_type,
           COALESCE(cnt, 0) AS cnt,
           COALESCE(
               LAST_VALUE(sum_value IGNORE NULLS) OVER (
                   PARTITION BY grid.event_type ORDER BY grid.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               -1.0) AS filled_sum_value
    FROM grid LEFT JOIN daily
      ON grid.d = daily.d AND grid.event_type = daily.event_type
    ORDER BY grid.event_type, day_us
    """,
)
def ts1_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the daily event series: a generated day spine (from the
    data's own min/max — F.sequence + explode) crossed with the
    distinct event types, left-joined to the observed daily aggregates;
    counts zero-fill, the daily sum forward-fills via last-non-null
    over an ever-growing frame (-1 before the first observation).
    Scale shape: the fact is reduced to |days|×|types| rows FIRST; the
    spine/grid/ffill all operate on the tiny aggregate, and the grid
    join broadcasts the spine."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6).alias(
            "sum_value"
        ),
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    types = ev.select("event_type").distinct()
    grid = F.broadcast(spine).crossJoin(types)
    w = (
        Window.partitionBy(grid.event_type)
        .orderBy(grid.d)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(
        daily,
        (grid.d == daily.d) & (grid.event_type == daily.event_type),
        "left",
    )
    return joined.select(
        F.unix_micros(grid.d.cast("timestamp")).alias("day_us"),
        grid.event_type,
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.coalesce(
            F.last("sum_value", ignorenulls=True).over(w), F.lit(-1.0)
        ).alias("filled_sum_value"),
    ).orderBy("event_type", "day_us")


# --- STR1: blocked edit-distance fuzzy join ---------------------------------


@query(
    "str1_fuzzy_part_match",
    oracle="""
    WITH nm AS MATERIALIZED (
        SELECT DISTINCT p_type, p_name FROM part
    ),
    np AS MATERIALIZED (
        SELECT x.p_type, x.p_name AS name_a, y.p_name AS name_b,
               levenshtein(x.p_name, y.p_name) AS edit_dist
        FROM nm x JOIN nm y
          ON x.p_type = y.p_type AND x.p_name <> y.p_name
        WHERE levenshtein(x.p_name, y.p_name) <= 2
    )
    SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
           np.name_a, np.name_b, CAST(np.edit_dist AS BIGINT) AS edit_dist
    FROM np
    JOIN part a ON a.p_type = np.p_type AND a.p_name = np.name_a
    JOIN part b ON b.p_type = np.p_type AND b.p_name = np.name_b
    WHERE a.p_partkey < b.p_partkey
    ORDER BY partkey_a, partkey_b
    LIMIT 200
    """,
)
def str1_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names by edit distance ≤ 2 — the
    record-linkage pattern, computed on NAME TYPES, not rows: dedup to
    the distinct (p_type, p_name) vocabulary first, run the quadratic
    levenshtein over within-block name pairs (vocabulary², tiny), then
    join the matched name pairs back to part keys.  Round 7 re-plan:
    the row-level form compared 33M row pairs through a 6-key p_type
    join — 6 parallel tasks doing 33M levenshteins, 57 s at sf0.1 and
    its DuckDB replay 15 s; the type-level form does ~240k levenshteins
    and distributes the key mapping over (type, name) joins — same
    rows, 30x less comparison work (the dedup-before-compare move every
    record-linkage engine makes: string similarity is a function of the
    VALUES, so compare values once however many rows share them).  At
    100 TB the name vocabulary is the model-sized table and the
    row-mapping joins carry well-distributed composite keys."""
    part = load_table(spark, sf_dir, "part")
    nm = part.select("p_type", "p_name").distinct()
    x = nm.select("p_type", F.col("p_name").alias("name_a"))
    y = nm.select(F.col("p_type").alias("ty"), F.col("p_name").alias("name_b"))
    np_ = (
        x.join(y, (x["p_type"] == y["ty"]) & (F.col("name_a") != F.col("name_b")))
        .where(F.levenshtein("name_a", "name_b") <= 2)
        .select(
            "p_type",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
    )
    a = part.select(
        F.col("p_type").alias("ta"),
        F.col("p_name").alias("name_a"),
        F.col("p_partkey").alias("partkey_a"),
    )
    b = part.select(
        F.col("p_type").alias("tb"),
        F.col("p_name").alias("name_b"),
        F.col("p_partkey").alias("partkey_b"),
    )
    return (
        np_.join(a, (np_["p_type"] == a["ta"]) & (np_["name_a"] == a["name_a"]))
        .join(b, (np_["p_type"] == b["tb"]) & (np_["name_b"] == b["name_b"]))
        .where(F.col("partkey_a") < F.col("partkey_b"))
        .select(
            "partkey_a",
            "partkey_b",
            np_["name_a"],
            np_["name_b"],
            "edit_dist",
        )
        .orderBy("partkey_a", "partkey_b")
        .limit(200)
    )


# --- STR2: regex extraction (X-family scalar coverage) -----------------------


@query(
    "str2_name_prefix_counts",
    oracle="""
    SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS name_prefix,
           count(*) AS n_parts,
           count(DISTINCT p_brand) AS n_brands
    FROM part
    GROUP BY 1
    ORDER BY n_parts DESC, name_prefix
    """,
)
def str2_name_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction as a grouping key: first lowercase word of each
    part name (regexp_extract group 1 — identical semantics in Spark
    and DuckDB), with a distinct-brand rollup.  The regex evaluates
    JVM-side inside codegen; one shuffle for the group-by."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("name_prefix")
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.count_distinct("p_brand").alias("n_brands"),
        )
        .orderBy(F.desc("n_parts"), "name_prefix")
    )


# --- CDC1: SCD Type-2 interval build from a change log -----------------------


@query(
    "cdc1_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS changed
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               SUM(changed) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS seg
        FROM ordered
    ),
    segments AS (
        SELECT user_id, CAST(seg AS BIGINT) AS version,
               event_type AS state,
               min(ts) AS valid_from, count(*) AS n_events
        FROM runs GROUP BY user_id, seg, event_type
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY version) IS NULL
                THEN 1 ELSE 0 END AS is_current,
           n_events
    FROM segments
    """,
)
def cdc1_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build from a change log: treat
    each user's event stream as attribute changes and emit one validity
    interval per RUN of equal states — run-length encoding via the
    lag-change flag + running sum (the same gaps-and-islands device as
    w3 sessionization, keyed on value change instead of time gap),
    then [valid_from, valid_to) intervals via lead, open-ended rows
    flagged current.

    Scale shape: every stage is keyed on user_id (the change flags and
    running sum share one user_id exchange; the segment aggregation
    re-keys on (user_id, seg, state) and the interval lead rides it) —
    two exchanges total, no global sort anywhere.  This is the
    MERGE-free path to SCD2: append-only
    change logs compact into dimension snapshots with two window passes
    and an aggregation."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("changed"),
    )
    runs = ordered.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("changed")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("seg"),
    )
    segments = runs.groupBy(
        "user_id", F.col("seg").cast("long").alias("version"),
        F.col("event_type").alias("state"),
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy("version")
    return segments.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().cast("int").alias("is_current"),
        "n_events",
    )


# --- TS2: rolling-median anomaly detection -----------------------------------


@query(
    "ts2_rolling_median_deviation",
    oracle="""
    WITH q AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS xi
        FROM events WHERE user_id < 30
    ),
    med AS (
        SELECT user_id, event_id, xi,
               median(CAST(xi AS DOUBLE)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS m,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM q
    )
    SELECT user_id, event_id, xi AS value_cents,
           CAST(m AS BIGINT) AS median_cents,
           CASE WHEN abs(xi - CAST(m AS BIGINT)) > 20000
                THEN 1 ELSE 0 END AS is_spike
    FROM med WHERE rn >= 5
    """,
)
def ts2_rolling_median_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust time-series anomaly detection: flag events deviating more
    than 200.00 from the ROLLING MEDIAN of the user's last 5 events —
    the outlier detector that, unlike dq2's z-score, is itself immune
    to the outliers it hunts (one spike shifts a mean, not a median).

    Determinism: values are cent-scaled integers, and only FULL 5-row
    frames are emitted — an odd count has an exact middle element, so
    both engines' median is the same integer (even-count frames
    interpolate, and DuckDB's decimal median takes the lower middle
    while Spark interpolates — the partial-frame rows are where the
    engines legitimately disagree).  One user_id exchange serves the
    rolling median and the row-number gate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    q = ev.where(F.col("user_id") < 30).select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("xi"),
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    wr = W.partitionBy("user_id").orderBy("ts", "event_id")
    med = q.select(
        "user_id",
        "event_id",
        "xi",
        F.expr("percentile(xi, 0.5)").over(wf).alias("m"),
        F.row_number().over(wr).alias("rn"),
    ).where(F.col("rn") >= 5)
    return med.select(
        "user_id",
        "event_id",
        F.col("xi").alias("value_cents"),
        F.col("m").cast("long").alias("median_cents"),
        (
            F.abs(F.col("xi") - F.col("m").cast("long")) > 20000
        ).cast("int").alias("is_spike"),
    )

# --- ER1: entity resolution — blocking → verify → components → golden record -
#
# The corpus has no naturally dirty entity strings (64 distinct part
# names, sequence-numbered customer names whose neighbors sit at edit
# distance 1), so the dirty records are PLANTED deterministically, the
# mm4/mm9 device: entity key = first 10 hex chars of md5(custkey) —
# random-looking strings whose cross-entity edit distance is ~8 — and
# each entity emits its clean record plus two single-character-deletion
# typo variants.  Every stage, including the planting, replays in SQL.


@query(
    "er1_entity_resolution",
    oracle="""
    WITH RECURSIVE
    kb AS (
        SELECT CASE WHEN 3 * count(*) < 65536 THEN 4
                    WHEN 3 * count(*) < 1048576 THEN 5
                    WHEN 3 * count(*) < 16777216 THEN 6
                    ELSE 7 END AS kb
        FROM customer
    ),
    ent AS (
        SELECT c_custkey AS k,
               substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS base
        FROM customer
    ),
    recs AS (
        SELECT k * 4 AS rec_id, base AS raw FROM ent
        UNION ALL
        SELECT k * 4 + 1,
               substr(base, 1, k % 16) || substr(base, k % 16 + 2)
        FROM ent
        UNION ALL
        SELECT k * 4 + 2,
               substr(base, 1, (k * 7 + 3) % 16)
                   || substr(base, (k * 7 + 3) % 16 + 2)
        FROM ent
    ),
    bk AS (
        SELECT rec_id, raw, 'P' || substr(raw, 1, kb) AS b
        FROM recs, kb
        UNION ALL
        SELECT rec_id, raw, 'S' || substr(raw, length(raw) - kb + 1, kb)
        FROM recs, kb
    ),
    cand AS (
        SELECT DISTINCT x.rec_id AS src, y.rec_id AS dst,
                        x.raw AS ra, y.raw AS rb
        FROM bk x JOIN bk y ON x.b = y.b AND x.rec_id < y.rec_id
    ),
    pairs AS (
        SELECT src, dst FROM cand WHERE levenshtein(ra, rb) <= 2
    ),
    edges AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ),
    walk(v, lbl) AS (
        SELECT rec_id, rec_id FROM recs
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.v
    ),
    labels AS (
        SELECT v AS rec_id, min(lbl) AS entity_id FROM walk GROUP BY v
    ),
    sized AS (
        SELECT rec_id, entity_id,
               CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT)
                   AS n_records
        FROM labels
    )
    SELECT s.rec_id, r.raw AS raw_name, s.entity_id, s.n_records,
           (s.rec_id = s.entity_id) AS is_canonical,
           c.raw AS canon_name
    FROM sized s
    JOIN recs r ON s.rec_id = r.rec_id
    JOIN recs c ON s.entity_id = c.rec_id
    ORDER BY s.rec_id
    """,
)
def er1_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution funnel str1 only starts: multi-pass
    BLOCKING (prefix-kb and suffix-kb keys — one deletion can disturb
    at most one end, so every typo variant shares at least one block
    with its clean record; kb is COUNT-ADAPTIVE, one more hex char per
    16x records, after the round-7 stress run measured fixed prefix-4
    saturating at 10x sf0.1 — in-block pairs grow ~n^2/16^kb, so kb
    must track log16(n), exactly how production blocking scales),
    edit-distance VERIFICATION (levenshtein <= 2,
    JVM codegen, run only within blocks), transitive closure into
    entity CLUSTERS (functions/cc.py star contraction — variants that
    never shared a block still merge through the clean record), and
    GOLDEN-RECORD election: canonical = the entity's minimum rec_id,
    its name stamped on every member (survivorship).  The oracle
    replays planting, both blocking passes, verification, the closure
    (recursive min-label walk seeded with every record), and the
    election.  Scale shape: the two blocking passes are ONE exploded
    equi-join (records shuffle once on the block key); candidate pairs
    are entity-bounded, never corpus-quadratic; the canonical-name
    resolution is a self-join on the records' own keys.  This is the
    MDM/record-linkage pipeline (Fellegi-Sunter blocking + survivorship)
    as declared dataflow."""
    recs, pairs = er1_blocking_and_verify(spark, sf_dir)
    from ..functions.cc import connected_components

    labels = connected_components(None, pairs)
    every = recs.join(
        labels.withColumnRenamed("v", "rec_id"), "rec_id", "left"
    ).select(
        "rec_id",
        F.col("raw").alias("raw_name"),
        F.coalesce("component", F.col("rec_id")).alias("entity_id"),
    )
    # One exchange by entity_id serves size AND survivorship: the
    # canonical record is the entity's minimum rec_id and entity_id IS
    # that minimum (CC labels with the component min), so canon_name =
    # min_by(raw_name, rec_id) within the partition — no second recs
    # scan, no canon join.
    w_ent = Window.partitionBy("entity_id")
    return (
        every.select(
            "rec_id",
            "raw_name",
            "entity_id",
            F.count("*").over(w_ent).cast("long").alias("n_records"),
            (F.col("rec_id") == F.col("entity_id")).alias("is_canonical"),
            F.expr("min_by(raw_name, rec_id)")
            .over(w_ent)
            .alias("canon_name"),
        )
        .orderBy("rec_id")
    )


def er1_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct post-blocking candidate pairs BEFORE edit-distance
    verification — exposed so the stress harness can measure cost per
    candidate pair across scales (VERDICT r7 #5: the 0.80 exponent is
    attributed to pair-output growth; this makes that a number)."""
    return er1_blocking_and_verify(spark, sf_dir, verified=False)[1]


def er1_blocking_and_verify(
    spark: SparkSession, sf_dir: str, verified: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(records, pairs) for er1: planted variant records plus the
    blocked candidate pairs (levenshtein-verified when ``verified``).
    Factored out of er1 so the candidate stage is independently
    measurable; er1's declared result is unchanged."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    # Count-adaptive block-key length (round 7 — the stress harness
    # measured fixed prefix-4 blocking saturating at 10x sf0.1: with
    # 16^4 blocks, in-block candidate pairs grow ~n^2/65536, exponent
    # 0.89).  Production blocking lengthens the key as the corpus
    # grows — one more hex char per 16x records keeps expected block
    # occupancy (and so pairs per block) constant.  kb is a pure
    # integer CASE over the record count, replayed identically by the
    # oracle; the deletion-coverage invariant (prefix-kb OR suffix-kb
    # survives any single deletion) holds for kb <= len/2 = 8.
    n_rec = 3 * cust.count()
    kb = 4 if n_rec < 65536 else 5 if n_rec < 1048576 else 6 if n_rec < 16777216 else 7
    ent = cust.select(
        "k", F.substring(F.md5(F.col("k").cast("string")), 1, 16).alias("base")
    )
    del_at = lambda p: F.concat(  # noqa: E731
        F.substring("base", 1, p), F.substring(F.col("base"), p + 2, 16)
    )
    # One exploded variant array instead of a 3-way union: the union
    # form scanned customer once per variant per consumer (6 pruned
    # scans in the physical plan); the explode keeps it to one scan
    # per consumer with identical rows.
    recs = (
        ent.select(
            "k",
            F.posexplode(
                F.array(
                    F.col("base"),
                    del_at((F.col("k") % 16).cast("int")),
                    del_at(((F.col("k") * 7 + 3) % 16).cast("int")),
                )
            ).alias("v", "raw"),
        )
        .select((F.col("k") * 4 + F.col("v")).alias("rec_id"), "raw")
        # Two consumers (the block-key explode and er1's label join):
        # cut lineage so the scan + md5 + variant explode run once.
        .localCheckpoint(eager=False)
    )
    # Block key as a LONG, not a string: the kb hex chars convert to a
    # 28-bit integer and the pass tag (prefix vs suffix) sits at bit
    # 32 — a bijective recoding of the oracle's 'P'/'S'-tagged string
    # blocks, so the candidate set is identical while the self-join
    # and the pair distinct hash/shuffle 8-byte keys instead of 6-8
    # char strings.  bk feeds both join sides; the lineage cut keeps
    # the scan + md5 + double explode from running once per side.
    bk = recs.select(
        "rec_id",
        "raw",
        F.explode(
            F.array(
                F.conv(F.substring("raw", 1, kb), 16, 10).cast("long"),
                F.conv(
                    F.substring(F.col("raw"), F.length("raw") - (kb - 1), kb),
                    16,
                    10,
                ).cast("long")
                + F.lit(1 << 32).cast("long"),
            )
        ).alias("b"),
    ).localCheckpoint(eager=False)
    # Pin the block-join's parallelism (guide §2.2/§2.5, the
    # copresence/sim13 fix): the block exchange carries tiny bytes, so
    # AQE coalesces it and the quadratic-per-block pair generation +
    # levenshtein verification ran in ONE task (measured 0.86 s serial
    # at sf0.1).  REPARTITION_BY_NUM is never AQE-coalesced, the join's
    # equi-key IS the partitioning key so both legs land co-partitioned
    # at full width, and the count derives from defaultParallelism so
    # it scales with the cluster.
    par = spark.sparkContext.defaultParallelism
    bk = bk.repartition(par, "b")
    x = bk.select(
        F.col("rec_id").alias("src"), F.col("raw").alias("ra"), "b"
    )
    y = bk.select(
        F.col("rec_id").alias("dst"), F.col("raw").alias("rb"), "b"
    )
    # Verify BEFORE the distinct: levenshtein is whole-stage-codegen
    # JVM work and each pair surfaces at most twice (P block + S
    # block), so filtering first trades <=2 cheap edit-distance calls
    # per pair for a distinct that shuffles only the two long ids —
    # not the two 15-16 char raw strings (ra is a function of src, so
    # DISTINCT(src, dst) equals DISTINCT(src, dst, ra, rb), and a
    # deterministic per-row filter commutes with DISTINCT, which is
    # the oracle's order).
    joined = x.join(y, ["b"]).where(F.col("src") < F.col("dst"))
    if verified:
        joined = joined.where(F.levenshtein("ra", "rb") <= 2)
    return recs, joined.select("src", "dst").distinct()


# --- EWMA1: exponential half-life smoothing (round 8) ---------------------------


@query(
    "ewma1_decay_smoothing",
    oracle="""
    WITH daily AS MATERIALIZED (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    off AS (
        SELECT * FROM (VALUES
            (0, 32768), (1, 16384), (2, 8192), (3, 4096), (4, 2048),
            (5, 1024), (6, 512), (7, 256), (8, 128), (9, 64), (10, 32),
            (11, 16), (12, 8), (13, 4), (14, 2), (15, 1))
            AS t(off, w)
    ),
    terms AS (
        SELECT c.event_type, c.d, o.off, CAST(o.w AS BIGINT) AS w, p.y
        FROM daily c JOIN off o ON TRUE
             JOIN daily p ON p.event_type = c.event_type
                         AND p.d = c.d - o.off
    )
    SELECT event_type, d,
           CAST(sum(CASE WHEN off = 0 THEN y END) AS BIGINT) AS y,
           CAST((1000 * CAST(sum(w * y) AS BIGINT))
                // CAST(sum(w) AS BIGINT) AS BIGINT) AS ewma_milli
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ewma1_decay_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the per-type daily
    event counts with a one-day half-life — the smoothing behind every
    ops dashboard, alert baseline, and feature-store 'recent activity'
    column (RFC-1122's SRTT, monitoring EWMAs, pandas ewm): today's
    smoothed level weights the observation from g days ago by 2^-g.
    The geometric tail is truncated at 16 days (weight < 2^-15 of the
    head — far below the milli-unit resolution reported), which turns
    the unbounded recursive definition into a FINITE weighted window
    both engines compute identically: weights are the exact integer
    powers 2^15..2^0 from a 16-row LITERAL table, missing days simply
    contribute nothing (their weight drops out of the normalizer — no
    imputation), and the level is ONE floor division of two exact
    BIGINT sums to milli-units.  The recursion-free form is also the
    backfill-correct one: recomputing any day window never depends on
    a previously materialized smoothed value.

    Scale shape: one partial-aggregated groupBy collapses events to
    the |types| x |days| daily table; the 16-row offset table is
    broadcast; the day-offset equi-join and final groupBy share the
    (event_type, day) key space — calendar-bounded model-sized work
    after one linear scan, the same contract as trend2."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    off = F.broadcast(
        spark.createDataFrame(
            [(j, 1 << (15 - j)) for j in range(16)], "off long, w long"
        )
    )
    cur = daily.select("event_type", F.col("d").alias("d_cur"))
    obs = daily.select(
        "event_type", F.col("d").alias("d_obs"), F.col("y").alias("y_obs")
    )
    terms = (
        cur.crossJoin(off)  # 16-row broadcast weight table
        .withColumn("d_obs", F.col("d_cur") - F.col("off"))
        .join(obs, ["event_type", "d_obs"])
    )
    return (
        terms.groupBy("event_type", F.col("d_cur").alias("d"))
        .agg(
            F.sum(F.when(F.col("off") == 0, F.col("y_obs")))
            .cast("long")
            .alias("y"),
            F.expr(
                "CAST((1000 * CAST(sum(w * y_obs) AS BIGINT))"
                " div CAST(sum(w) AS BIGINT) AS BIGINT)"
            ).alias("ewma_milli"),
        )
        .orderBy("event_type", "d")
    )


# --- STREAK1: longest consecutive-day activity streaks (round 9) ----------------


@query(
    "streak1_daily_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    isl AS (
        SELECT user_id, day,
               day - row_number() OVER (
                   PARTITION BY user_id ORDER BY day
               ) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island,
               CAST(count(*) AS BIGINT) AS len,
               CAST(min(day) AS BIGINT) AS start_day,
               CAST(max(day) AS BIGINT) AS end_day
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id, len, start_day, end_day
    FROM streaks
    ORDER BY len DESC, user_id, start_day
    LIMIT 20
    """,
)
def streak1_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 longest consecutive-day activity streaks — the
    gaps-and-islands device (w10 runs it over event SEQUENCE; this
    runs it over CALENDAR continuity, the retention/habit metric):
    distinct active days per user, island key = day − row_number
    (consecutive days share it), one group-by for streak length and
    bounds, deterministic top-20.

    Scale shape: one distinct (user, day) shuffle, a user-keyed rank
    window over the day-deduped relation (tiny vs the event log), a
    partial-aggregated island rollup, and a TakeOrderedAndProject
    top-k — the event scan is touched once.

    Reference analog: none — extends the sessionization/series family
    (SURVEY §2.13) beside t4/w10/cohort1."""
    from pyspark.sql import Window as W

    days = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "CAST(unix_micros(ts) div 86400000000 AS BIGINT)"
            ).alias("day"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    return (
        isl.groupBy("user_id", "island")
        .agg(
            F.count("*").cast("long").alias("len"),
            F.min("day").cast("long").alias("start_day"),
            F.max("day").cast("long").alias("end_day"),
        )
        .select("user_id", "len", "start_day", "end_day")
        .orderBy(F.desc("len"), "user_id", "start_day")
        .limit(20)
    )


# --- HW1: Holt linear-trend smoothing (round 11) --------------------------------
#
# ewma1 smooths LEVEL only (and dodges recursion with a truncated
# geometric window); Holt's linear method also tracks TREND, and its
# two coupled recurrences cannot be truncated the same way — so this
# query runs the recursion EXACTLY, as one integer fold over the
# gap-filled daily series (Spark `aggregate`, DuckDB `list_reduce` —
# the same arithmetic on both sides).  All state is BIGINT micro-units;
# the one sign-sensitive operation (div 1000 of a possibly-negative
# trend numerator) uses an explicit floor-division CASE so both
# engines compute floor(x/1000) with only non-negative divisions.

_HW1_ALPHA = 300  # level gain, permille
_HW1_BETA = 200  # trend gain, permille
_HW1_H = 7  # forecast horizon, days


def _hw1_fdiv(e: str) -> str:
    """floor(e / 1000) via non-negative integer division only —
    identical text evaluates identically in Spark SQL and DuckDB
    (both `div`/`//` truncate toward zero)."""
    return (
        f"(CASE WHEN ({e}) >= 0 THEN ({e}) DIV 1000"
        f" ELSE -((999 - ({e})) DIV 1000) END)"
    )


def _hw1_level(acc_l: str, acc_b: str, y: str) -> str:
    return _hw1_fdiv(
        f"{_HW1_ALPHA} * {y} * 1000000"
        f" + {1000 - _HW1_ALPHA} * ({acc_l} + {acc_b})"
    )


def _hw1_trend(acc_l: str, acc_b: str, y: str) -> str:
    lnew = _hw1_level(acc_l, acc_b, y)
    return _hw1_fdiv(
        f"{_HW1_BETA} * ({lnew} - {acc_l}) + {1000 - _HW1_BETA} * {acc_b}"
    )


def _hw1_oracle() -> str:
    lam = (
        f"[{_hw1_level('acc[1]', 'acc[2]', 'x[1]')},"
        f" {_hw1_trend('acc[1]', 'acc[2]', 'x[1]')}]"
    ).replace(" DIV ", " // ")
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
        SELECT t.event_type, u.d
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN bounds
        CROSS JOIN unnest(generate_series(bounds.d0, bounds.d1)) AS u(d)
    ),
    series AS (
        SELECT g.event_type,
               list(coalesce(daily.y, 0) ORDER BY g.d) AS ys
        FROM grid g LEFT JOIN daily
          ON daily.event_type = g.event_type AND daily.d = g.d
        GROUP BY 1
    ),
    folded AS (
        SELECT event_type,
               CAST(len(ys) AS BIGINT) AS n_days,
               list_reduce(
                   list_prepend(
                       [ys[1] * 1000000, (ys[2] - ys[1]) * 1000000],
                       list_transform(list_slice(ys, 3, len(ys)),
                                      y -> [y, CAST(0 AS BIGINT)])
                   ),
                   (acc, x) -> {lam}
               ) AS st
        FROM series
        WHERE len(ys) >= 2
    )
    SELECT event_type, n_days,
           CAST(st[1] AS BIGINT) AS level_micro,
           CAST(st[2] AS BIGINT) AS trend_micro,
           CAST(st[1] + {_HW1_H} * st[2] AS BIGINT) AS forecast{_HW1_H}_micro
    FROM folded ORDER BY event_type
    """


@query("hw1_holt_trend", oracle=_hw1_oracle())
def hw1_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (Holt 1957; the
    level+trend member of the ewma1/cusum1/trend2 time-series family,
    and the h-step forecaster behind capacity planning and anomaly
    baselines): per event type, over the GAP-FILLED daily count series
    (missing days are real zeros — a Holt model fed only observed days
    would silently skip gaps the trend must react to),

        l_t = (a·y_t·1e6 + (1000-a)·(l_t-1 + b_t-1)) div 1000
        b_t = (b·(l_t - l_t-1) + (1000-b)·b_t-1)     div 1000

    with a = {a}‰, b = {b}‰, l_0 = y_0·1e6, b_0 = (y_1 - y_0)·1e6,
    reported as the final level/trend and the {h}-day-ahead forecast
    l + {h}·b, all in exact BIGINT micro-units.  The recursion is ONE
    higher-order integer fold per type — Spark ``aggregate`` and DuckDB
    ``list_reduce`` evaluate textually identical arithmetic (shared
    expression builders; the trend numerator can be negative, so
    div-1000 goes through an explicit floor-division CASE that only
    ever divides non-negative values — Spark ``div`` and DuckDB ``//``
    both truncate toward zero, so floor must be spelled out).

    Scale shape: ONE partial-aggregated groupBy collapses the fact
    table to |types| × |days| daily rows; the calendar grid is a
    broadcast sequence; the fold runs on |types| model-sized arrays.
    At 100 TB the only fact-table touch is the first combiner shuffle —
    the ewma1/trend2 contract, now with an exactly-replayed recursion."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("y"))
        # Three consumers (bounds, type list, the fill join): one scan.
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    series = (
        grid.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(d, y))), p -> p.y)"
            ).alias("ys")
        )
    )
    lam = (
        f"(acc, y) -> array({_hw1_level('element_at(acc, 1)', 'element_at(acc, 2)', 'y')},"
        f" {_hw1_trend('element_at(acc, 1)', 'element_at(acc, 2)', 'y')})"
    )
    # Sub-seed series (n_days < 2) can't seed l0/b0: Spark's ANSI
    # element_at would raise while DuckDB's ys[i] degrades to NULL rows
    # — exclude them identically in both engines (oracle: HAVING), and
    # clamp the slice length so the engines can never diverge on the
    # boundary (Spark raises on negative slice lengths, DuckDB doesn't).
    fold = (
        f"aggregate(slice(ys, 3, greatest(size(ys) - 2, 0)),"
        f" array(element_at(ys, 1) * 1000000L,"
        f" (element_at(ys, 2) - element_at(ys, 1)) * 1000000L),"
        f" {lam})"
    )
    return (
        series.filter(F.size("ys") >= 2)
        .select(
            "event_type",
            F.size("ys").cast("long").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            F.expr("element_at(st, 1)").cast("long").alias("level_micro"),
            F.expr("element_at(st, 2)").cast("long").alias("trend_micro"),
            F.expr(f"element_at(st, 1) + {_HW1_H} * element_at(st, 2)")
            .cast("long")
            .alias(f"forecast{_HW1_H}_micro"),
        )
        .orderBy("event_type")
    )


hw1_holt_trend.__doc__ = hw1_holt_trend.__doc__.format(
    a=_HW1_ALPHA, b=_HW1_BETA, h=_HW1_H
)

# --- HW2: Holt-Winters additive seasonal smoothing (round 11) --------------------
#
# hw1 tracks level + trend; the events table's daily counts also carry a
# day-of-week cycle, and the additive seasonal member (Winters 1960)
# adds a period-m seasonal ring the truncated-window trick can express
# even less than hw1's trend: THREE coupled recurrences, one of which
# rotates a 7-slot state vector.  Same execution contract as hw1 — the
# recursion runs EXACTLY, as one integer fold per type over the
# gap-filled daily series, with textually shared arithmetic between
# Spark ``aggregate`` and DuckDB ``list_reduce`` and every div-1000 of
# a possibly-negative numerator spelled as hw1's floor-division CASE.

_HW2_ALPHA = 300  # level gain, permille
_HW2_BETA = 200  # trend gain, permille
_HW2_GAMMA = 250  # seasonal gain, permille
_HW2_M = 7  # season period, days
_HW2_H = 7  # forecast horizon, days


def _hw2_level(l: str, b: str, s0: str, y: str) -> str:
    return _hw1_fdiv(
        f"{_HW2_ALPHA} * ({y} * 1000000 - {s0})"
        f" + {1000 - _HW2_ALPHA} * ({l} + {b})"
    )


def _hw2_trend(l: str, b: str, s0: str, y: str) -> str:
    lnew = _hw2_level(l, b, s0, y)
    return _hw1_fdiv(f"{_HW2_BETA} * ({lnew} - {l}) + {1000 - _HW2_BETA} * {b}")


def _hw2_season(l: str, b: str, s0: str, y: str) -> str:
    lnew = _hw2_level(l, b, s0, y)
    return _hw1_fdiv(
        f"{_HW2_GAMMA} * ({y} * 1000000 - {lnew}) + {1000 - _HW2_GAMMA} * {s0}"
    )


def _hw2_lam_terms(ix, y: str) -> list[str]:
    """acc' = [lnew, bnew, acc[4..9], snew]: the 9-slot state is
    [level, trend, s(next day), ..., s(next day + 6)]; each step
    consumes the ring's head and appends the refreshed factor."""
    l, b, s0 = ix(1), ix(2), ix(3)
    terms = [_hw2_level(l, b, s0, y), _hw2_trend(l, b, s0, y)]
    terms += [ix(k) for k in range(4, 3 + _HW2_M)]
    terms.append(_hw2_season(l, b, s0, y))
    return terms


def _hw2_init_terms(elem) -> list[str]:
    """Zero state from the first m days: l0 = floor(mean)*1e6 (exact:
    (sum*1e6) div m), b0 = 0, s_i = y_i*1e6 - l0."""
    ssum = " + ".join(elem(i) for i in range(1, _HW2_M + 1))
    l0 = f"((({ssum}) * 1000000) DIV {_HW2_M})"
    terms = [l0, "CAST(0 AS BIGINT)"]
    terms += [f"({elem(i)} * 1000000 - {l0})" for i in range(1, _HW2_M + 1)]
    return terms


def _hw2_oracle() -> str:
    lam = ", ".join(_hw2_lam_terms(lambda k: f"acc[{k}]", "x[1]")).replace(
        " DIV ", " // "
    )
    zero = (
        "[" + ", ".join(_hw2_init_terms(lambda i: f"ys[{i}]")) + "]"
    ).replace(" DIV ", " // ")
    pad = ", ".join(["CAST(0 AS BIGINT)"] * (_HW2_M + 1))
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
        SELECT t.event_type, u.d
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN bounds
        CROSS JOIN unnest(generate_series(bounds.d0, bounds.d1)) AS u(d)
    ),
    series AS (
        SELECT g.event_type,
               list(coalesce(daily.y, 0) ORDER BY g.d) AS ys
        FROM grid g LEFT JOIN daily
          ON daily.event_type = g.event_type AND daily.d = g.d
        GROUP BY 1
    ),
    folded AS (
        SELECT event_type,
               CAST(len(ys) AS BIGINT) AS n_days,
               list_reduce(
                   list_prepend(
                       {zero},
                       list_transform(list_slice(ys, {_HW2_M + 1}, len(ys)),
                                      y -> [y, {pad}])
                   ),
                   (acc, x) -> [{lam}]
               ) AS st
        FROM series
        WHERE len(ys) >= {_HW2_M}
    )
    SELECT event_type, n_days,
           CAST(st[1] AS BIGINT) AS level_micro,
           CAST(st[2] AS BIGINT) AS trend_micro,
           CAST(st[3] AS BIGINT) AS s_next_micro,
           CAST(st[1] + {_HW2_H} * st[2] + st[{2 + _HW2_H}] AS BIGINT)
               AS forecast{_HW2_H}_micro
    FROM folded ORDER BY event_type
    """


@query("hw2_holt_winters", oracle=_hw2_oracle())
def hw2_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE SEASONAL smoothing (Winters 1960; the
    seasonal member of the ewma1/hw1 family): per event type, over the
    gap-filled daily count series, the three coupled recurrences

        l_t = (a·(y_t·1e6 − s_t−m) + (1000−a)·(l_t−1 + b_t−1)) div 1000
        b_t = (b·(l_t − l_t−1) + (1000−b)·b_t−1)               div 1000
        s_t = (g·(y_t·1e6 − l_t) + (1000−g)·s_t−m)             div 1000

    with a = {a}‰, b = {b}‰, g = {g}‰, m = {m} (day-of-week), seeded
    from the first {m} days (l_0 = floored week mean, b_0 = 0, s_i =
    y_i·1e6 − l_0).  The state is a 9-slot BIGINT vector [l, b,
    s(next), …, s(next+{m6})] whose seasonal ring rotates one slot per
    day — a recursion class neither ewma1's truncated window nor hw1's
    2-slot fold can express.  Reported: final level/trend, the next
    day's seasonal factor, and the {h}-day-ahead forecast l + {h}·b +
    s(next+{h1}), all exact micro-units.  Spark ``aggregate`` and
    DuckDB ``list_reduce`` evaluate textually identical arithmetic
    (shared builders `_hw2_*`; every div-1000 of a possibly-negative
    numerator goes through hw1's explicit floor-division CASE).

    Scale shape: identical to hw1 — ONE partial-aggregated groupBy
    collapses the fact table to |types| × |days| rows; the fold runs
    on |types| model-sized arrays.  Reference analog: the A4 trend
    family (SURVEY §2.3) as an exactly-replayed seasonal forecaster."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("y"))
        # Three consumers (bounds, type list, the fill join): one scan.
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    series = (
        grid.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(d, y))), p -> p.y)"
            ).alias("ys")
        )
    )
    lam = (
        "(acc, y) -> array("
        + ", ".join(_hw2_lam_terms(lambda k: f"element_at(acc, {k})", "y"))
        + ")"
    )
    zero = (
        "array("
        + ", ".join(_hw2_init_terms(lambda i: f"element_at(ys, {i})"))
        + ")"
    )
    # Sub-week series (n_days < m) can't seed the seasonal ring:
    # Spark's ANSI element_at would raise while DuckDB's ys[i]
    # degrades to NULL rows — exclude them identically in both engines
    # (oracle: WHERE len(ys) >= m), and clamp the slice length so the
    # engines can never diverge on the boundary (Spark raises on
    # negative slice lengths, DuckDB doesn't).
    fold = (
        f"aggregate(slice(ys, {_HW2_M + 1},"
        f" greatest(size(ys) - {_HW2_M}, 0)),"
        f" {zero}, {lam})"
    )
    return (
        series.filter(F.size("ys") >= _HW2_M)
        .select(
            "event_type",
            F.size("ys").cast("long").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            F.expr("element_at(st, 1)").cast("long").alias("level_micro"),
            F.expr("element_at(st, 2)").cast("long").alias("trend_micro"),
            F.expr("element_at(st, 3)").cast("long").alias("s_next_micro"),
            F.expr(
                f"element_at(st, 1) + {_HW2_H} * element_at(st, 2)"
                f" + element_at(st, {2 + _HW2_H})"
            )
            .cast("long")
            .alias(f"forecast{_HW2_H}_micro"),
        )
        .orderBy("event_type")
    )


hw2_holt_winters.__doc__ = hw2_holt_winters.__doc__.format(
    a=_HW2_ALPHA,
    b=_HW2_BETA,
    g=_HW2_GAMMA,
    m=_HW2_M,
    m6=_HW2_M - 1,
    h=_HW2_H,
    h1=(_HW2_H - 1) % _HW2_M,
)
