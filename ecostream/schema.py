"""Canonical schemas and table loaders.

The reference's single fact stream is a nested JSON "insect event"
(reference: producer.py:13-32); its de-facto schema is pinned here as an
explicit ``StructType`` so ``from_json`` never falls back to inference.
The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus an
``events`` stream table; ``TABLES`` is its catalog: every table's
declared schema, so a load reads with a known schema instead of running
a Spark schema-inference job.  Loaders below register every table as a
temp view so queries can be written in either the DataFrame or SQL API.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Native insect-event schema (reference: producer.py:13-32, SURVEY §1.1/1.3)
# ---------------------------------------------------------------------------

INSECT_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType(), False),
        T.StructField(
            "insect",
            T.StructType(
                [
                    T.StructField("species", T.StringType(), True),
                    T.StructField("role", T.StringType(), True),
                    T.StructField("age", T.IntegerType(), True),
                ]
            ),
            True,
        ),
        T.StructField("event", T.StringType(), True),
        T.StructField("eventTime", T.StringType(), True),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("habitat", T.StringType(), True),
                    T.StructField(
                        "coordinates",
                        T.StructType(
                            [
                                T.StructField("latitude", T.DoubleType(), True),
                                T.StructField("longitude", T.DoubleType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
        T.StructField("ecologicalImpact", T.IntegerType(), True),
        T.StructField("populationDensity", T.IntegerType(), True),
    ]
)

# Vocabularies (reference: producer.py:8-11)
SPECIES = ["ant", "bee", "butterfly", "spider"]
ROLES = ["worker", "queen", "soldier", "scout"]
EVENTS = ["birth", "death", "predator attack"]
HABITATS = ["forest", "field", "garden", "house"]


def parse_event_ts(col: str = "eventTime") -> F.Column:
    """Canonical timestamp parse for the reference's ``"...T... Z"`` string.

    Mirrors consumer.py:61's ``split(" Z")[0]`` strip: drop the trailing
    ``" Z"`` and parse tz-naive in the (UTC) session zone.  One parse at
    ingest; every downstream operator consumes ``event_ts``.
    """
    return F.to_timestamp(
        F.regexp_replace(F.col(col), " Z$", ""), "yyyy-MM-dd'T'HH:mm:ss"
    )


def with_event_ts(df: DataFrame) -> DataFrame:
    """Attach the canonical ``event_ts`` column to a native-schema frame."""
    return df.withColumn("event_ts", parse_event_ts())


# ---------------------------------------------------------------------------
# Driver testdata star schema (TESTDATA.md / FIXTURES.md §B)
# ---------------------------------------------------------------------------

# Declared schema of every testdata table, as Spark DDL ("name type, ...";
# no type here contains a comma).  ``timestamp`` stands for any of the
# three parquet timestamp encodings; each load resolves which one its
# file has from the parquet footer (see ``_footer_type``).
TABLES: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int,"
    " c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int,"
    " s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string,"
    " p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
    " l_linenumber int, l_quantity double, l_extendedprice double,"
    " l_discount double, l_tax double, l_returnflag string,"
    " l_linestatus string, l_shipdate timestamp",
    "events": "event_id bigint, ts timestamp, user_id bigint,"
    " event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string,"
    " n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# Footer type of a TIMESTAMP(NANOS) column: Spark reads it only under
# NANOS_AS_LONG, as a raw int64 ``bigint``.
_NANOS = "timestamp_nanos"
_TS_ENCODINGS = ("timestamp", "timestamp_ntz", _NANOS)
_SCALARS = {
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "string",
    pa.large_string(): "string",
}


def _footer_type(t: pa.DataType, physical: str | None) -> str | None:
    """The Spark type inference gives a parquet column of arrow type
    ``t``; ``None`` for a type the catalog does not declare.

    Timestamps: INT96 reads as zoned ``timestamp``; TIMESTAMP(NANOS) as
    ``_NANOS``; micros/millis as ``timestamp`` when adjusted to UTC (an
    arrow tz) and ``timestamp_ntz`` when not.
    """
    if pa.types.is_timestamp(t):
        if physical == "INT96":
            return "timestamp"
        if t.unit == "ns":
            return _NANOS
        if t.unit in ("us", "ms"):
            return "timestamp" if t.tz else "timestamp_ntz"
        return None
    if pa.types.is_list(t):
        inner = _footer_type(t.value_type, None)
        return inner and f"array<{inner}>"
    return _SCALARS.get(t)


def _footer_columns(path: str) -> list[tuple[str, str | None]] | None:
    """Column names and Spark types from the parquet footer of ``path``,
    read on the driver (no Spark job); ``None`` if it is unreadable."""
    try:
        meta = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    pschema = meta.schema
    physical = {
        c.path: c.physical_type for c in map(pschema.column, range(len(pschema)))
    }
    return [
        (f.name, _footer_type(f.type, physical.get(f.name)))
        for f in pschema.to_arrow_schema()
    ]


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> str | T.StructType:
    """The schema to read table ``name`` of ``sf_dir`` with.

    For a declared table stored as one local parquet file whose footer
    agrees with the declaration, this is the declared DDL with each
    ``timestamp`` column resolved to its file's encoding; it costs one
    footer read on the driver (well under a millisecond) and no Spark
    job.  The footer is read on every call, so a rewritten file is never
    read with a stale schema.  ``NANOS_AS_LONG`` is set only for a file
    that stores TIMESTAMP(NANOS), so a plain session reads the rest.

    Otherwise (a directory or remote path, an undeclared table, or a
    footer that disagrees) the schema is inferred by Spark, one job,
    with ``NANOS_AS_LONG`` set as inference may meet nanos.
    """
    path = f"{sf_dir}/{name}.parquet"
    declared = [c.split() for c in TABLES[name].split(",")] if name in TABLES else None
    found = _footer_columns(path) if declared and os.path.isfile(path) else None
    agrees = (
        found is not None
        and len(found) == len(declared)
        and all(
            fc == dc and (ft == dt or (dt == "timestamp" and ft in _TS_ENCODINGS))
            for (fc, ft), (dc, dt) in zip(found, declared)
        )
    )
    if not agrees:
        spark.conf.set(NANOS_AS_LONG, "true")
        return spark.read.parquet(path).schema
    if any(ft == _NANOS for _, ft in found):
        spark.conf.set(NANOS_AS_LONG, "true")
    return ", ".join(f"{c} {'bigint' if t == _NANOS else t}" for c, t in found)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its catalog schema (``table_schema``);
    columnar parquet scan with pushdown.

    The ``events`` table's ``ts`` is normalized to zoned TimestampType
    (``normalize_events_ts``); TIMESTAMP(NANOS) arrives as a raw int64
    and is integer-divided to microseconds — integer ``div``, never float
    math: nanosecond epochs exceed 2^53 and would corrupt under a double
    round-trip.  Flooring to µs matches DuckDB, whose TIMESTAMP is
    µs-precision, so the oracle sees identical instants.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events table's ``ts`` to zoned TimestampType.

    Two parquet encodings appear in testdata: TIMESTAMP(NANOS) (read as
    raw int64 under nanosAsLong — integer-divide to µs) and
    timestamp[us] without isAdjustedToUTC (read as TIMESTAMP_NTZ in
    Spark 4 — the session zone is UTC, so a cast relabels the same
    instant as zoned TIMESTAMP, required by unix_micros, windows, and
    streaming event-time, without shifting values).  Works on batch and
    streaming DataFrames alike.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet (catalog schema — no
    inference in streaming), with ``ts`` normalized exactly as
    ``load_table`` does so stream and batch twins agree."""
    stream = (
        spark.readStream.schema(table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables and register them as temp views.

    Views let every query use ``spark.sql`` with the exact same table
    names the DuckDB oracle sees.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
