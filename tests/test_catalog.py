"""The table catalog (``ecostream.schema.TABLES``): declared schemas
agree with Spark's inference on every fixture table, a catalog load
launches no Spark job, TIMESTAMP(NANOS) files load as the inference path
loaded them, and a file the declaration does not describe falls back
to inference."""

from __future__ import annotations

import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from ecostream.schema import (
    NANOS_AS_LONG,
    TABLES,
    load_table,
    normalize_events_ts,
    table_schema,
)

from .conftest import SF_CORRECT, SF_SMOKE

SF_DIRS = [SF_SMOKE, SF_CORRECT, str(Path(SF_SMOKE).with_name("sf0.1"))]


def _jobs_of(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, from the status tracker.

    The tracker hears of jobs through the asynchronous listener bus, in
    order, so a marker job run after ``fn`` is awaited first: once it is
    visible, so is every job ``fn`` started."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"catalog-test-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "jobs under test")
        fn()
        sc.setJobGroup(f"{group}-marker", "marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda d: Path(d).name)
def test_declared_schema_equals_inferred(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        declared = table_schema(spark, sf_dir, name)
        assert isinstance(declared, str), f"{name}: fell back to inference"
        assert (
            spark.read.schema(declared).parquet(path).schema
            == spark.read.parquet(path).schema
        ), name


def test_load_table_launches_no_job(spark):
    spark.conf.unset(NANOS_AS_LONG)
    for name in TABLES:
        assert _jobs_of(spark, lambda: load_table(spark, SF_CORRECT, name)) == [], name
    # fixture files store no nanos, so the legacy conf stays off
    assert spark.conf.get(NANOS_AS_LONG) == "false"
    # the probe does see an inference read's job
    assert _jobs_of(spark, lambda: spark.read.parquet(f"{SF_CORRECT}/region.parquet"))


def test_nanos_events_load_like_inference(spark, tmp_path):
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    micros = events.column("ts").cast(pa.int64())
    # sub-microsecond digits, which both paths must floor away
    nanos = pc.add(pc.multiply(micros, 1000), pc.bit_wise_and(events.column("event_id"), 511))
    events = events.set_column(1, "ts", nanos.cast(pa.timestamp("ns")))
    pq.write_table(events, tmp_path / "events.parquet")

    spark.conf.unset(NANOS_AS_LONG)
    assert isinstance(table_schema(spark, str(tmp_path), "events"), str)
    assert spark.conf.get(NANOS_AS_LONG) == "true"
    got = load_table(spark, str(tmp_path), "events")
    old = normalize_events_ts(spark.read.parquet(str(tmp_path / "events.parquet")))
    assert got.schema == old.schema
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.orderBy("event_id").collect() == old.orderBy("event_id").collect()


def _renamed_column(spark, tmp_path):
    region = pq.read_table(f"{SF_SMOKE}/region.parquet")
    pq.write_table(region.rename_columns(["r_regionkey", "r_label"]), tmp_path / "region.parquet")
    return str(tmp_path), "region"


def _directory(spark, tmp_path):
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").write.parquet(str(tmp_path / "region.parquet"))
    return str(tmp_path), "region"


def _undeclared(spark, tmp_path):
    pq.write_table(pq.read_table(f"{SF_SMOKE}/region.parquet"), tmp_path / "zones.parquet")
    return str(tmp_path), "zones"


@pytest.mark.parametrize("case", [_renamed_column, _directory, _undeclared])
def test_fallback_loads_through_inference(spark, tmp_path, case):
    sf_dir, name = case(spark, tmp_path)
    assert isinstance(table_schema(spark, sf_dir, name), T.StructType)
    assert _jobs_of(spark, lambda: load_table(spark, sf_dir, name))
    got = load_table(spark, sf_dir, name)
    want = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
