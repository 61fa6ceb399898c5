"""The catalog's schema cache: a table's parquet schema is inferred once
per session and file stamp, and a rewritten table is never served a
stale schema."""

from __future__ import annotations

import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, LongType, StringType

from cdc_spark.catalog import (
    load_table,
    normalize_event_time,
    table_path,
    table_schema,
)


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "test_catalog")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path: str, columns: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)


def test_second_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    _write(table_path(sf, "orders"), {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first, n_first = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    second, n_second = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "orders")
    _write(path, {"k": [1, 2]})
    assert load_table(spark, sf, "orders").columns == ["k"]
    _write(path, {"k": [1, 2, 3], "extra": ["x", "y", "z"]})
    df, n_jobs = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    assert n_jobs == 1
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "x"),
        (2, "y"),
        (3, "z"),
    ]


def test_part_file_added_to_directory_table_is_seen(spark, tmp_path):
    # a part file under a new partition value changes the inferred
    # partition column type (int -> string): a schema cached before the
    # add would cast "x" to int and read it back as null
    sf = str(tmp_path)
    path = table_path(sf, "events")
    _write(os.path.join(path, "p=1", "part-0.parquet"), {"id": [1, 2]})
    before = load_table(spark, sf, "events")
    assert before.schema["p"].dataType != StringType()
    assert before.count() == 2
    _write(os.path.join(path, "p=x", "part-0.parquet"), {"id": [3]})
    after = load_table(spark, sf, "events")
    assert after.schema["p"].dataType == StringType()
    assert sorted(tuple(r) for r in after.collect()) == [
        (1, "1"),
        (2, "1"),
        (3, "x"),
    ]


def test_new_session_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    _write(table_path(sf, "orders"), {"k": [1, 2]})
    load_table(spark, sf, "orders")
    other = spark.newSession()
    _, n_other = _jobs(other, lambda: load_table(other, sf, "orders"))
    _, n_again = _jobs(spark, lambda: load_table(spark, sf, "orders"))
    assert (n_other, n_again) == (1, 0)


def test_changed_parquet_conf_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    _write(table_path(sf, "documents"), {"b": pa.array([b"ab"], pa.binary())})
    _write(
        table_path(sf, "events"),
        {"ts": pa.array([1_000_000_000_123], pa.timestamp("ns"))},
    )
    assert table_schema(spark, sf, "events")["ts"].dataType == LongType()
    assert table_schema(spark, sf, "documents")["b"].dataType == BinaryType()
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert table_schema(spark, sf, "documents")["b"].dataType == StringType()
        # TIMESTAMP(NANOS) is an illegal parquet type without the conf
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(AnalysisException):
            table_schema(spark, sf, "events")
    finally:
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert table_schema(spark, sf, "documents")["b"].dataType == BinaryType()


def test_concurrent_loads_match_uncached_read(spark, tmp_path):
    sf = str(tmp_path)
    _write(table_path(sf, "orders"), {"k": list(range(50)), "v": ["x"] * 50})
    _write(
        table_path(sf, "events"),
        {"ts": pa.array([1_000_000_000_123, 2_000_000_000_456], pa.timestamp("ns"))},
    )
    _write(table_path(sf, "documents"), {"b": pa.array([b"ab", b"cd"], pa.binary())})
    for part, xs in (("part-0", [1.5, 2.5]), ("part-1", [3.5])):
        _write(os.path.join(table_path(sf, "lineitem"), f"{part}.parquet"), {"x": xs})
    names = ("orders", "lineitem", "events", "documents")
    expected = {}
    for name in names:
        raw = normalize_event_time(spark.read.parquet(table_path(sf, name)), "ts")
        expected[name] = (raw.schema, sorted(raw.collect()))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [
                (name, pool.submit(load_table, spark, sf, name))
                for _ in range(4)
                for name in names
            ]
            loaded = [(name, f.result(timeout=300)) for name, f in futures]
    finally:
        sys.setswitchinterval(interval)

    for name, df in loaded:
        assert (df.schema, sorted(df.collect())) == expected[name], name
    _, n_jobs = _jobs(spark, lambda: [load_table(spark, sf, n) for n in names])
    assert n_jobs == 0
