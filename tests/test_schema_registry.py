"""The parquet schema registry under ``io.load`` and the one-action
``validate_database``.

``io.read_parquet`` infers a table's schema once per file set and reads
with the stored schema afterwards. These tests pin that an unchanged
table is never inferred twice, and that any change to its files (a
rewrite with another schema, a deleted file) is inferred afresh.
"""

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from database_clonev2_spark import io
from database_clonev2_spark.pipeline.clone import (
    fixture_specs,
    validate_check,
    validate_database,
    validate_foreign_key,
    validate_primary_key,
)


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"registry-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_unchanged_table_is_inferred_once(spark, tmp_path):
    sf = str(tmp_path)
    _write(io.table_path(sf, "t"), id=pa.array([1, 2, 3], pa.int64()))
    first, n1 = _jobs(spark, lambda: io.load(spark, sf, "t"))
    second, n2 = _jobs(spark, lambda: io.load(spark, sf, "t"))
    assert n1 >= 1  # the footer-reading inference job
    assert n2 == 0
    assert second.schema == first.schema and second.count() == 3
    # a rewrite in place is inferred again
    _write(io.table_path(sf, "t"), id=pa.array([1], pa.int64()), v=pa.array(["a"]))
    third, n3 = _jobs(spark, lambda: io.load(spark, sf, "t"))
    assert n3 >= 1
    assert third.columns == ["id", "v"]


def test_rewrite_with_extra_column_is_seen(spark, tmp_path):
    d = str(tmp_path / "dir_table")
    spark.createDataFrame([(1,), (2,)], "id long").write.parquet(d)
    assert io.read_parquet(spark, d).columns == ["id"]
    assert io.read_parquet(spark, d).columns == ["id"]  # a hit
    spark.createDataFrame([(1, "x")], "id long, extra string").write.mode("overwrite").parquet(d)
    df = io.read_parquet(spark, d)
    assert df.columns == ["id", "extra"]
    assert df.collect() == [(1, "x")]


def test_deleting_one_file_misses(spark, tmp_path):
    d = tmp_path / "dir_table"
    d.mkdir()
    _write(str(d / "part-0.parquet"), id=pa.array([1, 2], pa.int64()))
    _write(str(d / "part-1.parquet"), id=pa.array([3], pa.int64()))
    _, n1 = _jobs(spark, lambda: io.read_parquet(spark, str(d)))
    _, n2 = _jobs(spark, lambda: io.read_parquet(spark, str(d)))
    assert n1 >= 1 and n2 == 0
    os.remove(d / "part-1.parquet")
    df, n3 = _jobs(spark, lambda: io.read_parquet(spark, str(d)))
    assert n3 >= 1
    assert df.count() == 2


def test_events_nanos_still_load_as_timestamp_ntz(spark, tmp_path):
    """TIMESTAMP(NANOS) ``ts`` is truncated to micros and typed
    TIMESTAMP_NTZ on the inferring load and on the registry hit; a later
    rewrite of the same path as a micros table (what a clone writes) is
    inferred afresh, not read through the stored nanos-as-long schema."""
    sf = str(tmp_path)
    nanos = [1_704_067_200_123_456_789, 1_704_067_260_000_000_999]
    micros = [dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=n // 1000) for n in nanos]
    events = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
    })
    path = io.table_path(sf, "events")
    pq.write_table(events, path, version="2.6", coerce_timestamps=None)

    def rows(df):
        assert df.schema["ts"].dataType == T.TimestampNTZType()
        return [r["ts"] for r in df.orderBy("event_id").collect()]

    miss, n_miss = _jobs(spark, lambda: io.load(spark, sf, "events"))
    hit, n_hit = _jobs(spark, lambda: io.load(spark, sf, "events"))
    assert n_miss >= 1 and n_hit == 0
    assert rows(miss) == rows(hit) == micros
    pq.write_table(events.set_column(1, "ts", pa.array(micros, pa.timestamp("us"))), path)
    assert rows(io.load(spark, sf, "events")) == micros


def test_miss_and_hit_frames_have_the_same_semantics(spark, tmp_path):
    d = str(tmp_path / "t.parquet")
    _write(d, id=pa.array([1, 2], pa.int64()), s=pa.array(["a", "b"]))
    miss = io.read_parquet(spark, d)
    hit = io.read_parquet(spark, d)
    assert miss.sameSemantics(hit)
    assert miss.semanticHash() == hit.semanticHash()
    _write(d, id=pa.array([1, 2], pa.int64()), s=pa.array(["a", "b"]), x=pa.array([0.5, 1.5]))
    assert not io.read_parquet(spark, d).sameSemantics(miss)


def test_sources_read_parquet_goes_through_the_registry(spark, tmp_path):
    from database_clonev2_spark import sources

    d = str(tmp_path / "t.parquet")
    _write(d, id=pa.array([1, 2], pa.int64()), s=pa.array(["a", "b"]))
    _, n_miss = _jobs(spark, lambda: sources.read_parquet(spark, d))
    hit, n_hit = _jobs(spark, lambda: sources.read_parquet(spark, d))
    assert n_miss >= 1 and n_hit == 0 and hit.columns == ["id", "s"]
    explicit = T.StructType([T.StructField("id", T.LongType())])
    assert sources.read_parquet(spark, d, schema=explicit).columns == ["id"]
    _write(d, id=pa.array([1], pa.int64()))
    assert sources.read_parquet(spark, d).columns == ["id"]


def _tiny_star(tmp_path):
    """region ← nation ← customer ← orders, with one duplicate PK
    (orders 10), one orphan FK (nation 2 → region 9) and one CHECK
    violation (a negative order price)."""
    sf = str(tmp_path)
    i32, i64 = pa.int32(), pa.int64()
    _write(io.table_path(sf, "region"), r_regionkey=pa.array([0, 1], i32), r_name=pa.array(["A", "B"]))
    _write(io.table_path(sf, "nation"), n_nationkey=pa.array([0, 1, 2], i32),
           n_name=pa.array(["X", "Y", "Z"]), n_regionkey=pa.array([0, 1, 9], i32))
    _write(io.table_path(sf, "customer"), c_custkey=pa.array([1, 2], i64),
           c_nationkey=pa.array([0, 1], i32))
    _write(io.table_path(sf, "orders"), o_orderkey=pa.array([10, 10, 11], i64),
           o_custkey=pa.array([1, 2, 2], i64), o_totalprice=pa.array([5.0, 6.0, -1.0]))
    return sf


def test_fused_validation_matches_per_check_counts(spark, tmp_path):
    sf = _tiny_star(tmp_path)

    def per_check_counts():
        out = {}
        for s in fixture_specs(spark, sf):
            df = io.load(spark, sf, s.name)
            if s.primary_key:
                out[f"pk:{s.name}"] = validate_primary_key(df, s.primary_key).count()
            for name, child_cols, parent, parent_cols in s.foreign_keys:
                out[f"fk:{name}"] = validate_foreign_key(
                    df, child_cols, io.load(spark, sf, parent), parent_cols
                ).count()
            for name, expr in s.checks:
                out[f"ck:{name}"] = validate_check(df, expr).count()
        return out

    fixture_specs(spark, sf)  # infer the schemas outside the counts below
    expected, n_per_check = _jobs(spark, per_check_counts)
    got, n_jobs = _jobs(spark, lambda: validate_database(spark, sf))
    assert list(got.items()) == list(expected.items())
    assert {k: v for k, v in got.items() if v} == {
        "pk:orders": 1, "fk:FK_nation_region": 1, "ck:CK_orders_price": 1,
    }
    # the checks' stages share jobs instead of running one action each
    assert n_jobs < n_per_check
