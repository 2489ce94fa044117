"""Round-7 operator tests.

Covers the two round-6 queries that shipped without driver evidence
(`ts_time_weighted_avg`, `ts_resample_ohlc` — the r6 verdict's hard-gate
miss), per the verdict's edge-case list: equal-timestamp events,
single-observation users, NULL measurements, plus full-fixture
recomputation against an independent Python reference.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import pytest

# Gated out of the DEFAULT pytest run (round 14, VERDICT r13 #3): the
# full suite outgrew the round driver's pytest window (46 min measured),
# so the slowest pipeline/round-ops suites run behind this marker while
# the default run keeps the plan/scan contracts + unit value-identity
# tests. Run these with:  python -m pytest -m slowops tests/
# (or everything:         python -m pytest -m "not oracle" tests/ -o addopts="")
pytestmark = pytest.mark.slowops

from database_clonev2_spark.operators.timeseries import (
    ts_resample_ohlc,
    ts_time_weighted_avg,
)


def _write_events(spark, path, rows):
    """rows: (event_id, ts, user_id, event_type, value)."""
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    ).write.parquet(f"{path}/events.parquet")


TS = dt.datetime(2024, 3, 1, 9, 0, 0)


def _t(seconds, micros=0):
    return TS + dt.timedelta(seconds=seconds, microseconds=micros)


def test_twa_edge_cases_spans_ties_nulls_singletons(spark, tmp_path):
    _write_events(
        spark,
        str(tmp_path),
        [
            # user 1: a same-second tie (event_id tiebreak) and a zero
            # -duration span that must drop (dt_s > 0).
            (1, _t(0), 1, "m", 10.0),
            (2, _t(10), 1, "m", 20.0),
            (3, _t(10), 1, "m", 30.0),
            (4, _t(40), 1, "m", 50.0),
            # user 2: single observation -> no span -> absent.
            (5, _t(0), 2, "m", 99.0),
            # user 3: NULLs neither weigh nor close the previous span.
            (6, _t(0), 3, "m", None),
            (7, _t(5), 3, "m", 8.0),
            (8, _t(15), 3, "m", None),
            (9, _t(20), 3, "m", 4.0),
            (10, _t(30), 3, "m", 6.0),
        ],
    )
    out = {
        r["user_id"]: r
        for r in ts_time_weighted_avg(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 3}  # user 2 has no spans
    # user 1: span(v=10)=10s, span(v=20)=0s dropped, span(v=30)=30s
    assert out[1]["n_spans"] == 2
    assert out[1]["total_s"] == 40
    assert out[1]["twa_value"] == pytest.approx((10 * 10 + 30 * 30) / 40)
    # user 3: NULL at t=15 skipped, so v=8 holds t=5..t=20 (15s), v=4
    # holds t=20..t=30 (10s); the trailing NULL-free last obs drops.
    assert out[3]["n_spans"] == 2
    assert out[3]["total_s"] == 25
    assert out[3]["twa_value"] == pytest.approx((8 * 15 + 4 * 10) / 25)


def test_ohlc_edge_cases_ties_and_nulls(spark, tmp_path):
    _write_events(
        spark,
        str(tmp_path),
        [
            # same second, open must be the LOWER event_id (packed-key tiebreak)
            (2, _t(0), 1, "click", 5.0),
            (1, _t(0), 1, "click", 7.0),
            (9, _t(9 * 3600), 1, "click", 3.0),
            # NULL value excluded entirely
            (4, _t(100), 1, "click", None),
            # second type, single row: open==close==high==low
            (5, _t(50), 1, "view", 2.5),
            # same values next day -> separate bar
            (6, _t(0) + dt.timedelta(days=1), 1, "click", 11.0),
        ],
    )
    out = {
        (r["event_type"], r["bar_day"].date()): r
        for r in ts_resample_ohlc(spark, str(tmp_path)).collect()
    }
    d0 = TS.date()
    bar = out[("click", d0)]
    assert bar["n_events"] == 3
    assert bar["open_v"] == 7.0  # event_id 1 beats event_id 2 at the same second
    assert bar["close_v"] == 3.0
    assert bar["high_v"] == 7.0 and bar["low_v"] == 3.0
    single = out[("view", d0)]
    assert (
        single["open_v"]
        == single["close_v"]
        == single["high_v"]
        == single["low_v"]
        == 2.5
    )
    assert out[("click", d0 + dt.timedelta(days=1))]["n_events"] == 1


def _fixture_events(spark, sf_dir):
    from database_clonev2_spark.io import load

    return load(spark, sf_dir, "events").collect()


def test_twa_matches_python_recompute_on_fixture(spark, sf_dir):
    rows = _fixture_events(spark, sf_dir)
    per_user: dict[int, list] = {}
    for r in rows:
        if r["value"] is None:
            continue
        per_user.setdefault(r["user_id"], []).append(r)
    expected = {}
    for uid, evs in per_user.items():
        # okey ordering == (second-truncated ts, event_id)
        evs.sort(key=lambda r: (r["ts"].replace(microsecond=0), r["event_id"]))
        num = Decimal(0)
        den = 0
        n = 0
        for a, b in zip(evs, evs[1:]):
            span = int(
                (
                    b["ts"].replace(microsecond=0) - a["ts"].replace(microsecond=0)
                ).total_seconds()
            )
            if span <= 0:
                continue
            v = Decimal(repr(a["value"])).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
            num += v * span
            den += span
            n += 1
        if n:
            expected[uid] = (n, den, float(num) / float(den))
    got = {
        r["user_id"]: (r["n_spans"], r["total_s"], r["twa_value"])
        for r in ts_time_weighted_avg(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for uid, (n, den, twa) in expected.items():
        gn, gden, gtwa = got[uid]
        assert (gn, gden) == (n, den), uid
        assert gtwa == pytest.approx(twa, rel=1e-12), uid


def test_ohlc_matches_python_recompute_on_fixture(spark, sf_dir):
    rows = [r for r in _fixture_events(spark, sf_dir) if r["value"] is not None]
    bars: dict[tuple, list] = {}
    for r in rows:
        key = (r["event_type"], r["ts"].date())
        bars.setdefault(key, []).append(r)
    expected = {}
    for key, evs in bars.items():
        evs.sort(key=lambda r: (r["ts"].replace(microsecond=0), r["event_id"]))
        vals = [r["value"] for r in evs]
        expected[key] = (len(evs), vals[0], max(vals), min(vals), vals[-1])
    got = {
        (r["event_type"], r["bar_day"].date()): (
            r["n_events"],
            r["open_v"],
            r["high_v"],
            r["low_v"],
            r["close_v"],
        )
        for r in ts_resample_ohlc(spark, sf_dir).collect()
    }
    assert got == expected


class TestAdditiveMinMax:
    """Round 7 (VERDICT r6 #6): MIN/MAX maintenance for append-only
    streams, exact AVG at read time, and the loud state-spec mismatch."""

    def test_min_max_maintained_across_batches_equals_recompute(
        self, spark, tmp_path
    ):
        from database_clonev2_spark.pipeline.merge import (
            merge_additive_bucketed,
            read_additive_view,
        )

        target = str(tmp_path / "mm.parquet")
        batches = [
            [(1, 10), (1, 3), (2, 7)],
            [(1, 99), (2, 1)],
            [(3, 5)],
        ]
        for i, rows in enumerate(batches):
            merge_additive_bucketed(
                spark,
                target,
                spark.createDataFrame(rows, "k long, v long"),
                ["k"],
                ["v"],
                n_buckets=4,
                batch_id=i,
                min_cols=["v"],
                max_cols=["v"],
            )
        got = {
            r["k"]: (r["v"], r["_n"], r["v_min"], r["v_max"], r["v_avg"])
            for r in read_additive_view(spark, target, avg_of=["v"]).collect()
        }
        assert got == {
            1: (112, 3, 3, 99, 112 / 3),
            2: (8, 2, 1, 7, 4.0),
            3: (5, 1, 5, 5, 5.0),
        }

    def test_state_spec_mismatch_fails_loud(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        target = str(tmp_path / "spec.parquet")
        df = spark.createDataFrame([(1, 2)], "k long, v long")
        merge_additive_bucketed(
            spark, target, df, ["k"], ["v"], n_buckets=4, min_cols=["v"]
        )
        with pytest.raises(ValueError, match="additive state mismatch"):
            merge_additive_bucketed(
                spark, target, df, ["k"], ["v"], n_buckets=4, max_cols=["v"]
            )

    def test_streamed_min_max_matches_batch(self, spark, tmp_path):
        from pyspark.sql import types as T

        from database_clonev2_spark.pipeline.merge import read_additive_view
        from database_clonev2_spark.streaming.sync import stream_agg_maintain

        schema = T.StructType(
            [
                T.StructField("k", T.LongType(), True),
                T.StructField("v", T.LongType(), True),
            ]
        )
        src = tmp_path / "facts"
        src.mkdir()
        view = str(tmp_path / "view.parquet")

        spark.createDataFrame(
            [(1, 10), (2, 20), (1, 5)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_agg_maintain(
            stream,
            view,
            ["k"],
            ["v"],
            str(tmp_path / "ck"),
            min_cols=["v"],
            max_cols=["v"],
        ).awaitTermination()

        spark.createDataFrame([(1, 100)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream2 = spark.readStream.schema(schema).parquet(str(src))
        stream_agg_maintain(
            stream2,
            view,
            ["k"],
            ["v"],
            str(tmp_path / "ck"),
            min_cols=["v"],
            max_cols=["v"],
        ).awaitTermination()

        got = {
            r["k"]: (r["v"], r["_n"], r["v_min"], r["v_max"])
            for r in read_additive_view(spark, view).collect()
        }
        assert got == {1: (115, 3, 5, 100), 2: (20, 1, 20, 20)}


class TestIntervalBinJoin:
    """Round 7: keyless interval containment via bin bucketing — exact
    half-open semantics, exactly-once pair emission, multi-bin spans."""

    def _run(self, spark, facts, intervals, bin_seconds):
        from database_clonev2_spark.operators.asof import interval_bin_join

        f = spark.createDataFrame(facts, "fact_id long, ts timestamp")
        i = spark.createDataFrame(
            intervals, "iv_id long, start_ts timestamp, end_ts timestamp"
        )
        out = interval_bin_join(f, i, "ts", "start_ts", "end_ts", bin_seconds)
        return sorted((r["fact_id"], r["iv_id"]) for r in out.collect())

    def test_half_open_boundaries_and_multi_bin_span(self, spark):
        iv = [(1, _t(0), _t(3600))]  # one hour, spans 4 bins at 20-min width
        facts = [
            (10, _t(0)),      # ts == start -> IN
            (11, _t(3599)),   # last second -> IN
            (12, _t(3600)),   # ts == end -> OUT (half-open)
            (13, _t(-1)),     # before -> OUT
            (14, _t(1800)),   # middle bin -> IN
        ]
        got = self._run(spark, facts, iv, bin_seconds=1200)
        assert got == [(10, 1), (11, 1), (14, 1)]

    def test_overlapping_intervals_emit_each_pair_exactly_once(self, spark):
        iv = [
            (1, _t(0), _t(100)),
            (2, _t(50), _t(150)),   # overlaps interval 1 on [50, 100)
            (3, _t(95), _t(105)),   # sub-bin interval crossing a bin edge
        ]
        facts = [(20, _t(60)), (21, _t(99)), (22, _t(100))]
        got = self._run(spark, facts, iv, bin_seconds=10)
        assert got == [
            (20, 1), (20, 2),
            (21, 1), (21, 2), (21, 3),
            (22, 2), (22, 3),
        ]

    def test_end_on_bin_edge_does_not_leak_into_next_bin(self, spark):
        # interval [0, 1200) with 1200-second bins covers exactly bin 0;
        # a fact in bin 1 must not pair even though end/1200 == 1
        iv = [(1, _t(0), _t(1200))]
        facts = [(30, _t(1200)), (31, _t(1199))]
        got = self._run(spark, facts, iv, bin_seconds=1200)
        assert got == [(31, 1)]

    def test_rejects_nonpositive_bin(self, spark):
        from database_clonev2_spark.operators.asof import interval_bin_join

        f = spark.createDataFrame([(1, _t(0))], "fact_id long, ts timestamp")
        with pytest.raises(ValueError, match="bin_seconds"):
            interval_bin_join(f, f, "ts", "ts", "ts", 0)


def _file_ranges(path, col):
    """Per-data-file (min, max) footer statistics for one column."""
    import pyarrow.parquet as pq

    ranges = []
    for root, _dirs, files in __import__("os").walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(f"{root}/{f}").metadata
            idx = md.schema.names.index(col)
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            ranges.append((lo, hi))
    return sorted(ranges)


class TestClusteredCompaction:
    """Round 7: compact_parquet(cluster_by=...) must yield files whose
    parquet footer min/max ranges on the cluster key are pairwise
    disjoint — the property file/row-group skipping feeds on."""

    def _file_ranges(self, path, col):
        return _file_ranges(path, col)

    def test_clustered_files_hold_disjoint_key_ranges(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.compact import compact_parquet

        path = str(tmp_path / "clustered.parquet")
        # deliberately interleaved writes: every file initially covers the
        # whole key range, so min/max stats can skip nothing
        spark.range(0, 10000).selectExpr(
            "id", "id % 8 as salt"
        ).repartition(8, "salt").drop("salt").write.parquet(path)
        before = self._file_ranges(path, "id")
        assert all(lo < 2000 and hi > 8000 for lo, hi in before)

        res = compact_parquet(
            spark, path, target_file_bytes=8 * 1024, cluster_by=["id"]
        )
        assert res["rows"] == 10000
        after = self._file_ranges(path, "id")
        assert len(after) > 1  # multi-file, or disjointness is vacuous
        for (lo1, hi1), (lo2, _hi2) in zip(after, after[1:]):
            assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, _hi2)}"
        # content preserved
        assert sorted(
            r["id"] for r in spark.read.parquet(path).collect()
        ) == list(range(10000))


class TestAdditiveHllSketch:
    """Round 7: mergeable HLL approx-distinct state in the additive view —
    the maintained sketch must be indistinguishable from the one-shot
    sketch over all rows, however the rows were batched."""

    def test_maintained_sketch_equals_one_shot_sketch(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.merge import (
            merge_additive_bucketed,
            read_additive_view,
        )

        # key 1 sees users 0..99 spread over 3 batches WITH overlap
        # (distinct != sum of per-batch distincts); key 2 a single batch
        batches = [
            [(1, u) for u in range(0, 60)] + [(2, u) for u in range(5)],
            [(1, u) for u in range(40, 90)],
            [(1, u) for u in range(80, 100)],
        ]
        target = str(tmp_path / "hll.parquet")
        for i, rows in enumerate(batches):
            merge_additive_bucketed(
                spark,
                target,
                spark.createDataFrame(rows, "k long, user long"),
                ["k"],
                [],
                n_buckets=4,
                batch_id=i,
                hll_cols=["user"],
            )
        view = read_additive_view(spark, target, distinct_of=["user"])
        got = {
            r["k"]: (r["_n"], r["user_approx_distinct"]) for r in view.collect()
        }
        one_shot = {
            r["k"]: r["est"]
            for r in spark.createDataFrame(
                [t for rows in batches for t in rows], "k long, user long"
            )
            .groupBy("k")
            .agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("user")).alias("est")
            )
            .collect()
        }
        # batching must not change the estimate AT ALL (register-wise max
        # union is order- and partition-insensitive)
        assert {k: v[1] for k, v in got.items()} == one_shot
        assert got[1][0] == 130 and got[2][0] == 5  # raw row counts
        # and the estimate is near-exact at this cardinality
        assert abs(got[1][1] - 100) <= 2
        assert got[2][1] == 5


class TestIntervalBinJoinProperties:
    """Hypothesis: for ANY fact/interval configuration and ANY bin width,
    the bucketed join emits exactly the brute-force half-open containment
    pair set, each pair once — including empty and inverted intervals."""

    def test_matches_bruteforce_on_random_configurations(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from database_clonev2_spark.operators.asof import interval_bin_join

        @given(
            facts=st.lists(
                st.integers(min_value=0, max_value=5000), min_size=0, max_size=25
            ),
            intervals=st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=5000),
                    st.integers(min_value=-50, max_value=2500),  # len<=0 => empty
                ),
                min_size=0,
                max_size=8,
            ),
            bin_seconds=st.sampled_from([1, 7, 100, 999, 86400]),
        )
        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        def prop(facts, intervals, bin_seconds):
            f = spark.createDataFrame(
                [(i, _t(s)) for i, s in enumerate(facts)] or [(0, None)],
                "fact_id long, ts timestamp",
            ).where("ts IS NOT NULL")
            iv = spark.createDataFrame(
                [(j, _t(s), _t(s + ln)) for j, (s, ln) in enumerate(intervals)]
                or [(0, None, None)],
                "iv_id long, start_ts timestamp, end_ts timestamp",
            ).where("start_ts IS NOT NULL")
            got = sorted(
                (r["fact_id"], r["iv_id"])
                for r in interval_bin_join(
                    f, iv, "ts", "start_ts", "end_ts", bin_seconds
                ).collect()
            )
            want = sorted(
                (i, j)
                for i, s in enumerate(facts)
                for j, (a, ln) in enumerate(intervals)
                if a <= s < a + ln
            )
            assert got == want

        prop()


class TestIntervalOverlapJoin:
    """Round 7: two-interval-set keyless overlap via the first-shared-bin
    emit-once rule — each overlapping pair exactly once, touching pairs
    (end == start, half-open) excluded."""

    def _run(self, spark, lefts, rights, bin_seconds):
        from database_clonev2_spark.operators.asof import interval_overlap_join

        l = spark.createDataFrame(
            lefts, "l_id long, l_start timestamp, l_end timestamp"
        )
        r = spark.createDataFrame(
            rights, "r_id long, r_start timestamp, r_end timestamp"
        )
        out = interval_overlap_join(
            l, r, "l_start", "l_end", "r_start", "r_end", bin_seconds
        )
        return sorted((x["l_id"], x["r_id"]) for x in out.collect())

    def test_overlap_touch_containment_and_multibin(self, spark):
        lefts = [
            (1, _t(0), _t(100)),
            (2, _t(100), _t(200)),   # touches 1's end: NOT an overlap
            (3, _t(50), _t(5000)),   # spans many bins
        ]
        rights = [
            (10, _t(90), _t(110)),   # straddles 1/2 boundary: hits both
            (11, _t(60), _t(70)),    # contained in 1 and 3
            (12, _t(4000), _t(4001)),  # deep inside 3 only
            (13, _t(200), _t(200)),  # empty: matches nothing
        ]
        got = self._run(spark, lefts, rights, bin_seconds=30)
        assert got == [
            (1, 10), (1, 11),
            (2, 10),
            (3, 10), (3, 11), (3, 12),
        ]

    def test_matches_bruteforce_on_random_configurations(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from database_clonev2_spark.operators.asof import interval_overlap_join

        iv = st.tuples(
            st.integers(min_value=0, max_value=3000),
            st.integers(min_value=-20, max_value=1500),
        )

        @given(
            lefts=st.lists(iv, min_size=0, max_size=8),
            rights=st.lists(iv, min_size=0, max_size=8),
            bin_seconds=st.sampled_from([1, 13, 500, 86400]),
        )
        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        def prop(lefts, rights, bin_seconds):
            l = spark.createDataFrame(
                [(i, _t(s), _t(s + n)) for i, (s, n) in enumerate(lefts)]
                or [(0, None, None)],
                "l_id long, l_start timestamp, l_end timestamp",
            ).where("l_start IS NOT NULL")
            r = spark.createDataFrame(
                [(j, _t(s), _t(s + n)) for j, (s, n) in enumerate(rights)]
                or [(0, None, None)],
                "r_id long, r_start timestamp, r_end timestamp",
            ).where("r_start IS NOT NULL")
            got = sorted(
                (x["l_id"], x["r_id"])
                for x in interval_overlap_join(
                    l, r, "l_start", "l_end", "r_start", "r_end", bin_seconds
                ).collect()
            )
            want = sorted(
                (i, j)
                for i, (a, an) in enumerate(lefts)
                for j, (b, bn) in enumerate(rights)
                if a < b + bn and b < a + an and an > 0 and bn > 0
            )
            assert got == want

        prop()


def test_interval_join_subsecond_bounds_do_not_drop_pairs(spark):
    """Round 7 (review-caught): unix_timestamp-truncated binning dropped
    pairs when an interval END carried sub-second precision — the end's
    last covered bin fell one short. Micros binning must not."""
    from database_clonev2_spark.operators.asof import (
        interval_bin_join,
        interval_overlap_join,
    )

    # interval [.., 01.2): its final covered instant (01.199..) sits in the
    # bin starting at 01; a fact at 01.1 must pair (1-second bins)
    iv = spark.createDataFrame(
        [(1, _t(0, 500_000), _t(1, 200_000))],
        "iv_id long, start_ts timestamp, end_ts timestamp",
    )
    f = spark.createDataFrame(
        [(10, _t(1, 100_000)), (11, _t(1, 200_000)), (12, _t(0, 499_999))],
        "fact_id long, ts timestamp",
    )
    got = sorted(
        (r["fact_id"], r["iv_id"])
        for r in interval_bin_join(f, iv, "ts", "start_ts", "end_ts", 1).collect()
    )
    assert got == [(10, 1)]  # 11 is AT the exclusive end; 12 before start

    # overlap: [0.5, 1.2) x [1.1, 9.0) overlap on [1.1, 1.2) only — entirely
    # inside a bin the second-truncated end arithmetic failed to explode
    l = spark.createDataFrame(
        [(1, _t(0, 500_000), _t(1, 200_000))],
        "l_id long, l_start timestamp, l_end timestamp",
    )
    r = spark.createDataFrame(
        [(2, _t(1, 100_000), _t(9)), (3, _t(1, 200_000), _t(9))],
        "r_id long, r_start timestamp, r_end timestamp",
    )
    got2 = sorted(
        (x["l_id"], x["r_id"])
        for x in interval_overlap_join(
            l, r, "l_start", "l_end", "r_start", "r_end", 1
        ).collect()
    )
    assert got2 == [(1, 2)]  # 3 only touches at the half-open boundary


def test_reader_never_sweeps_manifestless_staging(spark, tmp_path):
    """Round 7 (review-caught): merges write staging BEFORE the manifest,
    so a manifest-less staging dir can be a LIVE writer's in-progress
    batch — the reader path must leave it alone; the (serialized) writer
    path sweeps it as a dead predecessor's garbage."""
    import os

    from database_clonev2_spark.pipeline.merge import (
        merge_upsert_bucketed,
        read_merge_target,
    )

    target = str(tmp_path / "sweep.parquet")
    base = spark.createDataFrame([(i, i) for i in range(10)], "id long, v long")
    merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)

    live_staging = f"{target}.__stage_inprogress"
    os.makedirs(os.path.join(live_staging, "_bucket=0"))
    read_merge_target(spark, target).count()
    assert os.path.isdir(live_staging)  # reader left it alone

    upd = spark.createDataFrame([(1, 99)], "id long, v long")
    merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4)
    assert not os.path.isdir(live_staging)  # writer swept it


def test_cluster_by_overrides_single_file_shortcircuit(spark, tmp_path):
    """Round 7 (review-caught): one large unsorted file + cluster_by must
    cluster, not silently no-op under the few-files threshold."""
    from database_clonev2_spark.pipeline.compact import compact_parquet

    path = str(tmp_path / "single.parquet")
    spark.range(0, 5000).selectExpr("id", "cast(id % 977 as long) as k").coalesce(
        1
    ).write.parquet(path)
    res = compact_parquet(
        spark, path, target_file_bytes=4 * 1024, cluster_by=["k"]
    )
    assert res["files_before"] == 1
    assert res["files_after"] > 1  # actually rewritten, range-partitioned
    assert res["rows"] == 5000


class TestZorderCompaction:
    """Round 7: compact_parquet(zorder_by=...) must make footer min/max
    selective on EVERY clustered dimension — the property linear
    cluster_by gives only its leading key."""

    def _covering(self, path, col, probe):
        return sum(1 for lo, hi in _file_ranges(path, col) if lo <= probe <= hi)

    def test_zorder_prunes_on_both_dimensions(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.compact import compact_parquet

        # two pseudo-independent uniform dims; interleaved initial layout
        # so pre-compaction stats can skip nothing
        src = spark.range(0, 20000).selectExpr(
            "id", "(id * 37) % 1000 as a", "(id * 101) % 1000 as b"
        )
        zpath = str(tmp_path / "z.parquet")
        lpath = str(tmp_path / "linear.parquet")
        src.repartition(8).write.parquet(zpath)
        src.repartition(8).write.parquet(lpath)

        res = compact_parquet(
            spark, zpath, target_file_bytes=16 * 1024, zorder_by=["a", "b"]
        )
        assert res["rows"] == 20000
        n_z = res["files_after"]
        assert n_z >= 8  # enough files for pruning to be non-vacuous

        lres = compact_parquet(
            spark, lpath, target_file_bytes=16 * 1024, cluster_by=["a", "b"]
        )
        n_l = lres["files_after"]

        # linear (a, b) clustering: only `a` is selective — nearly every
        # file spans b's full range, so a probe on b covers ~all files
        assert self._covering(lpath, "b", 500) >= n_l - 1
        # z-order: BOTH dims prune — each file covers a hyper-rectangle
        for col in ("a", "b"):
            cov = self._covering(zpath, col, 500)
            assert cov <= n_z // 2, f"{col}: {cov}/{n_z} files cover probe"
        # content preserved
        want = src.selectExpr("sum(id) s", "sum(a) sa", "sum(b) sb").collect()[0]
        got = (
            spark.read.parquet(zpath)
            .selectExpr("sum(id) s", "sum(a) sa", "sum(b) sb")
            .collect()[0]
        )
        assert tuple(got) == tuple(want)

    def test_zorder_rejects_bad_inputs(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.compact import compact_parquet

        path = str(tmp_path / "bad.parquet")
        spark.range(0, 100).selectExpr(
            "id", "cast(id as string) as s"
        ).repartition(2).write.parquet(path)
        with pytest.raises(ValueError, match="mutually exclusive"):
            compact_parquet(spark, path, cluster_by=["id"], zorder_by=["id"])
        with pytest.raises(ValueError, match="ordinal"):
            compact_parquet(spark, path, zorder_by=["id", "s"])


class TestAdditiveHistQuantile:
    """Round 7: fixed-edge histogram state in the additive view — exactly
    additive (maintained counts == one-shot counts however batched) with
    read-time quantile estimates off the pinned edges."""

    EDGES = [10.0, 20.0, 50.0, 100.0]

    def _maintain(self, spark, target, batches):
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        for i, rows in enumerate(batches):
            merge_additive_bucketed(
                spark,
                target,
                spark.createDataFrame(rows, "k long, v double"),
                ["k"],
                sum_cols=[],
                n_buckets=4,
                batch_id=i,
                hist_cols={"v": self.EDGES},
            )

    def test_maintained_hist_equals_one_shot_recompute(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import read_additive_view

        target = str(tmp_path / "hist.parquet")
        batches = [
            [(1, 5.0), (1, 15.0), (2, 60.0)],
            [(1, 10.0), (1, 150.0), (2, None)],  # edge value; NULL in no bin
            [(1, 49.999), (3, 100.0)],
        ]
        self._maintain(spark, target, batches)
        got = {
            r["k"]: (list(r["v_hist"]), r["_n"])
            for r in read_additive_view(spark, target).collect()
        }
        # bins: (-inf,10) [10,20) [20,50) [50,100) -- wait, 5 edges->5 bins
        # edges [10,20,50,100] -> bins: <10, [10,20), [20,50), [50,100), >=100
        assert got[1] == ([1, 2, 1, 0, 1], 5)  # 5 | 15,10 | 49.999 | - | 150
        assert got[2] == ([0, 0, 0, 1, 0], 2)  # 60; NULL counted in _n only
        assert got[3] == ([0, 0, 0, 0, 1], 1)  # 100 lands in the >=100 bin

    def test_quantile_estimates_and_batching_invariance(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import read_additive_view

        # same 200 rows, two different batchings -> identical state
        rows = [(1, float(v)) for v in range(200)]  # 0..199 uniform
        t_one = str(tmp_path / "one.parquet")
        t_many = str(tmp_path / "many.parquet")
        self._maintain(spark, t_one, [rows])
        self._maintain(spark, t_many, [rows[:37], rows[37:120], rows[120:]])
        one = read_additive_view(
            spark, t_one, quantile_of={"v": [0.5, 0.95]}
        ).collect()[0]
        many = read_additive_view(
            spark, t_many, quantile_of={"v": [0.5, 0.95]}
        ).collect()[0]
        assert list(one["v_hist"]) == list(many["v_hist"]) == [10, 10, 30, 50, 100]
        # rank(0.5)=100 -> cum [10,20,50,100,200] -> first cum>=100 is bin 3
        # ([50,100)) -> upper edge 100; rank(0.95)=190 -> top bin, clamped
        # to the last edge (documented lower bound)
        assert one["v_q5"] == many["v_q5"] == 100.0
        assert one["v_q95"] == many["v_q95"] == 100.0

    def test_edge_spec_is_pinned(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        target = str(tmp_path / "pin.parquet")
        self._maintain(spark, target, [[(1, 5.0)]])
        with pytest.raises(ValueError, match="hist edge mismatch"):
            merge_additive_bucketed(
                spark,
                target,
                spark.createDataFrame([(1, 6.0)], "k long, v double"),
                ["k"],
                sum_cols=[],
                n_buckets=4,
                batch_id=99,
                hist_cols={"v": [1.0, 2.0]},
            )
        with pytest.raises(ValueError, match="strictly"):
            merge_additive_bucketed(
                spark,
                target,
                spark.createDataFrame([(1, 6.0)], "k long, v double"),
                ["k"],
                sum_cols=[],
                n_buckets=4,
                hist_cols={"v": [2.0, 1.0]},
            )

    def test_replay_and_quantile_errors(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_additive_bucketed,
            read_additive_view,
        )

        target = str(tmp_path / "replay.parquet")
        self._maintain(spark, target, [[(1, 5.0)], [(1, 15.0)]])
        # replayed epoch no-ops
        res = merge_additive_bucketed(
            spark,
            target,
            spark.createDataFrame([(1, 5.0)], "k long, v double"),
            ["k"],
            sum_cols=[],
            n_buckets=4,
            batch_id=0,
            hist_cols={"v": self.EDGES},
        )
        assert res == {"applied": False, "batch_id": 0, "reason": "already_applied"}
        row = read_additive_view(spark, target).collect()[0]
        assert list(row["v_hist"]) == [1, 1, 0, 0, 0]
        with pytest.raises(ValueError, match="no histogram"):
            read_additive_view(spark, target, quantile_of={"zz": [0.5]}).collect()
        with pytest.raises(ValueError, match="not in"):
            read_additive_view(spark, target, quantile_of={"v": [1.5]}).collect()


def test_mv_quantile_consistency_matches_direct_recompute(spark, sf_dir):
    """The registered query's maintained bin counts must equal a direct
    CASE-binned recompute over the same fixture."""
    from pyspark.sql import functions as F

    from database_clonev2_spark.io import load
    from database_clonev2_spark.operators.matview import (
        MV_HIST_EDGES,
        mv_quantile_consistency,
    )

    got = {
        (r["o_orderpriority"], r["bin_id"]): r["bin_count"]
        for r in mv_quantile_consistency(spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    bin_expr = (
        F.when(F.col("o_totalprice") < MV_HIST_EDGES[0], 0)
        .when(F.col("o_totalprice") < MV_HIST_EDGES[1], 1)
        .when(F.col("o_totalprice") < MV_HIST_EDGES[2], 2)
        .otherwise(3)
    )
    want = {
        (r["o_orderpriority"], r["b"]): r["c"]
        for r in o.groupBy("o_orderpriority", bin_expr.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want and len(got) > 5


class TestJoinViewMaintenance:
    """Round 7: insert-only incremental JOIN-view maintenance — the
    maintained view must equal the full re-join of everything delivered,
    whatever the interleaving of left/right batches, with exactly-once
    replay and a crash-atomic tri-store commit."""

    def _full_join(self, spark, lrows, rrows):
        l = spark.createDataFrame(lrows, "k long, lv string")
        r = spark.createDataFrame(rrows, "k long, rv long")
        return {
            (x["k"], x["lv"], x["rv"]) for x in l.join(r, "k").collect()
        }

    def test_maintained_view_equals_full_rejoin(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.joinview import (
            maintain_join_view,
            read_join_view,
        )

        root = str(tmp_path / "jv")
        L = [(i, f"l{i}") for i in range(30)]
        R = [(i % 10, i * 100) for i in range(25)]  # dup join keys on right
        mk_l = lambda rows: spark.createDataFrame(rows, "k long, lv string")
        mk_r = lambda rows: spark.createDataFrame(rows, "k long, rv long")

        maintain_join_view(
            spark, root, ["k"], mk_l(L[:10]), mk_r(R[:5]), n_buckets=4, batch_id=0
        )
        # right-only, left-only, then both — every delivery interleaving
        maintain_join_view(
            spark, root, ["k"], batch_right=mk_r(R[5:15]), n_buckets=4, batch_id=1
        )
        maintain_join_view(
            spark, root, ["k"], batch_left=mk_l(L[10:25]), n_buckets=4, batch_id=2
        )
        maintain_join_view(
            spark, root, ["k"], mk_l(L[25:]), mk_r(R[15:]), n_buckets=4, batch_id=3
        )
        got = {
            (x["k"], x["lv"], x["rv"])
            for x in read_join_view(spark, root).collect()
        }
        assert got == self._full_join(spark, L, R)
        n = read_join_view(spark, root).count()
        assert n == len(got)  # no duplicate pair emissions either

    def test_replay_noop_and_errors(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.joinview import (
            maintain_join_view,
            read_join_view,
        )

        root = str(tmp_path / "jv2")
        l0 = spark.createDataFrame([(1, "a")], "k long, lv string")
        r0 = spark.createDataFrame([(1, 10)], "k long, rv long")
        with pytest.raises(ValueError, match="creation"):
            maintain_join_view(spark, root, ["k"], batch_left=l0, n_buckets=2)
        bad = spark.createDataFrame([(1, "x")], "k long, lv string")
        with pytest.raises(ValueError, match="both sides"):
            maintain_join_view(
                spark, root, ["k"], bad,
                spark.createDataFrame([(1, "y")], "k long, lv string"),
                n_buckets=2,
            )
        maintain_join_view(spark, root, ["k"], l0, r0, n_buckets=2, batch_id=0)
        res = maintain_join_view(
            spark, root, ["k"],
            spark.createDataFrame([(1, "DUP")], "k long, lv string"),
            batch_id=0,  # replayed epoch
        )
        assert res == {"applied": False, "batch_id": 0, "reason": "already_applied"}
        assert read_join_view(spark, root).count() == 1
        with pytest.raises(ValueError, match="layout mismatch"):
            maintain_join_view(
                spark, root, ["k"],
                batch_left=spark.createDataFrame([(2, "b")], "k long, lv string"),
                n_buckets=8,
            )
        with pytest.raises(ValueError, match="pinned left schema"):
            maintain_join_view(
                spark, root, ["k"],
                batch_left=spark.createDataFrame([(2, 2)], "k long, other long"),
                n_buckets=2,
            )

    def test_crash_mid_triple_swap_rolls_forward(self, spark, tmp_path, monkeypatch):
        """Kill the process between two of the tri-store bucket swaps;
        the dangling manifest must roll the rest forward on the next
        writer-path call, leaving all three stores consistent."""
        import os as _os

        from database_clonev2_spark.pipeline import joinview as jv

        root = str(tmp_path / "jvc")
        L = [(i, f"l{i}") for i in range(40)]
        R = [(i, i * 100) for i in range(40)]
        mk_l = lambda rows: spark.createDataFrame(rows, "k long, lv string")
        mk_r = lambda rows: spark.createDataFrame(rows, "k long, rv long")
        jv.maintain_join_view(
            spark, root, ["k"], mk_l(L[:20]), mk_r(R[:20]), n_buckets=4, batch_id=0
        )

        real_rename = _os.rename
        state = {"swaps": 0}

        def dying_rename(src, dst):
            if f"{jv.BUCKET_COL}=" in str(dst) and str(dst).startswith(root):
                state["swaps"] += 1
                if state["swaps"] == 3:  # die inside the tri-store swap loop
                    raise RuntimeError("simulated crash mid-commit")
            return real_rename(src, dst)

        monkeypatch.setattr(jv.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            jv.maintain_join_view(
                spark, root, ["k"], mk_l(L[20:]), mk_r(R[20:]),
                n_buckets=4, batch_id=1,
            )
        monkeypatch.setattr(jv.os, "rename", real_rename)
        assert _os.path.exists(_os.path.join(root, "_commit.json"))

        # next writer-path call recovers, then no-ops the replayed epoch
        res = jv.maintain_join_view(
            spark, root, ["k"], mk_l(L[20:]), mk_r(R[20:]),
            n_buckets=4, batch_id=1,
        )
        assert res == {"applied": False, "batch_id": 1, "reason": "already_applied"}
        got = {
            (x["k"], x["lv"], x["rv"])
            for x in jv.read_join_view(spark, root).collect()
        }
        assert got == {(i, f"l{i}", i * 100) for i in range(40)}
        residue = [
            s for s in _os.listdir(root)
            if s.startswith(".__stage_") or s.startswith(".__old_")
        ]
        assert residue == [] and not _os.path.exists(
            _os.path.join(root, "_commit.json")
        )


def test_stream_join_maintain_matches_batch_join(spark, tmp_path):
    """Round 7: the streaming face of the join view — one streaming side
    folding epochs against the maintained other-side store; a second
    wave through the same checkpoint adds exactly once."""
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.joinview import (
        maintain_join_view,
        read_join_view,
    )
    from database_clonev2_spark.streaming.sync import stream_join_maintain

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("lv", T.StringType(), True),
        ]
    )
    root = str(tmp_path / "jv")
    # bootstrap: empty left (schema pin), full right dimension
    maintain_join_view(
        spark,
        root,
        ["k"],
        spark.createDataFrame([], schema),
        spark.createDataFrame([(1, 10), (2, 20)], "k long, rv long"),
        n_buckets=2,
        batch_id="bootstrap",
    )
    src = tmp_path / "facts"
    src.mkdir()
    ck = str(tmp_path / "ck")
    spark.createDataFrame([(1, "a"), (3, "nomatch")], schema).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    stream_join_maintain(stream, "left", root, ["k"], ck).awaitTermination()
    got = {
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, root).collect()
    }
    assert got == {(1, "a", 10)}

    spark.createDataFrame([(2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    stream_join_maintain(stream2, "left", root, ["k"], ck).awaitTermination()
    got2 = {
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, root).collect()
    }
    assert got2 == {(1, "a", 10), (2, "b", 20)}


class TestBucketedCompaction:
    """Round 7: per-bucket small-file compaction for bucketed merge
    targets — the remedy compact_parquet refuses; must preserve rows,
    the bucket invariant, and every root sidecar."""

    def _files_per_bucket(self, target):
        import os

        from database_clonev2_spark.pipeline.merge import BUCKET_COL

        out = {}
        for d in os.listdir(target):
            if d.startswith(f"{BUCKET_COL}="):
                b = int(d.split("=")[1])
                out[b] = sum(
                    1
                    for f in os.listdir(os.path.join(target, d))
                    if f.endswith(".parquet")
                )
        return out

    def test_compacts_buckets_preserving_state(self, spark, tmp_path):
        import os

        from database_clonev2_spark.pipeline.compact import compact_bucketed_target
        from database_clonev2_spark.pipeline.merge import (
            incremental_append,
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "bt.parquet")
        # a merge writes one file per bucket; each bucket-aware append
        # then adds a file set inside every bucket it touches
        for wave in range(6):
            rows = [(i, f"v{wave}_{i}") for i in range(wave * 20, wave * 20 + 20)]
            batch = spark.createDataFrame(rows, "id long, v string")
            if wave == 0:
                merge_upsert_bucketed(spark, target, batch, ["id"], n_buckets=4)
            else:
                incremental_append(spark, batch, target, "id")
        before = read_merge_target(spark, target).collect()
        fb = self._files_per_bucket(target)
        assert sum(fb.values()) > 4

        res = compact_bucketed_target(spark, target, target_file_bytes=10**9)
        fa = self._files_per_bucket(target)
        assert set(fa) == set(fb)  # same bucket set: pruning invariant
        assert all(n == 1 for n in fa.values())
        assert res["files_after"] == len(fa)
        assert sorted(map(tuple, read_merge_target(spark, target).collect())) == sorted(
            map(tuple, before)
        )
        assert os.path.exists(os.path.join(target, "_merge_buckets.json"))
        # a later merge still works against the compacted layout
        merge_upsert_bucketed(
            spark,
            target,
            spark.createDataFrame([(0, "post")], "id long, v string"),
            ["id"],
            n_buckets=4,
        )
        got = {r["id"]: r["v"] for r in read_merge_target(spark, target).collect()}
        assert got[0] == "post"

    def test_subset_and_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.compact import (
            compact_bucketed_target,
            compact_parquet,
        )
        from database_clonev2_spark.pipeline.merge import (
            incremental_append,
            merge_upsert_bucketed,
        )

        flat = str(tmp_path / "flat.parquet")
        spark.range(10).write.parquet(flat)
        with pytest.raises(ValueError, match="not a bucketed"):
            compact_bucketed_target(spark, flat)

        target = str(tmp_path / "sub.parquet")
        # one file per bucket from the merge, more from each append
        for wave in range(3):
            batch = spark.createDataFrame(
                [(i, wave) for i in range(wave * 40, wave * 40 + 40)], "id long, w long"
            )
            if wave == 0:
                merge_upsert_bucketed(spark, target, batch, ["id"], n_buckets=4)
            else:
                incremental_append(spark, batch, target, "id")
        fb = self._files_per_bucket(target)
        some = sorted(fb)[:2]
        res = compact_bucketed_target(spark, target, buckets=some)
        fa = self._files_per_bucket(target)
        assert all(fa[b] == 1 for b in some)
        untouched = [b for b in fb if b not in some]
        assert all(fa[b] == fb[b] for b in untouched)
        assert res["buckets_compacted"] == len(some)
        with pytest.raises(ValueError, match="do not exist"):
            compact_bucketed_target(spark, target, buckets=[99])
        # bucketed target still refused by the flat API
        with pytest.raises(ValueError, match="bucketed merge target"):
            compact_parquet(spark, target)


def test_stream_join_maintain_tagged_both_sides(spark, tmp_path):
    """Round 7: two live join sides through one union-tagged stream —
    same-epoch pairs join via the delta-x-delta term; cross-epoch pairs
    via the store terms."""
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.joinview import (
        maintain_join_view,
        read_join_view,
    )
    from database_clonev2_spark.streaming.sync import stream_join_maintain_tagged

    root = str(tmp_path / "jv")
    maintain_join_view(
        spark,
        root,
        ["k"],
        spark.createDataFrame([], "k long, lv string"),
        spark.createDataFrame([], "k long, rv long"),
        n_buckets=2,
        batch_id="bootstrap",
    )
    schema = T.StructType(
        [
            T.StructField("side", T.StringType(), True),
            T.StructField("k", T.LongType(), True),
            T.StructField("lv", T.StringType(), True),
            T.StructField("rv", T.LongType(), True),
        ]
    )
    src = tmp_path / "tagged"
    src.mkdir()
    ck = str(tmp_path / "ck")
    # epoch 1: left 1 + right 1 (same epoch), left 2 (waits)
    spark.createDataFrame(
        [("left", 1, "a", None), ("right", 1, None, 10), ("left", 2, "b", None)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    stream_join_maintain_tagged(stream, "side", root, ["k"], ck).awaitTermination()
    got = {
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, root).collect()
    }
    assert got == {(1, "a", 10)}
    # epoch 2: right 2 arrives -> cross-epoch pair completes
    spark.createDataFrame([("right", 2, None, 20)], schema).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    stream_join_maintain_tagged(stream2, "side", root, ["k"], ck).awaitTermination()
    got2 = {
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, root).collect()
    }
    assert got2 == {(1, "a", 10), (2, "b", 20)}


class TestJoinChangeFeed:
    """Round 7: the join view's per-epoch delta log — published inside
    the same commit, consumed by a downstream additive view with the
    same epoch ids for end-to-end exactly-once."""

    def test_changes_cover_view_and_compose_into_agg(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.joinview import (
            list_join_change_epochs,
            maintain_join_view,
            prune_join_changes,
            read_join_changes,
            read_join_view,
        )
        from database_clonev2_spark.pipeline.merge import (
            merge_additive_bucketed,
            read_additive_view,
        )

        root = str(tmp_path / "jv")
        agg = str(tmp_path / "agg")
        mk_l = lambda rows: spark.createDataFrame(rows, "k long, lv long")
        mk_r = lambda rows: spark.createDataFrame(rows, "k long, rv long")
        L = [(i % 7, i) for i in range(30)]
        R = [(i % 7, i * 10) for i in range(14)]

        folds = [
            dict(batch_left=mk_l(L[:10]), batch_right=mk_r(R[:7])),
            dict(batch_right=mk_r(R[7:])),
            dict(batch_left=mk_l(L[10:])),
            dict(batch_left=mk_l([])),  # empty delta still publishes
        ]
        for i, kw in enumerate(folds):
            res = maintain_join_view(
                spark, root, ["k"], n_buckets=4, batch_id=i, change_feed=True,
                **kw,
            )
            assert res["change_dir"] == f"epoch-{i}"
            # downstream: additive SUM over the join delta, SAME epoch id
            dv = read_join_changes(spark, root, [res["change_dir"]])
            merge_additive_bucketed(
                spark, agg, dv, ["k"], ["rv"], n_buckets=4, batch_id=i
            )
        # upstream replay no-ops BEFORE creating a change dir
        replay = maintain_join_view(
            spark, root, ["k"], batch_left=mk_l(L[10:]),
            n_buckets=4, batch_id=2, change_feed=True,
        )
        assert replay["applied"] is False
        assert list_join_change_epochs(root) == [f"epoch-{i}" for i in range(4)]

        # union of all change epochs == the view itself (delta log is
        # complete and duplicate-free)
        all_changes = read_join_changes(spark, root)
        assert sorted(map(tuple, all_changes.collect())) == sorted(
            map(tuple, read_join_view(spark, root).collect())
        )
        # composed agg == recompute over the final join
        want = {
            (r["k"], r["s"], r["n"])
            for r in read_join_view(spark, root)
            .groupBy("k")
            .agg(F.sum("rv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {
            (r["k"], r["rv"], r["_n"])
            for r in read_additive_view(spark, agg).collect()
        }
        assert got == want

        assert prune_join_changes(root, ["epoch-0", "epoch-1"]) == 2
        assert list_join_change_epochs(root) == ["epoch-2", "epoch-3"]
        with pytest.raises(ValueError, match="unknown change epochs"):
            read_join_changes(spark, root, ["epoch-0"]).collect()


class TestIvfIndex:
    """Round 7: persisted IVF index — full probe is EXACT (equals brute
    force), partial probe prunes the partitioned scan, appends are
    searchable without refit and leave other cells byte-identical."""

    K = 8

    def _brute_topk(self, spark, sf_dir, qids, top_k=5):
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from database_clonev2_spark.extensions.similarity import _as_double, cosine
        from database_clonev2_spark.io import load

        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("vec")
        )
        q = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
        )
        pairs = emb.crossJoin(F.broadcast(q)).where(
            F.col("vec_id") != F.col("qid")
        )
        w = W.partitionBy("qid").orderBy(
            cosine(F.col("qvec"), F.col("vec")).desc(), F.col("vec_id").asc()
        )
        return {
            (r["qid"], r["rk"]): r["vec_id"]
            for r in pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= top_k)
            .collect()
        }

    def test_full_probe_equals_brute_force(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.extensions.annindex import (
            build_ivf_index,
            ivf_index_search,
            read_ivf_meta,
        )
        from database_clonev2_spark.io import load

        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        meta = build_ivf_index(spark, emb, path, k=self.K)
        assert meta["n_vectors"] == emb.count()
        assert read_ivf_meta(path)["k"] == self.K

        qids = list(range(10))
        q = emb.filter(F.col("vec_id").isin(qids))
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_index_search(
                spark, path, q, n_probe=self.K, top_k=5
            ).collect()
        }
        assert got == self._brute_topk(spark, sf_dir, qids)

        # partial probe: SET-recall vs brute force must be monotone in
        # n_probe (the IVF dial) and reach 1.0 at full probe (asserted
        # exactly above); absolute recall is data-dependent (cosine
        # neighbors need not share euclidean cells), so the contract is
        # the ordering, as in the in-memory IVF tests
        brute = self._brute_topk(spark, sf_dir, qids)
        brute_sets = {}
        for (qid, _rk), nid in brute.items():
            brute_sets.setdefault(qid, set()).add(nid)

        def recall(n_probe):
            got_sets = {}
            for r in ivf_index_search(
                spark, path, q, n_probe=n_probe, top_k=5
            ).collect():
                got_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            hits = sum(
                len(got_sets.get(k_, set()) & s) for k_, s in brute_sets.items()
            )
            return hits / sum(len(s) for s in brute_sets.values())

        r1, r2 = recall(1), recall(2)
        assert 0 < r1 <= r2 <= 1.0, (r1, r2)

    def test_partition_pruning_and_append(self, spark, sf_dir, tmp_path):
        import os

        from pyspark.sql import functions as F

        from database_clonev2_spark.extensions.annindex import (
            append_ivf_index,
            build_ivf_index,
            ivf_index_search,
            read_ivf_meta,
        )
        from database_clonev2_spark.io import load

        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        build_ivf_index(spark, emb, path, k=self.K)

        # pruning: an isin() on a strict cell subset must reach the file
        # index — the scan lists files ONLY under the probed partitions
        vectors = os.path.join(path, "vectors")
        pruned = spark.read.parquet(vectors).where(F.col("cell").isin([0, 1]))
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pruned.explain(True)
        plan = buf.getvalue()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell" in pf[0], plan  # filter reached the file index
        # semantic confirmation: the pruned read equals reading ONLY the
        # two cell directories directly
        direct = spark.read.parquet(
            os.path.join(vectors, "cell=0"), os.path.join(vectors, "cell=1")
        )
        assert pruned.count() == direct.count() > 0

        # append: nearest-centroid assignment, no refit; a duplicate of
        # an existing vector must land in that vector's own cell and be
        # its top-1 neighbor afterward
        probe_src = emb.filter(F.col("vec_id") == 3).select(
            F.lit(100003).alias("vec_id"), F.col("embedding")
        )
        before = {}
        for d in os.listdir(vectors):
            if d.startswith("cell="):
                full = os.path.join(vectors, d)
                before[d] = sorted(os.listdir(full))
        res = append_ivf_index(spark, path, probe_src)
        assert res["appended"] == 1
        assert read_ivf_meta(path)["n_vectors"] == emb.count() + 1
        changed = []
        for d in os.listdir(vectors):
            if d.startswith("cell="):
                full = os.path.join(vectors, d)
                if sorted(os.listdir(full)) != before.get(d):
                    changed.append(d)
        assert len(changed) == 1  # exactly the assigned cell touched

        top = ivf_index_search(
            spark, path, emb.filter(F.col("vec_id") == 3), n_probe=1, top_k=1
        ).collect()
        assert len(top) == 1
        assert (top[0]["query_id"], top[0]["neighbor_id"]) == (3, 100003)
        assert top[0]["cos"] > 0.999999  # exact duplicate vector


def test_three_way_join_view_composes_via_change_feed(spark, tmp_path):
    """Round 7: (A JOIN B) JOIN C maintained incrementally by chaining
    views — the first view's change feed IS the second view's left-side
    delta stream, epoch ids carried through for end-to-end exactly-once.
    Final downstream state must equal the full 3-way re-join."""
    from database_clonev2_spark.pipeline.joinview import (
        maintain_join_view,
        read_join_changes,
        read_join_view,
    )

    r1 = str(tmp_path / "ab")
    r2 = str(tmp_path / "abc")
    mk_a = lambda rows: spark.createDataFrame(rows, "k1 long, av long")
    mk_b = lambda rows: spark.createDataFrame(rows, "k1 long, bv long, k2 long")
    mk_c = lambda rows: spark.createDataFrame(rows, "k2 long, cv long")

    A = [(i % 5, i) for i in range(20)]
    B = [(i % 5, i * 10, i % 3) for i in range(10)]
    C = [(i, i * 100) for i in range(3)]

    # epoch 0: bootstrap both views
    maintain_join_view(
        spark, r1, ["k1"], mk_a(A[:8]), mk_b(B[:4]),
        n_buckets=4, batch_id=0, change_feed=True,
    )
    dv0 = read_join_changes(spark, r1, ["epoch-0"])
    maintain_join_view(
        spark, r2, ["k2"], dv0, mk_c(C[:2]), n_buckets=4, batch_id=0
    )
    # epoch 1: A-side delta ripples through both views
    maintain_join_view(
        spark, r1, ["k1"], batch_left=mk_a(A[8:]),
        n_buckets=4, batch_id=1, change_feed=True,
    )
    maintain_join_view(
        spark, r2, ["k2"],
        batch_left=read_join_changes(spark, r1, ["epoch-1"]),
        n_buckets=4, batch_id=1,
    )
    # epoch 2: B-side delta upstream + C-side delta downstream, one epoch
    maintain_join_view(
        spark, r1, ["k1"], batch_right=mk_b(B[4:]),
        n_buckets=4, batch_id=2, change_feed=True,
    )
    maintain_join_view(
        spark, r2, ["k2"],
        batch_left=read_join_changes(spark, r1, ["epoch-2"]),
        batch_right=mk_c(C[2:]),
        n_buckets=4, batch_id=2,
    )
    # replayed upstream epoch: no change dir re-emitted, downstream no-ops
    rep = maintain_join_view(
        spark, r1, ["k1"], batch_right=mk_b(B[4:]),
        n_buckets=4, batch_id=2, change_feed=True,
    )
    assert rep["applied"] is False
    rep2 = maintain_join_view(
        spark, r2, ["k2"],
        batch_left=read_join_changes(spark, r1, ["epoch-2"]),
        n_buckets=4, batch_id=2,
    )
    assert rep2["applied"] is False

    want = sorted(
        map(
            tuple,
            mk_a(A)
            .join(mk_b(B), "k1")
            .join(mk_c(C), "k2")
            .select("k2", "k1", "av", "bv", "cv")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            read_join_view(spark, r2).select("k2", "k1", "av", "bv", "cv").collect(),
        )
    )
    assert got == want and len(got) > 0


class TestUpsertChangeFeed:
    """Round 7: CDC from the upsert merge — per-epoch insert/update
    classification, losers of the version competition emit nothing,
    replays re-emit nothing."""

    def test_classification_and_exactly_once(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            list_merge_changes,
            merge_upsert_bucketed,
            prune_merge_changes,
            read_merge_changes,
        )

        target = str(tmp_path / "cdc.parquet")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")

        res0 = merge_upsert_bucketed(
            spark, target, mk([(1, "a", 1), (2, "b", 1)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=0,
        )
        assert res0["change_dir"] == "epoch-0"
        # epoch 1: update 1 (newer), insert 3, LOSE on 2 (older version),
        # and a no-op rewrite of 1's... (2, old) must emit nothing
        merge_upsert_bucketed(
            spark, target, mk([(1, "A", 2), (2, "OLD", 0), (3, "c", 1)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=1,
        )
        # epoch 2: identical re-send of key 3 — payload unchanged, no emit
        merge_upsert_bucketed(
            spark, target, mk([(3, "c", 1)]), ["id"], n_buckets=4,
            order_col="ver", change_feed=True, batch_id=2,
        )
        feed = {
            e: sorted(
                (r["id"], r["v"], r["change_type"])
                for r in read_merge_changes(spark, target, [e]).collect()
            )
            for e in list_merge_changes(target)
        }
        assert feed == {
            "epoch-0": [(1, "a", "insert"), (2, "b", "insert")],
            "epoch-1": [
                (1, "A", "update_postimage"),
                (1, "a", "update_preimage"),
                (3, "c", "insert"),
            ],
            "epoch-2": [],
        }
        # replayed epoch: merge skipped, nothing re-emitted
        rep = merge_upsert_bucketed(
            spark, target, mk([(1, "GHOST", 9)]), ["id"], n_buckets=4,
            order_col="ver", change_feed=True, batch_id=1,
        )
        assert rep == {"applied": False, "batch_id": 1, "reason": "already_applied"}
        assert list_merge_changes(target) == ["epoch-0", "epoch-1", "epoch-2"]
        got = {
            r["id"]: r["v"]
            for r in read_merge_changes(spark, target).collect()
            if r["change_type"] == "update_postimage"
        }
        assert got == {1: "A"}

        assert prune_merge_changes(target, ["epoch-0"]) == 1
        assert list_merge_changes(target) == ["epoch-1", "epoch-2"]
        with pytest.raises(ValueError, match="needs a batch_id"):
            merge_upsert_bucketed(
                spark, target, mk([(9, "x", 1)]), ["id"], n_buckets=4,
                change_feed=True,
            )

    def test_signed_fold_tracks_current_state(self, spark, tmp_path):
        """Pre/post image pairs retract: after folding every epoch the
        additive view equals GROUP BY over the target's final state,
        including a key whose group MOVES (retraction in one group,
        insertion in another) and a group that empties to _n=0."""
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.merge import (
            fold_changes_additive,
            merge_upsert_bucketed,
            read_additive_view,
            read_merge_target,
        )

        target = str(tmp_path / "t.parquet")
        view = str(tmp_path / "v.parquet")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, amt long, ver long"
        )
        merge_upsert_bucketed(
            spark, target,
            mk([(1, "a", 10, 1), (2, "a", 20, 1), (3, "b", 5, 1)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=0,
        )
        # id 1 moves a->c (group change), id 3 re-priced within b
        merge_upsert_bucketed(
            spark, target, mk([(1, "c", 11, 2), (3, "b", 7, 2)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=1,
        )
        # id 2 moves away too: group a empties entirely
        merge_upsert_bucketed(
            spark, target, mk([(2, "c", 21, 2)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=2,
        )
        fold_changes_additive(spark, view, target, ["grp"], ["amt"], n_buckets=2)
        got = {
            r["grp"]: (r["amt"], r["_n"])
            for r in read_additive_view(spark, view).collect()
        }
        # group a emptied: zero state row stays (read through _n != 0)
        assert got == {"a": (0, 0), "b": (7, 1), "c": (11 + 21, 2)}
        want = {
            (r["grp"], r["amt"], r["_n"])
            for r in read_merge_target(spark, target)
            .groupBy("grp")
            .agg(F.sum("amt").alias("amt"), F.count("*").alias("_n"))
            .collect()
        }
        live = {
            (g, a, n) for g, (a, n) in got.items() if n != 0
        }
        assert live == want

    def test_weight_col_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            fold_changes_additive,
            merge_additive_bucketed,
            merge_upsert_bucketed,
        )

        df = spark.createDataFrame([(1, 2, 1)], "k long, v long, _w long")
        with pytest.raises(ValueError, match="cannot be combined"):
            merge_additive_bucketed(
                spark, str(tmp_path / "x"), df, ["k"], ["v"],
                weight_col="_w", min_cols=["v"],
            )
        with pytest.raises(ValueError, match="also be a sum col"):
            merge_additive_bucketed(
                spark, str(tmp_path / "x"), df, ["k"], ["v", "_w"],
                weight_col="_w",
            )
        # unknown change_type must raise, not silently drop (SUM skips
        # NULL weights — the corruption the probe exists to prevent)
        target = str(tmp_path / "t.parquet")
        merge_upsert_bucketed(
            spark, target,
            spark.createDataFrame([(1, "a", 10)], "id long, grp string, amt long"),
            ["id"], n_buckets=2, change_feed=True, batch_id=0,
        )
        import os

        bogus = os.path.join(target, "_changes", "epoch-9")
        spark.createDataFrame(
            [(9, "z", 1, "upsert")],
            "id long, grp string, amt long, change_type string",
        ).write.parquet(bogus)
        with pytest.raises(ValueError, match="unknown change_type"):
            fold_changes_additive(
                spark, str(tmp_path / "v"), target, ["grp"], ["amt"],
                epochs=["epoch-9"], n_buckets=2,
            )

    def test_without_feed_behavior_unchanged(self, spark, tmp_path):
        import os

        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "plain.parquet")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
        merge_upsert_bucketed(spark, target, mk([(1, "a")]), ["id"], n_buckets=2)
        res = merge_upsert_bucketed(
            spark, target, mk([(1, "b"), (2, "c")]), ["id"], n_buckets=2
        )
        assert "change_dir" not in res and "applied" not in res
        assert not os.path.isdir(os.path.join(target, "_changes"))
        assert not os.path.exists(os.path.join(target, "_applied_batches.json"))
        got = {r["id"]: r["v"] for r in read_merge_target(spark, target).collect()}
        assert got == {1: "b", 2: "c"}


def test_streamed_clone_change_feed_drives_downstream_view(spark, tmp_path):
    """Round 7 capstone: streamed clone target (upsert + CDC with pre/
    post images) feeds a downstream additive view by tailing the change
    epochs with signed folds — the downstream view tracks the CLONE'S
    CURRENT STATE (updates retract their old contribution), the full
    continuous pipeline exactly-once at every tier."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.merge import (
        fold_changes_additive,
        list_merge_changes,
        read_additive_view,
        read_merge_target,
    )
    from database_clonev2_spark.streaming.sync import stream_merge_into

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("grp", T.LongType(), True),
            T.StructField("amt", T.LongType(), True),
            T.StructField("ver", T.LongType(), True),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "clone.parquet")
    agg = str(tmp_path / "agg.parquet")
    ck = str(tmp_path / "ck")

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_merge_into(
            stream, target, ["id"], ck, order_col="ver", n_buckets=4,
            change_feed=True,
        ).awaitTermination()

    run_wave([(1, 0, 10, 1), (2, 1, 20, 1)])
    run_wave([(1, 0, 15, 2), (3, 0, 30, 1), (2, 1, 99, 0)])  # ver 0 loses

    epochs = list_merge_changes(target)
    assert epochs == ["epoch-0", "epoch-1"]
    # downstream: per-group SUM/COUNT of the clone's CURRENT state,
    # maintained from the signed change stream alone
    fold_changes_additive(spark, agg, target, ["grp"], ["amt"], n_buckets=2)
    got = {
        r["grp"]: (r["amt"], r["_n"])
        for r in read_additive_view(spark, agg).collect()
    }
    # epoch-0: (1,+10),(2,+20) inserts; epoch-1: id 1 update retracts 10
    # and adds 15, (3,+30) insert; the ver-0 re-send of id 2 changed
    # nothing -> no change rows. Net view == GROUP BY over final state.
    assert got == {0: (15 + 30, 2), 1: (20, 1)}
    # re-folding consumed epochs must no-op (epoch-name batch ledger)
    res = fold_changes_additive(
        spark, agg, target, ["grp"], ["amt"], n_buckets=2
    )
    assert all(r["applied"] is False for r in res)
    clone = {
        r["id"]: (r["amt"], r["ver"])
        for r in read_merge_target(spark, target).collect()
    }
    assert clone == {1: (15, 2), 2: (20, 1), 3: (30, 1)}
    view = {
        (r["grp"], r["amt"], r["_n"])
        for r in read_merge_target(spark, target)
        .groupBy("grp")
        .agg(F.sum("amt").alias("amt"), F.count("*").alias("_n"))
        .collect()
    }
    assert view == {(g, a, n) for g, (a, n) in got.items()}


class TestDeleteBucketed:
    """Round 7: the bucketed DELETE verb — partition-pruned removal,
    CDC 'delete' preimages the signed fold retracts, exactly-once
    replay, and survival of fully-emptied buckets/targets."""

    @staticmethod
    def _seed(spark, target, n_buckets=4):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        rows = [(i, "a" if i % 2 else "b", 10 * i, 1) for i in range(1, 21)]
        df = spark.createDataFrame(rows, "id long, grp string, amt long, ver long")
        merge_upsert_bucketed(
            spark, target, df, ["id"], n_buckets=n_buckets, order_col="ver"
        )
        return {r[0]: (r[1], r[2]) for r in rows}

    def test_delete_counts_and_pruning(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "t.parquet")
        want = self._seed(spark, target)
        keys = spark.createDataFrame([(3,), (7,), (999,)], "id long")
        res = merge_delete_bucketed(spark, target, keys, ["id"], n_buckets=4)
        assert res["deleted"] == 2  # 999 never existed
        assert res["touched_buckets"] <= 3
        for k in (3, 7):
            want.pop(k)
        got = {
            r["id"]: (r["grp"], r["amt"])
            for r in read_merge_target(spark, target).collect()
        }
        assert got == want

    def test_delete_feed_fold_and_replay(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.merge import (
            fold_changes_additive,
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_additive_view,
            read_merge_changes,
            read_merge_target,
        )

        target = str(tmp_path / "t.parquet")
        view = str(tmp_path / "v.parquet")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp string, amt long, ver long"
        )
        merge_upsert_bucketed(
            spark, target, mk([(1, "a", 10, 1), (2, "a", 20, 1), (3, "b", 5, 1)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=0,
        )
        res = merge_delete_bucketed(
            spark, target, spark.createDataFrame([(2,)], "id long"), ["id"],
            n_buckets=4, change_feed=True, batch_id=1,
        )
        assert res["deleted"] == 1 and res["change_dir"] == "epoch-1"
        ch = [
            (r["id"], r["grp"], r["amt"], r["change_type"])
            for r in read_merge_changes(spark, target, ["epoch-1"]).collect()
        ]
        assert ch == [(2, "a", 20, "delete")]  # full deleted payload
        # replayed delete epoch: no-op, nothing re-emitted
        rep = merge_delete_bucketed(
            spark, target, spark.createDataFrame([(1,)], "id long"), ["id"],
            n_buckets=4, change_feed=True, batch_id=1,
        )
        assert rep == {"applied": False, "batch_id": 1, "reason": "already_applied"}
        assert read_merge_target(spark, target).count() == 2
        # downstream signed fold retracts the deleted contribution
        fold_changes_additive(spark, view, target, ["grp"], ["amt"], n_buckets=2)
        got = {
            r["grp"]: (r["amt"], r["_n"])
            for r in read_additive_view(spark, view).collect()
        }
        assert got == {"a": (10, 1), "b": (5, 1)}
        want = {
            (r["grp"], r["amt"], r["_n"])
            for r in read_merge_target(spark, target)
            .groupBy("grp")
            .agg(F.sum("amt").alias("amt"), F.count("*").alias("_n"))
            .collect()
        }
        assert {(g, a, n) for g, (a, n) in got.items()} == want

    def test_delete_empties_bucket_and_whole_target(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "t.parquet")
        self._seed(spark, target)
        all_keys = spark.createDataFrame([(i,) for i in range(1, 21)], "id long")
        res = merge_delete_bucketed(spark, target, all_keys, ["id"], n_buckets=4)
        assert res["deleted"] == 20 and res["after_touched"] == 0
        # fully-emptied target still reads, with its real schema
        empty = read_merge_target(spark, target)
        assert empty.count() == 0
        assert empty.columns == ["id", "grp", "amt", "ver"]
        # and keeps accepting merges afterwards
        merge_upsert_bucketed(
            spark, target,
            spark.createDataFrame(
                [(42, "z", 1, 1)], "id long, grp string, amt long, ver long"
            ),
            ["id"], n_buckets=4, order_col="ver",
        )
        assert read_merge_target(spark, target).count() == 1

    def test_delete_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_delete_bucketed

        keys = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="does not exist"):
            merge_delete_bucketed(
                spark, str(tmp_path / "nope"), keys, ["id"], n_buckets=4
            )
        target = str(tmp_path / "t.parquet")
        self._seed(spark, target)
        with pytest.raises(ValueError, match="needs a batch_id"):
            merge_delete_bucketed(
                spark, target, keys, ["id"], n_buckets=4, change_feed=True
            )
        with pytest.raises(ValueError, match="layout mismatch"):
            merge_delete_bucketed(spark, target, keys, ["id"], n_buckets=8)


class TestReplicaChaining:
    """Round 7: applying a target's CDC feed to a second bucketed
    target reproduces it row-for-row — the chained-clone topology where
    each hop ships only per-epoch changed rows."""

    def test_replica_converges_and_resumes(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
            sync_replica_from_changes,
        )

        src = str(tmp_path / "src.parquet")
        rep = str(tmp_path / "rep.parquet")
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, v string, ver long"
        )

        def state(path):
            return sorted(
                (r["id"], r["v"], r["ver"])
                for r in read_merge_target(spark, path).collect()
            )

        # 12 epochs so natural ordering matters (epoch-10 after epoch-9);
        # each epoch upserts a sliding window and deletes a trailing key
        eid = 0
        for i in range(11):
            merge_upsert_bucketed(
                spark, src, mk([(k, f"v{k}@{i}", i) for k in range(i, i + 4)]),
                ["id"], n_buckets=4, order_col="ver",
                change_feed=True, batch_id=eid,
            )
            eid += 1
        merge_delete_bucketed(
            spark, src, spark.createDataFrame([(0,), (1,)], "id long"),
            ["id"], n_buckets=4, change_feed=True, batch_id=eid,
        )
        eid += 1
        res = sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
        assert len(res) == 12
        assert state(rep) == state(src)
        # more epochs, incremental catch-up applies only the new ones
        merge_upsert_bucketed(
            spark, src, mk([(2, "rewritten", 99), (50, "new", 1)]),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=eid,
        )
        res2 = sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
        assert len(res2) == 1 and res2[0]["upserted"] == 2
        assert state(rep) == state(src)
        # fully caught up: a third sync applies nothing
        assert sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4) == []

    def test_apply_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import apply_merge_changes

        mkch = lambda rows: spark.createDataFrame(
            rows, "id long, v string, change_type string"
        )
        rep = str(tmp_path / "rep.parquet")
        with pytest.raises(ValueError, match="insert-only"):
            apply_merge_changes(
                spark, rep, mkch([(1, "a", "delete")]), ["id"], n_buckets=2
            )
        apply_merge_changes(
            spark, rep, mkch([(1, "a", "insert")]), ["id"],
            n_buckets=2, batch_id="e0",
        )
        with pytest.raises(ValueError, match="unknown change_type"):
            apply_merge_changes(
                spark, rep, mkch([(1, "a", "upsert")]), ["id"], n_buckets=2
            )
        with pytest.raises(ValueError, match="one epoch"):
            apply_merge_changes(
                spark, rep,
                mkch([(1, "a", "insert"), (1, "b", "update_postimage")]),
                ["id"], n_buckets=2,
            )
        with pytest.raises(ValueError, match="replica lacks"):
            apply_merge_changes(
                spark, rep,
                spark.createDataFrame(
                    [(2, "b", 7, "insert")],
                    "id long, v string, extra long, change_type string",
                ),
                ["id"], n_buckets=2,
            )
        # replayed epoch no-ops atomically
        out = apply_merge_changes(
            spark, rep, mkch([(9, "x", "insert")]), ["id"],
            n_buckets=2, batch_id="e0",
        )
        assert out == {"applied": False, "batch_id": "e0", "reason": "already_applied"}


def test_stream_apply_cdc_replicates_with_intra_batch_resolution(spark, tmp_path):
    """Round 7: the streaming face of replica application — a CDC row
    stream (with several changes per key inside one micro-batch,
    resolved by order_col) continuously maintains a bucketed replica;
    restart-safe via the epoch ledger."""
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.merge import read_merge_target
    from database_clonev2_spark.streaming.sync import stream_apply_cdc

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
            T.StructField("ver", T.LongType(), True),
            T.StructField("change_type", T.StringType(), True),
        ]
    )
    src = tmp_path / "cdc_src"
    src.mkdir()
    rep = str(tmp_path / "rep.parquet")
    ck = str(tmp_path / "ck")

    def wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_apply_cdc(
            stream, rep, ["id"], ck, order_col="ver", n_buckets=4
        ).awaitTermination()

    # wave 1: creation (inserts only; a preimage row must be ignored)
    wave(
        [
            (1, "a", 1, "insert"),
            (2, "b", 1, "insert"),
            (2, "OLD", 0, "update_preimage"),
        ]
    )
    got = {r["id"]: (r["v"], r["ver"]) for r in read_merge_target(spark, rep).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1)}
    # wave 2: several changes per key in one batch — update then delete
    # wins on id 1 (higher ver), delete then re-insert wins on id 2
    wave(
        [
            (1, "a2", 2, "update_postimage"),
            (1, "a2", 3, "delete"),
            (2, "b", 2, "delete"),
            (2, "b3", 3, "insert"),
            (3, "c", 1, "insert"),
        ]
    )
    got = {r["id"]: (r["v"], r["ver"]) for r in read_merge_target(spark, rep).collect()}
    assert got == {2: ("b3", 3), 3: ("c", 1)}


def test_fully_streaming_cdc_chain(spark, tmp_path):
    """Round 7: the whole chain as STREAMS — a streamed clone publishing
    CDC, a file stream tailing its _changes/ dir (new epoch dirs are
    discovered on the next micro-batch), and a streamed replica applying
    them with _epoch as the synthetic resolution order. Two waves prove
    continuous tailing: the second run picks up only the new epochs."""
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.merge import (
        read_merge_changes_stream,
        read_merge_target,
    )
    from database_clonev2_spark.streaming.sync import (
        stream_apply_cdc,
        stream_merge_into,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
            T.StructField("ver", T.LongType(), True),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    clone = str(tmp_path / "clone.parquet")
    rep = str(tmp_path / "rep.parquet")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    def source_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_merge_into(
            stream, clone, ["id"], ck1, order_col="ver", n_buckets=4,
            change_feed=True,
        ).awaitTermination()

    def replicate():
        changes = read_merge_changes_stream(spark, clone)
        stream_apply_cdc(
            changes, rep, ["id"], ck2, order_col="_epoch", n_buckets=4,
            drop_order_col=True,
        ).awaitTermination()

    def state(path):
        return sorted(
            (r["id"], r["v"], r["ver"])
            for r in read_merge_target(spark, path).collect()
        )

    source_wave([(1, "a", 1), (2, "b", 1)])
    replicate()
    assert state(rep) == state(clone) == [(1, "a", 1), (2, "b", 1)]
    # second wave: an update + an insert flow through both hops; the
    # replica's columns stay exactly the clone's (no _epoch leak)
    source_wave([(1, "a2", 2), (3, "c", 1)])
    replicate()
    assert state(rep) == state(clone) == [
        (1, "a2", 2), (2, "b", 1), (3, "c", 1),
    ]
    assert read_merge_target(spark, rep).columns == ["id", "v", "ver"]
    # a LATE-joining replica catches up in ONE micro-batch: both epochs
    # concatenate, id 1 appears twice (insert then postimage) and must
    # resolve to the highest _epoch — through the creation path
    rep2, ck3 = str(tmp_path / "rep2.parquet"), str(tmp_path / "ck3")
    stream_apply_cdc(
        read_merge_changes_stream(spark, clone), rep2, ["id"], ck3,
        order_col="_epoch", n_buckets=4, drop_order_col=True,
    ).awaitTermination()
    assert state(rep2) == state(clone)


class TestScd2Fold:
    """Round 7: SCD-2 history maintained from the change feed — version
    validity in epochs, open slice == current state, as-of-epoch
    reconstruction, exactly-once folds."""

    def _build_source(self, spark, src):
        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            merge_upsert_bucketed,
        )

        mk = lambda rows: spark.createDataFrame(
            rows, "id long, v string, ver long"
        )
        merge_upsert_bucketed(  # epoch 0: insert a, b
            spark, src, mk([(1, "a", 1), (2, "b", 1)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=0,
        )
        merge_upsert_bucketed(  # epoch 1: update a->a2, insert c
            spark, src, mk([(1, "a2", 2), (3, "c", 1)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=1,
        )
        merge_delete_bucketed(  # epoch 2: delete b
            spark, src, spark.createDataFrame([(2,)], "id long"), ["id"],
            n_buckets=4, change_feed=True, batch_id=2,
        )
        merge_upsert_bucketed(  # epoch 3: re-insert b (new incarnation)
            spark, src, mk([(2, "b2", 9)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=3,
        )

    def test_versions_validity_and_asof(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import read_merge_target
        from database_clonev2_spark.pipeline.scd2 import (
            fold_changes_scd2,
            read_scd2_history,
        )

        src = str(tmp_path / "src.parquet")
        hist = str(tmp_path / "hist.parquet")
        self._build_source(spark, src)
        res = fold_changes_scd2(spark, hist, src, ["id"], n_buckets=4)
        assert len(res) == 4
        rows = sorted(
            (r["id"], r["v"], r["_from_epoch"], r["_to_epoch"])
            for r in read_scd2_history(spark, hist).collect()
        )
        assert rows == [
            (1, "a", 0, 1),      # closed by the update, versions abut
            (1, "a2", 1, None),
            (2, "b", 0, 2),      # closed by the delete...
            (2, "b2", 3, None),  # ...re-insert leaves an honest gap
            (3, "c", 1, None),
        ]
        # open slice == source current state
        cur = sorted(
            (r["id"], r["v"])
            for r in read_scd2_history(spark, hist, current_only=True).collect()
        )
        src_state = sorted(
            (r["id"], r["v"])
            for r in read_merge_target(spark, src).collect()
        )
        assert cur == src_state
        # as-of reconstruction at every epoch
        asof = lambda e: sorted(
            (r["id"], r["v"])
            for r in read_scd2_history(spark, hist, as_of_epoch=e).collect()
        )
        assert asof(0) == [(1, "a"), (2, "b")]
        assert asof(1) == [(1, "a2"), (2, "b"), (3, "c")]
        assert asof(2) == [(1, "a2"), (3, "c")]
        assert asof(3) == [(1, "a2"), (2, "b2"), (3, "c")]
        # replay: everything applied, nothing re-folds
        assert fold_changes_scd2(spark, hist, src, ["id"], n_buckets=4) == []

    def test_incremental_and_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed
        from database_clonev2_spark.pipeline.scd2 import (
            fold_changes_scd2,
            read_scd2_history,
        )

        src = str(tmp_path / "src.parquet")
        hist = str(tmp_path / "hist.parquet")
        self._build_source(spark, src)
        fold_changes_scd2(spark, hist, src, ["id"], n_buckets=4)
        # a new source epoch folds incrementally
        merge_upsert_bucketed(
            spark, src,
            spark.createDataFrame([(3, "c2", 2)], "id long, v string, ver long"),
            ["id"], n_buckets=4, order_col="ver",
            change_feed=True, batch_id=4,
        )
        res = fold_changes_scd2(spark, hist, src, ["id"], n_buckets=4)
        assert len(res) == 1 and res[0] == {
            "opened": 1, "closed": 1, "touched_buckets": res[0]["touched_buckets"]
        }
        c3 = sorted(
            (r["v"], r["_from_epoch"], r["_to_epoch"])
            for r in read_scd2_history(spark, hist)
            .where("id = 3")
            .collect()
        )
        assert c3 == [("c", 1, 4), ("c2", 4, None)]
        # at most one open version per key — the structural invariant
        from pyspark.sql import functions as F

        open_counts = (
            read_scd2_history(spark, hist, current_only=True)
            .groupBy("id").count().where("count > 1").count()
        )
        assert open_counts == 0
        # non-numeric epoch ids are un-orderable -> refuse
        with pytest.raises(ValueError, match="numeric epoch ids"):
            fold_changes_scd2(
                spark, str(tmp_path / "h2"), src, ["id"],
                epochs=["epoch-x"], n_buckets=4,
            )


def test_prune_consumed_changes_respects_laggards(spark, tmp_path):
    """Round 7 retention: only epochs applied by EVERY consumer prune;
    a lagging consumer keeps its catch-up window intact."""
    from database_clonev2_spark.pipeline.merge import (
        fold_changes_additive,
        list_merge_changes,
        merge_upsert_bucketed,
        prune_consumed_changes,
        sync_replica_from_changes,
    )

    src = str(tmp_path / "src.parquet")
    rep = str(tmp_path / "rep.parquet")
    view = str(tmp_path / "view.parquet")
    mk = lambda rows: spark.createDataFrame(rows, "id long, amt long, ver long")
    for e in range(3):
        merge_upsert_bucketed(
            spark, src, mk([(e + 1, 10 * (e + 1), 1)]), ["id"],
            n_buckets=2, order_col="ver", change_feed=True, batch_id=e,
        )
    sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=2)  # all 3
    fold_changes_additive(  # laggard: only the first two epochs
        spark, view, src, ["id"], ["amt"],
        epochs=["epoch-0", "epoch-1"], n_buckets=2,
    )
    pruned = prune_consumed_changes(src, [rep, view])
    assert pruned == ["epoch-0", "epoch-1"]
    assert list_merge_changes(src) == ["epoch-2"]
    # the laggard catches up from what remains, then the rest prunes
    fold_changes_additive(spark, view, src, ["id"], ["amt"], n_buckets=2)
    assert prune_consumed_changes(src, [rep, view]) == ["epoch-2"]
    assert list_merge_changes(src) == []
    # a brand-new consumer with an empty ledger blocks all pruning
    assert prune_consumed_changes(src, [rep, str(tmp_path / "nothing")]) == []


def test_stream_scd2_maintain_folds_epochs_in_order(spark, tmp_path):
    """Round 7: streaming SCD-2 — a catch-up micro-batch spanning three
    feed epochs (including an update chain on one key) folds per epoch
    in order; a second wave continues the history incrementally."""
    from database_clonev2_spark.pipeline.merge import (
        merge_delete_bucketed,
        merge_upsert_bucketed,
        read_merge_changes_stream,
    )
    from database_clonev2_spark.pipeline.scd2 import read_scd2_history
    from database_clonev2_spark.streaming.sync import stream_scd2_maintain

    src = str(tmp_path / "src.parquet")
    hist = str(tmp_path / "hist.parquet")
    ck = str(tmp_path / "ck")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
    merge_upsert_bucketed(
        spark, src, mk([(1, "a", 1), (2, "b", 1)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=0,
    )
    merge_upsert_bucketed(
        spark, src, mk([(1, "a2", 2)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=1,
    )
    merge_delete_bucketed(
        spark, src, spark.createDataFrame([(2,)], "id long"), ["id"],
        n_buckets=2, change_feed=True, batch_id=2,
    )

    def run():
        stream_scd2_maintain(
            read_merge_changes_stream(spark, src), hist, ["id"], ck,
            n_buckets=2,
        ).awaitTermination()

    run()  # one availableNow batch containing all three epochs
    rows = sorted(
        (r["id"], r["v"], r["_from_epoch"], r["_to_epoch"])
        for r in read_scd2_history(spark, hist).collect()
    )
    assert rows == [
        (1, "a", 0, 1), (1, "a2", 1, None), (2, "b", 0, 2),
    ]
    # second wave through the SAME checkpoint picks up only the new epoch
    merge_upsert_bucketed(
        spark, src, mk([(1, "a3", 3)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=3,
    )
    run()
    rows = sorted(
        (r["id"], r["v"], r["_from_epoch"], r["_to_epoch"])
        for r in read_scd2_history(spark, hist).collect()
    )
    assert rows == [
        (1, "a", 0, 1), (1, "a2", 1, 3), (1, "a3", 3, None), (2, "b", 0, 2),
    ]


def test_verify_replica_localizes_divergence(spark, tmp_path):
    """Round 7: per-bucket checksum verification — a synced replica
    matches; corrupting one key diverges EXACTLY its bucket."""
    from database_clonev2_spark.pipeline._buckets import with_bucket
    from database_clonev2_spark.pipeline.merge import (
        merge_delete_bucketed,
        merge_upsert_bucketed,
        sync_replica_from_changes,
        verify_replica,
    )

    src = str(tmp_path / "src.parquet")
    rep = str(tmp_path / "rep.parquet")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
    merge_upsert_bucketed(
        spark, src, mk([(i, f"n{i}", 1) for i in range(1, 41)]), ["id"],
        n_buckets=4, order_col="ver", change_feed=True, batch_id=0,
    )
    sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
    res = verify_replica(spark, src, rep)
    assert res["match"] is True and res["diverged"] == []
    assert res["source_rows"] == res["replica_rows"] == 40
    # corrupt the replica: remove one key locally (no feed involvement)
    victim = 7
    merge_delete_bucketed(
        spark, rep, spark.createDataFrame([(victim,)], "id long"), ["id"],
        n_buckets=4,
    )
    want_bucket = with_bucket(
        spark.createDataFrame([(victim,)], "id long"), ["id"], 4
    ).first()["_bucket"]
    res = verify_replica(spark, src, rep)
    assert res["match"] is False and res["diverged"] == [want_bucket]
    # repair copies ONLY the diverged bucket; the pair matches again
    from database_clonev2_spark.pipeline.merge import repair_replica

    rr = repair_replica(spark, src, rep, res["diverged"])
    assert rr["repaired_buckets"] == 1 and rr["rows_copied"] >= 1
    res = verify_replica(spark, src, rep)
    assert res["match"] is True and res["replica_rows"] == 40
    # mismatched layouts refuse rather than mis-compare
    other = str(tmp_path / "other.parquet")
    merge_upsert_bucketed(
        spark, other, mk([(1, "x", 1)]), ["id"], n_buckets=8, order_col="ver"
    )
    with pytest.raises(ValueError, match="layout mismatch"):
        verify_replica(spark, src, other)
    with pytest.raises(ValueError, match="layout mismatch"):
        repair_replica(spark, src, other, [0])
    with pytest.raises(ValueError, match="out of range"):
        repair_replica(spark, src, rep, [99])


def test_validated_stream_publishes_clean_only_feed(spark, tmp_path):
    """Round 7: the DQ-gated streaming clone publishes CDC too — only
    CLEAN rows reach the target AND the feed; a downstream fold over
    the feed matches the gated target exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from database_clonev2_spark.pipeline.merge import (
        fold_changes_additive,
        read_additive_view,
        read_merge_changes,
        read_merge_target,
    )
    from database_clonev2_spark.streaming.sync import stream_merge_validated

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("grp", T.StringType(), True),
            T.StructField("amt", T.LongType(), True),
            T.StructField("ver", T.LongType(), True),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "t.parquet")
    quarantine = str(tmp_path / "q.parquet")
    view = str(tmp_path / "v.parquet")
    ck = str(tmp_path / "ck")

    rows = [
        (1, "a", 10, 1),
        (2, "a", -5, 1),   # violates amt >= 0 -> quarantined
        (3, "b", 7, 1),
        (4, None, 9, 1),   # violates grp IS NOT NULL -> quarantined
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    stream_merge_validated(
        stream, target, ["id"], ck,
        constraints=[("amt_nonneg", "amt >= 0"), ("grp_present", "grp IS NOT NULL")],
        quarantine_path=quarantine, order_col="ver", n_buckets=2,
        change_feed=True,
    ).awaitTermination()

    assert {r["id"] for r in read_merge_target(spark, target).collect()} == {1, 3}
    feed_ids = {
        r["id"] for r in read_merge_changes(spark, target).collect()
    }
    assert feed_ids == {1, 3}  # quarantined rows never reached the feed
    from database_clonev2_spark.streaming.sync import read_quarantine

    q = {r["id"]: r["_violation"] for r in read_quarantine(spark, quarantine).collect()}
    assert q == {2: "amt_nonneg", 4: "grp_present"}
    fold_changes_additive(spark, view, target, ["grp"], ["amt"], n_buckets=2)
    got = {
        r["grp"]: (r["amt"], r["_n"])
        for r in read_additive_view(spark, view).collect()
    }
    assert got == {"a": (10, 1), "b": (7, 1)}
    # replay the whole source through a FRESH checkpoint: the merge
    # no-ops idempotently and the quarantine epoch is OVERWRITTEN with
    # identical content — exactly-once on the reject side too
    stream_merge_validated(
        spark.readStream.schema(schema).parquet(str(src)),
        target, ["id"], str(tmp_path / "ck2"),
        constraints=[("amt_nonneg", "amt >= 0"), ("grp_present", "grp IS NOT NULL")],
        quarantine_path=quarantine, order_col="ver", n_buckets=2,
    ).awaitTermination()
    assert read_quarantine(spark, quarantine).count() == 2  # no duplicates


def test_sync_database_replicas_concurrent_continue_on_error(spark, tmp_path):
    """Round 7: database-level CDC catch-up — three tables sync
    concurrently; a table with a poisoned replica reports its error
    while the others converge (continue-on-error, the reference's
    per-table loop discipline)."""
    from database_clonev2_spark.pipeline.merge import (
        merge_upsert_bucketed,
        read_merge_target,
        sync_database_replicas,
        verify_replica,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
    pairs = {}
    for t in ("alpha", "beta", "gamma"):
        src = str(tmp_path / f"{t}.src")
        rep = str(tmp_path / f"{t}.rep")
        merge_upsert_bucketed(
            spark, src, mk([(i, f"{t}{i}", 1) for i in range(1, 6)]), ["id"],
            n_buckets=2, order_col="ver", change_feed=True, batch_id=0,
        )
        merge_upsert_bucketed(
            spark, src, mk([(1, f"{t}-upd", 2)]), ["id"],
            n_buckets=2, order_col="ver", change_feed=True, batch_id=1,
        )
        pairs[t] = (src, rep, ["id"], 2)
    # poison gamma's replica with a mismatched layout
    bad_rep = pairs["gamma"][1]
    merge_upsert_bucketed(
        spark, bad_rep, mk([(9, "x", 1)]), ["id"], n_buckets=8, order_col="ver"
    )
    res = sync_database_replicas(spark, pairs, max_concurrency=3)
    assert res["alpha"] == {"epochs_applied": 2}
    assert res["beta"] == {"epochs_applied": 2}
    assert "error" in res["gamma"] and "layout mismatch" in res["gamma"]["error"]
    for t in ("alpha", "beta"):
        src, rep, _, _ = pairs[t]
        assert verify_replica(spark, src, rep)["match"] is True
        assert read_merge_target(spark, rep).count() == 5
    # a second pass is a cheap no-op for the healthy tables
    res2 = sync_database_replicas(spark, pairs, max_concurrency=3)
    assert res2["alpha"] == {"epochs_applied": 0}


def test_feed_stream_starts_before_first_epoch(spark, tmp_path):
    """Round 7 edge: tailing a target whose feed dir does not exist yet
    (no epoch published with change_feed) starts cleanly and sees the
    first epoch when it lands."""
    from database_clonev2_spark.pipeline.merge import (
        merge_upsert_bucketed,
        read_merge_changes_stream,
        read_merge_target,
    )
    from database_clonev2_spark.streaming.sync import stream_apply_cdc

    src = str(tmp_path / "src.parquet")
    rep = str(tmp_path / "rep.parquet")
    ck = str(tmp_path / "ck")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
    # target exists (feedless write) but has NO _changes dir yet
    merge_upsert_bucketed(
        spark, src, mk([(1, "a", 1)]), ["id"], n_buckets=2, order_col="ver"
    )
    stream_apply_cdc(  # zero epochs: terminates with nothing applied
        read_merge_changes_stream(spark, src), rep, ["id"], ck,
        order_col="_epoch", n_buckets=2, drop_order_col=True,
    ).awaitTermination()
    import os

    assert not os.path.exists(rep)  # nothing to apply -> never created
    merge_upsert_bucketed(
        spark, src, mk([(2, "b", 1)]), ["id"], n_buckets=2,
        order_col="ver", change_feed=True, batch_id=0,
    )
    stream_apply_cdc(
        read_merge_changes_stream(spark, src), rep, ["id"], ck,
        order_col="_epoch", n_buckets=2, drop_order_col=True,
    ).awaitTermination()
    got = {r["id"]: r["v"] for r in read_merge_target(spark, rep).collect()}
    assert got == {2: "b"}  # only the feed-published epoch reached it


def test_scd2_history_compacts_with_bucketed_compaction(spark, tmp_path):
    """Round 7 loop-closer: the SCD-2 history is a standard bucketed
    store, so per-bucket compaction applies as-is — appends fragment
    files, compaction re-bins them, content and layout survive."""
    import glob

    from database_clonev2_spark.pipeline.compact import compact_bucketed_target
    from database_clonev2_spark.pipeline.merge import (
        incremental_append,
        merge_upsert_bucketed,
    )
    from database_clonev2_spark.pipeline.scd2 import (
        fold_changes_scd2,
        read_scd2_history,
    )

    src = str(tmp_path / "src.parquet")
    hist = str(tmp_path / "hist.parquet")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
    for e in range(5):  # five epochs of churn on overlapping keys
        merge_upsert_bucketed(
            spark, src, mk([(k, f"v{k}@{e}", e) for k in range(1, 4)]), ["id"],
            n_buckets=2, order_col="ver", change_feed=True, batch_id=e,
        )
    fold_changes_scd2(spark, hist, src, ["id"], n_buckets=2)
    # a fold writes one file per touched bucket, so fragment the history
    # the way appends do: bucket-aware incremental_append batches of
    # open versions of keys the feed never touches (disjoint ids)
    for i in range(3):
        incremental_append(
            spark,
            spark.createDataFrame(
                [(100 + 10 * i + j, f"a{i}{j}", 0, 0, None) for j in range(4)],
                "id long, v string, ver long, _from_epoch long, _to_epoch long",
            ),
            hist,
            "id",
        )
    before = sorted(
        tuple(r) for r in read_scd2_history(spark, hist).collect()
    )
    files_before = len(glob.glob(f"{hist}/_bucket=*/*.parquet"))
    res = compact_bucketed_target(spark, hist)
    files_after = len(glob.glob(f"{hist}/_bucket=*/*.parquet"))
    assert files_after < files_before
    after = sorted(tuple(r) for r in read_scd2_history(spark, hist).collect())
    assert after == before
    # the history keeps folding after compaction
    merge_upsert_bucketed(
        spark, src, mk([(1, "final", 99)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=5,
    )
    assert fold_changes_scd2(spark, hist, src, ["id"], n_buckets=2) != []


class TestJoinViewCdc:
    """Round 7: CDC-aware join-view maintenance — updates/deletes on the
    live fact side retract and replace pairs; the view tracks
    current-fact ⋈ dimension exactly."""

    @staticmethod
    def _dim(spark, path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        dim = spark.createDataFrame(
            [(g, f"seg{g}", 100 + g) for g in range(4)],
            "grp long, segment string, rid long",
        )
        merge_upsert_bucketed(spark, path, dim, ["grp"], n_buckets=2)

    def test_view_tracks_fact_churn(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from database_clonev2_spark.pipeline.joinview_cdc import (
            read_pair_view,
            sync_join_view_from_changes,
        )
        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
            sync_replica_from_changes,
        )

        src = str(tmp_path / "fact.parquet")
        dim = str(tmp_path / "dim.parquet")
        view = str(tmp_path / "view.parquet")
        rep = str(tmp_path / "rep.parquet")
        self._dim(spark, dim)
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp long, amt long, ver long"
        )
        merge_upsert_bucketed(  # epoch 0: inserts
            spark, src, mk([(1, 0, 10, 1), (2, 1, 20, 1), (3, 2, 30, 1)]),
            ["id"], n_buckets=2, order_col="ver", change_feed=True, batch_id=0,
        )
        merge_upsert_bucketed(  # epoch 1: id 1 MOVES group (0 -> 3), id 2 re-priced
            spark, src, mk([(1, 3, 11, 2), (2, 1, 21, 2)]),
            ["id"], n_buckets=2, order_col="ver", change_feed=True, batch_id=1,
        )
        merge_delete_bucketed(  # epoch 2: id 3 gone
            spark, src, spark.createDataFrame([(3,)], "id long"), ["id"],
            n_buckets=2, change_feed=True, batch_id=2,
        )
        res = sync_join_view_from_changes(
            spark, view, dim, src, join_key="grp", left_key="id",
            right_key="rid", n_buckets=2,
        )
        assert len(res) == 3
        got = sorted(
            map(tuple, read_pair_view(spark, view)
                .select("id", "grp", "amt", "segment", "rid").collect())
        )
        # ground truth: current fact state (via a replica) joined to the dim
        sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=2)
        want = sorted(
            map(tuple, read_merge_target(spark, rep)
                .join(read_merge_target(spark, dim), "grp")
                .select("id", "grp", "amt", "segment", "rid").collect())
        )
        assert got == want and len(got) == 2  # ids 1 (moved) and 2
        # a second sync is a no-op; the view is unchanged
        assert sync_join_view_from_changes(
            spark, view, dim, src, join_key="grp", left_key="id",
            right_key="rid", n_buckets=2,
        ) == []

    def test_resume_between_delete_and_upsert(self, spark, tmp_path, monkeypatch):
        from database_clonev2_spark.pipeline import joinview_cdc as jvc
        from database_clonev2_spark.pipeline.joinview_cdc import (
            read_pair_view,
            sync_join_view_from_changes,
        )
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
        )

        src = str(tmp_path / "fact.parquet")
        dim = str(tmp_path / "dim.parquet")
        view = str(tmp_path / "view.parquet")
        self._dim(spark, dim)
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, grp long, amt long, ver long"
        )
        merge_upsert_bucketed(
            spark, src, mk([(1, 0, 10, 1)]), ["id"], n_buckets=2,
            order_col="ver", change_feed=True, batch_id=0,
        )
        sync_join_view_from_changes(
            spark, view, dim, src, join_key="grp", left_key="id",
            right_key="rid", n_buckets=2,
        )
        merge_upsert_bucketed(  # epoch 1: update (will crash mid-epoch)
            spark, src, mk([(1, 2, 99, 2)]), ["id"], n_buckets=2,
            order_col="ver", change_feed=True, batch_id=1,
        )
        real = jvc.merge_upsert_bucketed

        def dying_upsert(*a, **kw):
            raise RuntimeError("crash between delete and upsert")

        monkeypatch.setattr(jvc, "merge_upsert_bucketed", dying_upsert)
        with pytest.raises(RuntimeError, match="between delete"):
            sync_join_view_from_changes(
                spark, view, dim, src, join_key="grp", left_key="id",
                right_key="rid", n_buckets=2,
            )
        monkeypatch.setattr(jvc, "merge_upsert_bucketed", real)
        # the old pair is gone, the epoch is NOT marked applied -> resume
        assert read_pair_view(spark, view).count() == 0
        res = sync_join_view_from_changes(
            spark, view, dim, src, join_key="grp", left_key="id",
            right_key="rid", n_buckets=2,
        )
        assert len(res) == 1 and res[0]["pairs_deleted"] == 0  # :d ledgered
        got = [
            tuple(r) for r in read_pair_view(spark, view)
            .select("id", "grp", "amt", "segment").collect()
        ]
        assert got == [(1, 2, 99, "seg2")]

    def test_guards(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.joinview_cdc import (
            maintain_join_view_from_changes,
        )
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        dim = str(tmp_path / "dim.parquet")
        self._dim(spark, dim)
        bad_dim = str(tmp_path / "bad.parquet")
        merge_upsert_bucketed(
            spark, bad_dim,
            spark.createDataFrame([(1, 2)], "rid long, grp long"),
            ["rid"], n_buckets=2,
        )
        ch = spark.createDataFrame(
            [(1, 0, 5, "insert")], "id long, grp long, amt long, change_type string"
        )
        with pytest.raises(ValueError, match="keyed on the join key"):
            maintain_join_view_from_changes(
                spark, str(tmp_path / "v"), bad_dim, ch,
                join_key="grp", left_key="id", right_key="rid",
                epoch_num=0, batch_id="epoch-0",
            )
        collide = spark.createDataFrame(
            [(1, 0, 5, "insert")],
            "id long, grp long, segment string, change_type string",
        )
        with pytest.raises(ValueError, match="column collision"):
            maintain_join_view_from_changes(
                spark, str(tmp_path / "v"), dim, collide,
                join_key="grp", left_key="id", right_key="rid",
                epoch_num=0, batch_id="epoch-0",
            )


def test_stream_join_view_cdc_tracks_fact_churn(spark, tmp_path):
    """Round 7: the streaming CDC join view — a catch-up batch spanning
    insert/update(group-move)/delete epochs folds in order; a second
    wave continues incrementally; the view equals fact ⋈ dim."""
    from database_clonev2_spark.pipeline.joinview_cdc import read_pair_view
    from database_clonev2_spark.pipeline.merge import (
        merge_delete_bucketed,
        merge_upsert_bucketed,
        read_merge_changes_stream,
        read_merge_target,
        sync_replica_from_changes,
    )
    from database_clonev2_spark.streaming.sync import stream_join_view_cdc

    src = str(tmp_path / "fact.parquet")
    dim = str(tmp_path / "dim.parquet")
    view = str(tmp_path / "view.parquet")
    ck = str(tmp_path / "ck")
    merge_upsert_bucketed(
        spark, dim,
        spark.createDataFrame(
            [(g, f"seg{g}", 100 + g) for g in range(4)],
            "grp long, segment string, rid long",
        ),
        ["grp"], n_buckets=2,
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, grp long, amt long, ver long"
    )
    merge_upsert_bucketed(
        spark, src, mk([(1, 0, 10, 1), (2, 1, 20, 1)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=0,
    )
    merge_upsert_bucketed(  # id 1 moves group
        spark, src, mk([(1, 3, 11, 2)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=1,
    )
    merge_delete_bucketed(
        spark, src, spark.createDataFrame([(2,)], "id long"), ["id"],
        n_buckets=2, change_feed=True, batch_id=2,
    )

    def run():
        stream_join_view_cdc(
            read_merge_changes_stream(spark, src), view, dim, ck,
            join_key="grp", left_key="id", right_key="rid", n_buckets=2,
        ).awaitTermination()

    run()  # one availableNow batch spanning all three epochs

    def expect_matches():
        rep = str(tmp_path / "rep.parquet")
        sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=2)
        want = sorted(
            map(tuple, read_merge_target(spark, rep)
                .join(read_merge_target(spark, dim), "grp")
                .select("id", "grp", "amt", "segment").collect())
        )
        got = sorted(
            map(tuple, read_pair_view(spark, view)
                .select("id", "grp", "amt", "segment").collect())
        )
        assert got == want
        import shutil

        shutil.rmtree(rep)

    expect_matches()
    # second wave through the same checkpoint
    merge_upsert_bucketed(
        spark, src, mk([(3, 2, 30, 1), (1, 3, 12, 3)]), ["id"],
        n_buckets=2, order_col="ver", change_feed=True, batch_id=3,
    )
    run()
    expect_matches()
