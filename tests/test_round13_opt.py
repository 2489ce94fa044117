"""Round-13 OPTIMIZATION-phase tests — the scan-spread helpers
(`io.load_spread` / `io.spread_frame`) and their one production
`spread_frame` call site, the SimHash vote rule, the driver-side
FK-closure walk, and the one-exchange co-purchase pair build. Each test
pins the property the optimization claims (value identity + the structural
guarantee), not timings — timings live in BENCH_r13.json."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark.io import (
    load,
    load_spread,
    spread_frame,
    _parse_bytes,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestParseBytes:
    def test_grammar(self):
        assert _parse_bytes("134217728") == 128 * 1024 * 1024
        assert _parse_bytes("128m") == 128 * 1024 * 1024
        assert _parse_bytes("128MB") == 128 * 1024 * 1024
        assert _parse_bytes("1g") == 1 << 30
        assert _parse_bytes("512k") == 512 * 1024


class TestLoadSpread:
    def test_values_identical_and_spread_fires_on_small_file(self, spark, sf_dir):
        plain = load(spark, sf_dir, "documents")
        spread = load_spread(spark, sf_dir, "documents", "doc_id")
        assert _rows(plain.select("doc_id")) == _rows(spread.select("doc_id"))
        # the fixture file is far under maxPartitionBytes, so with
        # defaultParallelism > 2 the guard must fire and widen the scan
        if spark.sparkContext.defaultParallelism > 2:
            assert (
                spread.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism
            )

    def test_noop_when_file_already_yields_enough_splits(self, spark, sf_dir):
        # shrink maxPartitionBytes so the file's estimated split count
        # reaches the parallelism bar: load_spread must return the plain
        # scan (no Exchange in the plan)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
            df = load_spread(spark, sf_dir, "documents", "doc_id")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


class TestSpreadFrame:
    # round 14 (VERDICT r13 #4): spread_frame now ENFORCES its
    # materialized-input contract, so the fixtures below feed it what
    # the documented call sites do — localCheckpoint leaves
    def test_starved_frame_widens_values_identical(self, spark):
        df = (
            spark.range(1000)
            .coalesce(1)
            .select(F.col("id"), (F.col("id") % 7).alias("k"))
            .localCheckpoint()
        )
        out = spread_frame(df, "k")
        if spark.sparkContext.defaultParallelism > 2:
            assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert _rows(df) == _rows(out)

    def test_wide_frame_untouched(self, spark):
        df = spark.range(1000).repartition(64).localCheckpoint()
        assert spread_frame(df, "id") is df

    def test_lazy_frame_rejected(self, spark):
        # a lazy plan would pay a planning round-trip per call — the
        # round-14 guard makes that loud instead of silent
        import pytest as _pytest

        lazy = spark.range(1000).select((F.col("id") % 7).alias("k"))
        with _pytest.raises(ValueError, match="materialized"):
            spread_frame(lazy, "k")

    def test_persisted_frame_rejected(self, spark):
        # persist() leaves the analyzed plan lazy (no RDD-scan leaf), even
        # once the cache is filled — only a checkpoint is accepted
        df = spark.range(1000).select((F.col("id") % 7).alias("k")).persist()
        try:
            df.count()
            with pytest.raises(ValueError, match="localCheckpoint"):
                spread_frame(df, "k")
        finally:
            df.unpersist()

    def test_training_pipeline_call_site_accepted(self, spark, sf_dir, monkeypatch):
        # the registered e2e pipeline is the one production caller: its
        # keeper frame must pass the strict guard
        import __spark_entry__ as entry
        import database_clonev2_spark.io as io_mod

        accepted = []

        def recording(df, key):
            out = spread_frame(df, key)
            accepted.append(key)
            return out

        monkeypatch.setattr(io_mod, "spread_frame", recording)
        qs, _ = entry._registry()
        qs["training_pipeline_e2e"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        assert accepted == ["doc_id"]


class TestFkClosureWalk:
    def test_driver_walk_equals_native_recursive_sql(self, spark, sf_dir):
        import __spark_entry__ as entry

        qs, _ = entry._registry()
        walked = qs["rcte_fk_closure"](spark, sf_dir)
        from database_clonev2_spark.io import table_path
        from database_clonev2_spark.pipeline.clone import FIXTURE_FKS
        import os

        edges = [
            (child, parent)
            for child, fk_list in FIXTURE_FKS.items()
            if os.path.exists(table_path(sf_dir, child))
            for _n, _cc, parent, _pc in fk_list
        ]
        spark.createDataFrame(
            edges, ["child_tbl", "parent_tbl"]
        ).createOrReplaceTempView("fk_edges_t13")
        native = spark.sql(
            """WITH RECURSIVE walk(tbl, anc, depth) AS (
                   SELECT child_tbl, parent_tbl, 1 FROM fk_edges_t13
                   UNION ALL
                   SELECT w.tbl, e.parent_tbl, w.depth + 1
                   FROM walk w JOIN fk_edges_t13 e ON e.child_tbl = w.anc)
               SELECT tbl AS child_table, anc AS ancestor_table,
                      CAST(COUNT(*) AS BIGINT) AS n_paths,
                      CAST(MIN(depth) AS INT) AS min_depth,
                      CAST(MAX(depth) AS INT) AS max_depth
               FROM walk GROUP BY tbl, anc"""
        )
        assert _rows(walked) == _rows(native)

    def test_cyclic_catalog_raises_loudly(self, spark, sf_dir, monkeypatch):
        from database_clonev2_spark.pipeline import clone as clone_mod

        cyclic = dict(clone_mod.FIXTURE_FKS)
        cyclic["region"] = [("FK_cycle", ["r_regionkey"], "nation", ["n_nationkey"])]
        monkeypatch.setattr(clone_mod, "FIXTURE_FKS", cyclic)
        import __spark_entry__ as entry

        qs, _ = entry._registry()
        with pytest.raises(RuntimeError, match="100 levels"):
            qs["rcte_fk_closure"](spark, sf_dir)


class TestSimhashVoteRule:
    """``_vote_fingerprint`` against a pure-Python SimHash vote: bit i is
    set iff more than half of a document's hashes have bit i set. The
    hand-built hashes carry bit 63 (negative as bigint), which the 60-bit
    md5 family of the DuckDB twin never sets."""

    @staticmethod
    def _py_vote(hs, n_bits):
        fp = 0
        for i in range(n_bits):
            ones = sum((h >> i) & 1 for h in hs)
            if 2 * ones > len(hs):
                fp |= 1 << i
        return fp - (1 << 64) if fp >> 63 else fp

    def test_vote_equals_python_rule(self, spark):
        import random

        from database_clonev2_spark.extensions.dedup import (
            SIMHASH_BITS,
            _vote_fingerprint,
        )

        rng = random.Random(13)

        def signed(u):
            return u - (1 << 64) if u >> 63 else u

        # doc 1: every bit ties 1:1, so no bit wins; docs 2-8 hold 1-7
        # hashes, every other one with the sign bit forced on
        docs = {1: [5, ~5]}
        for doc_id, n in enumerate(range(1, 8), start=2):
            docs[doc_id] = [
                signed(rng.getrandbits(64) | (1 << 63 if k % 2 == 0 else 0))
                for k in range(n)
            ]
        expected = {d: self._py_vote(hs, SIMHASH_BITS) for d, hs in docs.items()}
        assert expected[1] == 0
        assert any(fp < 0 for fp in expected.values())
        toks = spark.createDataFrame(
            [(d, h) for d, hs in docs.items() for h in hs], "doc_id bigint, h bigint"
        )
        got = dict(_rows(_vote_fingerprint(toks, SIMHASH_BITS)))
        assert got == expected

    def test_short_and_empty_docs_have_no_fingerprint(self, spark):
        from database_clonev2_spark.extensions.dedup import simhash_fingerprints

        d = spark.createDataFrame(
            [(1, "only two"), (2, ""), (3, "a b c d"), (4, "x y z")],
            "doc_id bigint, text string",
        )
        # fewer than 3 tokens -> no word-3-gram shingle -> no row
        assert _rows(simhash_fingerprints(d).select("doc_id")) == [(3,), (4,)]


class TestEdgesBuild:
    def test_collect_set_pairs_equal_self_join_form(self, spark, sf_dir):
        from database_clonev2_spark.operators.graph import (
            MIN_SUPPORT,
            _edges_view,
        )

        _edges_view(spark, sf_dir)
        new = spark.table("edges")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        op = li.distinct()
        a, b = op.alias("a"), op.alias("b")
        legacy = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= MIN_SUPPORT)
            .select("pa", "pb")
        )
        assert _rows(new) == _rows(legacy)
