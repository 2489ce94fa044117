"""Tier-B pipeline tests (SURVEY.md §5.2 levels 3-4): full round-trip clone,
idempotency, column alignment, DDL generation, continue-on-error executor,
constraint validation — the tests the reference never had."""

import os
import sys

import pytest

# Gated out of the DEFAULT pytest run (round 14, VERDICT r13 #3): the
# full suite outgrew the round driver's pytest window (46 min measured),
# so the slowest pipeline/round-ops suites run behind this marker while
# the default run keeps the plan/scan contracts + unit value-identity
# tests. Run these with:  python -m pytest -m slowops tests/
# (or everything:         python -m pytest -m "not oracle" tests/ -o addopts="")
pytestmark = pytest.mark.slowops
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_clonev2_spark.io import FIXTURE_TABLES, load
from database_clonev2_spark.pipeline import _buckets as bk
from database_clonev2_spark.pipeline.clone import (
    align_columns,
    clone_database,
    fixture_specs,
    validate_database,
    validate_foreign_key,
    validate_primary_key,
)
from database_clonev2_spark.pipeline.ddl import TableSpec, create_table_ddl, generate_statements
from database_clonev2_spark.pipeline.executor import execute_statements

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table_hash(df):
    """Order-insensitive whole-table fingerprint."""
    cols = sorted(df.columns)
    line = F.concat_ws("\x01", *[F.col(c).cast("string") for c in cols])
    return (
        df.select(F.sha2(line, 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")).alias("s"))
        .first()["s"]
    )


class TestRoundTripClone:
    def test_clone_all_tables_and_idempotency(self, spark, sf_dir, tmp_path):
        target = str(tmp_path / "clone")
        res = clone_database(spark, sf_dir, target)
        assert not res.errors
        assert set(res.copied) == set(FIXTURE_TABLES)

        # schema + content equality per table (round-trip test, §5.2 #3)
        for t in FIXTURE_TABLES:
            src = load(spark, sf_dir, t)
            dst = spark.read.parquet(os.path.join(target, f"{t}.parquet"))
            assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
            assert dst.count() == src.count()
            if t != "embeddings":  # array column has no string cast; hash scalars only
                assert _table_hash(dst) == _table_hash(src)

        # idempotency (§5.2 #4): second run is a complete no-op
        res2 = clone_database(spark, sf_dir, target)
        assert not res2.copied and not res2.errors
        assert set(res2.skipped) == set(FIXTURE_TABLES)

    def test_cloned_events_reloads_via_load(self, spark, sf_dir, tmp_path):
        """Regression: ``load`` used to apply the ns→µs rewrite to ANY table
        named events. Cloned output already carries a micros TIMESTAMP_NTZ
        column, so reloading a cloned dir threw DATATYPE_MISMATCH; now the
        rewrite is gated on the physical LongType (nanosAsLong) fallback."""
        target = str(tmp_path / "clone_ev")
        res = clone_database(spark, sf_dir, target, tables=["events"])
        assert not res.errors
        src = load(spark, sf_dir, "events")
        dst = load(spark, target, "events")  # must not throw
        assert dict(dst.dtypes)["ts"] == dict(src.dtypes)["ts"]
        assert dst.count() == src.count()
        # timestamps survive the round trip exactly (µs precision)
        s_minmax = src.agg(F.min("ts"), F.max("ts")).first()
        d_minmax = dst.agg(F.min("ts"), F.max("ts")).first()
        assert tuple(s_minmax) == tuple(d_minmax)

    def test_embeddings_roundtrip_values(self, spark, sf_dir, tmp_path):
        target = str(tmp_path / "clone_emb")
        clone_database(spark, sf_dir, target, tables=["embeddings"])
        src = load(spark, sf_dir, "embeddings")
        dst = spark.read.parquet(os.path.join(target, "embeddings.parquet"))
        joined = src.alias("s").join(dst.alias("d"), "vec_id")
        mismatches = joined.filter(F.col("s.embedding") != F.col("d.embedding")).count()
        assert mismatches == 0


class TestColumnAlignment:
    def test_missing_cols_become_typed_nulls_extra_dropped(self, spark):
        df = spark.createDataFrame([(1, "x", 9.9)], ["a", "b", "junk"])
        target = T.StructType(
            [
                T.StructField("a", T.LongType(), True),
                T.StructField("b", T.StringType(), True),
                T.StructField("c", T.IntegerType(), True),
            ]
        )
        out = align_columns(df, target)
        assert out.columns == ["a", "b", "c"]
        assert out.schema["c"].dataType == T.IntegerType()
        row = out.first()
        assert row["a"] == 1 and row["b"] == "x" and row["c"] is None


class TestDdl:
    def test_create_table_shape(self, spark):
        spec = TableSpec(
            name="t1",
            schema=T.StructType(
                [
                    T.StructField("id", T.LongType(), False),
                    T.StructField("name", T.StringType(), True),
                ]
            ),
            primary_key=["id"],
        )
        ddl = create_table_ddl(spec)
        # T-SQL idempotency is a catalog-probe guard block, not IF NOT EXISTS
        assert ddl.startswith("IF NOT EXISTS (SELECT * FROM sys.tables WHERE name = 't1')")
        assert "CREATE TABLE [target].[t1]" in ddl
        assert "[id] bigint NOT NULL" in ddl
        assert "[name] nvarchar(max)" in ddl
        assert "IF NOT EXISTS" not in create_table_ddl(spec, dialect="spark").split("(")[0] or True
        spark_ddl = create_table_ddl(spec, dialect="spark")
        assert spark_ddl.startswith("CREATE TABLE IF NOT EXISTS")  # valid Spark SQL

    def test_statement_phases_in_dependency_order(self, spark, sf_dir):
        stmts = generate_statements(spark, fixture_specs(spark, sf_dir)).collect()
        phase_of = {}
        for r in stmts:
            phase_of.setdefault(r["phase"], r["ordinal"])
        # tables before PKs before checks before FKs (ref Program.cs:82-110)
        assert phase_of["database"] < phase_of["tables"] < phase_of["primary_keys"]
        assert phase_of["primary_keys"] < phase_of["checks"] < phase_of["foreign_keys"]
        fk_texts = [r["ddl_text"] for r in stmts if r["phase"] == "foreign_keys"]
        assert any("FK_lineitem_orders" in s for s in fk_texts)

    def test_executor_continue_on_error(self, spark):
        report = execute_statements(
            spark,
            [
                ("good", "SELECT 1"),
                ("bad", "SELECT * FROM table_that_does_not_exist_xyz"),
                ("after", "SELECT 2"),
            ],
        )
        assert report.executed == ["good", "after"]
        assert len(report.errors) == 1 and report.errors[0][0] == "bad"
        assert not report.ok

    def test_executor_fail_fast(self, spark):
        report = execute_statements(
            spark,
            [("bad", "SELECT * FROM nope_xyz"), ("after", "SELECT 2")],
            continue_on_error=False,
        )
        assert report.executed == []
        assert len(report.errors) == 1


class TestConstraintValidation:
    def test_fixture_constraints_hold(self, spark, sf_dir):
        violations = validate_database(spark, sf_dir)
        # lineitem has a composite "PK" with planted duplicates, so it is
        # intentionally absent from the spec; every declared constraint holds.
        assert violations, "expected some constraints to be checked"
        bad = {k: v for k, v in violations.items() if v != 0}
        assert bad == {}, f"constraint violations: {bad}"

    def test_pk_validation_catches_dupes(self, spark):
        df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["id", "v"])
        assert validate_primary_key(df, ["id"]).count() == 1

    def test_fk_validation_catches_orphans(self, spark):
        child = spark.createDataFrame([(1,), (2,), (99,)], ["pid"])
        parent = spark.createDataFrame([(1,), (2,)], ["id"])
        orphans = validate_foreign_key(child, ["pid"], parent, ["id"])
        assert [r["pid"] for r in orphans.collect()] == [99]


class TestLayoutClone:
    def test_bucketed_sorted_layout(self, spark, sf_dir, tmp_path):
        """Index → layout mapping (SURVEY §1.1): bucketed+sorted managed
        table round-trips rows and registers in the catalog."""
        from database_clonev2_spark.pipeline.clone import LayoutSpec, clone_table_with_layout

        # warehouse dir is a static conf — the managed table lands in the
        # session default (./spark-warehouse, gitignored); dropped below
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        n = clone_table_with_layout(
            spark,
            sf_dir,
            "orders",
            "orders_bucketed",
            LayoutSpec(bucket_by=["o_custkey"], n_buckets=4, sort_within=["o_orderkey"]),
        )
        from database_clonev2_spark.io import load

        assert n == load(spark, sf_dir, "orders").count()
        desc = spark.sql("DESCRIBE EXTENDED orders_bucketed").collect()
        text = "\n".join(f"{r['col_name']} {r['data_type']}" for r in desc)
        assert "o_custkey" in text  # bucket spec recorded in catalog
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")

    def test_cobucketed_join_is_shuffle_free(self, spark, sf_dir):
        """The POINT of the bucketed layout: two tables bucketed on their
        join key with the same bucket count join with NO Exchange in the
        plan — the shuffle was paid once at write time, every subsequent
        join is co-located. This is the 100 TB fact-fact join strategy the
        mandate names (bucketing for co-located joins)."""
        from database_clonev2_spark.pipeline.clone import LayoutSpec, clone_table_with_layout

        for t in ("orders_bkt_join", "lineitem_bkt_join"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        clone_table_with_layout(
            spark, sf_dir, "orders", "orders_bkt_join",
            LayoutSpec(bucket_by=["o_orderkey"], n_buckets=4),
        )
        clone_table_with_layout(
            spark, sf_dir, "lineitem", "lineitem_bkt_join",
            LayoutSpec(bucket_by=["l_orderkey"], n_buckets=4),
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a non-broadcast join so the co-location is what's tested
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = (
                spark.table("orders_bkt_join")
                .join(
                    spark.table("lineitem_bkt_join"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .groupBy("o_orderstatus")
                .count()
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            join_section = plan.split("HashAggregate")[-1]  # below the agg
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert "Exchange" not in join_section, join_section[:500]
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            for t in ("orders_bkt_join", "lineitem_bkt_join"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestSaltedJoin:
    def test_equivalent_to_plain_join(self, spark, sf_dir):
        """Salting must not change join semantics — same rows, any skew."""
        from database_clonev2_spark.io import load
        from database_clonev2_spark.operators.relational import salted_join

        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        parts = load(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("l_partkey"), "p_brand"
        )
        plain = li.join(parts, "l_partkey")
        salted = salted_join(li, parts, "l_partkey")
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).isEmpty()
        assert plain.exceptAll(salted).isEmpty()


class TestPartitionedLayout:
    def test_partition_pruning_on_partitioned_clone(self, spark, sf_dir, tmp_path):
        """Filtered index ≈ partition pruning (SURVEY §1.1 index row): a
        clone partitioned on the filter column answers the filtered query
        by reading only matching partitions (PartitionFilters in the scan,
        non-matching directories never opened)."""
        from database_clonev2_spark.io import load

        out = str(tmp_path / "li_part")
        load(spark, sf_dir, "lineitem").write.partitionBy("l_returnflag").parquet(out)
        df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "l_returnflag" in plan
        # correctness: partition-pruned read equals source-side filter
        want = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").count()
        assert df.count() == want


class TestFormatClone:
    @pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
    def test_roundtrip_orders_through_formats(self, spark, sf_dir, tmp_path, fmt):
        """CSV/JSON sinks round-trip values when read back with the explicit
        source schema (schemas come from the catalog, never inferred); the
        ORC sink round-trips self-describing types like parquet."""
        from database_clonev2_spark.pipeline.clone import clone_table
        from database_clonev2_spark.sources import read_csv, read_json, read_orc

        target = str(tmp_path / f"clone_{fmt}")
        status, n = clone_table(spark, sf_dir, target, "orders", fmt=fmt)
        src = load(spark, sf_dir, "orders")
        assert status == "copied" and n == src.count()
        path = f"{target}/orders.{fmt}"
        if fmt == "csv":
            back = read_csv(spark, path, src.schema)
        elif fmt == "json":
            back = read_json(spark, path, src.schema)
        else:
            back = read_orc(spark, path, src.schema)
        assert back.schema == src.schema
        assert _table_hash(back) == _table_hash(src)


class TestSqlFunctionRegistration:
    def test_registered_functions_callable_from_sql(self, spark):
        from database_clonev2_spark.functions import register_sql_functions

        names = register_sql_functions(spark)
        assert set(names) == {"quotename", "truncate_name", "sql_string_literal"}
        row = spark.sql(
            "SELECT quotename('we]ird') AS q, truncate_name(repeat('x', 200)) AS t,"
            " sql_string_literal(\"it's\") AS l"
        ).first()
        assert row["q"] == "[we]]ird]"
        assert len(row["t"]) == 128
        assert row["l"] == "N'it''s'"


class TestMergeUpsert:
    def test_upsert_updates_and_inserts(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert

        target = str(tmp_path / "t.parquet")
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "v"]
        ).write.parquet(target)
        updates = spark.createDataFrame(
            [(2, "B", 99.0), (4, "d", 40.0)], ["id", "name", "v"]
        )
        stats = merge_upsert(spark, target, updates, ["id"])
        assert stats == {"before": 3, "updates": 2, "after": 4}
        got = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(target).collect()}
        assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    def test_upsert_rejects_duplicate_update_keys(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert

        target = str(tmp_path / "t2.parquet")
        spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(target)
        dup = spark.createDataFrame([(1, "x"), (1, "y")], ["id", "name"])
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_upsert(spark, target, dup, ["id"])

    def test_upsert_idempotent(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert

        target = str(tmp_path / "t3.parquet")
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]).write.parquet(target)
        updates = spark.createDataFrame([(2, "B")], ["id", "name"])
        merge_upsert(spark, target, updates, ["id"])
        stats2 = merge_upsert(spark, target, updates, ["id"])  # same update again
        assert stats2["after"] == 2
        got = {r["id"]: r["name"] for r in spark.read.parquet(target).collect()}
        assert got == {1: "a", 2: "B"}


def _partition_snapshot(target: str) -> dict[str, dict[str, tuple]]:
    """Per-bucket-directory snapshot: {bucket_dir: {file: (size, mtime_ns,
    md5)}} — byte-level identity evidence for the pruning assertion."""
    import hashlib
    import os

    snap: dict[str, dict[str, tuple]] = {}
    for entry in sorted(os.listdir(target)):
        full = os.path.join(target, entry)
        if not (os.path.isdir(full) and entry.startswith("_bucket=")):
            continue
        files = {}
        for fn in sorted(os.listdir(full)):
            fp = os.path.join(full, fn)
            st = os.stat(fp)
            with open(fp, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            files[fn] = (st.st_size, st.st_mtime_ns, digest)
        snap[entry] = files
    return snap


class TestMergeUpsertBucketed:
    """Round-4 scale redesign: per-merge cost must be O(|updates|), not
    O(|target|) — only touched bucket partitions are read and rewritten."""

    def test_bucketed_upsert_matches_flat_semantics(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "bt.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(1, 51)], ["id", "name", "v"]
        )
        s0 = merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=8)
        assert s0["after_touched"] == 50
        updates = spark.createDataFrame(
            [(2, "B", 99.0), (100, "new", 1.0)], ["id", "name", "v"]
        )
        stats = merge_upsert_bucketed(spark, target, updates, ["id"], n_buckets=8)
        assert stats["updates"] == 2 and stats["n_buckets"] == 8
        assert stats["touched_buckets"] <= 2
        got = {
            r["id"]: (r["name"], r["v"])
            for r in read_merge_target(spark, target).collect()
        }
        assert len(got) == 51
        assert got[2] == ("B", 99.0) and got[100] == ("new", 1.0)
        assert got[1] == ("n1", 1.0)  # untouched row intact

    def test_untouched_partitions_stay_byte_identical(self, spark, tmp_path):
        """THE pruning assertion (VERDICT r3 #1): a batch touching 1 of N
        buckets must leave the other N−1 partition directories untouched
        at the byte level (same files, sizes, mtimes, md5)."""
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        target = str(tmp_path / "pruned.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 201)], ["id", "name"]
        )
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=8)
        before = _partition_snapshot(target)
        assert len(before) == 8  # 200 keys cover all 8 buckets

        one = spark.createDataFrame([(7, "SEVEN")], ["id", "name"])
        stats = merge_upsert_bucketed(spark, target, one, ["id"], n_buckets=8)
        assert stats["touched_buckets"] == 1
        after = _partition_snapshot(target)

        changed = [b for b in before if before[b] != after[b]]
        assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
        untouched = [b for b in before if b not in changed]
        assert len(untouched) == 7
        for b in untouched:
            assert before[b] == after[b]  # byte-identical: size+mtime+md5

    def test_order_col_prevents_version_regression(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "vg.parquet")
        base = spark.createDataFrame([(1, "B", 2)], ["id", "name", "version"])
        merge_upsert_bucketed(
            spark, target, base, ["id"], n_buckets=4, order_col="version"
        )
        stale = spark.createDataFrame([(1, "b_old", 1)], ["id", "name", "version"])
        merge_upsert_bucketed(
            spark, target, stale, ["id"], n_buckets=4, order_col="version"
        )
        row = read_merge_target(spark, target).first()
        assert (row["name"], row["version"]) == ("B", 2)

    def test_layout_mismatch_rejected(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        target = str(tmp_path / "mm.parquet")
        base = spark.createDataFrame([(1, "a")], ["id", "name"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)
        with pytest.raises(ValueError, match="bucket layout mismatch"):
            merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=8)

    def test_flat_target_rejected_with_guidance(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        target = str(tmp_path / "flat.parquet")
        spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(target)
        upd = spark.createDataFrame([(1, "A")], ["id", "name"])
        with pytest.raises(ValueError, match="not a bucketed merge target"):
            merge_upsert_bucketed(spark, target, upd, ["id"])

    def test_touched_bucket_scan_uses_partition_filters(self, spark, tmp_path):
        """Plan evidence for the pruning claim: the touched-bucket read
        the merge performs must show PartitionFilters on _bucket at the
        scan (file-index pruning), i.e. untouched partition DIRECTORIES
        are skipped before any parquet footer is opened."""
        from database_clonev2_spark.pipeline.merge import (
            BUCKET_COL,
            merge_upsert_bucketed,
        )

        target = str(tmp_path / "pf.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 101)], ["id", "name"]
        )
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=8)
        scan = spark.read.parquet(target).filter(F.col(BUCKET_COL).isin([3]))
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and BUCKET_COL in plan.split(
            "PartitionFilters"
        )[1].split("]")[0], plan

    def test_empty_updates_noop_does_not_poison_target(self, spark, tmp_path):
        """Regression (code review, round 4): an empty first merge used to
        create a schemaless parquet dir + bucket sidecar, permanently
        wedging the path (UNABLE_TO_INFER_SCHEMA on every later merge).
        It must be a no-op, and a real merge afterwards must succeed."""
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "empty_first.parquet")
        schema = "id long, name string"
        empty = spark.createDataFrame([], schema)
        stats = merge_upsert_bucketed(spark, target, empty, ["id"], n_buckets=4)
        assert stats["updates"] == 0 and stats["touched_buckets"] == 0
        import os

        assert not os.path.exists(target)  # nothing created
        real = spark.createDataFrame([(1, "a")], schema)
        merge_upsert_bucketed(spark, target, real, ["id"], n_buckets=4)
        assert read_merge_target(spark, target).count() == 1

    def test_reserved_bucket_column_rejected(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        bad = spark.createDataFrame([(1, 7)], ["id", "_bucket"])
        with pytest.raises(ValueError, match="reserved layout column"):
            merge_upsert_bucketed(
                spark, str(tmp_path / "rb.parquet"), bad, ["id"], n_buckets=4
            )

    def test_replay_idempotent(self, spark, tmp_path):
        """foreachBatch replay safety: re-applying a committed merge
        converges to the same state (exactly-once in effect)."""
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "replay.parquet")
        base = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], ["id", "name", "version"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4, order_col="version")
        upd = spark.createDataFrame([(2, "B", 2)], ["id", "name", "version"])
        merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4, order_col="version")
        merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4, order_col="version")
        got = {
            r["id"]: (r["name"], r["version"])
            for r in read_merge_target(spark, target).collect()
        }
        assert got == {1: ("a", 1), 2: ("B", 2)}

    def test_no_stage_or_old_dirs_left_behind(self, spark, tmp_path):
        """The round-5 scoped-swap commit must clean up after itself:
        no .__stage_/.__old_ siblings survive a successful merge, and the
        target dir contains only partition dirs + the sidecar."""
        import os

        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        target = str(tmp_path / "clean.parquet")
        base = spark.createDataFrame([(i, f"n{i}") for i in range(40)], ["id", "name"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)
        upd = spark.createDataFrame([(3, "X"), (99, "new")], ["id", "name"])
        merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4)
        siblings = os.listdir(str(tmp_path))
        leftovers = [s for s in siblings if "__stage_" in s or "__old_" in s]
        assert leftovers == [], leftovers

    def test_crash_mid_swap_rolls_forward_on_next_read(
        self, spark, tmp_path, monkeypatch
    ):
        """Round-6 (VERDICT r5 #5): kill the process between two bucket
        swaps and show recovery to a consistent post-merge snapshot with
        no lost rows. The crash is simulated by making os.rename raise
        after the first touched bucket's swap completes; the dangling
        _commit.json must then roll the remaining swaps forward on the
        next read_merge_target, leaving no stage/old/manifest residue."""
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            BUCKET_COL,
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "crash.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}", 1) for i in range(1, 201)], ["id", "name", "version"]
        )
        merge_upsert_bucketed(
            spark, target, base, ["id"], n_buckets=8, order_col="version"
        )
        # updates spanning several buckets, so the swap loop has >1 step
        upd = spark.createDataFrame(
            [(i, f"N{i}", 2) for i in range(1, 41)] + [(999, "new", 2)],
            ["id", "name", "version"],
        )
        expected = {i: (f"N{i}", 2) for i in range(1, 41)}
        expected.update({i: (f"n{i}", 1) for i in range(41, 201)})
        expected[999] = ("new", 2)

        real_rename = os.rename
        state = {"bucket_renames": 0}

        def dying_rename(src, dst):
            if f"{BUCKET_COL}=" in str(dst) and str(dst).startswith(target):
                state["bucket_renames"] += 1
                if state["bucket_renames"] == 2:  # die between two swaps
                    raise RuntimeError("simulated crash mid-commit")
            return real_rename(src, dst)

        monkeypatch.setattr(merge_mod.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_upsert_bucketed(
                spark, target, upd, ["id"], n_buckets=8, order_col="version"
            )
        monkeypatch.setattr(merge_mod.os, "rename", real_rename)

        # the crash landed after the commit point: manifest is dangling
        assert os.path.exists(os.path.join(target, "_commit.json"))
        got = {
            r["id"]: (r["name"], r["version"])
            for r in read_merge_target(spark, target).collect()
        }
        assert got == expected  # full post-merge state, no lost rows
        assert not os.path.exists(os.path.join(target, "_commit.json"))
        residue = [
            s for s in os.listdir(str(tmp_path)) if "__stage_" in s or "__old_" in s
        ]
        assert residue == [], residue
        # and the recovered target keeps merging normally
        one = spark.createDataFrame([(999, "NEW", 3)], ["id", "name", "version"])
        merge_upsert_bucketed(
            spark, target, one, ["id"], n_buckets=8, order_col="version"
        )
        assert read_merge_target(spark, target).filter("id = 999").first()[
            "name"
        ] == "NEW"

    def test_crash_before_commit_point_leaves_target_untouched(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash BEFORE the manifest write (e.g. during staging) must
        leave the target exactly as it was, and the next merge must sweep
        the uncommitted staging garbage and succeed."""
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "precrash.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 51)], ["id", "name"]
        )
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)
        before = {
            r["id"]: r["name"] for r in read_merge_target(spark, target).collect()
        }

        def dying_manifest(*args, **kwargs):
            raise RuntimeError("simulated crash before commit point")

        monkeypatch.setattr(bk, "_write_commit_manifest", dying_manifest)
        upd = spark.createDataFrame([(1, "X"), (2, "Y")], ["id", "name"])
        with pytest.raises(RuntimeError, match="before commit point"):
            merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4)
        monkeypatch.undo()

        after = {
            r["id"]: r["name"] for r in read_merge_target(spark, target).collect()
        }
        assert after == before  # target untouched
        # next merge sweeps the stale staging dir and applies cleanly
        merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4)
        residue = [s for s in os.listdir(str(tmp_path)) if "__stage_" in s]
        assert residue == [], residue
        got = {r["id"]: r["name"] for r in read_merge_target(spark, target).collect()}
        assert got[1] == "X" and got[2] == "Y" and got[3] == "n3"


class TestMergeSchemaEvolution:
    """Round-6: updates carrying NEW columns are an error by default (the
    old behavior silently dropped them — data loss), and an explicit
    opt-in evolves the target lazily: no rewrite of untouched buckets,
    consistent NULL-backed reads through read_merge_target."""

    def test_extra_columns_rejected_by_default(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        target = str(tmp_path / "noevo.parquet")
        base = spark.createDataFrame([(1, "a")], ["id", "name"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)
        upd = spark.createDataFrame([(2, "b", "new")], ["id", "name", "tag"])
        with pytest.raises(ValueError, match="allow_evolution"):
            merge_upsert_bucketed(spark, target, upd, ["id"], n_buckets=4)

    def test_evolution_adds_column_without_rewriting_untouched(
        self, spark, tmp_path
    ):
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "evo.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 101)], ["id", "name"]
        )
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=8)
        before = _partition_snapshot(target)

        upd = spark.createDataFrame([(1, "A", "gold")], ["id", "name", "tier"])
        stats = merge_upsert_bucketed(
            spark, target, upd, ["id"], n_buckets=8, allow_evolution=True
        )
        assert stats["touched_buckets"] == 1
        after = _partition_snapshot(target)
        changed = [b for b in before if before[b] != after[b]]
        assert len(changed) == 1  # evolution did NOT rewrite the other 7

        got = {
            r["id"]: (r["name"], r["tier"])
            for r in read_merge_target(spark, target).collect()
        }
        assert got[1] == ("A", "gold")
        assert got[2] == ("n2", None)  # pre-evolution bucket reads as NULL
        assert len(got) == 100

        # post-evolution merges WITHOUT the new column null-fill it — and,
        # critically, must not drop the evolved column from existing rows
        # in the buckets they rewrite: 30 inserts cover all 8 buckets, so
        # id=1's bucket is provably rewritten by a schema-unaware batch
        # (80 sequential ids cover all 8 xxhash64 buckets)
        upd2 = spark.createDataFrame(
            [(200 + i, "x") for i in range(80)], ["id", "name"]
        )
        stats2 = merge_upsert_bucketed(spark, target, upd2, ["id"], n_buckets=8)
        assert stats2["touched_buckets"] == 8
        got2 = {
            r["id"]: (r["name"], r["tier"])
            for r in read_merge_target(spark, target).collect()
        }
        assert got2[200] == ("x", None)
        assert got2[1] == ("A", "gold")  # survived a no-tier bucket rewrite


class TestMergeAdditiveBucketed:
    """Round-6 materialized-aggregate maintenance: additive merges must
    equal a full recompute, and replay must be exactly-once in every
    crash position (addition is not idempotent, unlike the upsert)."""

    def _state(self, spark, target):
        from database_clonev2_spark.pipeline.merge import read_merge_target

        return {
            r["k"]: (r["v"], r["_n"])
            for r in read_merge_target(spark, target).collect()
        }

    def test_matches_full_recompute(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        target = str(tmp_path / "agg.parquet")
        batches = [
            [(i % 7, i) for i in range(50)],
            [(i % 5, 2 * i) for i in range(30)],
            [(3, 1000), (99, 5)],
        ]
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(rows, ["k", "v"])
            stats = merge_additive_bucketed(
                spark, target, df, ["k"], ["v"], n_buckets=8, batch_id=bid
            )
            assert stats["applied"]
        allrows = [r for b in batches for r in b]
        want = {}
        for k, v in allrows:
            s, n = want.get(k, (0, 0))
            want[k] = (s + v, n + 1)
        assert self._state(spark, target) == want

    def test_replayed_batch_id_noops(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        target = str(tmp_path / "replay_agg.parquet")
        df = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
        assert merge_additive_bucketed(
            spark, target, df, ["k"], ["v"], n_buckets=4, batch_id=7
        )["applied"]
        res = merge_additive_bucketed(
            spark, target, df, ["k"], ["v"], n_buckets=4, batch_id=7
        )
        assert res == {"applied": False, "batch_id": 7, "reason": "already_applied"}
        assert self._state(spark, target) == {1: (10, 1), 2: (20, 1)}

    def test_crash_mid_commit_then_replay_is_exactly_once(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill between two bucket swaps AFTER the commit point, then
        replay the same batch: recovery must roll the commit forward AND
        record the batch id (the ledger update is part of the manifest
        sequence), so the replay no-ops — never a double-add, never a
        lost batch."""
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            BUCKET_COL,
            merge_additive_bucketed,
        )

        target = str(tmp_path / "crash_agg.parquet")
        base = spark.createDataFrame([(i, 1) for i in range(40)], ["k", "v"])
        merge_additive_bucketed(
            spark, target, base, ["k"], ["v"], n_buckets=8, batch_id=0
        )

        batch = spark.createDataFrame([(i, 10) for i in range(40)], ["k", "v"])
        real_rename = os.rename
        state = {"n": 0}

        def dying_rename(src, dst):
            if f"{BUCKET_COL}=" in str(dst) and str(dst).startswith(target):
                state["n"] += 1
                if state["n"] == 2:
                    raise RuntimeError("simulated crash mid-commit")
            return real_rename(src, dst)

        monkeypatch.setattr(merge_mod.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_additive_bucketed(
                spark, target, batch, ["k"], ["v"], n_buckets=8, batch_id=1
            )
        monkeypatch.setattr(merge_mod.os, "rename", real_rename)

        # replay the same epoch, as foreachBatch would after a restart:
        # recovery inside the call completes batch 1, then the id check
        # suppresses the re-add
        res = merge_additive_bucketed(
            spark, target, batch, ["k"], ["v"], n_buckets=8, batch_id=1
        )
        assert res["applied"] is False and res["reason"] == "already_applied"
        assert self._state(spark, target) == {i: (11, 2) for i in range(40)}

    def test_missing_batch_id_documented_hazard_still_adds(self, spark, tmp_path):
        """Without a batch_id the ledger cannot protect — a re-run adds
        again (documented). This test pins that contract explicitly so a
        future 'helpful' implicit dedup can't silently change semantics."""
        from database_clonev2_spark.pipeline.merge import merge_additive_bucketed

        target = str(tmp_path / "noid_agg.parquet")
        df = spark.createDataFrame([(1, 5)], ["k", "v"])
        merge_additive_bucketed(spark, target, df, ["k"], ["v"], n_buckets=4)
        merge_additive_bucketed(spark, target, df, ["k"], ["v"], n_buckets=4)
        assert self._state(spark, target) == {1: (10, 2)}


class TestRebucketTarget:
    """Round-5 (VERDICT r4 #3): one-off migration of a legacy flat merge
    target into the bucketed layout, giving streaming.sync's O(|target|)
    back-compat branch an exit path."""

    def test_flat_to_bucketed_preserves_rows_then_prunes(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            is_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
            rebucket_target,
        )

        target = str(tmp_path / "legacy.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(1, 201)], ["id", "name", "v"]
        )
        base.write.parquet(target)  # pre-round-4 flat layout
        assert not is_bucketed(target)
        logical_before = {
            r["id"]: (r["name"], r["v"]) for r in base.collect()
        }

        stats = rebucket_target(spark, target, ["id"], n_buckets=8)
        assert stats == {"rows": 200, "n_buckets": 8}
        assert is_bucketed(target)
        logical_after = {
            r["id"]: (r["name"], r["v"])
            for r in read_merge_target(spark, target).collect()
        }
        assert logical_after == logical_before  # identical logical rows

        # and the migrated target takes the pruned path: 1-key merge
        # rewrites exactly 1 bucket, other 7 stay byte-identical
        before = _partition_snapshot(target)
        assert len(before) == 8
        one = spark.createDataFrame([(7, "SEVEN", 0.0)], ["id", "name", "v"])
        s = merge_upsert_bucketed(spark, target, one, ["id"], n_buckets=8)
        assert s["touched_buckets"] == 1
        after = _partition_snapshot(target)
        changed = [b for b in before if before[b] != after[b]]
        assert len(changed) == 1
        for b in before:
            if b not in changed:
                assert before[b] == after[b]

    def test_rebucket_carries_high_water_sidecar(self, spark, tmp_path):
        """A flat target maintained by incremental_append keeps its
        bounded high-water mark across the migration."""
        from database_clonev2_spark.pipeline.merge import (
            incremental_append,
            rebucket_target,
        )

        target = str(tmp_path / "hw_legacy.parquet")
        src = spark.createDataFrame([(1, 10), (2, 20)], ["id", "wm"])
        incremental_append(spark, src, target, "wm")
        rebucket_target(spark, target, ["id"], n_buckets=4)
        s = incremental_append(spark, src, target, "wm")
        assert s["appended"] == 0 and s["total"] == 2
        assert s["high_water"] == "20"

    def test_rebucket_changes_n_buckets(self, spark, tmp_path):
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
            rebucket_target,
        )

        target = str(tmp_path / "resize.parquet")
        base = spark.createDataFrame([(i, i * 2) for i in range(100)], ["id", "v"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)
        stats = rebucket_target(spark, target, ["id"], n_buckets=16)
        assert stats["n_buckets"] == 16
        merge_upsert_bucketed(
            spark,
            target,
            spark.createDataFrame([(1, -2)], ["id", "v"]),
            ["id"],
            n_buckets=16,
        )
        got = {r["id"]: r["v"] for r in read_merge_target(spark, target).collect()}
        assert got[1] == -2 and len(got) == 100


class TestRuntimeBloomFilterJoin:
    def test_selective_dim_filter_injects_bloom_on_fact_scan(self, spark):
        """Runtime row-level filtering — the 100 TB semi-join-pushdown
        story: when a selective filter sits on the dim side of a shuffle
        join, Spark can build a bloom filter from it at runtime and
        apply it to the FACT side before the shuffle, cutting shuffle
        volume by the dim selectivity. Fixture sizes are below the
        default creation threshold, so the thresholds are lowered here
        to prove the plan rewrite engages and preserves answers; at real
        scale the defaults (10 MB creation side) trigger on their own."""
        from database_clonev2_spark.io import load

        sf = "/root/testdata/sf0.01"
        keys = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k) for k in keys}
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            li = load(spark, sf, "lineitem")
            o = load(spark, sf, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderstatus")
                .count()
            )
            opt = j._jdf.queryExecution().optimizedPlan().toString()
            phys = j._jdf.queryExecution().executedPlan().toString()
            assert "bloom_filter" in opt.lower(), opt
            assert "might_contain" in phys, phys
            with_bloom = {(r["o_orderstatus"], r["count"]) for r in j.collect()}
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
        li = load(spark, sf, "lineitem")
        o = load(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        plain = {
            (r["o_orderstatus"], r["count"])
            for r in li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
            .collect()
        }
        assert with_bloom == plain  # the rewrite never changes answers


class TestIncrementalAppend:
    def test_high_water_mark_sync(self, spark, sf_dir, tmp_path):
        from database_clonev2_spark.pipeline.merge import incremental_append

        target = str(tmp_path / "orders_sync.parquet")
        orders = load(spark, sf_dir, "orders")
        first_half = orders.filter(F.col("o_orderkey") < 750)
        s1 = incremental_append(spark, first_half, target, "o_orderkey")
        assert s1["appended"] == first_half.count() == s1["total"]

        # second sync with the full source appends only the new keys
        s2 = incremental_append(spark, orders, target, "o_orderkey")
        assert s2["appended"] == orders.count() - first_half.count()
        assert s2["total"] == orders.count()

        # third sync: nothing new
        s3 = incremental_append(spark, orders, target, "o_orderkey")
        assert s3["appended"] == 0 and s3["total"] == orders.count()

    def test_probe_never_reads_target_data_files(self, spark, sf_dir, tmp_path):
        """The VERDICT-r4 weak spot: the per-sync probe must be bounded
        metadata I/O, not a column scan of the target. Proven the blunt
        way: corrupt every parquet data file in the target — any attempt
        to read them throws — and the sync must still work off the
        sidecar."""
        import os as _os

        from database_clonev2_spark.pipeline.merge import incremental_append

        target = str(tmp_path / "orders_probe.parquet")
        orders = load(spark, sf_dir, "orders")
        first_half = orders.filter(F.col("o_orderkey") < 750)
        incremental_append(spark, first_half, target, "o_orderkey")

        for root, _dirs, files in _os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    with open(_os.path.join(root, f), "wb") as fh:
                        fh.write(b"\x00not a parquet file")

        s2 = incremental_append(spark, orders, target, "o_orderkey")
        assert s2["appended"] == orders.count() - first_half.count()
        assert s2["total"] == orders.count()

    def test_legacy_target_self_migrates(self, spark, sf_dir, tmp_path):
        """A plain parquet dir written before the sidecar existed gets the
        one-off column-scan probe, then the sidecar — every later sync is
        bounded (asserted via the same corrupt-the-data-files trick)."""
        import os as _os

        from database_clonev2_spark.pipeline.merge import (
            _hw_sidecar_path,
            incremental_append,
        )

        target = str(tmp_path / "orders_legacy.parquet")
        orders = load(spark, sf_dir, "orders")
        first_half = orders.filter(F.col("o_orderkey") < 750)
        first_half.write.parquet(target)  # no sidecar: legacy layout
        assert not _os.path.exists(_hw_sidecar_path(target))

        s2 = incremental_append(spark, orders, target, "o_orderkey")
        assert s2["appended"] == orders.count() - first_half.count()
        assert s2["total"] == orders.count()
        assert _os.path.exists(_hw_sidecar_path(target))

        for root, _dirs, files in _os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    with open(_os.path.join(root, f), "wb") as fh:
                        fh.write(b"\x00not a parquet file")
        s3 = incremental_append(spark, orders, target, "o_orderkey")
        assert s3["appended"] == 0 and s3["total"] == orders.count()


class TestFullDdlSurface:
    def test_all_nine_phases_render(self, spark):
        """The complete reference phase surface (Program.cs:56-112):
        database → schemas → tables → PK → CHECK → FK → indexes → fulltext
        → triggers, in dependency order."""
        from database_clonev2_spark.pipeline.ddl import (
            IndexSpec,
            TableSpec,
            TriggerSpec,
            generate_statements,
        )

        spec = TableSpec(
            name="docs",
            schema=T.StructType(
                [
                    T.StructField("id", T.LongType(), False),
                    T.StructField("body", T.StringType(), True),
                    T.StructField("status", T.StringType(), True),
                ]
            ),
            schema_name="content",
            primary_key=["id"],
            checks=[("CK_docs_status", "status IN ('a','b')")],
            indexes=[
                IndexSpec("IX_docs_status", ["status"], include_columns=["body"]),
                IndexSpec(
                    "IX_docs_active", ["id"], is_unique=True,
                    filter_predicate="status = 'a'",
                ),
            ],
            fulltext_columns=["body"],
            triggers=[
                TriggerSpec(
                    "trg_docs_audit",
                    "CREATE TRIGGER [trg_docs_audit] ON [docs] AFTER INSERT AS BEGIN SELECT 1 END",
                    is_disabled=True,
                )
            ],
        )
        stmts = generate_statements(spark, [spec]).orderBy("ordinal").collect()
        phases = [r["phase"] for r in stmts]
        # dependency order holds
        order = ["database", "schemas", "tables", "primary_keys", "checks",
                 "indexes", "fulltext", "triggers"]
        positions = [min(i for i, p in enumerate(phases) if p == ph) for ph in order]
        assert positions == sorted(positions)
        text = "\n".join(r["ddl_text"] for r in stmts)
        assert "EXEC('CREATE SCHEMA [content]')" in text
        assert "INCLUDE ([body])" in text
        assert "CREATE UNIQUE INDEX [IX_docs_active]" in text and "WHERE status = 'a'" in text
        assert "CREATE FULLTEXT INDEX ON [target].[docs] ([body]) KEY INDEX [PK_docs]" in text
        assert "DISABLE TRIGGER [trg_docs_audit]" in text

    def test_identity_rendered_and_probe_names_escaped(self, spark):
        """IDENTITY(seed, increment) must survive into the T-SQL export
        (ref Program.cs:210), and names embedded in catalog-probe string
        literals must escape single quotes (injection/breakage guard)."""
        from database_clonev2_spark.identity import identity_metadata
        from database_clonev2_spark.pipeline.ddl import (
            TableSpec,
            create_table_ddl,
            primary_key_ddl,
        )

        spec = TableSpec(
            name="o'brien",
            schema=T.StructType(
                [
                    T.StructField(
                        "id", T.LongType(), False, metadata=identity_metadata(100, 5)
                    ),
                    T.StructField("v", T.StringType(), True),
                ]
            ),
            primary_key=["id"],
        )
        ddl = create_table_ddl(spec)
        assert "[id] bigint IDENTITY(100, 5) NOT NULL" in ddl
        assert "name = 'o''brien'" in ddl  # probe literal escaped
        pk = primary_key_ddl(spec)
        assert "name = 'PK_o''brien'" in pk  # constraint probe escaped


class TestCli:
    def test_clone_and_validate_exit_codes(self, tmp_path):
        import subprocess, json as _json

        t = str(tmp_path / "cli_clone")
        # events included deliberately: `clone --validate` used to crash
        # reloading the cloned events table (ns→µs rewrite applied by table
        # name; ADVICE r1 high finding) — this drives the full repro path
        r = subprocess.run(
            [sys.executable, "-m", "database_clonev2_spark", "clone",
             "/root/testdata/sf0.001", t, "--tables", "region", "nation", "events",
             "--validate"],
            capture_output=True, text=True, cwd=REPO, timeout=240,
        )
        assert r.returncode == 0, r.stderr[-500:]
        out = _json.loads(r.stdout.strip().splitlines()[-1])
        assert set(out["copied"]) == {"region", "nation", "events"}
        assert out["validated"].endswith("cli_clone")  # cloned dir, not source
        assert not any(out["violations"].values())

    def test_ddl_execute_dialect_guard(self):
        import subprocess

        r = subprocess.run(
            [sys.executable, "-m", "database_clonev2_spark", "ddl",
             "/root/testdata/sf0.001", "--execute"],
            capture_output=True, text=True, cwd=REPO, timeout=60,
        )
        assert r.returncode == 1
        assert "requires --dialect spark" in r.stderr

    def test_sync_and_verify_replica_cli(self, spark, tmp_path):
        import subprocess, json as _json

        from database_clonev2_spark.pipeline.merge import (
            merge_delete_bucketed,
            merge_upsert_bucketed,
        )

        src = str(tmp_path / "src.parquet")
        rep = str(tmp_path / "rep.parquet")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
        merge_upsert_bucketed(
            spark, src, mk([(i, f"n{i}", 1) for i in range(1, 9)]), ["id"],
            n_buckets=2, order_col="ver", change_feed=True, batch_id=0,
        )
        r = subprocess.run(
            [sys.executable, "-m", "database_clonev2_spark", "sync",
             src, rep, "--keys", "id", "--buckets", "2"],
            capture_output=True, text=True, cwd=REPO, timeout=240,
        )
        assert r.returncode == 0, r.stderr[-500:]
        assert _json.loads(r.stdout.strip().splitlines()[-1])["epochs_applied"] == 1
        r = subprocess.run(
            [sys.executable, "-m", "database_clonev2_spark", "verify-replica",
             src, rep],
            capture_output=True, text=True, cwd=REPO, timeout=240,
        )
        assert r.returncode == 0, r.stderr[-500:]
        assert _json.loads(r.stdout.strip().splitlines()[-1])["match"] is True
        # diverge the replica locally; --repair heals and exits 0
        merge_delete_bucketed(
            spark, rep, spark.createDataFrame([(3,)], "id long"), ["id"],
            n_buckets=2,
        )
        r = subprocess.run(
            [sys.executable, "-m", "database_clonev2_spark", "verify-replica",
             src, rep, "--repair"],
            capture_output=True, text=True, cwd=REPO, timeout=240,
        )
        assert r.returncode == 0, r.stderr[-500:]
        out = _json.loads(r.stdout.strip().splitlines()[-1])
        assert out["match"] is False and out["match_after_repair"] is True



class TestRound7CrashWindows:
    """Round-7 (ADVICE r6): schema evolution rides the commit manifest,
    additive first-batch creation is single-rename atomic, and readers
    no longer race a live writer's in-flight commit."""

    def test_reader_leaves_live_writer_manifest_alone(self, spark, tmp_path):
        import json
        import os

        from store_lock import hold_store_lock

        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "live.parquet")
        base = spark.createDataFrame([(i, i * 10) for i in range(20)], ["id", "v"])
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)

        # hand-craft a LIVE manifest (published, its commit lock held)
        # that references a staging dir, as a concurrent writer
        # mid-commit would
        staging = f"{target}.__stage_deadbeef"
        os.makedirs(os.path.join(staging, "_bucket=0"))
        with open(os.path.join(target, "_commit.json"), "w") as fh:
            json.dump(
                {
                    "token": "deadbeef",
                    "staging": staging,
                    "buckets": [0],
                    "batch_id": None,
                    "schema_json": None,
                },
                fh,
            )
        with hold_store_lock(target):
            read_merge_target(spark, target).count()
            # the reader must not have replayed the writer's commit steps
            assert os.path.exists(os.path.join(target, "_commit.json"))
            assert os.path.isdir(staging)

        read_merge_target(spark, target).count()
        assert not os.path.exists(os.path.join(target, "_commit.json"))
        assert not os.path.isdir(staging)

    def test_evolved_schema_survives_crash_before_meta_write(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "evo_crash.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 30)], ["id", "name"]
        )
        merge_upsert_bucketed(spark, target, base, ["id"], n_buckets=4)

        upd = spark.createDataFrame([(1, "N1", 9.5)], ["id", "name", "score"])
        # the sidecar is published by _durable.write_json_atomic's replace
        real_replace = os.replace
        meta_final = os.path.join(target, "_merge_buckets.json")

        def dying_replace(src, dst):
            if str(dst) == meta_final:
                # crash AFTER the bucket swaps, BEFORE the evolved schema
                # reaches the sidecar — the exact ADVICE r6 window
                raise RuntimeError("simulated crash before meta write")
            return real_replace(src, dst)

        monkeypatch.setattr(merge_mod.os, "replace", dying_replace)
        with pytest.raises(RuntimeError, match="before meta write"):
            merge_upsert_bucketed(
                spark, target, upd, ["id"], n_buckets=4, allow_evolution=True
            )
        monkeypatch.setattr(merge_mod.os, "replace", real_replace)

        # mixed-schema buckets are committed, manifest dangles with the
        # evolved schema; recovery must persist it before any read
        assert os.path.exists(os.path.join(target, "_commit.json"))
        df = read_merge_target(spark, target)
        assert "score" in df.columns  # never silently dropped
        rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
        assert rows[1] == ("N1", 9.5)
        assert rows[2] == ("n2", None)  # untouched bucket reads NULL-backed
        assert not os.path.exists(os.path.join(target, "_commit.json"))

    def test_additive_first_batch_crash_is_exactly_once(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            applied_batches,
            merge_additive_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "first_crash.parquet")
        batch = spark.createDataFrame([(i, 5) for i in range(10)], ["k", "v"])
        real_rename = os.rename

        def dying_rename(src, dst):
            if str(dst) == target:
                # crash at the single commit point of first-batch creation
                raise RuntimeError("simulated crash before creation rename")
            return real_rename(src, dst)

        monkeypatch.setattr(merge_mod.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="creation rename"):
            merge_additive_bucketed(
                spark, target, batch, ["k"], ["v"], n_buckets=4, batch_id=0
            )
        monkeypatch.setattr(merge_mod.os, "rename", real_rename)

        # nothing committed, nothing in the ledger -> the foreachBatch
        # replay of epoch 0 must apply exactly once
        assert not os.path.exists(target)
        res = merge_additive_bucketed(
            spark, target, batch, ["k"], ["v"], n_buckets=4, batch_id=0
        )
        assert res["applied"] is True
        assert applied_batches(target) == [0]
        got = {r["k"]: (r["v"], r["_n"]) for r in spark.read.parquet(target).collect()}
        assert got == {i: (5, 1) for i in range(10)}
        # second replay no-ops
        res2 = merge_additive_bucketed(
            spark, target, batch, ["k"], ["v"], n_buckets=4, batch_id=0
        )
        assert res2["applied"] is False and res2["reason"] == "already_applied"
        assert read_merge_target(spark, target).count() == 10


class TestDeleteCrashWindows:
    """Round 7: the delete verb's emptied-bucket swap is the one commit
    shape no other merge produces (a staged EMPTY dir replacing a live
    bucket) — kill it between the two renames and show recovery rolls
    the deletion FORWARD instead of resurrecting the rows."""

    def test_emptied_bucket_crash_rolls_forward(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            BUCKET_COL,
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
        )

        target = str(tmp_path / "t.parquet")
        base = spark.createDataFrame(
            [(i, f"n{i}", 1) for i in range(1, 101)], ["id", "name", "ver"]
        )
        merge_upsert_bucketed(
            spark, target, base, ["id"], n_buckets=4, order_col="ver"
        )
        # every key in ONE bucket, plus a few elsewhere → the swap loop
        # moves one emptied bucket and >=1 rewritten bucket
        bucketed = bk.with_bucket(base, ["id"], 4)
        b0 = [r["id"] for r in bucketed.where(f"{BUCKET_COL} = 0").collect()]
        others = [
            r["id"] for r in bucketed.where(f"{BUCKET_COL} = 1").collect()
        ][:3]
        keys = spark.createDataFrame([(i,) for i in b0 + others], "id long")

        real_rename = os.rename
        state = {"bucket_renames": 0}

        def dying_rename(src, dst):
            if f"{BUCKET_COL}=" in str(dst) and str(dst).startswith(target):
                state["bucket_renames"] += 1
                if state["bucket_renames"] == 2:
                    raise RuntimeError("simulated crash mid-commit")
            return real_rename(src, dst)

        monkeypatch.setattr(merge_mod.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_delete_bucketed(spark, target, keys, ["id"], n_buckets=4)
        monkeypatch.setattr(merge_mod.os, "rename", real_rename)

        assert os.path.exists(os.path.join(target, "_commit.json"))
        got = {r["id"] for r in read_merge_target(spark, target).collect()}
        assert got == set(range(1, 101)) - set(b0) - set(others)
        assert not os.path.exists(os.path.join(target, "_commit.json"))
        residue = [
            s
            for s in os.listdir(str(tmp_path))
            if "__stage_" in s or "__old_" in s
        ]
        assert residue == [], residue
        # the emptied bucket dir is present-but-empty, and future writes
        # to it keep working
        merge_upsert_bucketed(
            spark, target,
            spark.createDataFrame([(b0[0], "back", 2)], ["id", "name", "ver"]),
            ["id"], n_buckets=4, order_col="ver",
        )
        assert read_merge_target(spark, target).where(
            f"id = {b0[0]}"
        ).first()["name"] == "back"


class TestApplyChangesCrashWindows:
    """Round 7: replica application shares the delete verb's commit
    mechanics (staged empty dirs incl.) — kill one epoch's swap mid-loop
    and show the replica rolls FORWARD to the fully-applied epoch, then
    keeps syncing."""

    def test_apply_crash_rolls_forward(self, spark, tmp_path, monkeypatch):
        import os

        from database_clonev2_spark.pipeline import merge as merge_mod
        from database_clonev2_spark.pipeline.merge import (
            BUCKET_COL,
            merge_delete_bucketed,
            merge_upsert_bucketed,
            read_merge_target,
            sync_replica_from_changes,
        )

        src = str(tmp_path / "src.parquet")
        rep = str(tmp_path / "rep.parquet")
        mk = lambda rows: spark.createDataFrame(rows, "id long, v string, ver long")
        merge_upsert_bucketed(
            spark, src, mk([(i, f"n{i}", 1) for i in range(1, 51)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=0,
        )
        sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
        # epoch 1 touches several buckets: updates + deletes
        merge_upsert_bucketed(
            spark, src, mk([(i, f"N{i}", 2) for i in range(1, 9)]), ["id"],
            n_buckets=4, order_col="ver", change_feed=True, batch_id=1,
        )
        merge_delete_bucketed(
            spark, src, spark.createDataFrame([(i,) for i in range(20, 30)], "id long"),
            ["id"], n_buckets=4, change_feed=True, batch_id=2,
        )

        real_rename = os.rename
        state = {"n": 0}

        def dying_rename(p_src, p_dst):
            if f"{BUCKET_COL}=" in str(p_dst) and str(p_dst).startswith(rep):
                state["n"] += 1
                if state["n"] == 2:
                    raise RuntimeError("simulated crash mid-apply")
            return real_rename(p_src, p_dst)

        monkeypatch.setattr(merge_mod.os, "rename", dying_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
        monkeypatch.setattr(merge_mod.os, "rename", real_rename)
        assert os.path.exists(os.path.join(rep, "_commit.json"))
        # the next sync first rolls the crashed epoch forward (its ledger
        # entry lands during recovery), then applies the remaining epoch
        sync_replica_from_changes(spark, rep, src, ["id"], n_buckets=4)
        assert not os.path.exists(os.path.join(rep, "_commit.json"))
        want = sorted(
            (r["id"], r["v"], r["ver"])
            for r in read_merge_target(spark, src).collect()
        )
        got = sorted(
            (r["id"], r["v"], r["ver"])
            for r in read_merge_target(spark, rep).collect()
        )
        assert got == want and len(got) == 40
