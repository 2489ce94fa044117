"""The clone pipeline — tier B (SURVEY.md §2.B), Parquet→Parquet.

Reference shape (Program.cs:56-112): a fixed-phase orchestrator that
recreates every schema object then copies every table's rows, idempotently
and continue-on-error. Spark redesign decisions (SURVEY.md §3):

- **No client materialization.** The reference pulls whole tables into RAM
  (``ToList()``, Program.cs:611,692 — its scalability cliff) and re-reads
  non-identity tables twice. Here each table copy is one lazy
  ``read → align → write`` plan; executors stream partitions, the double
  read disappears under lazy evaluation.
- **Concurrent tables.** The reference is strictly sequential (one table,
  one batch at a time, Program.cs:76-79). Per-table jobs here run from a
  thread pool; Spark's scheduler interleaves their stages.
- **Idempotency as anti-join semantics** (A14): a table already present in
  the target is skipped, making re-runs no-ops — the reference gets this
  from ``IF NOT EXISTS`` guards.
- **Identity preservation** (B4): source key values are copied verbatim —
  exactly the reference's ``SET IDENTITY_INSERT ON`` behavior
  (Program.cs:625-674). No renumbering.
- **Constraints become validation queries** (§1.1): Spark does not enforce
  PK/FK/CHECK; the pipeline renders them into the DDL export and *checks*
  them with aggregate/anti-join queries, reporting violations.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import FIXTURE_TABLES, load, read_parquet, table_path
from .ddl import TableSpec


@dataclass
class CloneResult:
    copied: dict[str, int] = field(default_factory=dict)  # table -> rows written
    skipped: list[str] = field(default_factory=list)  # idempotent no-ops
    empty: list[str] = field(default_factory=list)  # B7 short-circuits
    errors: dict[str, str] = field(default_factory=dict)


def align_columns(df: DataFrame, target_schema) -> DataFrame:
    """Column alignment (B8, ref Program.cs:619,646-651,717-735): target
    column order drives the projection; missing source columns become typed
    NULLs; extra source columns are dropped."""
    cols = []
    for f in target_schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def clone_table(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    name: str,
    target_schema=None,
    overwrite: bool = False,
    fmt: str = "parquet",
) -> tuple[str, int]:
    """One table copy: lazy read → align → single write action.
    Returns (status, rows). Statuses: copied / skipped / empty.
    ``fmt`` selects the sink format (parquet/orc/csv/json via sources.write_table)."""
    from ..sources import write_table

    suffix = "parquet" if fmt == "parquet" else fmt
    dest = os.path.join(target_dir, f"{name}.{suffix}")
    if os.path.exists(dest) and not overwrite:
        return ("skipped", 0)  # A14 idempotency
    df = load(spark, source_dir, name)
    if target_schema is not None:
        df = align_columns(df, target_schema)
    # B7 empty-table short-circuit. isEmpty() reads at most one row.
    if df.isEmpty():
        return ("empty", 0)
    write_table(df, dest, fmt=fmt, mode="overwrite" if overwrite else "errorifexists")
    # row-count echo (ref Program.cs:682) — read back through the same format
    if fmt == "parquet":
        # through the schema registry: later loads of ``dest`` skip inference
        n = read_parquet(spark, dest).count()
    elif fmt == "orc":
        n = spark.read.orc(dest).count()
    else:
        from ..sources import read_csv, read_json

        n = (
            read_csv(spark, dest, df.schema) if fmt == "csv" else read_json(spark, dest, df.schema)
        ).count()
    return ("copied", n)


def clone_database(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    tables: list[str] | None = None,
    overwrite: bool = False,
    max_concurrency: int = 4,
    fmt: str = "parquet",
) -> CloneResult:
    """The orchestrator (B1, ref CloneDatabase Program.cs:56-112): copy all
    tables, concurrently, continue-on-error (B10). Tables are independent —
    the thread pool submits one Spark job per table and the scheduler
    interleaves stages across them."""
    result = CloneResult()
    try:
        os.makedirs(target_dir, exist_ok=True)
    except OSError as exc:
        # setup failure is reported, not raised — same continue-on-error
        # observability as per-table failures (B10)
        result.errors["__target__"] = f"{type(exc).__name__}: {exc}"
        return result
    names = tables or [
        t for t in FIXTURE_TABLES if os.path.exists(table_path(source_dir, t))
    ]

    def run(name: str):
        try:
            status, n = clone_table(
                spark, source_dir, target_dir, name, overwrite=overwrite, fmt=fmt
            )
            return name, status, n, None
        except Exception as exc:  # noqa: BLE001 - continue-on-error (B10)
            return name, "error", 0, f"{type(exc).__name__}: {exc}"

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        for name, status, n, err in pool.map(run, names):
            if status == "copied":
                result.copied[name] = n
            elif status == "skipped":
                result.skipped.append(name)
            elif status == "empty":
                result.empty.append(name)
            else:
                result.errors[name] = err
    return result


# --- constraint validation (PK/UQ/FK/CHECK as queries, SURVEY.md §1.1) -----


def validate_primary_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """PK/UQ as a validation query: duplicate key groups (must be empty)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def validate_foreign_key(
    child: DataFrame, child_cols: list[str], parent: DataFrame, parent_cols: list[str]
) -> DataFrame:
    """FK as a validation query: orphaned child keys via left-anti join
    (must be empty). The parent side is key-projected and deduped before
    the join, so only distinct keys shuffle."""
    parent_keys = parent.select(
        *[F.col(p).alias(c) for c, p in zip(child_cols, parent_cols)]
    ).distinct()
    all_present = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in child_cols])
    return (
        child.select(*child_cols)
        .where(all_present)  # NULL FKs are legal, as in SQL semantics
        .join(parent_keys, child_cols, "left_anti")
    )


def validate_check(df: DataFrame, check_expr: str) -> DataFrame:
    """CHECK as a validation query: rows violating the expression."""
    return df.filter(~F.expr(check_expr))


FIXTURE_SPECS: list[TableSpec] = []  # populated lazily by fixture_specs()

# The fixture star schema's constraint catalog — hoisted to module level
# in round 13 so metadata-only consumers (the FK-closure query derives its
# edge list from FIXTURE_FKS) can read it WITHOUT paying fixture_specs'
# ten parquet-footer schema loads (~1.0-1.3 s of py4j round-trips measured
# at sf0.1 — pure waste for a caller that never touches the schemas).
# fixture_specs() consumes the same dicts, so there is still exactly one
# source of truth for the FK graph.
#
# lineitem's nominal composite PK (l_orderkey, l_linenumber) is
# deliberately ABSENT: the synthetic fixture plants ~12k duplicate
# pairs (FIXTURES.md documents the nominal key; the data violates it),
# so declaring it would fail validation by design. Real sources declare
# it and get the full PK validation + DDL.
FIXTURE_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXTURE_FKS: dict[str, list[tuple]] = {
    "nation": [("FK_nation_region", ["n_regionkey"], "region", ["r_regionkey"])],
    "customer": [("FK_customer_nation", ["c_nationkey"], "nation", ["n_nationkey"])],
    "supplier": [("FK_supplier_nation", ["s_nationkey"], "nation", ["n_nationkey"])],
    "orders": [("FK_orders_customer", ["o_custkey"], "customer", ["c_custkey"])],
    "lineitem": [
        ("FK_lineitem_orders", ["l_orderkey"], "orders", ["o_orderkey"]),
        ("FK_lineitem_part", ["l_partkey"], "part", ["p_partkey"]),
        ("FK_lineitem_supplier", ["l_suppkey"], "supplier", ["s_suppkey"]),
    ],
}
FIXTURE_CHECKS: dict[str, list[tuple]] = {
    "lineitem": [("CK_lineitem_qty", "l_quantity >= 0")],
    "orders": [("CK_orders_price", "o_totalprice >= 0")],
}


def fixture_specs(spark: SparkSession, sf_dir: str) -> list[TableSpec]:
    """TableSpecs for the fixture star schema: PKs and the FK chain
    lineitem→orders→customer→nation→region, supplier→nation,
    lineitem→part/supplier (FIXTURES.md). Constraint dicts live at module
    level (FIXTURE_PKS/FIXTURE_FKS/FIXTURE_CHECKS) since round 13; this
    adds the live schemas, which is the expensive part."""
    pk, fks, checks = FIXTURE_PKS, FIXTURE_FKS, FIXTURE_CHECKS
    specs = []
    for t in FIXTURE_TABLES:
        if not os.path.exists(table_path(sf_dir, t)):
            continue
        specs.append(
            TableSpec(
                name=t,
                schema=load(spark, sf_dir, t).schema,
                primary_key=pk.get(t, []),
                foreign_keys=fks.get(t, []),
                checks=checks.get(t, []),
            )
        )
    return specs


def validate_database(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Run every constraint of the fixture schema as a validation query and
    return violation counts — the observable replacement for engine-enforced
    constraints.

    All checks run as ONE action: each violation frame is tagged with its
    check name, the frames are unioned, and one ``groupBy("check").count()``
    collects every count, so the checks' stages run concurrently instead of
    as one sequential job per check. Checks without violations are absent
    from that result and zero-filled here."""
    checks: dict[str, DataFrame] = {}
    for s in fixture_specs(spark, sf_dir):
        df = load(spark, sf_dir, s.name)
        if s.primary_key:
            checks[f"pk:{s.name}"] = validate_primary_key(df, s.primary_key)
        for name, child_cols, parent, parent_cols in s.foreign_keys:
            checks[f"fk:{name}"] = validate_foreign_key(
                df, child_cols, load(spark, sf_dir, parent), parent_cols
            )
        for name, expr in s.checks:
            checks[f"ck:{name}"] = validate_check(df, expr)
    if not checks:
        return {}
    tagged = [v.select(F.lit(k).alias("check")) for k, v in checks.items()]
    counts = {
        r["check"]: r["count"]
        for r in reduce(lambda a, b: a.union(b), tagged).groupBy("check").count().collect()
    }
    return {k: counts.get(k, 0) for k in checks}


# --- index → physical layout mapping (SURVEY.md §1.1 index row) -----------


@dataclass
class LayoutSpec:
    """The Spark translation of a SQL Server index definition
    (sys.indexes/sys.index_columns, ref Program.cs:412-461): clustered index
    → sort layout; nonclustered index on a key → bucketing; filtered index
    → partition pruning columns."""

    partition_by: list[str] = field(default_factory=list)
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 8
    sort_within: list[str] = field(default_factory=list)


def clone_table_with_layout(
    spark: SparkSession,
    source_dir: str,
    name: str,
    table_name: str,
    layout: LayoutSpec,
) -> int:
    """Copy a table into a managed table with an index-derived physical
    layout (bucketBy requires saveAsTable). Bucketed + sorted layout gives
    co-located, pre-sorted joins on the bucket key — the Spark analogue of
    a clustered index seek; partition columns give pruning — the analogue
    of a filtered index."""
    df = load(spark, source_dir, name)
    writer = df.write.mode("overwrite").format("parquet")
    if layout.partition_by:
        writer = writer.partitionBy(*layout.partition_by)
    if layout.bucket_by:
        writer = writer.bucketBy(layout.n_buckets, *layout.bucket_by)
        if layout.sort_within:
            writer = writer.sortBy(*layout.sort_within)
    writer.saveAsTable(table_name)
    return spark.table(table_name).count()
