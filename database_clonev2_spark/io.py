"""Parquet-directory "database" accessors.

A directory of parquet files plays the role of the reference's source
database (one file per table, SURVEY.md §5/FIXTURES.md). All reads are lazy
DataFrames — the engine never materializes a table driver-side (the
reference's scalability cliff, Program.cs:611)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ._cache import register_cache, session_key

FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale factor —
# region/nation are bounded by geography; supplier/customer/part grow with SF
# and are left to AQE's dynamic broadcast decision.
BROADCAST_DIMS = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Inferred parquet schemas, one entry per (session, path, nanosAsLong):
# the fingerprint the schema was read from, and the schema. Its own group,
# so a sketch-scoped clear never drops it.
_SCHEMAS = register_cache("schema")


def _fingerprint(path: str):
    """``(relpath, st_ino, st_size, st_mtime_ns)`` of every file under
    ``path`` (or of ``path`` itself for a single-file table), so any
    rewrite, swap, append or delete changes it. None when ``path`` is not
    a readable local file or directory."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_ino, st.st_size, st.st_mtime_ns))
        return tuple(out)
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The one schema-less parquet read. Spark infers a parquet schema
    with a footer-reading job; this infers it once per file set and reads
    with the stored schema afterwards (SURVEY.md §1.3).

    A miss runs the plain ``spark.read.parquet`` and returns that frame
    (re-reading it through its own schema would resolve the relation a
    second time). A hit is ``spark.read.schema(stored).parquet(path)``,
    which plans to the same relation. The nanosAsLong conf is part of the
    key because it changes what inference returns (``load`` sets it)."""
    fp = _fingerprint(path)
    if fp is None:  # not local, or gone: let Spark report it
        return spark.read.parquet(path)
    key = (
        session_key(spark),
        os.path.abspath(path),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fp, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan; Catalyst prunes columns and pushes filters.

    ``events.ts`` is physically TIMESTAMP(NANOS), which Spark's parquet reader
    rejects; it is read as nanos-since-epoch (``nanosAsLong``) and converted
    to TIMESTAMP_NTZ by truncating to micros — the same truncation DuckDB
    applies when casting TIMESTAMP_NS, so oracle comparisons stay exact."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, table_path(sf_dir, name))
        # Gate the rewrite on the PHYSICAL type, not the table name: only
        # when the nanosAsLong fallback actually fired does ``ts`` resolve
        # to LongType. Cloned/derived events tables already carry a micros
        # TIMESTAMP(_NTZ) column — rewriting those threw DATATYPE_MISMATCH
        # on reload (clone --validate / manifest on cloned output).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        ts_field = next((f for f in df.schema.fields if f.name == "ts"), None)
        if ts_field is not None and isinstance(ts_field.dataType, LongType):
            # integer division: nanos exceed 2^53, double division would round
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df
    return read_parquet(spark, table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in FIXTURE_TABLES if os.path.exists(table_path(sf_dir, t))}


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-size conf string → bytes ('128m', '1g', '134217728',
    '128MB' all accepted — the subset Spark's own JavaUtils grammar uses
    for these confs)."""
    s = v.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def _spread(df: DataFrame, key: str, splits) -> DataFrame:
    """The one spread rule behind ``load_spread`` and ``spread_frame``:
    hash-repartition ``df`` on ``key`` to ``defaultParallelism`` when its
    split count — ``splits()``, None if unknown — starves the session's
    cores (under half of them). Otherwise ``df`` comes back unchanged.

    Hashing on the downstream grouping key keeps the assignment
    deterministic under retries (guide §2.5: never derive a synthetic key
    from rand()) and avoids round-robin's sort-before-repartition cost."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 2:
        return df
    cur = splits()
    if cur is None or 2 * cur >= target:
        return df
    return df.repartition(target, key)


def load_spread(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """``load`` + scale-adaptive scan widening for CPU-heavy per-row work
    (round 13, guide §2.5 "input skew: one huge unsplittable file").

    A parquet scan parallelizes at ROW-GROUP granularity, and each fixture
    table is one single-row-group file — so every scan stage is ONE task,
    and the expensive scan-side work of the text/dedup family (tokenize,
    shingle explode, per-shingle hashing, signature aggregation) serializes
    on one core of local[32] (measured: the shingle stream alone 1.06 s
    single-task vs 0.58 s spread; the fingerprint chain 3.2 s vs 2.1 s).

    The fix is the guide's own: repartition on ``key`` immediately after
    the read — but ONLY when the scan is actually starved, so the extra
    exchange never fires at real scale. The decision is made from file
    bytes vs ``spark.sql.files.maxPartitionBytes`` (no planning
    round-trip): when the file already yields at least
    ~defaultParallelism/2 splits — any production-sized input — this
    returns the plain lazy scan unchanged.

    NOT applied blanket in ``load``: for shuffle-light relational
    aggregations the extra exchange of the raw rows costs more than the
    single-task scan saves (measured: lineitem groupBy 0.47 s single-task
    vs 1.14 s through a repartition) — only the explode/hash-heavy
    pipelines opt in, at their registered call sites."""

    def est_splits():
        try:
            file_bytes = os.path.getsize(table_path(sf_dir, name))
            max_split = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        except (OSError, ValueError):
            return None
        return max(1, file_bytes // max(max_split, 1))

    return _spread(load(spark, sf_dir, name), key, est_splits)


def spread_frame(df: DataFrame, key: str) -> DataFrame:
    """``load_spread``'s rule for a frame that is NOT a raw table scan:
    when a checkpointed frame's ACTUAL partition count starves the
    session's cores, hash-repartition it on ``key`` before CPU-heavy
    per-row work.

    CONTRACT (enforced): the input must be an RDD-scan leaf
    (``localCheckpoint()`` / ``checkpoint()``), where
    ``rdd.getNumPartitions()`` is a metadata read. On any other frame —
    lazy, or persisted (whose cache may not even be filled yet) — the
    same call plans the frame on every invocation; checkpoint first, or
    extend ``load_spread``'s byte-size estimate instead. A
    production-scale frame has >= cores partitions and this is a no-op."""
    # if/raise, not assert (the house rule: contracts must survive -O)
    plan = df._jdf.queryExecution().analyzed().toString()
    if not plan.startswith("LogicalRDD"):
        raise ValueError(
            "spread_frame expects a materialized localCheckpoint()/checkpoint() "
            f"frame; got a {plan.split(None, 1)[0]} plan — localCheckpoint it "
            "first, or use load_spread for raw table scans"
        )
    return _spread(df, key, lambda: df.rdd.getNumPartitions())
