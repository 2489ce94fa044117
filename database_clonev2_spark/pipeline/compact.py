"""Small-file compaction for parquet targets — the maintenance pass every
continuously-appended table needs.

Why this exists: the streaming sync (streaming/sync.py) and incremental
append (pipeline/merge.py) write one file set per micro-batch; at 100 TB
that is the classic small-file disease — parquet footers dominate I/O,
driver file listings balloon, and scan parallelism degrades into
per-tiny-file tasks. The reference never faces this (SQL Server owns its
pages, Program.cs delegates storage entirely); an engine that owns parquet
layout must re-own it periodically. Lakehouse formats run the same job as
OPTIMIZE / rewrite_data_files; this is the plain-parquet equivalent,
committed with the same near-atomic directory swap the merge path uses.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ._buckets import (
    BUCKET_COL,
    HW_FILE,
    commit_staged_buckets,
    is_bucketed,
    new_staging,
    recover_pending,
    swap_write,
)

# Default target: a modest multiple of a row-group, small enough for the
# local fixtures to exercise multi-file outputs, large enough that the
# file count drops by orders of magnitude. Production would target
# 128-512 MiB files; the knob is bytes, so the same call scales.
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def _zorder_numeric(df: DataFrame, col: str) -> Column:
    """Order-preserving numeric view of a clusterable column. Z-order
    needs a total order it can bin; hashing a string would destroy the
    locality the footers rely on, so non-ordinal types are refused
    rather than silently degraded."""
    dt = dict(df.dtypes)[col]
    if dt in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(col)).cast("double")
    if dt == "date":
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith(
        "decimal"
    ):
        return F.col(col).cast("double")
    raise ValueError(
        f"zorder_by needs an ordinal column; {col} is {dt} "
        "(strings have no binnable order — use cluster_by, or derive an "
        "ordinal key first)"
    )


def _zvalue_column(df: DataFrame, cols: list[str], bits: int) -> Column:
    """Interleaved-bit z-value over equi-DEPTH per-column bins.

    Each column is binned by its own approximate quantile edges (one
    sketch pass over the frame, driver-side edge list of 2^bits-1
    doubles — metadata, not data), NOT min/max scaling: under skew a
    uniform grid collapses most rows into a handful of cells and the
    interleaving stops discriminating, while quantile bins keep cell
    occupancy balanced by construction. Binning is a size(filter(...))
    over the broadcast edge array — a pure JVM higher-order function,
    2^bits comparisons per row per column (bits=8 default: 256), which
    whole-stage codegen handles; this is a maintenance-job cost, not a
    query-path cost. NULLs bin to 0 (sort first, one cell). Bit i of
    every column's bin lands in one interleaved group, so a predicate
    on ANY clustered column prunes files — the property linear
    cluster_by only gives its leading key."""
    if not (1 <= bits <= 16):
        raise ValueError("bits must be in [1, 16]")
    n_bins = 1 << bits
    numeric = {c: _zorder_numeric(df, c) for c in cols}
    probe = df.select(
        *[expr.alias(f"_z{i}") for i, expr in enumerate(numeric.values())]
    )
    probs = [i / n_bins for i in range(1, n_bins)]
    edges_per_col = probe.stat.approxQuantile(
        [f"_z{i}" for i in range(len(cols))], probs, 1.0 / (4 * n_bins)
    )
    z = F.lit(0).cast("long")
    k = len(cols)
    for j, (col, expr) in enumerate(numeric.items()):
        # duplicate edges (heavy hitters) collapse to fewer effective
        # bins — correct, just coarser on that dimension
        edges = sorted(set(edges_per_col[j]))
        if not edges:  # all-NULL column: one degenerate bin
            continue
        bin_id = F.size(
            F.filter(
                F.array(*[F.lit(e) for e in edges]).cast("array<double>"),
                lambda e: expr >= e,
            )
        ).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bin_id, i).bitwiseAND(F.lit(1)),
                i * k + (k - 1 - j),
            )
    return z


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_compact: int = 2,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> dict[str, int]:
    """Rewrite a parquet directory into ``ceil(total_bytes /
    target_file_bytes)`` files, preserving every row byte-for-byte
    (logical content; row order within files is not part of the parquet
    contract). No-ops when the directory already has fewer than
    ``min_files_to_compact`` data files. Commit is the merge path's
    near-atomic swap: new files are fully written beside the target
    before two renames publish them, so readers never observe a
    half-compacted table (the crash window is the documented
    ``swap_write`` one).

    Scale notes: ``coalesce`` (not ``repartition``) avoids a shuffle —
    compaction is pure I/O re-binning, and the narrow dependency lets
    input files stream straight into output writers. For a BUCKETED
    merge target (pipeline/merge.py layout) compaction must run
    per-bucket-directory to preserve the bucket invariant — use
    ``rebucket_target`` for that layout instead; this utility guards
    against misuse by refusing paths carrying a bucket sidecar.

    ``cluster_by`` (round 7): additionally SORT-CLUSTER the rewrite on
    the given columns — ``repartitionByRange`` + ``sortWithinPartitions``,
    the plain-parquet equivalent of OPTIMIZE ... ZORDER's single-column
    case / Iceberg's sort-order rewrite. Files then hold disjoint key
    ranges and every parquet footer's min/max stats become selective, so
    a point or range predicate on the cluster key skips whole files and
    row groups at the scan (the dominant read-amplification lever for a
    100 TB append stream queried by time or tenant). This variant DOES
    shuffle (range partitioning is a repartition — the price of global
    order); run it on the cadence of a maintenance job, not per append.
    Appends after clustering un-sort only the new files: stats of the
    clustered files stay valid, so skipping degrades gracefully until
    the next pass.

    ``zorder_by`` (round 7): MULTI-dimensional clustering. Linear
    ``cluster_by (a, b)`` makes footers selective only on ``a`` — every
    file still spans ``b``'s full range, so a predicate on ``b`` alone
    skips nothing. Z-ordering interleaves the bits of per-column
    equi-depth bin ids into one sort key (the space-filling-curve trick
    behind OPTIMIZE ... ZORDER / Iceberg's z-order rewrite), so each
    file covers a small hyper-rectangle and min/max footers prune on
    EVERY clustered dimension. The price: per-dimension ranges are
    coarser than a dedicated linear sort — use cluster_by when one
    predicate column dominates, zorder_by when several matter.
    Mutually exclusive with cluster_by.

    Returns {files_before, files_after, rows, bytes_before}.
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    sidecar = os.path.join(path, "_merge_buckets.json")
    if os.path.exists(sidecar):
        raise ValueError(
            "bucketed merge target: compact per bucket via rebucket_target "
            "(flat compaction would destroy the bucket-pruning invariant)"
        )
    files_before, bytes_before = _dir_stats(path)
    if files_before == 0:
        # empty / freshly-created directory: a parquet read would raise
        # UNABLE_TO_INFER_SCHEMA — this is a clean no-op, not an error
        return {
            "files_before": 0,
            "files_after": 0,
            "rows": 0,
            "bytes_before": 0,
        }
    if files_before < min_files_to_compact and not cluster_by and not zorder_by:
        # a clustering request overrides the few-files short-circuit
        # (round 7, review-caught): a single large UNSORTED file is
        # precisely what clustering exists to fix — silently no-opping it
        # would leave footer stats non-selective with no signal to the
        # caller
        df = spark.read.parquet(path)
        return {
            "files_before": files_before,
            "files_after": files_before,
            "rows": df.count(),
            "bytes_before": bytes_before,
        }
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))
    df = spark.read.parquet(path)
    if cluster_by:
        df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    elif zorder_by:
        z = _zvalue_column(df, zorder_by, zorder_bits)
        df = (
            df.withColumn("_zval", z)
            .repartitionByRange(n_out, "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")  # projection preserves per-partition order
        )
    else:
        df = df.coalesce(n_out)
    # the incremental-append high-water sidecar travels INSIDE the swap
    # (copied into the new directory before the renames), so no crash
    # position can produce a compacted table that lost its mark — losing
    # it silently demotes the next sync to the O(|target|) legacy scan
    rows = swap_write(spark, df, path, preserve_files=(HW_FILE,))
    files_after, _ = _dir_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
        "bytes_before": bytes_before,
    }


def compact_bucketed_target(
    spark: SparkSession,
    target_path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    buckets: list[int] | None = None,
    min_files_to_compact: int = 2,
    cluster_by: list[str] | None = None,
) -> dict:
    """Small-file compaction for BUCKETED merge targets (round 7) — the
    remedy ``compact_parquet`` refuses to apply: a bucketed table fed by
    bucket-aware appends (``incremental_append``) accumulates one file set
    per batch INSIDE each touched bucket (a merge rewrites a touched
    bucket as one file, more only when AQE splits an oversized one), and
    until now the only exit was ``rebucket_target``'s full O(|target|)
    rewrite. This compacts per bucket, preserving the
    bucket-pruning invariant by construction (rows never change buckets),
    and commits through the SAME manifest-guarded multi-bucket swap as
    the merges themselves — so a crash mid-compaction rolls forward and
    readers never see a half-compacted bucket, and the meta/high-water/
    ledger/hist sidecars at the target root are untouched by the swap.

    ``buckets`` selects a subset — the amortization knob: a maintenance
    job can walk a 4096-bucket table a slice per run instead of paying
    one big rewrite. Buckets already at or under ``min_files_to_compact``
    files are skipped (no work, no swap) unless ``cluster_by`` is given —
    the same override rule as the flat path. ``cluster_by`` sorts each
    bucket's rewrite (range partition + in-file sort) so footer min/max
    become selective WITHIN the bucket: bucket pruning cuts by key hash,
    then footer skipping cuts by the sort key — two independent levers.

    The per-bucket loop is driver-side but bounded by n_buckets
    (metadata scale, same as the merges' touched-bucket collect); each
    iteration is one narrow coalesce read-write unless clustering.

    Returns {buckets_compacted, buckets_skipped, files_before,
    files_after}.
    """
    path_str = str(target_path)
    if not is_bucketed(path_str):
        raise ValueError(
            "not a bucketed merge target (no _merge_buckets.json); use "
            "compact_parquet for flat parquet directories"
        )
    recover_pending(path_str)
    existing = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path_str)
        if d.startswith(f"{BUCKET_COL}=")
    )
    selected = existing if buckets is None else [b for b in buckets if b in existing]
    bad = [] if buckets is None else [b for b in buckets if b not in existing]
    if bad:
        raise ValueError(f"buckets {bad} do not exist in the target (has {existing})")

    token, staging = new_staging(path_str)
    touched: list[int] = []
    files_before_total = files_after_total = skipped = 0
    for b in selected:
        bdir = os.path.join(path_str, f"{BUCKET_COL}={b}")
        n_files, n_bytes = _dir_stats(bdir)
        if n_files < min_files_to_compact and not cluster_by:
            skipped += 1
            continue
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        df = spark.read.parquet(bdir)
        if cluster_by:
            df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = df.coalesce(n_out)
        df.write.parquet(os.path.join(staging, f"{BUCKET_COL}={b}"))
        touched.append(b)
        files_before_total += n_files
        files_after_total += _dir_stats(os.path.join(staging, f"{BUCKET_COL}={b}"))[0]
    if touched:
        commit_staged_buckets(path_str, token, staging, touched)
    else:
        shutil.rmtree(staging, ignore_errors=True)
    return {
        "buckets_compacted": len(touched),
        "buckets_skipped": skipped,
        "files_before": files_before_total,
        "files_after": files_after_total,
    }
