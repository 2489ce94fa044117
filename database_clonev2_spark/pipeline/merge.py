"""Merge / upsert and incremental append over parquet targets.

BASELINE.json's north star flags "incremental sync" as the gap cloning
tools usually leave to external tooling; this module closes it with plain
parquet semantics (no Delta/Iceberg dependency in this environment — with a
lakehouse format available, ``merge_upsert`` becomes a single MERGE INTO
and gains snapshot isolation):

- ``merge_upsert_bucketed`` (the scale path): the target is laid out as
  parquet partitioned on ``_bucket = pmod(xxhash64(key), N)``. Each merge
  computes the update rows' bucket ids (≤N integers — metadata, not data),
  reads ONLY the touched partitions (partition pruning at the scan), merges
  within them, and rewrites ONLY those partitions via dynamic partition
  overwrite. Per-merge cost is O(|updates| + |touched buckets|), NOT
  O(|target|): a micro-batch touching 1 of N buckets of a 100 TB table
  reads and rewrites ~1/N of it and leaves the other N−1 partition
  directories byte-identical (asserted in tests).
- ``merge_upsert`` (legacy/flat layout): key-matched rows are replaced by
  the update rows, unmatched update rows are inserted. Implemented as
  ``target ANTI-JOIN updates ∪ updates`` — one shuffle on the key — then a
  write-new + directory-swap (rename), so readers never observe a
  half-written table (see swap_write for the exact guarantee). Cost is
  O(|target|) per call; use the bucketed form for repeated/continuous
  merges.
- ``incremental_append``: append only source rows whose watermark column
  exceeds the target's current maximum — the classic high-water-mark sync.
  The high-water mark is persisted in a ``_high_water.json`` sidecar
  (same pattern as ``_merge_buckets.json``) updated on every append, so a
  sync probes a few bytes of metadata instead of scanning the target's
  watermark column; the column scan remains only as the one-off fallback
  for targets that predate the sidecar (and self-migrates them).
"""


from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._durable import (
    _BATCHES_FILE,
    _BATCHES_KEEP,
    append_applied_batch,
    applied_batches,
    epoch_dir_name,
    write_json_atomic,
)
from ._buckets import (
    BUCKET_COL,
    HW_FILE,
    QUIESCE_FILE,
    await_quiesce,
    checked_meta,
    commit_staged_buckets,
    count_pair,
    create_store,
    has_pending_commit,
    hold_quiesce,
    is_bucketed,
    is_protocol_entry,
    list_changes,
    new_staging,
    probe_epoch,
    prune_changes,
    read_bucket_meta,
    read_changes,
    recorded_schema,
    recover_pending,
    release_quiesce,
    request_quiesce,
    stage_buckets,
    swap_write,
    widened_schema,
    with_bucket,
    write_bucket_meta,
)

# The layout, staging, commit, recovery, quiesce and change-feed
# mechanics are the bucketed store's (``_buckets``); its public names
# this module always exported (``BUCKET_COL``, ``is_bucketed``,
# ``recorded_schema``, ``QUIESCE_FILE``, ``request_quiesce``,
# ``release_quiesce``) stay importable from here, and so do these:
recover_pending_commit = recover_pending
list_merge_changes = list_changes
prune_merge_changes = prune_changes


_HIST_FILE = "_hist_edges.json"


def _hist_edges_path(target_path: str) -> str:
    return os.path.join(target_path, _HIST_FILE)


def _read_hist_edges(target_path: str) -> dict[str, list[float]]:
    try:
        with open(_hist_edges_path(target_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _write_hist_edges(dir_path: str, edges: dict[str, list[float]]) -> None:
    write_json_atomic(os.path.join(dir_path, _HIST_FILE), edges)


def _validate_hist_edges(hist_cols: dict[str, list[float]]) -> None:
    for c, edges in hist_cols.items():
        if not edges or list(edges) != sorted(set(edges)):
            raise ValueError(
                f"hist_cols[{c!r}]: edges must be non-empty and strictly "
                "increasing"
            )


def _hist_bin_expr(col: str, edges: list[float]):
    """0-based bin id of a raw value: #edges <= value, i.e. bin 0 is
    (-inf, e0), bin i is [e_{i-1}, e_i), bin n is [e_{n-1}, inf). Pure
    JVM higher-order function over the broadcast edge array."""
    return F.size(
        F.filter(
            F.array(*[F.lit(e) for e in edges]).cast("array<double>"),
            lambda e: F.col(col).cast("double") >= e,
        )
    )


def _hist_partial_agg(col: str, edges: list[float]):
    """Per-batch histogram partial: one combinable SUM per bin, packed
    into an array<long>. NULLs count in no bin (same convention as every
    other maintained aggregate)."""
    b = _hist_bin_expr(col, edges)
    return F.array(
        *[
            F.sum(
                F.when(F.col(col).isNotNull() & (b == i), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long")
            for i in range(len(edges) + 1)
        ]
    ).alias(f"{col}_hist")


def _hist_combine_agg(col: str, n_bins: int):
    """Element-wise array sum across grouped rows. collect_list is
    BOUNDED here: the combine groups hold at most 2 rows per key (the
    target's partial and the batch's partial) — never corpus-sized."""
    return F.aggregate(
        F.collect_list(f"{col}_hist"),
        F.array_repeat(F.lit(0).cast("long"), n_bins),
        lambda acc, h: F.zip_with(acc, h, lambda x, y: x + y),
    ).alias(f"{col}_hist")


def _change_schema(spark: SparkSession, target_path: str):
    """The change feed's schema: the target's recorded schema without
    the layout column, plus ``change_type``."""
    from pyspark.sql import types as T

    return T.StructType(
        [f for f in recorded_schema(spark, target_path) if f.name != BUCKET_COL]
        + [T.StructField("change_type", T.StringType(), True)]
    )


def read_merge_changes(
    spark: SparkSession, target_path: str, epochs: list[str] | None = None
) -> DataFrame:
    """Change rows (target schema + ``change_type``) for the given
    epochs (default: all published). Explicit schema, so empty change
    sets read cleanly."""
    recover_pending_commit(target_path, only_if_stale=True)
    return read_changes(
        spark, target_path, epochs, _change_schema(spark, target_path)
    )


def read_merge_changes_stream(spark: SparkSession, target_path: str) -> DataFrame:
    """STREAMING reader over a target's published change feed: a file
    stream on ``_changes/epoch-*`` that discovers each newly-committed
    epoch's files on its next micro-batch — the continuous tail of the
    CDC log (the batch ``read_merge_changes`` is the catch-up face).
    Adds ``_epoch`` (the numeric epoch id parsed from the file path,
    NULL for non-numeric batch ids) so a consumer has the source COMMIT
    ORDER as a column: pass it as ``stream_apply_cdc``'s ``order_col``
    and a micro-batch that catches up several epochs at once resolves
    each key to its latest change — within one epoch a key appears at
    most once live (the feed's contract), so epoch order IS a total
    order per key. Requires the target to exist with at least its meta
    sidecar (the schema must be known before the first epoch arrives).

    The feed directory is append-only and each epoch dir is published
    by a single atomic rename AFTER its files are fully written, so the
    file source never observes a half-written epoch. Epochs pruned by
    ``prune_merge_changes`` after this stream processed them are fine
    (the source remembers processed files, never re-lists them); do not
    prune epochs a NEW checkpoint has not consumed yet."""
    schema = _change_schema(spark, target_path)
    # the feed dir may not exist before the first published epoch; the
    # file source needs the glob's parent present to start tailing
    os.makedirs(os.path.join(target_path, "_changes"), exist_ok=True)
    ep = F.regexp_extract(F.input_file_name(), r"epoch-(\d+)/", 1)
    return (
        spark.readStream.schema(schema)
        .parquet(os.path.join(target_path, "_changes", "epoch-*"))
        # when-without-otherwise → NULL on non-numeric ids; the guarded
        # cast stays ANSI-safe ('' would raise under ansi.enabled)
        .withColumn("_epoch", F.when(ep != "", ep).cast("long"))
    )


#: change_type → signed weight for additive folds. insert/postimage add
#: a row's contribution; preimage (and a future delete) retracts one.
_CHANGE_WEIGHTS = {
    "insert": 1,
    "update_postimage": 1,
    "update_preimage": -1,
    "delete": -1,
}


def fold_changes_additive(
    spark: SparkSession,
    view_path: str,
    target_path: str,
    group_cols: list[str],
    val_cols: list[str],
    epochs: list[str] | None = None,
    n_buckets: int = 32,
) -> list[dict]:
    """Fold an upsert target's CDC epochs into a downstream additive
    view that tracks GROUP BY aggregates of the target's CURRENT STATE
    — the end of the incremental chain: upsert clone → change feed →
    maintained aggregate, no tier ever rescanning another's history.

    Each epoch's change rows become signed deltas — insert/
    update_postimage weigh +1, update_preimage (and a future delete)
    −1, with ``val_cols`` pre-multiplied by the weight — and add into
    ``merge_additive_bucketed(weight_col=...)`` under the epoch name as
    the exactly-once batch id, so re-folding a consumed epoch no-ops.
    An update's pre/post pair therefore nets to exactly new−old, and
    after folding every published epoch the view equals the plain
    GROUP BY over the target (the ``cdc_chain_consistency`` driver
    query's oracle-checked claim). Read via ``read_additive_view``,
    filtering ``_n != 0`` if whole groups can vanish. Epoch order is
    irrelevant (addition commutes); cost per fold is the additive
    operator's O(|epoch| + touched buckets).

    An unknown ``change_type`` raises rather than folding: SUM would
    silently skip a NULL weight — dropped retractions corrupt the view
    invisibly, the exact failure mode this helper exists to prevent.
    The probe is a distinct over the epoch's tag column (map-side
    combinable, ≤4 values), not a data-sized collect."""
    names = list_merge_changes(target_path) if epochs is None else list(epochs)
    results = []
    for name in names:
        ch = read_merge_changes(spark, target_path, [name])
        tags = {
            r["change_type"]
            for r in ch.select("change_type").distinct().collect()
        }
        unknown = tags - set(_CHANGE_WEIGHTS)
        if unknown:
            raise ValueError(
                f"epoch {name} carries unknown change_type values "
                f"{sorted(unknown)}; known: {sorted(_CHANGE_WEIGHTS)}"
            )
        w = F.coalesce(
            *[
                F.when(F.col("change_type") == t, F.lit(wt))
                for t, wt in _CHANGE_WEIGHTS.items()
            ]
        )
        signed = ch.select(
            *group_cols,
            *[(F.col(c) * w).alias(c) for c in val_cols],
            w.alias("_w"),
        )
        results.append(
            merge_additive_bucketed(
                spark,
                view_path,
                signed,
                group_cols,
                val_cols,
                n_buckets=n_buckets,
                batch_id=name,
                weight_col="_w",
            )
        )
    return results


def prune_consumed_changes(
    target_path: str, consumer_paths: list[str]
) -> list[str]:
    """Retention for the change feed: drop every published epoch that
    ALL listed consumers have already applied (their applied-batch
    ledgers record epoch names as batch ids — the fold/replica/SCD-2
    consumers all do this), returning the pruned epoch names. The feed
    otherwise grows forever; pruning only the common-applied prefix is
    what keeps a lagging consumer able to catch up. A consumer created
    but never synced has an empty ledger → nothing prunes, by design.
    Run after sync cycles, from the same serialized writer context as
    the merges (pruning races a reader mid-catch-up otherwise)."""
    consumed = None
    for p in consumer_paths:
        applied = {str(b) for b in applied_batches(p)}
        consumed = applied if consumed is None else (consumed & applied)
    victims = [
        n for n in list_merge_changes(target_path) if n in (consumed or set())
    ]
    prune_merge_changes(target_path, victims)
    return victims


def read_merge_target(spark: SparkSession, target_path: str) -> DataFrame:
    """Read a merge target as its logical table (bucketed layouts drop the
    ``_bucket`` layout column; flat layouts read as-is). Completes any
    crashed multi-bucket merge commit first (see recover_pending_commit),
    so a reader after a crash sees the consistent post-merge snapshot,
    never a half-swapped one. Targets that have undergone SCHEMA
    EVOLUTION (see merge_upsert_bucketed's allow_evolution) are read with
    the evolved schema recorded in the meta sidecar — untouched buckets'
    pre-evolution files surface the added columns as NULLs; a bare
    spark.read.parquet would instead pick ONE file's footer and
    nondeterministically show or hide the new columns."""
    # only_if_stale: readers run concurrently with a single writer, so a
    # manifest here may be a LIVE commit — recover only when its writer
    # no longer holds the store's commit lock
    recover_pending_commit(target_path, only_if_stale=True)
    reader = spark.read
    if is_bucketed(target_path):
        reader = reader.schema(recorded_schema(spark, target_path))
    df = reader.parquet(target_path)
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    validate_unique: bool = True,
) -> dict[str, int]:
    """UPSERT: update-by-key + insert-new. Returns counts
    {before, updates, after}. Update rows win over target rows on key
    collision; duplicate keys inside `updates` are an error the caller
    owns (validated with a duplicate probe unless the caller already
    guarantees uniqueness, e.g. output of a groupBy on the key)."""
    if validate_unique:
        dup = updates.groupBy(*key_cols).count().filter(F.col("count") > 1).isEmpty()
        if not dup:
            raise ValueError(f"updates contain duplicate keys on {key_cols}")
    target = spark.read.parquet(target_path)
    before = target.count()
    kept = target.join(updates.select(*key_cols), key_cols, "left_anti")
    merged = kept.unionByName(updates.select(*target.columns))
    after = swap_write(spark, merged, target_path)
    return {"before": before, "updates": updates.count(), "after": after}


def merge_upsert_bucketed(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    n_buckets: int = 32,
    order_col: str | None = None,
    validate_unique: bool = True,
    allow_evolution: bool = False,
    change_feed: bool = False,
    batch_id=None,
) -> dict[str, int]:
    """Partition-pruned UPSERT — the O(|updates|) merge.

    CHANGE FEED (round 7): with ``change_feed=True`` (requires a
    ``batch_id``), each merge additionally publishes the rows it
    ACTUALLY changed, tagged ``change_type`` following Delta Lake's
    Change Data Feed row convention: 'insert' (key absent before), or —
    for a key present with any payload column genuinely different — an
    'update_preimage'/'update_postimage' PAIR carrying the old and new
    row. The preimage is what lets a downstream incremental aggregate
    RETRACT the replaced contribution (``fold_changes_additive``);
    after-images alone cannot maintain SUM/COUNT of current state. A
    late batch losing the ``order_col`` competition emits NOTHING for
    that key. The feed lands durably under
    ``_changes/epoch-<batch_id>/`` INSIDE the commit manifest sequence,
    making the clone target itself a CDC source downstream consumers
    can tail (``read_merge_changes``). Emission is exactly-once even
    though the merge itself is replay-idempotent: the batch id joins
    the applied ledger as part of the commit, so a replayed epoch
    skips BOTH the recompute and the re-emission. The extra cost is
    one before/after comparison join scoped to the touched buckets —
    the opt-in price of knowing what changed. Prune consumed epochs
    with ``prune_merge_changes`` (the feed otherwise grows forever).

    SCHEMA EVOLUTION (round 6): updates carrying columns the target does
    not have are an ERROR by default (the previous behavior silently
    DROPPED them — data loss). With ``allow_evolution=True`` the new
    columns are added lazily: the target is read with the widened schema
    (pre-evolution parquet files surface them as NULLs — no rewrite of
    untouched buckets), update rows missing old columns are null-filled,
    and the widened schema is recorded in the meta sidecar so
    ``read_merge_target`` presents every bucket consistently. The
    untouched N−1 buckets' files stay byte-identical; ``rebucket_target``
    physically normalizes them if ever wanted. Column REMOVAL/renames are
    out of scope (write a new target).

    Target layout: parquet ``partitionBy(_bucket)`` with
    ``_bucket = pmod(xxhash64(*key_cols), n_buckets)``. Per merge:

    1. bucket the update rows (map-only);
    2. probe them in ONE aggregate grouped by (key, bucket): the row
       count, the most rows any key has (the duplicate-key check) and
       the sorted DISTINCT touched bucket ids — at most ``n_buckets``
       integers, metadata-scale by construction (this is the one
       collect, and it cannot exceed one row of N ids regardless of
       data size);
    3. scan ONLY the touched partitions (``_bucket IN (...)`` prunes at
       the file index — untouched partition directories are never read);
    4. merge within the touched buckets: without ``order_col``, update
       rows win (anti-join + union); with ``order_col``, target rows
       COMPETE — ``max_by(payload, order_col)`` over the union — so a
       late/replayed batch carrying an older version never regresses the
       target (same contract as streaming.sync);
    5. rewrite ONLY the touched partitions, ONE file per touched bucket:
       the staged write is REBALANCEd on ``_bucket`` so each bucket is
       written by one task (AQE still splits a bucket larger than the
       advisory partition size), and the touched before/after row counts
       are one tagged-union action over the old and the staged buckets.

    Replay-idempotent: re-running a committed merge recomputes the same
    per-bucket result (the anti-join removes what the previous run
    inserted; ``max_by`` re-picks the same winner), which makes it a safe
    foreachBatch body — at-least-once replay converges to exactly-once
    state.

    Sizing ``n_buckets`` at 100 TB: each touched bucket is read and
    rewritten whole, so pick N such that |target|/N fits comfortably in a
    task wave (e.g. 100 TB / 4096 buckets ≈ 25 GB per bucket, further
    split by maxPartitionBytes at scan time). N is fixed at first write
    (recorded in a ``_merge_buckets.json`` sidecar and validated on every
    merge); changing it requires a one-off rewrite.

    Atomicity (round-5 staging + round-6 commit manifest): the merged
    touched-bucket output is staged to a SIBLING directory first; once
    fully written and counted, a ``_commit.json`` manifest (token,
    staging dir, touched bucket ids) is durably recorded INSIDE the
    target — the commit point — and only then are the per-bucket renames
    performed, after which the manifest is removed. A crash anywhere is
    recoverable to a consistent snapshot with no lost rows: before the
    manifest exists the target was never touched (stale staging is swept
    as garbage); after it, ``recover_pending_commit`` — invoked by the
    next merge or ``read_merge_target`` — rolls the remaining swaps
    FORWARD from the staged data (which is complete by construction at
    the commit point) and finishes cleanup, idempotently. Kill-tested
    mid-swap-loop in tests/test_clone_pipeline.py. A concurrent reader
    planning a scan mid-swap can still miss one in-flight bucket's rows;
    snapshot isolation needs a lakehouse format (Delta/Iceberg MERGE)
    over this same layout. Writers must be serialized per target
    (single-writer assumption — the manifest slot is singular).

    Returns counts scoped to the TOUCHED buckets (counting the full
    target would be the O(|target|) scan this function exists to avoid):
    {before_touched, updates, after_touched, touched_buckets, n_buckets}.
    """
    if BUCKET_COL in updates.columns:
        # review-caught (round 4): silently hashing over a user column
        # named _bucket would corrupt it invisibly
        raise ValueError(
            f"updates already contain the reserved layout column {BUCKET_COL!r}"
        )
    if change_feed and batch_id is None:
        raise ValueError(
            "change_feed needs a batch_id: it names the change epoch and "
            "keys the replay dedup (without it a replayed merge would "
            "re-emit its changes)"
        )
    if change_feed and batch_id in applied_batches(target_path):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    # persisted: the probe, the merge and the change feed must see the
    # same rows, or a bucket the merge writes could miss the manifest
    upd = with_bucket(updates, key_cols, n_buckets).persist()
    try:
        probe = probe_epoch(
            upd, [*key_cols, BUCKET_COL] if validate_unique else [BUCKET_COL]
        )
        if not probe["rows"]:
            # review-caught (round 4): an empty first write would create a
            # schemaless parquet dir + the bucket sidecar, permanently
            # poisoning the target path (every later read throws
            # UNABLE_TO_INFER_SCHEMA). An empty merge is a no-op either way.
            if change_feed and os.path.exists(target_path):
                # the epoch IS processed (it changed nothing): record it so a
                # replay short-circuits instead of re-running the emptiness probe
                append_applied_batch(target_path, batch_id)
            return {
                "before_touched": 0,
                "updates": 0,
                "after_touched": 0,
                "touched_buckets": 0,
                "n_buckets": n_buckets,
            }
        if validate_unique and probe["max_per_group"] > 1:
            raise ValueError(f"updates contain duplicate keys on {key_cols}")
        n_updates, touched = probe["rows"], probe["touched"]

        if not os.path.exists(target_path):
            # data, meta sidecar, change set and ledger entry land in the
            # one creating rename (a crash between a bare write and the
            # meta write used to leave a target that failed is_bucketed)
            def fill(staging):
                stage_buckets(spark, upd, staging)
                write_bucket_meta(staging, n_buckets, list(key_cols))
                if change_feed:
                    # creation: every row is an insert
                    upd.drop(BUCKET_COL).withColumn(
                        "change_type", F.lit("insert")
                    ).write.parquet(
                        os.path.join(staging, "_changes", epoch_dir_name(batch_id))
                    )

            create_store(target_path, fill, batch_id if change_feed else None)
            out = {
                "before_touched": 0,
                "updates": n_updates,
                "after_touched": n_updates,
                "touched_buckets": n_buckets,
                "n_buckets": n_buckets,
            }
            if change_feed:
                out["change_dir"] = epoch_dir_name(batch_id)
            return out

        if not is_bucketed(target_path):
            raise ValueError(
                f"{target_path} is not a bucketed merge target; use merge_upsert "
                "for flat layouts or rewrite it once via merge_upsert_bucketed "
                "on a fresh path"
            )
        recover_pending_commit(target_path)  # finish any crashed predecessor
        if change_feed and batch_id in applied_batches(target_path):
            # the recovery may have just completed THIS batch's crashed commit
            return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
        meta = checked_meta(target_path, n_buckets, key_cols)

        # schema reconciliation (see docstring "SCHEMA EVOLUTION"). An
        # schema resolution/widening shared with the replica-apply and
        # SCD-2-fold paths (recorded_schema/widened_schema docstrings)
        target_schema = recorded_schema(spark, target_path)
        target_cols = [f.name for f in target_schema if f.name != BUCKET_COL]
        extra = [c for c in upd.columns if c not in (*target_cols, BUCKET_COL)]
        missing_in_upd = [c for c in target_cols if c not in upd.columns]
        evolved_schema_json = None
        if extra and not allow_evolution:
            raise ValueError(
                f"updates carry columns the target lacks: {extra} — pass "
                "allow_evolution=True to add them (pre-evolution rows read as "
                "NULL), or drop them explicitly. (Silently discarding them, the "
                "pre-round-6 behavior, was data loss.)"
            )
        if extra:
            widened = widened_schema(target_schema, upd.schema, extra)
            evolved_schema_json = widened.json()
        elif meta.get("schema_json"):
            widened = target_schema  # evolved target: keep reading through it
        for c in missing_in_upd:
            upd = upd.withColumn(c, F.lit(None).cast(target_schema[c].dataType))
        non_key = [c for c in upd.columns if c not in (*key_cols, BUCKET_COL)]

        reader = spark.read
        if extra or meta.get("schema_json"):
            reader = reader.schema(widened)
        target = reader.parquet(target_path).filter(F.col(BUCKET_COL).isin(touched))
        if order_col is None:
            kept = target.join(upd.select(*key_cols), key_cols, "left_anti")
            merged = kept.unionByName(upd.select(*kept.columns))
        else:
            combined = target.unionByName(upd.select(*target.columns))
            merged = (
                combined.groupBy(*key_cols, BUCKET_COL)
                .agg(F.max_by(F.struct(*non_key), F.col(order_col)).alias("_s"))
                .select(
                    *key_cols,
                    *[F.col(f"_s.{c}").alias(c) for c in non_key],
                    BUCKET_COL,
                )
            )
        # stage the merged touched buckets next to the target, record the
        # commit manifest, then swap per bucket dir — old data survives
        # until its staged replacement is fully written, and a crash
        # after the manifest rolls forward (see docstring crash semantics)
        token, staging = new_staging(target_path)
        staged = stage_buckets(spark, merged, staging)
        before, after = count_pair(target, staged)
        change_dir = None
        if change_feed:
            # what ACTUALLY changed: post-merge winners for the update
            # keys vs their before-rows — a key whose winner is the old
            # row (late order_col batch) emits nothing. Updates emit a
            # pre/post image PAIR (Delta Lake CDF's update_preimage/
            # update_postimage convention) so a downstream aggregate can
            # RETRACT the old contribution — after-images alone cannot
            # maintain SUM/COUNT of the target's current state.
            change_dir = epoch_dir_name(batch_id)
            upd_keys = upd.select(*key_cols).distinct()
            before_p = target.join(upd_keys, key_cols, "left_semi").select(
                *key_cols, F.struct(*non_key).alias("_old")
            )
            after_p = staged.join(upd_keys, key_cols, "left_semi").select(
                *key_cols, *non_key, F.struct(*non_key).alias("_new")
            )
            paired = after_p.join(before_p, key_cols, "left").persist()
            try:
                post = (
                    paired.withColumn(
                        "change_type",
                        F.when(F.col("_old").isNull(), F.lit("insert")).when(
                            ~F.col("_new").eqNullSafe(F.col("_old")),
                            F.lit("update_postimage"),
                        ),
                    )
                    .where(F.col("change_type").isNotNull())
                    .select(*key_cols, *non_key, "change_type")
                )
                pre = paired.where(
                    F.col("_old").isNotNull() & ~F.col("_new").eqNullSafe(F.col("_old"))
                ).select(
                    *key_cols,
                    *[F.col(f"_old.{c}").alias(c) for c in non_key],
                    F.lit("update_preimage").alias("change_type"),
                )
                post.unionByName(pre).write.parquet(os.path.join(staging, "__changes"))
            finally:
                paired.unpersist()
        # the evolved schema rides the commit manifest so it reaches the
        # meta sidecar before the manifest is removed — a crash between
        # the bucket swaps and the meta write is rolled forward with the
        # schema intact (round 7, review-caught: the old post-commit
        # write_bucket_meta left a window where committed mixed-schema
        # buckets had no recorded schema)
        commit_staged_buckets(
            target_path,
            token,
            staging,
            touched,
            batch_id=batch_id if change_feed else None,
            schema_json=evolved_schema_json,
            change_dir=change_dir,
        )
        out = {
            "before_touched": before,
            "updates": n_updates,
            "after_touched": after,
            "touched_buckets": len(touched),
            "n_buckets": n_buckets,
        }
        if change_feed:
            out["change_dir"] = change_dir
        return out

    finally:
        upd.unpersist()


def merge_delete_bucketed(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_cols: list[str],
    n_buckets: int = 32,
    change_feed: bool = False,
    batch_id=None,
) -> dict:
    """Partition-pruned DELETE — the missing verb of the bucketed CRUD
    set: remove every target row matching ``keys`` (projected to
    ``key_cols``, deduplicated), touching only the keys' buckets and
    committing through the same manifest-guarded swap as the upsert.
    With ``change_feed=True`` each removed row is published to the
    target's CDC log tagged ``change_type='delete'`` (carrying the full
    deleted payload — the preimage), which ``fold_changes_additive``
    already weighs −1, so downstream maintained aggregates retract the
    deleted contributions with no new consumer wiring.

    Last-writer semantics, deliberately: the delete applies
    unconditionally to whatever the target holds NOW — there is no
    version competition against ``order_col`` and no tombstone kept, so
    an update arriving AFTER the delete re-inserts its row. Ordered
    interleaving of deletes and updates needs tombstone state this
    plain-parquet layout does not keep (the same by-design boundary as
    min/max under retraction); sequence deletes through the same serial
    writer as the merges.

    Exactly-once: with a ``batch_id`` (required when ``change_feed``
    names the epoch) a replayed call no-ops via the applied-batch
    ledger — the anti-join itself is idempotent, but the feed emission
    is not, and an epoch replayed after later writes would otherwise
    delete rows it never saw. Two delete-specific mechanics keep the
    commit machinery uniform: (a) a bucket whose every row is deleted
    still gets a staged dir (an EMPTY one, created explicitly —
    partitionBy writes nothing for an empty partition, and a touched
    bucket with no staged replacement would be rolled BACKWARD by
    recovery, resurrecting the deleted rows); (b) the target's schema
    is recorded in the meta sidecar as part of the commit, so a target
    whose last row is deleted still reads with its real schema instead
    of dying on empty-dir inference.

    Cost: O(|keys| + touched buckets) — the untouched N−k partition
    directories are never read or written. 100 TB sizing as for
    ``merge_upsert_bucketed``.
    """
    if change_feed and batch_id is None:
        raise ValueError(
            "change_feed needs a batch_id: it names the change epoch and "
            "keys the replay dedup"
        )
    if not os.path.exists(target_path):
        raise ValueError(f"delete target {target_path} does not exist")
    if not is_bucketed(target_path):
        raise ValueError(
            f"{target_path} is not a bucketed merge target; deletes need "
            "the bucketed layout (rebucket_target migrates a flat one)"
        )
    if batch_id is not None and batch_id in applied_batches(target_path):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    recover_pending_commit(target_path)
    if batch_id is not None and batch_id in applied_batches(target_path):
        # the recovery may have just completed THIS batch's crashed commit
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    checked_meta(target_path, n_buckets, key_cols)
    target_schema = recorded_schema(spark, target_path)
    reader = spark.read.schema(target_schema)

    kd = with_bucket(keys.select(*key_cols).distinct(), key_cols, n_buckets)
    kd = kd.persist()
    try:
        touched = sorted(
            r[BUCKET_COL] for r in kd.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            if batch_id is not None:
                append_applied_batch(target_path, batch_id)
            return {
                "before_touched": 0,
                "deleted": 0,
                "after_touched": 0,
                "touched_buckets": 0,
                "n_buckets": n_buckets,
            }
        target = reader.parquet(target_path).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        kept = target.join(kd.select(*key_cols), key_cols, "left_anti")
        token, staging = new_staging(target_path)
        before, after = count_pair(
            target, stage_buckets(spark, kept, staging, touched)
        )
        change_dir = None
        if change_feed:
            change_dir = epoch_dir_name(batch_id)
            removed = target.join(kd.select(*key_cols), key_cols, "left_semi")
            non_key = [
                c for c in removed.columns if c not in (*key_cols, BUCKET_COL)
            ]
            removed.select(
                *key_cols, *non_key, F.lit("delete").alias("change_type")
            ).write.parquet(os.path.join(staging, "__changes"))
        commit_staged_buckets(
            target_path,
            token,
            staging,
            touched,
            batch_id=batch_id,
            schema_json=target_schema.json(),
            change_dir=change_dir,
        )
    finally:
        kd.unpersist()
    out = {
        "before_touched": before,
        "deleted": before - after,
        "after_touched": after,
        "touched_buckets": len(touched),
        "n_buckets": n_buckets,
    }
    if change_feed:
        out["change_dir"] = change_dir
    return out


def apply_merge_changes(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    key_cols: list[str],
    n_buckets: int = 32,
    batch_id=None,
    allow_evolution: bool = False,
) -> dict:
    """Apply ONE epoch of CDC rows to a bucketed REPLICA target — the
    consumer side of the change feed for a row-level copy rather than
    an aggregate: insert/update_postimage rows upsert, delete rows
    remove, update_preimage rows are informational and ignored. Feeding
    a target's published epochs through this IN ORDER reproduces the
    source exactly (``sync_replica_from_changes`` packages the loop),
    which is how a clone chains replicas without ever re-reading the
    source's full state — each hop moves only changed rows.

    The whole epoch lands in ONE manifest-guarded commit: both change
    kinds' buckets are read once, the anti-join removes every changed
    key's old row, the upserts union back in, and fully-emptied buckets
    stage explicit empty dirs (the delete verb's mechanics). One commit
    means one ledger entry — a replayed epoch no-ops atomically rather
    than half-applying (the two-verb alternative would need two ledger
    slots per epoch and could crash between them). The epoch's input
    questions — its change tags, duplicate keys, touched buckets and
    upsert/delete counts — are one aggregate (``probe_epoch``).

    The feed is trusted as already-resolved: rows apply unconditionally
    (the source's merge already ran the order_col competition — its
    losers never reached the feed). Epochs DO NOT commute (unlike
    additive folds): apply in the source's commit order, which
    ``list_merge_changes`` yields (natural-ordered epoch names).
    Exactly one change row per key per epoch is the feed's contract;
    violating inputs raise. Cost: O(|epoch| + touched buckets).

    SCHEMA EVOLUTION (round 8): change rows carrying columns the replica
    lacks are an ERROR by default (silently dropping them would diverge
    the copy — the r7 contract). With ``allow_evolution=True`` the new
    columns flow through exactly as in ``merge_upsert_bucketed``: the
    replica is read with the widened schema (pre-evolution files surface
    the added columns as NULL — no rewrite of untouched buckets), and
    the widened schema commits atomically inside the same manifest as
    the epoch's data, so a replica chain follows an upstream ALTER TABLE
    without a rebuild. Column removal/renames remain out of scope."""
    if BUCKET_COL in changes.columns:
        raise ValueError(
            f"changes already contain the reserved layout column {BUCKET_COL!r}"
        )
    if "change_type" not in changes.columns:
        raise ValueError("changes must carry a change_type column")
    if batch_id is not None and batch_id in applied_batches(target_path):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    # persisted: the probe, the anti-join and the upserts must see the
    # same rows, or a bucket the write stages could miss the manifest
    live = with_bucket(
        changes.where(F.col("change_type") != "update_preimage"),
        key_cols,
        n_buckets,
    ).persist()
    try:
        probe = probe_epoch(live, [*key_cols, BUCKET_COL], changes=True)
        unknown = probe["tags"] - {"insert", "update_postimage", "delete"}
        if unknown:
            raise ValueError(
                f"unknown change_type values {sorted(unknown)} — cannot apply"
            )
        if probe["max_per_group"] > 1:
            raise ValueError(
                f"multiple live change rows per key on {key_cols} in one epoch "
                "— the feed emits at most one; split the input by epoch"
            )
        n_dels = probe["deletes"]
        n_ups = probe["rows"] - n_dels
        payload_cols = [c for c in live.columns if c not in ("change_type", BUCKET_COL)]
        ups = live.where(F.col("change_type") != "delete").select(
            *payload_cols, BUCKET_COL
        )

        if not os.path.exists(target_path):
            # first epoch: creation — mirror the additive/upsert staged
            # creation so data, layout meta, and ledger commit in one rename
            if n_dels:
                raise ValueError(
                    "cannot apply delete rows to a target that does not exist "
                    "yet — the first applied epoch must be insert-only"
                )
            if not n_ups:
                raise ValueError(
                    "cannot create a target from an epoch with no rows — a "
                    "bucketed target takes its schema from its first rows"
                )
            def fill(staging):
                stage_buckets(spark, ups, staging)
                write_bucket_meta(staging, n_buckets, list(key_cols))

            create_store(target_path, fill, batch_id)
            return {
                "upserted": n_ups,
                "deleted": 0,
                "touched_buckets": n_buckets,
                "n_buckets": n_buckets,
            }

        if not is_bucketed(target_path):
            raise ValueError(f"{target_path} is not a bucketed merge target")
        recover_pending_commit(target_path)
        if batch_id is not None and batch_id in applied_batches(target_path):
            return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
        checked_meta(target_path, n_buckets, key_cols)
        target_schema = recorded_schema(spark, target_path)
        tcols = [f.name for f in target_schema if f.name != BUCKET_COL]
        extra = [c for c in payload_cols if c not in tcols]
        if extra and not allow_evolution:
            raise ValueError(
                f"change rows carry columns the replica lacks: {extra} — "
                "the source evolved; pass allow_evolution=True to follow it "
                "(pre-evolution rows read as NULL), silently dropping them "
                "would diverge the copy"
            )
        if extra:
            # widen: the replica follows the source's ALTER TABLE. The
            # widened schema reads pre-evolution files with the new columns
            # as NULL and commits inside this epoch's manifest (below).
            target_schema = widened_schema(target_schema, live.schema, extra)
            tcols = tcols + extra
        # change rows missing replica columns (an older-schema epoch applied
        # to an already-evolved replica) null-fill, mirroring the upsert path
        for c in (c for c in tcols if c not in ups.columns):
            ups = ups.withColumn(c, F.lit(None).cast(target_schema[c].dataType))
        touched = probe["touched"]
        if not touched:
            if batch_id is not None:
                append_applied_batch(target_path, batch_id)
            return {
                "upserted": 0,
                "deleted": 0,
                "touched_buckets": 0,
                "n_buckets": n_buckets,
            }
        target = (
            spark.read.schema(target_schema)
            .parquet(target_path)
            .filter(F.col(BUCKET_COL).isin(touched))
        )
        kept = target.join(live.select(*key_cols), key_cols, "left_anti")
        merged = kept.unionByName(ups.select(*tcols, BUCKET_COL))
        token, staging = new_staging(target_path)
        stage_buckets(spark, merged, staging, touched)
        commit_staged_buckets(
            target_path,
            token,
            staging,
            touched,
            batch_id=batch_id,
            schema_json=target_schema.json(),
        )
        return {
            "upserted": n_ups,
            "deleted": n_dels,
            "touched_buckets": len(touched),
            "n_buckets": n_buckets,
        }

    finally:
        live.unpersist()


def sync_replica_from_changes(
    spark: SparkSession,
    replica_path: str,
    source_path: str,
    key_cols: list[str],
    n_buckets: int = 32,
    allow_evolution: bool = False,
) -> list[dict]:
    """Catch a replica up to a CDC-publishing source by applying every
    published epoch it has not applied yet, in commit order. The
    replica's own applied-batch ledger (epoch names as batch ids) makes
    the sync incremental AND resumable: a crash mid-sync re-runs from
    the first unapplied epoch, replays no-op, and repeated calls are
    cheap tail checks. Combine with ``prune_merge_changes`` on the
    source once every downstream replica has consumed an epoch.

    This is the chained-clone topology at 100 TB: source → replica →
    replica, each hop shipping only per-epoch changed rows through
    O(|epoch| + touched buckets) commits, no hop ever rescanning an
    upstream's full state.

    ``allow_evolution`` flows to each epoch's apply: a replica chain
    follows an upstream additive ALTER TABLE in the exact epoch the new
    column first appears (round 8 — previously the chain was
    correct-but-terminal on evolution).

    QUIESCE COOPERATION (round 9): between epochs the loop honors the
    replica's ``_quiesce.json`` marker — ``read_database_snapshot
    (quiesce=True)`` sets it, captures its consistent cut, and releases
    it, stalling this writer for at most one epoch + the capture. The
    check sits ON the epoch boundary so a paused sync is always a
    whole-epoch state (exactly what the snapshot needs) and resumes
    from its ledger untouched."""
    results = []
    for name in list_merge_changes(source_path):
        if name in applied_batches(replica_path):
            continue
        await_quiesce(replica_path)
        ch = read_merge_changes(spark, source_path, [name])
        results.append(
            apply_merge_changes(
                spark, replica_path, ch, key_cols,
                n_buckets=n_buckets, batch_id=name,
                allow_evolution=allow_evolution,
            )
        )
    return results


def verify_replica(
    spark: SparkSession, source_path: str, replica_path: str
) -> dict:
    """Order-free equality check between two bucketed targets, LOCALIZED
    per bucket: each side computes one (bucket, row-count, checksum) row
    — the checksum an overflow-safe SUM of xxhash64 over every data
    column, column order normalized — and the buckets whose triples
    differ come back in ``diverged``, so an operator resyncs just those
    instead of diffing 100 TB row-by-row (the batch-clone analogue is
    clone_checksum_report; this is the bucketed-replica face). Layouts
    must match (same n_buckets/key_cols — raises otherwise, since
    per-bucket comparison is meaningless across layouts). Cost: one scan
    + one map-side-combinable aggregate per side, no join, no collect
    beyond 2×n_buckets rows. NULLs hash stably (xxhash64 seeds them);
    schema mismatch surfaces as a raise, not a false 'diverged'."""
    ma, mb = read_bucket_meta(source_path), read_bucket_meta(replica_path)
    if ma["n_buckets"] != mb["n_buckets"] or ma["key_cols"] != mb["key_cols"]:
        raise ValueError(
            f"layout mismatch: {source_path} has n_buckets={ma['n_buckets']} "
            f"key_cols={ma['key_cols']}, {replica_path} has "
            f"n_buckets={mb['n_buckets']} key_cols={mb['key_cols']}"
        )
    a_cols = sorted(
        c for c in read_merge_target(spark, source_path).columns
    )
    b_cols = sorted(
        c for c in read_merge_target(spark, replica_path).columns
    )
    if a_cols != b_cols:
        raise ValueError(
            f"schema mismatch: source columns {a_cols} vs replica {b_cols}"
        )

    def per_bucket(path: str) -> dict:
        recover_pending_commit(path, only_if_stale=True)
        # evolved targets must read through their recorded schema — a
        # bare read samples ONE footer and either errors on the evolved
        # column (pre-evolution file sampled) or is fine by luck; the
        # recorded schema surfaces pre-evolution rows' new columns as
        # NULL on BOTH sides, so the checksums stay comparable (round 8)
        df = spark.read.schema(recorded_schema(spark, path)).parquet(path)
        rows = (
            df.groupBy(BUCKET_COL)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.xxhash64(*a_cols).cast("decimal(38,0)")
                ).alias("chk"),
            )
            .collect()
        )
        return {r[BUCKET_COL]: (r["n"], r["chk"]) for r in rows}

    sa, sb = per_bucket(source_path), per_bucket(replica_path)
    diverged = sorted(
        b
        for b in set(sa) | set(sb)
        if sa.get(b, (0, 0)) != sb.get(b, (0, 0))
    )
    return {
        "match": not diverged,
        "diverged": diverged,
        "n_buckets": ma["n_buckets"],
        "source_rows": sum(n for n, _ in sa.values()),
        "replica_rows": sum(n for n, _ in sb.values()),
    }


def repair_replica(
    spark: SparkSession,
    source_path: str,
    replica_path: str,
    buckets: list[int],
) -> dict:
    """Heal a diverged replica by copying ONLY the named buckets from
    the source — ``verify_replica``'s repair half: detect per bucket,
    repair per bucket, never move the other N−k. The copied rows land
    through the shared manifest-guarded swap (crash rolls forward;
    a bucket empty at the source empties at the replica via the staged
    empty dir). The replica's applied-epoch ledger is untouched, so
    feed syncs continue from where they were — run repairs from the
    same serialized writer context as the syncs."""
    ma, mb = read_bucket_meta(source_path), read_bucket_meta(replica_path)
    if ma["n_buckets"] != mb["n_buckets"] or ma["key_cols"] != mb["key_cols"]:
        raise ValueError(
            f"layout mismatch: {source_path} has n_buckets={ma['n_buckets']} "
            f"key_cols={ma['key_cols']}, {replica_path} has "
            f"n_buckets={mb['n_buckets']} key_cols={mb['key_cols']}"
        )
    bad = [b for b in buckets if not (0 <= int(b) < ma["n_buckets"])]
    if bad:
        raise ValueError(f"bucket ids out of range: {bad}")
    if not buckets:
        return {"repaired_buckets": 0, "rows_copied": 0}
    src_cols = sorted(read_merge_target(spark, source_path).columns)
    rep_cols = sorted(read_merge_target(spark, replica_path).columns)
    if src_cols != rep_cols:
        raise ValueError(
            f"schema mismatch: source columns {src_cols} vs replica "
            f"{rep_cols} — evolve the replica (sync with "
            "allow_evolution=True) before repairing buckets across schemas"
        )
    recover_pending_commit(replica_path)
    # an evolved source must be read through its recorded schema: a bare
    # read that sampled a pre-evolution footer would stage repair buckets
    # WITHOUT the evolved column — silent divergence the repair itself
    # would introduce (round 8; same class as the merge-path fix)
    src_schema_json = ma.get("schema_json")
    rows = spark.read.schema(recorded_schema(spark, source_path)).parquet(
        source_path
    ).filter(
        F.col(BUCKET_COL).isin([int(b) for b in buckets])
    )
    token, staging = new_staging(replica_path)
    buckets = [int(b) for b in buckets]
    n = stage_buckets(spark, rows, staging, buckets).count()
    commit_staged_buckets(
        replica_path, token, staging, buckets, schema_json=src_schema_json
    )
    return {"repaired_buckets": len(buckets), "rows_copied": n}


def sync_database_replicas(
    spark: SparkSession,
    table_pairs: dict[str, tuple[str, str, list[str], int]],
    max_concurrency: int = 4,
) -> dict[str, dict]:
    """Database-level CDC catch-up — the reference's concurrent
    per-table loop (Program.cs:56-112 CloneDatabase, one thread-pool
    task per table, continue-on-error) applied to the change-feed era:
    ``table_pairs`` maps a table name to (source_path, replica_path,
    key_cols, n_buckets) and each table's unapplied feed epochs sync
    concurrently via ``sync_replica_from_changes``. Tables are
    independent single-writer domains, so cross-table parallelism is
    safe (the per-TARGET serialization invariant is untouched) and the
    Spark scheduler interleaves their stages. One failing table reports
    its error and the rest keep syncing (continue-on-error, B10);
    consistency is per-table (each replica lands on an epoch boundary)
    — cross-table transactional snapshots need a shared commit log this
    layout deliberately does not have; ``read_database_snapshot`` gives
    the read-side consistent cut instead (epoch vector + validated
    capture window). Returns per-table {epochs_applied} or {error}."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, (src, rep, key_cols, n_buckets) = item
        try:
            applied = sync_replica_from_changes(
                spark, rep, src, list(key_cols), n_buckets
            )
            return name, {"epochs_applied": len(applied)}
        except Exception as exc:  # noqa: BLE001 - continue-on-error (B10)
            return name, {"error": f"{type(exc).__name__}: {exc}"}

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        return dict(pool.map(run, table_pairs.items()))


def verify_database_replicas(
    spark: SparkSession,
    table_pairs: dict[str, tuple[str, str]],
    max_concurrency: int = 4,
) -> dict:
    """Database-level replica verification — ``verify_replica`` over
    every (source, replica) pair concurrently, the read-only audit twin
    of ``sync_database_replicas`` (same thread-pool + continue-on-error
    shape; verification is read-only so cross-table concurrency is
    unconditionally safe). Returns per-table ``verify_replica`` results
    ({match, diverged, ...}) or {error}; feed each table's ``diverged``
    list to ``repair_replica`` and re-verify — the detect/repair loop a
    100 TB replica fleet runs on a schedule. Run against quiescent
    replicas (or inside a ``read_database_snapshot`` stability window):
    a mid-sync table verifies against whatever epoch each side is on
    and will report honest-but-transient divergence."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, pair = item
        try:
            # tolerate the sync loop's 4-tuple shape (src, rep, keys, n):
            # the audit needs only the two paths — and a malformed entry
            # must report, not abort the whole audit (continue-on-error)
            src, rep = pair[0], pair[1]
            return name, verify_replica(spark, src, rep)
        except Exception as exc:  # noqa: BLE001 - continue-on-error (B10)
            return name, {"error": f"{type(exc).__name__}: {exc}"}

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        return dict(pool.map(run, table_pairs.items()))


def _commit_state(tables: dict[str, str]) -> dict:
    """COMMIT-SHAPED state per table, for the lazy-quiesce EXPIRY
    revalidation (round 12, ADVICE r11 medium): the applied-batch
    ledger tuple plus the names + mtimes of the table's NON-PROTOCOL
    directory entries. Every commit — ledgered or not (repair,
    compaction) — swaps ``_bucket=N`` dirs, so it changes an entry name
    or an entry mtime here; only the NON-commit churn is excluded by
    name: the quiesce marker (heartbeat-refreshed in place, age-swept),
    its fence and the commit lock (flock sidecars — created lazily,
    so their appearance is not a commit), and the commit manifest
    (transient; an IN-FLIGHT manifest is the separate ``any_inflight``
    check, and a completed commit is visible through the bucket swap it
    performed). The capture-loop's ``ledgers()`` keeps its coarser
    root-mtime component — there a spurious bump merely costs a retry
    (fail-safe); at expiry it cost a spurious ``[QUIESCE_EXPIRED]``
    raise (fail-noisy). Entry stats are per-entry fault-isolated
    (round 13, ADVICE r12 low): a transient OSError on one stat retries
    then degrades to a per-entry sentinel; an entry VANISHING between
    listdir and stat records as a change (a bucket swap is exactly
    that); the whole-table ``<unreadable>`` sentinel fires only when
    listdir itself fails."""
    import time as _time

    out = {}
    for n, p in tables.items():
        try:
            names = [
                e
                for e in os.listdir(p)
                if not e.startswith(".") and not is_protocol_entry(e)
            ]
        except OSError:
            # the whole-table unreadable sentinel is reserved for
            # listdir failure (round 13, ADVICE r12 low)
            out[n] = (tuple(applied_batches(p)), (("<unreadable>", -1),))
            continue
        rows = []
        for e in names:
            fp = os.path.join(p, e)
            mt = None
            for _try in range(3):
                try:
                    mt = os.stat(fp).st_mtime_ns
                    break
                except FileNotFoundError:
                    # vanished between listdir and stat: under a held
                    # quiesce that IS a commit-shaped change (a bucket
                    # swap removes dirs) — record it as one, distinct
                    # from any real mtime, not as table-wide noise
                    mt = -2
                    break
                except OSError:
                    # transient (EACCES, NFS hiccup): retry this entry;
                    # a persistent failure degrades to a per-entry
                    # sentinel instead of poisoning the whole table's
                    # tuple into a spurious [QUIESCE_EXPIRED]
                    _time.sleep(0.01)
            rows.append((e, -1 if mt is None else mt))
        out[n] = (tuple(applied_batches(p)), tuple(sorted(rows)))
    return out


def read_database_snapshot(
    spark: SparkSession,
    tables: dict[str, str],
    max_retries: int = 5,
    materialize: bool = True,
    quiesce: bool = False,
) -> dict:
    """A CONSISTENT CUT across a database of replicas (round 8, VERDICT
    r7 #6): per-table frames plus the epoch vector they correspond to —
    ``{"tables": {name: DataFrame}, "epoch_vector": {name: last-applied
    epoch id or None}}``. ``sync_database_replicas`` keeps consistency
    per-table only (each replica lands on an epoch boundary; there is no
    shared commit log) — this read-side protocol makes the database-level
    clone verifiable as a whole:

    1. require every table QUIESCENT: no in-flight ``_commit.json``
       manifest anywhere (a live writer's manifest disappears when its
       commit completes — retry until the cut sees none);
    2. capture each table's applied-epoch ledger and its frame,
       MATERIALIZED eagerly (``localCheckpoint``) so later bucket swaps
       cannot tear rows out from under the returned snapshot;
    3. validate: re-read every ledger and manifest slot — if any table
       committed during the capture window, the cut is torn; retry.

    A returned snapshot therefore satisfies: every frame is a whole-epoch
    state (never a half-applied commit — manifests were absent on both
    sides of its scan), and the epoch VECTOR was simultaneously current
    for an instant spanning all captures (no table advanced inside the
    window). Raises after ``max_retries`` torn attempts — under a
    continuous writer, quiesce the sync first; the retry loop is for the
    occasional in-flight epoch, not for racing a firehose.

    ``materialize=False`` skips the localCheckpoint copies and returns
    lazy frames: correct ONLY with the sync quiesced (the validation
    window then does not cover the caller's downstream actions). At
    100 TB prefer quiesce + lazy over materializing a full copy.

    ``quiesce=True`` (round 9, VERDICT r8 #5) makes the quiescing
    COOPERATIVE instead of a precondition: a ``_quiesce.json`` marker
    is set on every table first, the sync loop pauses at its next
    epoch boundary (``sync_replica_from_changes`` checks between
    epochs), the capture + validation run against the drained state,
    and the marker releases in a finally — bounding the writer stall
    at one in-flight epoch plus the capture. This closes the
    availability gap where a CONTINUOUS writer made the retry loop
    raise exactly when a database-level snapshot mattered. With
    ``materialize=True`` the marker is a liveness protocol only: a
    writer that races past it (e.g. a pre-round-9 writer that never
    checks) merely costs a retry — the capture-window validation
    remains the correctness arbiter.

    ``quiesce=True`` + ``materialize=False`` (round-9 review catch):
    here the marker IS load-bearing — the returned frames are lazy, so
    releasing on return would let the resumed sync swap bucket dirs
    under the caller's later scans (the torn cut this operator
    exists to prevent, in the mode that prefers it at 100 TB). The
    markers therefore stay HELD across the return and the result
    carries a ``release_quiesce`` callable the caller MUST invoke once
    done with the frames (a crashed caller is bounded by the markers'
    dead-pid/age sweep — the writer is never wedged forever). The hold
    has a BOUNDED lifetime and the bound is LOUD (round 11, VERDICT r10
    #2): the result carries ``quiesce_deadline`` (wall time when the
    heartbeat stops and the markers age-sweep, ``_QUIESCE_MAX_HOLD_S``
    after capture); ``release_quiesce()`` returns
    ``{"expired": bool, "torn": bool}`` and, when called past the
    deadline, re-runs the capture-window validation — a commit that
    landed after protection lapsed RAISES ``[QUIESCE_EXPIRED]`` (the
    consumption may be torn; re-snapshot), while an expired-but-clean
    hold returns ``expired=True`` so the caller knows the contract was
    exceeded even though this consumption happened to be safe."""
    import time as _time

    def ledgers():
        # (ledger tuple, root-dir mtime) per table: the mtime catches
        # NON-LEDGERED commits too — repair_replica / compaction commit
        # without a batch id, but every commit renames bucket dirs and
        # creates/removes the manifest inside the target dir, which
        # bumps its mtime (round-8 review catch; a spurious bump merely
        # costs a retry — fail-safe direction)
        out = {}
        for n, p in tables.items():
            try:
                mtime = os.stat(p).st_mtime_ns
            except OSError:
                mtime = -1
            out[n] = (tuple(applied_batches(p)), mtime)
        return out

    def any_inflight():
        # a manifest may belong to a CRASHED writer — roll one whose
        # commit lock is free forward (every other reader does) instead
        # of permanently failing the snapshot with 'quiesce the sync'
        # when the sync is in fact dead (round-8 review catch); only a
        # manifest that survives that recovery counts as live
        live = False
        for p in tables.values():
            if has_pending_commit(p):
                try:
                    recover_pending_commit(p, only_if_stale=True)
                except Exception:  # noqa: BLE001
                    # e.g. a read-only reader hitting a rename mid-
                    # recovery: treat as live and keep the retry/
                    # RuntimeError contract instead of leaking a raw error
                    pass
                if has_pending_commit(p):
                    live = True
        return live

    def release(frames):
        # torn attempt: drop the eager copies. DataFrame.unpersist is
        # best-effort for localCheckpoint state; dropping the references
        # lets the ContextCleaner reclaim the checkpoint blocks either way
        for f in frames.values():
            try:
                f.unpersist()
            except Exception:  # noqa: BLE001
                pass
        frames.clear()

    keep_held = False
    try:
        if quiesce:
            # inside the try: if one table's marker write raises (e.g. a
            # nonexistent path), the finally releases those already set
            for p in tables.values():
                request_quiesce(p)
        last_err = "no attempt ran"
        for attempt in range(max_retries):
            if attempt:
                _time.sleep(0.05 * attempt)  # shared backoff on EVERY retry
            if any_inflight():
                last_err = "in-flight commit manifest present"
                continue
            before = ledgers()
            frames = {}
            torn = False
            for n, p in tables.items():
                df = read_merge_target(spark, p)
                if not materialize:
                    frames[n] = df
                    continue
                try:
                    frames[n] = df.localCheckpoint()
                except Exception:  # noqa: BLE001
                    # a concurrent commit swapped bucket dirs between this
                    # frame's file listing and its scan (FAILED_READ_FILE) —
                    # the torn read the validation exists to catch; retry
                    torn = True
                    last_err = f"capture of {n!r} torn by a concurrent commit"
                    break
            if torn:
                release(frames)
                continue
            vector = {
                n: (v[-1] if v else None) for n, (v, _m) in before.items()
            }
            if not materialize:
                # REVALIDATE before returning lazy frames (round 10,
                # ADVICE r9 high): an epoch mid-compute when the markers
                # landed shows no manifest and no ledger entry at the
                # first check, then commits during the capture — the
                # torn cut this mode documents it prevents. Re-running
                # the validation catches a commit that landed in the
                # window; the fence in commit_staged_buckets guarantees
                # no NEW commit can begin once the markers are held, so
                # the retry converges as soon as the in-flight epoch
                # drains (or parks at its own pre-manifest check).
                if any_inflight() or ledgers() != before:
                    last_err = "a table committed during the capture window"
                    frames.clear()
                    continue
                # quiesced contract: report the vector as captured. With
                # quiesce=True the markers must OUTLIVE this return (the
                # frames are lazy — docstring), so the caller gets the
                # release handle instead of the finally releasing now,
                # and a daemon HEARTBEAT refreshes the markers' wall_ts
                # while held (round 10, ADVICE r9 medium: the 600 s age
                # sweep otherwise silently released a >10-minute
                # consumption — exactly the long-analysis shape this
                # mode targets; a crashed caller still sweeps via the
                # dead-pid gate the moment the heartbeat dies with it,
                # and a LEAKED handle in a live process stops beating at
                # _QUIESCE_MAX_HOLD_S so the age sweep re-bounds the
                # writer stall).
                out = {"tables": frames, "epoch_vector": vector}
                if quiesce:
                    keep_held = True
                    import threading

                    # the expiry revalidation's baseline (round 12,
                    # ADVICE r11 medium): COMMIT-SHAPED state only —
                    # applied-batch ledgers plus the non-protocol
                    # directory entries (bucket dirs, whose names/mtimes
                    # every commit churns). The root dir's own mtime is
                    # deliberately NOT part of it: marker heartbeats and
                    # the age sweep's marker removal bump it without any
                    # commit, which made every expired-but-clean release
                    # look torn ({expired, torn=False} was unreachable).
                    before_commit_state = _commit_state(tables)
                    beat_deadline, max_hold, stop_beat = hold_quiesce(
                        list(tables.values())
                    )
                    # the deadline is part of the returned handle
                    # (round 11, VERDICT r10 #2): the caller can see
                    # when protection lapses instead of discovering it
                    # only through a torn read
                    out["quiesce_deadline"] = beat_deadline
                    release_state: dict = {}
                    release_lock = threading.Lock()

                    def _release():
                        # IDEMPOTENT (round 12, ADVICE r11 low): the
                        # first call decides; later calls replay its
                        # outcome. Re-running the expiry revalidation
                        # after the markers were removed and writers
                        # resumed would spuriously flag a writer that
                        # legitimately committed AFTER the release — a
                        # consumption that was fully protected.
                        with release_lock:
                            if "outcome" not in release_state:
                                # stop BEFORE removing: a beat already
                                # past its wait could otherwise refresh
                                # a marker just removed
                                stop_beat()
                                # EXPIRY IS LOUD (round 11, VERDICT r10
                                # #2): the heartbeat stopping at
                                # _QUIESCE_MAX_HOLD_S used to be silent —
                                # markers age-swept, writers resumed, and
                                # a caller still consuming the lazy
                                # frames was back in the torn-cut regime
                                # with no signal. Past the deadline the
                                # capture-window validation RE-RUNS
                                # against the commit-shaped baseline: if
                                # any table committed while protection
                                # had lapsed, the consumption was
                                # genuinely torn and this RAISES (after
                                # removing the markers — cleanup still
                                # happens); if nothing committed, the
                                # hold merely outlived its bound and the
                                # caller gets expired=True to decide
                                # whether to re-snapshot. Within the
                                # deadline: expired=False, markers held
                                # the whole time, nothing to revalidate.
                                # The decision LATCHES BEFORE the marker
                                # removal (round 13, ADVICE r12 low): if
                                # a removal raises a non-ENOENT OSError,
                                # a retried release must replay this
                                # verdict — re-running the revalidation
                                # against a world where some markers
                                # were removed and writers legitimately
                                # resumed would spuriously raise the
                                # very [QUIESCE_EXPIRED] the latch
                                # exists to prevent.
                                expired = _time.time() > beat_deadline
                                torn = expired and (
                                    any_inflight()
                                    or _commit_state(tables)
                                    != before_commit_state
                                )
                                if torn:
                                    release_state["exc"] = RuntimeError(
                                        "[QUIESCE_EXPIRED] lazy snapshot "
                                        "was held past _QUIESCE_MAX_HOLD_S "
                                        f"({max_hold:.0f}s) and "
                                        "at least one table committed "
                                        "after the markers lapsed — frames "
                                        "consumed after expiry may be "
                                        "torn; re-snapshot and re-run the "
                                        "consumption"
                                    )
                                    release_state["outcome"] = None
                                else:
                                    release_state["outcome"] = {
                                        "expired": expired,
                                        "torn": torn,
                                    }
                            # marker removal runs on EVERY call until it
                            # fully succeeds — a retry after a mid-loop
                            # OSError finishes the cleanup, then replays
                            # the latched verdict
                            if not release_state.get("removed"):
                                for p in tables.values():
                                    release_quiesce(p)
                                release_state["removed"] = True
                            exc = release_state.get("exc")
                            if exc is not None:
                                raise exc
                            return release_state["outcome"]

                    out["release_quiesce"] = _release
                return out
            if any_inflight() or ledgers() != before:
                last_err = "a table committed during the capture window"
                release(frames)
                continue
            return {"tables": frames, "epoch_vector": vector}
        raise RuntimeError(
            f"read_database_snapshot: no stable epoch vector after "
            f"{max_retries} attempts ({last_err}) — quiesce the sync "
            "(quiesce=True) and retry"
        )
    finally:
        if quiesce and not keep_held:
            for p in tables.values():
                release_quiesce(p)


def merge_additive_bucketed(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    n_buckets: int = 32,
    batch_id=None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    hist_cols: dict[str, list[float]] | None = None,
    weight_col: str | None = None,
) -> dict:
    """Incremental AGGREGATE maintenance — the materialized-view upkeep
    operator: the target holds per-key partial aggregates (one SUM per
    ``sum_cols`` entry plus an ``_n`` row count, plus optional
    ``{{c}}_min``/``{{c}}_max`` order statistics), and each batch's own
    partials ADD into them. Per call: aggregate the batch (map-side
    combinable), touch only the batch keys' buckets (the
    merge_upsert_bucketed pruning), combine by SUM (resp. MIN/MAX)
    within them, commit via the shared manifest-guarded swap. Cost
    O(|batch| + touched buckets), never O(|target|) — the plain-parquet
    equivalent of a continuously-maintained GROUP BY view (AVG = sum/_n
    at read time, exact — see ``read_additive_view``).

    ``min_cols``/``max_cols`` (round 7): MIN/MAX are combinable — hence
    maintainable — for APPEND-ONLY streams, which is this operator's
    whole contract (addition itself has no retraction either). They are
    NOT maintainable under deletion/update-with-retraction: removing the
    current extreme would require the next-best value, which the state
    does not keep. A deleting source needs the upsert sink + recompute
    semantics; this caveat is by design, not a bug.

    ``hll_cols`` (round 7): per-key APPROX-DISTINCT maintained as a
    mergeable Datasketches HLL sketch (``{{c}}_hll``, binary): each batch
    contributes ``hll_sketch_agg``, the combine is ``hll_union_agg`` —
    register-wise max, so the maintained sketch is IDENTICAL to the
    sketch of all rows at once regardless of batching (asserted in
    tests), and the state is O(2^lgK) bytes per key instead of
    O(distinct values). This is how a 100 TB pipeline keeps daily-unique
    counters fresh without ever re-reading history; estimates surface
    via ``read_additive_view(distinct_of=...)``. Same append-only
    caveat: sketches cannot retract.

    ``hist_cols`` (round 7): per-key QUANTILE state maintained as a
    fixed-edge histogram — ``{{col: [e1 < e2 < ...]}}`` maps a column to
    bin edges, the state is ``{{c}}_hist`` (array<long> of len(edges)+1
    per-bin counts), and the combine is element-wise addition — exactly
    additive, so the maintained histogram is bit-identical to the
    one-shot histogram of all rows however the stream was batched
    (asserted in tests). Quantile estimates surface via
    ``read_additive_view(quantile_of=...)`` with rank error bounded by
    the heaviest bin's mass — pick edges from a one-time approxQuantile
    probe (equi-depth: error ~ 1/n_bins) or domain knowledge (SLA
    boundaries make p99-vs-threshold exact). The edge spec is pinned at
    view creation in a ``_hist_edges.json`` sidecar (atomic with the
    creating rename) and every later call must pass the identical spec
    — combining counts across different edge sets would silently
    corrupt the state, so a mismatch raises instead. Same append-only
    caveat: counts cannot retract.

    EXACTLY-ONCE under replay: addition is not idempotent (re-applying a
    committed batch would double-count — unlike the upsert, whose
    anti-join+union converges), so each call must carry a ``batch_id``
    (foreachBatch's epoch id) when driven by a stream. Applied ids live
    in the ``_applied_batches.json`` ledger whose update is PART of the
    commit manifest sequence: a crash leaves either [not committed, not
    in ledger] or [committed, in ledger], so a replayed id no-ops in
    every crash position (kill-tested). The ledger keeps the last
    {keep} ids — far beyond any at-least-once replay horizon.

    ``weight_col`` (round 7): signed-delta mode for RETRACTING sources
    (the upsert change feed's update_preimage rows, future deletes).
    The named ±1 column replaces the row count — ``_n`` becomes
    SUM(weight) instead of COUNT(*) — and the caller pre-signs each
    ``sum_cols`` value by the same weight (value × weight), so an
    update's preimage(-1)/postimage(+1) pair nets to the exact
    new−old delta and the maintained SUM/COUNT/AVG track the SOURCE'S
    CURRENT STATE, not its arrival history. Incompatible with
    min/max/hll/hist state (none can retract — raises); a key whose
    weights sum to 0 keeps a zero state row, so read through
    ``_n != 0`` when source keys can vanish. ``fold_changes_additive``
    packages this wiring for the upsert CDC feed.

    Numeric discipline: sum columns should be BIGINT or DECIMAL-cast
    by the caller (double partials would make the maintained view
    partition-order-dependent — the repo's decimal rule).
    """
    if BUCKET_COL in batch.columns:
        raise ValueError(
            f"batch already contains the reserved layout column {BUCKET_COL!r}"
        )
    if batch_id is not None and batch_id in applied_batches(target_path):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    hll_cols = list(hll_cols or [])
    hist_cols = dict(hist_cols or {})
    _validate_hist_edges(hist_cols)
    if weight_col is not None and (min_cols or max_cols or hll_cols or hist_cols):
        raise ValueError(
            "weight_col (retracting deltas) cannot be combined with "
            "min/max/hll/hist state — none of those can retract a "
            "contribution; keep retractable views to SUM/COUNT/AVG"
        )
    if weight_col in sum_cols:
        raise ValueError(f"weight_col {weight_col!r} cannot also be a sum col")
    n_agg = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col).cast("long")
    )
    partial = batch.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        n_agg.alias("_n"),
        *[F.min(c).alias(f"{c}_min") for c in min_cols],
        *[F.max(c).alias(f"{c}_max") for c in max_cols],
        *[F.hll_sketch_agg(c).alias(f"{c}_hll") for c in hll_cols],
        *[_hist_partial_agg(c, e) for c, e in hist_cols.items()],
    )
    state_cols = [
        *key_cols,
        *sum_cols,
        "_n",
        *[f"{c}_min" for c in min_cols],
        *[f"{c}_max" for c in max_cols],
        *[f"{c}_hll" for c in hll_cols],
        *[f"{c}_hist" for c in hist_cols],
    ]
    upd = with_bucket(partial.select(*state_cols), key_cols, n_buckets)

    if not os.path.exists(target_path):
        # first batch: the same exactly-once contract as the steady
        # state — data, meta, edge spec and ledger in one creating rename
        def fill(staging):
            n = stage_buckets(spark, upd, staging).count()
            if not n:
                # a bucketed target takes its schema from its files: an
                # empty first write would publish one no later read can infer
                raise ValueError("cannot create an additive view from an empty batch")
            write_bucket_meta(staging, n_buckets, list(key_cols))
            if hist_cols:
                _write_hist_edges(staging, hist_cols)
            return n

        n = create_store(target_path, fill, batch_id)
        return {
            "applied": True,
            "batch_id": batch_id,
            "before_touched": 0,
            "after_touched": n,
            "touched_buckets": n_buckets,
            "n_buckets": n_buckets,
        }

    recover_pending_commit(target_path)
    if batch_id is not None and batch_id in applied_batches(target_path):
        # the recovery may have just completed THIS batch's crashed commit
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    checked_meta(target_path, n_buckets, key_cols)

    if hist_cols:
        stored = {
            c: [float(e) for e in es]
            for c, es in _read_hist_edges(target_path).items()
        }
        asked = {c: [float(e) for e in es] for c, es in hist_cols.items()}
        if stored != asked:
            raise ValueError(
                f"hist edge mismatch: view was created with {stored}, caller "
                f"passed {asked} — combining counts across different edge "
                "sets corrupts the histogram; the spec is pinned at creation"
            )
    upd = upd.persist()
    try:
        touched = sorted(
            r[BUCKET_COL] for r in upd.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            # empty batch (round 7, surfaced by empty change-feed epochs):
            # nothing to combine, and staging a zero-partition write would
            # die reading its own footerless output — record the epoch in
            # the ledger (the batch IS processed) and leave the state be
            if batch_id is not None:
                append_applied_batch(target_path, batch_id)
            return {
                "applied": True,
                "batch_id": batch_id,
                "before_touched": 0,
                "after_touched": 0,
                "touched_buckets": 0,
                "n_buckets": n_buckets,
            }
        target = spark.read.parquet(target_path).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        got_state = [c for c in target.columns if c != BUCKET_COL]
        if sorted(got_state) != sorted(state_cols):
            raise ValueError(
                f"additive state mismatch: target maintains {sorted(got_state)}, "
                f"caller asked for {sorted(state_cols)} — sum/min/max specs must "
                "be identical on every call to a given view"
            )
        combined = target.select(*state_cols, BUCKET_COL).unionByName(upd)
        merged = combined.groupBy(*key_cols, BUCKET_COL).agg(
            *[F.sum(c).alias(c) for c in sum_cols],
            F.sum("_n").alias("_n"),
            *[F.min(f"{c}_min").alias(f"{c}_min") for c in min_cols],
            *[F.max(f"{c}_max").alias(f"{c}_max") for c in max_cols],
            *[F.hll_union_agg(f"{c}_hll").alias(f"{c}_hll") for c in hll_cols],
            *[_hist_combine_agg(c, len(e) + 1) for c, e in hist_cols.items()],
        )
        token, staging = new_staging(target_path)
        staged = stage_buckets(
            spark, merged.select(*state_cols, BUCKET_COL), staging
        )
        before, after = count_pair(target, staged)
        commit_staged_buckets(target_path, token, staging, touched, batch_id)
    finally:
        upd.unpersist()
    return {
        "applied": True,
        "batch_id": batch_id,
        "before_touched": before,
        "after_touched": after,
        "touched_buckets": len(touched),
        "n_buckets": n_buckets,
    }


merge_additive_bucketed.__doc__ = merge_additive_bucketed.__doc__.format(
    keep=_BATCHES_KEEP
)


def read_additive_view(
    spark: SparkSession,
    target_path: str,
    avg_of: list[str] | None = None,
    distinct_of: list[str] | None = None,
    quantile_of: dict[str, list[float]] | None = None,
) -> DataFrame:
    """Read a maintained additive view as its logical table. ``avg_of``
    names maintained SUM columns to expose additionally as exact
    ``{c}_avg = {c} / _n`` — the read-time AVG over the maintained
    partials (AVG is not additively maintainable as a stored value, but
    its (sum, count) decomposition is; the division happens once per
    output row at read time, never at a decision boundary).
    ``distinct_of`` names hll-maintained columns to expose as
    ``{c}_approx_distinct`` — the HLL estimate over the maintained
    sketch (the sketch column itself stays available for further
    unioning, e.g. rolling up daily views into a monthly one).
    ``quantile_of`` maps hist-maintained columns to probabilities in
    (0, 1]: each ``p`` surfaces as ``{c}_q{digits}`` (0.5 → ``_q5``,
    0.95 → ``_q95``, 0.999 → ``_q999``) — the UPPER edge of the bin
    holding rank ceil(p·n), i.e. a value v with rank(v) ≥ p·n whose
    rank overshoot is at most that bin's mass (the classic histogram
    quantile). Edges come from the view's pinned ``_hist_edges.json``;
    the top (unbounded) bin clamps to the last edge, so an estimate is
    a LOWER bound there — size the top edge above the data, or treat
    ``_q`` hitting the last edge as \"≥ last edge\". All array math is
    JVM higher-order functions over ≤ n_bins elements per row."""
    df = read_merge_target(spark, target_path)
    for c in avg_of or []:
        df = df.withColumn(
            f"{c}_avg", F.col(c).cast("double") / F.col("_n").cast("double")
        )
    for c in distinct_of or []:
        df = df.withColumn(
            f"{c}_approx_distinct", F.hll_sketch_estimate(f"{c}_hll")
        )
    if quantile_of:
        all_edges = _read_hist_edges(target_path)
        for c, probs in quantile_of.items():
            if c not in all_edges:
                raise ValueError(
                    f"quantile_of[{c!r}]: view maintains no histogram for it "
                    f"(pinned hist columns: {sorted(all_edges)})"
                )
            edges = [float(e) for e in all_edges[c]]
            n_bins = len(edges) + 1
            h = F.col(f"{c}_hist")
            total = F.aggregate(
                h, F.lit(0).cast("long"), lambda acc, x: acc + x
            )
            # cumulative counts per bin; O(n_bins^2) on tiny arrays
            cums = F.transform(
                F.sequence(F.lit(1), F.lit(n_bins)),
                lambda i: F.aggregate(
                    F.slice(h, F.lit(1), i),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            )
            edge_arr = F.array(*[F.lit(e) for e in edges]).cast("array<double>")
            for p in probs:
                if not (0 < p <= 1):
                    raise ValueError(f"quantile prob {p} not in (0, 1]")
                rank = F.ceil(total.cast("double") * F.lit(float(p))).cast(
                    "long"
                )
                idx = F.size(F.filter(cums, lambda cum: cum < rank))
                suffix = format(p, "g").replace("0.", "").replace(".", "_")
                df = df.withColumn(
                    f"{c}_q{suffix}",
                    F.when(
                        total > 0,
                        F.element_at(
                            edge_arr, F.least(idx + 1, F.lit(len(edges)))
                        ),
                    ),
                )
    return df


def rebucket_target(
    spark: SparkSession,
    target_path: str,
    key_cols: list[str],
    n_buckets: int = 32,
) -> dict[str, int]:
    """One-off migration: rewrite a legacy FLAT merge target into the
    bucketed layout + sidecar, so every subsequent merge takes the
    O(|updates| + touched buckets) path instead of streaming.sync's
    O(|target|) back-compat full rewrite. Also usable to CHANGE a
    bucketed target's n_buckets or key columns (the docstring'd
    "changing N requires a one-off rewrite" path).

    The rewrite is one full read + partitioned write + directory swap
    (same guarantee as swap_write: old layout survives until the new one
    is fully written; a crash between the renames strands it under a
    recoverable ``.__old_`` suffix). An ``_high_water.json`` sidecar from
    incremental_append use, if present, is carried over unchanged —
    logical rows are identical, so the mark stays valid.

    Returns {rows, n_buckets}.
    """
    df = spark.read.parquet(target_path)
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)  # re-bucketing an existing bucketed layout
    missing = [k for k in key_cols if k not in df.columns]
    if missing:
        raise ValueError(f"key columns {missing} not in target columns {df.columns}")
    tmp = f"{target_path}.__new_{uuid.uuid4().hex[:8]}"
    n = stage_buckets(spark, with_bucket(df, key_cols, n_buckets), tmp).count()
    if not n:
        # no files, no schema: the bucketed copy could never be read back
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(f"cannot rebucket the empty target {target_path}")
    write_bucket_meta(tmp, n_buckets, list(key_cols))
    hw = _read_hw_sidecar(target_path)
    if hw is not None:
        write_json_atomic(_hw_sidecar_path(tmp), hw)
    hist = _read_hist_edges(target_path)
    if hist:  # additive view: the pinned edge spec must survive rebucketing
        _write_hist_edges(tmp, hist)
    ids = applied_batches(target_path)
    if ids:
        # additive view: losing the replay ledger on rebucket would let a
        # restarted stream double-add its next replayed epoch
        write_json_atomic(os.path.join(tmp, _BATCHES_FILE), {"batch_ids": ids})
    old = f"{target_path}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old)
    return {"rows": n, "n_buckets": n_buckets}


def _hw_sidecar_path(target_path: str) -> str:
    return os.path.join(target_path, HW_FILE)


def _read_hw_sidecar(target_path: str) -> dict | None:
    p = _hw_sidecar_path(target_path)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _write_hw_sidecar(
    target_path: str, watermark_col: str, high_water, dtype: str, total: int
) -> None:
    """Atomic sidecar update (``write_json_atomic``). Underscore-prefixed,
    so Spark's file index never lists it as data."""
    write_json_atomic(
        _hw_sidecar_path(target_path),
        {
            "watermark_col": watermark_col,
            "high_water": None if high_water is None else str(high_water),
            "dtype": dtype,
            "total": total,
        },
    )


def incremental_append(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    watermark_col: str,
) -> dict[str, int]:
    """High-water-mark sync: append source rows with
    ``watermark_col > high_water``. First call (no target) copies
    everything. Append is a plain additive write — no swap needed.

    The high-water mark and running row count live in a ``_high_water.json``
    sidecar updated atomically (tmp + rename) after every successful
    append, so the per-sync probe is a few bytes of metadata — NOT a scan
    of the target's watermark column, which at 100 TB would be hundreds of
    GB of I/O per micro-batch in the component built for repeated syncing.
    The stored value round-trips through its string form and is cast back
    to the source column's type for the comparison (timestamps/dates/
    numerics all cast cleanly from their str() form).

    Fallback: a target without the sidecar (pre-existing plain parquet
    dir) is probed once with the legacy full-column max scan and a full
    count, then self-migrates — the sidecar is written so every later sync
    is bounded. Deleting the sidecar by hand forces the same one-off
    rescan (the repair path if it is ever suspected stale).

    Crash semantics (documented, not hidden): the window between the
    append committing and the sidecar rename leaves a STALE (low) mark, so
    a replayed sync re-selects and re-appends that batch — at-least-once,
    duplicates possible. The legacy scan recomputed the mark from data and
    had no such window, at O(|target|) per call. Callers needing
    exactly-once under replay should use merge_upsert_bucketed, whose
    anti-join/max_by merge converges under replay by construction.
    """
    dtype = source.schema[watermark_col].dataType.simpleString()
    if not os.path.exists(target_path):
        source.write.parquet(target_path)
        stats = spark.read.parquet(target_path).agg(
            F.count(F.lit(1)).alias("n"), F.max(watermark_col).alias("hw")
        ).first()
        _write_hw_sidecar(target_path, watermark_col, stats["hw"], dtype, stats["n"])
        return {"appended": stats["n"], "high_water": None, "total": stats["n"]}

    meta = _read_hw_sidecar(target_path)
    if meta is not None and meta["watermark_col"] == watermark_col:
        hw_str = meta["high_water"]
        total = meta["total"]
        hw_lit = None if hw_str is None else F.lit(hw_str).cast(meta["dtype"])
        hw_repr = hw_str
    else:
        # legacy target (or different watermark column): one-off full scan,
        # after which the sidecar makes every subsequent sync bounded
        target = spark.read.parquet(target_path)
        probe = target.agg(
            F.max(watermark_col).alias("hw"), F.count(F.lit(1)).alias("n")
        ).first()
        hw = probe["hw"]
        total = probe["n"]
        hw_lit = None if hw is None else F.lit(hw)
        hw_repr = None if hw is None else str(hw)

    # empty target -> NULL high-water; col > NULL is never true, which would
    # silently drop every future row - treat as "append everything"
    fresh = (
        source if hw_lit is None else source.filter(F.col(watermark_col) > hw_lit)
    )
    # PIN the batch before probing it (review-caught, round 5): the mark is
    # recorded from one evaluation and the data written by another — if the
    # source re-evaluates differently between the two actions (a file
    # appearing in a watched directory, a non-deterministic upstream), the
    # sidecar could record a mark HIGHER than what was actually written and
    # the missing rows would be skipped forever (stale-high silent loss —
    # strictly worse than the documented stale-low duplicate window). The
    # localCheckpoint makes probe and write read the same materialized rows.
    fresh = fresh.localCheckpoint()
    batch = fresh.agg(
        F.count(F.lit(1)).alias("n"), F.max(watermark_col).alias("hw")
    ).first()
    n_new = batch["n"]
    if n_new:
        if is_bucketed(target_path):
            # bucketed layout (review-caught): a plain append would drop
            # root-level files into a _bucket=N/ partitioned directory —
            # the next read fails on conflicting directory structures and
            # the bucketed merge's pruning would never see the rows. Route
            # the batch through the SAME bucket derivation the layout was
            # written with, appending into the matching partition dirs.
            bm = read_bucket_meta(target_path)
            (
                with_bucket(fresh, bm["key_cols"], bm["n_buckets"])
                .write.partitionBy(BUCKET_COL)
                .mode("append")
                .parquet(target_path)
            )
        else:
            fresh.write.mode("append").parquet(target_path)
    new_hw = batch["hw"] if n_new else (hw_repr if hw_lit is not None else None)
    _write_hw_sidecar(target_path, watermark_col, new_hw, dtype, total + n_new)
    return {"appended": n_new, "high_water": hw_repr, "total": total + n_new}
