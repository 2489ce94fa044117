"""SCD-2 history maintenance from the change feed — the third consumer
shape of the CDC log (round 7): where ``fold_changes_additive`` keeps a
current-state AGGREGATE and ``apply_merge_changes`` keeps a current-state
COPY, this keeps the full VERSION HISTORY — a slowly-changing-dimension
type-2 table with one row per (key, version) and epoch-granular validity:

    <payload columns> , _from_epoch BIGINT , _to_epoch BIGINT (NULL = open)

Each feed epoch folds incrementally: insert / update_postimage rows OPEN
a version at that epoch; update_preimage / delete rows CLOSE the key's
open version at that epoch. The feed's pre/post pairing is exactly the
SCD-2 transition record — no snapshot diffing, no full-table scans; the
batch operator ``scd2_user_tier_history`` (operators/timeseries.py) is
the from-scratch equivalent over a static table, this is its maintained
face. Storage is the house bucketed layout (pmod(xxhash64(key)) dirs),
so a fold touches only the changed keys' buckets and commits through the
same manifest-guarded swap + applied-epoch ledger as every other store —
replays no-op, crashes roll forward.

Reference anchor: the reference copies current state only
(Program.cs:602-680); history tracking is the warehouse capability its
single-shot copy cannot express.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._durable import append_applied_batch, applied_batches, epoch_number
from ._buckets import (
    BUCKET_COL,
    checked_meta,
    commit_staged_buckets,
    create_store,
    is_bucketed,
    new_staging,
    probe_epoch,
    recorded_schema,
    stage_buckets,
    widened_schema,
    with_bucket,
    write_bucket_meta,
)
from .merge import (
    list_merge_changes,
    read_merge_changes,
    read_merge_target,
    recover_pending_commit,
)

FROM_COL = "_from_epoch"
TO_COL = "_to_epoch"


def fold_changes_scd2(
    spark: SparkSession,
    history_path: str,
    target_path: str,
    key_cols: list[str],
    epochs: list[str] | None = None,
    n_buckets: int = 32,
    allow_evolution: bool = False,
) -> list[dict]:
    """Fold a CDC-publishing target's epochs (default: all unapplied,
    in commit order) into a bucketed SCD-2 history at ``history_path``.
    Per epoch e: open-version rows of keys carrying update_preimage or
    delete get ``_to_epoch = e``; insert / update_postimage rows append
    as new open versions with ``_from_epoch = e``. Invariants the tests
    assert: at most one open version per key; an updated key's next
    version abuts the closed one (next ``_from_epoch`` == previous
    ``_to_epoch``; a delete + later re-insert leaves an honest GAP);
    the open versions equal the source's current state; a replayed
    epoch no-ops (ledger). EPOCH ORDER MATTERS (closing references the currently-open
    version), hence the sync-loop shape rather than commutative folds.

    Reads per fold: only the changed keys' buckets of the history —
    O(|epoch| + touched buckets), never O(|history|). As-of-epoch reads
    are ``read_scd2_history`` filters; current state is the
    ``_to_epoch IS NULL`` slice.

    SCHEMA EVOLUTION (round 8): an epoch whose payload carries columns
    the history lacks raises by default; with ``allow_evolution=True``
    the history widens in that fold — versions closed BEFORE the column
    existed read as NULL (historically honest: the attribute had no
    value then), new versions carry it, and the widened schema commits
    inside the fold's manifest so every later read is consistent."""
    results = []
    names = list_merge_changes(target_path) if epochs is None else list(epochs)
    for name in names:
        if name in applied_batches(history_path):
            continue
        e = epoch_number(name)
        ch = read_merge_changes(spark, target_path, [name])
        results.append(
            fold_scd2_epoch(
                spark, history_path, ch, key_cols, e, name, n_buckets,
                allow_evolution=allow_evolution,
            )
        )
    return results


def fold_scd2_epoch(
    spark: SparkSession,
    history_path: str,
    ch: DataFrame,
    key_cols: list[str],
    epoch_num: int,
    epoch_name: str,
    n_buckets: int,
    allow_evolution: bool = False,
) -> dict:
    """Fold ONE feed epoch's change rows ``ch`` (``change_type`` plus
    payload) into the history as epoch ``epoch_num``, committed under
    the ledger id ``epoch_name`` — the body of ``fold_changes_scd2`` and
    of the streaming SCD-2 face."""
    payload_cols = [c for c in ch.columns if c != "change_type"]
    opens = F.col("change_type").isin("insert", "update_postimage")
    closes = F.col("change_type").isin("update_preimage", "delete")
    # persisted: the probe, the staged rows and the closing join must see
    # the same epoch; ONE aggregate answers its touched buckets and its
    # opening/closing row counts
    chb = with_bucket(ch, key_cols, n_buckets).persist()
    opening = (
        chb.where(opens)
        .select(*payload_cols)
        .withColumn(FROM_COL, F.lit(epoch_num).cast("long"))
        .withColumn(TO_COL, F.lit(None).cast("long"))
    )
    try:
        probe = probe_epoch(
            chb, [BUCKET_COL], count_if={"opened": opens, "closed": closes}
        )
        n_open, n_close, touched = probe["opened"], probe["closed"], probe["touched"]
        if not os.path.exists(history_path):
            if n_close:
                raise ValueError(
                    "first folded epoch closes versions that cannot exist yet — "
                    "start the history from the feed's first epoch"
                )
            if not n_open:
                # an empty first epoch: creating from it would write a
                # schemaless parquet dir (poisoned path); skip — the sync
                # loop revisits it until a non-empty epoch creates the store
                return {"opened": 0, "closed": 0, "touched_buckets": 0}

            def fill(staging):
                stage_buckets(spark, with_bucket(opening, key_cols, n_buckets), staging)
                write_bucket_meta(staging, n_buckets, list(key_cols))

            create_store(history_path, fill, epoch_name)
            return {"opened": n_open, "closed": 0, "touched_buckets": n_buckets}

        if not is_bucketed(history_path):
            raise ValueError(f"{history_path} is not a bucketed SCD-2 history")
        recover_pending_commit(history_path)
        if epoch_name in applied_batches(history_path):
            return {"applied": False, "batch_id": epoch_name, "reason": "already_applied"}
        checked_meta(history_path, n_buckets, key_cols, what="history")
        # an evolved history MUST read through its recorded schema — a bare
        # parquet read samples one footer and would nondeterministically
        # drop the evolved column from this fold's rewritten buckets
        hist_schema = recorded_schema(spark, history_path)
        hcols = [f.name for f in hist_schema if f.name != BUCKET_COL]
        extra = [c for c in payload_cols if c not in hcols]
        if extra and not allow_evolution:
            raise ValueError(
                f"epoch payload carries columns the history lacks: {extra} — "
                "the source evolved; pass allow_evolution=True to widen the "
                "history (versions closed before the column existed read as "
                "NULL)"
            )
        if extra:
            hist_schema = widened_schema(hist_schema, ch.schema, extra)
            hcols = hcols + extra
        # opening rows missing history columns (an older-schema epoch folded
        # into an already-evolved history) null-fill
        for c in (c for c in hcols if c not in opening.columns):
            opening = opening.withColumn(c, F.lit(None).cast(hist_schema[c].dataType))
        if not touched:
            append_applied_batch(history_path, epoch_name)
            return {"opened": 0, "closed": 0, "touched_buckets": 0}
        hist = spark.read.schema(hist_schema).parquet(history_path).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        # close the open version of every closing key; all other history
        # rows in the touched buckets pass through unchanged
        closing = chb.where(closes).select(*key_cols).withColumn("_close", F.lit(True))
        rewritten = (
            hist.join(F.broadcast(closing), key_cols, "left")
            .withColumn(
                TO_COL,
                F.when(
                    F.col("_close").isNotNull() & F.col(TO_COL).isNull(),
                    F.lit(epoch_num).cast("long"),
                ).otherwise(F.col(TO_COL)),
            )
            .drop("_close")
        )
        merged = rewritten.unionByName(with_bucket(opening, key_cols, n_buckets))
        token, staging = new_staging(history_path)
        stage_buckets(spark, merged, staging, touched)
        commit_staged_buckets(
            history_path, token, staging, touched, batch_id=epoch_name,
            schema_json=hist_schema.json(),
        )
    finally:
        chb.unpersist()
    return {"opened": n_open, "closed": n_close, "touched_buckets": len(touched)}


def scd2_asof_join(
    spark: SparkSession,
    history_path: str,
    facts: DataFrame,
    key_cols: list[str],
    epoch_col: str,
    how: str = "inner",
) -> DataFrame:
    """Label every fact row with the dimension version VALID AT ITS
    EPOCH — the per-fact generalization of ``read_scd2_history``'s
    single ``as_of_epoch`` filter, and the maintained-store face of the
    batch ``scd2_point_in_time_join`` (operators/timeseries.py): facts
    carrying an epoch column join the history on KEY EQUALITY with the
    validity range as a residual predicate (``_from_epoch <= e`` and
    ``e < _to_epoch`` or open), so Catalyst plans a plain hash/merge
    join on the key — never a range BNLJ — and because a key's versions
    PARTITION the epoch axis (abutting half-open ranges, at most one
    open), each fact matches AT MOST one version: the join cannot
    amplify. Epoch semantics match ``read_scd2_history``: a fact at
    epoch e sees the state AFTER epoch e committed. Facts whose key has
    no version at their epoch (pre-insert, post-delete gap, or deleted)
    drop under ``how='inner'`` or carry NULL dimension columns under
    ``how='left'``. History payload columns that collide with fact
    column names raise (rename fact columns first) — silent suffixing
    would hide which side a column came from."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if epoch_col not in facts.columns:
        raise ValueError(f"facts lack the epoch column {epoch_col!r}")
    hist = read_merge_target(spark, history_path)
    clash = [
        c
        for c in hist.columns
        if c in facts.columns and c not in key_cols
    ]
    if clash:
        raise ValueError(
            f"history columns {clash} collide with fact columns — rename "
            "one side before the as-of join"
        )
    cond = None
    for k in key_cols:
        term = facts[k] == hist[k]
        cond = term if cond is None else (cond & term)
    cond = (
        cond
        & (hist[FROM_COL] <= facts[epoch_col])
        & (hist[TO_COL].isNull() | (hist[TO_COL] > facts[epoch_col]))
    )
    joined = facts.join(hist, cond, how)
    # drop the history's duplicate key columns; keep validity columns so
    # callers can see WHICH version labeled each fact
    for k in key_cols:
        joined = joined.drop(hist[k])
    return joined


def read_scd2_history(
    spark: SparkSession,
    history_path: str,
    as_of_epoch: int | None = None,
    current_only: bool = False,
) -> DataFrame:
    """Read the history as its logical table (layout column dropped).
    ``as_of_epoch=e`` reconstructs the state AFTER epoch e committed:
    versions with ``_from_epoch <= e`` and (open or ``_to_epoch > e``).
    ``current_only`` is the open slice — the source's current state."""
    df = read_merge_target(spark, history_path)
    if as_of_epoch is not None:
        df = df.where(
            (F.col(FROM_COL) <= F.lit(as_of_epoch))
            & (F.col(TO_COL).isNull() | (F.col(TO_COL) > F.lit(as_of_epoch)))
        )
    if current_only:
        df = df.where(F.col(TO_COL).isNull())
    return df
