"""CDC-aware JOIN-view maintenance — updates and deletes, one live side.

``pipeline.joinview`` maintains ``V = A ⋈ B`` under INSERT-ONLY inputs
(the classic insert-only IVM, tri-store layout). This module covers the
other half of the lattice: the LEFT side is a mutating fact stream
published as an upsert change feed (insert / update_preimage /
update_postimage / delete — ``merge_upsert_bucketed(change_feed=True)``),
the RIGHT side is a bucketed dimension store, and the materialized view
must RETRACT pairs when left rows change or disappear.

The reduction that keeps this simple: every pair affected by an epoch is
reachable from the epoch's OWN rows, because the feed carries both
images —

    old pairs = (update_preimage ∪ delete rows)   ⋈ B   on the OLD join key
    new pairs = (insert ∪ update_postimage rows)  ⋈ B   on the NEW join key

so maintenance per epoch is: DELETE the old pairs from the view, then
UPSERT the new pairs — two commits against an ordinary pair-keyed
bucketed target, using the existing verbs. No left snapshot is stored at
all (the feed is self-sufficient), and B is read pruned to the changed
join keys' buckets. Cost per epoch: O(|epoch| + matched pairs + touched
buckets of B and V).

Exactly-once under replay, with TWO ledger rows per epoch:
- the DELETE step ledgers as ``<epoch>:d`` — a replayed epoch cannot
  re-delete pairs a LATER epoch re-created;
- the UPSERT step is protected by VERSIONING instead: every view row
  carries ``_pair_epoch`` (the epoch number) and upserts compete on it
  (``order_col``), so a replayed old upsert loses to newer rows and a
  self-replay converges (the upsert verb's idempotence);
- the epoch's OWN name ledgers only AFTER the upsert — the completion
  marker the sync loop keys on, so a crash between the two steps leaves
  the epoch "unapplied" and the resume re-enters it (delete no-ops via
  ``:d``, upsert completes). Deletes run FIRST precisely so that crash
  window leaves missing pairs (healed by resume), never stale ones.

Epochs must apply in source commit order (``sync_join_view_from_changes``
drives the loop) — pair deletion references current state, so folds do
not commute, same as replica application. The RIGHT side is static per
epoch by contract; a mutating dimension needs the SCD-2 history +
point-in-time join instead (the as-was shape), or the tri-store
insert-only path when both sides only grow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._durable import append_applied_batch, applied_batches, epoch_number
from ._buckets import BUCKET_COL, probe_epoch, read_bucket_meta, with_bucket
from .merge import (
    list_merge_changes,
    merge_delete_bucketed,
    merge_upsert_bucketed,
    read_merge_changes,
    read_merge_target,
)

PAIR_EPOCH_COL = "_pair_epoch"


def maintain_join_view_from_changes(
    spark: SparkSession,
    view_path: str,
    right_path: str,
    changes: DataFrame,
    join_key: str,
    left_key: str,
    right_key: str,
    epoch_num: int,
    batch_id,
    n_buckets: int = 32,
) -> dict:
    """Apply ONE left-side feed epoch to the pair view (see module
    docstring for the old-pairs/new-pairs reduction and the
    delete-ledger + upsert-version exactly-once split)."""
    for c in (join_key, left_key, "change_type"):
        if c not in changes.columns:
            raise ValueError(f"changes must carry {c!r}")
    right = spark.read.parquet(right_path)
    rmeta = read_bucket_meta(right_path)
    if rmeta["key_cols"] != [join_key]:
        raise ValueError(
            f"right store must be keyed on the join key [{join_key!r}], "
            f"got {rmeta['key_cols']}"
        )
    if right_key not in right.columns:
        raise ValueError(f"right store lacks the pair id column {right_key!r}")
    left_cols = [c for c in changes.columns if c != "change_type"]
    rcols = [c for c in right.columns if c != BUCKET_COL]
    collide = (set(left_cols) & set(rcols)) - {join_key}
    if collide:
        raise ValueError(
            f"column collision between sides: {sorted(collide)} — project "
            "one side before maintaining the view"
        )

    old_img = changes.where(
        F.col("change_type").isin("update_preimage", "delete")
    ).select(*left_cols)
    new_img = changes.where(
        F.col("change_type").isin("insert", "update_postimage")
    ).select(*left_cols)

    def prune_right(keys: DataFrame) -> DataFrame:
        bk = with_bucket(keys.select(join_key), [join_key], rmeta["n_buckets"])
        touched = probe_epoch(bk, [BUCKET_COL])["touched"]
        if not touched:
            return right.limit(0)
        return right.filter(F.col(BUCKET_COL).isin(touched)).drop(BUCKET_COL)

    del_pairs = old_img.join(prune_right(old_img), join_key).select(
        left_key, right_key
    )
    ups_pairs = new_img.join(prune_right(new_img), join_key).withColumn(
        PAIR_EPOCH_COL, F.lit(epoch_num).cast("long")
    )

    n_del = 0
    if os.path.exists(view_path):
        res = merge_delete_bucketed(
            spark, view_path, del_pairs, [left_key, right_key],
            n_buckets=n_buckets, batch_id=f"{batch_id}:d",
        )
        n_del = res.get("deleted", 0)
    # view missing: nothing to delete by construction (first epochs are
    # insert-shaped); the upsert below creates the store
    n_ups = 0
    if not ups_pairs.isEmpty():
        res = merge_upsert_bucketed(
            spark, view_path, ups_pairs, [left_key, right_key],
            n_buckets=n_buckets, order_col=PAIR_EPOCH_COL,
            validate_unique=False,  # (left,right) unique per epoch: one
            # change per left key, dimension unique per join key
        )
        n_ups = res.get("updates", 0)
    if os.path.exists(view_path):
        # epoch-complete marker — the sync loop's skip key (see module
        # docstring crash semantics). A fully-empty epoch against a
        # not-yet-created view stays unmarked and is revisited: harmless.
        append_applied_batch(view_path, batch_id)
    return {"pairs_deleted": n_del, "pairs_upserted": n_ups}


def sync_join_view_from_changes(
    spark: SparkSession,
    view_path: str,
    right_path: str,
    source_path: str,
    join_key: str,
    left_key: str,
    right_key: str,
    n_buckets: int = 32,
) -> list[dict]:
    """Catch the pair view up on every unapplied feed epoch of the left
    source, in commit order — the view-maintenance sibling of
    ``sync_replica_from_changes`` (same resumability: a crash mid-sync
    re-runs from the first unapplied epoch and replays no-op)."""
    results = []
    for name in list_merge_changes(source_path):
        if name in applied_batches(view_path):
            continue
        ch = read_merge_changes(spark, source_path, [name])
        results.append(
            maintain_join_view_from_changes(
                spark, view_path, right_path, ch,
                join_key=join_key, left_key=left_key, right_key=right_key,
                epoch_num=epoch_number(name), batch_id=name,
                n_buckets=n_buckets,
            )
        )
    return results


def read_pair_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The view as its logical table (layout + version columns dropped)."""
    return read_merge_target(spark, view_path).drop(PAIR_EPOCH_COL)
