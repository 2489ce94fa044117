"""Incremental JOIN-view maintenance over bucketed parquet stores.

The additive path (``merge_additive_bucketed``) keeps GROUP-BY views
fresh; this module does the same for the other expensive view shape — an
equi-JOIN — under insert-only inputs (classic insert-only IVM): the view
``V = A ⋈ B`` is maintained per micro-batch as

    ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB

which enumerates every new pair exactly once ((ΔA, B-old), (ΔA, ΔB) from
the first term, (A-old, ΔB) from the second). All three stores — the two
input snapshots and the view — are laid out as parquet bucketed on the
join key (the ``merge_upsert_bucketed`` layout), so each maintenance
call reads ONLY the buckets the deltas hash into: cost is
O(|ΔA| + |ΔB| + matched rows + touched buckets), never O(|A| + |B|). At
100 TB this is the difference between a view that refreshes in seconds
per micro-batch and a nightly full re-join; the deltas are broadcast
(micro-batch-sized by contract), so each term is one broadcast hash join
against a bucket-pruned scan — no full-store shuffle.

Append-only is the contract (same as the additive sink): deletions or
key-updates on either side would require retracting previously-emitted
pairs, which an append-only view cannot express. A deleting source needs
the upsert sink + full recompute semantics.

Crash atomicity spans THREE stores, so the commit uses the bucketed
store's named-stores manifest (``_buckets``): all three stores' new
buckets are staged under one ``.__stage_`` dir, ONE manifest records
the full (store, bucket) swap set plus the batch id, the swaps run,
the replay ledger is appended, the manifest is removed. Any crash
inside the sequence is
rolled forward idempotently by ``recover_pending_join_commit`` — there
is no crash position where one store reflects the batch and another
does not once recovery has run, and the ledger guarantees a replayed
foreachBatch epoch no-ops (kill-tested).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .._durable import (
    append_applied_batch,
    applied_batches,
    epoch_dir_name,
    write_json_atomic,
)
from ._buckets import (
    BUCKET_COL,
    commit_staged_buckets,
    create_store,
    list_changes,
    new_staging,
    probe_epoch,
    prune_changes,
    read_changes,
    recover_pending,
    stage_buckets,
    with_bucket,
)

_META_FILE = "_join_meta.json"
_STORES = ("left", "right", "view")

# the change feed's list and prune are the bucketed store's
list_join_change_epochs = list_changes
prune_join_changes = prune_changes


def _meta_path(root: str) -> str:
    return os.path.join(root, _META_FILE)


def read_join_meta(root: str) -> dict:
    """The view's meta sidecar: pinned n_buckets, key columns and the
    three stores' schemas (raises if the view does not exist yet)."""
    with open(_meta_path(root)) as fh:
        return json.load(fh)


def recover_pending_join_commit(root: str, only_if_stale: bool = False) -> dict:
    """Roll a dangling join-view commit forward through the bucketed
    store's one recovery (``_buckets.recover_pending``): writer-path
    calls (the next maintenance call; writers are serialized per view)
    recover unconditionally and sweep unreferenced staging; reader-path
    calls pass ``only_if_stale=True`` and recover only when no live
    writer holds the store's commit lock (readers skip while it is held,
    writers wait). Returns the recovery report, or ``{}``."""
    return recover_pending(root, only_if_stale) or {}


def join_store_schema(meta: dict, store: str) -> StructType:
    """The pinned schema of ``store`` ('left'/'right'/'view'), layout
    column included."""
    return StructType.fromJson(json.loads(meta[f"{store}_schema"]))


def _read_store(
    spark: SparkSession, root: str, meta: dict, store: str
) -> DataFrame:
    """Bucket-partitioned store read with the PINNED schema (explicit
    schema keeps empty/missing buckets readable and makes reads
    independent of any single parquet footer)."""
    return spark.read.schema(join_store_schema(meta, store)).parquet(
        os.path.join(root, store)
    )


def maintain_join_view(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    batch_left: DataFrame | None = None,
    batch_right: DataFrame | None = None,
    n_buckets: int = 32,
    batch_id=None,
    change_feed: bool = False,
) -> dict:
    """Fold one micro-batch of left and/or right rows into the
    maintained join view (see module docstring for semantics, layout
    and the exactly-once contract). The FIRST call creates the view and
    must pass BOTH batches (either may be empty — their schemas are
    pinned in the meta sidecar); later calls may pass either side or
    both. Returns {applied, batch_id, view_rows_added, touched}.

    ``change_feed``: additionally publish each epoch's ΔV durably under
    ``_changes/epoch-<id>/`` INSIDE the same manifest-guarded commit —
    the change log downstream incremental consumers need: a dependent
    view (e.g. an additive aggregate over the join) folds each change
    epoch with the same epoch id and inherits end-to-end exactly-once,
    because a replayed upstream epoch no-ops BEFORE producing a change
    dir and a crash between the two views' commits leaves the ΔV
    durable for the downstream retry (deriving ΔV any other way is
    impossible post-commit: the view's new rows are already mixed into
    their buckets). Consume via ``read_join_changes``; prune consumed
    epochs with ``prune_join_changes``. Underscore-prefixed, so view
    reads never see the log as data.
    """
    if batch_left is None and batch_right is None:
        raise ValueError("at least one of batch_left/batch_right is required")
    if batch_id is not None and batch_id in applied_batches(root):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}

    if not os.path.exists(root):
        if batch_left is None or batch_right is None:
            raise ValueError(
                "view creation pins both input schemas: pass batch_left AND "
                "batch_right on the first call (either may be empty)"
            )
        for side, df in (("left", batch_left), ("right", batch_right)):
            missing = [k for k in key_cols if k not in df.columns]
            if missing:
                raise ValueError(f"batch_{side} lacks key columns {missing}")
            if BUCKET_COL in df.columns:
                raise ValueError(f"batch_{side} carries reserved column {BUCKET_COL}")
        overlap = (set(batch_left.columns) & set(batch_right.columns)) - set(
            key_cols
        )
        if overlap:
            raise ValueError(
                f"non-key columns {sorted(overlap)} exist on both sides — "
                "rename before maintaining (the view schema is key + left "
                "columns + right columns)"
            )
        change_dir = epoch_dir_name(
            uuid.uuid4().hex[:8] if batch_id is None else batch_id
        )
        a = with_bucket(batch_left, key_cols, n_buckets)
        b = with_bucket(batch_right, key_cols, n_buckets)
        # creation may be a BACKFILL (full initial tables), so unlike the
        # delta folds no broadcast is forced here — AQE picks by size
        dv = with_bucket(batch_left.join(batch_right, key_cols), key_cols, n_buckets)

        def fill(staging):
            stage_buckets(spark, a, os.path.join(staging, "left"))
            stage_buckets(spark, b, os.path.join(staging, "right"))
            n = stage_buckets(spark, dv, os.path.join(staging, "view")).count()
            if change_feed:
                dv.drop(BUCKET_COL).write.parquet(
                    os.path.join(staging, "_changes", change_dir)
                )
            meta = {
                "n_buckets": n_buckets,
                "key_cols": list(key_cols),
                "left_schema": a.schema.json(),
                "right_schema": b.schema.json(),
                "view_schema": dv.schema.json(),
            }
            write_json_atomic(_meta_path(staging), meta)
            return n

        # one rename = the whole creation commit (data + meta + ledger)
        n_dv = create_store(root, fill, batch_id)
        return {
            "applied": True,
            "batch_id": batch_id,
            "view_rows_added": n_dv,
            "touched": {s: n_buckets for s in _STORES},
            "change_dir": change_dir if change_feed else None,
        }

    recover_pending_join_commit(root)
    if batch_id is not None and batch_id in applied_batches(root):
        return {"applied": False, "batch_id": batch_id, "reason": "already_applied"}
    meta = read_join_meta(root)
    if meta["n_buckets"] != n_buckets or meta["key_cols"] != list(key_cols):
        raise ValueError(
            f"layout mismatch: view has n_buckets={meta['n_buckets']} "
            f"key_cols={meta['key_cols']}, caller passed {n_buckets}/{list(key_cols)}"
        )

    empty_left = spark.createDataFrame([], join_store_schema(meta, "left")).drop(
        BUCKET_COL
    )
    empty_right = spark.createDataFrame([], join_store_schema(meta, "right")).drop(
        BUCKET_COL
    )
    da = batch_left if batch_left is not None else empty_left
    db = batch_right if batch_right is not None else empty_right
    if sorted(da.columns) != sorted(empty_left.columns):
        raise ValueError(
            f"batch_left columns {sorted(da.columns)} != pinned left schema "
            f"{sorted(empty_left.columns)}"
        )
    if sorted(db.columns) != sorted(empty_right.columns):
        raise ValueError(
            f"batch_right columns {sorted(db.columns)} != pinned right schema "
            f"{sorted(empty_right.columns)}"
        )

    da = with_bucket(da, key_cols, n_buckets).persist()
    db = with_bucket(db, key_cols, n_buckets).persist()
    dv = None
    try:
        buckets_a = probe_epoch(da, [BUCKET_COL])["touched"]
        buckets_b = probe_epoch(db, [BUCKET_COL])["touched"]
        a_old = _read_store(spark, root, meta, "left")
        b_old = _read_store(spark, root, meta, "right")

        # ΔA ⋈ (B-old ∪ ΔB): B-old pruned to ΔA's buckets (key equality
        # implies same bucket, so other buckets cannot match)
        b_new_pruned = b_old.where(F.col(BUCKET_COL).isin(buckets_a)).unionByName(
            db.where(F.col(BUCKET_COL).isin(buckets_a))
        )
        term1 = F.broadcast(da.drop(BUCKET_COL)).join(
            b_new_pruned.drop(BUCKET_COL), key_cols
        )
        # A-old ⋈ ΔB (A-old only: ΔA ⋈ ΔB already counted in term1)
        term2 = a_old.where(F.col(BUCKET_COL).isin(buckets_b)).drop(
            BUCKET_COL
        ).join(F.broadcast(db.drop(BUCKET_COL)), key_cols)
        view_schema_cols = [
            f.name for f in join_store_schema(meta, "view") if f.name != BUCKET_COL
        ]
        dv = with_bucket(
            term1.select(*view_schema_cols).unionByName(
                term2.select(*view_schema_cols)
            ),
            key_cols,
            n_buckets,
        ).persist()
        probe_v = probe_epoch(dv, [BUCKET_COL])
        buckets_v, n_dv = probe_v["touched"], probe_v["rows"]

        token, staging = new_staging(root, inside=True)
        staged: dict[str, list[int]] = {}

        def stage(store: str, old: DataFrame, delta: DataFrame, buckets: list[int]):
            if not buckets:
                return
            merged = old.where(F.col(BUCKET_COL).isin(buckets)).unionByName(delta)
            stage_buckets(spark, merged, os.path.join(staging, store))
            staged[store] = buckets

        stage("left", a_old, da, buckets_a)
        stage("right", b_old, db, buckets_b)
        stage("view", _read_store(spark, root, meta, "view"), dv, buckets_v)
        change_dir = None
        if change_feed:
            # even an empty ΔV publishes: the dir marks the epoch as
            # processed for pull-based consumers
            change_dir = epoch_dir_name(token if batch_id is None else batch_id)
            dv.drop(BUCKET_COL).write.parquet(os.path.join(staging, "changes"))
        if staged or change_dir:
            commit_staged_buckets(
                root, token, staging, staged, batch_id, change_dir=change_dir
            )
        elif batch_id is not None:
            append_applied_batch(root, batch_id)
    finally:
        da.unpersist()
        db.unpersist()
        if dv is not None:
            dv.unpersist()
    return {
        "applied": True,
        "batch_id": batch_id,
        "view_rows_added": n_dv,
        "touched": {s: len(b) for s, b in staged.items()},
        "change_dir": change_dir,
    }


def read_join_view(spark: SparkSession, root: str) -> DataFrame:
    """The maintained view as its logical table (no layout column).
    Reader-side recovery only fires when the recorded writer is dead."""
    recover_pending_join_commit(root, only_if_stale=True)
    meta = read_join_meta(root)
    return _read_store(spark, root, meta, "view").drop(BUCKET_COL)


def read_join_changes(
    spark: SparkSession, root: str, epochs: list[str] | None = None
) -> DataFrame:
    """ΔV rows for the given change epochs (default: all published).
    Schema is the pinned view schema (layout column dropped), so empty
    change sets read cleanly."""
    recover_pending_join_commit(root, only_if_stale=True)
    view_schema = join_store_schema(read_join_meta(root), "view")
    schema = StructType([f for f in view_schema if f.name != BUCKET_COL])
    return read_changes(spark, root, epochs, schema)
