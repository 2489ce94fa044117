"""Streaming incremental sync — continuous clone via foreachBatch + merge.

Closes the loop between the streaming layer and pipeline.merge: a stream of
change rows (inserts/updates keyed on the PK) is applied to a parquet
target with upsert semantics, one micro-batch at a time. This is the
continuous version of the reference's one-shot copy — the capability its
north star marks as "requires external tooling".

Semantics with ``order_col`` (a version/sequence column):
- within a batch, duplicate keys collapse to the row with the greatest
  order_col (``max_by``);
- ACROSS batches, the target's existing version also competes: a late
  micro-batch carrying an older version can never regress a row the target
  already has at a newer version (review-caught gap — intra-batch dedup
  alone let batch N+1 overwrite batch N's newer data).
Without ``order_col``, update rows win unconditionally (last-writer-wins by
arrival, the plain upsert contract).

Scale contract (round-4 redesign): the parquet target is BUCKETED —
partitioned on ``pmod(xxhash64(key), n_buckets)`` via
``pipeline.merge.merge_upsert_bucketed`` — so each micro-batch reads and
rewrites ONLY the bucket partitions its keys touch. Per-batch cost is
O(|batch| + |touched buckets|), not O(|target|): a continuous clone of a
100 TB table whose micro-batch touches 1 of 4096 buckets moves ~25 GB,
not 100 TB. Untouched partition directories are left byte-identical
(asserted in tests). Lakehouse formats (Delta/Iceberg MERGE) add snapshot
isolation over this same layout for object stores; pre-existing FLAT
(unbucketed) targets keep the legacy full-rewrite path for back-compat —
``pipeline.merge.rebucket_target`` is the one-off exit: migrate the flat
target once and every later batch takes the bucketed path.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._durable import applied_batches, epoch_dir_name
from ..pipeline._buckets import BUCKET_COL, read_bucket_meta, swap_write
from ..pipeline.merge import (
    is_bucketed,
    merge_additive_bucketed,
    merge_upsert,
    merge_upsert_bucketed,
)


# Stable machine-matchable marker for the in-flight evolution guard
# (round 10, VERDICT r9 #5): ``supervise_apply_cdc`` classifies the
# restartable failure by THIS token, not by the human prose around it —
# a StreamingQueryException wrap flattens the cause chain to text, so a
# dedicated exception class would not survive it, but a sentinel token
# does, and a reworded message can no longer silently turn managed
# restarts into hard failures.
SCHEMA_EVOLVED_MARKER = "[SCHEMA_EVOLVED]"


def _schema_evolved_error(missing: list[str]) -> ValueError:
    """The guard's failure, built in ONE place so the marker the
    supervisor matches on and the message the operator reads cannot
    drift apart."""
    return ValueError(
        f"{SCHEMA_EVOLVED_MARKER} source schema evolved while the "
        f"stream was running: columns {missing} are absent from the "
        "stream's pinned schema — restart the stream with the widened "
        "schema (nothing was committed; the checkpoint will re-deliver "
        "this batch)"
    )


def start_batches(
    stream_df: DataFrame, apply, checkpoint_dir: str, available_now: bool
):
    """Start ``stream_df`` as a foreachBatch query — the one driver under
    every streaming face. ``apply(batch_df, batch_id)`` runs once per
    micro-batch; the query's offsets and commits live under
    ``checkpoint_dir`` (a restart resumes there and re-delivers at most
    the uncommitted batch); ``available_now`` drains what the source
    holds and stops instead of running continuously. Returns the
    running ``StreamingQuery``. The driver adds no Spark action: each
    face's ``apply`` owns its own empty-batch skip and exactly-once
    mechanism."""
    writer = stream_df.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def checkpoint_namespace(checkpoint_dir: str) -> str:
    """A stable 12-hex tag of ``checkpoint_dir``'s absolute path: faces
    whose ledger lives in a store SHARED across pipelines (the indexes)
    prefix their batch ids with it, so another pipeline — or a fresh
    checkpoint — over the same store never collides with this stream's
    batch 0 and silently drops its append."""
    return hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]


def _latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str | None
) -> DataFrame:
    """One row per key: the row with the greatest ``order_col``
    (``max_by``), or without one the greatest non-key struct — a
    deterministic pick, so a replayed batch picks the same rows."""
    non_key = [c for c in df.columns if c not in key_cols]
    picker = (
        F.max_by(F.struct(*non_key), F.col(order_col))
        if order_col is not None
        else F.max(F.struct(*non_key))
    )
    return (
        df.groupBy(*key_cols)
        .agg(picker.alias("_s"))
        .select(*key_cols, *[F.col(f"_s.{c}").alias(c) for c in non_key])
    )


def _require_epoch(change_stream: DataFrame, face: str) -> None:
    if "_epoch" not in change_stream.columns:
        raise ValueError(
            f"{face} needs the _epoch column — read the feed through "
            "read_merge_changes_stream"
        )


def _fold_epochs(batch_df: DataFrame, ledger_root: str, fold) -> None:
    """Split a catch-up micro-batch back into its feed epochs and call
    ``fold(changes, epoch_num, epoch_name)`` for each one ``ledger_root``
    has not applied yet, in epoch order — for folds that do not commute
    (each references the state the previous epoch left). The probe is
    one distinct over the tiny ``_epoch`` column; a NULL epoch (a
    non-numeric epoch dir) cannot be ordered and fails loud."""
    epochs = [r["_epoch"] for r in batch_df.select("_epoch").distinct().collect()]
    if None in epochs:
        raise ValueError(
            "epoch-ordered folds need numeric epoch ids; the feed carries a "
            "non-numeric epoch directory"
        )
    for e in sorted(epochs):
        name = epoch_dir_name(e)
        if name in applied_batches(ledger_root):
            continue
        fold(batch_df.where(F.col("_epoch") == e).drop("_epoch"), e, name)


def stream_merge_into(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    available_now: bool = True,
    n_buckets: int = 32,
    change_feed: bool = False,
):
    """Start a streaming query that merges every micro-batch into
    ``target_path``. See module docstring for ordering semantics and the
    bucketed-layout scale contract. New targets are created bucketed
    (``n_buckets`` partitions, fixed at first write); an existing FLAT
    target falls back to the legacy O(|target|) full-rewrite merge.

    READER-VISIBLE LAYOUT CHANGE (round 4): a bucketed target's parquet
    schema carries the ``_bucket`` partition column, so a plain
    ``spark.read.parquet(target)`` sees one extra int column compared to
    the pre-round-4 flat layout. Consumers that depend on the exact
    column set must read through ``pipeline.merge.read_merge_target``
    (drops the layout column) or select columns explicitly.

    ``change_feed`` (round 7, bucketed targets only): publish each
    epoch's actually-changed rows as a durable CDC log under the
    target's ``_changes/`` (see merge_upsert_bucketed's change-feed
    contract) — the streamed clone becomes a change SOURCE downstream
    incremental views can tail with the same epoch ids."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _merge_batch(
            batch_df, target_path, key_cols, order_col, n_buckets,
            change_feed=change_feed, batch_id=batch_id,
        )

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def _merge_batch(
    batch_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    order_col: str | None,
    n_buckets: int,
    change_feed: bool = False,
    batch_id=None,
) -> None:
    """One micro-batch's merge — the foreachBatch body of
    ``stream_merge_into``, shared with the validated sink."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    deduped = _latest_per_key(batch_df, key_cols, order_col)
    if not os.path.exists(target_path) or is_bucketed(target_path):
        # scale path: create-or-merge a bucketed target; only the
        # touched bucket partitions are read and rewritten. max_by
        # inside handles the cross-batch version competition, and
        # replaying a committed batch recomputes the same buckets
        # (idempotent), so restart delivery is exactly-once in state —
        # up to merge_upsert_bucketed's documented crash window: a
        # crash between a bucket's two swap renames strands that
        # bucket's old data under a recoverable .__old_b<i> suffix
        # (same class as swap_write on the flat path, scoped to 1/N).
        merge_upsert_bucketed(
            spark,
            target_path,
            deduped,
            key_cols,
            n_buckets=n_buckets,
            order_col=order_col,
            validate_unique=False,  # groupBy above guarantees unique keys
            change_feed=change_feed,
            batch_id=batch_id if change_feed else None,
        )
        return
    # legacy flat layout (pre-round-4 targets): full-rewrite merge.
    # Exit path: pipeline.merge.rebucket_target migrates the target
    # once, after which this branch is never taken again for it.
    if change_feed:
        raise ValueError(
            "change_feed requires the bucketed layout (the feed rides the "
            "bucketed commit manifest); rebucket_target migrates a flat "
            "target once"
        )
    deduped = deduped.persist()  # consumed by count probes + swap write
    try:
        if order_col is None:
            merge_upsert(
                spark, target_path, deduped, key_cols, validate_unique=False
            )
        else:
            # version-aware merge: target rows compete on order_col so a
            # late batch with an older version cannot regress the target
            target = spark.read.parquet(target_path)
            merged = _latest_per_key(
                target.unionByName(deduped), key_cols, order_col
            )
            swap_write(spark, merged, target_path)
    finally:
        deduped.unpersist()


def stream_merge_validated(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    constraints: list[tuple[str, str]],
    quarantine_path: str,
    order_col: str | None = None,
    available_now: bool = True,
    n_buckets: int = 32,
    change_feed: bool = False,
):
    """``stream_merge_into`` with a per-micro-batch DATA-QUALITY GATE —
    the streaming face of ``dq_constraint_report``: each constraint is a
    (name, boolean SQL predicate) a row must satisfy; rows failing any
    predicate (or evaluating it to NULL — unknown is not clean) are
    routed to an append-only quarantine table tagged with the violated
    constraint name and batch id, and ONLY clean rows merge into the
    target. This is the shape a 100 TB ingest actually needs: a bad
    upstream batch must neither poison the target nor kill the stream —
    quarantine keeps the pipeline flowing while preserving every
    rejected row (with its reason) for replay after the upstream fix.

    The split is computed ONCE per batch (localCheckpoint) so the gate
    and the merge read the same evaluation — the incremental_append
    pin discipline. Quarantine is EXACTLY-ONCE too (round 7; it was
    append-only with documented replay duplicates): each batch
    OVERWRITES its own ``epoch-<id>/`` subdir, so a replayed batch
    rewrites identical content instead of appending a second copy.
    Read it back through ``read_quarantine`` (the epoch layout needs a
    recursive listing). ``change_feed`` (round 7): as for stream_merge_into —
    the gated clone publishes its CDC log too, and only CLEAN rows ever
    reach the feed (quarantined rows changed nothing downstream)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        first_violation = F.coalesce(
            *[
                F.when(~F.coalesce(F.expr(pred), F.lit(False)), F.lit(name))
                for name, pred in constraints
            ],
            F.lit(None).cast("string"),
        )
        checked = batch_df.withColumn("_violation", first_violation).localCheckpoint()
        bad = checked.filter(F.col("_violation").isNotNull())
        if not bad.isEmpty():
            (
                bad.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .parquet(os.path.join(quarantine_path, epoch_dir_name(batch_id)))
            )
        good = checked.filter(F.col("_violation").isNull()).drop("_violation")
        _merge_batch(
            good, target_path, key_cols, order_col, n_buckets,
            change_feed=change_feed, batch_id=batch_id,
        )

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def read_quarantine(spark, quarantine_path: str):
    """Read a validated sink's quarantine table (all epochs). The
    epoch-subdir layout (exactly-once under replay) needs a recursive
    file listing — a plain parquet read of the root would refuse the
    nested dirs. Raises if nothing was ever quarantined (no dir)."""
    if not os.path.isdir(quarantine_path):
        raise ValueError(
            f"no quarantine at {quarantine_path} — nothing was ever rejected"
        )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(quarantine_path)
    )


def stream_append_jdbc(
    stream_df: DataFrame,
    url: str,
    table: str,
    checkpoint_dir: str,
    bulk: bool = True,
    extra: dict[str, str] | None = None,
    available_now: bool = True,
):
    """Continuous clone into a LIVE JDBC target: every micro-batch is
    appended through ``connectors.JdbcWritePlan`` (the reference's batched
    INSERT/bulk-copy sizes) via foreachBatch — the streaming version of the
    one-shot wire copy, executed end-to-end against embedded Derby in
    tests.

    Delivery contract: appends are AT-LEAST-ONCE across failures (a batch
    retried after a crash between the JDBC commit and the checkpoint write
    re-appends). Exactly-once needs either an idempotent key in the target
    (unique constraint + reject-duplicates) or a transactional two-phase
    sink — documented rather than faked here, matching the reference's own
    plain-INSERT semantics (Program.cs:638-674)."""
    from ..connectors import JdbcWritePlan

    plan = JdbcWritePlan(url=url, table=table, bulk=bulk, extra=extra or {})

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        plan.write(batch_df)

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def stream_merge_jdbc(
    stream_df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    staging_table: str | None = None,
    bulk: bool = True,
    extra: dict[str, str] | None = None,
    available_now: bool = True,
):
    """Continuous clone into a LIVE JDBC target with EXACTLY-ONCE-PER-VERSION
    semantics — the upsert upgrade of ``stream_append_jdbc``'s documented
    at-least-once contract.

    Per micro-batch (foreachBatch):
    1. collapse duplicate keys to the greatest ``order_col`` row (same
       intra-batch rule as ``stream_merge_into``);
    2. overwrite a STAGING table through ``JdbcWritePlan`` (set-based, the
       reference's batch sizes — never per-row driver statements);
    3. run ONE server-side ``MERGE INTO target USING staging`` with the
       version guard ``staging.order_col > target.order_col`` on the
       UPDATE arm.

    The MERGE is idempotent: replaying a committed batch after a crash
    between the JDBC commit and the checkpoint write finds equal versions
    (no update) and existing keys (no insert), so at-least-once replay
    delivers exactly-once-per-version state — asserted across a simulated
    restart in tests/test_jdbc_roundtrip.py. Without ``order_col`` the
    UPDATE arm is unconditional (last-writer-wins; replay may rewrite a
    row with identical content, still idempotent in effect).

    The staging table is transient scratch (one per sink; pass
    ``staging_table`` to avoid collisions when two sinks share a target
    database). Derby ≥ 10.11 / SQL Server / PostgreSQL all speak this
    MERGE dialect; lakehouse targets use pipeline.merge instead."""
    from ..connectors import JdbcWritePlan, execute_jdbc_statements

    staging = staging_table or f"{table}_STAGING"

    def q(c: str) -> str:
        # Spark's JDBC writer creates columns with dialect-quoted (exact
        # case) identifiers; statements must quote the same way
        return '"' + c.replace('"', '""') + '"'

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        non_key = [c for c in batch_df.columns if c not in key_cols]
        if non_key:
            deduped = _latest_per_key(batch_df, key_cols, order_col)
        else:
            # key-only table (pure link table): no payload to pick, no
            # MATCHED arm to emit — MERGE becomes insert-if-absent
            deduped = batch_df.dropDuplicates(key_cols)
        JdbcWritePlan(
            url=url, table=staging, bulk=bulk, mode="overwrite", extra=extra or {}
        ).write(deduped)
        # bootstrap the target as an empty clone of staging on first
        # contact; "already exists" (Derby X0Y32 etc.) is the normal case
        # and is swallowed — anything else (privileges, bad name, dead
        # connection) surfaces here instead of as a confusing
        # table-not-found on the MERGE below
        _, create_errors = execute_jdbc_statements(
            spark,
            url,
            [f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA"],
            continue_on_error=True,
        )
        for stmt_sql, err in create_errors:
            if "X0Y32" not in err and "already exist" not in err.lower():
                raise RuntimeError(
                    f"target bootstrap failed (not an already-exists): {err}"
                )
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
        cols = ", ".join(q(c) for c in batch_df.columns)
        vals = ", ".join(f"s.{q(c)}" for c in batch_df.columns)
        guard = f" AND s.{q(order_col)} > t.{q(order_col)}" if order_col else ""
        matched = ""
        if non_key:
            set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_key)
            matched = f" WHEN MATCHED{guard} THEN UPDATE SET {set_clause}"
        merge = (
            f"MERGE INTO {table} t USING {staging} s ON {on}"
            f"{matched}"
            f" WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
        applied, errors = execute_jdbc_statements(
            spark, url, [merge], continue_on_error=False
        )
        if errors:  # if/raise, not assert: must fail the batch under -O too
            raise RuntimeError(f"merge statement failed: {errors}")

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def stream_agg_maintain(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    n_buckets: int = 32,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    hll_cols: list[str] | None = None,
    hist_cols: dict[str, list[float]] | None = None,
):
    """Continuously-maintained GROUP BY materialized view: every
    micro-batch's partial aggregates ADD into the bucketed view via
    ``pipeline.merge.merge_additive_bucketed`` (round 6). This is the
    streaming-native way to keep a big aggregate fresh WITHOUT unbounded
    state in the streaming engine itself: the view lives in parquet
    (restart-safe, queryable by any reader through
    ``read_merge_target``), the stream carries only each batch's rows,
    and per-batch cost is O(|batch| + touched buckets).

    Exactly-once: foreachBatch is at-least-once on restart, and addition
    does NOT converge under replay (unlike the upsert sink) — so the
    epoch ``batch_id`` Spark hands every foreachBatch call is threaded
    into the merge, whose applied-batch ledger suppresses re-delivery
    inside the same commit sequence that publishes the data
    (crash-position-proof; see merge_additive_bucketed). AVG = sum/_n at
    read time (read_additive_view); ``min_cols``/``max_cols`` (round 7)
    maintain MIN/MAX, valid because this sink is append-only by
    construction — a source with deletions/retractions needs the upsert
    sink + full recompute semantics (see merge_additive_bucketed's
    deletion caveat). ``hist_cols`` (round 7) maintains fixed-edge
    histogram counts for read-time quantile estimates
    (read_additive_view(quantile_of=...)); the edge spec is pinned at
    view creation and must be identical on every restart.

    Ledger contract (same as Delta's txnAppId/txnVersion idempotent
    writes): epoch ids are meaningful only within ONE checkpoint
    lineage. Keep the checkpoint directory with the view — restarting
    against a FRESH checkpoint re-numbers epochs from 0, which the
    ledger suppresses (correct for a replay of the same source, as
    tested; wrong if the new batch 0 carries genuinely new data —
    that is a caller error, exactly as it is for Delta).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_additive_bucketed(
            batch_df.sparkSession,
            target_path,
            batch_df,
            key_cols,
            sum_cols,
            n_buckets=n_buckets,
            batch_id=batch_id,
            min_cols=min_cols,
            max_cols=max_cols,
            hll_cols=hll_cols,
            hist_cols=hist_cols,
        )

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def stream_join_maintain(
    stream_df: DataFrame,
    side: str,
    root: str,
    key_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously-maintained JOIN view, one streaming side: every
    micro-batch of ``side`` ("left"/"right") rows folds into the
    tri-store view via ``pipeline.joinview.maintain_join_view`` — the
    insert-only IVM path (ΔV = Δside ⋈ other-store), with the same
    exactly-once epoch ledger as the additive sink. The view must
    already exist (creation pins both schemas, so bootstrap it with one
    batch call per side); its pinned n_buckets is read from the meta
    sidecar, not re-specified here. Writers are serialized per view:
    run ONE stream per view — for two live sides, union-tag the sources
    into a single stream and split inside a custom foreachBatch instead
    of running two concurrent queries against the same root."""
    from ..pipeline.joinview import read_join_meta

    if side not in ("left", "right"):
        raise ValueError(f"side must be 'left' or 'right', got {side!r}")
    n_buckets = read_join_meta(root)["n_buckets"]  # view must exist already
    apply_batch = _join_batches(
        root, key_cols, n_buckets,
        lambda batch_df: (batch_df, None) if side == "left" else (None, batch_df),
    )
    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def _join_batches(root: str, key_cols: list[str], n_buckets: int, split):
    """The one foreachBatch body of both join faces: ``split(batch_df)``
    returns the micro-batch's (left, right) rows, either side None, and
    the pair folds as ONE ``maintain_join_view`` call under the epoch's
    ledger id."""
    from ..pipeline.joinview import maintain_join_view

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        left, right = split(batch_df)
        maintain_join_view(
            batch_df.sparkSession, root, key_cols,
            batch_left=left, batch_right=right,
            n_buckets=n_buckets, batch_id=batch_id,
        )

    return apply_batch


def stream_join_maintain_tagged(
    stream_df: DataFrame,
    side_col: str,
    root: str,
    key_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Two LIVE join sides through ONE stream — the shape the
    single-side sink's docstring prescribes: the stream carries a
    ``side_col`` tag ('left'/'right') plus the union of both sides'
    columns (the other side's columns NULL), each micro-batch is split
    by tag and folded as one ``maintain_join_view`` call, so pairs
    whose halves arrive in the SAME epoch are joined by the dA x dB
    term and the epoch still commits atomically under one ledger id.
    This keeps the single-writer-per-view invariant that two concurrent
    per-side streams would violate. Column contract: left columns =
    pinned left schema, right columns = pinned right schema; rows are
    projected by tag, so a left-tagged row's right-only columns are
    ignored (and vice versa)."""
    from ..pipeline.joinview import join_store_schema, read_join_meta

    meta = read_join_meta(root)  # view must exist already
    cols = {
        s: [f.name for f in join_store_schema(meta, s) if f.name != BUCKET_COL]
        for s in ("left", "right")
    }

    def split(batch_df: DataFrame):
        batch_df = batch_df.localCheckpoint()  # split reads one evaluation
        return tuple(
            batch_df.where(F.col(side_col) == s).select(*cols[s])
            for s in ("left", "right")
        )

    apply_batch = _join_batches(root, key_cols, meta["n_buckets"], split)
    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def stream_apply_cdc(
    stream_df: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    available_now: bool = True,
    n_buckets: int = 32,
    drop_order_col: bool = False,
    allow_evolution: bool = False,
    source_path: str | None = None,
):
    """Continuously apply a CDC ROW stream to a bucketed replica — the
    streaming face of ``pipeline.merge.apply_merge_changes`` (round 7),
    i.e. "APPLY CHANGES INTO" for this layout: input rows carry the
    feed's ``change_type`` tags (insert / update_postimage / delete
    apply; update_preimage rows are informational and dropped), and
    every micro-batch lands as ONE manifest-guarded commit keyed by the
    foreachBatch epoch, so restarts replay exactly-once.

    ``order_col``: a micro-batch may pack SEVERAL changes to one key
    (the per-epoch one-change-per-key contract holds per SOURCE epoch,
    not per consumer micro-batch — availableNow catch-up concatenates
    epochs). The greatest ``order_col`` row wins per key — a DELETE with
    the highest sequence removes the row, a later re-insert recreates
    it; provide a TOTAL order (ties are nondeterministic, same contract
    as stream_merge_into). Without ``order_col``, a batch carrying
    duplicate keys raises (apply_merge_changes' guard) — correct for
    one-source-epoch-per-micro-batch delivery, e.g. a trigger per feed
    publish. Cross-batch ordering is the stream's arrival order: apply
    epochs in source commit order (read_merge_changes feeds them
    naturally ordered). ``drop_order_col=True`` removes the order
    column after resolution, for SYNTHETIC orders that are not source
    data — the ``_epoch`` column ``read_merge_changes_stream`` derives
    from the feed's directory names is the intended pairing (without
    the drop it would leak into the replica schema and diverge the
    copy).

    Scale: per batch O(|batch| + touched buckets) — the replica never
    rescans its own or the source's history; the chained-clone topology
    at 100 TB.

    SCHEMA EVOLUTION: a Structured Streaming query pins its input schema
    at start (``read_merge_changes_stream`` reads the source's recorded
    schema ONCE), so an upstream ALTER TABLE is not visible to a running
    stream — restart the stream to pick up the widened schema, then the
    first evolved batch applies with the batch path's
    ``allow_evolution=True`` (pipeline.merge.apply_merge_changes). The
    restart-on-evolution contract is Spark's own for file streams, not a
    gap in this layout; the checkpoint keeps the restart exactly-once.

    THE RACE THE GUARD CLOSES (round-8 review catch): if the source
    evolves while the stream is RUNNING, the file source projects the
    evolved epoch's files down to the pinned columns — the new column
    would be silently dropped, the epoch committed to the checkpoint,
    and the loss made permanent (a restart never re-delivers committed
    files). Pass ``source_path`` and every micro-batch first compares
    the source's CURRENT recorded schema against the batch's columns:
    if the source is wider, the batch FAILS LOUDLY before anything
    commits, so the checkpoint does not advance and a restart with the
    widened schema re-delivers the same files. A catch-up batch of
    old epochs can trip the guard early (the recorded schema widens
    atomically with the evolving epoch's publish) — the restart is then
    merely harmless. Without ``source_path`` the guard is off and the
    operator owns the restart discipline."""
    from ..pipeline.merge import apply_merge_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if source_path is not None:
            # in-flight evolution guard (docstring): fail BEFORE anything
            # commits so the checkpoint never advances past files whose
            # evolved columns this stream's pinned schema would drop
            meta = read_bucket_meta(source_path)
            if meta.get("schema_json"):
                schema = T.StructType.fromJson(json.loads(meta["schema_json"]))
                src_cols = {f.name for f in schema} - {BUCKET_COL}
                missing = sorted(src_cols - set(batch_df.columns))
                if missing:
                    raise _schema_evolved_error(missing)
        if batch_df.isEmpty():
            return
        live = batch_df.where(F.col("change_type") != "update_preimage")
        if order_col is not None:
            live = _latest_per_key(live, key_cols, order_col)
            if drop_order_col:
                live = live.drop(order_col)
        apply_merge_changes(
            batch_df.sparkSession,
            target_path,
            live,
            key_cols,
            n_buckets=n_buckets,
            batch_id=batch_id,
            allow_evolution=allow_evolution,
        )

    return start_batches(stream_df, apply_batch, checkpoint_dir, available_now)


def supervise_apply_cdc(
    spark,
    source_path: str,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    *,
    n_buckets: int = 32,
    max_restarts: int = 5,
    initial_stream: DataFrame | None = None,
) -> dict:
    """Managed evolution restarts for ``stream_apply_cdc`` (round 9,
    VERDICT r8 #4) — the supervisor that completes the restart contract
    the in-flight guard promises: the guard fails a micro-batch LOUDLY
    before its checkpoint advances when the source schema widened under
    a running stream, but the operator then had to hand-restart with
    the widened schema. This loop automates it:

    1. run an ``availableNow`` catch-up pass of ``stream_apply_cdc``
       (guard armed via ``source_path``, ``allow_evolution=True``,
       epoch order resolved through the feed's ``_epoch`` column);
    2. if the pass fails with the guard's evolution error, REBUILD the
       reader — ``read_merge_changes_stream`` picks up the source's
       CURRENT recorded schema — and resume from the SAME checkpoint:
       Structured Streaming replays the failed batch's recorded file
       offsets through the new wider reader, so the evolved epoch is
       re-delivered in full and nothing is lost or double-applied (the
       replica commit is ledgered per micro-batch id);
    3. return ``{"restarts": n}`` once a pass drains cleanly. Any
       non-evolution failure re-raises untouched; ``max_restarts``
       bounds a pathological ALTER-per-batch source.

    ``initial_stream``: a reader the caller already holds — the
    long-running-deployment case where the stream was DEFINED before
    the ALTER landed (exactly the pinned-schema state the guard
    protects); omitted, the first pass builds a fresh reader too."""
    from pyspark.errors import StreamingQueryException

    from ..pipeline.merge import read_merge_changes_stream

    restarts = 0
    stream = initial_stream
    while True:
        if stream is None:
            stream = read_merge_changes_stream(spark, source_path)
        q = stream_apply_cdc(
            stream,
            target_path,
            key_cols,
            checkpoint_dir,
            order_col="_epoch",
            drop_order_col=True,
            available_now=True,
            n_buckets=n_buckets,
            allow_evolution=True,
            source_path=source_path,
        )
        try:
            q.awaitTermination()
            return {"restarts": restarts}
        except StreamingQueryException as exc:
            # match the guard's stable marker, not its prose (round 10,
            # VERDICT r9 #5 — a reworded message must keep restarting)
            if SCHEMA_EVOLVED_MARKER not in str(exc):
                raise
            restarts += 1
            if restarts > max_restarts:
                raise RuntimeError(
                    f"supervise_apply_cdc: {restarts} evolution restarts "
                    f"without convergence syncing {source_path!r} — the "
                    "source is evolving faster than catch-up passes drain"
                ) from exc
            stream = None  # rebuild at the current (widened) recorded schema


def stream_scd2_maintain(
    change_stream: DataFrame,
    history_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    n_buckets: int = 32,
):
    """Continuously maintain an SCD-2 history from a tailed change feed
    (round 7): pair with ``read_merge_changes_stream`` — the input must
    carry its ``_epoch`` column, because a catch-up micro-batch can span
    SEVERAL feed epochs and SCD-2 folds do not commute (closing
    references the currently-open version), so the batch is split back
    into its epochs and folded in epoch order, each through the fold's
    own ledgered commit (a restart that replays the micro-batch no-ops
    per epoch). The per-batch epoch probe is a distinct over the tiny
    ``_epoch`` column; a NULL epoch (non-numeric id) fails loud, same
    as the batch fold."""
    from ..pipeline.scd2 import fold_scd2_epoch

    _require_epoch(change_stream, "stream_scd2_maintain")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _fold_epochs(
            batch_df, history_path,
            lambda ch, e, name: fold_scd2_epoch(
                batch_df.sparkSession, history_path, ch, key_cols,
                e, name, n_buckets,
            ),
        )

    return start_batches(change_stream, apply_batch, checkpoint_dir, available_now)


def stream_join_view_cdc(
    change_stream: DataFrame,
    view_path: str,
    right_path: str,
    checkpoint_dir: str,
    join_key: str,
    left_key: str,
    right_key: str,
    available_now: bool = True,
    n_buckets: int = 32,
):
    """Continuously maintain the CDC-aware pair view (``pipeline.
    joinview_cdc``) from a tailed fact feed: pair with
    ``read_merge_changes_stream`` — the ``_epoch`` column is required,
    because pair deletion references current state (folds do not
    commute), so a catch-up micro-batch spanning several epochs is
    split back into them and folded in epoch order, each through the
    fold's own two-step exactly-once discipline (a replayed micro-batch
    no-ops per epoch via the view's ledger marker)."""
    from ..pipeline.joinview_cdc import maintain_join_view_from_changes

    _require_epoch(change_stream, "stream_join_view_cdc")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _fold_epochs(
            batch_df, view_path,
            lambda ch, e, name: maintain_join_view_from_changes(
                batch_df.sparkSession, view_path, right_path, ch,
                join_key=join_key, left_key=left_key, right_key=right_key,
                epoch_num=e, batch_id=name, n_buckets=n_buckets,
            ),
        )

    return start_batches(change_stream, apply_batch, checkpoint_dir, available_now)
