"""Round 10 — VERDICT r9 / ADVICE r9 closures:

- IVF membership kind: append anti-joins a dedicated ``ids/<seg>/``
  column family, never the vectors tree (VERDICT r9 #2), with
  torn-append repair and legacy migration through one reconcile scan;
- duplicate-id collapse in all three index BUILD paths (VERDICT r9 #3);
- age-gated retired-dir sweep across the three indexes (VERDICT r9 #6);
- quiesce fence at the commit point + lazy-snapshot revalidation
  (ADVICE r9 high) and held-marker heartbeat (ADVICE r9 medium);
- supervisor matches the guard's stable marker, not prose (VERDICT r9
  #5).
"""

import os
import threading
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
from database_clonev2_spark.io import load
from database_clonev2_spark.pipeline import _buckets as bk

K = 4


def _new_batch(emb, n=3, offset=200_000):
    return emb.filter(F.col("vec_id") < n).select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding"
    )


def _active_vectors(spark, path):
    return spark.read.parquet(
        ai._vectors_path(path, ai.read_ivf_meta(path))
    )


def _assert_exactly_once(spark, path):
    vec = _active_vectors(spark, path)
    assert vec.groupBy("vec_id").count().filter("count > 1").count() == 0
    meta = ai.read_ivf_meta(path)
    assert meta["n_vectors"] == vec.count()  # repair keeps the count EXACT
    # committed membership == vectors tree ids (the repair invariant)
    ids = ai._committed_ids(spark, path, meta)
    assert (
        ids.join(vec.select("vec_id"), "vec_id", "left_anti").count() == 0
        and vec.select("vec_id").join(ids, "vec_id", "left_anti").count() == 0
    )


# ---------------------------------------------------------------------------
# IVF membership kind (VERDICT r9 #2)
# ---------------------------------------------------------------------------


class TestIvfMembershipKind:
    def test_append_never_reads_the_vectors_tree(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """The r9 verdict's 'done' bar: an append's read set is the
        committed ids kind + the centers frame — the vectors tree
        (every cell's file footers, O(n_vectors) ids shuffled per
        micro-batch) is WRITE-only on the append path."""
        from pyspark.sql.readwriter import DataFrameReader

        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        vdir = ai._vectors_path(path, ai.read_ivf_meta(path))

        seen: list[str] = []
        real = DataFrameReader.parquet

        def spy(reader, *paths, **kw):
            seen.extend(str(p) for p in paths)
            return real(reader, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        r = ai.append_ivf_index(spark, path, _new_batch(emb), batch_id="b0")
        assert r["appended"] == 3
        assert seen, "spy saw no reads at all — instrumentation broke"
        offenders = [p for p in seen if p.startswith(vdir)]
        assert not offenders, f"append read the vectors tree: {offenders}"

    def test_torn_append_repairs_and_replays_exactly_once(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """Crash AFTER the ids sentinel + vectors append but BEFORE the
        meta commit: the replay detects the uncommitted sentinel,
        reconciles the landed rows into committed membership, and
        absorbs them — no duplicate candidates, exact n_vectors."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        batch = _new_batch(emb)

        real = ai._write_meta
        monkeypatch.setattr(
            ai,
            "_write_meta",
            lambda *a, **k: (_ for _ in ()).throw(OSError("injected")),
        )
        with pytest.raises(OSError, match="injected"):
            ai.append_ivf_index(spark, path, batch, batch_id="bT")
        monkeypatch.setattr(ai, "_write_meta", real)

        meta = ai.read_ivf_meta(path)
        assert ai._uncommitted_id_dirs(path, meta), "no torn sentinel left"
        r = ai.append_ivf_index(spark, path, batch, batch_id="bT")
        assert r["appended"] == 0  # the landed rows were reconciled, not re-appended
        assert not ai._uncommitted_id_dirs(path, ai.read_ivf_meta(path))
        _assert_exactly_once(spark, path)
        top = ai.ivf_index_search(
            spark, path, emb.filter(F.col("vec_id") == 0), n_probe=K, top_k=2
        ).collect()
        assert len({t["neighbor_id"] for t in top}) == 2

    def test_torn_before_vectors_write_replays_fully(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """Crash BETWEEN the ids sentinel and the vectors append: the
        repair finds an empty diff (nothing landed), sweeps the
        sentinel, and the replay appends every row exactly once."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        batch = _new_batch(emb)

        real = ai._assign_cells
        monkeypatch.setattr(
            ai,
            "_assign_cells",
            lambda *a, **k: (_ for _ in ()).throw(OSError("injected")),
        )
        with pytest.raises(OSError, match="injected"):
            ai.append_ivf_index(spark, path, batch, batch_id="bT")
        monkeypatch.setattr(ai, "_assign_cells", real)

        r = ai.append_ivf_index(spark, path, batch, batch_id="bT")
        assert r["appended"] == 3  # nothing landed, so the replay carries all
        _assert_exactly_once(spark, path)

    def test_legacy_index_migrates_through_repair(
        self, spark, sf_dir, tmp_path
    ):
        """A pre-round-10 index (no ``id_segments``, no ids dir) routes
        its first append through the reconcile scan: membership is
        derived from the vectors tree once, n_vectors recounted exactly,
        and exactly-once holds from then on."""
        import shutil

        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        meta = ai.read_ivf_meta(path)
        meta.pop("id_segments")
        meta["n_vectors"] = -1  # provably recounted below
        ai._write_meta(path, meta)
        shutil.rmtree(os.path.join(path, "ids"))

        r = ai.append_ivf_index(spark, path, _new_batch(emb, n=2))
        assert r["appended"] == 2
        _assert_exactly_once(spark, path)
        # a re-delivery after migration is absorbed by the rebuilt kind
        r2 = ai.append_ivf_index(spark, path, _new_batch(emb, n=2))
        assert r2["appended"] == 0

    def test_duplicate_ids_in_build_corpus_collapse(
        self, spark, sf_dir, tmp_path
    ):
        """VERDICT r9 #3, IVF face: a duplicate vec_id at build must not
        double-index (two top-k slots for one vector)."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        meta = ai.build_ivf_index(spark, emb.union(emb), path, k=K)
        assert meta["n_vectors"] == emb.count()
        _assert_exactly_once(spark, path)

    def test_compact_folds_ids_and_sweeps_torn_compact_orphan(
        self, spark, sf_dir, tmp_path
    ):
        """Compaction folds the membership kind into ONE segment inside
        the same single meta switch; an orphan ids dir from a torn
        compact attempt routes the next append through the repair,
        which finds an empty diff and just sweeps it."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        for i in range(2):
            ai.append_ivf_index(
                spark, path, _new_batch(emb, n=2, offset=300_000 + 10 * i),
                batch_id=f"b{i}",
            )
        assert len(ai.read_ivf_meta(path)["id_segments"]) == 3
        ai.compact_ivf_index(spark, path)
        meta = ai.read_ivf_meta(path)
        assert len(meta["id_segments"]) == 1
        assert meta["id_segments"][0].startswith("seg-compact-")
        _assert_exactly_once(spark, path)
        # a replay of a pre-compact ledgered batch is membership-absorbed
        r = ai.append_ivf_index(
            spark, path, _new_batch(emb, n=2, offset=300_000), batch_id="b0"
        )
        assert r["appended"] == 0
        # torn-compact orphan: never-deleted unique-named dir, no meta ref
        orphan = os.path.join(path, "ids", "seg-compact-deadbeef")
        os.makedirs(orphan)
        r2 = ai.append_ivf_index(
            spark, path, _new_batch(emb, n=1, offset=500_000), batch_id="b9"
        )
        assert r2["appended"] == 1
        assert not os.path.exists(orphan)
        _assert_exactly_once(spark, path)

    def test_ivf_retired_sweep_is_age_gated(self, spark, sf_dir, tmp_path):
        """Fresh retirement survives a default compact; aged retirement
        is collected without the explicit flag; ``remove_retired=True``
        stays the immediate override (tested in the r9 suite)."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        ai.append_ivf_index(spark, path, _new_batch(emb), batch_id="b0")
        ai.compact_ivf_index(spark, path)
        meta = ai.read_ivf_meta(path)
        assert meta["retired_dirs"] == ["vectors"]
        assert os.path.exists(os.path.join(path, "vectors"))
        # fresh: survives another default call (3600 s gate)
        ai.compact_ivf_index(spark, path)
        assert os.path.exists(os.path.join(path, "vectors"))
        # aged: collected by the default sweep, no flag needed
        ai.compact_ivf_index(spark, path, retire_age_s=0.0)
        meta = ai.read_ivf_meta(path)
        assert meta["retired_dirs"] == [] and meta["retired_id_segments"] == []
        assert not os.path.exists(os.path.join(path, "vectors"))
        _assert_exactly_once(spark, path)


# ---------------------------------------------------------------------------
# build-path duplicate collapse + age-gated sweep, segment indexes
# (VERDICT r9 #3 / #6)
# ---------------------------------------------------------------------------


_CORPUS = [
    # 12 words → 10 word-3-gram shingles; a probe differing ONLY in the
    # last word shares 9 of them: J = 9/11 ≈ 0.818 ≥ the 0.8 threshold
    (1, "the quick brown fox jumps over the lazy dog late tonight again"),
    (2, "completely different words fill this second document body here"),
    (3, "a third unrelated text about parquet files and shuffles"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSegmentIndexBuildHardening:
    def test_shingle_build_collapses_duplicate_doc_ids(self, spark, tmp_path):
        """A duplicate doc_id at build used to double its inverted-index
        rows while its count row still said n — corrupting every later
        Jaccard denominator against it (the exact class the append path
        was hardened against in r9)."""
        from database_clonev2_spark.extensions._segments import _read_kind
        from database_clonev2_spark.extensions.shingleindex import (
            build_shingle_index,
            probe_shingle_index,
            read_shingle_meta,
        )

        idx = str(tmp_path / "idx")
        d = _docs(spark, _CORPUS)
        meta = build_shingle_index(spark, d.union(d), idx)
        assert meta["n_docs"] == 3
        meta = read_shingle_meta(idx)
        for kind in ("digests", "counts"):
            frame = _read_kind(spark, idx, kind, meta)
            assert frame.groupBy("doc_id").count().filter("count > 1").count() == 0
        sh = _read_kind(spark, idx, "shingles", meta)
        assert (
            sh.groupBy("doc_id", "sh").count().filter("count > 1").count() == 0
        )
        # near-dup detection stays calibrated: a doc sharing 9 of doc
        # 1's 10 shingles (J = 9/11 ≈ 0.818) must verdict near_dup — a
        # doubled denominator (9/21 ≈ 0.43) would flip it to unique
        probe = _docs(
            spark,
            [(100, "the quick brown fox jumps over the lazy dog late tonight friends")],
        )
        got = {
            r["doc_id"]: r["verdict"]
            for r in probe_shingle_index(spark, idx, probe).collect()
        }
        assert got == {100: "near_dup"}

    def test_minhash_build_collapses_duplicate_doc_ids(self, spark, tmp_path):
        from database_clonev2_spark.extensions.minhashindex import (
            build_minhash_index,
            read_minhash_meta,
        )
        from database_clonev2_spark.extensions._segments import _read_kind

        idx = str(tmp_path / "idx")
        d = _docs(spark, _CORPUS)
        meta = build_minhash_index(spark, d.union(d), idx)
        assert meta["n_docs"] == 3
        bands = _read_kind(spark, idx, "bands", read_minhash_meta(idx))
        assert (
            bands.groupBy("doc_id", "band").count().filter("count > 1").count()
            == 0
        )

    def test_segment_index_retired_sweep_is_age_gated(self, spark, tmp_path):
        """The r9 honor-system contract made safe-by-default: fresh
        retirement survives (an in-flight probe over the OLD meta still
        reads), aged retirement is collected without the flag."""
        from database_clonev2_spark.extensions._segments import _read_kind
        from database_clonev2_spark.extensions.shingleindex import (
            append_shingle_index,
            build_shingle_index,
            compact_shingle_index,
            read_shingle_meta,
        )

        idx = str(tmp_path / "idx")
        build_shingle_index(spark, _docs(spark, _CORPUS), idx)
        append_shingle_index(
            spark,
            idx,
            _docs(spark, [(4, "a fourth body of text with novel tokens here")]),
            batch_id="b0",
        )
        old_meta = read_shingle_meta(idx)  # an in-flight probe's view
        r = compact_shingle_index(spark, idx)
        assert r["compacted"] == 2
        meta = read_shingle_meta(idx)
        assert set(meta["retired"]) == set(old_meta["segments"])
        # fresh: a second default call keeps them; the old-meta reader
        # still resolves its dirs mid-flight
        compact_shingle_index(spark, idx)
        assert read_shingle_meta(idx)["retired"] == meta["retired"]
        assert _read_kind(spark, idx, "digests", old_meta).count() == 4
        # aged: the default sweep collects, no flag
        compact_shingle_index(spark, idx, retire_age_s=0.0)
        meta = read_shingle_meta(idx)
        assert meta["retired"] == []
        for seg in old_meta["segments"]:
            assert not os.path.exists(os.path.join(idx, "digests", seg))


# ---------------------------------------------------------------------------
# quiesce fence + lazy revalidation + heartbeat (ADVICE r9 high/medium)
# ---------------------------------------------------------------------------


def _bucketed_table(spark, base, name, rows):
    from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

    p = str(base / name)
    df = spark.createDataFrame(rows, "id long, v string")
    merge_upsert_bucketed(
        spark, p, df, ["id"], n_buckets=4, batch_id="e0", change_feed=True
    )
    return p


class TestQuiesceFence:
    def test_commit_parks_at_the_fence_while_marker_held(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r9 high, writer side: an epoch mid-compute when the
        markers land must NOT commit under the held snapshot — its
        manifest publish re-checks the marker inside the fence and
        parks until release. This is the check the epoch-boundary pause
        cannot provide (the epoch is already past the boundary). The
        park is OBSERVED (the writer repeatedly polls a held marker),
        not inferred from a sleep, so a slow staging phase cannot pass
        this vacuously."""
        from database_clonev2_spark.pipeline import merge as merge_mod

        tgt = _bucketed_table(spark, tmp_path, "t", [(1, "a"), (2, "b")])
        held_polls = {"n": 0}
        real_q = bk._quiesce_requested

        def counting(p):
            r = real_q(p)
            if r:
                held_polls["n"] += 1
            return r

        monkeypatch.setattr(bk, "_quiesce_requested", counting)
        merge_mod.request_quiesce(tgt)
        committed = threading.Event()

        def writer():
            merge_mod.merge_upsert_bucketed(
                spark,
                tgt,
                spark.createDataFrame([(3, "c")], "id long, v string"),
                ["id"],
                n_buckets=4,
                batch_id="e1",
                change_feed=True,
            )
            committed.set()

        t = threading.Thread(target=writer)
        t.start()
        try:
            deadline = time.time() + 30.0
            while held_polls["n"] < 3 and time.time() < deadline:
                time.sleep(0.02)
            assert held_polls["n"] >= 3, "writer never reached the fence park"
            assert not committed.is_set(), "commit raced past a held marker"
            assert "e1" not in merge_mod.applied_batches(tgt)
        finally:
            merge_mod.release_quiesce(tgt)
        assert committed.wait(30.0), "commit never resumed after release"
        t.join()
        assert "e1" in merge_mod.applied_batches(tgt)

    def test_lazy_quiesced_snapshot_revalidates_the_capture_window(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r9 high, reader side: a commit landing between the
        ledger capture and the lazy return (e.g. from a pre-round-10
        writer that never checks markers) must cost a RETRY, not a torn
        cut — the lazy branch now reruns the validation the
        materialized branch always had."""
        from database_clonev2_spark._durable import append_applied_batch
        from database_clonev2_spark.pipeline import merge as merge_mod

        tgt = _bucketed_table(spark, tmp_path, "t", [(1, "a"), (2, "b")])
        real_read = merge_mod.read_merge_target
        fired = {"n": 0}

        def read_with_midcapture_commit(sp, p):
            # first capture only: a commit lands AFTER `before` was
            # captured (we are inside the frame-building loop) and
            # BEFORE the revalidation at return
            if fired["n"] == 0:
                fired["n"] = 1
                append_applied_batch(p, "e-midair")
            return real_read(sp, p)

        monkeypatch.setattr(
            merge_mod, "read_merge_target", read_with_midcapture_commit
        )
        snap = merge_mod.read_database_snapshot(
            spark, {"t": tgt}, materialize=False, quiesce=True
        )
        try:
            # the torn first attempt was retried; the returned vector is
            # the post-commit state, not the stale pre-commit one
            assert snap["epoch_vector"] == {"t": "e-midair"}
            assert snap["tables"]["t"].count() == 2
        finally:
            snap["release_quiesce"]()
        assert not os.path.exists(os.path.join(tgt, "_quiesce.json"))

    def test_held_markers_heartbeat_until_release(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r9 medium: a lazy hold outliving the 600 s age sweep
        used to silently lose the writer pause — the held markers now
        heartbeat their wall_ts; release stops the beat and removes
        them (and a stopped beat never resurrects a removed marker)."""
        import json

        from database_clonev2_spark.pipeline import merge as merge_mod

        monkeypatch.setattr(bk, "_QUIESCE_HEARTBEAT_S", 0.05)
        tgt = _bucketed_table(spark, tmp_path, "t", [(1, "a")])
        snap = merge_mod.read_database_snapshot(
            spark, {"t": tgt}, materialize=False, quiesce=True
        )
        marker = os.path.join(tgt, "_quiesce.json")
        with open(marker) as fh:
            ts0 = json.load(fh)["wall_ts"]
        deadline = time.time() + 5.0
        while time.time() < deadline:
            time.sleep(0.1)
            try:
                with open(marker) as fh:
                    if json.load(fh)["wall_ts"] > ts0:
                        break
            except (OSError, ValueError):
                pass  # mid-rename
        else:
            pytest.fail("heartbeat never refreshed the held marker")
        snap["release_quiesce"]()
        assert not os.path.exists(marker)
        time.sleep(0.3)  # several beat intervals
        assert not os.path.exists(marker), "a late beat resurrected the marker"


# ---------------------------------------------------------------------------
# SimHash under the cross-engine md5 family (VERDICT r9 #7's pattern)
# ---------------------------------------------------------------------------


class TestSimhashMd5Family:
    def test_blocked_pairs_equal_allpairs_under_md5_family(
        self, spark, sf_dir
    ):
        """The pigeonhole recall contract must hold for the 60-bit md5
        fingerprints exactly as for the 64-bit production family (the
        4 never-flipping top bits weaken nothing): the blocked
        equality-join path returns the IDENTICAL pair set as the exact
        all-pairs scan — which is also what lets the registered query's
        oracle compute all-pairs closed-form."""
        from database_clonev2_spark.extensions.dedup import (
            _simhash_allpairs,
            simhash_blocked_pairs,
            simhash_fingerprints_md5,
        )

        fp = simhash_fingerprints_md5(
            load(spark, sf_dir, "documents")
        ).localCheckpoint()
        blocked = {
            (r["doc_i"], r["doc_j"], r["hamming"])
            for r in simhash_blocked_pairs(fp).collect()
        }
        allp = {
            (r["doc_i"], r["doc_j"], r["hamming"])
            for r in _simhash_allpairs(fp).collect()
        }
        assert blocked == allp
        assert blocked, "fixture's planted near-dups must surface"

    def test_md5_fingerprints_are_60_bit(self, spark, sf_dir):
        from database_clonev2_spark.extensions.dedup import (
            simhash_fingerprints_md5,
        )

        fp = simhash_fingerprints_md5(load(spark, sf_dir, "documents"))
        top = fp.agg(F.max("simhash").alias("m")).first()["m"]
        assert 0 <= top < (1 << 60)


# ---------------------------------------------------------------------------
# supervisor matches the guard's stable marker (VERDICT r9 #5)
# ---------------------------------------------------------------------------


class TestEvolutionMarkerIsStable:
    def test_reworded_guard_message_still_restarts(
        self, spark, tmp_path, monkeypatch
    ):
        """The r9 verdict's 'done' bar: reword the guard's prose
        completely — the supervisor must still classify the failure as
        restartable, because it matches the marker token, not the
        prose."""
        from database_clonev2_spark.pipeline.merge import (
            merge_upsert_bucketed,
            read_merge_changes_stream,
            read_merge_target,
        )
        from database_clonev2_spark.streaming import sync as sync_mod

        def reworded(missing):
            return ValueError(
                f"{sync_mod.SCHEMA_EVOLVED_MARKER} entirely new prose "
                f"nobody grepped for; widened by {missing}"
            )

        monkeypatch.setattr(sync_mod, "_schema_evolved_error", reworded)

        src = str(tmp_path / "src")
        e0 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).selectExpr("id", "v", "CAST(0 AS LONG) AS ver")
        merge_upsert_bucketed(
            spark, src, e0, ["id"], n_buckets=4,
            order_col="ver", change_feed=True, batch_id=0,
        )
        pinned_reader = read_merge_changes_stream(spark, src)
        e1 = spark.createDataFrame(
            [(1, "a2", "T1")], "id long, v string, tag string"
        ).selectExpr("id", "v", "tag", "CAST(1 AS LONG) AS ver")
        merge_upsert_bucketed(
            spark, src, e1, ["id"], n_buckets=4,
            order_col="ver", change_feed=True, batch_id=1,
            allow_evolution=True,
        )
        rep, ck = str(tmp_path / "rep"), str(tmp_path / "ck")
        res = sync_mod.supervise_apply_cdc(
            spark, src, rep, ["id"], ck, n_buckets=4,
            initial_stream=pinned_reader,
        )
        assert res == {"restarts": 1}
        got = {
            r["id"]: (r["v"], r["tag"])
            for r in read_merge_target(spark, rep).collect()
        }
        assert got == {1: ("a2", "T1"), 2: ("b", None)}


# ---------------------------------------------------------------------------
# Fixed-point IVF (the trained-quantizer pipeline's hash-green twin)
# ---------------------------------------------------------------------------


class TestFixedPointIvf:
    def test_topk_is_deterministic_and_well_formed(self, spark, sf_dir):
        from database_clonev2_spark.extensions.similarity import (
            N_QUERIES,
            TOP_K,
            ivf_kmeans_fx_topk,
        )

        r1 = [tuple(r) for r in ivf_kmeans_fx_topk(spark, sf_dir).collect()]
        r2 = [tuple(r) for r in ivf_kmeans_fx_topk(spark, sf_dir).collect()]
        assert r1 and r1 == r2  # two independent plans, identical bits
        per_q: dict = {}
        for qid, nid, rank, dist2 in r1:
            assert nid != qid
            per_q.setdefault(qid, []).append((rank, dist2))
        assert set(per_q) <= set(range(N_QUERIES))
        for rows in per_q.values():
            ranks = [r for r, _ in rows]
            dists = [d for _, d in rows]
            assert ranks == list(range(1, len(rows) + 1))  # dense, ordered
            assert dists == sorted(dists)  # rank follows the integer metric
            assert len(rows) <= TOP_K

    def test_distances_match_independent_integer_recompute(self, spark, sf_dir):
        """dist2_fx is the exact integer squared L2 between the two
        quantized vectors — recomputed here in pure Python from the raw
        fixture, independent of every Spark expression in the query. Also
        pins the overflow-headroom claim: |q| < 2^20 on the fixture."""
        import math

        from database_clonev2_spark.extensions.similarity import (
            KM_QUANT,
            ivf_kmeans_fx_topk,
        )

        emb = {
            r["vec_id"]: [math.floor(float(x) * KM_QUANT) for x in r["embedding"]]
            for r in load(spark, sf_dir, "embeddings").collect()
        }
        assert all(abs(v) < 2**20 for vec in emb.values() for v in vec)
        out = ivf_kmeans_fx_topk(spark, sf_dir).collect()
        assert out
        for row in out:
            q, n = emb[row["query_id"]], emb[row["neighbor_id"]]
            assert row["dist2_fx"] == sum((a - b) * (a - b) for a, b in zip(q, n))


# ---------------------------------------------------------------------------
# Streaming IVF ingest (the persisted index's writeStream face)
# ---------------------------------------------------------------------------


class TestStreamAnnIngest:
    def test_replayed_wave_is_absorbed_exactly_once(self, spark, sf_dir, tmp_path):
        """A re-DELIVERED wave (same vectors, fresh batch id — the
        duplicate source the ledger cannot see) must be absorbed by the
        membership anti-join: the index ends with every corpus vector
        exactly once and exact n_vectors accounting."""
        from database_clonev2_spark.extensions.annindex import (
            build_ivf_index,
            read_ivf_meta,
            stream_ann_ingest,
        )

        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        idx, arrivals, ck = (
            str(tmp_path / "idx"),
            str(tmp_path / "arrivals"),
            str(tmp_path / "ck"),
        )
        os.makedirs(arrivals)
        build_ivf_index(spark, e.filter(F.col("vec_id") % 2 == 1), idx, k=K)

        def wave(df):
            df.coalesce(1).write.mode("append").parquet(arrivals)
            stream = spark.readStream.schema(e.schema).parquet(arrivals)
            stream_ann_ingest(stream, idx, ck).awaitTermination()

        wave(e.filter(F.col("vec_id") % 2 == 0))
        wave(e.filter(F.col("vec_id") % 2 == 0))  # replay, fresh batch id
        _assert_exactly_once(spark, idx)
        assert read_ivf_meta(idx)["n_vectors"] == e.count()


# ---------------------------------------------------------------------------
# Bloom sidecar for the IVF membership kind (the r9 verdict's "next tier")
# ---------------------------------------------------------------------------


class TestIvfBloomSidecar:
    def test_disjoint_batch_reads_no_membership(self, spark, sf_dir, tmp_path):
        """A batch of genuinely new vec_ids must select ZERO candidate
        segments — the membership anti-join (and its shuffle) is skipped
        outright — while exactly-once accounting stays exact."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        meta = ai.read_ivf_meta(path)
        batch = _new_batch(emb)
        assert (
            ai._bloom_candidate_segments(
                spark, path, meta, batch.select("vec_id")
            )
            == []
        )
        r = ai.append_ivf_index(spark, path, batch, batch_id="b0")
        assert r["appended"] == 3
        _assert_exactly_once(spark, path)

    def test_overlapping_batch_is_flagged_and_absorbed(
        self, spark, sf_dir, tmp_path
    ):
        """No false negatives: a re-delivered vector's segment MUST be a
        candidate, and the anti-join over it absorbs the duplicate."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        batch = _new_batch(emb)
        ai.append_ivf_index(spark, path, batch, batch_id="b0")
        meta = ai.read_ivf_meta(path)
        cands = ai._bloom_candidate_segments(
            spark, path, meta, batch.select("vec_id")
        )
        assert any(s != "seg-build" for s in cands)
        r = ai.append_ivf_index(spark, path, batch, batch_id="b1")
        assert r["appended"] == 0
        _assert_exactly_once(spark, path)

    def test_paramless_segment_is_always_candidate(
        self, spark, sf_dir, tmp_path
    ):
        """A segment whose bloom params are missing (legacy index, or a
        sidecar committed before this round) must be read
        unconditionally — fail-open, never a false negative."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        meta = ai.read_ivf_meta(path)
        meta.pop("bloom_params")
        ai._write_meta(path, meta)
        batch = _new_batch(emb)
        assert ai._bloom_candidate_segments(
            spark, path, ai.read_ivf_meta(path), batch.select("vec_id")
        ) == ["seg-build"]
        r = ai.append_ivf_index(spark, path, emb.limit(2), batch_id="b0")
        assert r["appended"] == 0  # absorbed through the mandatory read
        _assert_exactly_once(spark, path)

    def test_compaction_folds_blooms_and_sweep_collects_them(
        self, spark, sf_dir, tmp_path
    ):
        """Compaction leaves exactly one bloom param entry (the folded
        segment's); retired segments' sidecar dirs are collected by the
        aged sweep together with their ids dirs; the folded bloom still
        has no false negatives."""
        path = str(tmp_path / "ivf")
        emb = load(spark, sf_dir, "embeddings")
        ai.build_ivf_index(spark, emb, path, k=K)
        batch = _new_batch(emb)
        ai.append_ivf_index(spark, path, batch, batch_id="b0")
        old_segs = list(ai.read_ivf_meta(path)["id_segments"])
        ai.compact_ivf_index(spark, path)
        meta = ai.read_ivf_meta(path)
        assert set(meta["bloom_params"]) == set(meta["id_segments"])
        assert len(meta["id_segments"]) == 1
        # folded bloom: the replayed old batch must still flag + absorb
        cands = ai._bloom_candidate_segments(
            spark, path, meta, batch.select("vec_id")
        )
        assert cands == meta["id_segments"]
        r = ai.append_ivf_index(spark, path, batch, batch_id="b9")
        assert r["appended"] == 0
        ai.compact_ivf_index(spark, path, retire_age_s=0.0)
        for s in old_segs:
            assert not os.path.exists(os.path.join(path, "blooms", s))
        _assert_exactly_once(spark, path)


class TestSegmentIndexBloomSidecar:
    """The bloom tier shared across the three maintained indexes (one
    implementation in shingleindex; annindex covered above)."""

    def test_shingle_disjoint_skip_and_replay_absorb(self, spark, tmp_path):
        from database_clonev2_spark.extensions import shingleindex as si

        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, _CORPUS), path)
        meta = si.read_shingle_meta(path)
        new = _docs(spark, [(10, "entirely new content never indexed yet")])
        assert (
            store._bloom_candidate_segments(
                spark, path, meta["segments"], meta["bloom_params"],
                new.select("doc_id"), id_col="doc_id",
            )
            == []
        )
        r = si.append_shingle_index(spark, path, new, batch_id="b0")
        assert r["appended"] == 1
        # replay under a fresh batch id: the segment MUST flag (no false
        # negatives) and the anti-join absorbs
        r2 = si.append_shingle_index(spark, path, new, batch_id="b1")
        assert r2["appended"] == 0
        assert si.read_shingle_meta(path)["n_docs"] == len(_CORPUS) + 1

    def test_shingle_compaction_folds_bloom(self, spark, tmp_path):
        from database_clonev2_spark.extensions import shingleindex as si

        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, _CORPUS), path)
        batch = _docs(spark, [(10, "fresh doc for the compaction test")])
        si.append_shingle_index(spark, path, batch, batch_id="b0")
        old_segs = list(si.read_shingle_meta(path)["segments"])
        si.compact_shingle_index(spark, path)
        meta = si.read_shingle_meta(path)
        assert set(meta["bloom_params"]) == set(meta["segments"])
        # folded bloom still has no false negatives
        r = si.append_shingle_index(spark, path, batch, batch_id="b9")
        assert r["appended"] == 0
        si.compact_shingle_index(spark, path, retire_age_s=0.0)
        for s in old_segs:
            assert not os.path.exists(os.path.join(path, "blooms", s))

    def test_minhash_disjoint_skip_and_replay_absorb(self, spark, tmp_path):
        from database_clonev2_spark.extensions import minhashindex as mi

        path = str(tmp_path / "idx")
        mi.build_minhash_index(spark, _docs(spark, _CORPUS), path)
        meta = mi.read_minhash_meta(path)
        new = _docs(spark, [(10, "entirely new content never signed yet")])
        from database_clonev2_spark.extensions._segments import (
            _bloom_candidate_segments,
        )

        assert (
            _bloom_candidate_segments(
                spark, path, meta["segments"], meta["bloom_params"],
                new.select("doc_id"), id_col="doc_id",
            )
            == []
        )
        r = mi.append_minhash_index(spark, path, new, batch_id="b0")
        assert r["appended"] == 1
        r2 = mi.append_minhash_index(spark, path, new, batch_id="b1")
        assert r2["appended"] == 0
        mi.compact_minhash_index(spark, path)
        meta = mi.read_minhash_meta(path)
        assert set(meta["bloom_params"]) == set(meta["segments"])

    def test_paramless_segments_fail_open(self, spark, tmp_path):
        from database_clonev2_spark.extensions import shingleindex as si

        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, _CORPUS), path)
        meta = si.read_shingle_meta(path)
        meta.pop("bloom_params")
        si._write_meta(path, meta)
        # legacy meta: every segment is a mandatory read, dup still absorbed
        r = si.append_shingle_index(
            spark, path, _docs(spark, _CORPUS[:1]), batch_id="b0"
        )
        assert r["appended"] == 0

    def test_bloom_is_id_width_robust(self, spark, tmp_path):
        """xxhash64 hashes INT 5 and BIGINT 5 differently — the bloom
        normalizes ids to string, so a batch frame with a NARROWER id
        type than the indexed column still flags its segment (a false
        negative here would double-append past the bloom)."""
        from database_clonev2_spark.extensions import shingleindex as si

        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, _CORPUS), path)  # long ids
        meta = si.read_shingle_meta(path)
        narrow = spark.createDataFrame(
            [(1, _CORPUS[0][1])], "doc_id int, text string"
        )
        assert store._bloom_candidate_segments(
            spark, path, meta["segments"], meta["bloom_params"],
            narrow.select("doc_id"), id_col="doc_id",
        ) == ["seg-build"]
        r = si.append_shingle_index(spark, path, narrow, batch_id="b0")
        assert r["appended"] == 0  # absorbed, not double-appended


class TestFixedPointIvfRecall:
    def test_recall_monotone_and_exact_at_full_probe(self, spark, sf_dir):
        """Candidate sets nest in n_probe, so recall is monotone; and at
        n_probe == KM_K the probe is FULL, so the IVF top-k equals the
        exact top-k and recall is exactly 10000 bp — the report's
        built-in ground truth."""
        from database_clonev2_spark.extensions.similarity import (
            KM_K,
            KM_RECALL_PROBES,
            N_QUERIES,
            TOP_K,
            ivf_fx_recall_report,
        )

        rows = {r["n_probe"]: r for r in ivf_fx_recall_report(spark, sf_dir).collect()}
        assert sorted(rows) == sorted(KM_RECALL_PROBES)
        recalls = [rows[p]["recall_bp"] for p in sorted(rows)]
        assert recalls == sorted(recalls)  # monotone in n_probe
        assert all(r["possible"] == N_QUERIES * TOP_K for r in rows.values())
        assert rows[KM_K]["recall_bp"] == 10000  # full probe == exact
        assert rows[KM_K]["hits"] == N_QUERIES * TOP_K
