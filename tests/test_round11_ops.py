"""Round 11 — VERDICT r10 / ADVICE r10 closures:

- segment growth BOUNDED on the continuous-ingest paths: appends (and
  the streams through them) auto-trigger the existing compact_* past
  ``max_segments`` (VERDICT r10 #1), with results identical to the
  never-compacted run;
- the single-writer contract ENFORCED by a maintainer flock shared by
  append and compact (VERDICT r10 #4);
- lazy-quiesce hold expiry is LOUD: deadline in the handle, release-time
  revalidation, raise on a genuinely torn consumption (VERDICT r10 #2);
- deterministic min-payload collapse on the APPEND paths, matching the
  builds (VERDICT r10 #3);
- index-LEVEL bloom: the common disjoint batch resolves in ONE bloom
  read regardless of segment count (VERDICT r10 #5);
- bloom pre-check hardening: per-segment recorded k (ADVICE r10
  medium), broadcast row budget (ADVICE r10 medium), fractional-id
  canonicalization — false positives only, never a false-negative
  double-append (ADVICE r10 low).
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
    # deterministic pseudo-vectors — no RNG, stable across runs
    return spark.createDataFrame(
        [
            (i, [float((i * (d + 3) * 2654435761) % 1000) / 1000.0 for d in range(dim)])
            for i in range(lo, hi)
        ],
        "vec_id bigint, embedding array<double>",
    )


# ---------------------------------------------------------------------------
# auto-compaction bounds segment growth (VERDICT r10 #1)
# ---------------------------------------------------------------------------


class TestAutoCompact:
    def test_shingle_appends_stay_bounded_and_equivalent(self, spark, tmp_path):
        """The r10 verdict's 'done' bar: a threshold that triggers the
        existing compaction from the append path, segment count stays
        bounded over many appends, and probe results are IDENTICAL to
        the never-compacted run."""
        bounded, free = str(tmp_path / "b"), str(tmp_path / "f")
        si.build_shingle_index(spark, _docs(spark, 0, 20), bounded)
        si.build_shingle_index(spark, _docs(spark, 0, 20), free)
        for w in range(6):
            batch = _docs(spark, 20 + w * 10, 30 + w * 10)
            r = si.append_shingle_index(
                spark, bounded, batch, batch_id=f"w{w}", max_segments=2
            )
            si.append_shingle_index(
                spark, free, batch, batch_id=f"w{w}", max_segments=None
            )
            m = si.read_shingle_meta(bounded)
            assert len(m["segments"]) <= 3, (w, m["segments"])
        mb, mf = si.read_shingle_meta(bounded), si.read_shingle_meta(free)
        assert len(mb["segments"]) <= 3 < len(mf["segments"])
        assert mb["n_docs"] == mf["n_docs"] == 80
        probe = _docs(spark, 0, 5).union(_docs(spark, 500, 505))
        vb = sorted(
            (r["doc_id"], r["verdict"])
            for r in si.probe_shingle_index(spark, bounded, probe).collect()
        )
        vf = sorted(
            (r["doc_id"], r["verdict"])
            for r in si.probe_shingle_index(spark, free, probe).collect()
        )
        assert vb == vf and len(vb) == 10
        # ledger truncation at compaction is covered by membership: a
        # replayed wave under its ORIGINAL batch id still appends 0
        r = si.append_shingle_index(
            spark, bounded, _docs(spark, 20, 30), batch_id="w0"
        )
        assert r["appended"] == 0

    def test_minhash_appends_stay_bounded_and_equivalent(self, spark, tmp_path):
        bounded, free = str(tmp_path / "b"), str(tmp_path / "f")
        mi.build_minhash_index(spark, _docs(spark, 0, 15), bounded)
        mi.build_minhash_index(spark, _docs(spark, 0, 15), free)
        for w in range(5):
            batch = _docs(spark, 15 + w * 5, 20 + w * 5)
            mi.append_minhash_index(spark, bounded, batch, max_segments=2)
            mi.append_minhash_index(spark, free, batch, max_segments=None)
            assert len(mi.read_minhash_meta(bounded)["segments"]) <= 3
        assert len(mi.read_minhash_meta(free)["segments"]) == 6
        probe = _docs(spark, 0, 8)
        cb = sorted(
            (r["doc_i"], r["doc_j"], r["n_bands_matched"])
            for r in mi.probe_minhash_index(spark, bounded, probe).collect()
        )
        cf = sorted(
            (r["doc_i"], r["doc_j"], r["n_bands_matched"])
            for r in mi.probe_minhash_index(spark, free, probe).collect()
        )
        assert cb == cf

    def test_ivf_appends_stay_bounded_and_equivalent(self, spark, tmp_path):
        bounded, free = str(tmp_path / "b"), str(tmp_path / "f")
        ai.build_ivf_index(spark, _vecs(spark, 0, 30), bounded, k=4)
        ai.build_ivf_index(spark, _vecs(spark, 0, 30), free, k=4)
        for w in range(5):
            batch = _vecs(spark, 30 + w * 8, 38 + w * 8)
            ai.append_ivf_index(spark, bounded, batch, max_segments=2)
            ai.append_ivf_index(spark, free, batch, max_segments=None)
            assert len(ai.read_ivf_meta(bounded)["id_segments"]) <= 3
        mf = ai.read_ivf_meta(free)
        assert len(mf["id_segments"]) == 6
        assert ai.read_ivf_meta(bounded)["n_vectors"] == mf["n_vectors"] == 70
        q = _vecs(spark, 0, 3)
        rb = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ai.ivf_index_search(spark, bounded, q, n_probe=4).collect()
        )
        rf = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ai.ivf_index_search(spark, free, q, n_probe=4).collect()
        )
        assert rb == rf and rb

    def test_stream_dedup_segments_stay_bounded(self, spark, tmp_path):
        """The long-stream shape the verdict named: micro-batch cadence
        must not accrete one segment per batch forever — the stream's
        appends fold through the threshold, and the verdict log is
        byte-identical to the unbounded stream's."""
        logs = {}
        for name, max_segments in (("b", 2), ("f", None)):
            idx = str(tmp_path / name / "idx")
            arrivals = str(tmp_path / name / "arrivals")
            verdicts = str(tmp_path / name / "verdicts")
            ck = str(tmp_path / name / "ck")
            os.makedirs(arrivals)
            si.build_shingle_index(spark, _docs(spark, 0, 10), idx)
            for w in range(6):
                batch = _docs(spark, 10 + w * 5, 15 + w * 5)
                batch.coalesce(1).write.mode("append").parquet(arrivals)
                stream = spark.readStream.schema(batch.schema).parquet(arrivals)
                si.stream_dedup_incremental(
                    stream, idx, verdicts, ck, max_segments=max_segments
                ).awaitTermination()
            meta = si.read_shingle_meta(idx)
            if max_segments is not None:
                assert len(meta["segments"]) <= max_segments + 1, meta["segments"]
            else:
                assert len(meta["segments"]) == 7
            logs[name] = sorted(
                (r["doc_id"], r["verdict"])
                for r in spark.read.parquet(verdicts).collect()
            )
        assert logs["b"] == logs["f"] and len(logs["b"]) == 30


class TestTieredFold:
    def test_tiered_fold_never_rewrites_the_big_segment(self, spark, tmp_path):
        """The auto-trigger's fold is SIZE-TIERED: only the smallest
        segments merge, so the large settled build segment is never
        rewritten — the difference between amortized O(index/N) and
        O(batch · log) per append at micro-batch cadence."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 100), path)
        build_dir = os.path.join(path, "digests", "seg-build")
        mtime0 = os.path.getmtime(build_dir)
        for w in range(6):
            si.append_shingle_index(
                spark, path, _docs(spark, 100 + w * 5, 105 + w * 5),
                max_segments=2,
            )
        meta = si.read_shingle_meta(path)
        assert "seg-build" in meta["segments"], meta["segments"]
        assert len(meta["segments"]) <= 3
        assert os.path.getmtime(build_dir) == mtime0, (
            "tiered fold rewrote the large settled segment"
        )
        # sizes tracked through folds: total == n_docs
        assert sum(meta["segment_rows"].values()) == meta["n_docs"] == 130
        # manual compaction still folds to ONE (full-defrag semantics)
        si.compact_shingle_index(spark, path)
        meta = si.read_shingle_meta(path)
        assert len(meta["segments"]) == 1
        # same text under FRESH ids (probing a doc under its own id is
        # self-excluded by design) — the folded index must flag them
        clones = _docs(spark, 0, 5).select(
            (F.col("doc_id") + 9000).alias("doc_id"), "text"
        )
        v = si.probe_shingle_index(spark, path, clones).collect()
        assert sorted(r["verdict"] for r in v) == ["exact_dup"] * 5

    def test_ivf_auto_compact_is_tiered_and_frag_gated(self, spark, tmp_path):
        """The IVF auto path folds membership tiered and re-lays the
        vectors tree only past the fragmentation factor — never an
        O(corpus) rewrite every max_segments appends."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 40), path, k=2)
        for w in range(5):
            ai.append_ivf_index(
                spark, path, _vecs(spark, 40 + w * 4, 44 + w * 4),
                max_segments=2,
            )
        meta = ai.read_ivf_meta(path)
        assert len(meta["id_segments"]) <= 3
        assert "seg-build" in meta["id_segments"], meta["id_segments"]
        assert meta["vectors_dir"] == "vectors", (
            "auto path re-laid the vectors tree below the frag factor"
        )
        assert meta["n_vectors"] == 60
        # manual compaction restores full-defrag semantics
        r = ai.compact_ivf_index(spark, path)
        meta = ai.read_ivf_meta(path)
        assert len(meta["id_segments"]) == 1
        assert r["files_after"] <= meta["k"]
        q = _vecs(spark, 0, 2)
        got = sorted(
            (x["query_id"], x["rank"], x["neighbor_id"])
            for x in ai.ivf_index_search(spark, path, q, n_probe=2).collect()
        )
        assert got


# ---------------------------------------------------------------------------
# maintainer flock (VERDICT r10 #4)
# ---------------------------------------------------------------------------


class TestMaintainerFlock:
    def test_racing_appender_and_compactor_lose_nothing(self, spark, tmp_path):
        """The r10 verdict's 'done' bar: a compact racing an append was
        a lost-update on the meta segment list — under the flock both
        complete and every appended doc is committed membership."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        errs: list = []
        done = threading.Event()

        def appender():
            try:
                for w in range(5):
                    si.append_shingle_index(
                        spark,
                        path,
                        _docs(spark, 10 + w * 5, 15 + w * 5),
                        max_segments=None,
                    )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)
            finally:
                done.set()

        def compactor():
            try:
                while not done.is_set():
                    si.compact_shingle_index(spark, path)
                    time.sleep(0.01)
                si.compact_shingle_index(spark, path)
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        ta, tc = threading.Thread(target=appender), threading.Thread(target=compactor)
        ta.start(), tc.start()
        ta.join(), tc.join()
        assert not errs, errs
        meta = si.read_shingle_meta(path)
        assert meta["n_docs"] == 35
        committed = {
            r["doc_id"]
            for r in store._read_kind(spark, path, "digests", meta).collect()
        }
        assert committed == set(range(35)), sorted(set(range(35)) - committed)
        # every committed segment resolves under every kind (no torn meta)
        for kind in ("digests", "shingles", "counts"):
            for seg in meta["segments"]:
                assert os.path.isdir(os.path.join(path, kind, seg)), (kind, seg)


    def test_racing_ivf_appender_and_compactor_lose_nothing(
        self, spark, tmp_path
    ):
        """The IVF compact holds its own locked body (not the shared
        segment-index engine) — the same race must hold there: every
        appended vector committed, membership == vectors tree, exact
        n_vectors."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 20), path, k=2)
        errs: list = []
        done = threading.Event()

        def appender():
            try:
                for w in range(3):
                    ai.append_ivf_index(
                        spark, path, _vecs(spark, 20 + w * 10, 30 + w * 10),
                        max_segments=None,
                    )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)
            finally:
                done.set()

        def compactor():
            try:
                while not done.is_set():
                    ai.compact_ivf_index(spark, path)
                    time.sleep(0.01)
                ai.compact_ivf_index(spark, path)
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        ta = threading.Thread(target=appender)
        tc = threading.Thread(target=compactor)
        ta.start(), tc.start()
        ta.join(), tc.join()
        assert not errs, errs
        meta = ai.read_ivf_meta(path)
        assert meta["n_vectors"] == 50
        vec = spark.read.parquet(ai._vectors_path(path, meta))
        assert vec.count() == 50
        assert vec.groupBy("vec_id").count().filter("count > 1").count() == 0
        ids = ai._committed_ids(spark, path, meta)
        assert ids.count() == 50
        assert (
            ids.join(vec.select("vec_id"), "vec_id", "left_anti").count() == 0
        )


# ---------------------------------------------------------------------------
# deterministic append collapse (VERDICT r10 #3)
# ---------------------------------------------------------------------------


class TestAppendDeterministicCollapse:
    def test_shingle_append_pins_min_text(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 5), path)
        dup = spark.createDataFrame(
            [(99, "zzz later payload arrives first sometimes"),
             (99, "aaa earlier payload must win deterministically")],
            "doc_id bigint, text string",
        ).repartition(4)
        si.append_shingle_index(spark, path, dup)
        meta = si.read_shingle_meta(path)
        row = (
            store._read_kind(spark, path, "digests", meta)
            .filter("doc_id = 99")
            .collect()
        )
        assert len(row) == 1
        import hashlib

        want = hashlib.md5(
            b"aaa earlier payload must win deterministically"
        ).hexdigest()
        assert row[0]["text_md5"] == want

    def test_ivf_append_pins_min_vector(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 10), path, k=2)
        dup = spark.createDataFrame(
            [(99, [9.0, 9.0, 9.0, 9.0, 9.0, 9.0]),
             (99, [1.0, 9.0, 9.0, 9.0, 9.0, 9.0])],
            "vec_id bigint, embedding array<double>",
        ).repartition(4)
        ai.append_ivf_index(spark, path, dup)
        vec = (
            spark.read.parquet(ai._vectors_path(path, ai.read_ivf_meta(path)))
            .filter("vec_id = 99")
            .collect()
        )
        assert len(vec) == 1
        assert vec[0]["vec"][0] == 1.0


# ---------------------------------------------------------------------------
# bloom hardening (ADVICE r10) + index-level bloom (VERDICT r10 #5)
# ---------------------------------------------------------------------------


class TestBloomHardening:
    def test_changed_bloom_k_cannot_false_negative(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r10 medium: segments are probed with the hash count
        they were BUILT with — flipping the module constant afterwards
        must not make indexed ids invisible (a false negative is a
        double-append)."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        monkeypatch.setattr(store, "BLOOM_K", 3)
        meta = si.read_shingle_meta(path)
        cand = store._bloom_candidate_segments(
            spark,
            path,
            meta["segments"],
            meta["bloom_params"],
            _docs(spark, 3, 4).select("doc_id"),
            id_col="doc_id",
            index_bloom=meta.get("index_bloom"),
        )
        assert cand == meta["segments"], cand

    def test_over_budget_batch_skips_precheck(self, spark, tmp_path, monkeypatch):
        """ADVICE r10 medium: the pre-check broadcasts the batch's
        position frame — an over-budget batch must skip it (all
        segments candidate, fail-open) instead of building an unbounded
        broadcast."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        monkeypatch.setattr(store, "BLOOM_PRECHECK_ROW_BUDGET", 3)
        meta = si.read_shingle_meta(path)
        cand = store._bloom_candidate_segments(
            spark,
            path,
            meta["segments"],
            meta["bloom_params"],
            _docs(spark, 100, 110).select("doc_id"),  # disjoint, but over budget
            id_col="doc_id",
            index_bloom=meta.get("index_bloom"),
        )
        assert cand == meta["segments"]

    def test_fractional_id_type_cannot_false_negative(self, spark, tmp_path):
        """ADVICE r10 low: a DOUBLE 5.0 batch id must bloom-hit the
        BIGINT 5 the index recorded — the anti-join's coercion would
        match them, so the bloom must too (the false-negative direction
        is a double-append)."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        meta = si.read_shingle_meta(path)
        dbl = spark.createDataFrame([(5.0,)], "doc_id double")
        cand = store._bloom_candidate_segments(
            spark,
            path,
            meta["segments"],
            meta["bloom_params"],
            dbl,
            id_col="doc_id",
            index_bloom=meta.get("index_bloom"),
        )
        assert cand == meta["segments"], cand

    def test_disjoint_batch_reads_exactly_one_bloom(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r10 #5's 'done' bar: with several committed segments,
        a disjoint batch's pre-check resolves at the INDEX-level bloom —
        one read under blooms/, zero per-segment subtrees, zero
        membership reads."""
        from pyspark.sql.readwriter import DataFrameReader

        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        for w in range(3):
            si.append_shingle_index(
                spark, path, _docs(spark, 10 + w * 5, 15 + w * 5),
                max_segments=None,
            )
        meta = si.read_shingle_meta(path)
        assert len(meta["segments"]) == 4 and "index_bloom" in meta

        seen: list[str] = []
        real = DataFrameReader.parquet

        def spy(reader, *paths, **kw):
            seen.extend(str(p) for p in paths)
            return real(reader, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        cand = store._bloom_candidate_segments(
            spark,
            path,
            meta["segments"],
            meta["bloom_params"],
            _docs(spark, 900, 905).select("doc_id"),
            id_col="doc_id",
            index_bloom=meta["index_bloom"],
        )
        assert cand == []
        blooms = [p for p in seen if "/blooms/" in p]
        assert blooms == [
            os.path.join(path, "blooms", meta["index_bloom"]["dir"])
        ], blooms

    def test_index_bloom_appends_deltas_never_rewrites(self, spark, tmp_path):
        """The append path writes O(batch·k) delta rows into the SAME
        sidecar dir — never an O(index/4) rewrite (the write-
        amplification class the sidecar exists to kill). Ids whose bits
        live only in delta rows must still gate-hit (the dup-tolerant
        reader), and duplicate deltas (a replayed torn attempt) can only
        add false positives."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        ib0 = si.read_shingle_meta(path)["index_bloom"]
        files0 = len(os.listdir(os.path.join(path, "blooms", ib0["dir"])))
        for w in range(3):
            si.append_shingle_index(
                spark, path, _docs(spark, 10 + w * 5, 15 + w * 5),
                max_segments=None,
            )
        meta = si.read_shingle_meta(path)
        ib = meta["index_bloom"]
        assert ib["dir"] == ib0["dir"], "append rewrote the sidecar dir"
        assert ib["delta_rows"] == 15 * si.BLOOM_K and ib["n"] == 25
        assert len(os.listdir(os.path.join(path, "blooms", ib["dir"]))) > files0
        # an id from the LAST append (bits only in delta rows) must hit
        cand = store._bloom_candidate_segments(
            spark, path, meta["segments"], meta["bloom_params"],
            _docs(spark, 24, 25).select("doc_id"), id_col="doc_id",
            index_bloom=ib,
        )
        assert cand, "delta-row bits were invisible to the gate"
        # duplicate deltas: simulate a replayed torn attempt's rows
        store._update_index_bloom(
            spark, path, meta, _docs(spark, 24, 25).select("doc_id"), 0,
            id_col="doc_id",
        )
        still = store._bloom_candidate_segments(
            spark, path, meta["segments"], meta["bloom_params"],
            _docs(spark, 24, 25).select("doc_id"), id_col="doc_id",
            index_bloom=meta["index_bloom"],
        )
        assert still, "duplicate delta rows flipped a hit into a miss"

    def test_legacy_index_gains_pointer_at_tiered_compact(
        self, spark, tmp_path
    ):
        """A pre-round-11 index (no pointer) picks the gate up at its
        first compaction via the maintenance hook — and the new pointer
        covers ids appended while the pointer was absent."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        meta = si.read_shingle_meta(path)
        meta.pop("index_bloom")
        si._write_meta(path, meta)
        for w in range(4):  # trigger tiered compacts along the way
            si.append_shingle_index(
                spark, path, _docs(spark, 10 + w * 5, 15 + w * 5),
                max_segments=2,
            )
        meta = si.read_shingle_meta(path)
        assert "index_bloom" in meta, "maintenance never rebuilt the pointer"
        cand = store._bloom_candidate_segments(
            spark, path, meta["segments"], meta["bloom_params"],
            _docs(spark, 12, 13).select("doc_id"), id_col="doc_id",
            index_bloom=meta["index_bloom"],
        )
        assert cand, "rebuilt pointer misses an id appended while absent"
        assert store._bloom_candidate_segments(
            spark, path, meta["segments"], meta["bloom_params"],
            _docs(spark, 900, 901).select("doc_id"), id_col="doc_id",
            index_bloom=meta["index_bloom"],
        ) == []

    def test_saturated_index_bloom_rebuilds_resized(self, spark, tmp_path):
        """Once appended ids outgrow the sized capacity the gate would
        degrade toward always-hit (safe but useless) — the maintenance
        hook rebuilds it re-sized from committed membership on the next
        compact."""
        path = str(tmp_path / "idx")
        si.build_shingle_index(spark, _docs(spark, 0, 10), path)
        m0 = si.read_shingle_meta(path)["index_bloom"]["m"]
        # m0 = 1024 bits → capacity 64 ids at 16 bits/id; blow past it
        for w in range(5):
            si.append_shingle_index(
                spark, path, _docs(spark, 10 + w * 30, 40 + w * 30),
                max_segments=2,
            )
        meta = si.read_shingle_meta(path)
        ib = meta["index_bloom"]
        assert meta["n_docs"] == 160
        assert ib["m"] > m0, "saturated bloom never re-sized"
        assert ib["n"] * si.BLOOM_BITS_PER_ID <= ib["m"]

    def test_index_bloom_survives_membership_repair(self, spark, tmp_path):
        """Repair ids enter committed membership, so they must enter the
        index-level bloom in the same commit — otherwise the repaired
        ids' next delivery bloom-misses and double-appends."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 10), path, k=2)
        # simulate a torn append: vectors landed, ids sentinel left
        # uncommitted (the crash window _repair_membership exists for)
        torn = _vecs(spark, 100, 105)
        src = torn.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        src.select("vec_id").write.parquet(os.path.join(path, "ids", "seg-torn"))
        ai._assign_cells(spark, path, src).write.mode("append").partitionBy(
            "cell"
        ).parquet(ai._vectors_path(path, ai.read_ivf_meta(path)))
        # next append repairs, then the re-delivery of the torn rows
        # must be absorbed — including via the bloom gate
        r = ai.append_ivf_index(spark, path, _vecs(spark, 200, 203))
        assert r["appended"] == 3
        r2 = ai.append_ivf_index(spark, path, torn)
        assert r2["appended"] == 0, r2
        meta = ai.read_ivf_meta(path)
        assert meta["n_vectors"] == 18
        # and the gate itself knows the repaired ids
        cand = ai._bloom_candidate_segments(
            spark, path, meta, torn.select("vec_id")
        )
        assert cand, "repaired ids bloom-missed — false negative"


# ---------------------------------------------------------------------------
# loud lazy-quiesce expiry (VERDICT r10 #2)
# ---------------------------------------------------------------------------


class TestQuiesceExpiryLoud:
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

    def test_expired_clean_hold_returns_expired_flag(
        self, spark, tmp_path, monkeypatch
    ):
        """The r10 verdict's 'done' bar, clean half: a hold past the
        deadline gets a LOUD signal — expired=True with a release-time
        revalidation — instead of silence."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        assert snap["quiesce_deadline"] <= time.time() + 0.05 + 1
        time.sleep(0.2)  # outlive the shrunken deadline
        res = snap["release_quiesce"]()
        assert res == {"expired": True, "torn": False}
        assert not os.path.exists(bk._quiesce_path(rep))

    def test_expired_hold_with_commit_raises(self, spark, tmp_path, monkeypatch):
        """…and the torn half: protection lapsed, the marker swept, a
        writer committed — release must RAISE, not assume the lazy
        consumption was whole."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        time.sleep(0.2)
        # simulate the age sweep collecting the no-longer-beating marker,
        # then a resumed writer committing a new epoch
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
        with pytest.raises(RuntimeError, match=r"\[QUIESCE_EXPIRED\]"):
            snap["release_quiesce"]()
        # cleanup still happened before the raise
        assert not os.path.exists(bk._quiesce_path(rep))

    def test_unexpired_release_reports_clean(self, spark, tmp_path):
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        assert snap["quiesce_deadline"] > time.time()
        res = snap["release_quiesce"]()
        assert res == {"expired": False, "torn": False}
