"""Round 13 — VERDICT r12 / ADVICE r12 closures:

- the quiesce heartbeat is ATOMIC again (tmp + os.replace under the
  fence): a heartbeat dying mid-write can no longer leave a
  persistently torn marker that ``_quiesce_requested`` reads as
  RELEASED (VERDICT r12 #1 — the interrupted-heartbeat test lives next
  to the r12 quiesce battery in test_round12_ops.py);
- vectors-only bounded compact fires truncate the ``applied_batches``
  ledger too — any COMMITTED compact truncates (VERDICT r12 #2);
- the two r12 driver rows pin their claims with if/raise, not assert
  (VERDICT r12 #3 — grep-able: no assert on a registered query path);
- hot-cell write tasks are BOUNDED: ``max_rows_per_file`` salts a
  skewed cell into ceil(rows/cap) write tasks/files, the frag gate
  measures files above each cell's recorded layout floor so the split
  files never read as fragmentation (VERDICT r12 #4);
- ``release_quiesce`` latches the expiry verdict BEFORE the marker
  removal loop, so a removal OSError + retry replays the verdict
  instead of revalidating against legitimately-resumed writers
  (ADVICE r12 low);
- ``_commit_state`` fault-isolates per-entry stats: a transient
  OSError on one entry retries then degrades to a per-entry sentinel
  instead of poisoning the whole table into a spurious
  [QUIESCE_EXPIRED] (ADVICE r12 low);
- ``compact_ivf_index``'s no-op early return carries the same stats
  keys as the committed path (ADVICE r12 low).
"""

import errno
import os
import time

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark.extensions import annindex as ai
from database_clonev2_spark.pipeline import _buckets as bk


def _vecs(spark, lo, hi, dim=6):
    return spark.createDataFrame(
        [
            (i, [float((i * (d + 3) * 2654435761) % 1000) / 1000.0 for d in range(dim)])
            for i in range(lo, hi)
        ],
        "vec_id bigint, embedding array<double>",
    )


def _skewed_vecs(spark, n_hot=100, n_cold=10, dim=4):
    """Four well-separated anchors; the first holds ``n_hot`` points,
    the rest ``n_cold`` each — a seeded k=4 KMeans recovers the anchors
    and the first cell is the hot one."""
    anchors = [0.0, 100.0, 200.0, 300.0]
    rows, vid = [], 0
    for a_i, a in enumerate(anchors):
        for j in range(n_hot if a_i == 0 else n_cold):
            rows.append(
                (
                    vid,
                    [a + ((vid * (d + 3) * 97) % 10) / 10.0 for d in range(dim)],
                )
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _per_cell_files(tree: str) -> dict:
    out = {}
    for entry in os.listdir(tree):
        if entry.startswith("cell="):
            out[entry.split("=", 1)[1]] = sum(
                1
                for fn in os.listdir(os.path.join(tree, entry))
                if not fn.startswith((".", "_"))
            )
    return out


def _probe(spark, path, queries, n_probe=4, top_k=3):
    return sorted(
        map(
            tuple,
            ai.ivf_index_search(
                spark, path, queries, n_probe=n_probe, top_k=top_k
            ).collect(),
        )
    )


# ---------------------------------------------------------------------------
# vectors-only bounded compact truncates the ledger (VERDICT r12 #2)
# ---------------------------------------------------------------------------


class TestVectorsOnlyCompactTruncatesLedger:
    def test_bounded_vectors_only_fire_truncates_and_replay_absorbed(
        self, spark, tmp_path
    ):
        """The r12 verdict's 'done' bar: a bounded-mode fire where only
        CELLS are fragmented (need_vectors=True, need_ids=False — the
        tiered pick folds nothing at this segment count) must still
        truncate ``applied_batches``, and a replay of a batch whose
        ledger entry was truncated lands appended == 0 via membership."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 120), path, k=4)
        # three ledgered appends under a LOOSE bound: no ids fold fires
        # (4 segments <= max_segments=8), but every touched cell gains
        # a file per append — the cells fragment, the ids do not
        for w in range(3):
            ai.append_ivf_index(
                spark,
                path,
                _vecs(spark, 120 + w * 10, 130 + w * 10),
                batch_id=f"w{w}",
                max_segments=8,
            )
        m = ai.read_ivf_meta(path)
        assert m["applied_batches"] == ["w0", "w1", "w2"]
        assert len(m["id_segments"]) == 4  # no fold happened
        r = ai.compact_ivf_index(spark, path, max_segments=8, frag_factor=1)
        assert r["compacted"] is True, r
        assert r["cells_rewritten"] >= 1, r
        m2 = ai.read_ivf_meta(path)
        # the fire was vectors-only…
        assert len(m2["id_segments"]) == 4, m2["id_segments"]
        # …and the ledger truncated anyway (pre-fix it kept all 3 ids)
        assert m2["applied_batches"] == [], m2["applied_batches"]
        # replay of a truncated-ledger batch: membership absorbs it
        rep = ai.append_ivf_index(
            spark, path, _vecs(spark, 120, 130), batch_id="w0", max_segments=8
        )
        assert rep["appended"] == 0, rep
        assert ai.read_ivf_meta(path)["n_vectors"] == 150

    def test_noop_return_carries_stats_keys(self, spark, tmp_path):
        """ADVICE r12 low: the early no-op return has the same shape as
        the committed path — consumers indexing the stats keys must not
        KeyError only on the no-op path."""
        path = str(tmp_path / "idx")
        ai.build_ivf_index(spark, _vecs(spark, 0, 80), path, k=4)
        r = ai.compact_ivf_index(spark, path, frag_factor=1)
        assert r["compacted"] is False
        assert r["cells_rewritten"] == 0
        assert r["cells_carried"] == 0
        assert r["bytes_rewritten"] == 0


# ---------------------------------------------------------------------------
# hot-cell write cap (VERDICT r12 #4)
# ---------------------------------------------------------------------------


class TestHotCellWriteCap:
    def test_capped_build_splits_hot_cell_probe_unchanged(
        self, spark, tmp_path
    ):
        """One cell 10× the rest: a capped build splits the hot cell
        into multiple write tasks/files (ceil(rows/cap) salt keys; hash
        collisions may merge some — never below 2 here), every cold
        cell still lands exactly one file, and probe results are
        identical to an uncapped build over the same data."""
        data = _skewed_vecs(spark)
        capped, plain = str(tmp_path / "capped"), str(tmp_path / "plain")
        ai.build_ivf_index(spark, data, capped, k=4, max_rows_per_file=16)
        ai.build_ivf_index(spark, data, plain, k=4)
        meta = ai.read_ivf_meta(capped)
        tree = ai._vectors_path(capped, meta)
        per_cell = _per_cell_files(tree)
        cell_rows = {
            str(r["cell"]): r["n"]
            for r in spark.read.parquet(tree)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert max(cell_rows.values()) > 16, cell_rows  # fixture is skewed
        for c, n in per_cell.items():
            expected = -(-cell_rows[c] // 16)  # ceil(rows/cap)
            if cell_rows[c] <= 16:
                assert n == 1, (c, per_cell)  # at-or-under-cap: one file
            else:
                # parallelized: ≥2 tasks, ≤ the salt count (hash
                # collisions in the shuffle only merge salts)
                assert 2 <= n <= expected, (c, n, expected)
        hot = max(cell_rows, key=cell_rows.get)
        # no file holds a pathological share: the hot cell's rows are
        # spread across its files (each write task took a bounded slice)
        rows_per_file = (
            spark.read.parquet(tree)
            .where(F.col("cell") == int(hot))
            .groupBy(F.input_file_name())
            .count()
            .collect()
        )
        assert len(rows_per_file) == per_cell[hot]
        assert max(r["count"] for r in rows_per_file) < cell_rows[hot]
        # the floor records the actual layout, every cell
        assert meta["cell_file_floor"] == per_cell
        queries = _skewed_vecs(spark).limit(5)
        assert _probe(spark, capped, queries) == _probe(spark, plain, queries)

    def test_frag_gate_does_not_misfire_on_split_files(self, spark, tmp_path):
        """The split files are LAYOUT, not fragmentation: immediately
        after a capped build, a frag_factor=1 compact is a no-op; after
        an append adds real churn the gate fires, the rewrite re-salts,
        and the floor re-records — still no perpetual rewrites."""
        path = str(tmp_path / "idx")
        data = _skewed_vecs(spark)
        ai.build_ivf_index(spark, data, path, k=4, max_rows_per_file=16)
        r = ai.compact_ivf_index(spark, path, frag_factor=1)
        assert r["compacted"] is False, r  # pre-fix: all-cells-fragmented
        # an append adds one file to each touched cell — real churn now
        ai.append_ivf_index(
            spark, path, _vecs(spark, 5000, 5040, dim=4), batch_id="a0"
        )
        before_probe = _probe(spark, path, data.limit(5))
        r2 = ai.compact_ivf_index(spark, path, frag_factor=1)
        assert r2["compacted"] is True, r2
        meta = ai.read_ivf_meta(path)
        per_cell = _per_cell_files(ai._vectors_path(path, meta))
        # rewritten cells are back AT their recorded floor…
        floors = meta["cell_file_floor"]
        for c, n in per_cell.items():
            assert n <= max(1, int(floors.get(c, 1))), (c, n, floors)
        # …so the next fire is a no-op again (no perpetual hot-cell
        # rewrite loop)
        r3 = ai.compact_ivf_index(spark, path, frag_factor=1)
        assert r3["compacted"] is False, r3
        # content identity held throughout for the original corpus
        after_probe = _probe(spark, path, data.limit(5))
        assert before_probe == after_probe


# ---------------------------------------------------------------------------
# quiesce: release latch before marker removal (ADVICE r12 low)
# ---------------------------------------------------------------------------


class TestReleaseLatchesBeforeRemoval:
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

    def test_removal_oserror_then_retry_replays_latched_verdict(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r12 low's exact scenario: the first release's marker
        removal raises a non-ENOENT OSError AFTER the clean-expiry
        verdict was computed; a writer then legitimately resumes and
        commits; the retried release must finish the cleanup and replay
        {expired: True, torn: False} — not re-run the revalidation
        against the resumed writer's commit and spuriously raise."""
        from database_clonev2_spark.pipeline import merge as mg

        src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
        self._seed_replica(spark, src, rep)
        monkeypatch.setattr(bk, "_QUIESCE_MAX_HOLD_S", 0.05)
        snap = mg.read_database_snapshot(
            spark, {"t": rep}, materialize=False, quiesce=True
        )
        time.sleep(0.2)

        real_release = mg.release_quiesce

        def _eacces(p):
            raise OSError(errno.EACCES, "Permission denied", p)

        monkeypatch.setattr(mg, "release_quiesce", _eacces)
        with pytest.raises(OSError):
            snap["release_quiesce"]()
        monkeypatch.setattr(mg, "release_quiesce", real_release)
        # the marker survived the failed removal; a writer resumes once
        # the age sweep clears it — simulate by removing it and
        # committing, exactly the world a retried release re-enters
        try:
            os.remove(bk._quiesce_path(rep))
        except FileNotFoundError:
            pass
        batch = spark.createDataFrame(
            [(k, 7, 7) for k in range(20)], "k long, val long, ver long"
        )
        mg.merge_upsert_bucketed(
            spark, src, batch, ["k"], n_buckets=2, order_col="ver",
            change_feed=True, batch_id=77, validate_unique=False,
        )
        mg.sync_replica_from_changes(spark, rep, src, ["k"], 2)
        res = snap["release_quiesce"]()
        assert res == {"expired": True, "torn": False}
        assert not os.path.exists(bk._quiesce_path(rep))


# ---------------------------------------------------------------------------
# _commit_state per-entry fault isolation (ADVICE r12 low)
# ---------------------------------------------------------------------------


class TestCommitStatePerEntryFaults:
    def test_transient_stat_error_degrades_per_entry(
        self, spark, tmp_path, monkeypatch
    ):
        """A persistent EACCES on ONE entry must degrade to that
        entry's sentinel while every other entry keeps its real mtime —
        not collapse the whole table to ('<unreadable>', -1)."""
        from database_clonev2_spark.pipeline import merge as mg
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        rep = str(tmp_path / "rep")
        batch = spark.createDataFrame(
            [(k, 0, 0) for k in range(20)], "k long, val long, ver long"
        )
        merge_upsert_bucketed(
            spark, rep, batch, ["k"], n_buckets=2, order_col="ver",
            batch_id=0, validate_unique=False,
        )
        clean = mg._commit_state({"t": rep})[("t")][1]
        assert len(clean) >= 2 and all(mt > 0 for _e, mt in clean)
        victim = clean[0][0]
        real_stat = os.stat

        def _stat(p, *a, **kw):
            if os.path.basename(str(p)) == victim and os.path.dirname(
                str(p)
            ) == rep:
                raise PermissionError(errno.EACCES, "Permission denied", p)
            return real_stat(p, *a, **kw)

        monkeypatch.setattr(mg.os, "stat", _stat)
        state = mg._commit_state({"t": rep})[("t")][1]
        monkeypatch.undo()
        by_name = dict(state)
        assert by_name[victim] == -1  # per-entry sentinel only
        for e, mt in clean:
            if e != victim:
                assert by_name[e] == mt, (e, mt, by_name)
        assert ("<unreadable>", -1) not in state

    def test_vanished_entry_reads_as_commit_shaped_change(
        self, spark, tmp_path, monkeypatch
    ):
        """An entry vanishing between listdir and stat IS what a bucket
        swap looks like — it must register as a change (sentinel
        distinct from any real mtime), not table-wide noise."""
        from database_clonev2_spark.pipeline import merge as mg
        from database_clonev2_spark.pipeline.merge import merge_upsert_bucketed

        rep = str(tmp_path / "rep")
        batch = spark.createDataFrame(
            [(k, 0, 0) for k in range(10)], "k long, val long, ver long"
        )
        merge_upsert_bucketed(
            spark, rep, batch, ["k"], n_buckets=2, order_col="ver",
            batch_id=0, validate_unique=False,
        )
        before = mg._commit_state({"t": rep})
        victim = before["t"][1][0][0]
        real_stat = os.stat

        def _stat(p, *a, **kw):
            if os.path.basename(str(p)) == victim and os.path.dirname(
                str(p)
            ) == rep:
                raise FileNotFoundError(errno.ENOENT, "gone", p)
            return real_stat(p, *a, **kw)

        monkeypatch.setattr(mg.os, "stat", _stat)
        during = mg._commit_state({"t": rep})
        monkeypatch.undo()
        assert during != before  # the vanish registers as a change
        assert dict(during["t"][1])[victim] == -2
        # and the listdir-failure sentinel stays whole-table-reserved
        missing = mg._commit_state({"t": str(tmp_path / "nope")})
        assert missing["t"][1] == (("<unreadable>", -1),)


# ---------------------------------------------------------------------------
# exact substring dedup — shared token windows (round-13 operator)
# ---------------------------------------------------------------------------


class TestSubstringWindowPairs:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_shared_run_counts_l_minus_w_plus_1_windows(self, spark):
        """A verbatim shared run of L tokens inside otherwise-different
        documents yields exactly L - w + 1 shared windows — the
        ExactSubstr recall-by-construction contract, and the count from
        which the run length is recoverable."""
        from database_clonev2_spark.extensions.dedup import (
            substring_window_pairs,
        )

        run = " ".join(f"tok{i}" for i in range(12))  # L = 12
        docs = self._docs(
            spark,
            [
                (1, "alpha beta gamma " + run + " delta"),
                (2, "one two three four five six " + run + " seven"),
                (3, "wholly unrelated words " * 5),
            ],
        )
        got = {
            (r["doc_i"], r["doc_j"]): r["n_shared_windows"]
            for r in substring_window_pairs(docs, w=8).collect()
        }
        assert got == {(1, 2): 12 - 8 + 1}

    def test_stop_windows_capped_and_short_docs_skipped(self, spark):
        """A window present in more than df_cap documents is boilerplate
        and must not pair anyone; documents shorter than w tokens emit
        nothing (no negative-length slice artifacts)."""
        from database_clonev2_spark.extensions.dedup import (
            substring_window_pairs,
        )

        boiler = " ".join(f"b{i}" for i in range(8))
        docs = self._docs(
            spark,
            [(i, boiler + f" unique{i}") for i in range(5)]
            + [(100, "too short"), (101, "too short")],
        )
        # cap below the boilerplate's df: nothing pairs
        assert substring_window_pairs(docs, w=8, df_cap=4).count() == 0
        # cap at/above df: all C(5,2) boilerplate pairs surface, the
        # sub-w docs still contribute nothing
        got = substring_window_pairs(docs, w=8, df_cap=5).collect()
        assert len(got) == 10
        assert all(r["n_shared_windows"] == 1 for r in got)
        assert all(r["doc_i"] < r["doc_j"] <= 4 for r in got)

    def test_exact_duplicates_share_every_window(self, spark):
        from database_clonev2_spark.extensions.dedup import (
            substring_window_pairs,
        )

        text = " ".join(f"w{i}" for i in range(20))
        docs = self._docs(spark, [(7, text), (9, text)])
        [row] = substring_window_pairs(docs, w=8).collect()
        assert (row["doc_i"], row["doc_j"]) == (7, 9)
        assert row["n_shared_windows"] == 20 - 8 + 1


class TestSubstringDuplicateSpans:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_single_shared_run_is_one_exact_span(self, spark):
        """A shared run of L tokens merges back into ONE span of exactly
        L tokens at the right 1-based offsets."""
        from database_clonev2_spark.extensions.dedup import (
            substring_duplicate_spans,
        )

        run = " ".join(f"tok{i}" for i in range(12))  # L = 12
        docs = self._docs(
            spark,
            [
                (1, "alpha beta gamma " + run + " tail1 tail2"),  # run at 4..15
                (2, run + " other words entirely here"),  # run at 1..12
            ],
        )
        got = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
            for r in substring_duplicate_spans(docs, w=8).collect()
        }
        assert got == {1: (4, 15, 12), 2: (1, 12, 12)}

    def test_disjoint_runs_stay_separate_within_doc_repeat_not_flagged(
        self, spark
    ):
        """Two shared runs separated by novel text come back as two
        spans; a window repeated only WITHIN one document (cross-doc df
        = 1) does not flag."""
        from database_clonev2_spark.extensions.dedup import (
            substring_duplicate_spans,
        )

        run_a = " ".join(f"a{i}" for i in range(8))
        run_b = " ".join(f"b{i}" for i in range(8))
        intra = " ".join(f"x{i}" for i in range(8))
        docs = self._docs(
            spark,
            [
                # doc 1: run_a, 9 novel tokens, run_b  → two spans
                (1, run_a + " " + " ".join(f"n{i}" for i in range(9)) + " " + run_b),
                (2, run_a + " unrelated tail of words here now"),
                (3, "leading words then " + run_b),
                # doc 4: the same 8-gram twice, nowhere else → no spans
                (4, intra + " " + intra),
            ],
        )
        rows = substring_duplicate_spans(docs, w=8).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        assert sorted(by_doc[1]) == [(1, 8), (18, 25)]
        assert by_doc[2] == [(1, 8)]
        assert by_doc[3] == [(4, 11)]
        assert 4 not in by_doc


class TestSubstringDedupCut:
    def test_cut_removes_spans_keeps_order_drops_full_dups(self, spark):
        """The cut face end-to-end: the shared run disappears from both
        documents (order of survivors intact), an untouched document
        comes back whole with n_removed = 0, and a document that IS the
        duplicate (fully covered) drops from the output."""
        from database_clonev2_spark.extensions.dedup import (
            substring_dedup_cut,
        )

        run = " ".join(f"tok{i}" for i in range(10))
        docs = spark.createDataFrame(
            [
                (1, "alpha beta " + run + " gamma delta"),
                (2, run + " epsilon zeta eta theta iota kappa"),
                (3, run),  # nothing but the duplicated run
                (4, "entirely novel words live here peacefully today"),
            ],
            "doc_id bigint, text string",
        )
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in substring_dedup_cut(docs, w=8).collect()
        }
        assert got[1] == ("alpha beta gamma delta", 10)
        assert got[2] == ("epsilon zeta eta theta iota kappa", 10)
        assert 3 not in got  # the fully-duplicated doc IS the cut
        assert got[4] == ("entirely novel words live here peacefully today", 0)
