"""The bucketed store under merge, SCD-2, join views and compaction.

- the Spark jobs each bucketed verb submits on tiny fixed inputs: the
  verbs ``clone_sync`` runs (bucketed upsert create and merge, delete,
  replica sync, replica verify) plus an SCD-2 fold and a join-view
  epoch, each under an upper bound;
- an SCD-2 fold and a join-view epoch rewrite each touched bucket of
  each store as exactly one file;
- a crashed join-view creation leaves no staging sibling once the next
  ``maintain_join_view`` has run;
- no module under ``pipeline/`` imports another ``pipeline/`` module's
  underscore names.
"""

from __future__ import annotations

import ast
import glob
import os
import uuid

import pytest

from database_clonev2_spark.pipeline import joinview as jv
from database_clonev2_spark.pipeline import merge as mg
from database_clonev2_spark.pipeline import scd2

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark jobs per verb on these inputs at local[4] with 4 shuffle
# partitions. The clone_sync verbs are pinned at the counts they had
# before the bucketed store was shared (equal since). The SCD-2 fold and
# the join-view epoch moved when they began staging through
# ``stage_buckets``: the fold 12 -> 9 (one probe instead of a
# touched-bucket collect and two counts), the join epoch 16 -> 20 (each
# of its three store writes now shuffles by bucket first). A verb that
# submits more has gained work.
JOB_BOUNDS = {
    "upsert_create": 7,
    "upsert_merge": 19,
    "delete": 12,
    "sync_replica": 21,
    "verify_replica": 4,
    "scd2_fold": 9,
    "join_epoch": 20,
}


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"bucket-store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet(spark, tmp_path, name, rows, schema):
    path = str(tmp_path / f"in_{name}")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(path)
    return spark.read.parquet(path)


def _bucket_dirs(store: str) -> dict:
    return {
        d: os.stat(d).st_ino for d in glob.glob(os.path.join(store, "_bucket=*"))
    }


def _files_per_touched_bucket(before: dict, store: str) -> dict:
    """{bucket dir: parquet file count} of every bucket dir the commit
    swapped in (a new inode)."""
    return {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d, ino in _bucket_dirs(store).items()
        if before.get(d) != ino
    }


def _check_bounds(counts: dict) -> None:
    print(f"bucketed-store jobs per verb: {counts}")
    over = {v: (n, JOB_BOUNDS[v]) for v, n in counts.items() if n > JOB_BOUNDS[v]}
    assert over == {}, f"verbs over their job bound (got, bound): {over}"


_ROW = "k long, name string, price double"


def _row(k, ver=0):
    return (k, f"n{k}_{ver}", k * 1.5 + ver)


def test_clone_sync_verbs_keep_their_job_counts(spark, tmp_path):
    src, rep = str(tmp_path / "src"), str(tmp_path / "rep")
    counts = {}
    base = _parquet(spark, tmp_path, "base", [_row(k) for k in range(400)], _ROW)
    res, counts["upsert_create"] = _jobs(spark, lambda: mg.merge_upsert_bucketed(
        spark, src, base, ["k"], n_buckets=8, change_feed=True, batch_id=0))
    assert res["updates"] == 400
    upd = _parquet(
        spark, tmp_path, "upd",
        [_row(k, 1) for k in range(380, 400)] + [_row(k) for k in range(400, 410)], _ROW,
    )
    res, counts["upsert_merge"] = _jobs(spark, lambda: mg.merge_upsert_bucketed(
        spark, src, upd, ["k"], n_buckets=8, change_feed=True, batch_id=1))
    assert res["updates"] == 30
    keys = _parquet(spark, tmp_path, "del", [(k,) for k in range(0, 12)], "k long")
    res, counts["delete"] = _jobs(spark, lambda: mg.merge_delete_bucketed(
        spark, src, keys, ["k"], n_buckets=8, change_feed=True, batch_id=2))
    assert res["deleted"] == 12
    res, counts["sync_replica"] = _jobs(spark, lambda: mg.sync_replica_from_changes(
        spark, rep, src, ["k"], n_buckets=8))
    assert [r.get("upserted") for r in res] == [400, 30, 0]
    res, counts["verify_replica"] = _jobs(
        spark, lambda: mg.verify_replica(spark, src, rep))
    assert res["match"] and res["replica_rows"] == 398
    _check_bounds(counts)


def test_scd2_fold_and_join_epoch_write_one_file_per_touched_bucket(spark, tmp_path):
    src, hist = str(tmp_path / "src"), str(tmp_path / "hist")
    base = _parquet(spark, tmp_path, "base", [_row(k) for k in range(200)], _ROW)
    mg.merge_upsert_bucketed(spark, src, base, ["k"], n_buckets=4, change_feed=True, batch_id=0)
    upd = _parquet(
        spark, tmp_path, "upd",
        [_row(k, 1) for k in range(0, 200, 3)] + [_row(k) for k in range(200, 240)], _ROW,
    )
    mg.merge_upsert_bucketed(spark, src, upd, ["k"], n_buckets=4, change_feed=True, batch_id=1)
    scd2.fold_changes_scd2(spark, hist, src, ["k"], epochs=["epoch-0"], n_buckets=4)
    before = _bucket_dirs(hist)
    res, n_fold = _jobs(spark, lambda: scd2.fold_changes_scd2(
        spark, hist, src, ["k"], epochs=["epoch-1"], n_buckets=4))
    assert res == [{"opened": 107, "closed": 67, "touched_buckets": 4}]
    files = _files_per_touched_bucket(before, hist)
    assert len(files) == 4 and set(files.values()) == {1}, files

    root = str(tmp_path / "jv")
    left = "k long, a string"
    right = "k long, b string"
    jv.maintain_join_view(
        spark, root, ["k"],
        _parquet(spark, tmp_path, "l0", [(k % 50, f"a{k}") for k in range(300)], left),
        _parquet(spark, tmp_path, "r0", [(k, f"b{k}") for k in range(0, 50, 2)], right),
        n_buckets=4, batch_id=0,
    )
    dl = _parquet(spark, tmp_path, "l1", [(k % 60, f"x{k}") for k in range(120)], left)
    dr = _parquet(spark, tmp_path, "r1", [(k, f"y{k}") for k in range(1, 60, 2)], right)
    before = {s: _bucket_dirs(os.path.join(root, s)) for s in ("left", "right", "view")}
    res, n_join = _jobs(spark, lambda: jv.maintain_join_view(
        spark, root, ["k"], dl, dr, n_buckets=4, batch_id=1))
    assert res["applied"] and res["touched"] == {"left": 4, "right": 4, "view": 4}
    for store in ("left", "right", "view"):
        files = _files_per_touched_bucket(before[store], os.path.join(root, store))
        assert len(files) == 4 and set(files.values()) == {1}, (store, files)
    _check_bounds({"scd2_fold": n_fold, "join_epoch": n_join})


def test_crashed_join_view_creation_leaves_no_staging(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "jv")
    left = _parquet(spark, tmp_path, "l", [(k, f"a{k}") for k in range(20)], "k long, a string")
    right = _parquet(spark, tmp_path, "r", [(k, f"b{k}") for k in range(10)], "k long, b string")
    real = os.rename

    def dying(src, dst):
        if os.path.abspath(dst) == os.path.abspath(root):
            raise RuntimeError("crash at the creating rename")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(RuntimeError, match="creating rename"):
        jv.maintain_join_view(spark, root, ["k"], left, right, n_buckets=4, batch_id=0)
    monkeypatch.undo()
    assert not os.path.exists(root)

    res = jv.maintain_join_view(spark, root, ["k"], left, right, n_buckets=4, batch_id=0)
    assert res["view_rows_added"] == 10
    assert [n for n in os.listdir(tmp_path) if n.startswith("jv.")] == []
    assert jv.read_join_view(spark, root).count() == 10


# ---------------------------------------------------------------------------
# import guard
# ---------------------------------------------------------------------------


def _private_imports(pkg_dir: str) -> dict:
    """{file: [(line, module, name)]} — underscore names a ``pipeline/``
    module imports from another ``pipeline/`` module."""
    mods = {
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(pkg_dir, "*.py"))
    }
    out: dict = {}
    for fn in sorted(glob.glob(os.path.join(pkg_dir, "*.py"))):
        with open(fn) as fh:
            tree = ast.parse(fh.read(), fn)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            parts = node.module.split(".")
            if node.level == 0:
                if parts[:2] != ["database_clonev2_spark", "pipeline"]:
                    continue
                parts = parts[2:]
            elif node.level != 1:
                continue
            if len(parts) != 1 or parts[0] not in mods:
                continue
            for alias in node.names:
                if alias.name.startswith("_"):
                    out.setdefault(os.path.basename(fn), []).append(
                        (node.lineno, node.module, alias.name)
                    )
    return out


def test_pipeline_modules_share_mechanics_only_through_public_names():
    hits = _private_imports(os.path.join(ROOT, "database_clonev2_spark", "pipeline"))
    assert hits == {}, (
        "shared bucketed-store mechanics live in pipeline/_buckets.py under "
        f"public names; import those: {hits}"
    )
