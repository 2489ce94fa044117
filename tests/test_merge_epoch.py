"""Bucketed merge epochs: the staged layout and the fused probes.

- every staged bucket write leaves ONE file per touched bucket, never
  touches the other buckets, and still splits an oversized bucket;
- each verb's input questions (rows, duplicate keys, touched buckets,
  deletes, change tags) come from one aggregate, so the return dicts,
  the errors and their order match the per-question counts;
- a replay after a crashed commit no-ops once recovery has rolled the
  commit forward.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark._durable import applied_batches
from database_clonev2_spark.pipeline import _buckets as bk
from database_clonev2_spark.pipeline import merge as mg

N = 8
KEY = ["k"]


def _rows(spark, lo, hi, v=0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + v).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )


def _bucket_of(spark, keys):
    rows = spark.createDataFrame([(k,) for k in keys], "k long")
    return {
        r["k"]: r[mg.BUCKET_COL]
        for r in bk.with_bucket(rows, KEY, N).collect()
    }


def _bucket_dirs(path):
    return {
        int(d.rsplit("=", 1)[1]): d
        for d in glob.glob(os.path.join(path, f"{mg.BUCKET_COL}=*"))
    }


def _file_stats(path):
    """(inode, size, mtime) of every file under each bucket dir."""
    out = {}
    for b, d in _bucket_dirs(path).items():
        for f in sorted(os.listdir(d)):
            st = os.stat(os.path.join(d, f))
            out[(b, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _parquet_files(path, b):
    return glob.glob(os.path.join(path, f"{mg.BUCKET_COL}={b}", "*.parquet"))


def _checksum(df):
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], r["h"]


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"merge-epoch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# layout
# ---------------------------------------------------------------------------


def test_upsert_epoch_writes_one_file_per_touched_bucket(spark, tmp_path):
    target = str(tmp_path / "t")
    mg.merge_upsert_bucketed(spark, target, _rows(spark, 0, 4000), KEY, n_buckets=N)
    assert all(len(_parquet_files(target, b)) == 1 for b in range(N))
    # three keys: at most three of the eight buckets are touched
    keys = [5, 17, 4001]
    touched = set(_bucket_of(spark, keys).values())
    assert len(touched) < N
    before = _file_stats(target)
    inodes = {b: os.stat(d).st_ino for b, d in _bucket_dirs(target).items()}

    upd = spark.createDataFrame(
        [(k, 100, "u") for k in keys], "k long, v long, s string"
    )
    res = mg.merge_upsert_bucketed(spark, target, upd, KEY, n_buckets=N)
    assert res["touched_buckets"] == len(touched)

    after = _file_stats(target)
    for b, d in _bucket_dirs(target).items():
        if b in touched:
            assert len(_parquet_files(target, b)) == 1, b
            assert os.stat(d).st_ino != inodes[b], b
        else:
            assert os.stat(d).st_ino == inodes[b], b
            got = {k: v for k, v in after.items() if k[0] == b}
            assert got == {k: v for k, v in before.items() if k[0] == b}, b


def test_oversized_bucket_still_splits_across_files(spark, tmp_path):
    """REBALANCE, not repartition: AQE splits a bucket larger than the
    advisory partition size over several write tasks."""
    target = str(tmp_path / "big")
    src = spark.range(0, 200_000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s")
    )
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try:
        mg.merge_upsert_bucketed(spark, target, src, KEY, n_buckets=2)
    finally:
        spark.conf.set(key, old)
    assert max(len(_parquet_files(target, b)) for b in range(2)) >= 2
    assert _checksum(mg.read_merge_target(spark, target)) == _checksum(src)


# ---------------------------------------------------------------------------
# fused probes
# ---------------------------------------------------------------------------


def _touched_count(spark, path, buckets):
    df = spark.read.schema(mg.recorded_schema(spark, path)).parquet(path)
    return df.where(F.col(mg.BUCKET_COL).isin(sorted(buckets))).count()


def test_epoch_return_dicts_match_per_check_counts(spark, tmp_path):
    target, replica = str(tmp_path / "src"), str(tmp_path / "rep")
    base = _rows(spark, 0, 600)
    mg.merge_upsert_bucketed(
        spark, target, base, KEY, n_buckets=N, change_feed=True, batch_id=0
    )
    mg.sync_replica_from_changes(spark, replica, target, KEY, n_buckets=N)

    # inserts 600..619, real updates 0..9, a no-op update of key 10
    old10 = base.where("k = 10")
    upd = (
        _rows(spark, 600, 620)
        .unionByName(_rows(spark, 0, 10, v=50))
        .unionByName(old10)
    )
    touched = set(_bucket_of(spark, list(range(600, 620)) + list(range(11))).values())
    want_before = _touched_count(spark, target, touched)
    res = mg.merge_upsert_bucketed(
        spark, target, upd, KEY, n_buckets=N, change_feed=True, batch_id=1
    )
    assert res == {
        "before_touched": want_before,
        "updates": upd.count(),
        "after_touched": want_before + 20,
        "touched_buckets": len(touched),
        "n_buckets": N,
        "change_dir": "epoch-1",
    }
    feed = mg.read_merge_changes(spark, target, ["epoch-1"])
    kinds = {r["change_type"]: r["count"] for r in feed.groupBy("change_type").count().collect()}
    assert kinds == {"insert": 20, "update_postimage": 10, "update_preimage": 10}

    # deletes: a few scattered keys plus every key of one bucket
    owner = _bucket_of(spark, list(range(620)))
    emptied = owner[3]
    gone = sorted({3, 4, 7} | {k for k, b in owner.items() if b == emptied})
    d_touched = {owner[k] for k in gone}
    want_before = _touched_count(spark, target, d_touched)
    keys = spark.createDataFrame([(k,) for k in gone] + [(3,)], "k long")
    res = mg.merge_delete_bucketed(
        spark, target, keys, KEY, n_buckets=N, change_feed=True, batch_id=2
    )
    assert res == {
        "before_touched": want_before,
        "deleted": len(gone),
        "after_touched": want_before - len(gone),
        "touched_buckets": len(d_touched),
        "n_buckets": N,
        "change_dir": "epoch-2",
    }
    emptied_dir = os.path.join(target, f"{mg.BUCKET_COL}={emptied}")
    assert os.path.isdir(emptied_dir) and not _parquet_files(target, emptied)

    # the no-op update of key 10 never reached the feed
    changed = {owner[k] for k in [*range(10), *range(600, 620)]}
    res = mg.sync_replica_from_changes(spark, replica, target, KEY, n_buckets=N)
    assert res == [
        {"upserted": 30, "deleted": 0, "touched_buckets": len(changed), "n_buckets": N},
        {"upserted": 0, "deleted": len(gone), "touched_buckets": len(d_touched), "n_buckets": N},
    ]
    check = mg.verify_replica(spark, target, replica)
    assert check["match"] and check["replica_rows"] == 620 - len(gone)


def test_duplicate_keys_still_raise(spark, tmp_path):
    dup = _rows(spark, 0, 5).unionByName(_rows(spark, 2, 3, v=1))
    with pytest.raises(ValueError, match="duplicate keys"):
        mg.merge_upsert_bucketed(spark, str(tmp_path / "t"), dup, KEY, n_buckets=N)
    assert not os.path.exists(tmp_path / "t")


def test_unknown_change_type_raises_before_duplicates(spark, tmp_path):
    rows = _rows(spark, 0, 3).withColumn("change_type", F.lit("insert"))
    bad = rows.unionByName(
        _rows(spark, 0, 1).withColumn("change_type", F.lit("upsert"))
    )
    with pytest.raises(ValueError, match="unknown change_type"):
        mg.apply_merge_changes(spark, str(tmp_path / "r"), bad, KEY, n_buckets=N)
    with pytest.raises(ValueError, match="multiple live change rows"):
        mg.apply_merge_changes(
            spark, str(tmp_path / "r"), rows.unionByName(rows), KEY, n_buckets=N
        )


def test_deletes_into_a_missing_replica_raise(spark, tmp_path):
    rows = _rows(spark, 0, 3).withColumn(
        "change_type", F.when(F.col("k") == 1, "delete").otherwise("insert")
    )
    with pytest.raises(ValueError, match="cannot apply delete rows"):
        mg.apply_merge_changes(spark, str(tmp_path / "r"), rows, KEY, n_buckets=N)
    assert not os.path.exists(tmp_path / "r")


def test_one_epoch_sync_runs_few_jobs(spark, tmp_path):
    target, replica = str(tmp_path / "src"), str(tmp_path / "rep")
    mg.merge_upsert_bucketed(
        spark, target, _rows(spark, 0, 2000), KEY, n_buckets=N,
        change_feed=True, batch_id=0,
    )
    mg.sync_replica_from_changes(spark, replica, target, KEY, n_buckets=N)
    epochs = [
        lambda e: mg.merge_delete_bucketed(
            spark, target, _rows(spark, 0, 40).select("k"), KEY, n_buckets=N,
            change_feed=True, batch_id=e,
        ),
        lambda e: mg.merge_upsert_bucketed(
            spark, target, _rows(spark, 1990, 2030, v=3), KEY, n_buckets=N,
            change_feed=True, batch_id=e,
        ),
    ]
    for e, epoch in enumerate(epochs, start=1):
        epoch(e)
        res, n_jobs = _jobs(
            spark,
            lambda: mg.sync_replica_from_changes(spark, replica, target, KEY, n_buckets=N),
        )
        assert len(res) == 1 and res[0]["touched_buckets"] > 0
        assert n_jobs <= 8, (e, n_jobs)
    assert mg.verify_replica(spark, target, replica)["match"]


# ---------------------------------------------------------------------------
# replay after a crashed commit
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("verb", ["upsert", "delete"])
def test_replay_after_crashed_commit_is_already_applied(
    spark, tmp_path, monkeypatch, verb
):
    target = str(tmp_path / "t")
    mg.merge_upsert_bucketed(
        spark, target, _rows(spark, 0, 500), KEY, n_buckets=N,
        change_feed=True, batch_id=0,
    )
    if verb == "upsert":
        def run():
            return mg.merge_upsert_bucketed(
                spark, target, _rows(spark, 490, 520, v=9), KEY,
                n_buckets=N, change_feed=True, batch_id=1,
            )
    else:
        def run():
            return mg.merge_delete_bucketed(
                spark, target, _rows(spark, 0, 30).select("k"), KEY,
                n_buckets=N, change_feed=True, batch_id=1,
            )

    # crash on the second rename of the swap loop: the first touched
    # bucket is stranded to .__old, its staged dir not yet moved in
    real, calls = os.rename, {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash")
        return real(*a, **kw)

    monkeypatch.setattr(mg.os, "rename", dying)
    with pytest.raises(RuntimeError, match="crash"):
        run()
    monkeypatch.undo()
    assert os.path.exists(bk._commit_path(target))
    assert 1 not in applied_batches(target)

    # the inodes each bucket dir must end with: roll-forward moves the
    # staged dirs in, and nothing may rewrite them after that
    with open(bk._commit_path(target)) as fh:
        man = json.load(fh)
    want = {b: os.stat(d).st_ino for b, d in _bucket_dirs(target).items()}
    for b, d in _bucket_dirs(man["staging"]).items():
        want[b] = os.stat(d).st_ino

    monkeypatch.setattr(mg, "stage_buckets", lambda *a: pytest.fail("re-staged"))
    res = run()
    monkeypatch.undo()
    assert res == {"applied": False, "batch_id": 1, "reason": "already_applied"}
    assert not glob.glob(f"{target}.__stage_*")
    assert not os.path.exists(bk._commit_path(target))
    assert {b: os.stat(d).st_ino for b, d in _bucket_dirs(target).items()} == want
    assert applied_batches(target) == [0, 1]
