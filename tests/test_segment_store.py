"""The segment store under the shingle, MinHash and IVF indexes.

- one lifecycle per family on tiny inputs: build → disjoint append →
  ledgered replay → overlapping append → ``max_segments`` auto-compact →
  probe, with its results, its meta invariants and the Spark jobs each
  verb submits (upper bounds);
- every meta commit of build, append, compact and the IVF membership
  repair runs under the maintainer flock, through the family's own
  ``_write_meta`` looked up at call time (a crash point patched there
  bites);
- no module under ``extensions/`` reaches into another index module's
  or ``pipeline/``'s privates.
"""

from __future__ import annotations

import ast
import fcntl
import glob
import math
import os
import uuid

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark.extensions import annindex as ai
from database_clonev2_spark.extensions import minhashindex as mi
from database_clonev2_spark.extensions import shingleindex as si

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark jobs per verb, measured on these inputs at local[4] with 4 shuffle
# partitions. A verb that submits more has gained work.
JOB_BOUNDS = {
    "shingle": {"build": 21, "append": 27, "replay": 0, "overlap": 38, "autocompact": 48, "probe": 19},
    "minhash": {"build": 14, "append": 22, "replay": 0, "overlap": 33, "autocompact": 41, "probe": 6},
    "ivf": {"build": 31, "append": 25, "replay": 0, "overlap": 36, "autocompact": 44, "probe": 13},
}


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"segment-store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class _Verbs:
    """Runs each verb once, counting its jobs under the family's bound."""

    def __init__(self, spark, family):
        self.spark, self.family, self.counts = spark, family, {}

    def __call__(self, verb, fn):
        out, n = _jobs(self.spark, fn)
        self.counts[verb] = n
        return out

    def check(self):
        bounds = JOB_BOUNDS[self.family]
        over = {
            v: (n, bounds[v])
            for v, n in self.counts.items()
            if bounds[v] is not None and n > bounds[v]
        }
        print(f"{self.family} jobs per verb: {self.counts}")
        assert over == {}, f"verbs over their job bound (got, bound): {over}"


def _text(i):
    return " ".join(f"t{i}w{j}" for j in range(12))


def _docs(spark, ids, text=_text):
    return spark.createDataFrame(
        [(i, text(i)) for i in ids], "doc_id long, text string"
    )


def _vec(i):
    return [math.cos(i), math.sin(i), math.cos(2.3 * i), math.sin(0.7 * i)]


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


def _member_ids(spark, path, kind, segs):
    col = "vec_id" if kind == "ids" else "doc_id"
    return [
        r[0]
        for r in spark.read.parquet(*[os.path.join(path, kind, s) for s in segs])
        .select(col)
        .collect()
    ]


def _check_meta(spark, path, meta, kind, segs_key, count_key, n):
    segs = meta[segs_key]
    assert meta[count_key] == n
    assert sum(meta["segment_rows"][s] for s in segs) == n
    assert set(meta["segment_rows"]) == set(segs)
    assert set(meta["bloom_params"]) == set(segs)
    ids = _member_ids(spark, path, kind, segs)
    assert len(ids) == len(set(ids)) == n
    assert meta["index_bloom"]["n"] >= n


# ---------------------------------------------------------------------------
# lifecycle per family
# ---------------------------------------------------------------------------


def test_shingle_index_lifecycle(spark, tmp_path):
    path = str(tmp_path / "idx")
    run = _Verbs(spark, "shingle")
    meta = run("build", lambda: si.build_shingle_index(spark, _docs(spark, range(20)), path))
    assert meta["segments"] == ["seg-build"] and meta["n_docs"] == 20

    r = run("append", lambda: si.append_shingle_index(
        spark, path, _docs(spark, range(20, 30)), batch_id="b1"))
    assert r == {"appended": 10, "n_docs": 30}
    r = run("replay", lambda: si.append_shingle_index(
        spark, path, _docs(spark, range(20, 30)), batch_id="b1"))
    assert r == {"appended": 0, "n_docs": 30, "reason": "already_applied"}
    r = run("overlap", lambda: si.append_shingle_index(
        spark, path, _docs(spark, range(25, 35)), batch_id="b2"))
    assert r == {"appended": 5, "n_docs": 35}
    meta = si.read_shingle_meta(path)
    assert len(meta["segments"]) == 3
    assert meta["applied_batches"] == ["b1", "b2"]
    _check_meta(spark, path, meta, "digests", "segments", "n_docs", 35)

    r = run("autocompact", lambda: si.append_shingle_index(
        spark, path, _docs(spark, range(35, 40)), batch_id="b3", max_segments=2))
    assert r["appended"] == 5 and r["auto_compact"]["compacted"] >= 2
    meta = si.read_shingle_meta(path)
    assert len(meta["segments"]) <= 2 and "seg-build" in meta["segments"]
    assert meta["applied_batches"] == []
    assert meta["retired"] and set(meta["retired"]) <= set(meta["retired_ts"])
    _check_meta(spark, path, meta, "digests", "segments", "n_docs", 40)

    near = _text(5).rsplit(" ", 1)[0] + " changed"
    batch = spark.createDataFrame(
        [(100, _text(3)), (101, near), (102, "x y z w v u")],
        "doc_id long, text string",
    )
    got = run("probe", lambda: {
        r["doc_id"]: r["verdict"]
        for r in si.probe_shingle_index(spark, path, batch).collect()
    })
    assert got == {100: "exact_dup", 101: "near_dup", 102: "unique"}
    run.check()


def test_minhash_index_lifecycle(spark, tmp_path):
    path = str(tmp_path / "idx")
    run = _Verbs(spark, "minhash")
    meta = run("build", lambda: mi.build_minhash_index(spark, _docs(spark, range(20)), path))
    assert meta["segments"] == ["seg-build"] and meta["n_docs"] == 20

    r = run("append", lambda: mi.append_minhash_index(
        spark, path, _docs(spark, range(20, 30)), batch_id="b1"))
    assert r == {"appended": 10, "n_docs": 30}
    r = run("replay", lambda: mi.append_minhash_index(
        spark, path, _docs(spark, range(20, 30)), batch_id="b1"))
    assert r == {"appended": 0, "n_docs": 30, "reason": "already_applied"}
    r = run("overlap", lambda: mi.append_minhash_index(
        spark, path, _docs(spark, range(25, 35)), batch_id="b2"))
    assert r == {"appended": 5, "n_docs": 35}
    meta = mi.read_minhash_meta(path)
    assert len(meta["segments"]) == 3
    assert meta["applied_batches"] == ["b1", "b2"]
    _check_meta(spark, path, meta, "docs", "segments", "n_docs", 35)

    r = run("autocompact", lambda: mi.append_minhash_index(
        spark, path, _docs(spark, range(35, 40)), batch_id="b3", max_segments=2))
    assert r["appended"] == 5 and r["auto_compact"]["compacted"] >= 2
    meta = mi.read_minhash_meta(path)
    assert len(meta["segments"]) <= 2 and "seg-build" in meta["segments"]
    assert meta["applied_batches"] == []
    _check_meta(spark, path, meta, "docs", "segments", "n_docs", 40)

    batch = spark.createDataFrame(
        [(100, _text(3)), (102, "x y z w v u")], "doc_id long, text string"
    )
    pairs = run("probe", lambda: {
        (r["doc_i"], r["doc_j"]): r["n_bands_matched"]
        for r in mi.probe_minhash_index(spark, path, batch).collect()
    })
    assert pairs == {(100, 3): meta["bands"]}
    run.check()


def _brute_topk(qid, ids, k):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    q = _vec(qid)
    ranked = sorted((i for i in ids if i != qid), key=lambda i: (-cos(q, _vec(i)), i))
    return ranked[:k]


def test_ivf_index_lifecycle(spark, tmp_path):
    path = str(tmp_path / "ivf")
    run = _Verbs(spark, "ivf")
    meta = run("build", lambda: ai.build_ivf_index(spark, _vectors(spark, range(24)), path, k=4))
    assert meta["id_segments"] == ["seg-build"] and meta["n_vectors"] == 24

    r = run("append", lambda: ai.append_ivf_index(
        spark, path, _vectors(spark, range(24, 32)), batch_id="b1"))
    assert r == {"appended": 8, "n_vectors": 32}
    r = run("replay", lambda: ai.append_ivf_index(
        spark, path, _vectors(spark, range(24, 32)), batch_id="b1"))
    assert r == {"appended": 0, "n_vectors": 32, "reason": "already_applied"}
    r = run("overlap", lambda: ai.append_ivf_index(
        spark, path, _vectors(spark, range(28, 36)), batch_id="b2"))
    assert r == {"appended": 4, "n_vectors": 36}
    meta = ai.read_ivf_meta(path)
    assert len(meta["id_segments"]) == 3
    assert meta["applied_batches"] == ["b1", "b2"]
    _check_meta(spark, path, meta, "ids", "id_segments", "n_vectors", 36)

    r = run("autocompact", lambda: ai.append_ivf_index(
        spark, path, _vectors(spark, range(36, 40)), batch_id="b3", max_segments=2))
    assert r["appended"] == 4 and "auto_compact" in r
    meta = ai.read_ivf_meta(path)
    assert len(meta["id_segments"]) <= 2 and "seg-build" in meta["id_segments"]
    assert meta["applied_batches"] == []
    assert meta["retired_id_segments"]
    assert {f"ids/{s}" for s in meta["retired_id_segments"]} <= set(meta["retired_ts"])
    _check_meta(spark, path, meta, "ids", "id_segments", "n_vectors", 40)
    tree = spark.read.parquet(ai._vectors_path(path, meta))
    assert tree.count() == tree.select("vec_id").distinct().count() == 40

    got = run("probe", lambda: ai.ivf_index_search(
        spark, path, _vectors(spark, [0, 7]), n_probe=4, top_k=3).collect())
    for q in (0, 7):
        ranked = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])
                  if r["query_id"] == q]
        assert ranked == _brute_topk(q, range(40), 3)
    run.check()


# ---------------------------------------------------------------------------
# every commit runs under the maintainer flock
# ---------------------------------------------------------------------------


def _lock_probe(monkeypatch, module):
    """Wrap ``module._write_meta``: each commit tries the maintainer
    flock from a fresh fd and records whether it was free."""
    seen: list = []
    real = module._write_meta

    def probe(path, meta):
        fd = os.open(os.path.join(path, "_maintainer.guard"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            seen.append("free")
        except BlockingIOError:
            seen.append("held")
        finally:
            os.close(fd)
        real(path, meta)

    monkeypatch.setattr(module, "_write_meta", probe)
    return seen


def test_every_index_commit_holds_the_maintainer_flock(spark, tmp_path, monkeypatch):
    seen = {}

    path = str(tmp_path / "sh")
    seen["shingle"] = s = _lock_probe(monkeypatch, si)
    si.build_shingle_index(spark, _docs(spark, range(6)), path)
    si.append_shingle_index(spark, path, _docs(spark, range(6, 9)), batch_id="b1")
    si.compact_shingle_index(spark, path)
    si.compact_shingle_index(spark, path, remove_retired=True)
    assert len(s) == 4, s

    path = str(tmp_path / "mh")
    seen["minhash"] = s = _lock_probe(monkeypatch, mi)
    mi.build_minhash_index(spark, _docs(spark, range(6)), path)
    mi.append_minhash_index(spark, path, _docs(spark, range(6, 9)), batch_id="b1")
    mi.compact_minhash_index(spark, path)
    mi.compact_minhash_index(spark, path, remove_retired=True)
    assert len(s) == 4, s

    path = str(tmp_path / "ivf")
    seen["ivf"] = s = _lock_probe(monkeypatch, ai)
    ai.build_ivf_index(spark, _vectors(spark, range(12)), path, k=2)
    real_assign = ai._assign_cells

    def torn(*a, **k):
        raise OSError("injected")

    monkeypatch.setattr(ai, "_assign_cells", torn)
    with pytest.raises(OSError, match="injected"):
        ai.append_ivf_index(spark, path, _vectors(spark, range(12, 15)), batch_id="b1")
    monkeypatch.setattr(ai, "_assign_cells", real_assign)
    # the replay repairs the torn sentinel (one commit), then appends
    r = ai.append_ivf_index(spark, path, _vectors(spark, range(12, 15)), batch_id="b1")
    assert r["appended"] == 3
    ai.compact_ivf_index(spark, path)
    ai.compact_ivf_index(spark, path, remove_retired=True)
    assert len(s) == 5, s

    assert {f: set(v) for f, v in seen.items()} == {
        "shingle": {"held"}, "minhash": {"held"}, "ivf": {"held"}
    }, seen


# ---------------------------------------------------------------------------
# import guard
# ---------------------------------------------------------------------------

_GUARDED = {"shingleindex", "minhashindex", "annindex"}


def _private_imports(pkg_dir: str) -> dict:
    """{file: [(line, module, name)]} — underscore names imported from an
    index module or from ``pipeline/`` by the modules in ``pkg_dir``."""
    out: dict = {}
    for fn in sorted(glob.glob(os.path.join(pkg_dir, "*.py"))):
        with open(fn) as fh:
            tree = ast.parse(fh.read(), fn)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            parts = node.module.split(".")
            if node.level == 0:
                if parts[:1] != ["database_clonev2_spark"]:
                    continue
                parts = parts[1:]
            elif node.level == 1:
                parts = ["extensions"] + parts
            guarded = (parts[:1] == ["extensions"] and parts[1:2] and parts[1] in _GUARDED) or (
                parts[:1] == ["pipeline"]
            )
            if not guarded:
                continue
            for alias in node.names:
                if alias.name.startswith("_"):
                    out.setdefault(os.path.basename(fn), []).append(
                        (node.lineno, node.module, alias.name)
                    )
    return out


def test_extensions_take_shared_mechanics_only_from_the_store():
    hits = _private_imports(os.path.join(ROOT, "database_clonev2_spark", "extensions"))
    assert hits == {}, (
        "shared index mechanics live in extensions/_segments.py and "
        f"_durable.py; import them from there: {hits}"
    )
