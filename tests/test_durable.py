"""Durability of on-disk state, without Spark.

- ``_durable.write_json_atomic`` leaves the old JSON or the new JSON,
  never a torn file or a ``.tmp.*`` sibling, whichever step raises;
- the bucketed-merge and join-view commits, both run by the bucketed
  store's one ``_roll_forward``, recover to exactly the pre-state or the
  post-state from a crash at every rename/replace;
- reader-side recovery never replays a manifest whose commit lock is
  held — a recoverer's, or a live writer's paused mid-commit however
  old its manifest — and rolls forward at once when the holder dies;
- every JSON state write and every rename outside ``_durable.py`` is a
  named, reasoned exception, and only ``_durable.py`` spells an
  ``epoch-`` name (AST guards).

The commit sequences are pure directory surgery, so marker files stand
in for parquet bucket dirs.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from database_clonev2_spark import _durable
from database_clonev2_spark._durable import applied_batches, write_json_atomic
from database_clonev2_spark.pipeline import _buckets as bk
from database_clonev2_spark.pipeline import joinview as jv
from database_clonev2_spark.pipeline import merge as mg
from store_lock import hold_store_lock


def _crash_on_call(real, k: int, state: dict):
    """``real`` wrapped to raise on its k-th call (1-based)."""

    def dying(*args, **kwargs):
        state["n"] += 1
        if state["n"] == k:
            raise RuntimeError("crash")
        return real(*args, **kwargs)

    return dying


# ---------------------------------------------------------------------------
# write_json_atomic
# ---------------------------------------------------------------------------

_json_values = st.recursive(
    st.none() | st.booleans() | st.integers() | st.text(max_size=20),
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(st.text(max_size=8), inner, max_size=4),
    max_leaves=12,
)


@settings(max_examples=60, deadline=None)
@given(
    old=st.none() | st.dictionaries(st.text(max_size=8), _json_values, max_size=4),
    new=st.dictionaries(st.text(max_size=8), _json_values, max_size=4),
    step=st.sampled_from(["tmp_write", "fsync", "replace", "dir_fsync"]),
)
def test_write_json_atomic_never_tears(old, new, step):
    d = tempfile.mkdtemp()
    try:
        path = os.path.join(d, "_state.json")
        if old is not None:
            write_json_atomic(path, old)
        real_dump, real_fsync, real_replace = json.dump, os.fsync, os.replace
        state = {"n": 0}

        def torn_dump(obj, fh):
            text = json.dumps(obj)
            fh.write(text[: len(text) // 2])
            raise OSError("ENOSPC mid-write")

        patches = {
            "tmp_write": mock.patch.object(_durable.json, "dump", torn_dump),
            "fsync": mock.patch.object(
                _durable.os, "fsync", _crash_on_call(real_fsync, 1, state)
            ),
            "replace": mock.patch.object(
                _durable.os, "replace", _crash_on_call(real_replace, 1, state)
            ),
            "dir_fsync": mock.patch.object(
                _durable.os, "fsync", _crash_on_call(real_fsync, 2, state)
            ),
        }
        with patches[step], pytest.raises((OSError, RuntimeError)):
            write_json_atomic(path, new)
        assert json.dump is real_dump
        if step == "dir_fsync":
            # the replace already published: the new JSON is the state
            with open(path) as fh:
                assert json.load(fh) == new
        elif old is None:
            assert not os.path.exists(path)
        else:
            with open(path) as fh:
                assert json.load(fh) == old
        assert [n for n in os.listdir(d) if ".tmp." in n] == []
    finally:
        shutil.rmtree(d)


def test_ledger_is_shared_and_bounded(tmp_path, monkeypatch):
    d = str(tmp_path)
    assert applied_batches(d) == []
    monkeypatch.setattr(_durable, "_BATCHES_KEEP", 3)
    for b in [1, 2, 2, "e-3", 4]:
        _durable.append_applied_batch(d, b)
    assert applied_batches(d) == [2, "e-3", 4]
    # merge's importable name reads the same ledger file
    assert mg.applied_batches(d) == [2, "e-3", 4]


def test_epoch_names():
    assert _durable.epoch_dir_name(7) == "epoch-7"
    assert _durable.epoch_dir_name("a/b c") == "epoch-a_b_c"
    assert _durable.epoch_number("epoch-12") == 12
    with pytest.raises(ValueError, match="numeric epoch ids"):
        _durable.epoch_number("epoch-x1")
    names = [f"epoch-{i}" for i in (0, 1, 2, 10, 11, 3, 20)]
    assert sorted(names, key=_durable.epoch_sort_key) == [
        "epoch-0", "epoch-1", "epoch-2", "epoch-3",
        "epoch-10", "epoch-11", "epoch-20",
    ]


def test_join_change_epochs_list_in_natural_order(tmp_path):
    root = str(tmp_path)
    for i in (0, 2, 10, 1):
        os.makedirs(os.path.join(root, "_changes", f"epoch-{i}"))
    assert jv.list_join_change_epochs(root) == [
        "epoch-0", "epoch-1", "epoch-2", "epoch-10",
    ]


# ---------------------------------------------------------------------------
# join view: tri-store commit
# ---------------------------------------------------------------------------

_JV_STAGED = {"left": [0, 1], "right": [2], "view": [0, 2]}
_JV_TOKEN = "tok1"


def _build_join_root(root: str) -> dict:
    shutil.rmtree(root, ignore_errors=True)
    for store in ("left", "right", "view"):
        for b in range(3):
            d = os.path.join(root, store, f"{jv.BUCKET_COL}={b}")
            os.makedirs(d)
            Path(d, "marker").write_text("old")
    for store, bs in _JV_STAGED.items():
        for b in bs:
            d = os.path.join(
                root, f".__stage_{_JV_TOKEN}", store, f"{jv.BUCKET_COL}={b}"
            )
            os.makedirs(d)
            Path(d, "marker").write_text("new")
    cd = os.path.join(root, f".__stage_{_JV_TOKEN}", "changes")
    os.makedirs(cd)
    Path(cd, "marker").write_text("delta")
    man = {
        "token": _JV_TOKEN,
        "staged": _JV_STAGED,
        "batch_id": 7,
        "change_dir": "epoch-7",
    }
    with open(os.path.join(root, "_commit.json"), "w") as fh:
        json.dump(man, fh)
    return man


def _join_snapshot(root: str) -> dict:
    return {
        (store, b): Path(
            root, store, f"{jv.BUCKET_COL}={b}", "marker"
        ).read_text()
        for store in ("left", "right", "view")
        for b in range(3)
    }


def test_join_roll_forward_recovers_from_every_crash_position(tmp_path, monkeypatch):
    """Exhaustive crash-position sweep over the tri-store commit: kill
    the shared _roll_forward at EVERY rename step over a manifest in the
    shape join views have always written, then recover; the final state
    must be identical regardless of where the crash landed."""
    ref_root = str(tmp_path / "ref")
    man = _build_join_root(ref_root)
    bk._roll_forward(ref_root, man)
    want = _join_snapshot(ref_root)
    assert want == {
        (s, b): ("new" if b in _JV_STAGED[s] else "old")
        for s in ("left", "right", "view")
        for b in range(3)
    }
    assert Path(ref_root, "_changes", "epoch-7", "marker").read_text() == "delta"
    n_renames = 1 + sum(2 * len(bs) for bs in _JV_STAGED.values())  # + change dir

    for k in range(1, n_renames + 1):
        root = str(tmp_path / f"crash{k}")
        man = _build_join_root(root)
        monkeypatch.setattr(
            bk.os, "rename", _crash_on_call(os.rename, k, {"n": 0})
        )
        try:
            bk._roll_forward(root, man)
            crashed = False
        except RuntimeError:
            crashed = True
        finally:
            monkeypatch.undo()
        # recovery = replay the same manifest
        if crashed:
            bk._roll_forward(root, man)
        assert _join_snapshot(root) == want, f"divergence after crash at rename {k}"
        assert Path(root, "_changes", "epoch-7", "marker").read_text() == "delta", k
        assert applied_batches(root) == [7], k
        assert not os.path.exists(os.path.join(root, "_commit.json")), k
        assert not os.path.exists(os.path.join(root, f".__stage_{_JV_TOKEN}")), k
        residue = [d for d in os.listdir(root) if d.startswith(".__old_")]
        assert residue == [], (k, residue)


def test_join_reader_recovery_waits_for_the_recovery_lock(tmp_path):
    """A reader replaying a dead writer's manifest while another
    recoverer holds the lock could strand that recoverer's freshly
    swapped bucket to ``.__old_`` and delete it; the reader must skip,
    leaving every bucket dir and the manifest untouched."""
    root = str(tmp_path / "jv")
    _build_join_root(root)
    cp = os.path.join(root, "_commit.json")
    manifest_before = Path(cp).read_text()
    stage = os.path.join(root, f".__stage_{_JV_TOKEN}")

    with hold_store_lock(root):
        jv.recover_pending_join_commit(root, only_if_stale=True)

        assert _join_snapshot(root) == {
            (s, b): "old" for s in ("left", "right", "view") for b in range(3)
        }
        assert Path(cp).read_text() == manifest_before
        for store, bs in _JV_STAGED.items():
            for b in bs:
                assert Path(
                    stage, store, f"{jv.BUCKET_COL}={b}", "marker"
                ).read_text() == "new"
        assert not os.path.exists(os.path.join(root, "_changes"))
        assert applied_batches(root) == []

    # once the holder is gone, the same reader call rolls forward
    jv.recover_pending_join_commit(root, only_if_stale=True)
    assert _join_snapshot(root) == {
        (s, b): ("new" if b in _JV_STAGED[s] else "old")
        for s in ("left", "right", "view")
        for b in range(3)
    }
    assert not os.path.exists(cp)
    with hold_store_lock(root):
        pass  # the reader released the lock


# ---------------------------------------------------------------------------
# bucketed merge: single-store commit
# ---------------------------------------------------------------------------

_MG_TOUCHED = [0, 2, 3]
_MG_TOKEN = "tokm"
_MG_SCHEMA = '{"type":"struct","fields":[]}'


def _build_merge_target(target: str) -> str:
    shutil.rmtree(target, ignore_errors=True)
    staging = f"{target}.__stage_{_MG_TOKEN}"
    shutil.rmtree(staging, ignore_errors=True)
    for b in range(4):
        d = os.path.join(target, f"{mg.BUCKET_COL}={b}")
        os.makedirs(d)
        Path(d, "marker").write_text("old")
    with open(os.path.join(target, "_merge_buckets.json"), "w") as fh:
        json.dump({"n_buckets": 4, "key_cols": ["k"]}, fh)
    for b in _MG_TOUCHED:
        d = os.path.join(staging, f"{mg.BUCKET_COL}={b}")
        os.makedirs(d)
        Path(d, "marker").write_text("new")
    cd = os.path.join(staging, "__changes")
    os.makedirs(cd)
    Path(cd, "marker").write_text("delta")
    return staging


def _merge_state(target: str) -> dict:
    """Everything a commit may change: bucket contents, the change feed,
    the ledger, the meta sidecar, and any manifest/staging/strand/tmp
    residue next to or inside the target."""
    parent, base = os.path.split(target)
    changes = os.path.join(target, "_changes")
    return {
        "buckets": {
            b: Path(target, f"{mg.BUCKET_COL}={b}", "marker").read_text()
            for b in range(4)
        },
        "changes": sorted(os.listdir(changes)) if os.path.isdir(changes) else [],
        "ledger": applied_batches(target),
        "meta": json.loads(Path(target, "_merge_buckets.json").read_text()),
        "residue": sorted(
            n
            for n in os.listdir(parent)
            if n.startswith(base + ".")
        )
        + sorted(
            n
            for n in os.listdir(target)
            if n == "_commit.json" or ".tmp" in n
        ),
    }


def _commit(target: str, staging: str) -> None:
    bk.commit_staged_buckets(
        target,
        _MG_TOKEN,
        staging,
        _MG_TOUCHED,
        batch_id=5,
        schema_json=_MG_SCHEMA,
        change_dir="epoch-5",
    )


def _count_calls(target: str, staging: str, monkeypatch) -> dict:
    counts = {"rename": 0, "replace": 0}
    for name in counts:
        real = getattr(os, name)

        def counting(*a, _name=name, _real=real, **kw):
            counts[_name] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(bk.os, name, counting)
    _commit(target, staging)
    monkeypatch.undo()
    return counts


def test_merge_commit_recovers_from_every_crash_position(tmp_path, monkeypatch):
    """Exhaustive crash-position sweep over the single-store merge
    commit (the tri-store sibling is swept above): kill
    commit_staged_buckets at EVERY os.rename (bucket swaps, change-dir
    publish) and EVERY os.replace (manifest publish, ledger append, meta
    write), recover via recover_pending_commit, and require exactly the
    pre-state or the post-state."""
    pre_target = str(tmp_path / "pre.parquet")
    _build_merge_target(pre_target)
    shutil.rmtree(f"{pre_target}.__stage_{_MG_TOKEN}")
    pre = _merge_state(pre_target)

    ref = str(tmp_path / "ref.parquet")
    counts = _count_calls(ref, _build_merge_target(ref), monkeypatch)
    post = _merge_state(ref)
    assert post["buckets"] == {0: "new", 1: "old", 2: "new", 3: "new"}
    assert post["changes"] == ["epoch-5"]
    assert post["ledger"] == [5]
    assert post["meta"]["schema_json"] == _MG_SCHEMA
    assert post["residue"] == []
    # 3 swaps × 2 renames + the change dir; manifest + ledger + meta
    assert counts == {"rename": 2 * len(_MG_TOUCHED) + 1, "replace": 3}

    for name, n in counts.items():
        for k in range(1, n + 1):
            target = str(tmp_path / f"crash_{name}{k}.parquet")
            staging = _build_merge_target(target)
            monkeypatch.setattr(
                bk.os, name, _crash_on_call(getattr(os, name), k, {"n": 0})
            )
            try:
                with pytest.raises(RuntimeError, match="crash"):
                    _commit(target, staging)
            finally:
                monkeypatch.undo()
            mg.recover_pending_commit(target)
            got = _merge_state(target)
            # the manifest publish is the commit point: a crash at it
            # leaves nothing committed, a crash after it rolls forward
            want = pre if (name, k) == ("replace", 1) else post
            assert got == want, (name, k, got)
            assert Path(
                target, "_changes", "epoch-5", "marker"
            ).exists() == (want is post), (name, k)


# ---------------------------------------------------------------------------
# commit lock: held by the writer, freed by the kernel when it dies
# ---------------------------------------------------------------------------


def test_paused_live_writer_is_never_raced(tmp_path, monkeypatch):
    """A live writer paused mid-commit (SIGSTOP, a VM suspend, an NFS
    stall) keeps its store: a reader finding its manifest, however old,
    leaves it alone, and the writer's commit lands whole when it
    resumes. Judged by pid and manifest age, the reader would roll the
    commit forward itself, and the writer's own rename would then move
    the reader's freshly swapped bucket to ``.__old_`` and delete it."""
    target = str(tmp_path / "t.parquet")
    staging = f"{target}.__stage_tokp"
    for b in range(2):
        d = os.path.join(target, f"{mg.BUCKET_COL}={b}")
        os.makedirs(d)
        Path(d, "marker").write_text("old")
    Path(target, "_merge_buckets.json").write_text(
        json.dumps({"n_buckets": 2, "key_cols": ["k"]})
    )
    os.makedirs(os.path.join(staging, f"{mg.BUCKET_COL}=0"))
    Path(staging, f"{mg.BUCKET_COL}=0", "marker").write_text("new")

    paused, resume, errors = threading.Event(), threading.Event(), []
    real_rename = os.rename

    def rename(src, dst):
        if threading.current_thread() is writer and not paused.is_set():
            paused.set()
            resume.wait(60)
        return real_rename(src, dst)

    def commit():
        try:
            bk.commit_staged_buckets(target, "tokp", staging, [0], batch_id=9)
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    monkeypatch.setattr(bk.os, "rename", rename)
    writer = threading.Thread(target=commit)
    writer.start()
    try:
        assert paused.wait(30), "writer never reached its first rename"
        cp = os.path.join(target, "_commit.json")
        # backdate every clock a staleness judge could read
        man = json.loads(Path(cp).read_text())
        man["wall_ts"] = time.time() - 7200
        Path(cp).write_text(json.dumps(man))
        os.utime(cp, (time.time() - 7200,) * 2)

        assert bk.recover_pending(target, only_if_stale=True) is None
        assert os.path.exists(cp)
    finally:
        resume.set()
        writer.join(60)
    monkeypatch.undo()
    assert errors == []
    assert Path(target, f"{mg.BUCKET_COL}=0", "marker").read_text() == "new"
    assert Path(target, f"{mg.BUCKET_COL}=1", "marker").read_text() == "old"
    assert applied_batches(target) == [9]
    assert not os.path.exists(os.path.join(target, "_commit.json"))


def test_killed_lock_holder_frees_the_store(tmp_path):
    """The kernel drops a dead holder's lock: a crashed commit whose
    lock holder was SIGKILLed is rolled forward by the next reader at
    once, with no pid or age in the manifest to judge."""
    target = str(tmp_path / "t.parquet")
    staging = _build_merge_target(target)
    bk._write_commit_manifest(
        target, _MG_TOKEN, staging, _MG_TOUCHED,
        batch_id=5, schema_json=_MG_SCHEMA, change_dir="epoch-5",
    )
    holder = subprocess.Popen(
        [
            sys.executable, "-c",
            "import sys, time\n"
            "from database_clonev2_spark.pipeline import _buckets as bk\n"
            "with bk._commit_lock(sys.argv[1], reader=False):\n"
            "    print('held', flush=True)\n"
            "    time.sleep(600)\n",
            target,
        ],
        cwd=str(_PKG.parent),
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        assert bk.recover_pending(target, only_if_stale=True) is None
    finally:
        holder.send_signal(signal.SIGKILL)
        holder.wait()
        holder.stdout.close()

    rep = bk.recover_pending(target, only_if_stale=True)
    assert rep == {"token": _MG_TOKEN, "rolled_forward_buckets": len(_MG_TOUCHED)}
    state = _merge_state(target)
    assert state["buckets"] == {0: "new", 1: "old", 2: "new", 3: "new"}
    assert state["changes"] == ["epoch-5"] and state["ledger"] == [5]
    assert state["residue"] == []


# ---------------------------------------------------------------------------
# guard: one commit module
# ---------------------------------------------------------------------------

_PKG = Path(__file__).resolve().parent.parent / "database_clonev2_spark"

_RENAME = {"os.rename"}
_CREATION = "staging → target creation commit: one directory rename publishes data, meta and ledger together"
_LEASE = "quiesce lease: renamed inside _quiesce_fenced after its check; a sweepable lease, not recoverable state"
#: (module, function) → (calls it may make outside ``_durable.py``, why).
#: Directory renames are not JSON state; only the two quiesce-lease
#: writers may json.dump, because their rename must happen inside the
#: fence.
ALLOWED = {
    ("pipeline/_buckets.py", "swap_write"): (_RENAME, "flat-layout directory swap"),
    ("pipeline/merge.py", "rebucket_target"): (_RENAME, "whole-layout directory swap"),
    ("pipeline/_buckets.py", "_roll_forward"): (_RENAME, "manifest-guarded bucket-dir swaps and change-dir publish, for one store or named stores"),
    ("pipeline/_buckets.py", "create_store"): (_RENAME, _CREATION),
    ("pipeline/_buckets.py", "request_quiesce"): ({"json.dump", "os.rename"}, _LEASE),
    ("pipeline/_buckets.py", "_refresh_quiesce_marker"): ({"json.dump", "os.replace"}, _LEASE),
}


def _state_writes() -> dict:
    """(module, innermost function) → {call: [lines]} for every
    json.dump, os.rename and os.replace call in the package outside
    _durable.py."""
    hits: dict = {}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "_durable.py":
            continue

        def visit(node, func):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name)
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and isinstance(child.func.value, ast.Name)
                    and (child.func.value.id, child.func.attr)
                    in {("json", "dump"), ("os", "rename"), ("os", "replace")}
                ):
                    call = f"{child.func.value.id}.{child.func.attr}"
                    hits.setdefault((rel, func), {}).setdefault(call, []).append(
                        child.lineno
                    )
                visit(child, func)

        visit(ast.parse(path.read_text()), "<module>")
    return hits


def test_state_writes_go_through_durable():
    hits = _state_writes()
    stray = {
        k: {c: lines for c, lines in calls.items() if c not in ALLOWED.get(k, ((),))[0]}
        for k, calls in hits.items()
    }
    stray = {k: v for k, v in stray.items() if v}
    assert stray == {}, (
        "write JSON state with _durable.write_json_atomic; a directory "
        f"swap needs a named entry in ALLOWED: {stray}"
    )
    stale = sorted(set(ALLOWED) - set(hits))
    assert stale == [], f"allowlisted functions no longer rename: {stale}"


def test_epoch_names_come_from_durable():
    """Only ``_durable.epoch_dir_name`` spells an ``epoch-<id>`` name: an
    f-string building one elsewhere skips its sanitising and drifts from
    the name every feed reader parses."""
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == "_durable.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.JoinedStr)
                and node.values
                and isinstance(node.values[0], ast.Constant)
                and str(node.values[0].value).startswith("epoch-")
            ):
                hits.append(f"{rel}:{node.lineno}")
    assert hits == [], f"build epoch names with _durable.epoch_dir_name: {hits}"
