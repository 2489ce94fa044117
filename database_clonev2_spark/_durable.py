"""How on-disk state reaches disk — the ONE commit module for every JSON
state file the pipelines and index extensions keep: commit manifests,
applied-batch ledgers, bucket/join/index metadata and high-water
sidecars, plus the ``epoch-<id>`` naming rule of the change feeds and
the one advisory-lock guard (``flock_guard``) their writers serialize on.

Why the fsync: an atomic same-dir rename is each state file's commit
point, and on ext4/xfs a rename can become durable before the file's
bytes — a power loss would then leave a truncated manifest, the one
file every reader depends on. So the bytes are fsync'd before the
rename, and the parent directory after it (the rename itself is a
directory-entry change that needs its own flush to survive power loss).

FILESYSTEM CONTRACT for the whole commit protocol: it assumes POSIX
single-filesystem semantics — atomic ``os.rename``/``os.replace`` within
the parent directory (commit swaps, manifest publish) and advisory
``fcntl.flock``: the bucketed store's commit lock, which its writer and
every recoverer hold (``pipeline._buckets._commit_lock``), and
``flock_guard`` (the quiesce fence and the index maintainers' guard).
No lock is an ``O_CREAT|O_EXCL`` file: a flock dies with its holder, so
no lock needs an abandonment judge. Local filesystems and NFSv4 provide
both. HDFS provides atomic rename but no flock: bucketed-store writers
raise there and readers skip recovery. Object stores provide neither;
they need a lakehouse table format or a lease service instead.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from contextlib import contextmanager

_BATCHES_FILE = "_applied_batches.json"
_BATCHES_KEEP = 10_000  # replay-dedup horizon (foreachBatch epochs retained)


def write_json_atomic(path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path``: a reader (or a crash) sees
    the old file or the new one, never a torn one. The tmp name is
    unique, so two writers never share a half-written sibling, and it is
    removed if any step raises."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        tmp = None
        dfd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    finally:
        if tmp is not None:
            try:
                os.remove(tmp)
            except OSError:
                pass


@contextmanager
def flock_guard(guard_path: str):
    """Best-effort exclusive flock on a never-unlinked sidecar guard
    file — the ONE implementation of the open/flock-or-degrade/close
    pattern shared by the bucketed store's quiesce fence and the index
    maintainers' guard (round-10 review catch: hand-rolled copies of
    the degrade-on-flockless-FS policy). Yields ``'locked'`` (critical
    section held), ``'nolock'`` (filesystem without advisory locks —
    proceed best-effort, the callers' documented degraded contract), or
    ``'noopen'`` (guard unreachable — callers choose walk-away vs
    proceed). Not re-entrant: a second open + flock of the same guard in
    one process blocks."""
    import fcntl

    try:
        fd = os.open(guard_path, os.O_CREAT | os.O_RDWR)
    except OSError:
        yield "noopen"
        return
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
        except OSError:
            yield "nolock"
            return
        yield "locked"
    finally:
        os.close(fd)


def applied_batches(dir_path: str) -> list:
    """Batch ids already committed into the store at ``dir_path`` (most
    recent last; bounded to the last _BATCHES_KEEP) — the replay-dedup
    ledger every exactly-once sink shares."""
    p = os.path.join(dir_path, _BATCHES_FILE)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return json.load(fh)["batch_ids"]


def append_applied_batch(dir_path: str, batch_id) -> None:
    ids = applied_batches(dir_path)
    if batch_id in ids:
        return
    ids.append(batch_id)
    write_json_atomic(
        os.path.join(dir_path, _BATCHES_FILE), {"batch_ids": ids[-_BATCHES_KEEP:]}
    )


def epoch_dir_name(batch_id) -> str:
    """Filesystem-safe change-epoch dir name: ``epoch-<id>`` with every
    character outside ``[A-Za-z0-9-_.]`` replaced by ``_``."""
    safe = "".join(
        ch if ch.isalnum() or ch in "-_." else "_" for ch in str(batch_id)
    )
    return f"epoch-{safe}"


def epoch_number(name: str) -> int:
    """The numeric id of ``epoch-<n>``. Ordered consumers (SCD-2 validity
    ranges, the join view's upsert versioning) compare epochs, so only
    numeric ids are foldable there; a non-numeric id raises rather than
    producing versions that cannot be ordered."""
    suffix = name.split("epoch-", 1)[-1]
    if not suffix.isdigit():
        raise ValueError(
            f"ordered folds need numeric epoch ids (got {name!r}): "
            "versions and validity ranges are ordered by epoch"
        )
    return int(suffix)


def epoch_sort_key(name: str):
    """Natural-order key for epoch dir names: digit runs compare as
    integers, so epoch-10 sorts AFTER epoch-2 (lexicographic order put
    it before, which silently misordered sequential application past 9
    epochs — folds commute, but replica application does not)."""
    # tag each run so int/str never compare directly (mixed-form ids)
    return [
        (0, int(part)) if part.isdigit() else (1, part)
        for part in re.split(r"(\d+)", name)
    ]
