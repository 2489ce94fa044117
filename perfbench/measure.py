"""Measurement from outside the engine: spans around engine entry points,
Spark event-log attribution, and ``/proc`` process accounting.

Nothing here edits engine code. ``Tracer.install`` rebinds the public entry
points of ``io``, ``pipeline.clone``, ``pipeline.ddl``, ``pipeline.merge``
and ``extensions.shingleindex`` to timing wrappers in every loaded engine
module (so ``from ..io import load`` call sites are covered too) and
``uninstall`` puts the originals back. The benchmark's own op/build/exec
framing goes through ``Tracer.span``, which is a no-op when tracing is off.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

# (module, function, span layer) — the engine entry points wrapped in a
# traced run. Inner calls of an already-open span of the same layer are not
# re-counted (``load_spread`` calls ``load``).
ENTRY_POINTS = [
    ("database_clonev2_spark.io", "load", "io"),
    ("database_clonev2_spark.io", "load_spread", "io"),
    ("database_clonev2_spark.pipeline.clone", "clone_database", "clone.database"),
    ("database_clonev2_spark.pipeline.clone", "clone_table", "clone.table"),
    ("database_clonev2_spark.pipeline.clone", "validate_database", "clone.validate"),
    ("database_clonev2_spark.pipeline.ddl", "generate_statements", "ddl.generate"),
    ("database_clonev2_spark.pipeline.merge", "merge_upsert_bucketed", "merge.upsert"),
    ("database_clonev2_spark.pipeline.merge", "merge_delete_bucketed", "merge.delete"),
    ("database_clonev2_spark.pipeline.merge", "sync_replica_from_changes", "merge.sync_replica"),
    ("database_clonev2_spark.pipeline.merge", "verify_replica", "merge.verify"),
    ("database_clonev2_spark.extensions.shingleindex", "build_shingle_index", "shingleindex.build"),
    ("database_clonev2_spark.extensions.shingleindex", "probe_shingle_index", "shingleindex.probe"),
    ("database_clonev2_spark.extensions.shingleindex", "append_shingle_index", "shingleindex.append"),
]


class Tracer:
    """Collects spans ``(layer, name, t0, t1)`` in memory while enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, str, float, float]] = []
        self._open = threading.local()  # per-thread open depth per layer
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield
            return
        depth = getattr(self._open, layer, 0)
        setattr(self._open, layer, depth + 1)
        t0 = time.time()
        try:
            yield
        finally:
            setattr(self._open, layer, depth)
            if depth == 0:
                self.spans.append((layer, name, t0, time.time()))

    @contextlib.contextmanager
    def op(self, name: str):
        """An op span; tags the op's Spark jobs with a job group."""
        if self.enabled and self._sc is not None:
            self._sc.setJobGroup(f"perfbench:{name}", name)
        with self.span("op", name):
            yield

    def install(self, spark) -> None:
        self._sc = spark.sparkContext
        for mod_name, fn_name, layer in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, layer)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("database_clonev2_spark"):
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)
                            self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return wrapper


def covered(spans: list[tuple], inner: str, outer: str | None = None) -> float:
    """Wall time covered by ``inner`` spans, clipped to ``outer`` spans if
    given. Concurrent spans (parallel loads in a thread pool) count once."""
    ivs = [(t0, t1) for layer, _n, t0, t1 in spans if layer == inner]
    if outer is not None:
        outs = [(t0, t1) for layer, _n, t0, t1 in spans if layer == outer]
        ivs = [(max(a, c), min(z, d)) for a, z in ivs for c, d in outs if max(a, c) < min(z, d)]
    total, end = 0.0, float("-inf")
    for a, z in sorted(ivs):
        if z > end:
            total += z - max(a, end)
            end = z
    return total


# --- Spark event log -------------------------------------------------------


def parse_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs ``{id, t, stages}`` and per-stage totals from an uncompressed
    Spark event log directory (single file or rolling ``eventlog_v2_*``)."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "ran": False, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0,
        })

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "t": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    })
                elif kind == "SparkListenerStageCompleted":
                    stage(ev["Stage Info"]["Stage ID"])["ran"] = True
                elif kind == "SparkListenerTaskEnd":
                    s = stage(ev["Stage ID"])
                    s["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        s["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def attribute_jobs(jobs: list[dict], spans: list[tuple]) -> dict[int, str]:
    """Job id -> layer of the innermost span open when the job was
    submitted (one client, so submission time identifies the caller)."""
    out = {}
    for j in jobs:
        best = None
        for layer, _name, t0, t1 in spans:
            if t0 <= j["t"] <= t1 and (best is None or t1 - t0 < best[1] - best[0]):
                best = (t0, t1, layer)
        out[j["id"]] = best[2] if best else "outside"
    return out


# --- /proc accounting -------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the Python driver, the JVM, and the JVM's Python
    workers (live ones plus those their parent already reaped)."""
    def own(pid, reaped=False):
        st = _stat(pid)
        if st is None:
            return 0.0
        ticks = int(st[11]) + int(st[12])
        if reaped:
            ticks += int(st[13]) + int(st[14])
        return ticks / CLK_TCK

    return {
        "driver": own(os.getpid()),
        "jvm": own(jvm_pid),
        "pyworker": sum(own(p, reaped=True) for p in descendants(jvm_pid)),
    }


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)
