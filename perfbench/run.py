"""Repo benchmark: one seeded workload per run, in one process, on one
``get_spark()`` session at ``local[nproc]``, as a closed loop with one client.

    python3 perfbench/run.py --workload clone_sync --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout (Spark's local, warehouse and temp
dirs too) and removed at exit. The last stdout line is one JSON object
``{correct, attempted, failed, metrics}``: with ``--trace 0`` every
``end_to_end`` metric of ``BENCHMARK.json``, with ``--trace 1`` every
``per_layer`` metric. ``--smoke`` runs on tiny inputs with one set-up, for
``perfbench/test_smoke.py``. ``METRICS.md`` defines each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5
# A fixed, pre-touched driver heap (-Xms = -Xmx, AlwaysPreTouch): a growing
# G1 heap made peak RSS swing between 1.2 and 1.8 GB from run to run with
# the host's speed. Heap pressure still shows in GC time and latency.
DRIVER_MEM = "1g"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.1f}s {msg}", file=sys.stderr, flush=True)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """The harness a workload drives: the session, timed ops, deferred
    output checks and the records the per-layer metrics are built from."""

    def __init__(self, args, work: str, cpus: int):
        from measure import Tracer

        self.seed = args.seed
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(False)
        self.spark = None
        self.jvm_pid = 0
        self.ops: list[tuple[str, float]] = []
        self.checks: list = []
        self.raised = 0
        self.layer: dict[str, list] = defaultdict(list)
        self.n_out = 0

    # --- ops and checks ---------------------------------------------------

    def timed(self, name: str, fn):
        with self.tracer.op(name):
            t0 = time.perf_counter()
            res = fn()
            self.ops.append((name, time.perf_counter() - t0))
        return res

    def defer(self, fn, *args) -> None:
        self.checks.append((fn, args))

    def run_checks(self) -> int:
        """Run the deferred output checks; return how many failed."""
        from workloads import CheckFailed

        bad = 0
        for fn, args in self.checks:
            try:
                fn(*args)
            except CheckFailed as exc:
                log(f"check failed: {exc}")
                bad += 1
            except Exception:  # noqa: BLE001 - a check that errors is a failed check
                traceback.print_exc()
                bad += 1
        self.checks.clear()
        return bad

    def force_query(self, name, fn, data_dir, check) -> None:
        """One op: build the registered query, then force it by writing its
        output as parquet; ``check(out_path)`` runs after the timed window."""
        self.n_out += 1
        out = os.path.join(self.work, "out", f"{self.n_out}_{name}")

        def op():
            with self.tracer.span("build", name):
                df = fn(self.spark, data_dir)
            with self.tracer.span("exec", name):
                df.write.mode("overwrite").parquet(out)

        self.timed(name, op)

        def verify():
            try:
                check(out)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        self.defer(verify)

    def record_clone(self, res, dest: str) -> None:
        from measure import dir_bytes

        self.layer["clone.rows"].append(sum(res.copied.values()))
        self.layer["clone.bytes_written"].append(dir_bytes(dest))

    def record_merge(self, stats: dict, changed: int, written: int, user_bytes: float) -> None:
        self.layer["merge.touched_bucket_ratio"].append(stats["touched_buckets"] / stats["n_buckets"])
        self.layer["merge.rewritten"].append(stats["after_touched"])
        self.layer["merge.changed"].append(changed)
        self.layer["merge.written"].append(written)
        self.layer["merge.user_bytes"].append(user_bytes)

    # --- session ----------------------------------------------------------

    def start_session(self, extra: dict | None = None):
        from database_clonev2_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work} "
                f"-XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            **(extra or {}),
        }
        self.stop_session()
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]", extra_conf=conf)
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def stop_session(self) -> None:
        """Stop the session; the JVM stays up for the next one."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            spark.stop()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit (its
        Python workers are ended by ``end_children``)."""
        from pyspark import SparkContext

        gateway, SparkContext._gateway = SparkContext._gateway, None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            self.stop_session()
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (the JVM's
    Python worker daemon outlives the JVM and runs in its own process
    group), so ``end_children`` can find every process the run started."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def end_children(grace: float = 10.0) -> None:
    """Ask every descendant of this process to exit, kill those still there
    after ``grace`` seconds, and wait until all have ended and been reaped."""
    from measure import descendants

    me = os.getpid()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    give_up = deadline + 30.0  # only a process stuck in the kernel outlives SIGKILL
    signalled: set[int] = set()
    while time.monotonic() < give_up:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = descendants(me)
        if not kids:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig = signal.SIGKILL
            signalled.clear()
        for pid in kids:
            if pid not in signalled:
                signalled.add(pid)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def timed_phase(b: Bench, wl, seconds: float) -> dict:
    """Whole passes, as many as fill ``seconds`` at the workload's nominal
    pass length, at least one (so the op mix is the same on every run),
    then the workload's closing op. Returns the phase's ops, wall time and
    CPU seconds, and the peak RSS so far (before the output checks run)."""
    from measure import cpu_seconds, peak_rss_mb

    first = len(b.ops)
    cpu0 = cpu_seconds(b.jvm_pid)
    t0 = time.perf_counter()
    try:
        for _ in range(max(1, round(seconds / wl.PASS_S))):
            wl.run_pass()
        wl.finish()
    except Exception:  # noqa: BLE001 - a raising op fails the run, not the report
        traceback.print_exc()
        b.raised += 1
    elapsed = time.perf_counter() - t0
    cpu1 = cpu_seconds(b.jvm_pid)
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    jvm_rss, driver_rss = peak_rss_mb(b.jvm_pid), peak_rss_mb(os.getpid())
    log(f"peak rss: jvm {jvm_rss:.0f} MB, driver {driver_rss:.0f} MB")
    return {"ops": b.ops[first:], "elapsed": elapsed, "cpu": cpu, "peak_rss_mb": jvm_rss + driver_rss}


def tail(durations: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest duration (the max, read as percentile 100, when there are
    ten samples or fewer). Returns (value, percentile, samples)."""
    d = sorted(durations)
    n = len(d)
    if n <= 10:
        return d[-1], 100.0, n
    return d[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(phase: dict, setups: list[float]) -> dict:
    durs = [d for _n, d in phase["ops"]]
    n = len(durs)
    return {
        "setup_s": median(setups),
        "ops_per_s": n / phase["elapsed"],
        "op_p50_s": median(durs),
        "cpu_s_per_op": sum(phase["cpu"].values()) / n,
        "peak_rss_mb": phase["peak_rss_mb"],
    }


def per_layer(b: Bench, traced: dict, untraced: dict, log_dir: str) -> dict:
    from measure import attribute_jobs, covered, parse_event_log

    spans = b.tracer.spans
    n = len(traced["ops"])
    by_layer: dict[str, list[float]] = defaultdict(list)
    for layer, _name, t0, t1 in spans:
        by_layer[layer].append(t1 - t0)

    jobs, stages = parse_event_log(log_dir)
    owner = attribute_jobs(jobs, spans)
    op_jobs = [j for j in jobs if owner[j["id"]] != "outside"]
    seen: set[int] = set()
    totals: dict[str, float] = defaultdict(float)
    for j in op_jobs:
        for sid in j["stages"]:
            s = stages.get(sid)
            if sid in seen or s is None or not s["ran"]:
                continue
            seen.add(sid)
            totals["stages"] += 1
            for k in ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                      "shuffle_read", "shuffle_write", "spill"):
                totals[k] += s[k]

    L = b.layer
    changed = sum(L["merge.changed"]) or 1
    clone_ops = [d for name, d in traced["ops"] if name == "clone_database"]
    m = {
        "io.load_s": covered(spans, "io") / n,
        "io.load_calls": len(by_layer["io"]) / n,
        "io.load_jobs": sum(1 for j in op_jobs if owner[j["id"]] == "io") / n,
        "build.self_s": (sum(by_layer["build"]) - covered(spans, "io", "build")) / n,
        "build.jobs": sum(1 for j in op_jobs if owner[j["id"]] == "build") / n,
        "exec.run_s": sum(by_layer["exec"]) / n,
        "spark.jobs": len(op_jobs) / n,
        "spark.stages": totals["stages"] / n,
        "spark.tasks": totals["tasks"] / n,
        "spark.failed_tasks": totals["failed_tasks"] / n,
        "executor.run_s": totals["run_s"] / n,
        "executor.cpu_s": totals["cpu_s"] / n,
        "executor.gc_s": totals["gc_s"] / n,
        "shuffle.read_bytes": totals["shuffle_read"] / n,
        "shuffle.write_bytes": totals["shuffle_write"] / n,
        "spill.bytes": totals["spill"] / n,
        "pyworker.cpu_s": traced["cpu"]["pyworker"] / n,
        "clone.table_s_p50": median(by_layer["clone.table"]),
        "clone.table_s_max": max(by_layer["clone.table"], default=0.0),
        "clone.bytes_written": median(L["clone.bytes_written"]),
        "clone.validate_s": median(by_layer["clone.validate"]),
        "clone.rows_per_s": median([r / d for r, d in zip(L["clone.rows"], clone_ops)]),
        "ddl.generate_s": median(by_layer["ddl.generate"]),
        "merge.upsert_s": median(by_layer["merge.upsert"]),
        "merge.delete_s": median(by_layer["merge.delete"]),
        "merge.sync_replica_s": median(by_layer["merge.sync_replica"]),
        "merge.verify_s": median(by_layer["merge.verify"]),
        "merge.touched_bucket_ratio": median(L["merge.touched_bucket_ratio"]),
        "merge.rows_rewritten_per_row_changed": sum(L["merge.rewritten"]) / changed,
        "merge.bytes_written_per_user_byte": (
            sum(L["merge.written"]) / (sum(L["merge.user_bytes"]) or 1)),
        "merge.target_files": median(L["merge.target_files"]),
        "merge.space_amp": median(L["merge.space_amp"]),
        "shingleindex.build_s": median(by_layer["shingleindex.build"]),
        "shingleindex.probe_s": median(by_layer["shingleindex.probe"]),
        "shingleindex.append_s": median(by_layer["shingleindex.append"]),
        "shingleindex.segments": median(L["shingleindex.segments"]),
        "shingleindex.bytes_per_doc": median(L["shingleindex.bytes_per_doc"]),
        "trace.ops_per_s": n / traced["elapsed"],
        "trace.untraced_ops_per_s": len(untraced["ops"]) / untraced["elapsed"],
    }
    m["trace.overhead_ratio"] = m["trace.untraced_ops_per_s"] / m["trace.ops_per_s"] - 1.0
    m["op_tail.s"], m["op_tail.percentile"], m["op_tail.samples"] = tail(
        [d for _n, d in untraced["ops"]])
    per_op: dict[str, list[float]] = defaultdict(list)
    for name, d in traced["ops"]:
        per_op[name].append(d)
    for name, ds in per_op.items():
        m[f"op.{name}_s"] = median(ds)
    return m


def host_facts(args, cpus: int, env_cpus: str | None, inputs: dict) -> dict:
    import pyspark

    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": env_cpus,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "load1_start": os.getloadavg()[0],
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "input_rows": inputs,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError as exc:
        _fail(f"run from the checkout root: {exc}")
    if not os.path.isdir(os.path.join(ROOT, "database_clonev2_spark")):
        _fail(f"no engine package under {ROOT}")
    sys.path[:0] = [HERE, os.path.join(ROOT, "tools"), ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "data", "smoke"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(TMPDIR=os.path.join(work, "tmp"), SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                      SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    os.chdir(work)
    adopt_orphans()
    # a terminated run still takes the finally below: it ends its processes
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    b = Bench(args, work, cpus)
    wl = WORKLOADS[args.workload](b)
    data_dir = os.path.join(work, "smoke" if args.smoke else "data")
    result = None
    try:
        t_in = time.perf_counter()
        inputs = wl.make_inputs(data_dir, args.smoke)
        facts = host_facts(args, cpus, env_cpus, inputs)
        facts["inputs_s"] = time.perf_counter() - t_in

        setups = []
        for _ in range(1 if args.smoke else SETUPS):
            # stopping the previous session is not set-up, and its time is
            # noise: stop() waits out a 0.5 s poll of PySpark's accumulator server
            b.stop_session()
            t0 = time.perf_counter()
            b.start_session()
            wl.setup_action(data_dir)
            setups.append(time.perf_counter() - t0)
        log(f"set-up {setups}")
        facts["java"] = b.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        facts["setup_samples_s"] = setups

        wl.start(data_dir)
        warm_ops = 0
        if args.trace and not args.smoke:
            # a discarded pass, so the untraced and traced phases both run warm
            wl.run_pass()
            warm_ops = len(b.ops)
            b.ops.clear()
        log("workload ready")
        phase = timed_phase(b, wl, args.seconds)
        log(f"timed phase done: {len(phase['ops'])} ops in {phase['elapsed']:.1f}s: "
            + " ".join(f"{n}={d:.2f}" for n, d in phase["ops"]))
        failed = b.run_checks()
        attempted = warm_ops + len(phase["ops"])
        if not args.trace:
            metrics = end_to_end(phase, setups)
            names = spec["end_to_end"]
        else:
            # the same phase again, traced, on a session with the event log on
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            b.start_session({"spark.eventLog.enabled": "true",
                             "spark.eventLog.dir": f"file://{log_dir}",
                             "spark.eventLog.compress": "false"})
            b.layer.clear()
            b.tracer.enabled = True
            b.tracer.install(b.spark)
            traced = timed_phase(b, wl, args.seconds)
            b.tracer.uninstall()
            failed += b.run_checks()
            b.tracer.enabled = False
            b.shutdown()  # flushes the event log
            metrics = per_layer(b, traced, phase, log_dir)
            log("per-layer " + json.dumps(metrics, sort_keys=True))
            attempted += len(traced["ops"])
            names = spec["per_layer"]
        failed += b.raised
        attempted += b.raised
        facts["load1_end"] = os.getloadavg()[0]
        print("perfbench-host " + json.dumps(facts, sort_keys=True))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                        for m in names},
        }
    except Exception:  # noqa: BLE001 - report the failed run, then exit non-zero
        traceback.print_exc()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            b.shutdown()
        except Exception:  # noqa: BLE001 - the processes are ended below either way
            traceback.print_exc()
        end_children()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
