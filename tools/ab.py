"""Same-session interleaved A/B timing: ``ab(a, b, reps, warm)`` times two
named callables, swapping which one runs first on every rep, so a host-noise
burst lands on both sides instead of on one side's back-to-back repeats.
Code-variant A/Bs call it with two closures.

Run as a script, it A/Bs registered queries under two values of one Spark
conf: each run clears the sketch caches, builds the query through
``queries()`` and forces it into the ``noop`` sink. One JSON line per query:

    python tools/ab.py <conf> <value_a> <value_b> <query>... [--reps 4] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from pathlib import Path
from time import perf_counter


def ab(a, b, reps: int = 4, warm: int = 1) -> dict:
    """``a``/``b`` are ``(name, fn)`` pairs. Runs ``warm + reps`` rounds of
    both callables, ``a`` first on even rounds and ``b`` first on odd ones,
    and returns ``{name: {"samples", "min", "median"}}`` in seconds over the
    ``reps`` timed rounds (warm rounds run but are not recorded)."""
    if a[0] == b[0]:
        raise ValueError(f"both sides are named {a[0]!r}")
    if reps < 1 or warm < 0:
        raise ValueError("need reps >= 1 and warm >= 0")
    samples: dict[str, list[float]] = {a[0]: [], b[0]: []}
    for rnd in range(warm + reps):
        for name, fn in (a, b) if rnd % 2 == 0 else (b, a):
            t0 = perf_counter()
            fn()
            dt = perf_counter() - t0
            if rnd >= warm:
                samples[name].append(dt)
    return {
        name: {"samples": ts, "min": min(ts), "median": statistics.median(ts)}
        for name, ts in samples.items()
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="A/B queries under two values of one Spark conf")
    p.add_argument("conf")
    p.add_argument("value_a")
    p.add_argument("value_b")
    p.add_argument("queries", nargs="+")
    p.add_argument("--reps", type=int, default=4)
    p.add_argument("--warm", type=int, default=1)
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = p.parse_args(argv)
    if not args.sf:
        p.error("pass --sf or set $SPARK_GRAFT_SF_DIR")

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry
    from database_clonev2_spark._cache import clear_caches
    from database_clonev2_spark.session import get_spark

    spark = get_spark("ab")
    qs = entry.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        p.error(f"not registered: {', '.join(unknown)}")
    orig = spark.conf.get(args.conf, None)

    def side(q: str, value: str):
        def run() -> None:
            spark.conf.set(args.conf, value)
            try:
                clear_caches("sketch")
                qs[q](spark, args.sf).write.format("noop").mode("overwrite").save()
            finally:
                if orig is None:
                    spark.conf.unset(args.conf)
                else:
                    spark.conf.set(args.conf, orig)

        return run

    va, vb = args.value_a, args.value_b
    try:
        for q in args.queries:
            res = ab((va, side(q, va)), (vb, side(q, vb)), args.reps, args.warm)
            for r in res.values():
                r["samples"] = [round(x, 3) for x in r["samples"]]
                r["min"], r["median"] = round(r["min"], 3), round(r["median"], 3)
            print(json.dumps({"query": q, "conf": args.conf, **res}), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
