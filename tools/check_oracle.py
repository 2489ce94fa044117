"""Local differential harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted by
their canonical string form). Not byte-identical to the driver's comparator,
but strict enough that passing here predicts passing there.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

# this checkout's engine, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exactness is the goal
    if isinstance(v, Decimal):
        # NO .normalize(): scale is part of the value ("5.60" != "5.6").
        # Round 1 proved the driver's comparator is scale/type-sensitive
        # where normalize() was lenient (w_lag_lead_battery hash fail that
        # passed locally) — the local twin must be at least as strict.
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from database_clonev2_spark.session import get_spark

    spark = get_spark("oracle-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: rows-only check, {len(spark_rows)} rows  ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            duck_types = [str(t).upper() for t in rel.types]
            duck_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        sh, sn = table_hash(spark_cols, spark_rows)
        dh, dn = table_hash(duck_cols, duck_rows)
        cols_ok = sorted(spark_cols) == sorted(duck_cols)
        # HUGEINT in the OUTPUT is a driver-comparator hazard exactly like
        # Decimal (round 5: ts_cume_distinct_users / emb_drift_by_label hash
        # fails — DuckDB widens SUM(BIGINT) to int128, the driver
        # canonicalizes that differently, and Python's int flattening here
        # hid it). House rule: CAST every SUM/aggregate that DuckDB would
        # widen back to BIGINT. Type metadata catches this even when every
        # sampled value happens to fit.
        for i, t in enumerate(duck_types):
            if "HUGEINT" in t:
                print(
                    f"WARN  {name}: duck column {duck_cols[i]!r} types {t}"
                    " — CAST the aggregate to BIGINT in the oracle SQL"
                )
        # Decimal in the OUTPUT is a driver-comparator hazard (round 1:
        # the only hash fail was the only Decimal-final column). House
        # rule: compute in decimal, ship as double. Scan a sample of rows
        # per engine (first row alone misses a NULL-leading column, e.g. a
        # LAG delta) and warn once per (engine, column).
        for side, rows_ in (("spark", spark_rows), ("duck", duck_rows)):
            flagged: set[int] = set()
            for r in rows_[:100]:
                for i, v in enumerate(r):
                    if i not in flagged and isinstance(v, Decimal):
                        flagged.add(i)
                        print(f"WARN  {name}: {side} column {i} ships Decimal — cast final result to DOUBLE")
        if sn == dn and cols_ok and sh == dh:
            print(f"PASS  {name}: {sn} rows, hash {sh}  ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: spark({sn} rows, {sh}, cols={sorted(spark_cols)})"
                f" vs duck({dn} rows, {dh}, cols={sorted(duck_cols)})"
            )
            if sn == dn and cols_ok:
                order_s = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
                order_d = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
                ls = sorted("\x01".join(canon(r[i]) for i in order_s) for r in spark_rows)
                ld = sorted("\x01".join(canon(r[i]) for i in order_d) for r in duck_rows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark: {a[:200]}\n      duck : {b[:200]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
