"""The benchmark workloads. ``BENCHMARK.json`` lists ``clone_sync`` and
``dedup_corpus``; ``catalog_queries`` runs only when asked for by name.

Each workload makes its inputs from the seed (``make_inputs``), runs whole
passes of ops in a fixed order in a closed loop with one client
(``run_pass``), and queues one output check per op that the harness runs
after the timed window. A run is one cold pass, so a seed-shuffled order
would move the first-op costs (JIT, codegen) between ops and swing the
median op latency from seed to seed.
Checks reuse ``canon``/``table_hash`` from ``tools/check_oracle.py``.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_tables
from check_oracle import TABLES, table_hash
from gen_synth_docs import generate as generate_documents
from measure import dir_bytes


class CheckFailed(Exception):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _hash_parquet(con, path: str) -> tuple[list[str], str, int]:
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = list(rel.columns)
    h, n = table_hash(cols, rel.fetchall())
    return cols, h, n


class OracleChecker:
    """Hash-checks a query's forced output against its ``oracle_sql()``
    twin run by DuckDB on the same inputs (oracle hash computed once)."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self.con = _duck(data_dir)
        self.oracles = oracles
        self.expected: dict[str, tuple[list[str], str, int]] = {}

    def check(self, name: str, out_path: str) -> None:
        if name not in self.expected:
            rel = self.con.sql(self.oracles[name])
            cols = list(rel.columns)
            h, n = table_hash(cols, rel.fetchall())
            self.expected[name] = (sorted(cols), h, n)
        cols, h, n = _hash_parquet(self.con, out_path)
        exp_cols, exp_h, exp_n = self.expected[name]
        _require(
            (sorted(cols), h, n) == (exp_cols, exp_h, exp_n),
            f"{name}: output ({n} rows, {h}) != oracle ({exp_n} rows, {exp_h})",
        )


def planted_pairs(docs_path: str, min_words: int) -> set[tuple[int, int]]:
    """Near-dup pairs planted by ``gen_synth_docs``: a doc equal to an
    earlier doc except for one word replaced by the marker ``dup``. Only
    docs of at least ``min_words`` words count (one swapped word in a
    shorter doc moves its shingle Jaccard below the dedup threshold)."""
    t = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    by_text = {}
    for i, text in zip(t["doc_id"], t["text"]):
        if " dup " in f" {text} ":
            by_text.setdefault(text, []).append(i)
    pairs = set()
    for i, text in zip(t["doc_id"], t["text"]):
        words = text.split(" ")
        if len(words) < min_words:
            continue
        for j in range(len(words)):
            masked = " ".join(words[:j] + ["dup"] + words[j + 1:])
            for k in by_text.get(masked, ()):
                if k != i:
                    pairs.add((min(i, k), max(i, k)))
    return pairs


class Workload:
    """One workload; ``METRICS.md`` defines its op and pass."""

    name = ""

    def __init__(self, b):
        self.b = b  # the harness (spark, tracer, timed(), defer(), work dir)

    def make_inputs(self, data_dir: str, smoke: bool) -> dict:
        raise NotImplementedError

    def setup_action(self, data_dir: str) -> None:
        """The session's first action: count the largest input table."""
        from database_clonev2_spark import io

        io.load(self.b.spark, data_dir, self.first_table).count()

    def finish(self) -> None:
        pass


# --- catalog_queries --------------------------------------------------------

CATALOG_OPS = [
    "clone_manifest", "a30_ordered_string_agg", "b05_insert_script_gen",
    "a21_join_multiway", "a17_left_join_composite", "a29_groupby_pricing",
    "q3_shipping_priority", "q21_waiting_suppliers", "dq_constraint_report",
    "rcte_fk_closure", "snapshot_diff",
]


class CatalogQueries(Workload):
    name = "catalog_queries"
    SF, SMOKE_SF = 0.01, 0.001
    PASS_S = 17.0
    first_table = "lineitem"

    def make_inputs(self, data_dir, smoke):
        return gen_tables.generate(data_dir, self.SMOKE_SF if smoke else self.SF, self.b.seed)

    def start(self, data_dir):
        import __spark_entry__ as entry

        self.data_dir = data_dir
        self.queries = entry.queries()
        self.checker = OracleChecker(data_dir, entry.oracle_sql())

    def run_pass(self):
        for name in CATALOG_OPS:
            self.b.force_query(name, self.queries[name], self.data_dir,
                               functools.partial(self.checker.check, name))


# --- dedup_corpus -----------------------------------------------------------

DEDUP_OPS = [
    "dedup_simhash", "dedup_ngram_jaccard_capped", "dedup_minhash_lsh",
    "dedup_clusters", "dedup_incremental", "text_quality_score", "dedup_exact",
    "freq_token_heavy_hitters",
]
# recall floors over the planted pairs; SimHash is the looser sketch (its
# lowest recall over seeds 101-130 at 1,000 docs was 23/28, MinHash's 31/32)
PAIR_OPS = {"dedup_simhash": 0.75, "dedup_minhash_lsh": 0.9}
PLANTED_MIN_WORDS = 40
INGEST_BATCHES = 1


class DedupCorpus(Workload):
    name = "dedup_corpus"
    DOCS, SMOKE_DOCS = 1000, 500
    PASS_S = 30.0
    first_table = "documents"

    def make_inputs(self, data_dir, smoke):
        n = self.SMOKE_DOCS if smoke else self.DOCS
        generate_documents(data_dir, n, self.b.seed)
        return {"documents": n}

    def start(self, data_dir):
        import __spark_entry__ as entry

        self.data_dir = data_dir
        self.docs_path = os.path.join(data_dir, "documents.parquet")
        self.queries = entry.queries()
        self.checker = OracleChecker(data_dir, entry.oracle_sql())
        self.pairs = planted_pairs(self.docs_path, PLANTED_MIN_WORDS)
        self.n_docs = pq.ParquetFile(self.docs_path).metadata.num_rows
        self.n_passes = 0

    def run_pass(self):
        from database_clonev2_spark import _cache

        for name in DEDUP_OPS:
            _cache.clear_caches("sketch")
            check = (functools.partial(self._recall_check, name) if name in PAIR_OPS
                     else functools.partial(self.checker.check, name))
            self.b.force_query(name, self.queries[name], self.data_dir, check)
        self._ingest()

    def _recall_check(self, name, out_path):
        floor = PAIR_OPS[name]
        found = set(duckdb.sql(
            f"SELECT doc_i, doc_j FROM read_parquet('{out_path}/*.parquet')").fetchall())
        hit = len(self.pairs & found)
        _require(self.pairs and hit >= floor * len(self.pairs),
                 f"{name}: recall {hit}/{len(self.pairs)} below {floor}")

    def _ingest(self):
        from pyspark.sql import functions as F

        from database_clonev2_spark import io
        from database_clonev2_spark.extensions import shingleindex

        spark = self.b.spark
        self.n_passes += 1
        idx = os.path.join(self.b.work, f"shingle_idx_{self.n_passes}")
        docs = io.load(spark, self.data_dir, "documents").select("doc_id", "text")
        base = docs.filter(F.col("doc_id") % 5 != 0)
        self.b.timed("build_shingle_index",
                     lambda: shingleindex.build_shingle_index(spark, base, idx))
        indexed = set(range(self.n_docs)) - set(range(0, self.n_docs, 5))
        for k in range(INGEST_BATCHES):
            batch = docs.filter((F.col("doc_id") % 5 == 0)
                                & ((F.col("doc_id") / 5).cast("long") % INGEST_BATCHES == k))
            batch_ids = {i for i in range(0, self.n_docs, 5) if (i // 5) % INGEST_BATCHES == k}
            verdicts = self.b.timed(
                "probe_shingle_index",
                lambda: shingleindex.probe_shingle_index(spark, idx, batch)
                .select("doc_id", "verdict").collect())
            self.b.defer(self._probe_check, verdicts, batch_ids, set(indexed))
            self.b.timed("append_shingle_index",
                         lambda: shingleindex.append_shingle_index(spark, idx, batch, batch_id=k))
            indexed |= batch_ids
        self.b.defer(self._index_check, idx)

    def _probe_check(self, verdicts, batch_ids, indexed):
        got = {r["doc_id"]: r["verdict"] for r in verdicts}
        _require(set(got) == batch_ids and len(verdicts) == len(batch_ids),
                 "probe: verdict rows do not match the batch")
        want = {j for i, j in self.pairs if j in batch_ids and i in indexed}
        want |= {i for i, j in self.pairs if i in batch_ids and j in indexed}
        hit = sum(1 for d in want if got[d] != "unique")
        _require(hit >= 0.9 * len(want), f"probe: recall {hit}/{len(want)} below 0.9")

    def _index_check(self, idx):
        from database_clonev2_spark.extensions import shingleindex

        meta = shingleindex.read_shingle_meta(idx)
        _require(meta["n_docs"] == self.n_docs,
                 f"index holds {meta['n_docs']} docs, corpus has {self.n_docs}")
        self.b.layer["shingleindex.segments"].append(len(meta["segments"]))
        self.b.layer["shingleindex.bytes_per_doc"].append(dir_bytes(idx) / self.n_docs)


# --- clone_sync -------------------------------------------------------------

KEY = ["o_orderkey"]
N_BUCKETS = 32
SMALL_BATCH, DELETE_BATCH, LARGE_BATCH = 40, 15, 1500
# per pass: a small upsert, a delete and a large upsert, each followed by a
# replica sync
EPOCHS = ["upsert_small", "delete", "upsert_large"]


class CloneSync(Workload):
    name = "clone_sync"
    SF, SMOKE_SF = 0.01, 0.001
    PASS_S = 30.0
    first_table = "lineitem"

    def make_inputs(self, data_dir, smoke):
        return gen_tables.generate(data_dir, self.SMOKE_SF if smoke else self.SF, self.b.seed)

    def start(self, data_dir):
        from database_clonev2_spark import io
        from database_clonev2_spark.pipeline import merge

        spark = self.b.spark
        self.data_dir = data_dir
        self.rows = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
                     for t in TABLES}
        tag = os.path.basename(data_dir)
        self.target = os.path.join(self.b.work, f"merge_target_{tag}")
        self.replica = os.path.join(self.b.work, f"merge_replica_{tag}")
        self.batches: list[tuple[str, str]] = []
        self.n_clones = 0
        self.epoch = 0
        self.rng = np.random.default_rng(self.b.seed)
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        self.schema = orders.schema
        self.live = set(orders["o_orderkey"].to_pylist())
        self.next_key = max(self.live) + 1
        merge.merge_upsert_bucketed(spark, self.target, io.load(spark, data_dir, "orders"), KEY,
                                    n_buckets=N_BUCKETS, change_feed=True, batch_id=0)
        merge.sync_replica_from_changes(spark, self.replica, self.target, KEY, n_buckets=N_BUCKETS)
        # the generated orders.parquet is one compact write of the base rows
        self.compact_row_bytes = os.path.getsize(
            os.path.join(data_dir, "orders.parquet")) / len(self.live)

    def _compact_bytes(self, path):
        from database_clonev2_spark.pipeline import merge

        out = os.path.join(self.b.work, "compact")
        merge.read_merge_target(self.b.spark, path).coalesce(1).write.mode("overwrite").parquet(out)
        n = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return n

    def run_pass(self):
        from database_clonev2_spark.pipeline import clone, ddl, merge

        spark = self.b.spark
        self.n_clones += 1
        dest = os.path.join(self.b.work, f"clone_{os.path.basename(self.data_dir)}_{self.n_clones}")
        res = self.b.timed("clone_database", lambda: clone.clone_database(spark, self.data_dir, dest))
        self.b.record_clone(res, dest)
        self.b.defer(self._clone_check, res)
        stmts = self.b.timed("generate_statements", lambda: ddl.generate_statements(
            spark, clone.fixture_specs(spark, dest), dialect="spark").collect())
        self.b.defer(self._ddl_check, stmts)
        viol = self.b.timed("validate_database", lambda: clone.validate_database(spark, dest))
        self.b.defer(self._validate_check, viol)
        for kind in EPOCHS:
            self.epoch += 1
            path = self._write_batch(kind)
            t0 = time.time()
            if kind == "delete":
                stats = self.b.timed(kind, lambda: merge.merge_delete_bucketed(
                    spark, self.target, spark.read.parquet(path), KEY, n_buckets=N_BUCKETS,
                    change_feed=True, batch_id=self.epoch))
                changed = stats["deleted"]
            else:
                stats = self.b.timed(kind, lambda: merge.merge_upsert_bucketed(
                    spark, self.target, spark.read.parquet(path), KEY, n_buckets=N_BUCKETS,
                    change_feed=True, batch_id=self.epoch))
                changed = stats["updates"]
            self.b.record_merge(stats, changed, self._bytes_since(self.target, t0),
                                changed * self.compact_row_bytes)
            self.b.timed("sync_replica", lambda: merge.sync_replica_from_changes(
                spark, self.replica, self.target, KEY, n_buckets=N_BUCKETS))
        shutil.rmtree(dest, ignore_errors=True)

    def finish(self):
        from database_clonev2_spark.pipeline import merge

        res = self.b.timed("verify_replica",
                           lambda: merge.verify_replica(self.b.spark, self.target, self.replica))
        self.b.defer(self._replica_check, res)
        self.b.defer(self._target_check)

    @staticmethod
    def _bytes_since(path, t0):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                if st.st_mtime >= t0 - 1e-3:
                    total += st.st_size
        return total

    def _write_batch(self, kind):
        rng = self.rng
        live = np.fromiter(self.live, dtype=np.int64)
        if kind == "delete":
            keys = rng.choice(np.sort(live)[-2000:], DELETE_BATCH, replace=False)
            self.live -= set(keys.tolist())
            table = pa.table({"o_orderkey": pa.array(keys, pa.int64())})
        else:
            if kind == "upsert_small":
                # skewed to recent keys: updates of the newest rows plus inserts
                n_new = SMALL_BATCH // 4
                old = rng.choice(np.sort(live)[-2000:], SMALL_BATCH - n_new, replace=False)
            else:
                n_new = LARGE_BATCH // 10
                old = rng.choice(live, LARGE_BATCH - n_new, replace=False)
            new = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
            self.next_key += n_new
            keys = np.concatenate([old, new])
            self.live |= set(new.tolist())
            n = len(keys)
            table = pa.table({
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2), pa.float64()),
                "o_orderdate": pa.array(
                    gen_tables.epoch_us(datetime(1995, 1, 1))
                    + rng.integers(0, 2405, n) * gen_tables.DAY_US, pa.timestamp("us")),
                "o_orderpriority": pa.array(rng.choice(gen_tables.PRIORITIES, n), pa.string()),
            }).cast(self.schema)
        path = os.path.join(self.b.work, f"batch_{os.path.basename(self.data_dir)}_{self.epoch}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        self.batches.append((kind, path))
        return path

    def _clone_check(self, res):
        _require(not res.errors, f"clone errors: {res.errors}")
        _require(res.copied == self.rows, f"clone row counts {res.copied} != source {self.rows}")

    def _ddl_check(self, stmts):
        tables = sorted(r["object_name"] for r in stmts if r["phase"] == "tables")
        _require(tables == sorted(self.rows), f"DDL covers {tables}")

    def _validate_check(self, viol):
        _require(viol and not any(viol.values()), f"constraint violations: {viol}")

    def _replica_check(self, res):
        _require(res["match"] and not res["diverged"], f"replica diverged: {res['diverged']}")

    def _target_check(self):
        """The merge target equals base + batches, applied in DuckDB."""
        from database_clonev2_spark.pipeline import merge

        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.data_dir, 'orders.parquet')}')")
        for kind, path in self.batches:
            src = f"read_parquet('{path}/*.parquet')"
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            if kind != "delete":
                con.execute(f"INSERT INTO t SELECT * FROM {src}")
        rel = con.sql("SELECT * FROM t")
        want = table_hash(list(rel.columns), rel.fetchall())
        df = merge.read_merge_target(self.b.spark, self.target)
        got = table_hash(df.columns, [tuple(r) for r in df.collect()])
        _require(got == want, f"merge target {got} != base + batches {want}")
        if not self.b.tracer.enabled:
            return  # the layout metrics below are per-layer (traced runs) only
        self.b.layer["merge.target_files"].append(sum(
            f.endswith(".parquet") for _r, _d, fs in os.walk(self.target) for f in fs
            if "_changes" not in _r))
        self.b.layer["merge.space_amp"].append(
            dir_bytes(self.target) / self._compact_bytes(self.target))


WORKLOADS = {w.name: w for w in (CatalogQueries, CloneSync, DedupCorpus)}
