"""Deterministic synthetic `documents` generator for LARGER-SCALE A/B
measurement (round 14, VERDICT r13 item 1).

The driver's fixtures stop at sf0.1 (5,000 docs), where the bench is
job-latency-bound (8-core total == 32-core total, PERF_r13.json), so
changes whose cost grows with corpus bytes cannot be ranked there. This tool
synthesizes a documents corpus N times larger with the SAME measured shape
as /root/testdata/sf0.1/documents.parquet:

- text = i.i.d. words uniform over a vocab, doc length ~ Uniform{10..100}
  words (measured: min 10 / median 54 / max 100, 30 uniform words);
- the vocab SCALES as (n_docs/5000)^(1/3) so the word-3-gram shingle
  document-frequency distribution stays fixture-like (measured at sf0.1:
  260k shingle instances / 27.2k distinct = df ~9.6; a fixed 30-word vocab
  at 20x docs would push every shingle's df ~190, flipping the DF_CAP=50
  semantics);
- planted near-dups at the fixture rate (256 pairs / 5000 docs: a dup doc
  is an earlier doc with ONE word replaced by the marker token 'dup');
- lang/source columns with the fixture's cardinalities (5/10), n_chars;
- ONE parquet file, one row group — the same single-row-group layout whose
  scan-parallelism consequences round 13 measured.

NOT fixture data (never read by queries()/oracle_sql()/bench.py — those
stay on $SPARK_GRAFT_SF_DIR): it feeds at-scale A/Bs (`tools/ab.py`) and
the benchmark's generated document inputs.

Usage: python tools/gen_synth_docs.py <out_dir> <n_docs> [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["zh", "en", "fr", "es", "de"]
SOURCES = [f"src{i}" for i in range(10)]
FIXTURE_DOCS = 5000
FIXTURE_DUP_PAIRS = 256


def generate(out_dir: str, n_docs: int, seed: int = 42) -> str:
    rng = np.random.default_rng(seed)
    scale = n_docs / FIXTURE_DOCS
    vocab_size = max(len(BASE_VOCAB), round(len(BASE_VOCAB) * scale ** (1 / 3)))
    vocab = BASE_VOCAB + [f"tok{i:03d}" for i in range(vocab_size - len(BASE_VOCAB))]
    lens = rng.integers(10, 101, size=n_docs)
    texts: list[str] = []
    for n in lens:
        texts.append(" ".join(vocab[w] for w in rng.integers(0, len(vocab), size=n)))
    # plant near-dup pairs at the fixture rate: doc i becomes a copy of an
    # earlier doc with one word swapped to the marker token
    n_pairs = round(FIXTURE_DUP_PAIRS * scale)
    dup_targets = rng.choice(np.arange(1, n_docs), size=n_pairs, replace=False)
    for i in sorted(int(x) for x in dup_targets):
        src = int(rng.integers(0, i))
        words = texts[src].split(" ")
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array(
                [SOURCES[i] for i in rng.integers(0, len(SOURCES), n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    # one row group to mirror the fixture layout (row_group_size > n_docs)
    pq.write_table(table, path, row_group_size=max(n_docs, 1_000_000))
    return path


if __name__ == "__main__":
    out = sys.argv[1]
    n = int(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    p = generate(out, n, seed)
    f = pq.ParquetFile(p)
    print(f"{p}: {f.metadata.num_rows} rows, {f.metadata.num_row_groups} row group(s), "
          f"{os.path.getsize(p)} bytes")
