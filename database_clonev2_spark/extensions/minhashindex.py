"""Maintained on-disk MinHash/LSH index — build once, append batches,
probe candidates without re-signing the corpus (round 9).

The shingle index (``shingleindex.py``) amortizes the EXACT capped-
Jaccard probe; this is its sub-linear sibling for the scales where even
the DF-capped inverted index is too wide: the corpus is stored as banded
MinHash signatures, so a probe joins |batch bands| equality keys against
the band table and never touches shingle sets at all. Reference parity:
same shingle→minhash→band→bucket-join semantics as ``dedup_minhash_lsh``
(SURVEY.md §7 dedup mandate), lifted into the segment store's
(``_segments``) build / append / probe / compact lifecycle:

    <path>/bands/<seg>/   (doc_id, band, bucket)  — banded signatures
    <path>/docs/<seg>/    (doc_id)                — membership, for the
                                                    append anti-join
    <path>/_minhash_meta.json
        {num_perm, bands, family, n_docs, segments, applied_batches}

SEGMENT COMMIT PROTOCOL: the index is a layout over the segment store
(``_segments``, whose module docstring states the protocol) —
per-batch segment dirs, the atomic meta rename is the sole commit
point, torn appends are invisible and replays overwrite their own dirs;
``compact_minhash_index`` folds committed segments. Build, append and
compact serialize on the store's maintainer flock.

HASH FAMILIES: ``family='xxhash64'`` is the production default —
permutation k is seeded xxhash64(shingle, k), band buckets are the
xxhash64 of the band's row minima (all JVM-side, 8-byte join keys).
``family='md5'`` is the cross-engine family of
``dedup_minhash_lsh_pairs`` — h_k(s) = int(md5(s ‖ ':' ‖ k)[:15 hex]),
buckets the ':'-joined decimal minima — which DuckDB computes
byte-identically, making the registered probe query hash-checkable.
The family is RECORDED in the meta and every probe re-derives the
batch side from it: mixing families across build/append/probe would
silently produce zero candidates, so the meta is the single source.

Scale: the probe is one equality join on (band, bucket) — pure
shuffle-on-key, skew bounded by band-bucket size (the LSH s-curve
argument of ``dedup_minhash_lsh``); signatures are one groupBy over the
batch's shingles. Candidates are CANDIDATES — rescore with the exact
capped-Jaccard path (or ``probe_shingle_index``) before acting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._segments import (
    BUILD_SEG,
    DEFAULT_MAX_SEGMENTS,
    SegmentLayout,
    _append_locked,
    _append_maintained,
    _compact_segments,
    _load_meta,
    _maintainer_locked,
    _min_collapse,
    _read_kind,
    _seal_build,
    _store_meta,
)
from .dedup import LSH_BANDS, NUM_PERM, minhash_band_frame

_META_FILE = "_minhash_meta.json"

#: the segment-store layout (``_segments.SegmentLayout``); docs are the
#: membership kind the append anti-join reads
_LAYOUT = SegmentLayout(
    owner=__name__,
    reader="read_minhash_meta",
    meta_file=_META_FILE,
    kinds=("bands", "docs"),
    member_kind="docs",
    id_col="doc_id",
)


def read_minhash_meta(path: str) -> dict:
    return _load_meta(_LAYOUT, path)


def _write_meta(path: str, meta: dict) -> None:
    """The index's commit point (``_segments._store_meta``)."""
    _store_meta(_LAYOUT, path, meta)


# the banding + both hash families live in dedup.minhash_band_frame
# (round-9 consolidation — one source for the cross-engine byte-parity
# contract); this alias keeps the module-internal call sites readable
_band_frame = minhash_band_frame


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    num_perm: int = NUM_PERM,
    n_bands: int = LSH_BANDS,
    family: str = "xxhash64",
) -> dict:
    """Sign ``docs`` (doc_id, text) once and lay the banded index out on
    disk (module docstring has the layout). Returns the meta dict.
    Duplicate doc_ids in the build corpus collapse — the append path's
    idempotence contract, applied at build (round 10, VERDICT r9 #3):
    a double-signed doc carries duplicate band rows that inflate its
    ``n_bands_matched`` against every later probe. Min-text winner, not
    dropDuplicates — a deterministic collapse (round-10 review catch,
    same as ``build_shingle_index``). Pin feeds bands + membership +
    count. Writes and commit run under the maintainer flock."""
    docs = _min_collapse(docs.select("doc_id", "text"), "doc_id", "text")
    with _maintainer_locked(path):
        _band_frame(docs, num_perm, n_bands, family).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "bands", BUILD_SEG))
        docs.select("doc_id").write.mode("overwrite").parquet(
            os.path.join(path, "docs", BUILD_SEG)
        )
        meta = {"num_perm": num_perm, "bands": n_bands, "family": family}
        return _seal_build(
            spark, path, _LAYOUT, meta, docs.select("doc_id"), docs.count()
        )


def append_minhash_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    batch_id=None,
    max_segments: int | None = DEFAULT_MAX_SEGMENTS,
) -> dict:
    """Append new docs under the RECORDED (num_perm, bands, family) —
    no re-signing of anything already indexed. Same idempotence nets as
    ``append_shingle_index``: doc_ids already committed are anti-joined
    out, intra-batch duplicate ids collapse (min-text winner — the
    deterministic collapse, round 11, VERDICT r10 #3), a ledgered
    ``batch_id`` no-ops on re-delivery, and the per-batch segment dir +
    atomic meta rename make a torn append invisible and
    replay-overwritable. Runs under the maintainer flock; more than
    ``max_segments`` committed segments after the commit triggers
    ``compact_minhash_index`` (round 11, VERDICT r10 #1 + #4)."""
    return _append_maintained(
        path,
        lambda: _append_locked(
            spark, path, _LAYOUT, docs.select("doc_id", "text"), "text", batch_id,
            ["doc_id"], _write_bands,
        ),
        lambda: compact_minhash_index(spark, path, max_segments=max_segments),
        max_segments,
    )


def _write_bands(
    spark: SparkSession, path: str, meta: dict, docs: DataFrame, seg: str, _prepared
) -> None:
    """An append's bands segment, signed under the RECORDED family."""
    _band_frame(
        docs, meta["num_perm"], meta["bands"], meta["family"]
    ).write.mode("overwrite").parquet(os.path.join(path, "bands", seg))


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    exclude_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (doc_i = batch, doc_j = indexed,
    n_bands_matched) — the batch is signed under the index's recorded
    family and equality-joined to the band table; the corpus text and
    its shingles are NEVER touched. Self-matches are excluded by the
    doc_id inequality residual, and ``exclude_doc_ids`` anti-joins a
    whole id set out of the index view (the replay-stability net
    ``probe_shingle_index`` documents). Candidates carry the LSH
    s-curve's false-positive rate — rescore before acting."""
    meta = read_minhash_meta(path)
    index_bands = _read_kind(spark, path, "bands", meta)
    if exclude_doc_ids is not None:
        index_bands = index_bands.join(
            exclude_doc_ids.select("doc_id"), "doc_id", "left_anti"
        )
    batch_bands = _band_frame(
        batch, meta["num_perm"], meta["bands"], meta["family"]
    ).localCheckpoint()  # pin: one signing pass however the join plans
    a, b = batch_bands.alias("a"), index_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
    )


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    remove_retired: bool = False,
    retire_age_s: float = 3600.0,
    max_segments: int | None = None,
) -> dict:
    """Fold committed segments — everything into one on
    ``max_segments=None`` (manual full defrag), the SIZE-TIERED
    smallest-half fold under the auto-trigger's bound. Rationale,
    protocol, retired-dir retention, the age-gated sweep, ledger
    truncation, and the enforced single-writer contract all live in
    ``_segments._compact_segments`` (one protocol, one
    implementation)."""
    return _compact_segments(
        spark, path, _LAYOUT, remove_retired, retire_age_s, max_segments
    )


# --- registered driver query -------------------------------------------------

QUERIES: dict = {}
ORACLES: dict = {}

_ORACLE = """WITH shingles AS ({duck_shingles}),
    {bands_cte}
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           CAST(COUNT(*) AS BIGINT) AS n_bands_matched
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    GROUP BY 1, 2
    ORDER BY 1, 2"""


def dedup_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate probe against the MAINTAINED banded index — the
    sub-linear sibling of ``dedup_incremental_indexed``: the corpus is
    signed ONCE (build over doc_id % 5 ∈ {1,2,3} slices, md5 cross-
    engine family), a later slice APPENDS without re-signing anything
    (% 5 == 4), and the incoming batch (% 5 == 0) probes the band table
    for its candidate pairs. The oracle recomputes the identical banded
    join closed-form in DuckDB (the ``dedup_minhash_lsh_pairs``
    family), so a hash match proves the MAINTAINED index probes exactly
    what the one-shot LSH computes — a dropped or double append, family
    drift between build and probe, or a torn segment surfacing would
    all break row values. Per-call cost here includes the build (no
    ambient index in the fixture); in production the build amortizes
    and the probe alone is one equality join on (band, bucket)."""
    import atexit
    import shutil
    import tempfile

    from ..io import load
    from .shingleindex import APPEND_MOD, BUILD_MODS, PROBE_MOD

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="minhash_index_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = os.path.join(base, "idx")
    build_minhash_index(
        spark,
        d.filter((F.col("doc_id") % 5).isin(*BUILD_MODS)),
        path,
        family="md5",
    )
    append_minhash_index(
        spark, path, d.filter(F.col("doc_id") % 5 == APPEND_MOD)
    )
    return probe_minhash_index(
        spark, path, d.filter(F.col("doc_id") % 5 == PROBE_MOD)
    ).orderBy("doc_i", "doc_j")


QUERIES["dedup_minhash_index_probe"] = dedup_minhash_index_probe


def _splice_oracle() -> None:
    from .dedup import _DUCK_SHINGLES, duck_minhash_bands_cte

    # .replace, not str.format — spliced SQL may grow literal braces
    # (the dedup_keep_best precedent, round 4)
    ORACLES["dedup_minhash_index_probe"] = _ORACLE.replace(
        "{bands_cte}", duck_minhash_bands_cte()
    ).replace("{duck_shingles}", _DUCK_SHINGLES)


_splice_oracle()
