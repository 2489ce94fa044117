"""Deduplication operators for training-data pipelines (SURVEY.md §7,
BASELINE.json mandate): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
- **exact**: hash-groupBy — one shuffle on a 16-byte digest, no text moves.
- **ngram_jaccard**: exact pairwise similarity via a shingle-inverted-index
  self-join. Correct but O(pairs-sharing-a-shingle); at 100 TB a hot shingle
  is a skew bomb — fixture-scale baseline only.
- **ngram_jaccard_capped**: the ADVERTISED exact path — DF_CAP stop-shingle
  bound caps worst-case candidate pairs at DF_CAP²/shingle regardless of
  corpus skew; Jaccard over the capped sets is the production semantics.
- **minhash_lsh**: signature = k minima of seeded xxhash64 over shingles
  (deterministic, no sampled permutation matrices); LSH bands turn the
  quadratic pair search into an equality groupBy on (band, band_signature)
  — pure shuffle-on-key, skew bounded by band-bucket size.
- **simhash**: 64-bit bit-vote fingerprint; near-dup = small Hamming
  distance. The pair search is chunk-BLOCKED (pigeonhole over >h equal
  chunks → equality self-join on (position, value), exact rescore on
  candidates) — guaranteed recall, no all-pairs scan anywhere.

Everything is built-in Catalyst expressions (xxhash64, explode, groupBy);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, load_spread
from .._cache import memo_df as _memo_df
from .._cache import register_cache as _register_cache
from .._cache import session_key as _session_key

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --- shared shingling ------------------------------------------------------

SHINGLE_WIDTH = 3  # word 3-grams


def _doc_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word 3-grams per document. The token
    array is materialized in its own projection first: referencing
    ``split(text)`` inside the transform lambda would re-split the string
    for every element access (3× per shingle — measured ~10× slower).

    Only COMPLETE windows are emitted: documents with fewer than 3 tokens
    produce no shingles (an out-of-range element_at would throw under
    Spark 4's default ANSI mode, and partial windows would diverge from
    the DuckDB twin)."""
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    shingles = F.when(
        F.size(toks) >= SHINGLE_WIDTH,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SHINGLE_WIDTH),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


# DuckDB twin of _doc_shingles (1-indexed lists): complete windows only —
# range(1, len-2+1) is empty for docs with fewer than 3 tokens, matching
# the Spark side's size guard.
_DUCK_SHINGLES = """
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i)
"""


# --- exact dedup -----------------------------------------------------------


@_register(
    "dedup_exact",
    """SELECT md5(text) AS text_hash,
              COUNT(*) AS n_copies,
              MIN(doc_id) AS keeper_doc_id,
              CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS is_dup_group
       FROM documents
       GROUP BY md5(text)""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: group on md5(text), keep the minimum
    doc_id per group. Only the digest shuffles, never the document body."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.when(F.count(F.lit(1)) > 1, F.lit(1)).otherwise(F.lit(0)).alias("is_dup_group"),
        )
    )


# --- exact n-gram Jaccard --------------------------------------------------

JACCARD_THRESHOLD = 0.8


def pair_intersections(
    left_sh: DataFrame, right_sh: DataFrame, ordered: bool = True
) -> DataFrame:
    """The inverted-index candidate-pair core shared by EVERY pairwise
    shingle similarity (Jaccard and containment): join the two (doc_id,
    sh) shingle-hash streams on the hash, count shared shingles per pair.
    Returns (doc_i, doc_j, n_common). ``ordered`` adds the
    doc_i < doc_j self-join guard. One definition so a change to the
    candidate semantics (the guard, the join key) lands everywhere at
    once (review-caught, twice)."""
    a, b = left_sh.alias("a"), right_sh.alias("b")
    pred = F.col("a.sh") == F.col("b.sh")
    if ordered:
        pred = pred & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, pred)
        .groupBy(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard_pairs(
    left_sh: DataFrame,
    right_sh: DataFrame,
    counts: DataFrame,
    ordered: bool = True,
    broadcast_counts: bool = False,
) -> DataFrame:
    """The inverted-index Jaccard join shared by every exact-Jaccard
    variant: ``left_sh``/``right_sh`` are (doc_id, sh) shingle-hash
    streams, ``counts`` is (doc_id, n) covering both sides. Returns
    (doc_i, doc_j, n_common, jaccard) for every pair sharing ≥1 shingle.
    ``broadcast_counts`` force-broadcasts the count tables (fixture-scale
    only — one row per doc, unbounded at corpus scale, so scale-path
    callers leave it to AQE). Keeping the formula here means a Jaccard
    semantics change lands in ONE place instead of three hand-copied
    blocks (review-caught)."""
    inter = pair_intersections(left_sh, right_sh, ordered=ordered)
    maybe = F.broadcast if broadcast_counts else (lambda df: df)
    ca, cb = counts.alias("ca"), counts.alias("cb")
    jac = F.col("n_common").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        inter.join(maybe(ca), F.col("doc_i") == F.col("ca.doc_id"))
        .join(maybe(cb), F.col("doc_j") == F.col("cb.doc_id"))
        .select(
            "doc_i",
            "doc_j",
            F.col("n_common").cast("bigint").alias("n_common"),
            jac.alias("jaccard"),
        )
    )


@_register(
    "dedup_ngram_jaccard_baseline",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        pair_inter AS (
            SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_common
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT p.doc_i, p.doc_j,
               CAST(p.n_common AS BIGINT) AS n_common,
               CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) AS jaccard
        FROM pair_inter p
        JOIN counts ca ON ca.doc_id = p.doc_i
        JOIN counts cb ON cb.doc_id = p.doc_j
        WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) >= {JACCARD_THRESHOLD}""",
)
def dedup_ngram_jaccard_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by word-3-gram Jaccard ≥ 0.8, via the classic
    shingle inverted-index self-join. int/int division in double keeps the
    oracle comparison bit-exact. Scale note: this uncapped form is the
    FIXTURE-SCALE textbook baseline only — pair blow-up on hot shingles is
    inherent (a shingle in k docs → O(k²) candidates) — and since round 4
    the registry name says so (VERDICT r3 #3: no user-callable query
    carries a known skew bomb without the warning in its name). The
    advertised exact path is ``dedup_ngram_jaccard_capped`` (DF_CAP
    stop-shingles, bounded worst case); ``dedup_minhash_lsh`` is the
    approximate path."""
    # join on the 8-byte shingle hash, not the shingle text: same pairs
    # (64-bit collision odds are ~1e-9 at this cardinality), ~3× less
    # shuffle volume — the dominant cost of the inverted-index join
    # load_spread (round 14, guide §2.5 — the r13 spread-audit sweep
    # extended to the non-benched explode paths): the shingle explode +
    # hash chain is scan-side CPU a single-row-group file serializes on
    # one core; measured min-of-4 interleaved on the registered query:
    # 1.13 s spread vs 1.93 s plain. No-op at production input sizes.
    sh = (
        _doc_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
        .localCheckpoint()  # referenced by the self-join's BOTH sides and
        # the per-doc counts — unpinned, the shingle scan ran 4× (measured)
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # per-doc shingle counts are |docs| rows — broadcast both sides at
    # fixture scale
    return jaccard_pairs(sh, sh, counts, broadcast_counts=True).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


DF_CAP = 50  # shingles in more docs than this are "stop shingles"

# capped-shingle frames, MEMOIZED by (session, tag, input plan) — round 9,
# VERDICT r8 #2: the previous seq-keyed inserts were retention, not
# memoization (one pinned corpus-sized checkpoint per CALL until
# clear_caches); memo_df both bounds the registry at one entry per input
# and reuses the build across every consumer of the same source plan
_KEPT_CACHE = _register_cache()


def _capped_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) capped-shingle frame shared by every stop-shingle
    variant (Jaccard, containment, clustering): shingles whose document
    frequency exceeds DF_CAP are dropped before any pair join, bounding
    worst-case candidate pairs at DF_CAP²/shingle regardless of skew."""

    def build(d: DataFrame) -> DataFrame:
        # hash BEFORE the df-count: the df aggregation and the back-join
        # then shuffle 8-byte keys instead of ~25-byte shingle strings
        # (the same 64-bit-collision argument the pair join already
        # documents; measured ~15% off the whole query at sf0.1)
        sh = _doc_shingles(d).select("doc_id", F.xxhash64("shingle").alias("sh"))
        df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        # _doc_shingles is already distinct per (doc, shingle) so count ==
        # DF. The df table has one row per DISTINCT shingle — unbounded at
        # corpus scale, so it joins back on the shingle key
        # (shuffle-on-key, AQE broadcast if it happens to be small), never
        # a forced broadcast. The capped frame feeds THREE downstream
        # subtrees (both sides of the inverted-index self-join + the
        # per-doc counts); without materialization Catalyst re-derives the
        # shingle explode + df join once per reference (review-caught
        # repeat cost, round 3). Eager localCheckpoint rather than
        # persist: it also TRUNCATES lineage, so the downstream plan
        # references one checkpointed leaf instead of re-printing (and on
        # eviction re-running) the whole subtree per reference. A
        # multi-tenant deployment would use a reliable checkpoint dir.
        return sh.join(df_counts.filter(F.col("df") <= DF_CAP), "sh").localCheckpoint()

    return _memo_df(_KEPT_CACHE, "capped_shingles", docs, build)


def capped_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Capped (stop-shingle) exact-Jaccard near-dup pairs over any
    (doc_id, text) frame — the ADVERTISED 100 TB exact-dedup path, shared
    by ``dedup_ngram_jaccard_capped`` and the training pipeline's near-dup
    stage. Jaccard is computed over the CAPPED shingle sets (production
    semantics — ubiquitous shingles carry no dedup signal)."""
    kept = _capped_shingles(docs)
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # per-doc counts stay unbroadcast at this variant's target scale
    # (AQE promotes them dynamically when they fit)
    return jaccard_pairs(kept, kept, counts).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


@_register(
    "dedup_ngram_jaccard_capped",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
        df AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM shingles GROUP BY shingle),
        kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN df USING (shingle)
                 WHERE df.df <= {DF_CAP}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        pair_inter AS (
            SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_common
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT p.doc_i, p.doc_j,
               CAST(p.n_common AS BIGINT) AS n_common,
               CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) AS jaccard
        FROM pair_inter p
        JOIN counts ca ON ca.doc_id = p.doc_i
        JOIN counts cb ON cb.doc_id = p.doc_j
        WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) >= {JACCARD_THRESHOLD}""",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-shingle-HARDENED exact-Jaccard variant — the advertised
    exact-dedup path at scale (a shingle in k docs contributes O(k²)
    candidate pairs in the uncapped form, so skewed corpora make the
    uncapped variant a skew bomb; this one is bounded). See
    ``capped_jaccard_pairs`` for the algorithm; the uncapped
    ``dedup_ngram_jaccard_baseline`` stays registered as the fixture-scale
    textbook baseline only (baseline-labeled in its NAME since round 4).
    Round 13: the scan is ``load_spread`` — the shingle explode + df-cap
    chain is scan-side CPU work that a single-row-group file serializes
    on one core (guide §2.5); a no-op at real input sizes."""
    return capped_jaccard_pairs(load_spread(spark, sf_dir, "documents", "doc_id"))


CONTAINMENT_THRESHOLD = 0.9


@_register(
    "dedup_containment",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
        df AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM shingles GROUP BY shingle),
        kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN df USING (shingle)
                 WHERE df.df <= {DF_CAP}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        pair_inter AS (
            SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_common
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT p.doc_i, p.doc_j,
               CAST(p.n_common AS BIGINT) AS n_common,
               CAST(p.n_common AS DOUBLE) / ca.n AS cont_i_in_j,
               CAST(p.n_common AS DOUBLE) / cb.n AS cont_j_in_i
        FROM pair_inter p
        JOIN counts ca ON ca.doc_id = p.doc_i
        JOIN counts cb ON cb.doc_id = p.doc_j
        WHERE greatest(CAST(p.n_common AS DOUBLE) / ca.n,
                       CAST(p.n_common AS DOUBLE) / cb.n) >= {CONTAINMENT_THRESHOLD}""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment — the measure
    Jaccard misses: a short document quoted wholesale inside a long one has
    containment ≈ 1 in one direction but low Jaccard (the union is
    dominated by the long side), so quote/boilerplate/subset relations are
    invisible to ``dedup_ngram_jaccard*`` yet are exactly what a
    training-corpus curator must catch (a contained doc adds no new text).
    C(i→j) = |S_i ∩ S_j| / |S_i| over the DF-capped shingle sets; a pair is
    emitted when EITHER direction reaches {CONTAINMENT_THRESHOLD}, with both
    directions reported so the caller keeps the superset doc. Same bounded
    inverted-index shape as the capped Jaccard (equality join on 8-byte
    shingle hashes, DF_CAP blow-up bound) — one shared candidate machinery,
    two similarity semantics. int/int division in double is bit-exact vs
    the DuckDB twin."""
    kept = _capped_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = pair_intersections(kept, kept)
    ca, cb = counts.alias("ca"), counts.alias("cb")
    cont_ij = F.col("n_common").cast("double") / F.col("ca.n")
    cont_ji = F.col("n_common").cast("double") / F.col("cb.n")
    return (
        inter.join(ca, F.col("doc_i") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_j") == F.col("cb.doc_id"))
        .filter(F.greatest(cont_ij, cont_ji) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_i",
            "doc_j",
            F.col("n_common").cast("bigint").alias("n_common"),
            cont_ij.alias("cont_i_in_j"),
            cont_ji.alias("cont_j_in_i"),
        )
    )


# --- connected-components clustering ---------------------------------------

# the capped-pairs CTE reused by the cluster oracle (identical to the
# dedup_ngram_jaccard_capped oracle body up to the pair projection)
_DUCK_CAPPED_PAIRS = f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    df AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM shingles GROUP BY shingle),
    kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN df USING (shingle)
             WHERE df.df <= {DF_CAP}),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    pair_inter AS (
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_common
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT p.doc_i, p.doc_j
        FROM pair_inter p
        JOIN counts ca ON ca.doc_id = p.doc_i
        JOIN counts cb ON cb.doc_id = p.doc_j
        WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common)
              >= {JACCARD_THRESHOLD})
"""

def connected_components(
    pairs: DataFrame,
    src: str = "doc_i",
    dst: str = "doc_j",
    max_iter: int = 25,
    pointer_jump: bool = False,
) -> DataFrame:
    """Connected components over an undirected pair list via iterative
    min-label propagation — the Pregel-style loop GraphX's own
    ``connectedComponents`` runs: every node starts labeled with its own
    id; each round every node takes the min of its label and its
    neighbors' labels; fixpoint = components labeled by their min member.

    Scale design: each iteration is ONE shuffle-on-key join + partial
    agg (min combines map-side); iterations needed = graph DIAMETER,
    which for near-dup graphs is tiny (dup clusters are dense blobs, not
    chains). For chain-shaped graphs (lineage edges, session graphs,
    sorted-id adjacency) diameter is O(n) — pass ``pointer_jump=True``
    for the Shiloach-Vishkin-style variant (round 6, VERDICT r5 #6) that
    follows each hook round with a SHORTCUT step ``lbl ← lbl[lbl]``:
    label-chase distances halve every round, so convergence is O(log
    diameter) rounds at the cost of one extra shuffle join per round
    (the wrong default for dense dup blobs that converge in 2-3 hook
    rounds anyway — hence opt-in). Both variants share the invariant
    lbl(u) ≤ u with labels drawn from the component's node ids, so the
    common fixpoint is exactly min-member labeling; tested equal on
    fixture clusters, a 60-node path, and random graphs.

    The per-iteration driver action is a 1-row SUM aggregate used only as
    the convergence test — labels are monotone non-increasing (the
    shortcut only replaces lbl by lbl's own ≤ label), so an unchanged
    label sum IS the fixpoint; no data ever reaches the driver. Labels
    ``localCheckpoint`` per iteration — the same lineage truncation
    GraphX applies to its Pregel loop: without it the returned plan nests
    every prior iteration (thousands of exchanges in the explain tree,
    and an eviction would recompute the whole loop). Deterministic, so
    oracle-checkable (DuckDB recursive-CTE transitive closure).

    Raises RuntimeError if ``max_iter`` rounds pass without reaching the
    fixpoint (round 6 — previously a silent cap-hit returned WRONG,
    partially-propagated labels on high-diameter graphs): either raise
    ``max_iter`` or switch to ``pointer_jump=True``."""
    labels, _iters, converged = _cc_min_label_loop(
        pairs, src, dst, max_iter, pointer_jump
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(detection needs one quiet round, so budget max_iter >= "
            "diameter + 1); raise max_iter or use pointer_jump=True for "
            "O(log diameter) convergence"
        )
    return labels


def _cc_min_label_loop(
    pairs: DataFrame, src: str, dst: str, max_iter: int, pointer_jump: bool
) -> tuple[DataFrame, int, bool]:
    """Shared loop body; returns (labels, rounds_run, converged). Exposed
    separately so tests can assert WHERE each variant converges."""
    from pyspark.storagelevel import StorageLevel

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The per-iteration frames are NOT registered in any cache (round 9,
    # VERDICT r8 #2): the edge persist is released in the finally below,
    # each superseded label frame drops with its last reference at the
    # next rebind, and the RETURNED labels frame is kept alive by the
    # caller's plan alone — registering it only extended its lifetime
    # past the caller's use (retention, not memoization).
    try:
        # LAZY localCheckpoint (round 13): still materializes AND truncates
        # lineage, but the materializing job is the convergence-sum action
        # each iteration already runs — eager=True paid a SECOND job per
        # round just to checkpoint (2 driver actions/iteration → 1; the
        # loop is job-latency-bound at any scale because every round is a
        # barrier). Safe here because exactly one action consumes the
        # frame before the next round's plan references it. (persist()
        # alone keeps lineage — explain still nests every round, and
        # eviction re-runs the whole loop.)
        # FUSED first round (round 13, guide §2.4/§1.2): with identity
        # labels, round 1's "min of my and my neighbors' labels" is just
        # least(node, min(neighbor)) — one groupBy over the edge list, no
        # label join needed yet. Folding it into the initialization
        # removes the separate identity-labels checkpoint + its sum
        # action (one barrier) AND round 1's two joins; the first action
        # computes BOTH sums (post-round-1 labels and the identity
        # baseline = sum of node ids) in one pass, so convergence
        # detection is unchanged: labels are monotone non-increasing and
        # an unchanged sum is the fixpoint, exactly as before.
        new = (
            edges.groupBy("a")
            .agg(F.min("b").alias("nbr_min"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("nbr_min")).alias("lbl"),
            )
        )
        if pointer_jump:
            # round 1's shortcut, same as in the loop below
            new = new.join(
                new.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")),
                "lbl",
                "left",
            ).select("node", F.coalesce("lbl2", F.col("lbl")).alias("lbl"))
        labels = new.localCheckpoint(eager=False)
        # decimal(38,0): exact and overflow-free for ANY bigint label
        # space (hashed ids summed over billions of nodes exceed int64 —
        # ANSI mode would throw, non-ANSI would wrap and could falsely
        # report convergence on a collision; round-8 review catch)
        first = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")),
            F.sum(F.col("node").cast("decimal(38,0)")),
        ).first()
        prev_sum, identity_sum = first[0], first[1]
        rounds = 1
        converged = prev_sum == identity_sum
        for _ in range(max_iter - 1):
            if converged:
                break
            rounds += 1
            nbr_min = (
                edges.join(
                    labels.select(F.col("node").alias("b"), F.col("lbl").alias("nlbl")),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nlbl").alias("nbr_min"))
                .select(F.col("a").alias("node"), "nbr_min")
            )
            new = labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_min", F.col("lbl"))).alias("lbl"),
            )
            if pointer_jump:
                # shortcut: lbl ← lbl[lbl]. Every label IS a node id (labels
                # start as own ids and only ever take mins of labels), so the
                # self-join always matches; coalesce guards regardless.
                new = new.join(
                    new.select(F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")),
                    "lbl",
                    "left",
                ).select("node", F.coalesce("lbl2", F.col("lbl")).alias("lbl"))
            new = new.localCheckpoint(eager=False)  # materialized by the sum
            new_sum = new.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
            labels.unpersist()
            labels = new
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    finally:
        # the returned labels are eagerly checkpointed, so the edge
        # frame's storage is no longer load-bearing for the result
        edges.unpersist()
    return labels, rounds, converged


@_register(
    "dedup_clusters",
    f"""{_DUCK_CAPPED_PAIRS},
        edges AS (SELECT doc_i AS a, doc_j AS b FROM pairs
                  UNION ALL SELECT doc_j, doc_i FROM pairs),
        reach AS (
            WITH RECURSIVE r(node, root) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node)
            SELECT node, root FROM r),
        lbl AS (SELECT node AS doc_id, MIN(root) AS cluster_id
                FROM reach GROUP BY node),
        sz AS (SELECT cluster_id, COUNT(*) AS n FROM lbl GROUP BY cluster_id)
        SELECT l.doc_id, l.cluster_id, CAST(sz.n AS BIGINT) AS cluster_size
        FROM lbl l JOIN sz USING (cluster_id)""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical near-dup CLUSTERS from the advertised capped-Jaccard
    pair stream — the step a production dedup actually needs: pairwise
    output alone can't pick survivors consistently (A~B, B~C must keep
    ONE of {A,B,C}, not drop B twice and keep both A and C). Each doc in
    any qualifying pair gets its component's min doc_id as cluster_id
    (the survivor) plus the cluster size. Transitive closure via
    ``connected_components``; keep-policy = keep doc_id == cluster_id."""
    pairs = capped_jaccard_pairs(load_spread(spark, sf_dir, "documents", "doc_id"))
    labels = connected_components(pairs)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


@_register(
    "dedup_keep_best",
    f"""{_DUCK_CAPPED_PAIRS},
        edges AS (SELECT doc_i AS a, doc_j AS b FROM pairs
                  UNION ALL SELECT doc_j, doc_i FROM pairs),
        reach AS (
            WITH RECURSIVE r(node, root) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node)
            SELECT node, root FROM r),
        lbl AS (SELECT node AS doc_id, MIN(root) AS cluster_id
                FROM reach GROUP BY node),
        q AS (SELECT doc_id, {{quality}} FROM documents),
        ranked AS (
            SELECT l.cluster_id, l.doc_id, q.quality_score,
                   ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                      ORDER BY q.quality_score DESC, l.doc_id)
                     AS rn,
                   COUNT(*) OVER (PARTITION BY l.cluster_id) AS n
            FROM lbl l JOIN q USING (doc_id))
        SELECT cluster_id, doc_id AS survivor_doc_id,
               quality_score AS survivor_quality,
               CAST(n AS BIGINT) AS cluster_size,
               CAST(n - 1 AS BIGINT) AS n_dropped
        FROM ranked WHERE rn = 1""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the decision step AFTER clustering that a corpus
    build actually ships: per near-dup cluster keep the HIGHEST-QUALITY
    member (registered text_quality_score; doc_id breaks exact ties),
    not the arbitrary min-id the cluster label happens to carry. Returns
    one row per cluster: survivor, its quality, cluster size, and how
    many docs the decision drops. Composition of three oracle-checked
    operators (capped-Jaccard pairs → connected components → quality
    argmax) in one lazy plan; the per-cluster argmax is a window over
    the cluster key — partitioned, never global. The quality double is
    bit-identical across engines (same op order), so ordering by it is
    hash-stable. At 100 TB: clusters are tiny dense blobs, so the
    survivor window's partitions are bounded; everything upstream is the
    already-bounded pair/CC machinery."""
    from .text import text_quality_score

    clusters = dedup_clusters(spark, sf_dir)  # doc_id, cluster_id, cluster_size
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("quality_score").alias("survivor_quality"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
    )


# the oracle template splices in the SHARED quality expression after
# module load (text.py owns the single source of truth; importing it at
# module top would be circular-adjacent, and the lazy splice keeps the
# f-string registration above readable)
def _splice_keep_best_oracle() -> None:
    from .text import duck_quality_expr

    # .replace, NOT str.format: the template embeds other spliced SQL
    # (_DUCK_CAPPED_PAIRS, the quality expr) that may legitimately grow a
    # literal '{'/'}' (e.g. a DuckDB struct literal), which would make
    # format() blow up at import time far from the edit site
    # (review-caught, round 4)
    ORACLES["dedup_keep_best"] = ORACLES["dedup_keep_best"].replace(
        "{quality}", duck_quality_expr()
    )


_splice_keep_best_oracle()


@_register(
    "text_ngram_novelty",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
        df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle),
        per_doc AS (
          SELECT s.doc_id,
                 COUNT(*) AS n_shingles,
                 SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
          FROM shingles s JOIN df USING (shingle)
          GROUP BY s.doc_id)
        SELECT doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_unique AS BIGINT) AS n_unique_shingles,
               CAST(n_unique AS DOUBLE) / n_shingles AS novelty
        FROM per_doc""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the inverse of the boilerplate
    signal: the fraction of a doc's distinct 3-gram shingles that occur
    in NO other document (document frequency 1). Low novelty marks
    template/boilerplate-heavy docs whose text is mostly shared
    (navigation chrome, licenses, mirrored passages) — complementary to
    pairwise dedup, which only fires at high overlap with one partner;
    novelty catches death-by-a-thousand-small-overlaps. Same machinery
    as the contamination audit: one shingle-hash df aggregate and one
    equality join back — no pairwise anything, O(corpus shingles) at any
    scale. int/int division in double is bit-exact cross-engine.

    Note the join key is the raw shingle STRING here, not xxhash64(sh):
    the df table must also feed the DuckDB twin, which has no xxhash64 —
    at 100 TB swap both sides to the 8-byte hash exactly as
    ``_capped_shingles`` documents.

    The shingle stream is localCheckpoint-pinned (round-8 review catch):
    it feeds BOTH the df aggregate and the join probe, and unpinned each
    reference re-runs the tokenize + explode over every document — the
    measured 'shingle scan ran 4x' class the baseline's pin note
    documents. Memoized per (session, input plan) since round 9 —
    repeated calls reuse one pinned frame instead of leaking one per
    call (VERDICT r8 #2)."""
    sh = _memo_df(
        _LSH_CACHE,
        "novelty_shingles",
        load(spark, sf_dir, "documents"),
        lambda d: _doc_shingles(d).localCheckpoint(),
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique_shingles",
            (
                F.col("n_unique_shingles").cast("double") / F.col("n_shingles")
            ).alias("novelty"),
        )
    )


# --- MinHash + LSH ---------------------------------------------------------

NUM_PERM = 16
LSH_BANDS = 4  # 4 bands × 4 rows; s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71
_LSH_PAIRS_ROWS = NUM_PERM // LSH_BANDS

# pinned frames of the LSH/novelty/levenshtein family, memoized per
# (session, call site, input plan) via memo_df — round 9, VERDICT r8 #2
_LSH_CACHE = _register_cache()


def minhash_signatures(sh: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, sig: array<bigint>) — k-permutation MinHash where permutation
    k is the seeded hash xxhash64(shingle, k). Deterministic across runs,
    partitionings, and cluster sizes; one groupBy over the shingle stream."""
    hashes = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(k))).alias(f"h{k}")
        for k in range(num_perm)
    ]
    per_doc = sh.groupBy("doc_id").agg(*hashes)
    return per_doc.select(
        "doc_id", F.array(*[F.col(f"h{k}") for k in range(num_perm)]).alias("sig")
    )


def minhash_band_frame(
    docs: DataFrame,
    num_perm: int = NUM_PERM,
    n_bands: int = LSH_BANDS,
    family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bucket) — banded MinHash signatures, THE single
    source of the banding and of both hash families (consolidated in
    round 9 so the cross-engine byte-parity contract cannot drift
    between ``dedup_minhash_lsh_pairs``, the maintained
    ``minhashindex``, and ``duck_minhash_bands_cte``):

    - ``family='xxhash64'`` — production: permutation k is
      xxhash64(shingle, k), buckets the xxhash64 of the band's row
      minima (all JVM-side, 8-byte join keys; no DuckDB twin);
    - ``family='md5'`` — cross-engine: h_k(s) = int(md5(s ‖ ':' ‖
      k)[:15 hex]), buckets the ':'-joined decimal minima — computed
      byte-identically by ``duck_minhash_bands_cte``'s SQL, which is
      what makes the LSH machinery hash-checkable.

    One groupBy over the doc shingles; the explode is n_bands rows per
    doc, never per shingle."""
    if num_perm % n_bands:
        raise ValueError(
            f"num_perm={num_perm} must be divisible by n_bands={n_bands} "
            "— leftover permutations would be silently dropped"
        )
    rows = num_perm // n_bands
    if family == "md5":

        def h_k(k: int):
            return F.conv(
                F.substring(
                    F.md5(F.concat(F.col("shingle"), F.lit(f":{k}"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")

        def bucket(b: int):
            return F.concat_ws(
                ":",
                *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)],
            )

    elif family == "xxhash64":

        def h_k(k: int):
            return F.xxhash64(F.col("shingle"), F.lit(k))

        def bucket(b: int):
            return F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])

    else:
        raise ValueError(f"unknown minhash family: {family!r}")

    per_doc = _doc_shingles(docs).groupBy("doc_id").agg(
        *[F.min(h_k(k)).alias(f"h{k}") for k in range(num_perm)]
    )
    return per_doc.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def duck_minhash_bands_cte(
    num_perm: int = NUM_PERM, rows: int = _LSH_PAIRS_ROWS
) -> str:
    """The hk/sig/bands CTE bodies of the md5 cross-engine family —
    DuckDB's byte-identical twin of ``minhash_band_frame(family='md5')``,
    spliced into every oracle that checks banded-minhash machinery (the
    pairs query and the maintained index's probe). Expects a ``shingles``
    CTE in scope."""
    return f"""hk AS (SELECT doc_id, shingle, k
               FROM shingles CROSS JOIN
                    (SELECT unnest(range({num_perm})) AS k)),
        sig AS (SELECT doc_id, k,
                       MIN(CAST(concat('0x', substr(md5(shingle || ':'
                                || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT))
                         AS h
                FROM hk GROUP BY doc_id, k),
        bands AS (SELECT doc_id, CAST(k // {rows} AS INT) AS band,
                         string_agg(CAST(h AS VARCHAR), ':' ORDER BY k)
                           AS bucket
                  FROM sig GROUP BY doc_id, CAST(k // {rows} AS INT))"""


@_register("dedup_minhash_lsh")  # rows-only: xxhash64 has no DuckDB twin
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE near-dup pairs via MinHash + banded LSH
    (shingle → minhash → band → bucket-join). Pairs agreeing on any full
    band are candidates — the banded equality join replaces the quadratic
    scan; the s-curve (threshold ≈ 0.71 at 4×4) makes low-similarity
    collisions rare but NOT impossible, so the output is a candidate
    stream with possible false positives, not verified duplicates
    (round-8 review: the docstring used to claim an exact-Jaccard
    rescore this query never ran). Rescore candidates with the exact
    capped-Jaccard path when a verified decision is needed; the recall
    contract (every pair sharing a full band surfaces) is what the unit
    tests pin. Output: (doc_i, doc_j, n_bands_matched).

    The bands frame is localCheckpoint-pinned before the self-join
    (round-8 review catch, same measured precedent as dedup_simhash's
    round-6 note: zero ReusedExchange across a self-join means each
    branch re-runs the scan → shingle explode → 16-hash minhash
    aggregation — the dominant cost, paid twice), and memoized per
    (session, input plan) since round 9 so repeated calls reuse one
    pinned frame instead of leaking one per call (VERDICT r8 #2).
    Banding lives in the shared ``minhash_band_frame`` (round-9
    consolidation — one source for the family machinery)."""
    bands = _memo_df(
        _LSH_CACHE,
        "minhash_bands",
        load_spread(spark, sf_dir, "documents", "doc_id"),
        # pin: both self-join branches feed here
        lambda d: minhash_band_frame(d).localCheckpoint(),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
        .orderBy("doc_i", "doc_j")
    )


@_register(
    "dedup_minhash_lsh_pairs",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
        {duck_minhash_bands_cte()}
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
               CAST(COUNT(*) AS BIGINT) AS n_bands_matched
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        ORDER BY 1, 2""",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_lsh``'s HASH-GREEN twin (round 9, VERDICT r8 #6):
    identical MinHash+LSH candidate-pair semantics — permutation k is a
    seeded hash of the shingle, signatures band into {LSH_BANDS} buckets
    of {ROWS} rows, pairs agreeing on any full band surface with their
    band-match count — under a hash family BOTH engines compute:
    h_k(s) = int(md5(s ‖ ':' ‖ k)[:15 hex]) (the house md5-trick of
    corpus_split_assign, widened from 2 to 15 hex digits = 60 bits, so
    min-collisions are as improbable as the xxhash64 family's). The
    production variant stays on xxhash64 (JVM-side, no string building —
    the faster family) with its rows-only driver check; THIS query is
    the differential evidence that the banding/pair machinery itself is
    correct, not just non-empty — the first hash-green row in the LSH
    family. Band buckets are the ':'-joined decimal row minima (Spark
    concat_ws == DuckDB string_agg ORDER BY k — the group-by pivot makes
    the order explicit), so the join keys are byte-identical across
    engines; integers end-to-end, no float anywhere (house rule).

    Scale shape: identical to the production variant — one groupBy for
    the signatures, banded equality self-join, skew bounded by band
    bucket size; the md5 cost is ~{NP}× one digest per shingle row,
    paid in whole-stage codegen. The family formula itself lives in the
    shared ``minhash_band_frame`` (round-9 consolidation), twinned by
    ``duck_minhash_bands_cte``."""
    bands = _memo_df(
        _LSH_CACHE,
        "minhash_bands_md5",
        load_spread(spark, sf_dir, "documents", "doc_id"),
        # pin: both self-join branches feed here
        lambda d: minhash_band_frame(d, family="md5").localCheckpoint(),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
        .orderBy("doc_i", "doc_j")
    )


dedup_minhash_lsh_pairs.__doc__ = dedup_minhash_lsh_pairs.__doc__.format(
    LSH_BANDS=LSH_BANDS, ROWS=_LSH_PAIRS_ROWS, NP=NUM_PERM
)


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 64
# fixture distribution is bimodal: planted near-dups at ≤10, random pairs
# ramp from ~14 — 10 sits in the empty gap
HAMMING_MAX = 10


def _vote_fingerprint(toks: DataFrame, n_bits: int) -> DataFrame:
    """(doc_id, simhash) from (doc_id, h) shingle hashes — the SimHash
    vote aggregation over an EXPLODED hash stream. Vote sum for bit i
    is 2·(count of set bits) − n, so "vote > 0" is "2·b_i > n" — one
    plain bit-sum per bit plus one shared count beats n_bits CASE-WHEN
    aggregations in codegen cost, same fingerprint.

    A scan-side array + Arrow vote form removes this groupBy's exchange
    but lost at fixture scale and at 20× (OPTIMIZATION_r13.md,
    OPTIMIZATION_r14.md): its interpreted per-element higher-order-function
    work costs more than the ~520 B/doc partial-sum shuffle it saves."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(n_bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    bits = [
        F.when(
            2 * F.col(f"b{i}") > F.col("n"), F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(n_bits)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc.bitwiseOR(b)
    return per_doc.select("doc_id", acc.alias("simhash"))


def simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, simhash: bigint) — 64-bit SimHash: each distinct word-3-gram
    shingle votes ±1 per bit of its xxhash64; sign of the vote sum sets the
    bit. Shingles (not unigrams) carry word order, so documents sharing a
    small vocabulary still separate. Built from explode + groupBy + bit
    arithmetic, all JVM-side (``_vote_fingerprint``)."""
    toks = _doc_shingles(d).select("doc_id", F.xxhash64(F.col("shingle")).alias("h"))
    return _vote_fingerprint(toks, SIMHASH_BITS)


SIMHASH_BITS_MD5 = 60  # 15 md5 hex chars — the cross-engine family's width


def simhash_fingerprints_md5(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) under the CROSS-ENGINE md5 family (round 10 —
    the ``dedup_minhash_lsh_pairs`` trick applied to SimHash): shingle
    hash = int(md5(shingle)[:15 hex]) gives 60 deterministic bits DuckDB
    computes byte-identically, and the vote aggregation is pure integer
    arithmetic, so the full fingerprint — and therefore every Hamming
    distance — is engine-exact. The top 4 bits of the 64-bit word stay
    zero: harmless to the pigeonhole blocking (bits that never flip
    weaken nothing) and to bit_count. Same exploded-groupBy form as the
    xxhash64 face."""
    toks = _doc_shingles(d).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    return _vote_fingerprint(toks, SIMHASH_BITS_MD5)


def simhash_block_keys(
    fp: DataFrame, n_chunks: int, n_exact_chunks: int
) -> DataFrame:
    """(doc_id, simhash, combo, val) — one row per (doc, m-combination of
    chunk positions), the equality-join blocking keys of
    ``simhash_blocked_pairs``. Factored out so the caller can persist the
    exploded frame once and feed BOTH self-join branches from it (the
    r6 bench fix: without it each branch re-runs the C(c,m)-way explode)."""
    base, rem = divmod(64, n_chunks)
    widths = [base + 1 if k < rem else base for k in range(n_chunks)]
    offsets = [sum(widths[:k]) for k in range(n_chunks)]

    def _chunk(k: int):
        return F.shiftrightunsigned(F.col("simhash"), offsets[k]).bitwiseAND(
            F.lit((1 << widths[k]) - 1)
        )

    from itertools import combinations

    combos = list(combinations(range(n_chunks), n_exact_chunks))
    keys = F.array(
        *[
            F.struct(
                F.lit(ci).alias("combo"),
                # pack the combo's chunk values into one 64-bit key
                sum(
                    (_chunk(k) * F.lit(1 << (16 * slot)) for slot, k in enumerate(combo)),
                    F.lit(0).cast("bigint"),
                ).alias("val"),
            )
            for ci, combo in enumerate(combos)
        ]
    )
    return fp.select("doc_id", "simhash", F.explode(keys).alias("c")).select(
        "doc_id", "simhash", F.col("c.combo").alias("combo"), F.col("c.val").alias("val")
    )


def simhash_blocked_pairs(
    fp: DataFrame,
    hamming_max: int = HAMMING_MAX,
    n_chunks: int = 12,
    n_exact_chunks: int = 2,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming ≤ ``hamming_max`` via multi-chunk
    blocking (Manku et al., WWW'07 shape) — EQUALITY joins only, no
    all-pairs scan.

    Pigeonhole guarantee: partition the 64 fingerprint bits into
    ``n_chunks`` chunks; at most ``hamming_max`` chunks contain a flipped
    bit, so at least ``n_chunks - hamming_max`` chunks match EXACTLY. If
    ``n_chunks - hamming_max ≥ n_exact_chunks`` (= m), every qualifying
    pair agrees on at least one specific m-combination of chunk positions
    — blocking on (combo_id, values...) keys has 100% recall, and the
    exact ``bit_count(xor)`` rescore removes false positives. (A plain
    4×16-bit single-chunk split only guarantees recall for hamming ≤ 3:
    ten flips can touch all four chunks, e.g. 3+3+2+2.)

    Selectivity / scale: a random pair collides on an m-combo key with
    probability ~2^-(m·64/n_chunks), so candidate volume ≈
    n²/2 · C(n_chunks, m) · 2^-(m·64/c). The registered demo (threshold
    10, fixture gap at 11-13) uses c=12, m=2: 66 keys of ~11 bits —
    ~30× fewer false candidates than the single-chunk c=16 split, at the
    cost of a 66-row/doc explode (cheap: keys are bytes). The classic
    production near-dup setting (hamming ≤ 3) uses c=4, m=1: 4 keys of 16
    bits, 2⁻¹⁶ selectivity. Keys are equality-join buckets, so AQE skew
    handling applies; nothing is broadcast-nested-loop."""
    # if/raise, not assert: these two conditions ARE the 100%-recall
    # guarantee, and assert vanishes under python -O — the contract would
    # then fail silently as missing pairs (round-8 review catch)
    if n_chunks - hamming_max < n_exact_chunks:
        raise ValueError(
            "pigeonhole needs n_chunks - hamming_max >= n_exact_chunks"
        )
    if 16 * (n_exact_chunks - 1) + (64 + n_chunks - 1) // n_chunks > 63:
        raise ValueError(
            "packed combo key must fit a signed 64-bit slot layout"
        )
    # uneven chunk widths are fine — any partition of the 64 bits works
    if blocks is None:
        blocks = simhash_block_keys(fp, n_chunks, n_exact_chunks)
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # rescore BEFORE distinct: the hamming filter drops almost every false
    # candidate map-side, so the distinct shuffles only qualifying pairs
    # (duplicated ≤ C(n_chunks, m) times), not the full candidate stream
    return (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_i"),
            F.col("b.doc_id").alias("doc_j"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()  # a pair can match on several combo keys
    )


def _simhash_allpairs(fp: DataFrame, hamming_max: int = HAMMING_MAX) -> DataFrame:
    """Exact all-pairs reference (BroadcastNestedLoopJoin on 8-byte
    fingerprints) — kept ONLY as the test-side oracle for the blocked
    variant; never registered as the queryable surface."""
    a, b = fp.alias("a"), fp.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_i"),
            F.col("b.doc_id").alias("doc_j"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
    )


@_register("dedup_simhash")  # rows-only: xxhash64 has no DuckDB twin
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 10, computed by the
    recall-guaranteed chunk-blocked equality-join path (see
    ``simhash_blocked_pairs``); output is identical to the all-pairs scan
    by the pigeonhole argument, with no nested-loop join in the plan.

    The fingerprint sketch is persisted before the self-join: both join
    branches would otherwise recompute the 64-bit-vote aggregation over
    the full shingle stream (measured 2× the query cost). The sketch is 16
    bytes/doc — cacheable at any corpus scale (a real pipeline writes it
    to a table once and pair-searches many times). The exploded 66-key
    BLOCK frame is persisted too (round 6): the plan showed zero
    ReusedExchange, so each self-join branch re-ran the C(12,2)-way
    explode — pinning it feeds both branches from one in-memory table
    (measured ~1.1× faster with a visibly tighter spread at sf0.1; the
    frame is ~24 bytes × 66 per doc, still sketch-scale, never
    corpus-text-scale). Both artifacts are MEMOIZED per (session, sf_dir)
    so repeated invocations reuse one cache entry instead of leaking a
    new one per call (review-caught)."""
    fp = _cached_fingerprints(spark, sf_dir)
    return simhash_blocked_pairs(fp, blocks=_cached_block_keys(spark, sf_dir, fp)).orderBy(
        "doc_i", "doc_j"
    )


@_register(
    "dedup_simhash_md5_pairs",
    f"""WITH shingles AS ({_DUCK_SHINGLES}),
    hs AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h
        FROM shingles),
    votes AS (
        SELECT doc_id, b.b AS bit,
               2 * SUM((h >> b.b) & 1) - COUNT(*) AS vote
        FROM hs CROSS JOIN range(60) b(b)
        GROUP BY 1, 2),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0
                             THEN (CAST(1 AS BIGINT) << bit)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1)
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    ORDER BY 1, 2""",
)
def dedup_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under the CROSS-ENGINE md5 family — the
    first hash-green row for the SimHash machinery (the production
    xxhash64 face ``dedup_simhash`` stays rows-only: no engine-neutral
    xxhash64). The Spark side runs the SAME recall-guaranteed
    chunk-blocked equality-join path as production
    (``simhash_blocked_pairs``, Manku et al. pigeonhole — no all-pairs
    scan); the oracle computes fingerprints + exact all-pairs Hamming
    closed-form in DuckDB. A hash match therefore pins BOTH the
    fingerprint pipeline (shingling, 60-bit md5 hashes, vote signs, bit
    packing) AND the blocking's 100%-recall contract: a pair the
    blocked join missed, or a vote flipped by engine drift, breaks row
    values."""
    fp = simhash_fingerprints_md5(
        load_spread(spark, sf_dir, "documents", "doc_id")
    ).localCheckpoint()  # pin: both self-join branches reuse one vote pass
    return simhash_blocked_pairs(fp).orderBy("doc_i", "doc_j")


_FP_CACHE = _register_cache()
_BLOCKS_CACHE = _register_cache()


def _cached_block_keys(spark: SparkSession, sf_dir: str, fp: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    key = (_session_key(spark), sf_dir)
    blocks = _BLOCKS_CACHE.get(key)
    if blocks is None:
        blocks = simhash_block_keys(fp, n_chunks=12, n_exact_chunks=2).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # materialize ONCE before the self-join consumes it (round 13):
        # a lazy persist referenced by both self-join branches is computed
        # by two CONCURRENT map stages — each races to fill the cache, so
        # the fingerprint vote chain runs (up to) twice and the two copies
        # fight for the same cores. One count() pays one job and fills
        # both this cache and the fingerprint persist beneath it.
        blocks.count()
        _BLOCKS_CACHE[key] = blocks
    return blocks


def _cached_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    key = (_session_key(spark), sf_dir)
    fp = _FP_CACHE.get(key)
    if fp is None:
        # load_spread (round 13): the shingle explode + 64-bit vote
        # aggregation is scan-side work a single-row-group file serializes
        # on one core (guide §2.5); no-op at real input sizes
        fp = simhash_fingerprints(
            load_spread(spark, sf_dir, "documents", "doc_id")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _FP_CACHE[key] = fp
    return fp


# --- incremental dedup (new batch vs existing corpus) ----------------------

INCOMING_MOD = 5  # doc_id % 5 == 0 plays the "newly arrived batch" role


@_register(
    "dedup_incremental",
    f"""WITH incoming AS (SELECT * FROM documents WHERE doc_id % {INCOMING_MOD} = 0),
        corpus AS (SELECT * FROM documents WHERE doc_id % {INCOMING_MOD} <> 0),
        shingles AS ({_DUCK_SHINGLES}),
        sdf AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df
                FROM shingles GROUP BY shingle),
        kept AS (SELECT s.doc_id, s.shingle FROM shingles s
                 JOIN sdf USING (shingle) WHERE sdf.df <= {DF_CAP}),
        inc_sh AS (SELECT k.* FROM kept k WHERE k.doc_id % {INCOMING_MOD} = 0),
        cor_sh AS (SELECT k.* FROM kept k WHERE k.doc_id % {INCOMING_MOD} <> 0),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        near AS (
            SELECT DISTINCT a.doc_id
            FROM inc_sh a JOIN cor_sh b ON a.shingle = b.shingle
            JOIN counts ca ON ca.doc_id = a.doc_id
            JOIN counts cb ON cb.doc_id = b.doc_id
            GROUP BY a.doc_id, b.doc_id, ca.n, cb.n
            HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n + cb.n - COUNT(*)) >= {JACCARD_THRESHOLD})
        SELECT i.doc_id,
               CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(i.text))
                      THEN 'exact_dup'
                    WHEN EXISTS (SELECT 1 FROM near n WHERE n.doc_id = i.doc_id)
                      THEN 'near_dup'
                    ELSE 'unique' END AS verdict
        FROM incoming i""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape of a CONTINUOUSLY GROWING corpus: a
    newly arrived batch (here doc_id % 5 == 0 plays that role) is deduped
    against the existing snapshot, not against itself. Verdict per incoming
    doc: 'exact_dup' (md5 hit in the corpus), 'near_dup' (CAPPED
    word-3-gram Jaccard ≥ 0.8 against some corpus doc via the
    stop-shingle inverted-index join — incoming×corpus only, never
    corpus×corpus, and DF_CAP bounds the fan-out per batch shingle, so
    the per-batch cost is |batch|-proportional under ANY corpus skew
    (round-8 review catch: the uncapped form's cost grew with corpus
    document frequency — the exact skew bomb the capped flagship path
    exists to remove; Jaccard is over the capped sets, the house
    production semantics)),
    else 'unique'. In production the corpus side's digests/shingle index
    are precomputed tables maintained across batches; the plan shape —
    semi-join on digest, then candidate-join on shingle hash — is
    identical."""
    d = load(spark, sf_dir, "documents")
    # the incoming batch is referenced by the exact probe AND the final
    # verdict join; the shingle stream by three subtrees (per-doc counts
    # + both join sides). Spark re-expands referenced subtrees, so the
    # unpinned form re-tokenized documents 3x and re-scanned the batch
    # filter twice (measured 7 scans; now 3 — batch, corpus-digest,
    # shingles, each built exactly once). The batch is |batch|-sized and
    # the shingle table is the index artifact production maintains
    # anyway, so both pins are the deployment shape, not a test crutch.
    incoming = d.filter(F.col("doc_id") % INCOMING_MOD == 0).localCheckpoint()
    corpus = d.filter(F.col("doc_id") % INCOMING_MOD != 0)

    exact_hits = incoming.join(
        corpus.select(F.md5("text").alias("h")).distinct(),
        F.md5(incoming["text"]) == F.col("h"),
        "left_semi",
    ).select("doc_id")

    # capped shingles (stop-shingle DF_CAP, already pinned + cached by
    # the shared helper): counts and both join sides are over the CAPPED
    # sets, mirroring the oracle's kept CTE. The shingle chain gets the
    # load_spread scan (round 13, guide §2.5) — ONLY this subtree: the
    # digest probe and the verdict join are shuffle-light, and routing
    # them through the spread exchange cost more than the single-task
    # scan saved (measured both ways)
    sh_all = _capped_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
    counts = sh_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inc_sh = sh_all.filter(F.col("doc_id") % INCOMING_MOD == 0)
    cor_sh = sh_all.filter(F.col("doc_id") % INCOMING_MOD != 0)
    # sides are disjoint, so no ordered doc_i < doc_j guard
    near_hits = (
        jaccard_pairs(inc_sh, cor_sh, counts, ordered=False)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_i").alias("doc_id"))
        .distinct()
    )

    return incoming.select("doc_id").join(
        exact_hits.withColumn("_e", F.lit(1)), "doc_id", "left"
    ).join(near_hits.withColumn("_n", F.lit(1)), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("_e") == 1, "exact_dup")
        .when(F.col("_n") == 1, "near_dup")
        .otherwise("unique")
        .alias("verdict"),
    )


# --- contamination detection (train vs benchmark) ---------------------------

BENCH_MOD = 50  # doc_id % 50 == 0 plays the "held-out benchmark" role


@_register(
    "corpus_contamination",
    f"""WITH sh AS ({_DUCK_SHINGLES}),
        bench AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} = 0),
        train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
        cont AS (
          SELECT b.doc_id, COUNT(*) AS n_cont
          FROM bench b JOIN train t USING (shingle)
          GROUP BY b.doc_id),
        tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM bench GROUP BY doc_id)
        SELECT tot.doc_id,
               CAST(tot.n_sh AS BIGINT) AS n_shingles,
               CAST(COALESCE(cont.n_cont, 0) AS BIGINT) AS n_contaminated,
               CAST(COALESCE(cont.n_cont, 0) AS DOUBLE) / tot.n_sh AS contamination_ratio
        FROM tot LEFT JOIN cont ON cont.doc_id = tot.doc_id""",
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection — the pre-training audit that
    asks, for every held-out evaluation document, what fraction of its
    word-3-grams also appears anywhere in the training corpus (the
    n-gram-overlap method LLM data teams run before training; docs with
    high overlap are leaked benchmark material). ``doc_id % BENCH_MOD``
    plays the benchmark role against the rest as the training side.

    Scale shape: both sides reduce to hashed-shingle streams; the
    training side is distinct-deduped and the probe is ONE equality join
    on the 8-byte hash — shuffle-on-key, benchmark-side small, never a
    pairwise document comparison. int/int division in double keeps the
    ratio bit-exact cross-engine."""
    sh = _doc_shingles(load(spark, sf_dir, "documents")).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    bench = sh.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = sh.filter(F.col("doc_id") % BENCH_MOD != 0).select("sh").distinct()
    cont = (
        bench.join(train, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )
    tot = bench.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return tot.join(cont, "doc_id", "left").select(
        "doc_id",
        F.col("n_sh").cast("bigint").alias("n_shingles"),
        F.coalesce(F.col("n_cont"), F.lit(0)).cast("bigint").alias("n_contaminated"),
        (F.coalesce(F.col("n_cont"), F.lit(0)).cast("double") / F.col("n_sh")).alias(
            "contamination_ratio"
        ),
    )


@_register(
    "corpus_source_overlap",
    f"""{_DUCK_CAPPED_PAIRS}
       SELECT least(si.source, sj.source) AS source_a,
              greatest(si.source, sj.source) AS source_b,
              CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
       FROM pairs p
       JOIN documents si ON si.doc_id = p.doc_i
       JOIN documents sj ON sj.doc_id = p.doc_j
       GROUP BY 1, 2""",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level duplication matrix: aggregate the capped-Jaccard
    near-dup PAIR STREAM up to source granularity — (source_a, source_b,
    n_dup_pairs), diagonal included — the audit that tells a curator
    whether duplication lives INSIDE a crawl (diagonal mass → dedup within
    source, cheap) or BETWEEN crawls re-hosting each other (off-diagonal
    mass → cross-source canonicalization needed, and which source to keep).
    Shape: the pair stream is already skew-bounded (DF_CAP); mapping
    doc→source is two joins against the (doc_id, source) projection —
    hash joins on doc_id, broadcast when the doc-dim fits, shuffle-on-key
    otherwise; the result is at most S² rows. Pair order is normalized
    with least/greatest so the matrix is triangular in BOTH engines."""
    pairs = capped_jaccard_pairs(load_spread(spark, sf_dir, "documents", "doc_id"))
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    si, sj = src.alias("si"), src.alias("sj")
    return (
        pairs.join(si, F.col("doc_i") == F.col("si.doc_id"))
        .join(sj, F.col("doc_j") == F.col("sj.doc_id"))
        .groupBy(
            F.least(F.col("si.source"), F.col("sj.source")).alias("source_a"),
            F.greatest(F.col("si.source"), F.col("sj.source")).alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


LEV_PREFIX = 16      # blocking prefix length (normalized chars)
LEV_CAP = 256        # edit distance computed on at most this many chars
LEV_NEAR = 40        # near-dup threshold on the capped distance
# The length band equals the distance threshold and is measured on the
# CAPPED NORMALIZED length (review-caught, round 5): capped distance >=
# |capped-length difference|, so a band of LEV_NEAR on that quantity
# removes ONLY pairs that cannot reach the threshold — the earlier band
# (24 raw chars, tighter than the threshold, on the un-normalized length)
# could prune genuine near-dups, including whitespace-only variants that
# normalize identical.


@_register(
    "dedup_levenshtein_blocked",
    f"""WITH d AS (
         SELECT doc_id, lang,
                lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm,
                length(text) AS n
         FROM documents),
       dc AS (
         SELECT doc_id, lang, norm, n,
                LEAST(length(norm), {LEV_CAP}) AS nc
         FROM d)
       SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
              CAST(levenshtein(substring(a.norm, 1, {LEV_CAP}),
                               substring(b.norm, 1, {LEV_CAP})) AS BIGINT)
                AS lev_dist,
              a.n AS len_i, b.n AS len_j,
              levenshtein(substring(a.norm, 1, {LEV_CAP}),
                          substring(b.norm, 1, {LEV_CAP})) <= {LEV_NEAR}
                AS is_near
       FROM dc a JOIN dc b
         ON a.lang = b.lang
        AND substring(a.norm, 1, {LEV_PREFIX}) = substring(b.norm, 1, {LEV_PREFIX})
        AND a.doc_id < b.doc_id
        AND abs(a.nc - b.nc) <= {LEV_NEAR}""",
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection with prefix blocking — the
    character-level member of the dedup cascade (exact hash < edit
    distance < n-gram Jaccard < MinHash in granularity): catches
    small-patch variants (typo fixes, one-line edits) that shingle
    overlap scores as highly similar but exact hashing misses entirely.

    Scale shape: levenshtein is O(m·n) per PAIR, so the whole design is
    about never running it on unblocked pairs — candidates must share
    (lang, first-{p} normalized chars) via an EQUALITY self-join (shuffle
    on the block key, no cross join) and sit within ±{b} chars of CAPPED
    NORMALIZED length (capped distance ≥ |capped-length difference|, so
    outside the band the threshold is unreachable — the band removes
    ONLY guaranteed-negatives of the reported metric, measured on the
    same normalized text the distance runs on).
    The distance itself runs on {c}-char prefixes — a constant cost cap,
    JVM-side (``F.levenshtein``, whole-stage codegen; the same classic DP
    DuckDB's ``levenshtein`` runs, so the integer distances are exact on
    both engines). Block-key skew = boilerplate prefixes; at 100 TB the
    DF_CAP stop-shingle precedent applies (drop blocks above a cap —
    a block that common is boilerplate, not a dup cluster).

    Normalization is lowercase + whitespace-squeeze, shared with the
    shingle machinery; the only dialect split is DuckDB's explicit 'g'
    flag for global regexp_replace (Spark replaces all matches by
    default).

    The normalized frame is localCheckpoint-pinned before the self-join
    (round-8 review catch): unpinned, each branch re-ran the documents
    scan plus the regex normalization over the full corpus text — the
    measured zero-ReusedExchange self-join class. Memoized per
    (session, input plan) since round 9 — repeated calls reuse one
    pinned frame instead of leaking one per call (VERDICT r8 #2)."""
    d = _memo_df(
        _LSH_CACHE,
        "lev_norm",
        load(spark, sf_dir, "documents"),
        lambda docs: docs.select(
            "doc_id",
            "lang",
            F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")).alias("norm"),
            F.length("text").alias("n"),
        )
        .withColumn("nc", F.least(F.length("norm"), F.lit(LEV_CAP)))
        .localCheckpoint(),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(
        F.substring(F.col("a.norm"), 1, LEV_CAP),
        F.substring(F.col("b.norm"), 1, LEV_CAP),
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (
                F.substring(F.col("a.norm"), 1, LEV_PREFIX)
                == F.substring(F.col("b.norm"), 1, LEV_PREFIX)
            )
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.nc") - F.col("b.nc")) <= LEV_NEAR),
        )
        .select(
            F.col("a.doc_id").alias("doc_i"),
            F.col("b.doc_id").alias("doc_j"),
            dist.cast("bigint").alias("lev_dist"),
            F.col("a.n").alias("len_i"),
            F.col("b.n").alias("len_j"),
            (dist <= F.lit(LEV_NEAR)).alias("is_near"),
        )
    )


dedup_levenshtein_blocked.__doc__ = dedup_levenshtein_blocked.__doc__.format(
    p=LEV_PREFIX, b=LEV_NEAR, c=LEV_CAP
)


# ---------------------------------------------------------------------------
# cross-split leakage report (round 6) — decontamination across train/val/
# test: the check a dataset release runs AFTER splitting and AFTER dedup
# ---------------------------------------------------------------------------

def _leakage_oracle() -> str:
    from .text import duck_split_expr

    return f"""{_DUCK_CAPPED_PAIRS},
       assign AS (SELECT doc_id, {duck_split_expr('doc_id')} AS split
                  FROM documents),
       tagged AS (
         SELECT LEAST(sa.split, sb.split) AS split_a,
                GREATEST(sa.split, sb.split) AS split_b
         FROM pairs p
         JOIN assign sa ON sa.doc_id = p.doc_i
         JOIN assign sb ON sb.doc_id = p.doc_j)
       SELECT split_a, split_b, COUNT(*) AS n_pairs,
              split_a <> split_b AS is_leak
       FROM tagged GROUP BY split_a, split_b"""


@_register("split_leakage_report", _leakage_oracle())
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split CONTAMINATION audit: near-duplicate pairs (the
    advertised capped-Jaccard stream) whose two members landed in
    DIFFERENT train/val/test splits — the leakage an eval is silently
    inflated by when splitting happens before (or without) dedup, and
    the per-release gate a serious dataset card publishes. Reuses the
    EXACT split assignment of ``corpus_split_assign`` (shared
    md5-prefix constants — the two queries cannot disagree about
    membership) and the exact pair stream, so a reported leak is a
    provable one, not a sketch estimate. Pairs are normalized to an
    unordered (split_a ≤ split_b) key; within-split dup pairs report
    alongside as the is_leak=false rows, giving the full dup-mass
    breakdown by split topology in one result. Scale shape: the pair
    stream is the bounded equality-join output; the assign frame is a
    map-side md5 over doc ids joined twice on doc_id — at 100 TB both
    joins ride the same hash key, and everything after the pair stream
    is |pairs|-sized."""
    from .text import split_assign_col

    docs = load(spark, sf_dir, "documents")
    pairs = capped_jaccard_pairs(docs)
    assign = docs.select(
        "doc_id", split_assign_col(F.col("doc_id")).alias("split")
    )
    tagged = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("doc_i"), F.col("split").alias("split_i")
            ),
            "doc_i",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("doc_j"), F.col("split").alias("split_j")
            ),
            "doc_j",
        )
        .select(
            F.least("split_i", "split_j").alias("split_a"),
            F.greatest("split_i", "split_j").alias("split_b"),
        )
    )
    return tagged.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.col("split_a") != F.col("split_b")).alias("is_leak"),
    )


# ---------------------------------------------------------------------------
# exact substring dedup — shared token WINDOWS across documents (round 13)
# ---------------------------------------------------------------------------

SUBSTR_W = 8  # window length in tokens
SUBSTR_DF_CAP = 64  # windows in more docs than this are boilerplate

# memoized, pinned window frames (round 13) — one persisted entry per
# (input plan, w), released by clear_caches like every sketch artifact
_SUBSTR_CACHE = _register_cache()


def substring_window_pairs(
    docs: DataFrame,
    w: int = SUBSTR_W,
    df_cap: int = SUBSTR_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING dedup, the training-data shape published as
    ExactSubstr in "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., 2022): two documents sharing any verbatim run
    of ≥ w tokens are near-dups the set-similarity faces can miss — a
    long quoted passage inside two otherwise-different pages keeps
    Jaccard low while being exactly the memorization-risk overlap the
    paper removes. The suffix-array formulation is a single-machine
    algorithm; the Spark-first equivalent is the W-TOKEN WINDOW
    inverted index: every document emits its length-w token windows
    (all of them — a shared run of L ≥ w tokens shares L - w + 1
    consecutive windows, so recall is exact by construction), windows
    become an inverted index, and documents co-occurring under a window
    pair up with ``n_shared_windows`` counting their distinct shared
    windows (= L - w + 1 for a single shared run — the run length is
    recoverable as n + w - 1).

    Scale: explode is O(total tokens); everything after is bounded by
    the ``df_cap`` stop-window rule (the ``DF_CAP`` stop-shingle
    precedent): a window in more than ``df_cap`` documents is
    boilerplate (licence headers, navigation chrome) contributing
    O(df²) candidate pairs and no dedup signal — dropped BEFORE the
    self-join, so worst-case candidates are df_cap²/window under ANY
    skew. The join key is ``xxhash64`` of the window, not the window
    string (the inverted-index precedent at ``dedup_ngram_jaccard_
    baseline``: same pairs at ~1e-9 64-bit collision odds, ~w× less
    shuffle volume than shipping w-token strings). The window frame
    feeds the df-count, and both self-join sides — localCheckpoint-
    pinned like ``_capped_shingles``, one explode instead of three.
    Output: (doc_i, doc_j, n_shared_windows), doc_i < doc_j."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("t"),
    ).filter(F.size("t") >= w)
    # pinned window frame (feeds the df-count AND both self-join sides),
    # memoized (house memo_df pattern, round 13) so repeated calls reuse
    # ONE entry instead of building one per call; the tag carries w
    # because the memo key only sees the input plan
    wins = _memo_df(
        _SUBSTR_CACHE,
        f"substr_wins_{w}",
        toks,
        lambda tk: tk.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {w - 1}),"
                    f" g -> xxhash64(concat_ws(' ', slice(t, g, {w}))))"
                )
            ).alias("wh"),
        )
        .distinct()
        .localCheckpoint(),
    )
    shared = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("df"))  # (doc, wh) distinct ⇒ df
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("wh")
    )
    kept = wins.join(shared, "wh")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, "wh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
    )


@_register(
    "dedup_substring_windows",
    f"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
          FROM documents),
        wins AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[g : g + {SUBSTR_W - 1}], ' ') AS win
          FROM toks, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(t) - {SUBSTR_W - 1}, 0))) AS g) s),
        shared AS (
          SELECT win FROM wins GROUP BY win
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SUBSTR_DF_CAP})
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
               CAST(COUNT(*) AS BIGINT) AS n_shared_windows
        FROM wins a JOIN shared s USING (win)
        JOIN wins b USING (win)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2""",
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for ``substring_window_pairs`` — the oracle joins on
    the window STRING while Spark joins on its xxhash64 (the documented
    inverted-index key optimization), so a hash match also witnesses
    collision-freeness at fixture scale. Pairs and their
    ``n_shared_windows`` counts must agree exactly: a window dropped by
    an off-by-one in the slice bounds, a tokenizer divergence, or a
    stop-window cap applied on the wrong side of the pair join all
    break row values."""
    return substring_window_pairs(load_spread(spark, sf_dir, "documents", "doc_id"))


def substring_duplicate_spans(
    docs: DataFrame,
    w: int = SUBSTR_W,
    df_cap: int = SUBSTR_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The CUT-side face of exact substring dedup (the companion of
    ``substring_window_pairs``): per document, the merged token spans
    covered by windows that also appear in OTHER documents — what
    ExactSubstr (Lee et al., 2022) removes from the training corpus.
    Cross-doc semantics: a window repeated only WITHIN one document
    does not flag (the df count is distinct documents), matching the
    pair face's contract. Flagged window START positions merge into
    spans wherever their w-token ranges overlap or touch (gap ≤ w in
    start positions) — a single shared run of L tokens comes back as
    ONE span of exactly L tokens, two runs separated by novel text come
    back separate. Output: (doc_id, span_start, span_end, n_tokens),
    token positions 1-based inclusive.

    Scale: the window explode and df-cap are the pair face's (one
    explode, stop windows dropped); the span merge is a LAG + running
    SUM over (doc, position) — partitioned by document, so the window
    state is one document's flagged positions, never corpus-wide."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("t"),
    ).filter(F.size("t") >= w)
    # pinned window frame (feeds the df count AND the flagged join),
    # memoized like the pair face's frame (round 13)
    wins = _memo_df(
        _SUBSTR_CACHE,
        f"substr_wins_pos_{w}",
        toks,
        lambda tk: tk.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {w - 1}),"
                    f" g -> struct(g AS g,"
                    f" xxhash64(concat_ws(' ', slice(t, g, {w}))) AS wh))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.g").alias("g"), F.col("x.wh").alias("wh"))
        .localCheckpoint(),
    )
    shared = (
        wins.select("doc_id", "wh")
        .distinct()
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("wh")
    )
    flagged = wins.join(shared, "wh").select("doc_id", "g")
    wd = W.partitionBy("doc_id").orderBy("g")
    return (
        flagged.withColumn("prev_g", F.lag("g").over(wd))
        .withColumn(
            "new_run",
            F.when(
                F.col("prev_g").isNull() | (F.col("g") - F.col("prev_g") > w),
                1,
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("new_run").over(wd))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("g").cast("bigint").alias("span_start"),
            (F.max("g") + (w - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


@_register(
    "dedup_substring_spans",
    f"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, g,
                 array_to_string(t[g : g + {SUBSTR_W - 1}], ' ') AS win
          FROM toks, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(t) - {SUBSTR_W - 1}, 0))) AS g) s),
        shared AS (
          SELECT win FROM wins GROUP BY win
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SUBSTR_DF_CAP}),
        flagged AS (
          SELECT w.doc_id, w.g FROM wins w JOIN shared USING (win)),
        islands AS (
          SELECT doc_id, g,
                 SUM(CASE WHEN prev_g IS NULL OR g - prev_g > {SUBSTR_W}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY g) AS grp
          FROM (SELECT doc_id, g,
                       LAG(g) OVER (PARTITION BY doc_id ORDER BY g) AS prev_g
                FROM flagged))
        SELECT doc_id,
               CAST(MIN(g) AS BIGINT) AS span_start,
               CAST(MAX(g) + {SUBSTR_W - 1} AS BIGINT) AS span_end,
               CAST(MAX(g) + {SUBSTR_W - 1} - MIN(g) + 1 AS BIGINT) AS n_tokens
        FROM islands GROUP BY doc_id, grp""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for ``substring_duplicate_spans`` — same
    string-vs-xxhash64 oracle asymmetry as the pair face. A span's
    start/end/width depends on every flagged position and the merge
    rule, so an off-by-one in the slice, a dropped window, or a wrong
    island boundary (merging disjoint runs, splitting one run) all
    break row values."""
    return substring_duplicate_spans(load_spread(spark, sf_dir, "documents", "doc_id"))


def substring_dedup_cut(
    docs: DataFrame,
    w: int = SUBSTR_W,
    df_cap: int = SUBSTR_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY the span report: each document minus the token ranges
    ``substring_duplicate_spans`` flags — the actual corpus-cleaning
    step of ExactSubstr dedup (detect pairs → report spans → CUT). The
    output text is rebuilt from the LOWERCASED tokenizer's tokens
    (whitespace-normalized — the tokenization is already the dedup
    contract's canonical form), with surviving tokens in original
    order. A document entirely covered by duplicated spans drops from
    the output (it IS the duplicate); documents with nothing flagged
    come back whole with ``n_removed = 0``. Output:
    (doc_id, clean_text, n_removed).

    Scale: span positions explode to O(duplicated tokens), the
    anti-join is (doc_id, pos) equality, and the rebuild is one
    per-document sort of its surviving tokens (array_sort over a
    collect_list of (pos, tok) structs — document-bounded state,
    deterministic regardless of shuffle order)."""
    spans = substring_duplicate_spans(
        docs, w=w, df_cap=df_cap, id_col=id_col, text_col=text_col
    )
    cutpos = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    tokpos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    n_cut = cutpos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    return (
        tokpos.join(cutpos, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text")
        )
        .join(n_cut, "doc_id", "left")
        .select(
            "doc_id",
            "clean_text",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        )
    )


@_register(
    "dedup_substring_cut",
    f"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, g,
                 array_to_string(t[g : g + {SUBSTR_W - 1}], ' ') AS win
          FROM toks, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(t) - {SUBSTR_W - 1}, 0))) AS g) s),
        shared AS (
          SELECT win FROM wins GROUP BY win
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SUBSTR_DF_CAP}),
        flagged AS (
          SELECT w.doc_id, w.g FROM wins w JOIN shared USING (win)),
        islands AS (
          SELECT doc_id, g,
                 SUM(CASE WHEN prev_g IS NULL OR g - prev_g > {SUBSTR_W}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY g) AS grp
          FROM (SELECT doc_id, g,
                       LAG(g) OVER (PARTITION BY doc_id ORDER BY g) AS prev_g
                FROM flagged)),
        spans AS (
          SELECT doc_id, MIN(g) AS s, MAX(g) + {SUBSTR_W - 1} AS e
          FROM islands GROUP BY doc_id, grp),
        cutpos AS (
          SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
        tokpos AS (
          SELECT doc_id, g AS pos, t[g] AS tok
          FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t))) AS g) s2),
        kept AS (
          SELECT tp.doc_id, tp.pos, tp.tok
          FROM tokpos tp LEFT JOIN cutpos c
            ON c.doc_id = tp.doc_id AND c.pos = tp.pos
          WHERE c.pos IS NULL),
        ncut AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
          FROM cutpos GROUP BY doc_id)
        SELECT k.doc_id,
               string_agg(k.tok, ' ' ORDER BY k.pos) AS clean_text,
               CAST(COALESCE(MAX(n.n_removed), 0) AS BIGINT) AS n_removed
        FROM kept k LEFT JOIN ncut n ON n.doc_id = k.doc_id
        GROUP BY k.doc_id""",
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for ``substring_dedup_cut`` — the rebuilt text is the
    strongest witness of the whole chain: every surviving token, its
    order, and the removal count must agree with the oracle's
    position-by-position recompute, so a span boundary off by one
    token, a dropped survivor, or an unstable rebuild order all break
    row values."""
    return substring_dedup_cut(load_spread(spark, sf_dir, "documents", "doc_id"))
