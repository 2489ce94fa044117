"""Round-14 optimization pins: the two new load_spread call sites are
value-identical to the plain-load form, and the AQE coalescing floor is
applied (and env-overridable) by the session factory.

The graph family's lazy-checkpoint change needs no new pin here: the
oracle differential covers all three registered faces, and
tests/test_round5_ops.py already asserts the DataFrame-API PageRank loop
bit-equal to the registered unrolled SQL (both now run through the lazy
pins). The CC pointer-jump decision (measured, unchanged API) stays
pinned by the existing variant-equality tests.
"""

import os

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark.io import load, load_spread


def _rows(df):
    return sorted(map(tuple, df.collect()))


class TestBaselineSpreadIdentity:
    def test_jaccard_baseline_spread_equals_plain(self, spark, sf_dir):
        import database_clonev2_spark.extensions.dedup as dd

        spread = dd.QUERIES["dedup_ngram_jaccard_baseline"](spark, sf_dir)
        # plain-load reference: the pre-round-14 form, inlined
        sh = (
            dd._doc_shingles(load(spark, sf_dir, "documents"))
            .select("doc_id", F.xxhash64("shingle").alias("sh"))
            .localCheckpoint()
        )
        counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        plain = dd.jaccard_pairs(sh, sh, counts, broadcast_counts=True).filter(
            F.col("jaccard") >= dd.JACCARD_THRESHOLD
        )
        assert _rows(spread) == _rows(plain)


class TestCosineLshSpreadIdentity:
    def test_md5_pairs_spread_equals_plain(self, spark, sf_dir):
        import database_clonev2_spark.extensions.similarity as sim

        spread = sim.QUERIES["cosine_lsh_md5_pairs"](spark, sf_dir)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", sim._as_double(F.col("embedding")).alias("vec")
        )
        dim = len(emb.select("vec").first()["vec"])
        plain = sim.hyperplane_lsh_md5_candidates(emb, dim)
        assert _rows(spread) == _rows(plain)


class TestAqeFloorConf:
    CONF = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    def test_session_applies_floor(self, spark):
        # the pytest session fixture goes through get_spark -> 64k default
        assert spark.conf.get(self.CONF) in ("64k", "65536", "64kb")


if __name__ == "__main__":
    pytest.main([__file__, "-v"])
