"""Hyperplane-LSH embedding near-dup: self-contained blocking, exact
verification, recall against brute force on separable data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.similarity import (
    hyperplane_buckets,
    near_dup_pairs_lsh,
    norm,
    dot,
)


def _corpus(spark, per_cluster=40, dim=16):
    """Clusters of near-identical vectors (tiny deterministic jitter) on
    well-separated axes: within-cluster cosine ~0.99+, across ~0."""
    base = spark.range(4 * per_cluster).select(
        F.col("id").alias("vec_id"), (F.col("id") % 4).alias("cluster")
    )
    jitter = (F.col("vec_id") % 5).cast("double") / 200.0
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(i == F.col("cluster").cast("int") * 3, 1.0)
        .when(i == F.col("cluster").cast("int") * 3 + 1, jitter)
        .otherwise(0.0),
    )
    return base.select("vec_id", "cluster", vec.alias("embedding"))


def test_buckets_deterministic_and_band_shaped(spark):
    c = _corpus(spark, per_cluster=5)
    b1 = sorted(map(tuple, hyperplane_buckets(c, 16).collect()))
    b2 = sorted(map(tuple, hyperplane_buckets(c, 16).collect()))
    assert b1 == b2  # hash-derived planes: no RNG state, reproducible
    n_bands = 16 // 8
    assert len(b1) == c.count() * n_bands


def test_lsh_near_dup_matches_brute_force_on_separable_data(spark):
    c = _corpus(spark)
    got = near_dup_pairs_lsh(c, 16, threshold=0.9, n_planes=16, band_planes=4)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}

    # brute-force truth: every same-cluster pair is >= 0.9, no cross pair
    sel = c.select("vec_id", "cluster", "embedding", norm(F.col("embedding")).alias("n"))
    a, b = sel.alias("a"), sel.alias("b")
    truth_df = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cos",
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.n") * F.col("b.n")),
        )
        .filter(F.col("cos") >= 0.9)
        .select(F.col("a.vec_id").alias("x"), F.col("b.vec_id").alias("y"))
    )
    truth = {(r["x"], r["y"]) for r in truth_df.collect()}
    assert truth, "test data must produce near-dup pairs"

    # verification makes precision exact; banding on near-identical
    # vectors makes recall 1.0 here (same-cluster sketches agree on
    # almost every plane, so they collide in every band)
    assert pairs == truth


def test_shingle_array_short_doc_is_empty_not_error(spark):
    """Regression: docs with fewer than k words made sequence(1, n-k+1)
    DESCEND ([1, 0]) and slice(start=0) abort under ANSI — short docs must
    yield an empty shingle set instead."""
    from hrdp_variant_load_pipeline_spark.operators.dedup import shingle_array
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d e")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", shingle_array(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert out[1] == [] and out[2] == []
    assert "a b c" in out[3] and len(out[3]) == 3


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_minhash_lsh_precision_recall_vs_exact_jaccard(spark, sf_dir):
    """Quality gate against ground truth: on the driver fixtures the LSH
    path must return EXACTLY the pairs the exhaustive n-gram Jaccard path
    finds at the same threshold (precision 1.0 is guaranteed by the exact
    verify stage; recall 1.0 here because every >=0.5-Jaccard pair in the
    fixtures shares a full band — a banding OR HASH-FAMILY change that
    silently drops recall fails this: the un-modded Kirsch-Mitzenmacher
    form missed a 0.9882-Jaccard pair on sf0.001 across all 3 bands,
    see the family comment in operators/dedup.py)."""
    from hrdp_variant_load_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from hrdp_variant_load_pipeline_spark.sources.tables import table

    d = table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(d, "doc_id", "text", verify_threshold=0.5).collect()
    }
    assert len(exact) > 20  # fixture exercises the dup structure
    assert set(lsh) == set(exact)
    for p in exact:
        assert abs(exact[p] - lsh[p]) < 1e-9
