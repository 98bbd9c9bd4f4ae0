"""Distributed k-means IVF training: convergence and search quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.similarity import (
    brute_force_topk,
    dot,
    ivf_topk,
    norm,
    train_centroids,
)


def _clustered_corpus(spark, per_cluster=60, dim=8):
    """Three well-separated clusters on distinct axes with deterministic
    jitter; ids interleave the clusters so the first-n init straddles
    cluster boundaries and training has real work to do."""
    base = spark.range(3 * per_cluster).select(
        F.col("id").alias("vec_id"), (F.col("id") % 3).alias("cluster")
    )
    jitter = (F.col("vec_id") % 7).cast("double") / 100.0
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(i == F.col("cluster").cast("int") * 2, 1.0 + jitter)
        .otherwise(jitter / 2),
    )
    return base.select("vec_id", "cluster", vec.alias("embedding"))


def _inertia(corpus, cents):
    """Mean (1 - cosine(vector, nearest centroid)) over the corpus."""
    carr = cents.agg(
        F.collect_list(F.struct("cent_id", "cvec")).alias("cs")
    )
    best = F.array_max(
        F.transform(
            F.col("cs"),
            lambda x: dot(F.col("embedding"), x["cvec"])
            / (norm(F.col("embedding")) * norm(x["cvec"])),
        )
    )
    row = (
        corpus.crossJoin(F.broadcast(carr))
        .select(F.avg(1 - best).alias("inertia"))
        .collect()[0]
    )
    return float(row["inertia"])


def test_kmeans_reduces_inertia_and_aligns_clusters(spark):
    corpus = _clustered_corpus(spark)
    init = train_centroids(corpus, n_centroids=3, n_iter=0)
    trained = train_centroids(corpus, n_centroids=3, n_iter=4)
    assert trained.count() == 3
    assert _inertia(corpus, trained) < _inertia(corpus, init) - 1e-6

    # after training, every vector's nearest centroid is constant within a
    # true cluster and distinct across clusters
    carr = trained.agg(F.collect_list(F.struct("cent_id", "cvec")).alias("cs"))
    assign = F.array_min(
        F.transform(
            F.col("cs"),
            lambda x: F.struct(
                (
                    -dot(F.col("embedding"), x["cvec"])
                    / (norm(F.col("embedding")) * norm(x["cvec"]))
                ).alias("neg"),
                x["cent_id"].alias("cent_id"),
            ),
        )
    )["cent_id"]
    assigned = corpus.crossJoin(F.broadcast(carr)).select("cluster", assign.alias("b"))
    buckets_per_cluster = (
        assigned.groupBy("cluster").agg(F.countDistinct("b").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in buckets_per_cluster)
    assert assigned.select("b").distinct().count() == 3


def test_ivf_with_trained_centroids_matches_brute_force_top1(spark):
    corpus = _clustered_corpus(spark)
    trained = train_centroids(corpus, n_centroids=3, n_iter=4)
    queries = corpus.filter(F.col("vec_id") < 6)
    exact = brute_force_topk(corpus, queries, k=1)
    approx = ivf_topk(
        corpus, queries, n_centroids=3, nprobe=1, k=1, centroids=trained
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # with per-cluster buckets and nprobe=1, the true nearest neighbor
    # lives in the probed bucket for every query
    assert a == e


def test_ivf_recall_at_5_on_real_embeddings(spark):
    """Quantified ANN quality gate on the driver embeddings fixture: IVF
    recall@5 vs brute force. Every stage is deterministic (hash-seeded
    init, no RNG), so the recall is a fixed number per (n_centroids,
    nprobe) — the bounds pin the quality/probe trade-off and fail if a
    change silently degrades bucketing."""
    from hrdp_variant_load_pipeline_spark.sources.tables import table

    e = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, q, k=5).collect()
    }
    recalls = {}
    for nprobe in (2, 3):
        tr = train_centroids(e, n_centroids=8, n_iter=4)
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                e, q, n_centroids=8, nprobe=nprobe, k=5, centroids=tr
            ).collect()
        }
        recalls[nprobe] = len(approx & exact) / len(exact)
    assert recalls[2] >= 0.65, recalls
    assert recalls[3] >= 0.78, recalls
    # probing more buckets can only widen the candidate set
    assert recalls[3] >= recalls[2], recalls


def test_brute_force_topk_blas_matches_jvm_form(spark):
    """The Arrow/BLAS batch-dot form is bit-equal to the
    zip_with/aggregate JVM form — same rounded cosines (half-up mirror
    of Spark round), same tie order, self-matches excluded, empty query
    set returns an empty typed frame. Pinned at the small fixture; the
    r13 sf10 A/B pinned 200k rows (parity True, 0.608s vs 1.305s)."""
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 7)
    a = sorted(map(tuple, brute_force_topk(e, q, k=5).collect()))
    b = sorted(map(tuple, brute_force_topk_blas(e, q, k=5).collect()))
    assert a == b and len(a) == 35
    empty_q = e.filter(F.col("vec_id") < 0)
    out = brute_force_topk_blas(e, empty_q, k=5)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0

def test_brute_force_topk_zero_norm_excluded_both_forms(spark):
    """ADVICE r13: zero-norm vectors have no defined cosine (0/0). Both
    forms EXCLUDE them — as corpus rows (never a neighbor) and as
    queries (retrieve nothing) — instead of letting NaN propagate with
    engine-dependent ordering (Spark ranks NaN first desc; numpy
    lexsort ranks it last)."""
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blas,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),  # zero-norm corpus row AND query
        (4, [0.0, 1.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, brute_force_topk(e, e, k=5).collect()))
    b = sorted(map(tuple, brute_force_topk_blas(e, e, k=5).collect()))
    assert a == b and a
    ids_as_neighbor = {t[1] for t in a}
    ids_as_query = {t[0] for t in a}
    assert 3 not in ids_as_neighbor and 3 not in ids_as_query
    # no NaN cosines survive either form
    assert all(t[2] == t[2] for t in a)

def test_brute_force_topk_auto_dispatches_on_corpus_size(spark, monkeypatch):
    """Size-gated dispatch (r14): below the measured knee the JVM form
    runs (no Python stage in the plan); at/above it the BLAS
    mapInPandas form runs — results identical either way."""
    from hrdp_variant_load_pipeline_spark.operators import similarity
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_auto,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    small = brute_force_topk_auto(e, q, k=4)
    assert "mapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(similarity, "_BLAS_CORPUS_ROWS", 1)
    forced_blas = brute_force_topk_auto(e, q, k=4)
    assert "MapInPandas" in (
        forced_blas._jdf.queryExecution().executedPlan().toString()
    )
    want = sorted(map(tuple, brute_force_topk(e, q, k=4).collect()))
    assert sorted(map(tuple, small.collect())) == want
    assert sorted(map(tuple, forced_blas.collect())) == want
