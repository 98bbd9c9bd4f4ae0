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


def test_incremental_topk_equals_full_recompute(spark):
    """Folding corpus batches through incremental_topk must reproduce
    brute_force_topk over the union EXACTLY (same rounding/tie rules),
    while never rescanning history."""
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        incremental_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5)
    hist = e.filter((F.col("vec_id") % 3 == 0))
    b1 = e.filter(F.col("vec_id") % 3 == 1)
    b2 = e.filter(F.col("vec_id") % 3 == 2)

    topk = brute_force_topk(hist, queries, k=7)
    topk = incremental_topk(topk, b1, queries, k=7)
    topk = incremental_topk(topk, b2, queries, k=7)
    full = brute_force_topk(e, queries, k=7)
    got = sorted(map(tuple, topk.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want
    # the incremental plan never touches the historical frames: exactly
    # one scan (the new batch) below the standing-result reuse point
    import re

    plan = (
        incremental_topk(full.localCheckpoint(), b2, queries, k=7)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    n_scans = len(re.findall(r"Relation.*parquet", plan))
    assert n_scans == 2, plan  # b2 + the broadcast query side


def test_incremental_topk_changed_embedding_keeps_best_deterministically(spark):
    """Re-ingesting a vector id with a CHANGED embedding must resolve to
    the max-cosine row per (query, neighbor) — not an arbitrary
    dropDuplicates survivor (ADVICE r10: the standing top-k must be
    deterministic under re-ingest)."""
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        incremental_topk,
    )

    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    v1 = spark.createDataFrame(
        [(10, [0.6, 0.8]), (11, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # id 10 re-ingested pointing closer to the query (cosine 0.6 -> 1.0)
    v2 = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    base = brute_force_topk(v1, q, k=3)
    folded = incremental_topk(base, v2, q, k=3)
    rows = {r["neighbor_id"]: r for r in folded.collect()}
    assert rows[10]["cosine"] == 1.0  # best version won, not batch order
    assert rows[10]["rank"] == 1
    # one row per (query, neighbor): the two versions collapsed
    assert folded.count() == 2
    # fold is order-independent: opposite ingest order, same result
    rev = incremental_topk(brute_force_topk(v2, q, k=3), v1, q, k=3)
    assert sorted(map(tuple, rev.collect())) == sorted(
        map(tuple, folded.collect())
    )


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

def test_brute_force_topk_auto_dispatches_on_corpus_size(spark):
    """Size-gated dispatch (r14): below the measured knee the JVM form
    runs (no Python stage in the plan); at/above it the BLAS
    mapInPandas form runs — results identical either way."""
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_auto,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    small = brute_force_topk_auto(e, q, k=4)
    assert "mapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    forced_blas = brute_force_topk_auto(e, q, k=4, blas_threshold=1)
    assert "MapInPandas" in (
        forced_blas._jdf.queryExecution().executedPlan().toString()
    )
    want = sorted(map(tuple, brute_force_topk(e, q, k=4).collect()))
    assert sorted(map(tuple, small.collect())) == want
    assert sorted(map(tuple, forced_blas.collect())) == want
    # corpus_rows hint skips the sizing count and still dispatches right
    hinted = brute_force_topk_auto(e, q, k=4, corpus_rows=10**9)
    assert "MapInPandas" in hinted._jdf.queryExecution().executedPlan().toString()
