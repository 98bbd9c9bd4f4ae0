"""Product quantization (operators/pq.py): training, row-local encoding,
asymmetric-distance search."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.pq import (
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _embeddings(spark):
    from hrdp_variant_load_pipeline_spark.sources.tables import table

    return table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_codebooks_shape_and_determinism(spark):
    e = _embeddings(spark)
    cb = train_pq_codebooks(e, dim=64, m=4, n_codes=8, n_iter=2)
    rows = cb.collect()
    assert len(rows) == 4 * 8
    assert all(len(r["cvec"]) == 16 for r in rows)
    again = {
        (r["subspace"], r["code_id"]): tuple(r["cvec"])
        for r in train_pq_codebooks(e, dim=64, m=4, n_codes=8, n_iter=2).collect()
    }
    first = {(r["subspace"], r["code_id"]): tuple(r["cvec"]) for r in rows}
    assert first == again


def test_encode_is_row_local_and_bounded(spark):
    e = _embeddings(spark)
    cb = train_pq_codebooks(e, dim=64, m=4, n_codes=8, n_iter=2)
    enc = pq_encode(e, cb)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan  # pure projection
    rows = enc.collect()
    assert all(len(r["pq_codes"]) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r["pq_codes"])
    assert "embedding" not in enc.columns  # compressed: codes replace vector


def test_encode_reconstruction_beats_wrong_codes(spark):
    """Sanity on the objective: the chosen code's centroid must be at
    least as close to each subvector as any other code's centroid."""
    e = _embeddings(spark).limit(50)
    cb = train_pq_codebooks(_embeddings(spark), dim=64, m=4, n_codes=8, n_iter=2)
    books = {
        (r["subspace"], r["code_id"]): r["cvec"] for r in cb.collect()
    }
    enc = {r["vec_id"]: r["pq_codes"] for r in pq_encode(e, cb).collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}
    for vid, codes in enc.items():
        v = vecs[vid]
        for j, chosen in enumerate(codes):
            sub = v[j * 16 : (j + 1) * 16]
            d_chosen = sum((a - b) ** 2 for a, b in zip(sub, books[(j, chosen)]))
            for c in range(8):
                d_other = sum((a - b) ** 2 for a, b in zip(sub, books[(j, c)]))
                assert d_chosen <= d_other + 1e-9


def test_pq_topk_matches_exact_l2_through_quantizer(spark):
    """ADC ground truth: pq_topk's approx_dist must equal the exact
    quantized distance sum computed in Python, and ranking must follow."""
    e = _embeddings(spark)
    cb = train_pq_codebooks(e, dim=64, m=4, n_codes=8, n_iter=2)
    enc = pq_encode(e, cb)
    q = e.filter(F.col("vec_id") < 3)
    got = pq_topk(enc, q, cb, k=3).collect()
    books = {(r["subspace"], r["code_id"]): r["cvec"] for r in cb.collect()}
    codes = {r["vec_id"]: r["pq_codes"] for r in enc.collect()}
    qvecs = {r["vec_id"]: r["embedding"] for r in q.collect()}
    for r in got:
        qv = qvecs[r["query_id"]]
        want = sum(
            sum(
                (a - b) ** 2
                for a, b in zip(
                    qv[j * 16 : (j + 1) * 16],
                    books[(j, codes[r["neighbor_id"]][j])],
                )
            )
            for j in range(4)
        )
        assert abs(r["approx_dist"] - round(want, 6)) < 1e-6


def test_pq_recall_against_exact_l2(spark):
    """End-to-end quality gate: PQ top-5 recall vs exact L2 top-5 on the
    real embeddings fixture. Deterministic, so the bound is a fixed
    number — it fails if the trainer or ADC silently degrades."""
    # the 0.30 bound is calibrated on the sf0.001 fixture (500 vecs):
    # recall on near-random data shrinks with corpus size, so a larger
    # SPARK_GRAFT_SF_DIR_TEST must not turn this calibration into a
    # false failure — pin the fixture size instead of the env
    e = _embeddings(spark).filter(F.col("vec_id") < 500)
    cb = train_pq_codebooks(e, dim=64, m=8, n_codes=32, n_iter=4)
    enc = pq_encode(e, cb)
    q = e.filter(F.col("vec_id") < 20)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(enc, q, cb, k=5).collect()
    }
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}
    exact = set()
    for qid in sorted(v for v in vecs if v < 20):
        qv = vecs[qid]
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), nid)
            for nid, v in vecs.items()
            if nid != qid
        )
        exact |= {(qid, nid) for _, nid in dists[:5]}
    recall = len(approx & exact) / len(exact)
    # the synthetic embeddings are near-random: 8-byte PQ codes retain
    # ~0.34 recall here (chance is ~0.01) — deterministic on the default
    # sf0.001 fixture, so the bound is tight there; other SF fixtures
    # are different random samples (measured 0.24 on sf0.01's first 500),
    # so the gate degrades to a far-above-chance floor. Clustered data
    # reaches ~1.0 (next test).
    bound = 0.30 if SF_DIR.rstrip("/").endswith("sf0.001") else 0.08
    assert recall >= bound, recall


def test_pq_recall_high_on_clustered_data(spark):
    """Where the data HAS structure, PQ must find it: three well-separated
    clusters on distinct axes -> every top-3 neighbor set stays inside the
    query's cluster."""
    base = spark.range(90).select(
        F.col("id").alias("vec_id"), (F.col("id") % 3).alias("cluster")
    )
    jitter = (F.col("vec_id") % 7).cast("double") / 100.0
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.when(i == F.col("cluster").cast("int") * 4, 1.0 + jitter)
        .otherwise(jitter / 2),
    )
    corpus = base.select("vec_id", "cluster", vec.alias("embedding"))
    cb = train_pq_codebooks(corpus, dim=16, m=4, n_codes=8, n_iter=3)
    enc = pq_encode(corpus, cb)
    q = corpus.filter(F.col("vec_id") < 6)
    got = pq_topk(enc, q, cb, k=3).collect()
    cluster_of = {r["vec_id"]: r["cluster"] for r in base.collect()}
    assert len(got) == 6 * 3
    for r in got:
        assert cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]]


def test_codebooks_roundtrip_through_parquet(spark, tmp_path):
    """The codebook is a plain DataFrame model: persisting and re-reading
    must not change encodings or search results."""
    e = _embeddings(spark)
    cb = train_pq_codebooks(e, dim=64, m=4, n_codes=8, n_iter=2)
    path = str(tmp_path / "pq_codebooks")
    cb.write.parquet(path)
    reread = spark.read.parquet(path)
    enc_a = {r["vec_id"]: r["pq_codes"] for r in pq_encode(e, cb).collect()}
    enc_b = {r["vec_id"]: r["pq_codes"] for r in pq_encode(e, reread).collect()}
    assert enc_a == enc_b
