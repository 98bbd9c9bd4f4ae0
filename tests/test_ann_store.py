"""Persisted IVF index (operators/ann_store.py): probe-vs-ivf_topk
equivalence over batched builds, bucket pushdown into the scan, and
file-level clustering (footer disjointness on bucket)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.ann_store import (
    append_ivf_batch,
    ivf_store_topk,
)
from hrdp_variant_load_pipeline_spark.operators.similarity import (
    ivf_topk,
    train_centroids,
)
from tests.conftest import pinned_partitions

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _setup(spark, tmp_path, n_centroids=8):
    e = spark.read.parquet(EMB)
    cents = train_centroids(e, n_centroids=n_centroids, n_iter=3)
    store = str(tmp_path / "ivf")
    # build in two batches — the index is incremental by construction
    n1 = append_ivf_batch(e.filter(F.col("vec_id") % 2 == 0), cents, store)
    n2 = append_ivf_batch(e.filter(F.col("vec_id") % 2 == 1), cents, store)
    assert n1 + n2 == e.count()
    return e, cents, store


def test_store_probe_matches_ivf_topk(spark, tmp_path):
    e, cents, store = _setup(spark, tmp_path)
    queries = e.filter(F.col("vec_id") < 6)
    got = sorted(map(tuple, ivf_store_topk(
        spark, store, queries, cents, k=5, nprobe=2
    ).collect()))
    want = sorted(map(tuple, ivf_topk(
        e, queries, k=5, nprobe=2, centroids=cents
    ).collect()))
    assert got == want and got


def test_probe_pushes_bucket_filter_into_scan(spark, tmp_path):
    e, cents, store = _setup(spark, tmp_path)
    queries = e.filter(F.col("vec_id") < 3)
    plan = (
        ivf_store_topk(spark, store, queries, cents, k=5, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the static IN filter reaches the parquet source (footer pruning)
    assert "PushedFilters: [In(bucket" in plan.replace("\n", " "), plan


def test_index_files_are_bucket_disjoint(spark, tmp_path):
    """The clustering contract: each written file covers a narrow bucket
    range, so min/max footers actually prune (a hash-scattered append
    would give every file the full bucket span). Pin the file count so
    AQE can't coalesce this tiny fixture to one file."""
    e = spark.read.parquet(EMB)
    cents = train_centroids(e, n_centroids=8, n_iter=3)
    store = str(tmp_path / "ivf")
    with pinned_partitions(spark, 4):
        append_ivf_batch(e, cents, store)
    per_file = (
        spark.read.parquet(store)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 3
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    # range-clustered: spans tile the bucket domain without interleaving
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    assert all(hi - lo <= 4 for lo, hi in spans), spans


def test_compaction_preserves_probe_results(spark, tmp_path):
    """Per-append clustering fragments across MANY appends (each append's
    files tile the bucket domain independently); periodic
    compact_store(sort_by=["bucket"]) re-tiles the whole index. Probe
    results must be byte-identical before and after."""
    from hrdp_variant_load_pipeline_spark.sources.store import compact_store

    e = spark.read.parquet(EMB)
    cents = train_centroids(e, n_centroids=8, n_iter=3)
    store = str(tmp_path / "ivf")
    for i in range(4):  # 4 small appends -> fragmented tiling
        append_ivf_batch(e.filter(F.col("vec_id") % 4 == i), cents, store)
    queries = e.filter(F.col("vec_id") < 4)
    before = sorted(map(tuple, ivf_store_topk(
        spark, store, queries, cents, k=5, nprobe=2
    ).collect()))
    with pinned_partitions(spark, 4):
        compact_store(spark, store, sort_by=["bucket", "vec_id"])
    after = sorted(map(tuple, ivf_store_topk(
        spark, store, queries, cents, k=5, nprobe=2
    ).collect()))
    assert after == before and before


def test_store_is_append_only_and_replays_ingested_ids(spark, tmp_path):
    """After two appends the store directory holds data files only (no
    side directories) and its ids are exactly the ids ingested, each
    once. Ingested ids sent again as probe queries never match their own
    stored rows, and the probe leaves the store unchanged (probe parity:
    test_store_probe_matches_ivf_topk)."""
    import os

    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    e, cents, store = _setup(spark, tmp_path)
    assert not [
        f for f in os.listdir(store)
        if os.path.isdir(os.path.join(store, f))
    ]
    stored = [r.vec_id for r in read_store(spark, store).select("vec_id").collect()]
    assert sorted(stored) == sorted(r.vec_id for r in e.select("vec_id").collect())
    files_before = sorted(os.listdir(store))
    replayed = e.filter(F.col("vec_id") < 4)
    rows = ivf_store_topk(spark, store, replayed, cents, k=3, nprobe=2).collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    assert all(r.neighbor_id != r.query_id for r in rows)
    assert sorted(os.listdir(store)) == files_before
    assert read_store(spark, store).count() == len(stored)
