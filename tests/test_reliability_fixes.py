"""Round-3 hardening: reliable checkpointing for iterative operators,
caller-releasable minhash checkpoints, batch-order merge_update, and the
merged/thresholded genic-QC scope join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from hrdp_variant_load_pipeline_spark.operators.similarity import train_centroids
from hrdp_variant_load_pipeline_spark.operators.upsert import merge_update
import importlib

# the plans package re-exports the genic_qc FUNCTION under the same name,
# so import the module explicitly
GQ = importlib.import_module("hrdp_variant_load_pipeline_spark.plans.genic_qc")

PAIRS = [
    (1, 2),
    (2, 3),  # chain {1,2,3}
    (10, 11),  # pair {10,11}
    (20, 21),
    (20, 22),
    (21, 23),  # star-ish {20,21,22,23}
]


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    # restore the unset state afterward: with a dir configured, the
    # iterative operators' reliable=None default flips to reliable
    # checkpointing (resolve_reliable), which must not leak into other
    # tests on the session-scoped SparkContext
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    yield str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(None)


def test_reliable_default_follows_checkpoint_dir(spark, tmp_path):
    """reliable=None (the default) selects reliable checkpointing exactly
    when the session has a checkpoint dir configured; explicit wins."""
    from hrdp_variant_load_pipeline_spark.runtime import resolve_reliable

    df = spark.range(1)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    assert resolve_reliable(df, None) is False
    assert resolve_reliable(df, True) is True
    sc.setCheckpointDir(str(tmp_path / "ckpt_default"))
    try:
        assert resolve_reliable(df, None) is True
        assert resolve_reliable(df, False) is False
    finally:
        sc.setCheckpointDir(None)


def test_connected_components_default_uses_configured_ckpt_dir(spark, ckpt_dir):
    """With a checkpoint dir configured and reliable unspecified, round
    state must land in the reliable checkpoint dir (survives executor
    loss), not in executor-local blocks."""
    import os

    pairs = spark.createDataFrame(PAIRS, "doc_a long, doc_b long")
    out = {
        (r["doc"], r["cluster"]) for r in connected_components(pairs).collect()
    }
    assert out == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    ckpt_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt_dir) for f in fs
    ]
    assert ckpt_files, "no files written to the configured checkpoint dir"


def test_connected_components_reliable_matches_local(spark, ckpt_dir):
    pairs = spark.createDataFrame(PAIRS, "doc_a long, doc_b long")
    local = {
        (r["doc"], r["cluster"])
        for r in connected_components(pairs, reliable=False).collect()
    }
    rel = {
        (r["doc"], r["cluster"])
        for r in connected_components(pairs, reliable=True).collect()
    }
    assert rel == local
    assert rel == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_train_centroids_reliable_matches_local(spark, ckpt_dir):
    rows = [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_centroids=2, n_iter=2, centroid_round_digits=6)
    local = {
        (r["cent_id"], tuple(r["cvec"]))
        for r in train_centroids(e, reliable=False, **kw).collect()
    }
    rel = {
        (r["cent_id"], tuple(r["cvec"]))
        for r in train_centroids(e, reliable=True, **kw).collect()
    }
    assert rel == local


def test_minhash_cache_registry_release(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated text with other words entirely"),
        ],
        "doc_id long, text string",
    )
    from hrdp_variant_load_pipeline_spark.runtime import release

    registry: list = []
    out = minhash_lsh_pairs(docs, "doc_id", "text", cache_registry=registry)
    rows = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (1, 2) in rows
    # the registry holds the returned pair-set snapshot itself
    assert len(registry) == 1 and registry[0] is out
    sc = spark.sparkContext
    pair_rdd = out._jdf.queryExecution().analyzed().rdd().id()

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    assert pair_rdd in persisted()  # checkpoint data is pinned
    release(*registry)
    assert pair_rdd not in persisted()  # and now released


def test_merge_update_order_col_last_wins(spark):
    store = spark.createDataFrame(
        [(1, 100), (2, 200)], "rgd_id long, end_pos long"
    )
    # key 1 updated twice: batch order says 150 is LAST, but 999 is larger
    updates = spark.createDataFrame(
        [(1, 999, 0), (1, 150, 1)], "rgd_id long, end_pos long, batch_pos int"
    )
    default = {
        r["rgd_id"]: r["end_pos"]
        for r in merge_update(store, updates, "rgd_id", ["end_pos"]).collect()
    }
    ordered = {
        r["rgd_id"]: r["end_pos"]
        for r in merge_update(
            store, updates, "rgd_id", ["end_pos"], order_col="batch_pos"
        ).collect()
    }
    assert default == {1: 999, 2: 200}  # documented max-wins deviation
    assert ordered == {1: 150, 2: 200}  # reference batch-order semantics


def test_merge_scope_ranges(spark):
    scope = spark.createDataFrame(
        [
            ("1", 10, 20),
            ("1", 15, 25),  # overlaps -> [10,25]
            ("1", 26, 30),  # touches (26 = 25+1) -> [10,30]
            ("1", 40, 45),  # gap -> own range
            ("2", 10, 20),  # other chromosome untouched
        ],
        "chromosome string, lo long, hi long",
    )
    got = {
        (r["chromosome"], r["lo"], r["hi"])
        for r in GQ.merge_scope_ranges(scope).collect()
    }
    assert got == {("1", 10, 30), ("1", 40, 45), ("2", 10, 20)}


@pytest.fixture()
def qc_frames(spark):
    store = spark.createDataFrame(
        [
            (1, "1", 100, "INTERGENIC", 372),  # in gene + in scope -> drift
            (2, "1", 500, "INTERGENIC", 372),  # out of scope -> untouched
            (3, "2", 100, "GENIC", 372),  # in scope, not in gene -> drift
        ],
        "rgd_id long, chromosome string, start_pos long, genic_status string, map_key int",
    )
    genes = spark.createDataFrame(
        [("1", 50, 150, "ACTIVE", 372)],
        "chromosome string, start_pos long, stop_pos long, object_status string, map_key int",
    )
    scope = spark.createDataFrame(
        [("1", 90, 110), ("2", 90, 110)], "chromosome string, lo long, hi long"
    )
    return store, genes, scope


def test_genic_qc_scope_broadcast_and_binned_agree(spark, qc_frames, monkeypatch):
    store, genes, scope = qc_frames
    expect = {(1, "GENIC"), (3, "INTERGENIC")}
    broad = {
        (r["rgd_id"], r["genic_status"])
        for r in GQ.genic_qc(store, genes, map_key=372, scope=scope).collect()
    }
    # force the binned path by dropping the broadcast threshold to zero
    monkeypatch.setattr(GQ, "BROADCAST_SCOPE_MAX_RANGES", 0)
    binned = {
        (r["rgd_id"], r["genic_status"])
        for r in GQ.genic_qc(store, genes, map_key=372, scope=scope).collect()
    }
    assert broad == expect
    assert binned == expect
