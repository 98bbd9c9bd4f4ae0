"""Round-3 hardening: reliable checkpointing for iterative operators,
caller-releasable minhash checkpoints, and the genic-QC scope join."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from hrdp_variant_load_pipeline_spark.operators.similarity import train_centroids
from hrdp_variant_load_pipeline_spark.runtime import local_frame
from tests.conftest import node_class, plan_nodes
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


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    # restore the unset state afterward: with a dir configured, the
    # iterative operators' snapshots turn reliable (resolve_reliable),
    # which must not leak into other tests on the session-scoped
    # SparkContext
    spark.sparkContext.setCheckpointDir(str(path))
    try:
        yield str(path)
    finally:
        spark.sparkContext.setCheckpointDir(None)


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    with _checkpoint_dir(spark, tmp_path / "ckpt") as d:
        yield d


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


def test_connected_components_reliable_matches_local(spark, tmp_path):
    pairs = spark.createDataFrame(PAIRS, "doc_a long, doc_b long")
    local = {
        (r["doc"], r["cluster"]) for r in connected_components(pairs).collect()
    }
    with _checkpoint_dir(spark, tmp_path / "ckpt"):
        rel = {
            (r["doc"], r["cluster"]) for r in connected_components(pairs).collect()
        }
    assert rel == local
    assert rel == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_train_centroids_reliable_matches_local(spark, tmp_path):
    rows = [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_centroids=2, n_iter=2, centroid_round_digits=6)
    local = {
        (r["cent_id"], tuple(r["cvec"])) for r in train_centroids(e, **kw).collect()
    }
    with _checkpoint_dir(spark, tmp_path / "ckpt"):
        rel = {
            (r["cent_id"], tuple(r["cvec"])) for r in train_centroids(e, **kw).collect()
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


#: (rgd_id, chromosome, start_pos, genic_status, map_key) of a store that
#: places variants inside, between and at the edges of ``QC_SCOPE``
QC_STORE = [
    (1, "1", 95, "INTERGENIC", 372),  # first of two overlapping ranges
    (2, "1", 105, "INTERGENIC", 372),  # in both overlapping ranges: once
    (3, "1", 115, "INTERGENIC", 372),  # second overlapping range only
    (4, "1", 150, "INTERGENIC", 372),  # between ranges: never visited
    (5, "1", 210, "INTERGENIC", 372),  # last base of a range...
    (6, "1", 211, "INTERGENIC", 372),  # ...first base of the touching one
    (7, "1", 221, "INTERGENIC", 372),  # one past the touching range
    (8, "1", 999_995, "INTERGENIC", 372),  # a range across the 1 Mb edge
    (9, "1", 1_000_005, "INTERGENIC", 372),
    (10, "1", 1_000_011, "INTERGENIC", 372),
    (11, "1", 5_000, "INTERGENIC", 372),  # multi-allelic [pos, pos+1]
    (12, "1", 5_001, "INTERGENIC", 372),
    (13, "1", 5_002, "INTERGENIC", 372),
    (14, "2", 100, "GENIC", 372),  # another chromosome's range
    (15, "3", 100, "GENIC", 372),  # a chromosome no range visits
    (16, "1", 105, "INTERGENIC", 360),  # another map
    (17, "1", 106, "genic", 372),  # the drift compare ignores case
]
QC_SCOPE = [
    ("1", 90, 110),
    ("1", 100, 120),
    ("1", 200, 210),
    ("1", 211, 220),
    ("1", 999_990, 1_000_010),
    ("1", 5_000, 5_001),
    ("2", 90, 110),
]
#: ACTIVE genes (chromosome, start, stop): all of chromosome 1 the store
#: uses, nothing on 2 or 3
QC_GENES = [("1", 1, 2_000_000)]


def _qc_brute_force(store, scope, genes, map_key):
    """The reference's visit set and point probe, row by row."""
    out = set()
    for rgd, chrom, start, status, mk in store:
        if mk != map_key or not any(c == chrom and lo <= start <= hi for c, lo, hi in scope):
            continue
        genic = any(c == chrom and s <= start <= e for c, s, e in genes)
        new = "GENIC" if genic else "INTERGENIC"
        if status.upper() != new:
            out.add((rgd, new))
    return out


def _qc_frames(spark):
    store = spark.createDataFrame(
        QC_STORE,
        "rgd_id long, chromosome string, start_pos long, genic_status string, map_key int",
    )
    genes = spark.createDataFrame(
        [(c, s, e, "ACTIVE", 372) for c, s, e in QC_GENES],
        "chromosome string, start_pos long, stop_pos long, object_status string, map_key int",
    )
    # a local relation: the planner sees its real (small) size
    scope = local_frame(spark, QC_SCOPE, "chromosome string, lo long, hi long")
    return store, genes, scope


@pytest.mark.parametrize("broadcast_threshold", ["10MB", "-1"])
def test_genic_qc_scope_matches_brute_force(spark, broadcast_threshold):
    """The scoped QC updates exactly the rows a per-range brute force
    visits and finds drifted, once each, whether the planner broadcasts
    the scope or shuffles it beside the store."""
    store, genes, scope = _qc_frames(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, broadcast_threshold)
    try:
        rows = [
            (r["rgd_id"], r["genic_status"])
            for r in GQ.genic_qc(store, genes, map_key=372, scope=scope).collect()
        ]
    finally:
        spark.conf.set(key, saved)
    expect = _qc_brute_force(QC_STORE, QC_SCOPE, QC_GENES, 372)
    assert {r for r, _ in expect} == {1, 2, 3, 5, 6, 8, 9, 11, 12, 14}
    assert len(rows) == len(set(rows))
    assert set(rows) == expect


def test_genic_qc_scope_is_one_broadcast_semi_join(spark, tmp_path):
    """A small scope joins the stored variants by one broadcast left-semi
    join with no exchange over the store scan, and building the QC frame
    runs no job and persists nothing."""
    from tests.conftest import spark_jobs_of

    store, genes, scope = _qc_frames(spark)
    store.write.parquet(str(tmp_path / "store"))
    store = spark.read.parquet(str(tmp_path / "store"))
    sc = spark.sparkContext
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = set(sc._jsc.getPersistentRDDs().keySet())
        updates, jobs = spark_jobs_of(spark, GQ.genic_qc, store, genes, 372, scope)
        plan = updates._jdf.queryExecution().executedPlan()
        n_updates = len(updates.collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert jobs == 0
    # the set may SHRINK meanwhile: the context cleaner frees
    # garbage-collected frames of earlier tests
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()
    assert n_updates == len(_qc_brute_force(QC_STORE, QC_SCOPE, QC_GENES, 372))

    semis = [
        n
        for n, _ in plan_nodes(plan)
        if node_class(n) == "BroadcastHashJoinExec" and n.joinType().toString() == "LeftSemi"
    ]
    assert len(semis) == 1
    assert semis[0].buildSide().toString() == "BuildRight"
    streamed = [node_class(n) for n, _ in plan_nodes(semis[0].left())]
    assert "FileSourceScanExec" in streamed
    assert "ShuffleExchangeExec" not in streamed
