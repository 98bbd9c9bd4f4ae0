"""runtime.py: the one snapshot / release / size-estimate / partition-count
surface — and the guard that keeps it the only one."""

from __future__ import annotations

import pathlib
import re
from types import SimpleNamespace

from hrdp_variant_load_pipeline_spark.runtime import (
    estimated_bytes,
    local_frame,
    release,
    shuffle_partitions,
    snapshot,
)
from tests.conftest import node_class, plan_nodes, spark_jobs_of

PKG = pathlib.Path(__file__).resolve().parent.parent / "hrdp_variant_load_pipeline_spark"


def _persisted(spark) -> set[int]:
    sc = spark.sparkContext
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_shuffle_partitions_reads_conf_and_falls_back_on_non_numeric(spark):
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # OSS Spark rejects a non-numeric value at conf.set, so only a stub
    # reaches the branch other platforms (shuffle.partitions=auto) hit
    stub = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )
    assert shuffle_partitions(stub) == 7


def test_estimated_bytes_none_without_stats_positive_for_parquet(spark, tmp_path):
    # an RDD-backed frame reports Long.MaxValue: no statistics, not a size
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]), "id long, s string"
    )
    assert estimated_bytes(rdd_backed) is None
    path = str(tmp_path / "t")
    spark.range(1000).write.parquet(path)
    # pins the private optimizedPlan().stats() accessor on this Spark
    est = estimated_bytes(spark.read.parquet(path))
    assert isinstance(est, int) and est > 0


def test_local_frame_is_a_local_relation_with_real_stats(spark):
    """A driver-built frame plans as a LocalRelation: a real size estimate,
    collected without a job, and an empty one takes the joins over it out
    of the plan."""
    df = local_frame(spark, [("a", 1), ("b", None)], "k string, v int")
    assert df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert 0 < estimated_bytes(df) < 1024
    rows, jobs = spark_jobs_of(spark, df.collect)
    assert jobs == 0 and [tuple(r) for r in rows] == [("a", 1), ("b", None)]
    empty = local_frame(spark, [], "k string, v int")
    probe = spark.range(10).selectExpr("CAST(id AS STRING) AS k")
    for how in ("left_anti", "left"):
        plan = probe.join(empty, "k", how)._jdf.queryExecution().optimizedPlan()
        assert not any("Join" in node_class(n) for n, _ in plan_nodes(plan)), how


def test_release_frees_only_its_own_frame(spark):
    base = _persisted(spark)
    snap = snapshot(spark.range(50).selectExpr("id * 2 AS x"), reliable=False)
    # persisted INSIDE the snapshot → release window: a registry diff
    # could mistake it for the snapshot's storage; release cannot
    foreign = spark.range(60).selectExpr("id * 3 AS y").persist()
    foreign.count()
    snap_rdd = _rdd_id(snap)
    grown = _persisted(spark) - base
    assert snap_rdd in grown and len(grown) >= 2  # both are pinned
    release(snap)
    release(snap)  # idempotent
    left = _persisted(spark)
    assert snap_rdd not in left
    assert grown - {snap_rdd} <= left  # the foreign cache is untouched
    release(foreign, None)
    assert _persisted(spark) - base == set()


def test_lazy_snapshot_released_through_its_frame(spark):
    base = _persisted(spark)
    snap = snapshot(spark.range(40).selectExpr("id + 1 AS z"), eager=False, reliable=False)
    assert snap.count() == 40
    assert _rdd_id(snap) in _persisted(spark)
    release(snap)
    assert _persisted(spark) - base == set()


def test_pagerank_keeps_only_the_returned_round(spark):
    from hrdp_variant_load_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src long, dst long"
    )
    base = _persisted(spark)
    ranks = pagerank(edges, n_iter=5)
    grown = _persisted(spark) - base
    assert grown <= {_rdd_id(ranks)}
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-9
    release(ranks)
    assert _persisted(spark) - base == set()


def test_no_raw_checkpoint_or_unpersist_outside_runtime():
    raw = re.compile(r"\.(localCheckpoint|checkpoint|unpersist)\(")
    offenders = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "runtime.py" or p.parent != PKG
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert offenders == [], (
        "snapshot/release through hrdp_variant_load_pipeline_spark.runtime: "
        f"{offenders}"
    )
