"""Iterative graph computation on DataFrames: PageRank.

Sits beside ``operators.dedup.connected_components`` (min-label
propagation) as the engine's iterative-algorithm surface. The same
discipline applies: per-iteration lineage truncation (an unchecked loop
stacks N full join plans and the optimizer re-derives all of them each
round), bounded iterations, and shuffles keyed the way the data is
already partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hrdp_variant_load_pipeline_spark.runtime import release, snapshot


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an edge list, normalized so ranks sum to 1.

    Standard damped power iteration: each vertex splits its rank over its
    out-edges; dangling vertices (no out-edges) redistribute uniformly.
    Per iteration: one join of the rank vector against the edge list on
    ``src`` (both sides hash-partitioned on the same key, so consecutive
    iterations reuse the partitioning) and one hash aggregate on ``dst``
    — the contribution shuffle carries one row per EDGE partition after
    map-side combine, and the rank vector is vertex-sized, never
    edge-sized. Each iteration is ONE Spark action (the dangling-mass
    scalar rides the same job as a broadcast 1-row aggregate, pinned by
    ``tests/test_graph.py``). Lineage is truncated every iteration
    (``runtime.snapshot``: reliable on a cluster with a checkpoint dir,
    so it survives executor loss), and each superseded
    iteration's snapshot is released.

    Output: (vertex, rank) — deterministic for a fixed iteration count.
    """
    # loop invariants are persisted: without this every iteration re-runs
    # the edge distinct and the vertex union from source (the checkpoint
    # truncates the RANK lineage only)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .persist()
    )
    n = vertices.count()
    if n == 0:
        release(e, vertices)
        return vertices.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    ranks = vertices.withColumn("rank", F.lit(1.0 / n))
    try:
        for _ in range(n_iter):
            with_deg = ranks.join(
                out_deg, ranks.vertex == out_deg.src, "left"
            ).select("vertex", "rank", "deg")
            # dangling mass: vertices with no out-edges spread their rank
            # uniformly — a 1-row aggregate kept CLUSTER-side and broadcast
            # onto the step (never collected): the whole iteration is ONE
            # Spark action (the checkpoint), not a collect + a checkpoint.
            # with_deg feeds both subtrees; recomputing it costs one extra
            # vertex-sized join per iteration, cheaper than a second
            # scheduler round-trip per iteration at bounded n_iter.
            dangling = with_deg.filter(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
            )
            contribs = (
                with_deg.filter(F.col("deg").isNotNull())
                .join(e, with_deg.vertex == e.src)
                .select(
                    F.col("dst").alias("vertex"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("vertex")
                .agg(F.sum("c").alias("inflow"))
            )
            stepped = (
                vertices.join(contribs, "vertex", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "vertex",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.col("dang") / F.lit(float(n))
                        + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            prev, ranks = ranks, snapshot(stepped)
            release(prev)
    finally:
        # failures mid-iteration must not pin the loop invariants for the
        # session lifetime
        release(e, vertices, out_deg)
    return ranks
