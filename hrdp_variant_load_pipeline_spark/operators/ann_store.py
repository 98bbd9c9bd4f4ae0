"""Persisted IVF index: the vector-database shape of ``ivf_topk``.

``ivf_topk`` re-assigns the whole corpus to centroids on every call —
right for one-shot queries, wrong for a standing index at 100 TB. Here
the inverted file is MATERIALIZED: vectors are assigned to their
nearest centroid once (row-local, broadcast centroid array — the
corpus never shuffles for assignment) and appended to a store
CLUSTERED BY bucket (``append_to_store(cluster_by=["bucket"])``:
range-repartition + sort-within-partitions, so each parquet file
covers a narrow, disjoint bucket range). A probe then pushes its
``nprobe`` bucket ids into the scan as an IN filter — parquet footer
min/max skips every file outside the probed buckets, so query cost is
O(probed buckets), not O(corpus), with zero Spark-side index structure
to keep in memory.

Norms are precomputed at build time and stored, so probes pay one dot
product per (query, candidate) and nothing per non-candidate.

Scoring reuses ``ivf_topk``'s rounding and tie rules, so a probe over
a fully-built index returns EXACTLY what ``ivf_topk`` returns over the
same corpus + centroids (pinned in tests/test_ann_store.py).

The store is APPEND-ONLY: no vector is ever removed, so a probe scans
the bucket-pruned store as it is, and the set of ids it holds is the
set ever ingested.

Maintenance: each append tiles the bucket domain independently, so at
ingest frequency a probe reads ~one file per append; run
``sources.store.compact_store(spark, store_dir, sort_by=["bucket",
"vec_id"])`` periodically to re-tile the whole index — keep vec_id as
the secondary key, the order each append writes (probe results are
pinned identical across compaction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hrdp_variant_load_pipeline_spark.operators.similarity import (
    _cent_scored_sql as _cent_scored_sql_rd,
    _collapse_cents,
    _dot_sql,
    _norm_sql,
    _rank_topk,
)
from hrdp_variant_load_pipeline_spark.runtime import snapshot
from hrdp_variant_load_pipeline_spark.sources.store import (
    append_to_store,
    read_store,
)

_ROUND = 6
_STORE_SCHEMA = "bucket BIGINT, vec_id BIGINT, c_vec ARRAY<DOUBLE>, c_norm DOUBLE"


def _cent_array(centroids: DataFrame):
    """Norm + collapse the model-sized centroid set to ONE sorted array
    row (shared shape: similarity._collapse_cents)."""
    return _collapse_cents(
        centroids.selectExpr(
            "cent_id", "cvec", f"{_norm_sql('cvec')} AS cvec_norm"
        )
    )


def _cent_scored_sql(vec: str, vnorm: str) -> str:
    return _cent_scored_sql_rd(vec, vnorm, _ROUND)


def append_ivf_batch(
    vectors: DataFrame,
    centroids: DataFrame,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Assign a vector batch to buckets (row-local) and append it to the
    index store clustered by bucket. Incremental by construction — call
    per batch; returns the rows appended. Centroids must be the SAME set
    every call (they define the bucket space; retraining means a
    rebuild)."""
    from hrdp_variant_load_pipeline_spark.sources.tables import (
        spread_for_cpu,
    )

    c = spread_for_cpu(vectors).selectExpr(
        f"`{id_col}` AS vec_id",
        f"`{vec_col}` AS c_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS c_norm",
    )
    assigned = c.crossJoin(F.broadcast(_cent_array(centroids))).selectExpr(
        f"coalesce(array_min({_cent_scored_sql('c_vec', 'c_norm')}).cent_id,"
        " -1L) AS bucket",
        "vec_id",
        "c_vec",
        "c_norm",
    )
    n = assigned.count()
    # vec_id as the secondary clustering key: within each bucket-ranged
    # file, row groups then carry narrow id stats, so an id IN filter on
    # the store prunes row groups instead of scanning the whole id column
    append_to_store(assigned, store_dir, cluster_by=["bucket", "vec_id"])
    return n


def ivf_store_topk(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k over the persisted index, reading ONLY the probed buckets.

    The probe list (nprobe nearest centroids per query) is computed
    row-locally on the model-sized query set and its bucket ids are
    collected (<= |queries| x nprobe longs) so the scan carries a
    static ``bucket IN (...)`` filter — pushed to parquet, pruning
    every file whose footer range misses the probed buckets (the
    clustering contract ``append_ivf_batch`` enforces).

    Output: (query_id, neighbor_id, cosine, rank) — ivf_topk's schema,
    rounding, and tie rules.
    """
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS q_vec",
        f"{_norm_sql(f'`{vec_col}`')} AS q_norm",
    )
    # probe set is model-sized; compute once for both the driver-side
    # bucket collect and the join below
    probes = snapshot(
        q.crossJoin(F.broadcast(_cent_array(centroids)))
        .selectExpr(
            "query_id",
            "q_vec",
            "q_norm",
            f"explode(slice(array_sort({_cent_scored_sql('q_vec', 'q_norm')}),"
            f" 1, {nprobe})) AS __p",
        )
        .selectExpr("query_id", "q_vec", "q_norm", "__p.cent_id AS bucket"),
        reliable=False,
    )
    needed = sorted(
        {r["bucket"] for r in probes.select("bucket").distinct().collect()}
    )
    idx = read_store(
        spark, store_dir, schema=_STORE_SCHEMA
    ).filter(F.col("bucket").isin(needed))
    scored = (
        idx.join(F.broadcast(probes), "bucket")
        .where("vec_id != query_id")
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            f"round({_dot_sql('q_vec', 'c_vec')} / (q_norm * c_norm), "
            f"{_ROUND}) AS cosine",
        )
    )
    return _rank_topk(scored, k)
