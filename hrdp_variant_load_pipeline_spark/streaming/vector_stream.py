"""Continuous vector ingest: a parquet stream of embeddings maintains a
standing top-k-neighbors result for a fixed query set.

The streaming twin of ``operators.similarity.brute_force_topk``, built
on ``incremental_topk``: each micro-batch is scored ONLY against the
standing queries (broadcast, model-sized) and folded into the persisted
top-k — the historical corpus is never rescanned, so per-batch cost is
O(batch x queries + queries x k) regardless of how much history the
index has absorbed (the same per-batch contract as
``stream_corpus_ingest``'s candidate-pruned dedup probe).

State lives in a versioned store (``sources.store``): every batch folds
into the CURRENT version and commits a NEW one behind the atomic
marker, so readers always see a complete top-k and a crash mid-commit
leaves the previous version live. Effectively-once on replay:
``incremental_topk`` drops byte-identical (query, neighbor) rows before
re-ranking, so re-folding a replayed batch is a no-op.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hrdp_variant_load_pipeline_spark.operators.similarity import (
    incremental_topk,
)
from hrdp_variant_load_pipeline_spark.runtime import release, snapshot
from hrdp_variant_load_pipeline_spark.sources.store import (
    commit_store_version,
    read_store,
)

_TOPK_SCHEMA = "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rank INT"


def stream_topk_maintain(
    spark: SparkSession,
    input_dir: str,
    queries: DataFrame,
    topk_store_dir: str,
    checkpoint_dir: str,
    vec_schema: str = "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_files_per_trigger: int | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
):
    """Start the maintainer; returns the StreamingQuery.

    ``queries`` is a batch frame of (id_col, vec_col) — model-sized (it
    is broadcast into every batch's score join). Read the standing
    result any time with ``read_store(spark, topk_store_dir)``; the
    schema is ``brute_force_topk``'s (query_id, neighbor_id, cosine,
    rank).
    """
    q = snapshot(queries.select(id_col, vec_col), reliable=False)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prev = read_store(spark, topk_store_dir, schema=_TOPK_SCHEMA)
        folded = incremental_topk(
            prev, batch_df, q, id_col=id_col, vec_col=vec_col, k=k
        )
        # pin the fold BEFORE committing: its lineage reads the store
        # version the commit housekeeping may delete (KEEP_PREVIOUS)
        folded = snapshot(folded, reliable=False)
        commit_store_version(folded, topk_store_dir)
        if on_batch is not None:
            on_batch(
                batch_id,
                {"batch_vectors": batch_df.count(),
                 "topk_rows": folded.count()},
            )
        release(folded)  # the next batch folds from the committed store

    reader = spark.readStream.schema(vec_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
