"""Continuous corpus ingest: JSONL stream → quarantine → dedup against the
persisted LSH index → append docs + index rows.

The streaming twin of the batch corpus pipeline, composed from the same
operators (``sources.corpus_io.split_jsonl_lines``,
``operators.dedup.banded_signatures`` / ``incremental_minhash_dedup``,
``sources.store.append_to_store``): each micro-batch is deduplicated
against ALL history through the signature index — history is never
re-shingled nor re-shuffled (the verify stage fetches historical
shingles through a broadcast semi-join against the batch's candidate
ids), so per-batch cost is O(batch + candidates), not O(corpus).

Effectively-once on replay, same argument as ``stream_vcf_loader``:
``foreachBatch`` is at-least-once, but a replayed batch's doc ids already
sit in the docs store and the exact-id anti-join drops them; quarantine
appends anti-join their own batch's prior rows. The index is appended
BEFORE the docs (and the index probe excludes same-id matches), so a
crash between the two appends re-accepts the docs on replay — duplicate
index rows are benign (the probe dedups candidates), whereas the reverse
order left a permanent signature-index gap.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hrdp_variant_load_pipeline_spark.operators.dedup import (
    banded_signatures,
    incremental_minhash_dedup,
)
from hrdp_variant_load_pipeline_spark.runtime import release, snapshot
from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
    DOC_SCHEMA,
    split_jsonl_lines,
)
from hrdp_variant_load_pipeline_spark.sources.store import (
    append_to_store,
    read_store,
)

#: empty-store schema for the signature index; ``doc`` mirrors
#: ``DOC_SCHEMA``'s BIGINT id (a custom ``schema`` with a non-integral id
#: needs a matching custom index bootstrap)
_INDEX_SCHEMA = "doc BIGINT, band_idx INT, band_val STRING, sh ARRAY<STRING>"


def stream_corpus_ingest(
    spark: SparkSession,
    input_dir: str,
    docs_store_dir: str,
    index_store_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    schema: str = DOC_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
    broadcast_probe: bool = True,
    quality_filter: Column | None = None,
    text_index_dir: str | None = None,
    text_index_buckets: int = 64,
    decon_benchmark: DataFrame | None = None,
    decon_n: int = 8,
):
    """Start the ingest stream; returns the StreamingQuery.

    Per micro-batch: parse lines (corrupt → ``quarantine_dir``, verbatim),
    drop ids already in the docs store (replay/idempotence), drop docs
    near-duplicating history via the index probe or an earlier doc of the
    same batch (canonical = lowest id), then append accepted docs to
    ``docs_store_dir`` and their banded signatures to
    ``index_store_dir``. ``on_batch`` receives per-batch counts.

    ``quality_filter`` (optional) is a boolean Column over the parsed doc
    schema — e.g. ``gopher_rules(F.col("text")).passes`` or a
    ``lm_doc_score``-derived gate — applied BEFORE any dedup work, so
    rejected docs never pay shingling, index probes, or store appends;
    per-batch metrics gain a ``rejected`` count. Quality gating a
    continuous ingest here is exactly the batch pipeline's stage-2 gate
    running per micro-batch.

    ``text_index_dir`` (optional) maintains a persisted BM25 inverted
    index (`operators/text_index.py`) over the accepted docs, one
    batch-keyed append per micro-batch. Ordered BETWEEN the signature
    append and the docs append, every crash point replays consistently:
    before the text append, the ids are still absent from the docs store
    so the replayed batch re-accepts and appends (the batch_key skips
    nothing new); after it, the batch_key marker makes the replay a
    no-op for the text index regardless of whether the docs append
    landed. Probe-side distinct absorbs a crashed attempt's duplicate
    posting rows, so index probes stay bit-equal to ``bm25_scores`` over
    the accepted corpus throughout.

    ``broadcast_probe`` is forwarded to the index probe: the default
    assumes bounded micro-batches (set ``max_files_per_trigger``!); pass
    ``False`` when a first trigger may swallow a huge backlog — e.g. a
    restart over an unthrottled directory — so the band join shuffles
    instead of broadcasting a too-large batch.

    ``decon_benchmark`` (optional) is the benchmark/eval frame of the
    batch chain's n-gram decontamination stage (``operators.corpus.
    decontaminate``); it must carry ``text_col``. Docs sharing any word
    ``decon_n``-gram with it are
    DROPPED before any dedup work, so contaminated docs never enter the
    docs store, the signature index, or the text index — the stream-side
    twin of the batch stage, with identical shingle semantics. The
    benchmark's distinct shingle set is eval-sized and materialized ONCE
    at stream start (not per micro-batch); each batch pays one row-local
    shingle pass + a broadcast semi join. Deterministic, so crash
    replays drop the same docs. Per-batch metrics gain a
    ``contaminated`` count.
    """

    bench_shingles = None
    if decon_benchmark is not None:
        from hrdp_variant_load_pipeline_spark.operators.dedup import (
            shingle_array,
        )

        # eval-sized by contract; materialized once so every micro-batch
        # reuses the same snapshot instead of re-shingling the benchmark
        bench_shingles = snapshot(
            decon_benchmark.select(
                F.explode(
                    shingle_array(F.col(text_col), decon_n)
                ).alias("__shingle")
            ).distinct(),
            reliable=False,
        )

    _sid_cache: dict = {}

    def _stream_id() -> str:
        """Namespace for the text-index batch_key: the streaming query's
        STABLE id from the checkpoint metadata — unchanged across
        restarts of the same checkpoint (so replays are still skipped),
        fresh after a checkpoint wipe (batch ids restart at 0 there, and
        an un-namespaced 'batch-0' marker from the previous incarnation
        would silently skip indexing genuinely new docs). Falls back to
        a hash of the checkpoint path for non-local checkpoint stores —
        same restart semantics, minus wipe detection."""
        if "id" not in _sid_cache:
            import hashlib
            import json as _json
            import os as _os

            try:
                with open(_os.path.join(checkpoint_dir, "metadata")) as fh:
                    _sid_cache["id"] = _json.load(fh)["id"][:8]
            except (OSError, KeyError, ValueError):
                _sid_cache["id"] = hashlib.md5(
                    checkpoint_dir.encode()
                ).hexdigest()[:8]
        return _sid_cache["id"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs, quarantine = split_jsonl_lines(batch_df, schema)
        n_rej = 0
        if quality_filter is not None:
            gated = docs.withColumn("__q", quality_filter).persist()
            n_all = gated.count()
            docs = gated.filter(F.col("__q")).drop("__q").persist()
            n_rej = n_all - docs.count()
            release(gated)
        else:
            docs = docs.persist()
        n_cont = 0
        if bench_shingles is not None:
            # the batch chain's decon stage per micro-batch: row-local
            # shingles, broadcast semi vs the pre-materialized eval set,
            # anti-join on the (batch-sized) contaminated id set.
            # Deterministic -> replay-safe without any state.
            pre = docs
            n_before = pre.count()
            contaminated = (
                pre.select(
                    F.col(id_col),
                    F.explode(
                        shingle_array(F.col(text_col), decon_n)
                    ).alias("__shingle"),
                )
                .join(F.broadcast(bench_shingles), "__shingle", "left_semi")
                .select(id_col)
                .distinct()
            )
            docs = pre.join(contaminated, id_col, "left_anti").persist()
            n_cont = n_before - docs.count()
            release(pre)
        try:
            n_quar = quarantine.count()
            if n_quar:
                # idempotent under replay: drop lines this batch already
                # quarantined in a previous (crashed) attempt
                tagged = quarantine.withColumn("batch_id", F.lit(batch_id))
                existing = read_store(
                    spark, quarantine_dir, schema="raw STRING, batch_id BIGINT"
                ).filter(F.col("batch_id") == batch_id)
                fresh_q = tagged.join(existing, ["raw", "batch_id"], "left_anti")
                # pinned BEFORE the append mutates its input
                fresh_q = snapshot(fresh_q, reliable=False)
                append_to_store(fresh_q, quarantine_dir)
                release(fresh_q)
            store_ids = read_store(
                spark, docs_store_dir, schema=schema
            ).select(id_col)
            # replay probe, batch-bounded: semi-join the store's id column
            # to the batch ids FIRST (broadcasting the batch side), so the
            # anti-join's build side is the ≤batch-sized hit set — never
            # the full history id set (which the planner would otherwise
            # broadcast or shuffle, an O(history) cost per batch). The
            # broadcast hints share the probe's boundedness assumption, so
            # they are gated on the SAME flag as the band join: with
            # broadcast_probe=False (restart over an unthrottled backlog —
            # one trigger may swallow the whole directory) the batch id
            # set shuffles instead of shipping to every executor.
            batch_ids = docs.select(id_col)
            if broadcast_probe:
                batch_ids = F.broadcast(batch_ids)
            hit_ids = store_ids.join(batch_ids, id_col, "left_semi")
            if broadcast_probe:
                hit_ids = F.broadcast(hit_ids)
            fresh = docs.join(hit_ids, id_col, "left_anti").persist()
            n_fresh = fresh.count()
            if n_fresh == 0:
                release(fresh)
                if on_batch is not None:
                    on_batch(
                        batch_id,
                        {"quarantined": n_quar, "rejected": n_rej,
                         "contaminated": n_cont, "fresh": 0, "accepted": 0},
                    )
                return
            index = read_store(spark, index_store_dir, schema=_INDEX_SCHEMA)
            pairs = incremental_minhash_dedup(
                fresh,
                index,
                id_col,
                text_col,
                verify_threshold=verify_threshold,
                broadcast_probe=broadcast_probe,
            )
            # drop: any doc near-duplicating history, and the NON-canonical
            # side of intra-batch pairs (doc_new < doc_dup, so doc_dup is
            # always the one to drop — the lowest id of a cluster survives)
            drop = (
                pairs.filter(F.col("source") == "index")
                .select(F.col("doc_new").alias(id_col))
                .union(
                    pairs.filter(F.col("source") == "batch").select(
                        F.col("doc_dup").alias(id_col)
                    )
                )
                .distinct()
            )
            # EAGER lineage truncation, not persist(): accepted's plan
            # reads the docs store (the anti-join), and the appends below
            # MUTATE that store — a cache miss would silently recompute
            # accepted against the post-append store (empty fresh set, no
            # index rows). Checkpointing pins the rows first; the appends
            # then cannot feed back into their own input.
            accepted = fresh.join(drop, id_col, "left_anti")
            accepted = snapshot(accepted, reliable=False)
            n_acc = accepted.count()
            if n_acc:
                # index FIRST, docs second: a crash between the two leaves
                # signature rows for ids absent from the docs store — the
                # replay re-accepts those docs (self-matches are excluded
                # in the index probe) and re-appends, leaving only benign
                # duplicate index rows (deduped by the probe's distinct).
                # The reverse order left a PERMANENT index gap: replayed
                # ids were dropped by the exact-id probe before their
                # signatures were ever written.
                # cluster_by: each appended file covers a narrow,
                # disjoint id range, making the probe's candidate-id
                # pushdown actually skip files via footer min/max — the
                # store-level contract tests/test_corpus_stream.py pins.
                # The docs store gets the same treatment: today's replay
                # probe only semi-joins the id column, but compaction
                # locality and any id-ranged reader get the narrow files
                # for the price of one batch-bounded range shuffle
                append_to_store(
                    banded_signatures(accepted, id_col, text_col),
                    index_store_dir,
                    cluster_by=["doc"],
                )
                if text_index_dir is not None:
                    from hrdp_variant_load_pipeline_spark.operators.text_index import (  # noqa: E501
                        append_text_index_batch,
                    )

                    append_text_index_batch(
                        accepted.select(id_col, text_col),
                        text_index_dir,
                        id_col=id_col,
                        text_col=text_col,
                        n_buckets=text_index_buckets,
                        batch_key=f"{_stream_id()}-{batch_id}",
                    )
                append_to_store(accepted, docs_store_dir, cluster_by=[id_col])
            release(fresh, accepted, pairs)
            if on_batch is not None:
                on_batch(
                    batch_id,
                    {
                        "quarantined": n_quar,
                        "rejected": n_rej,
                        "contaminated": n_cont,
                        "fresh": n_fresh,
                        "accepted": n_acc,
                    },
                )
        finally:
            release(docs)

    reader = (
        spark.readStream.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.jsonl*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.text(input_dir)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
