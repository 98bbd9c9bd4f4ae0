"""Continuous VCF ingest: the --runLoad DAG as a Structured Streaming job.

The reference is a cron-run batch loader (run.sh); this is the engine's
streaming variant (SURVEY.md §2.10): a file-source stream watches the
landing directory, and each micro-batch of newly-arrived VCF files runs
through the SAME batch load plan via ``foreachBatch`` — dedup against the
store keeps ingest idempotent, so replays and overlapping drops are safe.

Design note: ``foreachBatch`` hands us exactly-once file batches with full
batch-API access; the load plan stays one implementation. The stream
carries only file arrivals — per-file parsing re-enters through
``read_vcf`` so header handling, normalization, and dedup are identical to
the batch path. State (the variant/detail stores) lives in the sinks, not
the stream, so a restart resumes from the checkpoint with no rebuild.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.plans.load import (
    LoadResult,
    first_free_rgd_id,
    run_load,
)
from hrdp_variant_load_pipeline_spark.sources.store import (
    append_to_store,
    read_store as _read_store,
)
from hrdp_variant_load_pipeline_spark.sources.vcf import read_vcf


def stream_vcf_loader(
    spark: SparkSession,
    input_dir: str,
    genes: DataFrame,
    samples: DataFrame,
    variant_store_dir: str,
    detail_store_dir: str,
    map_key: int,
    checkpoint_dir: str,
    on_batch: Callable[[int, LoadResult], None] | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming loader; returns the StreamingQuery.

    Each micro-batch: collect the batch's distinct file paths (tiny), parse
    those files with the batch VCF source, run the full load plan against
    the current stores, append the new rows. Call
    ``query.processAllAvailable()`` to drain synchronously in tests.

    ``max_files_per_trigger`` bounds a micro-batch to that many newly-seen
    files: a bulk landing (weeks of backlog, a re-drop of the whole corpus)
    is then worked off as several bounded batches instead of one giant one
    — each batch's dedup join and store append stays memory-sized, and a
    failure loses at most one bounded batch of progress. Unset, Spark's
    default takes every available file per trigger.

    Effectively-once on replay: ``foreachBatch`` is at-least-once (a crash
    between the store append and the checkpoint commit replays the batch),
    but the replayed load re-runs the insert-if-absent dedup against the
    store that already holds the first attempt's rows, so the replay
    appends only what is missing — the same idempotence the reference gets
    from its per-line existence probes (``HrdpVariants.java:310-314``),
    here from one anti-join. No dedup-at-read or transactional sink is
    required for the variant/detail stores.
    """
    reader = (
        spark.readStream.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.vcf*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.text(input_dir).select(F.input_file_name().alias("path"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        paths = [r["path"] for r in batch_df.select("path").distinct().collect()]
        if not paths:
            return
        local = [p.removeprefix("file:") for p in paths]
        vcf = read_vcf(spark, local[0] if len(local) == 1 else os.path.commonpath(local))
        # restrict to this batch's files (commonpath may cover extras)
        basenames = {os.path.basename(p) for p in local}
        vcf = vcf.filter(F.col("source_file").isin(*basenames))

        vstore = _read_store(spark, variant_store_dir, schemas.VARIANT)
        dstore = _read_store(spark, detail_store_dir, schemas.VARIANT_SAMPLE_DETAIL)
        res = run_load(
            vcf,
            genes,
            samples,
            vstore,
            dstore,
            map_key,
            next_rgd_id=first_free_rgd_id(vstore, variant_store_dir),
        )
        try:
            if res.n_new:
                append_to_store(res.new_variants, variant_store_dir)
            append_to_store(res.new_sample_details, detail_store_dir)
            if on_batch is not None:
                on_batch(batch_id, res)
        finally:
            # one load per micro-batch: without this the per-load caches
            # accumulate for the lifetime of the streaming query
            res.release()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
