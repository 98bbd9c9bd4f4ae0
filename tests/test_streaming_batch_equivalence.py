"""Streaming-vs-batch equivalence: the three Structured Streaming rows can
never have a DuckDB oracle (group-state / watermark semantics are not
SQL-expressible), but on a finite input their OUTPUT must equal the batch
operator over the same data. These tests upgrade the driver's rows-only
"ran clean" signal to a value-level guarantee: every emitted row is
compared against the batch plan, not just counted.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.queries_core import REGISTRY as CORE
from hrdp_variant_load_pipeline_spark.queries_ml import REGISTRY as ML
from hrdp_variant_load_pipeline_spark.sources.tables import table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata fixture not present"
)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def test_streaming_tumbling_equals_batch_windows(spark):
    stream_fn, _ = ML["streaming_tumbling_counts"]
    batch_fn, _ = CORE["events_tumbling_counts"]
    # align key encodings: streaming emits the window START as a formatted
    # UTC string, batch emits epoch//300 buckets — map both to the bucket
    streamed = stream_fn(spark, SF_DIR).select(
        (F.unix_timestamp("window_start") / 300).cast("long").alias("bucket"),
        "event_type",
        "n",
        "total",
    )
    batch = batch_fn(spark, SF_DIR)
    assert _rows(streamed) == _rows(batch)


def test_streaming_stateful_totals_equal_batch_totals(spark):
    stream_fn, _ = ML["streaming_stateful_totals"]
    streamed = stream_fn(spark, SF_DIR)
    batch = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total"))
    )
    # update-mode memory sink may emit a row per micro-batch; the FINAL
    # row per user must equal the batch total. processAllAvailable on a
    # static dir is one batch here — if the source ever splits batches,
    # the uniqueness assert flags it.
    assert streamed.groupBy("user_id").count().filter("count > 1").count() == 0
    got = {r["user_id"]: r for r in streamed.collect()}
    want = {r["user_id"]: r for r in batch.collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        assert got[uid]["n_events"] == w["n_events"], uid
        # stream rounds python-side; compare against the exact batch sum
        # with a rounding-grain tolerance (summation-order float noise)
        assert abs(got[uid]["total_value"] - w["total"]) <= 0.011, uid


def test_streaming_dedup_equals_batch_distinct(spark):
    stream_fn, _ = ML["streaming_dedup_events"]
    streamed = stream_fn(spark, SF_DIR)
    batch = table(spark, SF_DIR, "events").select("user_id", "event_type").distinct()
    assert _rows(streamed) == _rows(batch)


def test_streaming_windowed_approx_distinct_equals_batch(spark):
    """Sketch aggregates stream natively: watermarked tumbling
    approx_count_distinct(user_id) must emit exactly the batch plan's
    values (HLL++ is deterministic on identical input)."""
    import uuid

    from hrdp_variant_load_pipeline_spark.sources.tables import normalize_ts

    agg_cols = lambda src: (  # noqa: E731
        src.groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("n_users"))
        .select(
            (F.unix_timestamp("w.start") / 900).cast("long").alias("bucket"),
            "n_users",
        )
    )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
    )
    streamed = agg_cols(normalize_ts(stream).withWatermark("ts", "10 minutes"))
    name = f"ad_{uuid.uuid4().hex[:8]}"
    q = (
        streamed.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch = agg_cols(table(spark, SF_DIR, "events"))
    assert _rows(spark.table(name)) == _rows(batch)
