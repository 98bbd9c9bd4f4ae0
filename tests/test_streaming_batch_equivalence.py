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


def test_streaming_session_windows_equal_batch_sessions(spark):
    """session_window merges per-key gap sessions in the state store; on a
    finite input the emitted sessions must equal the batch computation of
    the SAME expression (complete mode — append would hold back sessions
    the final watermark never passes)."""
    import uuid

    from hrdp_variant_load_pipeline_spark.sources.tables import normalize_ts
    from hrdp_variant_load_pipeline_spark.streaming.stateful import (
        session_window_stats,
    )

    raw_schema = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
    )
    streamed = session_window_stats(
        normalize_ts(stream), gap="30 minutes", watermark=None
    )
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    query = (
        streamed.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    batch = session_window_stats(
        table(spark, SF_DIR, "events"), gap="30 minutes"
    )
    assert _rows(spark.table(name)) == _rows(batch)
    # sanity against the sessionize oracle's per-user session counts:
    # same gap, same data -> same number of sessions per user
    from hrdp_variant_load_pipeline_spark.queries_core import REGISTRY as C

    oracle_counts = {
        r["user_id"]: r["n_sessions"]
        for r in C["events_sessionize"][0](spark, SF_DIR).collect()
    }
    got_counts = {
        r["user_id"]: r["count"]
        for r in spark.table(name).groupBy("user_id").count().collect()
    }
    assert got_counts == oracle_counts


def test_streaming_dedup_equals_batch_distinct(spark):
    stream_fn, _ = ML["streaming_dedup_events"]
    streamed = stream_fn(spark, SF_DIR)
    batch = table(spark, SF_DIR, "events").select("user_id", "event_type").distinct()
    assert _rows(streamed) == _rows(batch)


def test_stream_stream_interval_join_equals_batch(spark):
    """Click-attribution shape: purchases (left stream) joined to the same
    user's clicks within the 30-minute lookback (right stream). On a
    finite input the watermarked stream-stream join must emit EXACTLY the
    batch range-join's rows."""
    import uuid

    from hrdp_variant_load_pipeline_spark.sources.tables import normalize_ts
    from hrdp_variant_load_pipeline_spark.streaming.joins import interval_join

    ev = table(spark, SF_DIR, "events").select("ts", "user_id", "event_type", "event_id")
    batch = interval_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        key_col="user_id",
        lookback="30 minutes",
    ).select("user_id", "event_id", "event_id_r")

    raw_schema = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
    )
    stream = normalize_ts(stream).select("ts", "user_id", "event_type", "event_id")
    joined = interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
        key_col="user_id",
        lookback="30 minutes",
    ).select("user_id", "event_id", "event_id_r")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.table(name)
    assert batch.count() > 0  # fixture must actually exercise the join
    assert _rows(streamed) == _rows(batch)


def test_stream_stream_left_outer_join_equals_batch(spark, tmp_path):
    """Left-outer stream-stream join: unmatched purchases (no click in the
    lookback) may only emit once the watermark PASSES their horizon, so the
    stream is fed as multiple micro-batches with far-future sentinel rows
    that push the watermark beyond all real data and flush every pending
    outer row. Output (sans sentinels) must equal the batch left-outer
    range join."""
    import uuid

    from hrdp_variant_load_pipeline_spark.sources.tables import normalize_ts
    from hrdp_variant_load_pipeline_spark.streaming.joins import interval_join

    ev = table(spark, SF_DIR, "events").select("ts", "user_id", "event_type", "event_id")
    batch = interval_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        key_col="user_id",
        lookback="30 minutes",
        how="left_outer",
    ).select("user_id", "event_id", "event_id_r")

    # stage the stream dir: two half-files of real events, then two
    # sentinel files (one purchase, one click, far future, negative user)
    # whose arrival advances BOTH sides' watermarks past all real data
    src = str(tmp_path / "stream_src")
    norm = normalize_ts(spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))).select(
        "ts", "user_id", "event_type", "event_id"
    )
    norm.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    norm.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    far = norm.agg(F.max("ts").alias("m")).selectExpr(
        "m + INTERVAL 2 DAYS AS ts", "CAST(-1 AS BIGINT) AS user_id",
        "'purchase' AS event_type", "CAST(-1 AS BIGINT) AS event_id",
    )
    far.union(
        far.selectExpr("ts + INTERVAL 1 HOUR AS ts", "CAST(-2 AS BIGINT) AS user_id",
                       "'click' AS event_type", "CAST(-2 AS BIGINT) AS event_id")
    ).coalesce(1).write.mode("append").parquet(src)
    far.selectExpr("ts + INTERVAL 2 HOURS AS ts", "user_id", "event_type",
                   "CAST(-3 AS BIGINT) AS event_id").union(
        far.selectExpr("ts + INTERVAL 3 HOURS AS ts", "CAST(-2 AS BIGINT) AS user_id",
                       "'click' AS event_type", "CAST(-4 AS BIGINT) AS event_id")
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(norm.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    joined = interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
        key_col="user_id",
        lookback="30 minutes",
        how="left_outer",
    ).select("user_id", "event_id", "event_id_r")
    name = f"ssoj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.table(name).filter(F.col("user_id") >= 0)
    n_unmatched = batch.filter(F.col("event_id_r").isNull()).count()
    assert n_unmatched > 0  # fixture must exercise the outer path
    assert _rows(streamed) == _rows(batch)


def _events_stream(spark):
    raw_schema = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema
    return (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
    )


def test_streaming_bottom_k_sample_equals_batch_order_by_hash(spark):
    """The kept set must equal the batch 'k smallest md5(salt||id) per
    bucket' — deterministic by construction, so stream and batch cannot
    disagree regardless of arrival order or batching."""
    import uuid

    from hrdp_variant_load_pipeline_spark.streaming.stateful import (
        streaming_bottom_k_sample,
    )

    k, nb = 8, 4
    out = streaming_bottom_k_sample(
        _events_stream(spark), "event_id", k=k, n_buckets=nb
    )
    name = f"bk_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["bucket"], r["id"])
        for r in spark.table(name)
        .groupBy("bucket", "id")
        .agg(F.max("n_seen"))
        .collect()
    }

    ev = table(spark, SF_DIR, "events").select(
        F.col("event_id").cast("string").alias("id")
    ).distinct()
    ranked = ev.select(
        "id",
        F.pmod(F.xxhash64("id"), F.lit(nb)).alias("bucket"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("bk"), F.col("id"))), 1, 16), 16, 10)
            .cast("double")
        ).alias("h"),
    ).withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("bucket").orderBy("h")
        ),
    )
    want = {(r["bucket"], r["id"]) for r in ranked.filter(F.col("rn") <= k).collect()}
    assert got == want
    # cardinality estimate from the k-th smallest hash per bucket is in
    # the right ballpark (sf0.001 events: 1000 distinct event ids)
    kth = {
        r["bucket"]: r["kh"]
        for r in spark.table(name)
        .groupBy("bucket")
        .agg(F.max("hash_unit").alias("kh"))
        .collect()
    }
    est = sum((k - 1) / v for v in kth.values())
    true_n = ev.count()
    assert 0.3 * true_n <= est <= 3 * true_n


def test_streaming_sample_quantiles_track_exact(spark):
    """Bottom-k sample -> value join-back -> quantile estimates within
    sampling error of the exact percentiles."""
    import uuid

    from hrdp_variant_load_pipeline_spark.streaming.stateful import (
        streaming_bottom_k_sample,
    )

    out = streaming_bottom_k_sample(
        _events_stream(spark), "event_id", k=64, n_buckets=4
    )
    name = f"qs_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ev = table(spark, SF_DIR, "events")
    kept = (
        spark.table(name)
        .select(F.col("id").cast("long").alias("event_id"))
        .distinct()
        .join(ev, "event_id")
    )
    assert kept.count() == 4 * 64
    pcts = F.expr("percentile(value, array(0.25, 0.5, 0.75))")
    est = kept.agg(pcts).collect()[0][0]
    exact = ev.agg(pcts).collect()[0][0]
    spread = ev.agg(F.max("value") - F.min("value")).collect()[0][0]
    for e, x in zip(est, exact):
        assert abs(e - x) <= 0.15 * spread, (est, exact)


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
