"""Time-series regularization: per-key resampling onto a fixed grid with
gap interpolation.

Sensor/metric feeds arrive irregular and gappy; training and analytics
want fixed-step series. ``resample_interpolate`` snaps observations to a
grid and fills holes linearly between surrounding observations. All work
is per-key: the grid generation is one aggregate + row-local
``sequence``/``explode``, and the fills are windows partitioned by key
(never a global sort), so series parallelize like any keyed aggregation
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "5 minutes",
) -> DataFrame:
    """Resample each key's series onto a regular ``step`` grid spanning
    its observed range, filling empty buckets.

    Observations snap to their bucket start (last value wins within a
    bucket — the usual "latest reading" semantic); empty buckets are
    interpolated between the surrounding observations by time distance.
    The grid covers floor(min ts)..floor(max ts) per key, so
    every grid point has an observation on at least one side; the first
    bucket is always observed and later buckets are never null.

    Output: (key, bucket_ts, value, observed) — ``observed`` marks real
    buckets vs filled ones.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    # step in SECONDS via epoch arithmetic: casting a day-time interval to
    # long yields the value in the interval's own end-field units
    # (INTERVAL '10 minutes' -> 10), which silently turned bucketing into
    # a near-no-op on whole-minute data
    step_s = F.unix_timestamp(
        F.timestamp_seconds(F.lit(0)) + F.expr(f"INTERVAL {step}")
    )
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(t) / step_s.cast("double")).cast("long") * step_s
    )
    obs = (
        df.select(k.alias("key"), bucket.alias("bucket_ts"), t.alias("__t"), v.alias("__v"))
        .groupBy("key", "bucket_ts")
        .agg(F.max_by("__v", "__t").alias("obs_value"))
    )
    grid = (
        obs.groupBy("key")
        .agg(F.min("bucket_ts").alias("__lo"), F.max("bucket_ts").alias("__hi"))
        .select(
            "key",
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step}"))
            ).alias("bucket_ts"),
        )
    )
    joined = grid.join(obs, ["key", "bucket_ts"], "left")
    w_prev = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("obs_value", ignorenulls=True).over(w_prev)
    ot = F.when(F.col("obs_value").isNotNull(), F.col("bucket_ts"))
    prev_t = F.last(ot, ignorenulls=True).over(w_prev)
    next_v = F.first("obs_value", ignorenulls=True).over(w_next)
    next_t = F.first(ot, ignorenulls=True).over(w_next)
    span = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
    frac = (
        (F.unix_timestamp("bucket_ts") - F.unix_timestamp(prev_t))
        / F.when(span > 0, span).otherwise(F.lit(1))
    )
    value = F.when(F.col("obs_value").isNotNull(), F.col("obs_value")).otherwise(
        # trailing gap (no next observation): carry forward
        F.when(next_v.isNull(), prev_v).otherwise(
            prev_v + (next_v - prev_v) * frac
        )
    )
    return joined.select(
        F.col("key").alias(key_col),
        "bucket_ts",
        value.alias(value_col),
        F.col("obs_value").isNotNull().alias("observed"),
    )
