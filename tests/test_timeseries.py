"""Per-key grid resampling + interpolation (operators/timeseries.py)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.timeseries import (
    resample_interpolate,
)


def _series(spark):
    rows = [
        # key "a": observations at 00, 10, 40 min -> gaps at 20, 30
        ("a", datetime(2024, 1, 1, 0, 0), 10.0),
        ("a", datetime(2024, 1, 1, 0, 10), 20.0),
        ("a", datetime(2024, 1, 1, 0, 40), 50.0),
        # two readings in one bucket: the later one wins
        ("a", datetime(2024, 1, 1, 0, 40, 30), 55.0),
        # key "b": single observation -> one-bucket series
        ("b", datetime(2024, 1, 1, 2, 3), 7.0),
    ]
    return spark.createDataFrame(rows, "sensor string, ts timestamp, value double")


def test_linear_interpolation_fills_gaps(spark):
    out = resample_interpolate(
        _series(spark), "sensor", "ts", "value", step="10 minutes"
    )
    a = {
        r["bucket_ts"].minute: (r["value"], r["observed"])
        for r in out.filter("sensor = 'a'").collect()
    }
    assert a[0] == (10.0, True)
    assert a[10] == (20.0, True)
    # linear between (10min, 20.0) and (40min, 55.0)
    assert a[20] == (pytest.approx(31.666666, abs=1e-4), False)
    assert a[30] == (pytest.approx(43.333333, abs=1e-4), False)
    assert a[40] == (55.0, True)  # later reading wins the bucket
    assert len(a) == 5
    b = out.filter("sensor = 'b'").collect()
    assert len(b) == 1 and b[0]["value"] == 7.0 and b[0]["observed"]


def test_keys_are_isolated(spark):
    out = resample_interpolate(_series(spark), "sensor", "ts", "value", step="10 minutes")
    # key b's lone bucket never absorbs key a's values
    assert out.filter("sensor = 'b'").count() == 1


def test_windows_partition_by_key_not_global(spark):
    plan = (
        resample_interpolate(_series(spark), "sensor", "ts", "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan
    assert "hashpartitioning(key" in plan


def test_events_fixture_end_to_end(spark):
    from hrdp_variant_load_pipeline_spark.sources.tables import table

    ev = table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("user_id") < 20
    )
    out = resample_interpolate(ev, "user_id", "ts", "value", step="1 hour")
    assert out.count() > 0
    # no nulls anywhere: the grid spans each key's observed range
    assert out.filter("value IS NULL").count() == 0
    # buckets strictly regular per key
    gaps = out.selectExpr(
        "user_id",
        "unix_timestamp(bucket_ts) - lag(unix_timestamp(bucket_ts)) "
        "OVER (PARTITION BY user_id ORDER BY bucket_ts) AS d",
    ).filter("d IS NOT NULL AND d <> 3600")
    assert gaps.count() == 0
