"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference pipeline is batch-only (finite VCF files,
HrdpVariants.java:94-115); these are the engine's streaming extensions for
continuous ingest of the same shapes — watermarked tumbling aggregation
(see queries_ml.streaming_tumbling_counts) and arbitrary per-key state
below. State lives in the HDFS-backed state store, partitioned by key, so
the operator scales horizontally like any shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) maintained in group state.

    Arbitrary-stateful shape the built-in windowed aggs can't express
    (e.g. carrying model state, decaying counters, per-key quotas). Input:
    streaming DataFrame with (user_id, value). Output one row per updated
    key per micro-batch.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup: first event per key wins, duplicates within
    the watermark horizon are dropped.

    The streaming counterpart of ``operators.dedup.exact`` for
    at-least-once sources (replayed files, redelivered messages):
    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    expires entries once the watermark passes, so state is bounded by the
    duplicate-arrival horizon instead of growing with the stream — the
    property that makes this runnable forever at ingest scale.

    Semantics note: the watermark advances AFTER each micro-batch, so a
    duplicate in the same batch that jumps event time forward is still
    dropped against the old state; only events arriving after that batch
    see the expired state and are readmitted as fresh keys.
    """
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
