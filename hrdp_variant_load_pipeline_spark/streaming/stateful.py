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
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def session_window_stats(
    df: DataFrame,
    key_col: str = "user_id",
    event_time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Per-key gap-based session windows via the built-in
    ``session_window`` — the streaming-native counterpart of the batch
    ``events_sessionize`` query (lag-over-window sessionization cannot run
    on a stream; session windows merge in the state store as events
    arrive and EMIT when the watermark passes a session's gap).

    Works identically on batch and streaming inputs (the batch run is the
    oracle for the streaming one — pinned in
    ``tests/test_streaming_batch_equivalence.py``). State per open session
    is bounded by the watermark horizon, so continuous ingest runs
    forever; the shuffle is keyed on (key, session), the same partitioning
    any aggregation would need.

    Output: (key, session_start, session_end, n_events).
    """
    from pyspark.sql import functions as F

    src = df
    if watermark is not None and df.isStreaming:
        src = df.withWatermark(event_time_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(event_time_col), gap).alias("w"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


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


def streaming_bottom_k_sample(
    stream: DataFrame,
    id_col: str,
    k: int = 64,
    n_buckets: int = 8,
    salt: str = "bk",
) -> DataFrame:
    """Deterministic uniform sample of an unbounded stream in bounded
    state: per hash bucket, keep the ``k`` ids with the SMALLEST
    ``md5(salt||id)`` values (a bottom-k sketch).

    Since the hash is a fixed uniform function of the id — no RNG, no
    arrival-order dependence — the kept set equals the batch expression
    ``ORDER BY md5(salt||id) LIMIT k`` over everything seen so far:
    replays, re-partitioning, and batch/stream disagreement are
    impossible by construction. The union of buckets is a uniform
    without-replacement sample of size ``n_buckets × k``, and the k-th
    smallest hash doubles as a cardinality estimate
    (``(k-1) / kth_hash_unit`` per bucket — summed across buckets).

    Output (update mode): one row per kept id per micro-batch —
    (bucket, id, hash_unit, n_seen). State: ``n_buckets × k`` rows,
    forever.
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import hashlib

        if state.exists:
            ids, hashes, n_seen = state.get
            kept = dict(zip(ids, hashes))
        else:
            kept, n_seen = {}, 0
        for pdf in batches:
            for sid in pdf["__sid"]:
                n_seen += 1
                if sid in kept:
                    continue
                h = int.from_bytes(
                    hashlib.md5((salt + sid).encode()).digest()[:8], "big"
                ) / float(2**64)
                if len(kept) < k:
                    kept[sid] = h
                else:
                    worst = max(kept, key=kept.get)
                    if h < kept[worst]:
                        del kept[worst]
                        kept[sid] = h
        state.update((list(kept), [float(h) for h in kept.values()], n_seen))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(kept),
                "id": list(kept),
                "hash_unit": [float(h) for h in kept.values()],
                "n_seen": [n_seen] * len(kept),
            }
        )

    bucketed = stream.select(
        F.col(id_col).cast("string").alias("__sid")
    ).withColumn("bucket", F.pmod(F.xxhash64(F.col("__sid")), F.lit(n_buckets)))
    return bucketed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType="bucket long, id string, hash_unit double, n_seen long",
        stateStructType="ids array<string>, hashes array<double>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
