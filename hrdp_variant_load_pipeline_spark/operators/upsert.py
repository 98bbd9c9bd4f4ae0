"""Insert-if-absent / keyed-update (upsert) operators.

The reference issues one JDBC existence probe per VCF line / per
variant×sample pair (HrdpVariants.java:310-314,480 — the N+1 pattern), a
sequence-allocated surrogate key per new row (DAO.java:55-58), and keyed
batch UPDATEs (DAO.java:142-163). Set-oriented Spark equivalents:

* existence probe → one anti/left join of the whole batch against the
  store (single shuffle or broadcast, not N round trips);
* ``rgd_ids_seq.nextval`` → ``row_number()`` over a deterministic order +
  the store's current max id (parallel, deterministic — NOT
  ``monotonically_increasing_id``, whose values depend on partitioning);
* keyed UPDATE → MERGE emulation: anti-join the store against the updates,
  union the updated rows back (Delta MERGE when available).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_surrogate_ids_scalable(
    df: DataFrame,
    order_by: Sequence,
    base_id: int,
    id_col: str = "rgd_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Surrogate-key allocation without the single-partition sort.

    A no-partitionBy window funnels every row through ONE task — fine for
    small new-row batches, fatal at 100 TB. This variant range-partitions
    on the order keys (parallel sort), ranks within each partition, and
    adds per-partition offsets computed from a tiny one-row-per-partition
    aggregate. The partitioned frame is persisted so the offset pass and
    the id pass see identical partition ids. Result ids are identical to
    a global ``row_number()`` window for any total order.

    The internal persist outlives this call (the returned frame reads it
    lazily); pass ``cache_registry`` to receive the persisted frame and
    ``unpersist()`` it once the result has been materialized — long-lived
    sessions (streaming micro-batches) leak cache otherwise.
    """
    spark = df.sparkSession
    ranged = (
        df.repartitionByRange(spark.sparkContext.defaultParallelism, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(ranged)
    counts = ranged.groupBy("__pid").count().orderBy("__pid").collect()
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["__pid"], acc))
        acc += r["count"]
    offset_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __offset long")
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        ranged.join(F.broadcast(offset_df), "__pid")
        .withColumn(
            id_col,
            (F.row_number().over(w) + F.col("__offset") + F.lit(base_id)).cast("long"),
        )
        .drop("__pid", "__offset")
    )


def merge_update(
    store: DataFrame,
    updates: DataFrame,
    key: str,
    set_cols: Sequence[str],
    order_col: str | None = None,
) -> DataFrame:
    """MERGE WHEN MATCHED THEN UPDATE emulation in plain Spark.

    ``updates`` must carry ``key`` + ``set_cols``. Store rows with a
    matching key get the new column values; everything else passes through.
    Equivalent of DAO.java:142-163's keyed batch UPDATE. With a Delta/
    Iceberg sink this becomes a real MERGE INTO (see sources/sinks.py for
    the sink abstraction).

    Scale/correctness hardening:

    * updates are reduced to ONE row per key first: duplicate keys (e.g.
      the same rgd_id's end_pos from several files) would otherwise fan
      out store rows through the join and DUPLICATE the store after
      overwrite. With ``order_col`` (a batch-position column: source file,
      line number) the LAST row in that order wins — the reference's keyed
      batch-UPDATE semantics, where later statements overwrite earlier
      ones. Without it the reduce is ``max`` over the set-col tuple:
      deterministic cross-run, but an intentional deviation — several
      files updating one key apply the numerically largest tuple, not the
      batch-order value;
    * no forced broadcast hint: an update set can approach store size
      (genic-QC drift after a gene-annotation refresh), and a forced
      broadcast of an unbounded side is a driver/executor OOM at scale.
      Catalyst/AQE picks broadcast automatically when the reduced update
      set is below ``spark.sql.autoBroadcastJoinThreshold``.
    """
    if order_col is not None:
        # max over (order, values): last batch position wins; the value
        # tuple only breaks exact order ties deterministically
        reduce_expr = F.max(
            F.struct(F.col(order_col).alias("__ord"), F.struct(*set_cols).alias("__v"))
        )["__v"].alias("__u")
        sel = updates.select(key, order_col, *set_cols)
    else:
        reduce_expr = F.max(F.struct(*set_cols)).alias("__u")
        sel = updates.select(key, *set_cols)
    upd = (
        sel.groupBy(key)
        .agg(reduce_expr)
        .select(F.col(key), *[F.col(f"__u.{c}").alias(f"__new_{c}") for c in set_cols])
    )
    joined = store.join(upd, key, "left")
    out = joined
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.drop(*[f"__new_{c}" for c in set_cols])


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    batch_ts_col: str = "batch_ts",
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: apply an update batch to a
    versioned dimension history, returning the NEW history.

    ``history`` rows carry ``[keys..., tracked..., effective_from,
    effective_to]`` with ``effective_to IS NULL`` marking the open
    version. For each update row (``[keys..., tracked..., batch_ts]``):

    * key unseen → insert an open version effective from ``batch_ts``;
    * tracked values unchanged vs the open version → no-op (idempotent:
      replaying a batch changes nothing);
    * changed → close the open version at ``batch_ts`` and insert the new
      open version.

    Multiple update rows for one key in a batch collapse to a single
    winner — the greatest (batch_ts, tracked...) tuple — before merging,
    so the single-open-version invariant holds for CDC-style inputs.

    One null-safe join of the update batch against the OPEN slice decides
    all three cases; closed history is untouched (appended through). The
    shuffle is keyed on ``keys`` — batch-sized, not history-sized, on the
    probe side; at warehouse scale the open slice is dimension-sized and
    the closed slice is only scanned, never joined. The three outcomes
    (survive / close+reopen / insert) are emitted from ONE pass over the
    joined frame via a conditional row array + explode — an earlier
    three-filter-branch form re-executed the full-outer join once per
    branch unless the caller persisted it.
    """
    ks = list(keys)
    open_rows = history.filter(F.col(to_col).isNull())
    closed_rows = history.filter(F.col(to_col).isNotNull())
    # collapse CDC-style multi-updates to ONE row per key — without this,
    # two updates for a key would full-outer-join the single open row
    # twice and emit two open versions (breaking the single-open /
    # non-overlapping invariants scd2_lookup relies on). Winner: greatest
    # (batch_ts, tracked...) — deterministic under any input order.
    up = (
        updates.groupBy(*ks)
        .agg(
            F.max_by(
                F.struct(
                    *[F.col(c).alias(c) for c in tracked],
                    F.col(batch_ts_col).alias("__bts"),
                ),
                F.struct(F.col(batch_ts_col), *[F.col(c) for c in tracked]),
            ).alias("__u")
        )
        .select(
            *ks,
            *[F.col(f"__u.{c}").alias(f"__u_{c}") for c in tracked],
            F.col("__u.__bts").alias("__bts"),
        )
    )
    joined = open_rows.join(up, ks, "full_outer")
    same = F.lit(True)
    for c in tracked:
        same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    has_open = F.col(from_col).isNotNull()
    has_update = F.col("__bts").isNotNull()

    def _row(track_src, frm, to):
        return F.struct(
            *[track_src(c).alias(c) for c in tracked],
            frm.alias(from_col),
            to.alias(to_col),
        )

    # surviving open row: untouched key, or unchanged re-send
    keep_open = _row(F.col, F.col(from_col), F.col(to_col))
    # version closed out by a changed update
    closed_now = _row(F.col, F.col(from_col), F.col("__bts"))
    # new open version: brand-new key, or the changed key's replacement
    opened = _row(
        lambda c: F.col(f"__u_{c}"),
        F.col("__bts"),
        F.lit(None).cast("timestamp"),
    )
    rows = (
        F.when(has_open & (~has_update | same), F.array(keep_open))
        .when(has_open & has_update & ~same, F.array(closed_now, opened))
        .otherwise(F.array(opened))  # full outer: the only case left is
        # has_update & ~has_open (a brand-new key)
    )
    merged = joined.select(*ks, F.explode(rows).alias("__r")).select(
        *ks, "__r.*"
    )
    return closed_rows.select(*ks, *tracked, from_col, to_col).unionByName(
        merged
    )


def scd2_lookup(
    facts: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    fact_ts_col: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Point-in-time enrichment against an SCD2 history: each fact row
    joins the dimension version valid AT its timestamp
    (``effective_from <= ts < effective_to``, open version unbounded).

    The write path (``scd2_merge``) guarantees per-key intervals are
    non-overlapping and contiguous, so the residual range predicate
    matches at most one version per key — the join stays 1:1 and facts
    before a key's first version get nulls (left join). Dimension
    histories are dimension-sized, so the history is broadcast and the
    fact table never shuffles.
    """
    ks = list(keys)
    ts = F.col(fact_ts_col)
    # the range predicate must be part of the JOIN condition, not a
    # post-filter: filtered afterwards, a fact older than its key's first
    # version would lose every joined row AND its null-match row — i.e.
    # vanish from the output instead of surviving with nulls
    cond = (ts >= F.col(from_col)) & (
        F.col(to_col).isNull() | (ts < F.col(to_col))
    )
    for k in ks:
        cond = cond & (facts[k] == history[k])
    return facts.join(F.broadcast(history), cond, "left").drop(*[history[k] for k in ks])
