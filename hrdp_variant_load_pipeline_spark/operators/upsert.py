"""Insert-if-absent / keyed-update (upsert) operators.

The reference issues one JDBC existence probe per VCF line / per
variant×sample pair (HrdpVariants.java:310-314,480 — the N+1 pattern), a
sequence-allocated surrogate key per new row (DAO.java:55-58), and keyed
batch UPDATEs (DAO.java:142-163). Set-oriented Spark equivalents:

* existence probe → one anti/left join of the whole batch against the
  store (single shuffle or broadcast, not N round trips);
* ``rgd_ids_seq.nextval`` → window id assignment: ``dense_rank()`` inside
  order-preserving buckets + the ids of the buckets before (summed on the
  driver from one aggregate's bucket counts) + the store's current max id
  (parallel, deterministic — NOT ``monotonically_increasing_id``, whose
  values depend on partitioning);
* keyed UPDATE → MERGE emulation: anti-join the store against the updates,
  union the updated rows back (Delta MERGE when available).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def assign_surrogate_ids_scalable(
    df: DataFrame,
    order_by: Sequence,
    buckets: Sequence[Column],
    base_id: int,
    id_col: str = "rgd_id",
    cache_registry: list | None = None,
    totals: DataFrame | None = None,
) -> tuple[DataFrame, int, dict | None]:
    """Number the rows of ``df`` ``base_id + 1, base_id + 2, …`` in
    ``order_by`` order, rows that tie on ``order_by`` sharing one id; return
    the numbered frame, the number of ids (distinct ``order_by`` tuples) and
    the row of ``totals``.

    ``buckets`` are columns whose ascending tuple order coarsens
    ``order_by``: every row of a lower bucket sorts before every row of a
    higher one (a leading order key, or a monotone function of one), so
    rows that tie on ``order_by`` share a bucket. Each row is dense-ranked
    inside its bucket by a window partitioned on the bucket, so no task
    sorts more than its buckets. ONE collect returns every bucket's id
    count; the driver sorts the buckets as Spark would and sums the counts
    of the buckets before each into its offset. A row's id is ``base_id +
    offset + rank``, its offset a lookup of its bucket in a literal map
    nested by bucket column (no join, so no broadcast job, and the numbered
    frame keeps the size estimate of the ranked one): the same ids as a
    global ``dense_rank()`` window over ``order_by``, with no
    single-partition sort. The map holds one entry per bucket and ships
    with every task that numbers rows.

    ``totals`` is a one-row frame (an aggregate the caller needs anyway)
    that the same collect returns, as a dict of its columns, so the caller
    runs no job of its own for it; its column names must differ from the
    allocator's (``__b<i>``, ``__j<i>``, ``__n``). None without it.

    With ``cache_registry``, the ranked frame is persisted and appended to
    it, so the counts and the ids read one ranking; the returned frame reads
    it lazily, so release it once the result has been materialized. Without
    it nothing stays persisted and the ranking runs again for the ids,
    which dense ranks make the same ranking.
    """
    keys = [f"__b{i}" for i in range(len(buckets))]
    ranked = df.withColumns(dict(zip(keys, buckets))).withColumn(
        "__rank", F.dense_rank().over(Window.partitionBy(*keys).orderBy(*order_by))
    )
    if cache_registry is not None:
        ranked = ranked.persist()
        cache_registry.append(ranked)
    # the offsets map nests one level per bucket column, keyed by the
    # column's JSON (to_json drops a null field: null-safe), so a lookup
    # scans the values of each column, not every bucket
    levels = [F.to_json(F.struct(k)) for k in keys]
    counts = ranked.groupBy(*keys).agg(
        F.max("__rank").alias("__n"), *(c.alias(f"__j{i}") for i, c in enumerate(levels))
    )
    if totals is not None:
        # the totals row is the one without an id count
        counts = counts.unionByName(totals, allowMissingColumns=True)
    rows = counts.collect()
    total = next(({c: r[c] for c in totals.columns} for r in rows if r["__n"] is None), None)
    rows = sorted((r for r in rows if r["__n"] is not None), key=lambda r: _ascending(r, keys))
    offsets, n = {}, 0
    for r in rows:
        node = offsets
        *path, leaf = (r[f"__j{i}"] for i in range(len(keys)))
        for j in path:
            node = node.setdefault(j, {})
        node[leaf] = n
        n += r["__n"]
    offset = F.from_json(
        F.lit(json.dumps(offsets)), "map<string, " * len(keys) + "bigint" + ">" * len(keys)
    )
    for c in levels:
        offset = F.try_element_at(offset, c)
    numbered = ranked.withColumn(
        id_col, (F.lit(base_id) + offset + F.col("__rank")).cast("long")
    ).drop(*keys, "__rank")
    return numbered, n, total


def _ascending(row, keys: Sequence[str]) -> tuple:
    """Sort key of ``row``'s ``keys`` in Spark's ascending order: nulls
    first, then values (strings in code-point order, which is the UTF-8
    byte order Spark compares; numbers by value, NaN not supported)."""
    return tuple((row[k] is not None, row[k]) for k in keys)


def merge_update(
    store: DataFrame,
    updates: DataFrame,
    key: str,
    set_cols: Sequence[str],
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
      overwrite. The reduce is ``max`` over the set-col tuple:
      deterministic cross-run, but an intentional deviation from the
      reference's keyed batch UPDATE, where later statements overwrite
      earlier ones — several rows updating one key apply the numerically
      largest tuple, not the batch-order value (genic QC, the one caller,
      derives one row per key);
    * no forced broadcast hint: an update set can approach store size
      (genic-QC drift after a gene-annotation refresh), and a forced
      broadcast of an unbounded side is a driver/executor OOM at scale.
      Catalyst/AQE picks broadcast automatically when the reduced update
      set is below ``spark.sql.autoBroadcastJoinThreshold``.
    """
    upd = (
        updates.groupBy(key)
        .agg(F.max(F.struct(*set_cols)).alias("__u"))
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
