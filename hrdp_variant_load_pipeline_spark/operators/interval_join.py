"""Interval / range-overlap join operators.

The reference classifies a variant GENIC when its interval overlaps any
ACTIVE gene interval on the same chromosome, via an O(genes) linear probe
per variant against an in-memory per-chromosome cache
(GeneCache.java:70-78, driven from HrdpVariants.java:514-528). The overlap
predicate is the literal 3-disjunct form — reproduced exactly here because
the loader probes it with inverted intervals (end=0) on multi-allelic
lines, where it is NOT equivalent to standard interval overlap.

Spark design, two physical strategies:

* ``interval_join`` — broadcast-hash join on the equi key (chromosome) with
  the range predicate as residual filter. Right side (genes) is
  dimension-sized → broadcast; each probe row is checked against the genes
  of its chromosome only. Good to ~10^4 intervals per chromosome.

* ``interval_join_binned`` — the 100 TB scale path: both sides gain a
  ``bin = floor(pos / bin_size)`` key (intervals explode into every bin
  they cover), turning the join into equi on (chromosome, bin) and letting
  Catalyst use a plain shuffled/broadcast hash join whose per-probe
  candidate set is O(intervals per bin), independent of chromosome size.
  Duplicate (probe, interval) pairs from multi-bin spans are deduped for
  semantics-sensitive callers; existence checks skip the dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def overlap_predicate(
    q_start: Column, q_stop: Column, g_start: Column, g_stop: Column
) -> Column:
    """The reference's literal 3-disjunct overlap test (GeneCache.java:70-78).

    For well-formed intervals (start <= stop on both sides) this is exactly
    standard overlap ``q_start <= g_stop AND q_stop >= g_start``; for the
    loader's inverted multi-allelic probe (q_stop=0 < q_start) it degrades
    to ``q_start >= g_start`` — faithfully reproduced.
    """
    contained = (q_start >= g_start) & (q_stop <= g_stop)
    left = (q_start <= g_start) & (q_stop >= g_start)
    right = (q_start <= g_stop) & (q_stop >= g_stop)
    return contained | left | right


def interval_join(
    probes: DataFrame,
    intervals: DataFrame,
    probe_keys: tuple[str, str, str] = ("chromosome", "q_start", "q_stop"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
    how: str = "left_semi",
) -> DataFrame:
    """Broadcast interval join: equi on chromosome + residual range filter."""
    p_chrom, p_start, p_stop = probe_keys
    i_chrom, i_start, i_stop = interval_keys
    iv = intervals.alias("iv")
    pr = probes.alias("pr")
    cond = (F.col(f"pr.{p_chrom}") == F.col(f"iv.{i_chrom}")) & overlap_predicate(
        F.col(f"pr.{p_start}"),
        F.col(f"pr.{p_stop}"),
        F.col(f"iv.{i_start}"),
        F.col(f"iv.{i_stop}"),
    )
    return pr.join(F.broadcast(iv), cond, how)


def with_exists_flag(
    probes: DataFrame,
    intervals: DataFrame,
    flag: str,
    probe_keys: tuple[str, str, str] = ("chromosome", "q_start", "q_stop"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
) -> DataFrame:
    """Add a boolean column: does any interval overlap this probe?

    SINGLE-PASS: intervals are aggregated into one (chromosome,
    array<struct<s,e>>) row per chromosome (a dimension-sized shuffle),
    broadcast, and left-joined on the chromosome equi key — one row per
    chromosome means zero probe-row duplication — then the flag is a
    row-local ``exists`` over the interval array. The probe side is
    scanned exactly ONCE with no exchange.

    (The round-1 semi ∪ anti formulation was also shuffle-free but
    evaluated the probe side TWICE — a double scan of the full probe
    table unless every caller remembered to persist first. Same
    per-chromosome-fits-in-memory assumption as ``interval_join``'s
    broadcast; use ``interval_join_binned`` past ~10^4 intervals per
    chromosome.)
    """
    p_chrom, p_start, p_stop = probe_keys
    i_chrom, i_start, i_stop = interval_keys
    per_chrom = intervals.groupBy(F.col(i_chrom).alias("__ichrom")).agg(
        F.collect_list(
            F.struct(F.col(i_start).alias("s"), F.col(i_stop).alias("e"))
        ).alias("__ivs")
    )
    joined = probes.join(
        F.broadcast(per_chrom), F.col(p_chrom) == F.col("__ichrom"), "left"
    )
    hit = F.exists(
        "__ivs",
        lambda iv: overlap_predicate(
            F.col(p_start), F.col(p_stop), iv["s"], iv["e"]
        ),
    )
    return joined.withColumn(flag, F.coalesce(hit, F.lit(False))).drop(
        "__ichrom", "__ivs"
    )


def interval_join_binned(
    probes: DataFrame,
    intervals: DataFrame,
    bin_size: int = 1_000_000,
    probe_keys: tuple[str, str, str] = ("chromosome", "q_start", "q_stop"),
    interval_keys: tuple[str, str, str] = ("chromosome", "start_pos", "stop_pos"),
) -> DataFrame:
    """Scale-path interval join via fixed-width genomic bins.

    Requires well-formed (start <= stop) intervals on BOTH sides, for which
    the 3-disjunct predicate equals standard overlap. Each side explodes
    into the bins its interval covers; the join is equi on
    (chromosome, bin) plus the residual overlap filter. A pair whose
    overlap spans several bins matches once per bin, so the result is
    de-duplicated.
    """
    p_chrom, p_start, p_stop = probe_keys
    i_chrom, i_start, i_stop = interval_keys

    def binned(df, chrom, lo, hi, prefix):
        # floor, not cast-truncate: truncation mis-bins negative coordinates
        return df.withColumn(
            f"{prefix}bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / bin_size).cast("long"),
                    F.floor(F.col(hi) / bin_size).cast("long"),
                )
            ),
        )

    pb = binned(probes, p_chrom, p_start, p_stop, "__p").alias("pr")
    ib = binned(intervals, i_chrom, i_start, i_stop, "__i").alias("iv")
    cond = (
        (F.col(f"pr.{p_chrom}") == F.col(f"iv.{i_chrom}"))
        & (F.col("pr.__pbin") == F.col("iv.__ibin"))
        & (F.col(f"pr.{p_start}") <= F.col(f"iv.{i_stop}"))
        & (F.col(f"pr.{p_stop}") >= F.col(f"iv.{i_start}"))
    )
    return pb.join(ib, cond, "inner").drop("__pbin", "__ibin").distinct()
