"""The ``--genicQc`` reconciliation pass as one set-oriented job.

Reference (GenicQc.java:27-69,190-238): re-scan the VCFs line by line, fetch
every stored variant whose start_pos lies in the parsed line's
[start, end] range (JDBC per line), re-derive genic status by probing the
gene cache with the POINT interval ``(start_pos, start_pos)`` — a
deliberate divergence from the loader's range probe — and batch-UPDATE rows
whose status drifted (case-insensitive compare).

Spark design: recompute genic status for the WHOLE variant table with one
broadcast interval join + a filtered compare — no per-line loop, no range
re-fetch. An optional ``scope`` DataFrame (chromosome, lo, hi) restricts
the recompute to ranges touched by a given VCF batch, reproducing the
reference's visit set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.operators.interval_join import interval_join_binned
from hrdp_variant_load_pipeline_spark.plans.load import placed_lines, with_genic_status
from hrdp_variant_load_pipeline_spark.runtime import release

#: above this many (merged) scope ranges the semi-join switches from
#: broadcast to the binned equi-join — a forced broadcast of a
#: million-line batch scope is a driver OOM at 146-strain scale
BROADCAST_SCOPE_MAX_RANGES = 50_000


def merge_scope_ranges(scope: DataFrame) -> DataFrame:
    """Coalesce (chromosome, lo, hi) ranges into disjoint per-chromosome
    intervals (classic sweep: sort by lo, extend while the next range
    starts at or before the running max hi + 1 — positions are integral,
    so touching ranges merge too).

    ``scope_from_vcf`` emits one range per VCF line; a 146-strain batch is
    millions of mostly-overlapping point ranges. Merging bounds the range
    set by the batch's distinct loci footprint instead of its line count —
    the difference between a broadcastable scope and a driver OOM. The
    per-chromosome window sort is one shuffle of (chromosome, lo, hi)
    triples, nothing wider.
    """
    w = Window.partitionBy("chromosome").orderBy("lo", "hi")
    prev_max = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grouped = scope.select("chromosome", "lo", "hi").withColumn(
        "__grp",
        F.sum(
            F.when(prev_max.isNull() | (F.col("lo") > prev_max + 1), 1).otherwise(0)
        ).over(w),
    )
    return grouped.groupBy("chromosome", "__grp").agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi")
    ).drop("__grp")


def scope_from_vcf(vcf: DataFrame) -> DataFrame:
    """Derive the distinct per-line (chromosome, lo, hi) visit ranges of a
    VCF batch — the exact set of ranges the reference's QC pass re-fetches
    stored variants for (GenicQc.java:197).

    Faithful to ``GenicQc.parseLineData``, which derives ONE range per
    data line (the multi-allelic copies are declared but never expanded
    there — unlike the loader):

    * multi-allelic ALT lines probe ``[pos, pos+1]`` with NO further
      normalization (GenicQc.java:113-116 sets end=start+1 and skips the
      typing branches);
    * every other line runs the same single-allele normalization as the
      loader (GenicQc.java:118-180 mirrors HrdpVariants.java:205-280,
      including consulting a comma-containing REF verbatim when only REF
      is multi-allelic) and probes the normalized [start_pos, end_pos].

    Distinct ranges only: N lines at the same locus probe once. The result
    is bounded by the batch's line count, so ``genic_qc`` broadcasts it.
    """
    from hrdp_variant_load_pipeline_spark.functions.normalize import normalize_allele

    lines = placed_lines(vcf).select("chromosome", "pos", "ref", "alt")
    n = normalize_allele(
        F.col("ref"), F.col("ref"), F.col("alt"), F.col("pos"), F.lit(False)
    )
    multi_alt = F.col("alt").contains(",")
    return lines.select(
        "chromosome",
        F.when(multi_alt, F.col("pos")).otherwise(n["start_pos"]).alias("lo"),
        F.when(multi_alt, F.col("pos") + 1).otherwise(n["end_pos"]).alias("hi"),
    ).distinct()


def genic_qc(
    variant_store: DataFrame,
    genes: DataFrame,
    map_key: int,
    scope: DataFrame | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Return (rgd_id, genic_status) rows that need updating (M4).

    ``scope``: optional (chromosome, lo, hi) ranges; when given, only
    stored variants with ``lo <= start_pos <= hi`` on the same chromosome
    are re-checked (GenicQc.java:197 semantics). Apply the result with
    ``operators.upsert.merge_update(store, updates, "rgd_id",
    ["genic_status"])``.

    ``cache_registry``: when given, the persisted merged-scope frame is
    appended for the caller to release AFTER materializing the result
    (``run_load``'s protocol); otherwise it is released immediately and
    the merge recomputes once in the final job.
    """
    variants = variant_store.filter(F.col("map_key") == map_key)
    if scope is not None:
        # merge the per-line ranges first (disjoint, bounded by the batch's
        # loci footprint), then pick the join strategy by ACTUAL size: small
        # scopes broadcast, big ones go through the binned equi-join — never
        # a forced broadcast of an unbounded side
        merged = merge_scope_ranges(scope).persist()
        n_ranges = merged.count()
        if n_ranges <= BROADCAST_SCOPE_MAX_RANGES:
            sc = merged.select(
                F.col("chromosome").alias("__schrom"),
                F.col("lo").alias("__slo"),
                F.col("hi").alias("__shi"),
            )
            variants = variants.join(
                F.broadcast(sc),
                (F.col("chromosome") == F.col("__schrom"))
                & (F.col("start_pos") >= F.col("__slo"))
                & (F.col("start_pos") <= F.col("__shi")),
                "left_semi",
            )
        else:
            # point probes against DISJOINT ranges hit at most one range —
            # the inner equi-join on (chromosome, bin) is exactly a semi
            variants = (
                interval_join_binned(
                    variants.withColumn("__qp", F.col("start_pos")),
                    merged,
                    probe_keys=("chromosome", "start_pos", "__qp"),
                    interval_keys=("chromosome", "lo", "hi"),
                    distinct_pairs=False,
                )
                .select("pr.*")
                .drop("__qp")
            )
        if cache_registry is not None:
            cache_registry.append(merged)
        else:
            # releasing now means the merge recomputes once when the caller
            # materializes — the persist served the strategy-picking count
            release(merged)

    # point probe (start, start): GenicQc.java:232
    recomputed = with_genic_status(
        variants.withColumn("__qs", F.col("start_pos")).withColumn(
            "__qe", F.col("start_pos")
        ),
        genes,
        map_key,
        ("chromosome", "__qs", "__qe"),
        status_col="new_genic_status",
    )
    drifted = recomputed.filter(
        ~F.upper(F.coalesce(F.col("genic_status"), F.lit("")))
        .eqNullSafe(F.upper(F.col("new_genic_status")))
    )
    return drifted.select("rgd_id", F.col("new_genic_status").alias("genic_status"))
