"""The ``--genicQc`` reconciliation pass as one set-oriented job.

Reference (GenicQc.java:27-69,190-238): re-scan the VCFs line by line, fetch
every stored variant whose start_pos lies in the parsed line's
[start, end] range (JDBC per line), re-derive genic status by probing the
gene cache with the POINT interval ``(start_pos, start_pos)`` — a
deliberate divergence from the loader's range probe — and batch-UPDATE rows
whose status drifted (case-insensitive compare).

Spark design: recompute genic status for the WHOLE variant table with one
broadcast interval join + a filtered compare — no per-line loop. An
optional ``scope`` DataFrame (chromosome, lo, hi) restricts the recompute
to the stored variants some range of a given VCF batch covers, reproducing
the reference's visit set: each range explodes into the
``SCOPE_BIN_BASES``-wide bins it covers, and the store joins it by ONE
left-semi join, equi on (chromosome, bin) with ``lo <= start_pos <= hi``
as the residual. A semi-join keeps a variant once however many ranges
cover it, so overlapping ranges need no merge, and the planner picks the
strategy from the scope's size: a small scope is broadcast, a large one is
shuffled on (chromosome, bin) beside the store. Nothing is persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.plans.load import placed_lines, with_genic_status

#: width in bases of the scope join's bins: a range joins the stored
#: variants of each bin it covers, and a stored variant probes its own bin
SCOPE_BIN_BASES = 1_000_000


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

    Distinct ranges only: N lines at the same locus probe once.
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
) -> DataFrame:
    """Return (rgd_id, genic_status) rows that need updating (M4).

    ``scope``: optional (chromosome, lo, hi) ranges, overlapping or not;
    when given, only stored variants with ``lo <= start_pos <= hi`` for
    some range on the same chromosome are re-checked (GenicQc.java:197
    semantics). Apply the result with ``operators.upsert.merge_update(store,
    updates, "rgd_id", ["genic_status"])``.
    """
    variants = variant_store.filter(F.col("map_key") == map_key)
    if scope is not None:
        # ``div`` never decreases, so lo <= start_pos <= hi puts start_pos
        # in one of the range's bins whatever the coordinates' sign
        ranges = scope.select(
            F.col("chromosome").alias("__schrom"),
            F.col("lo").alias("__slo"),
            F.col("hi").alias("__shi"),
            F.explode(
                F.sequence(
                    F.expr(f"lo div {SCOPE_BIN_BASES}"), F.expr(f"hi div {SCOPE_BIN_BASES}")
                )
            ).alias("__sbin"),
        )
        variants = variants.join(
            ranges,
            (F.col("chromosome") == F.col("__schrom"))
            & (F.expr(f"start_pos div {SCOPE_BIN_BASES}") == F.col("__sbin"))
            & F.col("start_pos").between(F.col("__slo"), F.col("__shi")),
            "left_semi",
        )

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
