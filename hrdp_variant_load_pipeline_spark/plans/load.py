"""The ``--runLoad`` pipeline as one declarative Spark DAG.

Reference lifecycle (HrdpVariants.java:33-506): line-at-a-time parse →
normalize → genic check (per-line JDBC gene-cache load) → dedup (JDBC probe
per line!) → multi-allelic expand → sequence id per new variant → per
sample-column zygosity rows (JDBC existence probe per variant×sample) →
batched inserts.

Spark lifecycle: one text scan → narrow transforms (filter / normalize /
posexplode) → broadcast interval join (genes) → two anti/left joins against
the target tables (replacing ~N JDBC round trips with two set-oriented
joins — the single biggest algorithmic win, SURVEY.md §4) → window id
assignment → three appends. Two to three stages end-to-end; AQE handles
partition sizing and skew.

Faithfully-reproduced quirks (SURVEY.md §1.4, verified against the Java):

* the "skip line when first sample's DP==0" gate is DEAD CODE in the
  reference (`for (int i = 0; i < 9; i++)` never reaches `case 9`,
  HrdpVariants.java:176/:288) — so no line-level depth gate here either;
* multi-allelic lines probe the gene cache with (raw_pos, end=0) because
  end_pos is never set before the genic check (HrdpVariants.java:304,
  :241 only runs on the single-allele path) — GENIC then effectively means
  "any gene on this chromosome starts at or before pos";
* dedup probes use the line's rs_id when present, else (map_key,
  chromosome, probe start) where probe start is the NORMALIZED start on
  the single-allele path but the RAW pos on the multi-allelic path
  (v's start is only mutated by the single-allele branch);
* the per-sample allele depth is indexed by the variant's position j in
  the new++existing list, NOT by allele index: ``AD[j+1]``
  (HrdpVariants.java:478-479);
* DP that fails integer parse (e.g. ``.``) keeps the value from the
  previous surviving sample column (the Java reuses the loop variable,
  HrdpVariants.java:470-474);
* ``zygosity_percent_read`` is overwritten with integer division
  ``var_freq / depth`` (HrdpVariants.java:489-490);
* end_pos drift is DETECTED but not applied (the update call is commented
  out, HrdpVariants.java:121) — exposed here as the ``end_pos_updates``
  DataFrame, application left to the caller.

Divergences from crash behavior (documented, not reproduced): unknown
sample columns and null/zero depths crash the reference (NPE /
ArithmeticException); here they drop the row / yield null.

Run counters (A1): the reference increments them as it inserts
(HrdpVariants.java:116-133). Here they come from work the load already
does: the rows-entered counts from the two store appends
(``sources.store.append_to_store`` returns what it wrote), the dedup hits
and end_pos drift from one aggregate over the persisted ``matched`` frame
(``load_metrics``). Nothing re-executes the load plan to count it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.normalize import (
    is_unplaced_contig,
    normalize_allele,
    normalize_chromosome,
    null_if_dot,
)
from hrdp_variant_load_pipeline_spark.functions.zygosity import zygosity_struct
from hrdp_variant_load_pipeline_spark.operators.interval_join import with_exists_flag
from hrdp_variant_load_pipeline_spark.sources.vcf import unpivot_samples

#: columns that uniquely identify one VCF data line
LINE_KEY = ["source_file", "chromosome", "pos", "ref", "alt"]

SPECIES_TYPE_KEY = 3  # rat (HrdpVariants.java:309)


@dataclass
class LoadResult:
    """Outputs of one load run (all lazy DataFrames).

    ``matched`` is the persisted dedup result every output reads (one row
    per line-allele, ``is_new`` plus the matched store row's id and
    end_pos); ``load_metrics`` aggregates it, so read the counters before
    ``release()``. ``matched`` stays valid through both appends: a store
    append is invisible to plans built before it
    (``sources.store.append_to_store``), so the detail build and the
    counters see the stores as the load probed them, not the variants it
    has just appended."""

    new_variants: DataFrame  # VARIANT schema → variant + variant_map_data sinks
    end_pos_updates: DataFrame  # (rgd_id, end_pos) drift, detected-not-applied
    new_sample_details: DataFrame  # VARIANT_SAMPLE_DETAIL schema
    all_line_variants: DataFrame  # internal: new+existing per line (for QC/tests)
    matched: DataFrame  # persisted candidates-vs-store match (in ``cached``)
    cached: tuple = ()  # frames run_load persisted; released via release()

    def release(self) -> None:
        """Unpersist the plan's internal caches. Call AFTER the outputs
        have been materialized (written / collected): repeated loads in a
        long-lived session — the streaming loader runs one per micro-batch
        — accumulate cached partitions without bound otherwise. Outputs
        consumed after release() recompute from source."""
        for df in self.cached:
            df.unpersist()


def _end_pos_drift():
    """A re-seen variant whose stored end_pos differs from the parsed one
    (detected, not applied: HrdpVariants.java:121)."""
    return (
        ~F.col("is_new")
        & (F.col("store_end_pos") != F.col("end_pos"))
        & (F.col("end_pos") != 0)
    )


def parse_variants(vcf: DataFrame, genes: DataFrame, map_key: int) -> DataFrame:
    """Normalize + explode VCF lines into candidate variants.

    Output grain: one row per (line, allele). Columns: LINE_KEY,
    ``allele_idx``, the normalized variant struct fields, probe columns and
    ``genic_status``.
    """
    lines = (
        vcf.filter(~is_unplaced_contig(F.col("chrom")))
        .withColumn("chromosome", normalize_chromosome(F.col("chrom")))
        .withColumn("rs_id", null_if_dot(F.col("vcf_id")))
    )

    multi = F.col("ref").contains(",") | F.col("alt").contains(",")
    need_copy_ref = F.col("ref").contains(",")
    # allele fan-out (HrdpVariants.java:316-434): REF commas win over ALT
    # commas; each element becomes one candidate re-normalized variant.
    alleles = (
        F.when(
            need_copy_ref,
            F.transform(
                F.split(F.col("ref"), ","),
                lambda r: F.struct(r.alias("copy_ref"), F.col("alt").alias("var")),
            ),
        )
        .when(
            F.col("alt").contains(","),
            F.transform(
                F.split(F.col("alt"), ","),
                lambda a: F.struct(F.col("ref").alias("copy_ref"), a.alias("var")),
            ),
        )
        .otherwise(
            F.array(F.struct(F.col("ref").alias("copy_ref"), F.col("alt").alias("var")))
        )
    )

    cand = lines.select(
        *LINE_KEY,
        "rs_id",
        F.col("multi").alias("is_copy") if "multi" in lines.columns else multi.alias("is_copy"),
        F.posexplode(alleles).alias("allele_idx", "allele"),
    ).select(
        *LINE_KEY,
        "rs_id",
        "is_copy",
        "allele_idx",
        normalize_allele(
            F.col("allele.copy_ref"),
            F.col("ref"),
            F.col("allele.var"),
            F.col("pos"),
            F.col("is_copy"),
        ).alias("n"),
    )

    cand = cand.select(
        *LINE_KEY,
        "rs_id",
        "is_copy",
        "allele_idx",
        "n.*",
    ).withColumns(
        {
            # genic probe: normalized interval on the single-allele path,
            # (raw pos, 0) on the multi-allelic path (end never set there)
            "q_start": F.when(F.col("is_copy"), F.col("pos")).otherwise(F.col("start_pos")),
            "q_stop": F.when(F.col("is_copy"), F.lit(0).cast("long")).otherwise(
                F.col("end_pos")
            ),
            # dedup probe start (see module docstring)
            "probe_start": F.when(F.col("is_copy"), F.col("pos")).otherwise(
                F.col("start_pos")
            ),
        }
    )

    active_genes = genes.filter(F.col("object_status") == "ACTIVE")
    if "map_key" in genes.columns:
        active_genes = active_genes.filter(F.col("map_key") == map_key)
    active_genes = active_genes.select("chromosome", "start_pos", "stop_pos")

    # with_exists_flag is single-pass over its probe side — no persist or
    # materialization needed here; the scan → normalize chain runs once
    flagged = with_exists_flag(
        cand,
        active_genes,
        flag="__genic",
        probe_keys=("chromosome", "q_start", "q_stop"),
        interval_keys=("chromosome", "start_pos", "stop_pos"),
    )
    return (
        flagged.withColumn(
            "genic_status", F.when(F.col("__genic"), "GENIC").otherwise("INTERGENIC")
        )
        .drop("__genic", "q_start", "q_stop")
        .withColumn("map_key", F.lit(map_key))
        .withColumn("species_type_key", F.lit(SPECIES_TYPE_KEY))
    )


def _dedup_against_store(cand: DataFrame, store: DataFrame) -> DataFrame:
    """Match candidates to stored variants (J1/J2 + residual compare).

    Adds ``store_rgd_id`` / ``store_end_pos`` (null → new variant). Probe:
    (map_key, rs_id) when the line has an rs id (DAO.java:130-136), else
    (map_key, chromosome, probe_start) (DAO.java:121-128). Residual match:
    null-safe ref/var equality + exact start equality
    (HrdpVariants.java:411-414). First match in db order ≈ min rgd_id.
    """
    st = store.select(
        F.col("rgd_id").alias("store_rgd_id"),
        F.col("ref_nuc").alias("store_ref"),
        F.col("var_nuc").alias("store_var"),
        F.col("rs_id").alias("store_rs"),
        F.col("chromosome").alias("store_chrom"),
        F.col("start_pos").alias("store_start"),
        F.col("end_pos").alias("store_end_pos"),
        F.col("map_key").alias("store_map_key"),
    )
    residual = (
        F.col("ref_nuc").eqNullSafe(F.col("store_ref"))
        & F.col("var_nuc").eqNullSafe(F.col("store_var"))
        & (F.col("start_pos") == F.col("store_start"))
        & (F.col("map_key") == F.col("store_map_key"))
    )
    probe = F.when(
        F.col("rs_id").isNotNull(), F.col("rs_id") == F.col("store_rs")
    ).otherwise(
        (F.col("chromosome") == F.col("store_chrom"))
        & (F.col("probe_start") == F.col("store_start"))
    )
    joined = cand.join(st, probe & residual, "left")
    w = Window.partitionBy(*LINE_KEY, "allele_idx").orderBy(F.col("store_rgd_id"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "store_ref", "store_var", "store_rs", "store_chrom", "store_start", "store_map_key")
    )


def run_load(
    vcf: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    variant_store: DataFrame,
    detail_store: DataFrame,
    map_key: int,
    next_rgd_id: int | None = None,
) -> LoadResult:
    """Full ``--runLoad`` equivalent. All outputs are lazy DataFrames."""
    spark = vcf.sparkSession

    cand = parse_variants(vcf, genes, map_key)
    matched = _dedup_against_store(cand, variant_store)

    if next_rgd_id is None:
        row = variant_store.agg(F.max("rgd_id").alias("m")).collect()[0]
        next_rgd_id = (row["m"] or 0) + 1

    # id allocation (S9): only NEW rows get ids, via the range-partitioned
    # parallel allocator — never a global single-partition window
    from hrdp_variant_load_pipeline_spark.operators.upsert import (
        assign_surrogate_ids_scalable,
    )

    # diamond reuse: matched feeds the allocator's range-sampling pass, the
    # new branch, and the existing branch — persist so the scan → normalize
    # → genic join → dedup chain runs once, not 3-4 times. Tracked in
    # LoadResult.cached; callers release once outputs are materialized.
    cache_registry: list = []
    matched = matched.withColumn("is_new", F.col("store_rgd_id").isNull()).persist()
    cache_registry.append(matched)

    # ---- intra-batch dedup of new variants --------------------------------
    # The reference inserts per line and RE-PROBES the DB for every later
    # line (HrdpVariants.java:310-314), so the same variant appearing in
    # several files/lines of one run collapses onto the first insert's id.
    # A store-snapshot anti-join alone misses that: each occurrence would
    # mint its own rgd_id and duplicate the variant row. Set-oriented
    # equivalent: group new candidates on the residual match key
    # (map_key, chromosome, start_pos, ref_nuc, var_nuc — null-safe via a
    # sentinel-coalesced composite key, mirroring eqNullSafe in
    # _dedup_against_store), allocate ONE id per distinct variant from its
    # first occurrence in file order, and fan the id back to every
    # line-allele so sample details all attach to the same variant.
    vkey = F.concat_ws(
        "\x01",
        F.col("map_key").cast("string"),
        F.col("chromosome"),
        F.col("start_pos").cast("string"),
        F.coalesce(F.col("ref_nuc"), F.lit("\x02")),
        F.coalesce(F.col("var_nuc"), F.lit("\x02")),
    )
    news = matched.filter("is_new").withColumn("__vkey", vkey)
    w_first = Window.partitionBy("__vkey").orderBy(
        "source_file", "pos", "allele_idx"
    )
    canon = (
        news.withColumn("__occ", F.row_number().over(w_first))
        .filter(F.col("__occ") == 1)
        .drop("__occ")
    )
    canon_ids = assign_surrogate_ids_scalable(
        canon,
        order_by=["source_file", "chromosome", "pos", "allele_idx", "var_nuc"],
        base_id=next_rgd_id - 1,
        cache_registry=cache_registry,
    )
    new_rows = news.join(
        canon_ids.select("__vkey", "rgd_id"), "__vkey", "inner"
    ).drop("__vkey")
    existing_rows = matched.filter(~F.col("is_new")).withColumn(
        "rgd_id", F.col("store_rgd_id").cast("long")
    )
    with_ids = new_rows.unionByName(existing_rows)

    variant_cols = [
        "rgd_id",
        "ref_nuc",
        "var_nuc",
        "rs_id",
        F.lit(None).cast("string").alias("clinvar_id"),
        "variant_type",
        "species_type_key",
        "chromosome",
        "padding_base",
        "start_pos",
        "end_pos",
        "genic_status",
        "map_key",
    ]
    # one variant row per distinct new variant (the canonical first
    # occurrence), not one per line-allele
    new_variants = canon_ids.select(*variant_cols)

    end_pos_updates = existing_rows.filter(_end_pos_drift()).select("rgd_id", "end_pos")

    # ---- per-sample detail rows -------------------------------------------
    # j = position in the per-line new++existing list (new first, each in
    # allele order) — the reference indexes AD by this j (HrdpVariants.java:478).
    w_j = Window.partitionBy(*LINE_KEY).orderBy(
        F.when(F.col("is_new"), 0).otherwise(1), "allele_idx"
    )
    line_variants = with_ids.withColumn("j", F.row_number().over(w_j) - 1)

    cells = unpivot_samples(
        vcf.filter(~is_unplaced_contig(F.col("chrom")))
        .withColumn("chromosome", normalize_chromosome(F.col("chrom")))
        .select("source_file", "chromosome", "pos", "ref", "alt", "sample_names", "sample_cells")
    )
    sample_dim = samples.select(
        F.col("analysis_name").alias("sample_name"), "sample_id", "gender"
    )
    cells = (
        cells.join(F.broadcast(sample_dim), "sample_name", "inner")
        .withColumn("gt", F.split(F.col("cell"), ":").getItem(0))
        .filter(~F.col("gt").isin("0/0", "./."))
        .withColumn("ad", F.split(F.split(F.col("cell"), ":").getItem(1), ","))
        .withColumn("dp_raw", F.split(F.col("cell"), ":").getItem(2).try_cast("int"))
        .withColumn(
            "total_depth",
            F.last("dp_raw", ignorenulls=True).over(
                Window.partitionBy(*LINE_KEY)
                .orderBy("col_idx")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )

    pairs = cells.join(
        line_variants.select(
            *LINE_KEY,
            "rgd_id",
            "j",
            F.col("chromosome").alias("v_chrom"),
            F.col("start_pos").alias("v_start"),
        ),
        LINE_KEY,
        "inner",
    ).withColumn("var_freq", F.try_element_at(F.col("ad"), F.col("j") + 2).try_cast("int"))

    pairs = pairs.filter(F.col("var_freq").isNotNull() & (F.col("var_freq") != 0))

    # existence check vs detail store (M3): one anti-join replaces the
    # reference's per-pair JDBC count probe (DAO.java:64-66)
    existing_pairs = detail_store.select("rgd_id", "sample_id")
    pairs = pairs.join(existing_pairs, ["rgd_id", "sample_id"], "left_anti")

    # intra-batch (rgd_id, sample_id) dedup: with new-variant ids fanned
    # across files, the same variant×sample pair can now arrive from
    # several source files in one run; keep the first occurrence in file
    # order (the reference's insert-then-probe would find the earlier
    # insert and skip)
    w_pair = Window.partitionBy("rgd_id", "sample_id").orderBy(
        "source_file", "pos", "ref", "alt", "col_idx"
    )
    pairs = (
        pairs.withColumn("__pn", F.row_number().over(w_pair))
        .filter(F.col("__pn") == 1)
        .drop("__pn")
    )

    z = zygosity_struct(
        F.col("var_freq"),
        F.col("total_depth"),
        F.col("gender"),
        F.col("v_chrom"),
        F.col("v_start"),
    )
    details = (
        pairs.withColumn("z", z)
        .select(
            "rgd_id",
            F.lit(None).cast("string").alias("source"),
            "sample_id",
            "total_depth",
            "var_freq",
            F.col("z.zygosity_status").alias("zygosity_status"),
            # quirk: integer division overwrite (HrdpVariants.java:489-490);
            # null/zero depth crashes the reference — here it yields null
            F.when(
                F.col("total_depth").isNotNull() & (F.col("total_depth") != 0),
                F.expr("var_freq div total_depth"),
            )
            .cast("int")
            .alias("zygosity_percent_read"),
            F.col("z.zygosity_poss_error").alias("zygosity_poss_error"),
            F.lit(None).cast("string").alias("zygosity_ref_allele"),
            F.lit(0).alias("zygosity_num_allele"),
            F.col("z.zygosity_in_pseudo").alias("zygosity_in_pseudo"),
            F.lit(0).alias("quality_score"),
        )
    )

    _ = spark
    return LoadResult(
        new_variants=new_variants,
        end_pos_updates=end_pos_updates,
        new_sample_details=details,
        all_line_variants=line_variants,
        matched=matched,
        cached=tuple(cache_registry),
    )


def load_metrics(
    result: LoadResult, variants_entered: int, sample_details_entered: int
) -> dict[str, int]:
    """Run counters (A1): variants entered, sample rows created, dedup hits
    and end_pos drift per run (HrdpVariants.java:116-133).

    ``variants_entered`` / ``sample_details_entered`` are the row counts
    the two store appends returned. The other two come from ONE aggregate
    over the persisted ``result.matched``, so call this before
    ``result.release()``. ``coalesce(1)`` keeps the aggregate exchange-free:
    one job and one task over the cache, with or without AQE."""
    row = (
        result.matched.coalesce(1)
        .agg(
            F.count(F.when(~F.col("is_new"), 1)).alias("existing_matched"),
            F.count(F.when(_end_pos_drift(), 1)).alias("end_pos_drift_detected"),
        )
        .collect()[0]
    )
    return {
        "variants_entered": variants_entered,
        "sample_details_entered": sample_details_entered,
        "existing_matched": row["existing_matched"],
        "end_pos_drift_detected": row["end_pos_drift_detected"],
    }
