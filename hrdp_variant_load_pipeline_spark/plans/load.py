"""The ``--runLoad`` pipeline as one declarative Spark DAG.

Reference lifecycle (HrdpVariants.java:33-506): line-at-a-time parse →
normalize → genic check (per-line JDBC gene-cache load) → dedup (JDBC probe
per line!) → multi-allelic expand → sequence id per new variant → per
sample-column zygosity rows (JDBC existence probe per variant×sample) →
batched inserts.

Spark lifecycle: one text scan → narrow transforms (filter / normalize /
posexplode) → broadcast interval join (genes) → a left join against the
variant store, persisted as ``matched`` → window id assignment (ranks of
each new variant's first occurrence inside position buckets + one collect of
the bucket sizes, ``operators.upsert.assign_surrogate_ids_scalable``; the
same collect returns the run counters and whether a detail pair can repeat;
where a variant sits on several lines, a join gives its other rows its id)
→ the detail build at line grain (``sample_details``: each line's sample
columns cross one exchange as one string, or none when the line variants
are broadcast; the columns explode after it) → an anti-join against the
detail store → two appends, the variant append skipped when the batch has
no new variant. The two joins against the stores replace ~N JDBC round
trips — the single biggest algorithmic win, SURVEY.md §4. Each action is a
few stages over line-grain rows: on the 146-sample benchmark drop a fresh
load runs 6 Spark jobs and a re-load 6 (small-input profile); a drop where
variants sit on several lines adds the join's broadcast to a fresh load.

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
and end_pos drift from an aggregate over the persisted ``matched`` frame
that the id allocator's collect returns (``LoadResult``; ``load_metrics``
runs no job). Nothing re-executes the load plan to count it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.normalize import (
    is_unplaced_contig,
    normalize_allele,
    normalize_chromosome,
    null_if_dot,
)
from hrdp_variant_load_pipeline_spark.functions.zygosity import zygosity_struct
from hrdp_variant_load_pipeline_spark.operators.interval_join import with_exists_flag
from hrdp_variant_load_pipeline_spark.runtime import release
from hrdp_variant_load_pipeline_spark.sources.store import footer_max
from hrdp_variant_load_pipeline_spark.sources.vcf import vcf_header

#: columns that uniquely identify one VCF data line
LINE_KEY = ["source_file", "chromosome", "pos", "ref", "alt"]

SPECIES_TYPE_KEY = 3  # rat (HrdpVariants.java:309)

#: the residual match key of a variant: line-alleles equal on it (nulls
#: equal) are one variant, stored once under one id
VARIANT_KEY = ["map_key", "chromosome", "start_pos", "ref_nuc", "var_nuc"]

#: width in bases of the position buckets the id allocator ranks within:
#: ``(source_file, chromosome, pos div ID_BUCKET_BASES)`` of a variant's
#: first occurrence coarsens the id order, and a bucket of one file's 1 Mb
#: window is small enough to sort
ID_BUCKET_BASES = 1_000_000


@dataclass
class LoadResult:
    """Outputs of one load run (lazy DataFrames) and its counters.

    The outputs read the frames in ``cached`` (the dedup result and the id
    allocator's ranking); they stay valid through both appends: a store
    append is invisible to plans built before it
    (``sources.store.append_to_store``), so the detail build sees the
    stores as the load probed them, not the variants it has just appended.
    ``n_new`` is 0 when every variant of the batch is already stored: the
    caller then skips the variant append. The counters were collected while
    the load was planned, by the id allocator's one collect."""

    new_variants: DataFrame  # VARIANT schema → variant + variant_map_data sinks
    end_pos_updates: DataFrame  # (rgd_id, end_pos) drift, detected-not-applied
    new_sample_details: DataFrame  # VARIANT_SAMPLE_DETAIL schema
    all_line_variants: DataFrame  # internal: new+existing per line (for QC/tests)
    n_new: int = 0  # rows of new_variants, counted by the id allocator
    existing_matched: int = 0  # line-alleles the store already held
    end_pos_drift_detected: int = 0  # rows of end_pos_updates
    cached: tuple = ()  # frames run_load persisted; released via release()

    def release(self) -> None:
        """Unpersist the plan's internal caches. Call AFTER the outputs
        have been materialized (written / collected): repeated loads in a
        long-lived session accumulate cached partitions without bound
        otherwise. Outputs
        consumed after release() recompute from source. The registry
        protocol is described in ``runtime``."""
        release(*self.cached)


def _end_pos_drift():
    """A re-seen variant whose stored end_pos differs from the parsed one
    (detected, not applied: HrdpVariants.java:121)."""
    return (
        ~F.col("is_new")
        & (F.col("store_end_pos") != F.col("end_pos"))
        & (F.col("end_pos") != 0)
    )


def placed_lines(vcf: DataFrame) -> DataFrame:
    """VCF lines on placed contigs, with the normalized ``chromosome``."""
    return vcf.filter(~is_unplaced_contig(F.col("chrom"))).withColumn(
        "chromosome", normalize_chromosome(F.col("chrom"))
    )


def with_genic_status(
    probes: DataFrame,
    genes: DataFrame,
    map_key: int,
    probe_keys: tuple[str, str, str],
    status_col: str = "genic_status",
) -> DataFrame:
    """Add ``status_col``: GENIC when the (chromosome, start, stop) probe
    overlaps an ACTIVE gene of ``map_key`` (of any map when ``genes`` has
    no ``map_key`` column), else INTERGENIC. ``with_exists_flag`` is
    single-pass over the probe side, so callers need no persist. The gene
    rows are dimension-sized: ``coalesce(1)`` lets its per-chromosome
    aggregate run in one task with no exchange."""
    active = genes.filter(F.col("object_status") == "ACTIVE")
    if "map_key" in genes.columns:
        active = active.filter(F.col("map_key") == map_key)
    flagged = with_exists_flag(
        probes,
        active.select("chromosome", "start_pos", "stop_pos").coalesce(1),
        flag="__genic",
        probe_keys=probe_keys,
    )
    return flagged.withColumn(
        status_col, F.when(F.col("__genic"), "GENIC").otherwise("INTERGENIC")
    ).drop("__genic")


def parse_variants(vcf: DataFrame, genes: DataFrame, map_key: int) -> DataFrame:
    """Normalize + explode VCF lines into candidate variants.

    Output grain: one row per (line, allele). Columns: LINE_KEY,
    ``allele_idx``, the normalized variant struct fields, probe columns and
    ``genic_status``.
    """
    lines = placed_lines(vcf).withColumn("rs_id", null_if_dot(F.col("vcf_id")))

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
        multi.alias("is_copy"),
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

    return (
        with_genic_status(cand, genes, map_key, ("chromosome", "q_start", "q_stop"))
        .drop("q_start", "q_stop")
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
    ``__copies`` counts the candidate's rows before that pick: above 1 when
    the line occurs twice in its file or matches several stored rows.
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
    w = Window.partitionBy(*LINE_KEY, "allele_idx")
    return (
        joined.withColumn("__copies", F.count(F.lit(1)).over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(F.col("store_rgd_id"))))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "store_ref", "store_var", "store_rs", "store_chrom", "store_start", "store_map_key")
    )


def first_free_rgd_id(variant_store: DataFrame, root: str) -> int:
    """One above the max ``rgd_id`` of the store at ``root`` (1 for an
    empty store). The max comes from the parquet footers of its current
    version (``sources.store.footer_max``: no Spark job), or, when a
    column chunk carries no statistics, from an aggregate over
    ``variant_store``, the frame read from ``root``."""
    known, m = footer_max(variant_store.sparkSession, root, "rgd_id")
    if not known:
        m = variant_store.agg(F.max("rgd_id")).collect()[0][0]
    return (m or 0) + 1


def run_load(
    vcf: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    variant_store: DataFrame,
    detail_store: DataFrame,
    map_key: int,
    next_rgd_id: int,
) -> LoadResult:
    """Full ``--runLoad`` equivalent. All outputs are lazy DataFrames; the
    id allocator's one collect, which also returns the run counters and
    decides whether a detail pair can repeat, is the only action run here.
    New variants take ids from ``next_rgd_id`` up (``first_free_rgd_id``
    of the store)."""
    cand = parse_variants(vcf, genes, map_key)
    matched = _dedup_against_store(cand, variant_store)

    # id allocation (S9): only the first occurrence of each NEW variant is
    # ranked, inside position buckets — never a global single-partition
    # window.
    # Imported at call time: perfbench's tracer wraps the module attribute.
    from hrdp_variant_load_pipeline_spark.operators.upsert import (
        assign_surrogate_ids_scalable,
    )

    # diamond reuse: matched feeds the allocator's ranked frame, its totals
    # and the existing branch — persist so the scan → normalize → genic
    # join → dedup chain runs once, not 3-4 times. Tracked in
    # LoadResult.cached; callers release once outputs are materialized.
    # The dedup probe's own columns are dropped first: every action of the
    # load reads the whole cached row.
    cache_registry: list = []
    matched = (
        matched.drop("is_copy", "probe_start")
        .withColumn("is_new", F.col("store_rgd_id").isNull())
        .persist()
    )
    cache_registry.append(matched)

    # ---- intra-batch dedup of new variants --------------------------------
    # The reference inserts per line and RE-PROBES the DB for every later
    # line (HrdpVariants.java:310-314), so the same variant appearing in
    # several files/lines of one run collapses onto the first insert's id.
    # A store-snapshot anti-join alone misses that: each occurrence would
    # mint its own rgd_id and duplicate the variant row. Set-oriented
    # equivalent: a window on the residual match key (whose partitioning
    # groups nulls as eqNullSafe does in _dedup_against_store) picks each
    # variant's first occurrence in file order, and only those rows are
    # ranked. Where a variant sits on several lines, its other rows take its
    # id by a join back; where none does, there is nothing to join.
    w_first = Window.partitionBy(*VARIANT_KEY).orderBy("source_file", "pos", "allele_idx")
    firsts = (
        matched.filter("is_new")
        .withColumn("__occ", F.row_number().over(w_first))
        .filter(F.col("__occ") == 1)
        .drop("__occ")
    )
    files, file_repeats = _file_samples(vcf, samples)
    numbered, n_new, totals = assign_surrogate_ids_scalable(
        firsts,
        order_by=[
            "source_file",
            "chromosome",
            "pos",
            "allele_idx",
            "var_nuc",
            # then the variant key: two variants never tie
            *VARIANT_KEY,
        ],
        buckets=[
            F.col("source_file"),
            F.col("chromosome"),
            F.expr(f"pos div {ID_BUCKET_BASES}"),
        ],
        base_id=next_rgd_id - 1,
        cache_registry=cache_registry,
        # the run counters and the facts that decide whether a detail pair
        # can repeat, from the allocator's one collect; one task, no exchange
        totals=matched.coalesce(1).agg(
            F.count(F.when(F.col("is_new"), 1)).alias("new_rows"),
            F.count(F.when(~F.col("is_new"), 1)).alias("existing_matched"),
            F.count_distinct("store_rgd_id").alias("existing_ids"),
            F.count(F.when(_end_pos_drift(), 1)).alias("end_pos_drift_detected"),
            F.max("__copies").alias("max_copies"),
        ),
    )
    # a detail pair can repeat only where a line occurs twice or matches
    # several stored rows, a variant sits on several lines, or a file maps
    # two columns to one sample
    may_repeat = (
        file_repeats
        or (totals["max_copies"] or 0) > 1
        or totals["new_rows"] > n_new
        or totals["existing_matched"] > totals["existing_ids"]
    )
    existing_rows = matched.filter(~F.col("is_new")).withColumn(
        "rgd_id", F.col("store_rgd_id").cast("long")
    )
    with_ids = existing_rows
    if n_new:
        with_ids = numbered
        if totals["new_rows"] > n_new:
            # a new variant sits on several lines: its other rows take the
            # id of its first occurrence (null-safe, as the dedup matches)
            ids = numbered.select(*(F.col(c).alias(f"__v_{c}") for c in VARIANT_KEY), "rgd_id")
            with_ids = (
                matched.filter("is_new")
                .join(ids, [F.col(c).eqNullSafe(F.col(f"__v_{c}")) for c in VARIANT_KEY])
                .drop(*ids.columns[:-1])
            )
        if totals["existing_matched"]:
            with_ids = with_ids.unionByName(existing_rows)

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
    # one variant row per distinct new variant (its first occurrence), not
    # one per line-allele
    new_variants = numbered.select(*variant_cols)

    end_pos_updates = existing_rows.filter(_end_pos_drift()).select("rgd_id", "end_pos")

    # ---- per-sample detail rows -------------------------------------------
    # j = position in the per-line new++existing list (new first, each in
    # allele order) — the reference indexes AD by this j (HrdpVariants.java:478).
    # __rgd_lines: the lines (copies included) that carry the row's
    # variant; a row can repeat a detail pair only where it is > 1
    w_j = Window.partitionBy(*LINE_KEY).orderBy(
        F.when(F.col("is_new"), 0).otherwise(1), "allele_idx"
    )
    line_variants = with_ids
    if may_repeat:
        line_variants = line_variants.withColumn(
            "__rgd_lines", F.sum("__copies").over(Window.partitionBy("rgd_id"))
        )
    line_variants = line_variants.withColumn("j", F.row_number().over(w_j) - 1)
    details = sample_details(vcf, line_variants, files, detail_store, may_repeat)

    return LoadResult(
        new_variants=new_variants,
        end_pos_updates=end_pos_updates,
        new_sample_details=details,
        all_line_variants=line_variants.drop("__rgd_lines"),
        n_new=n_new,
        existing_matched=totals["existing_matched"],
        end_pos_drift_detected=totals["end_pos_drift_detected"],
        cached=tuple(cache_registry),
    )


def _file_samples(vcf: DataFrame, samples: DataFrame) -> tuple[Column, bool]:
    """Per line, its file's ``struct<slots, repeats>``, a lookup of
    ``source_file`` in a literal map built on the driver from the header
    (``vcf_header``) and the small sample dimension — no job for a
    ``read_vcf`` frame and a driver-local dimension (``samples_dimension``):
    ``slots`` holds the ``(sample_id, gender)`` of each sample column, null
    for a name the dimension lacks; ``repeats`` is 2 when two columns of the
    file map to one sample id, else 1. Also returns whether any file has
    ``repeats`` 2."""
    by_name = {}
    for name, sid, gender in samples.select("analysis_name", "sample_id", "gender").collect():
        if by_name.setdefault(name, (sid, gender)) != (sid, gender):
            raise ValueError(f"samples: analysis name {name!r} has several sample ids")
    per_file = {}
    for source_file, names in vcf_header(vcf):
        slots = [by_name.get(n) for n in names]
        ids = [s[0] for s in slots if s is not None]
        per_file[source_file] = {
            "slots": [s and {"sample_id": s[0], "gender": s[1]} for s in slots],
            "repeats": 2 if len(set(ids)) < len(ids) else 1,
        }
    id_type = samples.schema["sample_id"].dataType.simpleString()
    lookup = F.from_json(
        F.lit(json.dumps(per_file)),
        f"map<string, struct<slots: array<struct<sample_id: {id_type}, gender: string>>,"
        " repeats: int>>",
    )
    repeats = any(f["repeats"] > 1 for f in per_file.values())
    return F.try_element_at(lookup, F.col("source_file")), repeats


def sample_details(
    vcf: DataFrame,
    line_variants: DataFrame,
    files: Column,
    detail_store: DataFrame,
    may_repeat: bool,
) -> DataFrame:
    """One VARIANT_SAMPLE_DETAIL row per (variant, called sample column)
    not yet in ``detail_store`` (HrdpVariants.java:465-490), built at line
    grain: each line's sample columns cross ONE exchange, as one string, in
    the join to ``line_variants`` (which carries ``j``, and ``__rgd_lines``
    when ``may_repeat``), and none when ``line_variants`` is broadcast; the
    columns' ``(sample_id, gender)`` come after it from ``files`` (see
    ``_file_samples``), and the columns explode only then.

    * DP carry-forward: a column whose DP does not parse takes the DP of the
      nearest earlier surviving column of the line (known sample, GT not
      ``0/0`` / ``./.``), as the reference's reused loop variable does — an
      array expression over the line's columns, not a window.
    * First occurrence per ``(rgd_id, sample_id)`` in (file, line, column)
      order: the reference's insert-then-probe skips a later repeat. A pair
      can repeat only on a row whose variant sits on several lines, or
      whose file maps two columns to one sample; ``may_repeat`` says
      whether the batch has such a row (``run_load`` decides it from its
      totals). Without one, the lines are read once and explode as they
      are. With one, those rows alone move to their id's partition, where
      a window keeps the first occurrence. The two branches then read one
      join input: the same exchange when the join shuffles, the same
      broadcast of ``line_variants`` (and each its own scan of the lines)
      when not.
    * The window orders by ``(source_file, pos, ref, alt, col_idx, j)``,
      then by ``chromosome``, ``total_depth`` (nulls first) and
      ``var_freq``. The last three only rank rows the file order cannot:
      two lines of one file with one ``LINE_KEY`` (or, matched by rs id,
      differing only in chromosome) whose cells differ; of those, the row
      with the smaller depth, then the smaller allele depth, is kept. Rows
      still tied then store the same detail row, so the pick does not
      depend on how the shuffle orders them.
    """
    # a left join: only line_variants may become a broadcast side (the
    # lines' size estimate is their compressed file size, far below the
    # text they carry); a line without variants yields no pair
    lines = placed_lines(vcf).select(
        *LINE_KEY,
        F.array_join("sample_cells", "\t").alias("__cells"),
        *([files["repeats"].alias("__file_repeats")] if may_repeat else []),
    )
    lv = line_variants.select(
        *LINE_KEY,
        "rgd_id",
        "j",
        *(["__rgd_lines"] if may_repeat else []),
        F.col("chromosome").alias("v_chrom"),
        F.col("start_pos").alias("v_start"),
    )
    rows = lines.join(lv, LINE_KEY, "left")

    def survives(c):
        return c["s"].isNotNull() & F.coalesce(
            ~F.get(c["f"], 0).isin("0/0", "./."), F.lit(False)
        )

    def pair(c, i):
        # the DP of the last earlier surviving column that has one
        carried = F.try_element_at(
            F.filter(F.slice("__dp", 1, i), lambda d: d.isNotNull()), F.lit(-1)
        )
        var_freq = F.try_element_at(F.split(F.get(c["f"], 1), ","), F.col("j") + 2)
        return F.struct(
            i.alias("col_idx"),
            c["s"]["sample_id"].alias("sample_id"),
            c["s"]["gender"].alias("gender"),
            F.when(survives(c), F.coalesce(F.get("__dp", i), carried)).alias("total_depth"),
            F.when(survives(c), var_freq.try_cast("int")).alias("var_freq"),
        )

    def explode(df: DataFrame) -> DataFrame:
        keep = ["source_file", "pos", "ref", "alt", "rgd_id", "j", "v_chrom", "v_start"]
        # per column: its slot (null: unknown sample) and FORMAT fields
        cols = F.transform(
            F.arrays_zip(files["slots"].alias("s"), F.split("__cells", "\t").alias("f")),
            lambda c: F.struct(c["s"].alias("s"), F.split(c["f"], ":").alias("f")),
        )
        parsed = df.select(*keep, cols.alias("__cols")).withColumn(
            "__dp",
            F.transform(
                "__cols", lambda c: F.when(survives(c), F.get(c["f"], 2).try_cast("int"))
            ),
        )
        pairs = F.filter(F.transform("__cols", pair), lambda x: x["var_freq"] != 0)
        return parsed.select(*keep, F.explode(pairs).alias("__p")).select(*keep, "__p.*")

    if may_repeat:
        # > 1 when a pair of the row can repeat. One non-key column of each
        # join side, not a conjunction: Catalyst can neither split it nor
        # infer it for one side through the join keys, so the split stays
        # above the join
        repeats = F.greatest("__rgd_lines", "__file_repeats")
        w_pair = Window.partitionBy("rgd_id", "sample_id").orderBy(
            "source_file", "pos", "ref", "alt", "col_idx", "j", "v_chrom", "total_depth", "var_freq"
        )
        firsts = (
            explode(rows.filter(repeats > 1).repartition("rgd_id"))
            .withColumn("__pn", F.row_number().over(w_pair))
            .filter(F.col("__pn") == 1)
            .drop("__pn")
        )
        pairs = explode(rows.filter(repeats <= 1)).unionByName(firsts)
    else:
        pairs = explode(rows)

    # existence check vs detail store (M3): one anti-join replaces the
    # reference's per-pair JDBC count probe (DAO.java:64-66)
    existing_pairs = detail_store.select("rgd_id", "sample_id")
    pairs = pairs.join(existing_pairs, ["rgd_id", "sample_id"], "left_anti")

    z = zygosity_struct(
        F.col("var_freq"),
        F.col("total_depth"),
        F.col("gender"),
        F.col("v_chrom"),
        F.col("v_start"),
    )
    return (
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


def load_metrics(
    result: LoadResult, variants_entered: int, sample_details_entered: int
) -> dict[str, int]:
    """Run counters (A1): variants entered, sample rows created, dedup hits
    and end_pos drift per run (HrdpVariants.java:116-133).

    ``variants_entered`` / ``sample_details_entered`` are the row counts
    the two store appends returned; the other two were collected by
    ``run_load`` with the ids, so this runs no Spark job."""
    return {
        "variants_entered": variants_entered,
        "sample_details_entered": sample_details_entered,
        "existing_matched": result.existing_matched,
        "end_pos_drift_detected": result.end_pos_drift_detected,
    }
