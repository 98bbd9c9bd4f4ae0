"""End-to-end runLoad test on a synthetic multi-sample VCF (FIXTURES.md A1).

Covers: gzip scan, header→sample map, contig filter, chrom normalization,
multi-allelic explode, genic interval join (including the multi-allelic
(pos, 0) probe quirk and the ACTIVE-gene filter), dedup vs store,
deterministic id assignment, DP '.' carry-over, AD-by-j indexing, zygosity,
idempotent re-run, and the genic QC drift pass.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.plans.genic_qc import genic_qc
from hrdp_variant_load_pipeline_spark.plans.load import run_load
from hrdp_variant_load_pipeline_spark.schemas import (
    SAMPLE,
    VARIANT,
    VARIANT_SAMPLE_DETAIL,
)
from hrdp_variant_load_pipeline_spark.sources.vcf import read_vcf
from tests.conftest import node_class, plan_nodes, spark_jobs_of

VCF_BODY = "\n".join(
    [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=AC,Number=A,Type=Integer,Description="x">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tACI_EurMcwi_2019\tBN_NHsdMcwi_2019\tUNKNOWN_SAMPLE",
        # L1: snv; S1 het 9/41, S2 hom 41/41, S3 (unknown sample) dropped
        "chr1\t100\trs1\tA\tG\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:32,9:41\t1/1:0,41:41\t0/1:5,5:10",
        # L2: deletion (alt len 1); genic via gene [150,250]; S2 skipped (0/0)
        "chr1\t200\t.\tACG\tA\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:10,5:20\t0/0:20,0:20",
        # L3: multi-allelic snp ×2 on chrM→MT; probe (300,0) hits gene start<=300
        # S1 DP '.', carries nothing (first surviving col → null depth → rows kept
        # with null depth would crash the reference; AD zeros skip allele 2 for S1)
        "chrM\t300\t.\tA\tG,T\t50\tPASS\tAC=2\tGT:AD:DP\t1/2:0,12,13:25\t1/1:0,30,0:30",
        # L4: dropped contig line
        "chr1_unplaced_scaffold\t400\t.\tA\tG\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:5,5:10\t0/1:5,5:10",
        # L5: DP '.' carry-over: S1 dp=18, S2 dp '.' carries 18
        "chr1\t500\t.\tT\tC\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:9,9:18\t0/1:8,4:.",
        "",
    ]
)


@pytest.fixture(scope="module")
def vcf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("vcf")
    with gzip.open(os.path.join(d, "TEST_STRAIN_2021_v1_sorted_PASS.vcf.gz"), "wt") as f:
        f.write(VCF_BODY)
    return str(d)


@pytest.fixture(scope="module")
def dims(spark):
    genes = spark.createDataFrame(
        [
            (1, "1", 150, 250, "ACTIVE", 372),
            (2, "1", 90, 110, "WITHDRAWN", 372),  # must be ignored
            (3, "MT", 250, 260, "ACTIVE", 372),  # hits the (300,0) quirk probe
        ],
        "gene_rgd_id int, chromosome string, start_pos long, stop_pos long, object_status string, map_key int",
    )
    samples = spark.createDataFrame(
        [
            (381, "ACI_EurMcwi_2019", "U", 380, 372, 11, None, None),
            (382, "BN_NHsdMcwi_2019", "U", 380, 372, 12, None, None),
        ],
        SAMPLE,
    )
    return genes, samples


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def run(spark, vcf_dir, dims, variant_store=None, detail_store=None):
    genes, samples = dims
    vcf = read_vcf(spark, vcf_dir)
    return run_load(
        vcf,
        genes,
        samples,
        variant_store if variant_store is not None else _empty(spark, VARIANT),
        detail_store if detail_store is not None else _empty(spark, VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=1000,
    )


def test_load_end_to_end(spark, vcf_dir, dims):
    res = run(spark, vcf_dir, dims)
    variants = {
        (v["chromosome"], v["start_pos"]): v for v in res.new_variants.collect()
    }
    # L4 dropped; L1, L2, L5 single; L3 → two copies (same chrom/start)
    assert res.new_variants.count() == 5

    v1 = variants[("1", 100)]
    assert (v1["variant_type"], v1["ref_nuc"], v1["var_nuc"], v1["rs_id"]) == (
        "snv", "A", "G", "rs1",
    )
    assert v1["end_pos"] == 101 and v1["genic_status"] == "INTERGENIC"

    v2 = variants[("1", 201)]  # deletion: start advanced by 1
    assert (v2["variant_type"], v2["ref_nuc"], v2["var_nuc"], v2["padding_base"]) == (
        "deletion", "CG", None, "A",
    )
    assert v2["end_pos"] == 203 and v2["genic_status"] == "GENIC"

    # multi-allelic copies: snp (not snv), chrom M→MT, genic via (300,0) probe
    mt = [v for v in res.new_variants.collect() if v["chromosome"] == "MT"]
    assert len(mt) == 2
    assert {v["var_nuc"] for v in mt} == {"G", "T"}
    assert all(v["variant_type"] == "snp" for v in mt)
    assert all(v["genic_status"] == "GENIC" for v in mt)
    assert all(v["start_pos"] == 300 and v["end_pos"] == 301 for v in mt)

    # ids deterministic and dense from next_rgd_id
    ids = sorted(v["rgd_id"] for v in res.new_variants.collect())
    assert ids == list(range(1000, 1005))

    details = res.new_sample_details.collect()
    by_key = {(d["rgd_id"], d["sample_id"]): d for d in details}

    # L1: S1 het (9/41), S2 homozygous (41/41)
    d11 = by_key[(v1["rgd_id"], 381)]
    assert (d11["var_freq"], d11["total_depth"], d11["zygosity_status"]) == (
        9, 41, "heterozygous",
    )
    assert d11["zygosity_percent_read"] == 0  # integer-division quirk
    d12 = by_key[(v1["rgd_id"], 382)]
    assert (d12["var_freq"], d12["zygosity_status"], d12["zygosity_percent_read"]) == (
        41, "homozygous", 1,
    )
    # unknown sample column dropped
    assert not any(d["sample_id"] not in (381, 382) for d in details)

    # L2: S2 cell is 0/0 → only S1 row
    assert (v2["rgd_id"], 382) not in by_key
    assert by_key[(v2["rgd_id"], 381)]["var_freq"] == 5

    # L3 multi-allelic AD by j index: new vars ordered by allele_idx ⇒
    # j=0 → G (AD[1]), j=1 → T (AD[2])
    g = next(v for v in mt if v["var_nuc"] == "G")
    t = next(v for v in mt if v["var_nuc"] == "T")
    assert by_key[(g["rgd_id"], 381)]["var_freq"] == 12
    assert by_key[(t["rgd_id"], 381)]["var_freq"] == 13
    # S2 AD = 0,30,0 → only allele G
    assert by_key[(g["rgd_id"], 382)]["var_freq"] == 30
    assert (t["rgd_id"], 382) not in by_key

    # L5 DP carry-over: S2's '.' reuses S1's 18
    v5 = variants[("1", 500)]
    assert by_key[(v5["rgd_id"], 382)]["total_depth"] == 18
    assert by_key[(v5["rgd_id"], 381)]["total_depth"] == 18

    # sample-detail shared nulls/defaults
    assert all(
        d["source"] is None
        and d["quality_score"] == 0
        and d["zygosity_num_allele"] == 0
        and d["zygosity_ref_allele"] is None
        for d in details
    )


def test_load_idempotent_rerun(spark, vcf_dir, dims):
    first = run(spark, vcf_dir, dims)
    variant_store = first.new_variants
    detail_store = first.new_sample_details
    second = run(spark, vcf_dir, dims, variant_store, detail_store)
    assert second.new_variants.count() == 0
    assert second.new_sample_details.count() == 0
    assert second.end_pos_updates.count() == 0


def test_end_pos_drift_detected(spark, vcf_dir, dims):
    first = run(spark, vcf_dir, dims)
    drifted_store = first.new_variants.withColumn(
        "end_pos", F.col("end_pos") + F.lit(7)
    )
    res = run(spark, vcf_dir, dims, drifted_store, first.new_sample_details)
    assert res.new_variants.count() == 0
    # every re-seen variant reports its corrected end_pos
    updates = {r["rgd_id"]: r["end_pos"] for r in res.end_pos_updates.collect()}
    orig = {r["rgd_id"]: r["end_pos"] for r in first.new_variants.collect()}
    assert updates == orig


def test_genic_qc_drift(spark, vcf_dir, dims):
    genes, _ = dims
    first = run(spark, vcf_dir, dims)
    # flip everything to INTERGENIC → QC must restore the point-probe truth
    stale = first.new_variants.withColumn("genic_status", F.lit("INTERGENIC"))
    updates = genic_qc(stale, genes, map_key=372)
    got = {r["rgd_id"]: r["genic_status"] for r in updates.collect()}
    # point probe (start,start): L2 start=201 ∈ [150,250] → GENIC;
    # MT vars at 300 ∉ [250,260] → stay INTERGENIC (loader said GENIC via
    # the (300,0) quirk — QC's point probe deliberately disagrees)
    first_vars = {
        (v["chromosome"], v["start_pos"], v["var_nuc"]): v["rgd_id"]
        for v in first.new_variants.collect()
    }
    assert got == {first_vars[("1", 201, None)]: "GENIC"}

    # case-insensitive compare: 'genic' vs recomputed 'GENIC' is NOT drift
    # (L2 stays put) — but the MT rows DO drift: the loader's (300,0) quirk
    # probe said GENIC while QC's point probe says INTERGENIC
    lower = first.new_variants.withColumn("genic_status", F.lower("genic_status"))
    lower_updates = {
        r["rgd_id"]: r["genic_status"]
        for r in genic_qc(lower, genes, map_key=372).collect()
    }
    mt_ids = {
        v["rgd_id"] for v in first.new_variants.collect() if v["chromosome"] == "MT"
    }
    assert lower_updates == {i: "INTERGENIC" for i in mt_ids}


def _load_into(res, variant_dir, detail_dir):
    """Append one load's outputs the way ``cli.cmd_run_load`` does and
    return its run counters."""
    from hrdp_variant_load_pipeline_spark.plans.load import load_metrics
    from hrdp_variant_load_pipeline_spark.sources.store import append_to_store

    return load_metrics(
        res,
        append_to_store(res.new_variants, variant_dir),
        append_to_store(res.new_sample_details, detail_dir),
    )


def test_load_metrics(spark, vcf_dir, dims, tmp_path):
    """Every --runLoad counter equals a direct count of what the load
    wrote or detected: a fresh load into empty stores, then a re-load
    against a store whose end_pos drifted on every variant, so both dedup
    hits and drift are non-zero."""
    fresh = run(spark, vcf_dir, dims)
    try:
        m = _load_into(fresh, str(tmp_path / "v1"), str(tmp_path / "d1"))
        stored_details = spark.read.parquet(str(tmp_path / "d1")).count()
        assert stored_details > 0
        assert m == {
            "variants_entered": spark.read.parquet(str(tmp_path / "v1")).count(),
            "sample_details_entered": stored_details,
            "existing_matched": 0,  # empty store
            "end_pos_drift_detected": 0,
        }
        assert m["variants_entered"] == 5
    finally:
        fresh.release()

    first = run(spark, vcf_dir, dims)
    drifted_store = first.new_variants.withColumn("end_pos", F.col("end_pos") + F.lit(7))
    again = run(spark, vcf_dir, dims, drifted_store, first.new_sample_details)
    try:
        seen = again.all_line_variants.filter(~F.col("is_new")).count()
        drift = again.end_pos_updates.count()
        m = _load_into(again, str(tmp_path / "v2"), str(tmp_path / "d2"))
        assert m == {
            "variants_entered": spark.read.parquet(str(tmp_path / "v2")).count(),
            "sample_details_entered": spark.read.parquet(str(tmp_path / "d2")).count(),
            "existing_matched": seen,
            "end_pos_drift_detected": drift,
        }
        # all five line-alleles re-seen, every one with drifted end_pos
        assert (m["variants_entered"], m["sample_details_entered"]) == (0, 0)
        assert m["existing_matched"] == m["end_pos_drift_detected"] == 5
    finally:
        again.release()
        first.release()


def test_load_metrics_runs_one_job(spark, vcf_dir, dims, tmp_path):
    """The counters never re-execute the load plan: the id allocator's
    collect already returned them, so after the appends load_metrics runs
    no Spark job at all, counted under its own job group through the status
    tracker (the way the benchmark's spans count a layer's jobs)."""
    from hrdp_variant_load_pipeline_spark.plans.load import load_metrics
    from hrdp_variant_load_pipeline_spark.sources.store import append_to_store

    sc = spark.sparkContext
    res = run(spark, vcf_dir, dims)
    try:
        nv = append_to_store(res.new_variants, str(tmp_path / "v"))
        nd = append_to_store(res.new_sample_details, str(tmp_path / "d"))
        group = "test_load_metrics_runs_one_job"
        sc.setJobGroup(group, group)
        try:
            m = load_metrics(res, nv, nd)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        assert m["variants_entered"] == 5
    finally:
        res.release()


def test_intra_batch_dedup_across_files(spark, tmp_path, dims):
    """The same variant in two strain files of one run must collapse onto
    ONE rgd_id / one variant row (the reference's per-line insert-then-
    reprobe finds the first file's insert), with sample details from both
    files attached to that id and (rgd_id, sample_id) pairs deduped."""
    import gzip as _gzip

    shared = "chr2\t700\trs7\tA\tG\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:10,7:17"
    only_b = "chr2\t900\t.\tT\tC\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:6,6:12"
    header = (
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tACI_EurMcwi_2019"
    )
    header_b = (
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tBN_NHsdMcwi_2019"
    )
    d = tmp_path / "dupvcf"
    d.mkdir()
    with _gzip.open(d / "A_STRAIN_2021_v1.vcf.gz", "wt") as f:
        f.write("##fileformat=VCFv4.2\n" + header + "\n" + shared + "\n")
    with _gzip.open(d / "B_STRAIN_2021_v1.vcf.gz", "wt") as f:
        f.write(
            "##fileformat=VCFv4.2\n" + header_b + "\n" + shared + "\n" + only_b + "\n"
        )

    genes, samples = dims
    vcf = read_vcf(spark, str(d))
    res = run_load(
        vcf,
        genes,
        samples,
        _empty(spark, VARIANT),
        _empty(spark, VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=5000,
    )
    variants = res.new_variants.collect()
    # 2 distinct variants, not 3: the shared (2, 700, A->G) appears once
    assert len(variants) == 2
    by_pos = {v["start_pos"]: v for v in variants}
    assert set(by_pos) == {700, 900}
    assert by_pos[700]["rs_id"] == "rs7"

    details = res.new_sample_details.collect()
    shared_id = by_pos[700]["rgd_id"]
    # both files' sample columns attach to the single shared id
    got = {(dd["rgd_id"], dd["sample_id"]) for dd in details}
    assert (shared_id, 381) in got and (shared_id, 382) in got
    # and no duplicate (rgd_id, sample_id) pairs survive
    assert len(got) == len(details)


def test_intra_batch_dedup_same_pair_two_files(spark, tmp_path, dims):
    """Same variant AND same sample column in two files: exactly one
    detail row survives, carrying the first file's depths."""
    import gzip as _gzip

    header = (
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tACI_EurMcwi_2019"
    )
    d = tmp_path / "pairvcf"
    d.mkdir()
    with _gzip.open(d / "A_STRAIN_2021_v1.vcf.gz", "wt") as f:
        f.write(
            "##fileformat=VCFv4.2\n" + header + "\n"
            + "chr3\t100\t.\tA\tG\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:3,9:12\n"
        )
    with _gzip.open(d / "B_STRAIN_2021_v1.vcf.gz", "wt") as f:
        f.write(
            "##fileformat=VCFv4.2\n" + header + "\n"
            + "chr3\t100\t.\tA\tG\t50\tPASS\tAC=1\tGT:AD:DP\t0/1:4,8:12\n"
        )

    genes, samples = dims
    vcf = read_vcf(spark, str(d))
    res = run_load(
        vcf,
        genes,
        samples,
        _empty(spark, VARIANT),
        _empty(spark, VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=6000,
    )
    assert res.new_variants.count() == 1
    details = res.new_sample_details.collect()
    assert len(details) == 1
    # first occurrence in file order wins: A_STRAIN's var_freq=9
    assert details[0]["var_freq"] == 9


def test_allocator_ids_equal_global_row_number_across_buckets(spark):
    """The bucketed allocator numbers rows exactly as one global
    ``row_number()`` over the order would, on input whose rows spread over
    many (file, chromosome, 1 Mb) buckets and several input partitions;
    it reports the number of ids, and an empty input gets 0."""
    from pyspark.sql import Window

    from hrdp_variant_load_pipeline_spark.operators.upsert import (
        assign_surrogate_ids_scalable,
    )
    from hrdp_variant_load_pipeline_spark.runtime import release

    # 7_919_993 is coprime to 9_000_000, so every position is distinct
    rows = [
        (f"f{i % 3}", str(1 + i % 4), (i * 7_919_993) % 9_000_000 + 1, i % 2)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "source_file string, chromosome string, pos long, allele_idx int"
    ).repartition(5)
    order = ["source_file", "chromosome", "pos", "allele_idx"]
    buckets = [F.col("source_file"), F.col("chromosome"), F.expr("pos div 1000000")]
    assert df.select(*buckets).distinct().count() > 50
    cached: list = []
    try:
        out, n, totals = assign_surrogate_ids_scalable(
            df, order_by=order, buckets=buckets, base_id=99, cache_registry=cached
        )
        want = df.withColumn("want", F.row_number().over(Window.orderBy(*order)) + 99)
        got = out.join(want, order).select("rgd_id", "want").collect()
        assert n == 400 and len(got) == 400 and totals is None
        assert all(r["rgd_id"] == r["want"] for r in got)

        empty, n0, _ = assign_surrogate_ids_scalable(
            df.limit(0), order_by=order, buckets=buckets, base_id=99, cache_registry=cached
        )
        assert n0 == 0 and empty.count() == 0
    finally:
        release(*cached)


def test_allocator_ties_share_one_id_and_totals_ride_the_collect(spark):
    """Rows that tie on ``order_by`` share one id, numbered as a global
    ``dense_rank()``, and ``n`` counts the distinct keys, not the rows; the
    ``totals`` row comes back from the allocator's one collect: with AQE
    off (AQE would split its stages into jobs) the call runs one Spark
    job."""
    from pyspark.sql import Window

    from hrdp_variant_load_pipeline_spark.operators.upsert import (
        assign_surrogate_ids_scalable,
    )
    from hrdp_variant_load_pipeline_spark.runtime import release

    # 60 keys over 3 buckets, each key on 1-4 rows of several partitions
    rows = [(k % 3, k, r) for k in range(60) for r in range(1 + k % 4)]
    df = spark.createDataFrame(rows, "b int, k int, r int").repartition(4)
    cached: list = []
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        (out, n, totals), jobs = spark_jobs_of(
            spark,
            assign_surrogate_ids_scalable,
            df,
            ["b", "k"],
            [F.col("b")],
            10,
            "id",
            cached,
            df.agg(F.count(F.lit(1)).alias("rows"), F.max("r").alias("max_r")),
        )
        assert jobs == 1
        assert n == 60 and totals == {"rows": len(rows), "max_r": 3}
        want = df.withColumn("want", F.dense_rank().over(Window.orderBy("b", "k")) + 10)
        got = out.join(want, ["b", "k", "r"]).select("k", "id", "want").collect()
        assert len(got) == len(rows)
        assert all(r["id"] == r["want"] for r in got)
        # one id per key, and every row of a key carries it
        assert len({(r["k"], r["id"]) for r in got}) == 60
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
        release(*cached)


def test_surrogate_ids_query_leaves_nothing_persisted(spark):
    """The ``surrogate_ids`` query passes the allocator no cache registry,
    so nothing stays persisted: three calls leave the persistent-RDD set as
    it was, and each equals the global ``row_number()`` its SQL states."""
    from pyspark.sql import Window

    from hrdp_variant_load_pipeline_spark.queries_core import surrogate_ids
    from hrdp_variant_load_pipeline_spark.sources.tables import table
    from tests.conftest import SF_DIR

    def persisted():
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    c = table(spark, SF_DIR, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    order = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    want = sorted(
        tuple(r)
        for r in c.select("c_custkey", (F.row_number().over(order) + 90000).alias("new_id"))
        .collect()
    )
    before = persisted()
    for _ in range(3):
        assert sorted(tuple(r) for r in surrogate_ids(spark, SF_DIR).collect()) == want
    assert persisted() == before


def test_first_free_rgd_id_reads_footers_and_falls_back_to_aggregate(
    spark, tmp_path, monkeypatch
):
    """The next id comes from the store's footer statistics without a Spark
    job; when the footer helper reports a chunk without statistics, it
    comes from an aggregate over the store instead, with the same value."""
    from hrdp_variant_load_pipeline_spark.plans import load
    from hrdp_variant_load_pipeline_spark.sources.store import (
        commit_store_version,
        read_store,
    )

    root = str(tmp_path / "variants")
    assert load.first_free_rgd_id(_empty(spark, VARIANT), root) == 1
    commit_store_version(
        spark.range(1, 40).selectExpr("id AS rgd_id", "'x' AS tag").repartition(3), root
    )
    store = read_store(spark, root)
    assert spark_jobs_of(spark, load.first_free_rgd_id, store, root) == (40, 0)
    monkeypatch.setattr(load, "footer_max", lambda *a: (False, None))
    value, jobs = spark_jobs_of(spark, load.first_free_rgd_id, store, root)
    assert value == 40 and jobs >= 1


def _load_dir(spark, tmp_path, name, header, lines, sample_ids, variants=()):
    """run_load over one gzip VCF ``name`` (sample columns ``header``) into
    empty stores, or a variant store holding ``variants`` (dicts of VARIANT
    columns, absent ones null), with a ``samples_dimension`` built from
    ``sample_ids``."""
    from hrdp_variant_load_pipeline_spark.runtime import local_frame
    from hrdp_variant_load_pipeline_spark.sources.config import samples_dimension

    d = tmp_path / name
    d.mkdir()
    fixed = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"
    with gzip.open(d / f"{name}.vcf.gz", "wt") as f:
        f.write("##fileformat=VCFv4.2\n" + "\t".join([fixed, *header]) + "\n")
        f.write("".join(line + "\n" for line in lines))
    genes = spark.createDataFrame(
        [], "chromosome string, start_pos long, stop_pos long, object_status string"
    )
    return run_load(
        read_vcf(spark, str(d)),
        genes,
        samples_dimension(spark, sample_ids, 372),
        local_frame(spark, [tuple(v.get(c) for c in VARIANT.names) for v in variants], VARIANT),
        local_frame(spark, [], VARIANT_SAMPLE_DETAIL),
        map_key=372,
        next_rgd_id=1 + max((v["rgd_id"] for v in variants), default=0),
    )


def _details(res):
    return sorted(
        (r["sample_id"], r["var_freq"], r["total_depth"])
        for r in res.new_sample_details.collect()
    )


def test_dp_carried_across_unknown_and_hom_ref_columns(spark, tmp_path):
    """A DP that does not parse takes the DP of the nearest earlier
    SURVIVING column: not the unknown sample's, not the 0/0 column's."""
    res = _load_dir(
        spark,
        tmp_path,
        "dpcarry",
        ["S1", "UNKNOWN", "S2", "S3"],
        [
            "chr4\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP"
            "\t0/1:5,5:12\t0/1:3,3:99\t0/0:9,1:77\t0/1:4,4:."
        ],
        {"S1": 381, "S2": 382, "S3": 383},
    )
    try:
        assert _details(res) == [(381, 5, 12), (383, 4, 12)]
    finally:
        res.release()


def test_two_header_columns_of_one_sample_keep_the_first(spark, tmp_path):
    """Two header names mapped to one sample id: one detail row, from the
    first column (the reference's insert-then-probe skips the second),
    through the pair window."""
    res = _load_dir(
        spark,
        tmp_path,
        "dupcols",
        ["A_2019", "B_2019"],
        ["chr4\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:1,3:10\t0/1:1,6:20"],
        {"A_2019": 900, "B_2019": 900},
    )
    try:
        assert _pair_windows(res)
        assert _details(res) == [(900, 3, 10)]
    finally:
        res.release()


def test_variant_on_two_lines_of_one_file_keeps_the_first(spark, tmp_path):
    """One variant on two lines of one file (the SNV A>G, then again as the
    first allele of A>G,T) gets one id and one detail row per sample, from
    the first line, through the pair window; the second line's other allele
    keeps its own row."""
    res = _load_dir(
        spark,
        tmp_path,
        "twolines",
        ["S1", "S2"],
        [
            "chr4\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:1,4:9\t0/0:9,0:9",
            "chr4\t100\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:1,3,5:9\t0/1:2,2,0:4",
        ],
        {"S1": 381, "S2": 382},
    )
    try:
        assert res.n_new == 2
        assert _pair_windows(res)
        # A>G: S1 from the first line (4, not 3), S2 only on the second;
        # A>T: S1 from AD[3] of the second line, S2 has depth 0 there
        assert _details(res) == [(381, 4, 9), (381, 5, 9), (382, 2, 4)]
    finally:
        res.release()


def test_two_lines_with_one_line_key_keep_the_documented_pick(spark, tmp_path):
    """Two lines of one file with one LINE_KEY have no file order between
    them: per sample, the row with the smaller depth wins, then the one
    with the smaller allele depth, under any shuffle partition count,
    through the pair window."""
    key = "chr4\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            res = _load_dir(
                spark,
                tmp_path,
                f"sameline{n}",
                ["S1", "S2", "S3"],
                [
                    f"{key}\t0/1:1,4:9\t0/1:1,2:5\t0/1:1,7:8",
                    f"{key}\t0/1:1,3:12\t0/1:1,6:3\t0/1:1,5:8",
                ],
                {"S1": 381, "S2": 382, "S3": 383},
            )
            try:
                assert res.n_new == 1
                assert _pair_windows(res)
                # S1 from the first line (depth 9 < 12), S2 from the second
                # (3 < 5), S3 ties on depth 8: allele depth 5 < 7
                assert _details(res) == [(381, 4, 9), (382, 6, 3), (383, 5, 8)], n
            finally:
                res.release()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _window_keys(node):
    spec = node.partitionSpec()
    exprs = [spec.apply(i) for i in range(spec.size())]
    return [e.name() if node_class(e) == "AttributeReference" else None for e in exprs]


def _reads_lines(node):
    return any(node_class(n) == "FileSourceScanExec" for n, _ in plan_nodes(node))


def _assert_explode_after_one_cell_exchange(nodes):
    """On the detail plan ``nodes`` (``plan_nodes``): no shuffle above the
    explode of the sample columns, no window partitioned on the line key
    over the lines, and the lines cross at most one exchange, which both
    branches of the pair dedup, where planned, read (the second through a
    reused exchange)."""
    from hrdp_variant_load_pipeline_spark.plans.load import LINE_KEY

    generates = [above for n, above in nodes if node_class(n) == "GenerateExec"]
    assert generates
    for above in generates:
        assert "ShuffleExchangeExec" not in {node_class(a) for a in above}
    for n, _ in nodes:
        if node_class(n) == "WindowExec" and _window_keys(n) == LINE_KEY:
            assert not _reads_lines(n)
    line_exchanges = [n for n, _ in nodes if node_class(n) == "ShuffleExchangeExec" and _reads_lines(n)]
    assert len(line_exchanges) <= 1
    if line_exchanges:
        assert "ReusedExchangeExec" in {node_class(n) for n, _ in nodes}


def test_sample_details_explode_after_the_one_cell_exchange(spark, vcf_dir, dims):
    """The detail plan of a batch where no pair can repeat (one branch),
    walked by node class: see ``_assert_explode_after_one_cell_exchange``."""
    from hrdp_variant_load_pipeline_spark.runtime import local_frame
    from hrdp_variant_load_pipeline_spark.sources.config import samples_dimension

    genes, _ = dims
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        res = run_load(
            read_vcf(spark, vcf_dir),
            genes,
            samples_dimension(spark, {"ACI_EurMcwi_2019": 381, "BN_NHsdMcwi_2019": 382}, 372),
            local_frame(spark, [], VARIANT),
            local_frame(spark, [], VARIANT_SAMPLE_DETAIL),
            map_key=372,
            next_rgd_id=1000,
        )
        nodes = list(plan_nodes(res.new_sample_details._jdf.queryExecution().executedPlan()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    try:
        _assert_explode_after_one_cell_exchange(nodes)
        assert len(res.new_sample_details.collect()) == 8
    finally:
        res.release()


def test_pair_dedup_branches_explode_after_the_one_cell_exchange(spark, tmp_path):
    """The detail plan of a batch where pairs can repeat (a variant on two
    lines, and two header columns of one sample), with both branches of
    the pair dedup planned, walked by node class: see
    ``_assert_explode_after_one_cell_exchange``."""
    res = _load_dir(
        spark,
        tmp_path,
        "repeats",
        ["S1", "S2", "S2_again"],
        [
            "chr4\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:1,4:9\t0/0:9,0:9\t0/1:1,2:5",
            "chr4\t100\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:1,3,5:9\t0/1:2,2,0:4\t0/1:2,1,1:4",
            "chr4\t200\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:1,2:6\t0/1:1,3:7\t0/1:1,8:8",
        ],
        {"S1": 381, "S2": 382, "S2_again": 382},
    )
    try:
        assert _pair_windows(res)
        _assert_explode_after_one_cell_exchange(_nodes_without_aqe(res.new_sample_details))
        # A>G: S1 from the first line, S2 from its third column (the second
        # is 0/0); A>T: S1, and S2 from its second column there (the first
        # has allele depth 0); C>T: S1, and S2 from its first column
        assert _details(res) == [
            (381, 2, 6), (381, 4, 9), (381, 5, 9), (382, 1, 4), (382, 2, 5), (382, 3, 7)
        ]
    finally:
        res.release()


def _nodes_without_aqe(df):
    """``plan_nodes`` of ``df``'s physical plan, planned with AQE off."""
    spark = df.sparkSession
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return list(plan_nodes(df._jdf.queryExecution().executedPlan()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def _pair_windows(res):
    """The windows of the detail plan partitioned on ``(rgd_id, sample_id)``
    (the pair dedup branch)."""
    return [
        n
        for n, _ in _nodes_without_aqe(res.new_sample_details)
        if node_class(n) == "WindowExec" and _window_keys(n) == ["rgd_id", "sample_id"]
    ]


def test_one_stored_id_matched_by_two_lines_keeps_the_first(spark, tmp_path):
    """The rs id probe ignores the chromosome, so two lines that differ only
    in it both match one stored variant: the pair window runs, and the
    chr4 line's row is stored (its chromosome sorts first)."""
    stored = {
        "rgd_id": 7, "ref_nuc": "A", "var_nuc": "G", "rs_id": "rs9", "variant_type": "snv",
        "species_type_key": 3, "chromosome": "4", "start_pos": 100, "end_pos": 101,
        "genic_status": "INTERGENIC", "map_key": 372,
    }
    res = _load_dir(
        spark,
        tmp_path,
        "rsmatch",
        ["S1"],
        [
            "chr5\t100\trs9\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:1,6:20",
            "chr4\t100\trs9\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:1,4:9",
        ],
        {"S1": 381},
        [stored],
    )
    try:
        assert res.n_new == 0 and res.existing_matched == 2
        assert _pair_windows(res)
        assert _details(res) == [(381, 4, 9)]
    finally:
        res.release()


def test_batch_where_no_pair_can_repeat_scans_its_lines_once(spark, vcf_dir, dims):
    """No line repeats, no variant sits on two lines and no file maps two
    columns to one sample: the detail plan reads the lines in exactly one
    file scan and has no ``(rgd_id, sample_id)`` window."""
    res = run(spark, vcf_dir, dims)
    try:
        nodes = _nodes_without_aqe(res.new_sample_details)
        scans = [n for n, _ in nodes if node_class(n) == "FileSourceScanExec"]
        assert len(scans) == 1
        assert not _pair_windows(res)
        assert len(res.new_sample_details.collect()) == 8
    finally:
        res.release()


def test_genes_aggregate_crosses_no_exchange(spark, vcf_dir, dims, tmp_path):
    """The genes side of the genic broadcast join is dimension-sized: its
    per-chromosome aggregate runs in one task, so no ``ShuffleExchangeExec``
    sits under the ``BroadcastExchangeExec`` that ships it."""
    from hrdp_variant_load_pipeline_spark.plans.load import parse_variants

    genes, _ = dims
    path = str(tmp_path / "genes")
    genes.repartition(3).write.parquet(path)
    cand = parse_variants(read_vcf(spark, vcf_dir), spark.read.parquet(path), 372)
    nodes = _nodes_without_aqe(cand)
    broadcasts = [n for n, _ in nodes if node_class(n) == "BroadcastExchangeExec"]
    assert len(broadcasts) == 1
    assert "ShuffleExchangeExec" not in {node_class(n) for n, _ in plan_nodes(broadcasts[0])}
    genic = {(r["chromosome"], r["start_pos"]) for r in cand.collect() if r["genic_status"] == "GENIC"}
    assert genic == {("1", 201), ("MT", 300)}
