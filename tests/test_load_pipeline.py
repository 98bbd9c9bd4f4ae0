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
    """The counters never re-execute the load plan: after the appends,
    load_metrics is one aggregate over the cached match, i.e. exactly one
    Spark job, counted under its own job group through the status tracker
    (the way the benchmark's spans count a layer's jobs)."""
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
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
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
