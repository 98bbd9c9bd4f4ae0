"""VCF restage round-trip and QC scope derivation."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.plans.genic_qc import genic_qc, scope_from_vcf
from hrdp_variant_load_pipeline_spark.plans.load import run_load
from hrdp_variant_load_pipeline_spark.sources.vcf import (
    read_restaged,
    read_vcf,
    restage_to_parquet,
)
from tests.conftest import spark_jobs_of

VCF = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr2\t900\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr1\t400\t.\tG\tC\t50\tPASS\t.\tGT:AD:DP\t1/1:0,9:9
chr2\t500\t.\tA\tATT\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr1\t700\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:0,5,4:9
chr1_scaffold\t5\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
"""


def _write_vcf(tmp_path):
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    return str(vdir)


def test_restage_roundtrip_equivalent_load(spark, tmp_path):
    vdir = _write_vcf(tmp_path)
    vcf = read_vcf(spark, vdir)
    dest = str(tmp_path / "staged")
    restage_to_parquet(vcf, dest)
    staged = read_restaged(spark, dest)

    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame([(1, "S1", "U", 380, 372, None, None, None)], schemas.SAMPLE)
    empty_v = spark.createDataFrame([], schemas.VARIANT)
    empty_d = spark.createDataFrame([], schemas.VARIANT_SAMPLE_DETAIL)

    a = run_load(vcf, genes, samples, empty_v, empty_d, map_key=372, next_rgd_id=1)
    b = run_load(staged, genes, samples, empty_v, empty_d, map_key=372, next_rgd_id=1)
    cols = ["chromosome", "start_pos", "ref_nuc", "var_nuc", "variant_type", "genic_status"]
    assert sorted(map(tuple, a.new_variants.select(*cols).collect())) == sorted(
        map(tuple, b.new_variants.select(*cols).collect())
    )
    assert a.new_sample_details.count() == b.new_sample_details.count()


def test_scope_from_vcf_and_scoped_qc(spark, tmp_path):
    vdir = _write_vcf(tmp_path)
    vcf = read_vcf(spark, vdir)
    scope = {
        (r["chromosome"], r["lo"], r["hi"]) for r in scope_from_vcf(vcf).collect()
    }
    # one range per line (GenicQc.java parses per line, no copy fan-out):
    # snv lines [pos, pos+1]; the A->ATT insertion normalizes to
    # [pos+1, pos+2]; the multi-allelic ALT line probes [pos, pos+1] raw
    assert scope == {
        ("1", 100, 101),
        ("1", 400, 401),
        ("2", 900, 901),
        ("2", 501, 502),
        ("1", 700, 701),
    }

    # rows the per-line visit set must treat differently:
    #  rgd 1: chr1 start=100 -> inside line range [100,101], drift caught
    #  rgd 2: chr5 -> chromosome never visited, WRONG status untouched
    #  rgd 3: chr1 start=120 -> inside the OLD per-chromosome span
    #         [100,401] but inside NO line's range: the reference QC never
    #         visits it, so scoped QC must leave its drift alone
    store = spark.createDataFrame(
        [
            (1, None, None, None, None, "snv", 3, "1", None, 100, 101, "INTERGENIC", 372),
            (2, None, None, None, None, "snv", 3, "5", None, 100, 101, "GENIC", 372),
            (3, None, None, None, None, "snv", 3, "1", None, 120, 121, "INTERGENIC", 372),
        ],
        schemas.VARIANT,
    )
    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    updates = genic_qc(store, genes, map_key=372, scope=scope_from_vcf(vcf))
    rows = {r["rgd_id"]: r["genic_status"] for r in updates.collect()}
    assert rows == {1: "GENIC"}  # visited drift repaired; 2 and 3 untouched


def test_read_restaged_takes_its_schema_from_footers(spark, tmp_path):
    """The restaged frame is built without a Spark job (the first
    partition's footer schema plus the declared ``source_file`` partition
    column), and its schema is the one ``spark.read.parquet`` infers."""
    dest = str(tmp_path / "staged")
    restage_to_parquet(read_vcf(spark, _write_vcf(tmp_path)), dest)
    staged, jobs = spark_jobs_of(spark, read_restaged, spark, dest)
    assert jobs == 0
    assert staged.schema == spark.read.parquet(dest).schema


def test_restage_without_data_lines_reads_as_empty_frame(spark, tmp_path):
    """A restage of a header-only drop writes no partition; it reads back
    as an empty frame, without a job, with the columns and types a
    non-empty restage has (the header metadata aside: there is none)."""
    vdir = tmp_path / "empty"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF.split("chr1")[0])
    dest = str(tmp_path / "staged")
    restage_to_parquet(read_vcf(spark, str(vdir)), dest)
    staged, jobs = spark_jobs_of(spark, read_restaged, spark, dest)
    assert jobs == 0
    full = str(tmp_path / "full")
    restage_to_parquet(read_vcf(spark, _write_vcf(tmp_path)), full)
    def fields(df):
        return [(f.name, f.dataType, f.nullable) for f in df.schema]

    assert fields(staged) == fields(read_restaged(spark, full))
    assert staged.collect() == []
