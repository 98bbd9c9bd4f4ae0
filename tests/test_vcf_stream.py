"""Streaming VCF ingest: incremental arrival, idempotent overlap."""

from __future__ import annotations

import gzip
import os

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.streaming.vcf_stream import stream_vcf_loader

HEADER = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
LINE_A = "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\n"
LINE_B = "chr1\t200\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:4,6:10\n"
LINE_C = "chr2\t300\t.\tG\tA\t50\tPASS\t.\tGT:AD:DP\t1/1:0,9:9\n"


def _write(vdir, name, body):
    with gzip.open(os.path.join(vdir, name), "wt") as f:
        f.write(HEADER + body)


def test_streaming_incremental_idempotent(spark, tmp_path):
    vdir = str(tmp_path / "landing")
    os.makedirs(vdir)
    vstore = str(tmp_path / "variants")
    dstore = str(tmp_path / "details")
    ckpt = str(tmp_path / "ckpt")

    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame(
        [(1, "S1", "U", 380, 372, None, None, None)], schemas.SAMPLE
    )

    _write(vdir, "A_X_2020_v1_PASS.vcf.gz", LINE_A + LINE_B)
    query = stream_vcf_loader(
        spark, vdir, genes, samples, vstore, dstore, map_key=372, checkpoint_dir=ckpt
    )
    try:
        query.processAllAvailable()
        assert spark.read.parquet(vstore).count() == 2

        # second file overlaps one variant: only the new one lands
        _write(vdir, "B_Y_2020_v1_PASS.vcf.gz", LINE_B + LINE_C)
        query.processAllAvailable()
        stored = spark.read.parquet(vstore)
        assert stored.count() == 3
        assert stored.select("rgd_id").distinct().count() == 3
        chroms = {r["chromosome"] for r in stored.collect()}
        assert chroms == {"1", "2"}
    finally:
        query.stop()


def test_streaming_releases_caches_per_batch(spark, tmp_path):
    """Each micro-batch's run_load persists intermediates; the foreachBatch
    handler must release them, or a long-lived streaming session grows its
    cache without bound."""
    vdir = str(tmp_path / "landing")
    os.makedirs(vdir)
    vstore = str(tmp_path / "variants")
    dstore = str(tmp_path / "details")
    ckpt = str(tmp_path / "ckpt")

    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame(
        [(1, "S1", "U", 380, 372, None, None, None)], schemas.SAMPLE
    )

    def cached_rdd_ids():
        sc = spark.sparkContext
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = cached_rdd_ids()
    _write(vdir, "A_X_2020_v1_PASS.vcf.gz", LINE_A)
    query = stream_vcf_loader(
        spark, vdir, genes, samples, vstore, dstore, map_key=372, checkpoint_dir=ckpt
    )
    try:
        query.processAllAvailable()
        for i, line in enumerate((LINE_B, LINE_C)):
            _write(vdir, f"F{i}_X_2020_v1_PASS.vcf.gz", line)
            query.processAllAvailable()
    finally:
        query.stop()
    leaked = cached_rdd_ids() - before
    assert not leaked, f"micro-batches leaked persisted RDDs: {leaked}"


def test_streaming_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """With maxFilesPerTrigger=1, a bulk drop of N files is worked off as N
    bounded micro-batches (each re-entering the batch load plan), and the
    final store state equals the all-at-once result."""
    vdir = str(tmp_path / "landing")
    os.makedirs(vdir)
    vstore = str(tmp_path / "variants")
    dstore = str(tmp_path / "details")
    ckpt = str(tmp_path / "ckpt")

    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame(
        [(1, "S1", "U", 380, 372, None, None, None)], schemas.SAMPLE
    )

    # three files land BEFORE the stream starts — a backlog drop
    _write(vdir, "A_X_2020_v1_PASS.vcf.gz", LINE_A)
    _write(vdir, "B_Y_2020_v1_PASS.vcf.gz", LINE_B)
    _write(vdir, "C_Z_2020_v1_PASS.vcf.gz", LINE_C)

    batches = []
    query = stream_vcf_loader(
        spark, vdir, genes, samples, vstore, dstore, map_key=372,
        checkpoint_dir=ckpt,
        on_batch=lambda bid, res: batches.append(bid),
        max_files_per_trigger=1,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert len(batches) == 3, f"expected 3 bounded batches, got {batches}"
    stored = spark.read.parquet(vstore)
    assert stored.count() == 3
    assert stored.select("rgd_id").distinct().count() == 3


def test_streaming_multi_allelic_mix_indexes_depth_by_j(spark, tmp_path):
    """A later micro-batch whose multi-allelic line mixes an allele stored
    by an earlier batch (G) with a new one (T). The new allele comes first
    in the line's new++existing list, so T takes AD[1] and G AD[2]
    (HrdpVariants.java:478-479) — the batch's own variant append must not
    turn T into a stored allele before its details are built."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    vdir = str(tmp_path / "landing")
    os.makedirs(vdir)
    vstore = str(tmp_path / "variants")
    dstore = str(tmp_path / "details")
    ckpt = str(tmp_path / "ckpt")

    genes = spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE)
    samples = spark.createDataFrame(
        [(1, "S1", "U", 380, 372, None, None, None), (2, "S2", "U", 380, 372, None, None, None)],
        schemas.SAMPLE,
    )
    header = HEADER.replace("\tS1\n", "\tS1\tS2\n")

    def write(name, line):
        with gzip.open(os.path.join(vdir, name), "wt") as f:
            f.write(header + line)

    write("A_X_2020_v1_PASS.vcf.gz", "chr2\t300\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:3,7:10\t0/0:9,0:9\n")
    query = stream_vcf_loader(
        spark, vdir, genes, samples, vstore, dstore, map_key=372, checkpoint_dir=ckpt
    )
    try:
        query.processAllAvailable()
        write(
            "B_Y_2020_v1_PASS.vcf.gz",
            "chr2\t300\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:0,12,13:25\t0/2:5,9,4:18\n",
        )
        query.processAllAvailable()
    finally:
        query.stop()

    d = read_store(spark, dstore).join(read_store(spark, vstore), "rgd_id")
    freq = {
        (r["var_nuc"], r["sample_id"]): r["var_freq"]
        for r in d.select("var_nuc", "sample_id", "var_freq").collect()
    }
    assert freq == {("G", 1): 7, ("T", 1): 12, ("G", 2): 4, ("T", 2): 9}
    assert read_store(spark, vstore).filter(F.col("start_pos") == 300).count() == 2
