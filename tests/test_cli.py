"""CLI dispatch parity: --runLoad then --genicQc against parquet stores."""

from __future__ import annotations

import gzip
import json
import os

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.cli import cmd_genic_qc, cmd_run_load
from hrdp_variant_load_pipeline_spark.session import tune_for_input
from tests.conftest import spark_jobs_of, spark_work_of

VCF = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10
chr1\t400\t.\tC\tT\t50\tPASS\t.\tGT:AD:DP\t1/1:0,9:9
"""


def test_cli_load_then_qc(spark, tmp_path):
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    (tmp_path / "cfg.json").write_text(json.dumps(cfg))

    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2

    # re-run: idempotent
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0

    # corrupt a genic status, then QC repairs exactly that row
    store = spark.read.parquet(cfg["variant_store"])
    from pyspark.sql import functions as F

    flipped = store.withColumn(
        "genic_status",
        F.when(F.col("start_pos") == 100, "INTERGENIC").otherwise(F.col("genic_status")),
    )
    rows = flipped.collect()
    spark.createDataFrame(rows, store.schema).write.mode("overwrite").parquet(
        cfg["variant_store"]
    )
    q = cmd_genic_qc(spark, cfg)
    assert q["genic_status_updated"] == 1
    # the repair commits a new store VERSION (sources/store.py): read
    # through the resolver, as every engine component does
    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    fixed = read_store(spark, cfg["variant_store"])
    status = {r["start_pos"]: r["genic_status"] for r in fixed.collect()}
    assert status[100] == "GENIC" and status[400] == "INTERGENIC"

    # QC is now a fixpoint
    assert cmd_genic_qc(spark, cfg)["genic_status_updated"] == 0
    assert os.path.exists(str(tmp_path / "cfg.json"))


INC_HEADER = (
    "##fileformat=VCFv4.2\n"
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
)
INC_CHR1 = "chr1\t100\trs1\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/1:5,5:10\t0/1:4,6:10\n"


def test_cli_incremental_load_counts_and_indexes_against_prior_store(spark, tmp_path):
    """A second drop whose multi-allelic line mixes a stored allele with a
    new one. The reference probes the store once per line and inserts
    against that state (HrdpVariants.java:116-133, DAO.java:68-119): the
    new allele T comes first in the line's new++existing list, so it takes
    AD[1] and the stored G takes AD[2]. The variant append must not make
    the rest of the load see T as already stored."""
    from pyspark.sql import functions as F

    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "samples": {"S1": 1, "S2": 2},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }

    def drop(name, body):
        vdir = tmp_path / name
        vdir.mkdir()
        with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
            f.write(INC_HEADER + body)
        return {**cfg, "input_dir": str(vdir)}

    m1 = cmd_run_load(
        spark,
        drop(
            "drop1",
            INC_CHR1 + "chrM\t300\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t0/0:10,0:10\t0/1:3,7:10\n",
        ),
    )
    assert (m1["variants_entered"], m1["sample_details_entered"]) == (2, 3)

    m2 = cmd_run_load(
        spark,
        drop(
            "drop2",
            INC_CHR1
            + "chrM\t300\t.\tA\tG,T\t50\tPASS\t.\tGT:AD:DP\t1/2:0,12,13:25\t0/1:5,9,0:14\n"
            + "chr1\t500\t.\tT\tC\t50\tPASS\t.\tGT:AD:DP\t0/1:4,6:10\t1/1:0,8:8\n",
        ),
    )
    assert m2["variants_entered"] == 2
    assert m2["existing_matched"] == 2
    assert m2["sample_details_entered"] == 5

    v = read_store(spark, cfg["variant_store"]).filter(F.col("start_pos") == 300)
    d = read_store(spark, cfg["detail_store"])
    freq = {
        (r["var_nuc"], r["sample_id"]): r["var_freq"]
        for r in d.join(v, "rgd_id").select("var_nuc", "sample_id", "var_freq").collect()
    }
    assert freq == {("G", 2): 7, ("G", 1): 13, ("T", 1): 12, ("T", 2): 9}


def test_cli_restage_first_load(spark, tmp_path):
    """With restage_dir set, the first load writes splittable parquet and
    later loads read it instead of re-scanning gzip (deleting the raw
    input between runs proves which source is scanned)."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "restage_dir": str(tmp_path / "restage"),
    }

    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2
    assert os.path.exists(os.path.join(cfg["restage_dir"], "_SUCCESS"))

    # remove the raw gzip input: a re-run must come from the restage only
    import shutil

    shutil.rmtree(vdir)
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0

    # genic QC scoping also reads the restage, not input_dir
    q = cmd_genic_qc(spark, cfg)
    assert q["genic_status_updated"] == 0


def test_cli_header_only_drop_loads_nothing(spark, tmp_path):
    """A drop whose files hold a header and no data line loads 0 variants
    and 0 details and QC-updates 0 rows, from the gzip text and from its
    restage alike (a restage without data lines has no partition)."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF.split("chr1")[0])
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    for tag, extra in (("gz", {}), ("rs", {"restage_dir": str(tmp_path / "restage")})):
        cfg = {
            "map_key": 372,
            "input_dir": str(vdir),
            "samples": {"S1": 1},
            "genes_path": genes_path,
            "variant_store": str(tmp_path / f"variants_{tag}"),
            "detail_store": str(tmp_path / f"details_{tag}"),
            **extra,
        }
        m = cmd_run_load(spark, cfg)
        assert (m["variants_entered"], m["sample_details_entered"]) == (0, 0), tag
        assert cmd_genic_qc(spark, cfg)["genic_status_updated"] == 0, tag


def test_cli_dual_catalog_namespaces(spark, tmp_path):
    """The reference talks to two Oracle datasources (default RGD +
    "CarpeNovo" variants, DAO.java:34-36); the engine maps both into the
    session catalog as databases of external tables, so a migrated
    deployment keeps its qualified names end-to-end."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "catalogs": {
            "rgd_t": {"genes": genes_path},
            "carpenovo_t": {
                "variant": str(tmp_path / "variants"),
                "variant_sample_detail": str(tmp_path / "details"),
            },
        },
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2

    from hrdp_variant_load_pipeline_spark.cli import _register_catalogs

    _register_catalogs(spark, cfg)
    try:
        # dims and the variant store answer through their own namespaces
        assert spark.table("rgd_t.genes").count() == 1
        assert spark.table("carpenovo_t.variant").count() == 2
        joined = spark.sql(
            """SELECT count(*) AS n
               FROM carpenovo_t.variant v JOIN rgd_t.genes g
                 ON v.chromosome = g.chromosome
                AND v.start_pos BETWEEN g.start_pos AND g.stop_pos"""
        ).collect()[0]["n"]
        assert joined == 1  # pos 100 falls in [50, 150]; pos 400 does not
        # re-registration is a no-op, not an error
        _register_catalogs(spark, cfg)
    finally:
        for db in ("rgd_t", "carpenovo_t"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cli_compact_stores_preserves_load_semantics(spark, tmp_path):
    """--compactStores folds append-accreted files into one version; a
    re-load after compaction still dedups against the store (0 new), and
    genic QC still reads it."""
    import gzip as _gzip

    from hrdp_variant_load_pipeline_spark.cli import cmd_compact
    from hrdp_variant_load_pipeline_spark.sources.store import (
        read_store,
        resolve_store,
    )

    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with _gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2

    out = cmd_compact(spark, cfg)
    assert out == {"variant_store_compacted": 1, "detail_store_compacted": 1}
    cur = resolve_store(spark, cfg["variant_store"])
    assert cur is not None and "/v_" in cur
    assert read_store(spark, cfg["variant_store"]).count() == 2

    # idempotent re-load against the compacted store
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0 and m2["sample_details_entered"] == 0
    # QC fixpoint on the compacted store
    assert cmd_genic_qc(spark, cfg)["genic_status_updated"] == 0


def test_cli_load_constraints_check_and_strict(spark, tmp_path):
    """constraints="check" audits the batch before any append and reports
    per-rule counts; a clean batch loads normally in "strict" mode too."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame(
        [(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE
    ).write.parquet(genes_path)
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "constraints": "strict",
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2
    assert m["constraint[not_null(rgd_id)]"] == 0
    assert m["constraint[unique(rgd_id)]"] == 0
    # idempotent re-run under strict: empty batch, still clean
    m2 = cmd_run_load(spark, cfg)
    assert m2["variants_entered"] == 0


def test_cli_strict_constraints_refuse_bad_batch(spark, tmp_path):
    """A violating batch must abort BEFORE the first append — both stores
    stay untouched (one batch = one transaction)."""
    import pytest

    from hrdp_variant_load_pipeline_spark.cli import _LOAD_CONSTRAINTS

    class FakeRes:
        def __init__(self, df):
            self.new_variants = df
            self.new_sample_details = df
            self.released = False

        def release(self):
            self.released = True

    # drive the same code path with a frame violating unique(rgd_id)
    from hrdp_variant_load_pipeline_spark.operators.quality import (
        check_constraints,
    )

    bad = spark.createDataFrame(
        [(1, "1", 10, 20), (1, "1", 10, 20)],
        "rgd_id long, chromosome string, start_pos long, end_pos long",
    )
    report = check_constraints(bad, _LOAD_CONSTRAINTS).collect()
    viol = {r["rule"]: r["violations"] for r in report if not r["ok"]}
    assert viol == {"unique(rgd_id)": 1}


def test_cli_load_append_cluster_by(spark, tmp_path):
    """config append_cluster_by: the load's appended variant files cover
    disjoint (chromosome, start_pos) ranges, so genic-QC's range-scoped
    probes can footer-prune fresh batches without waiting for
    --compactStores; load semantics (counts, idempotence) unchanged."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame(
        [(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE
    ).write.parquet(genes_path)
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
        "append_cluster_by": {
            "variant_store": ["chromosome", "start_pos"],
            "detail_store": ["rgd_id"],
        },
    }
    m = cmd_run_load(spark, cfg)
    assert m["variants_entered"] == 2 and m["sample_details_entered"] == 2
    assert cmd_run_load(spark, cfg)["variants_entered"] == 0  # idempotent

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(cfg["variant_store"])
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(F.struct("chromosome", "start_pos")).alias("lo"),
            F.max(F.struct("chromosome", "start_pos")).alias("hi"),
        )
        .collect()
    )
    ranges = sorted([((r.lo[0], r.lo[1]), (r.hi[0], r.hi[1])) for r in rows])
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= lo, ranges


def test_cli_run_corpus_chain(spark, tmp_path):
    from hrdp_variant_load_pipeline_spark.cli import cmd_run_corpus

    src = tmp_path / "jsonl"
    src.mkdir()
    rows = [
        {"doc_id": i,
         "text": f"the quick brown fox number {i} jumps over the lazy dog "
                 f"and the crew of document {i} went to town with the gang",
         "lang": "en"}
        for i in range(8)
    ] + [{"doc_id": 100, "text": "the quick brown fox number 0 jumps over the lazy dog "
                                 "and the crew of document 0 went to town with the gang",
          "lang": "en"}]  # exact dup of doc 0
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\nnot json\n"
    )
    out_dir = str(tmp_path / "shards")
    cfg = {
        "corpus": {
            "input": {"format": "jsonl", "path": str(src)},
            "gates": {"gopher": {"min_words": 5, "min_stopword_hits": 1}},
            "dedup": {"exact": True},
            "chunk": {"chunk_tokens": 8, "overlap_tokens": 2},
            "pack": {"max_tokens": 32},
            "output": {"dir": out_dir, "n_shards": 2},
        }
    }
    m = cmd_run_corpus(spark, cfg)
    assert m["corpus.quarantined"] == 1
    assert m["corpus.ingested"] == 9
    assert m["corpus.exact_dedup"] == 8  # the dup collapsed
    assert m["corpus.chunks_packed"] > 0
    assert m["corpus.shard_dir"] == out_dir
    assert spark.read.parquet(out_dir).count() == m["corpus.chunks_packed"]


def test_cli_run_corpus_warc_kill_resume_e2e(spark, tmp_path):
    """The curation chain as a product, through the CLI: one --runCorpus
    over a fixture crawl (WARC -> gates -> dedup -> LM gate -> densify ->
    shards+manifest), SIGKILLed mid-chain after the first checkpoint
    commit, then resumed by rerunning the SAME command — the resumed run
    must report corpus.resumed_from, finish the chain, and produce shards
    identical to an uninterrupted reference run."""
    import gzip as _gzip
    import signal
    import subprocess
    import sys
    import time

    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()

    def rec(body, url):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        h = [b"WARC/1.0", b"WARC-Type: response",
             b"WARC-Target-URI: " + url.encode(),
             b"Content-Type: application/http;msgtype=response",
             b"Content-Length: " + str(len(http)).encode()]
        return b"\r\n".join(h) + b"\r\n\r\n" + http + b"\r\n\r\n"

    # 300 pages + planted exact dups so every stage has real work
    def page(i):
        words = " ".join(
            f"word{(i * 7 + j) % 97} the of and to in" for j in range(12)
        )
        return rec(
            f"<html><body>page {i} says {words}</body></html>".encode(),
            f"http://crawl.example/{i}",
        )

    blob = b"".join(page(i) for i in range(300))
    dup = b"".join(page(i) for i in range(10))  # exact dups of 0..9
    (warc_dir / "a.warc.gz").write_bytes(_gzip.compress(blob))
    (warc_dir / "b.warc.gz").write_bytes(_gzip.compress(dup))

    def cfg_for(tag):
        return {
            "corpus": {
                "input": {"format": "warc", "path": str(warc_dir)},
                "normalize": False,
                "gates": {"gopher": {"min_words": 5, "min_stopword_hits": 1}},
                "dedup": {"exact": True, "fuzzy": {"threshold": 0.9}},
                "lm_gate": {"min_count": 2},
                "chunk": {"chunk_tokens": 16, "overlap_tokens": 4,
                          "densify_ids": True},
                "pack": {"max_tokens": 64},
                "output": {"dir": str(tmp_path / f"shards_{tag}"),
                           "n_shards": 2},
                "checkpoint": {"dir": str(tmp_path / f"ck_{tag}")},
            }
        }

    import json as _json

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(_json.dumps(cfg_for("cli")))
    cmd = [
        sys.executable, "-m", "hrdp_variant_load_pipeline_spark.cli",
        "--runCorpus", "--config", str(cfg_path),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    # run 1: kill as soon as the first stage commits its marker. stderr
    # goes to a file so a flake under a loaded host (this test spawns two
    # extra JVMs beside the suite's) is diagnosable from the report.
    ck = tmp_path / "ck_cli"
    err1_path = tmp_path / "run1.stderr"
    with open(err1_path, "wb") as err1:
        p1 = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                              stderr=err1, cwd="/root/repo")
        deadline = time.time() + 300
        killed = False
        while time.time() < deadline and p1.poll() is None:
            if ck.is_dir() and any(ck.glob("*/_STAGE_COMMITTED.json")):
                p1.send_signal(signal.SIGKILL)
                killed = True
                break
            time.sleep(0.2)
        p1.wait(timeout=60)
    assert killed, (
        "chain finished (rc=%s) or timed out before the kill window — "
        "grow the fixture; run-1 stderr tail: %s"
        % (p1.returncode, err1_path.read_bytes()[-2000:])
    )
    assert p1.returncode == -signal.SIGKILL

    # run 2: SAME command resumes and completes
    out2 = subprocess.run(cmd, env=env, capture_output=True, text=True,
                          timeout=600, cwd="/root/repo")
    assert out2.returncode == 0, out2.stderr[-2000:]
    kv = dict(
        line.split(": ", 1) for line in out2.stdout.splitlines() if ": " in line
    )
    assert "corpus.resumed_from" in kv, out2.stdout
    assert int(kv["corpus.chunks_packed"]) > 0
    assert kv["corpus.shard_dir"] == str(tmp_path / "shards_cli")

    # shards + manifest on disk, lossless vs the reported count
    shards = spark.read.parquet(str(tmp_path / "shards_cli"))
    assert shards.count() == int(kv["corpus.chunks_packed"])
    man = _json.loads((tmp_path / "shards_cli" / "_MANIFEST.json").read_text())
    assert man["counts"]["chunks_packed"] == int(kv["corpus.chunks_packed"])
    assert man["files"]

    # identical to an uninterrupted in-process reference run
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    ref = run_corpus_pipeline(spark, cfg_for("ref")["corpus"])
    ref_chunks = sorted(
        r["chunk_text"]
        for r in spark.read.parquet(str(tmp_path / "shards_ref"))
        .select("chunk_text").collect()
    )
    got_chunks = sorted(r["chunk_text"] for r in shards.select("chunk_text").collect())
    assert got_chunks == ref_chunks
    ref.unpersist_all()


def test_cli_146_sample_production_shape(spark, tmp_path):
    """The reference's deployed workload shape (AppConfigure.xml:10-159):
    joint VCFs with 146 sample columns plus an unknown column the load must
    drop, written by the benchmark's seeded generator
    (``perfbench/vcfgen.py``), which counts what a correct load reports
    while it writes the lines. Through the real CLI functions: a gzip load,
    a restaged load into fresh stores, an idempotent re-load, a genic QC
    repair and a QC fixpoint."""
    import sys
    from pathlib import Path

    from hrdp_variant_load_pipeline_spark.sources.store import read_store

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    import vcfgen

    drop = vcfgen.write_drop(tmp_path / "drop", seed=5, n_lines=120, n_files=2)
    # the x146 fan-out: about 146 detail rows per line
    assert drop.details > 120 * 80

    def cfg_for(tag, **extra):
        return {
            "map_key": vcfgen.MAP_KEY,
            "input_dir": str(drop.vcf_dir),
            "samples": vcfgen.sample_config(),
            "genes_path": str(drop.genes_path),
            "variant_store": str(tmp_path / f"variants_{tag}"),
            "detail_store": str(tmp_path / f"details_{tag}"),
            **extra,
        }

    fresh = {
        "variants_entered": drop.variants,
        "sample_details_entered": drop.details,
        "existing_matched": 0,
        "end_pos_drift_detected": 0,
    }
    assert cmd_run_load(spark, cfg_for("gz")) == fresh
    cfg = cfg_for("rs", restage_dir=str(tmp_path / "restage"))
    assert cmd_run_load(spark, cfg) == fresh
    assert cmd_run_load(spark, cfg) == {
        "variants_entered": 0,
        "sample_details_entered": 0,
        "existing_matched": drop.variants,
        "end_pos_drift_detected": 0,
    }
    stored = read_store(spark, cfg["variant_store"]).collect()
    assert sorted((r["chromosome"], r["start_pos"]) for r in stored) == sorted(drop.loci)
    assert read_store(spark, cfg["detail_store"]).count() == drop.details

    # the first QC pass repairs the rows whose stored status differs from
    # the point probe: the loader range-probes multi-allelic lines, a
    # faithful reference quirk; the second pass is a fixpoint
    def truth(r):
        return "GENIC" if drop.is_genic(r["chromosome"], r["start_pos"]) else "INTERGENIC"

    drifted = sum(r["genic_status"] != truth(r) for r in stored)
    assert drifted > 0
    assert cmd_genic_qc(spark, cfg) == {"genic_status_updated": drifted}
    assert cmd_genic_qc(spark, cfg) == {"genic_status_updated": 0}
    repaired = read_store(spark, cfg["variant_store"]).collect()
    assert all(r["genic_status"] == truth(r) for r in repaired)


def test_cli_load_and_qc_job_counts(spark, tmp_path):
    """The load and QC cycle runs only the jobs its work needs: no schema
    inference (footer schemas), no max-id aggregate (footer statistics),
    one id-allocator collect that also returns the counters (no
    ``load_metrics`` job), and no variant append on a re-load that finds
    every variant stored. Counted under the profile ``cli.main``
    picks for this input (AQE off); AQE would split stages into jobs."""
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    with gzip.open(vdir / "BN_X_2020_v1_PASS.vcf.gz", "wt") as f:
        f.write(VCF)
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 150, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {"S1": 1},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    # a gene moved from position 100 to 400: the QC repair flips both variants
    moved = str(tmp_path / "genes2")
    spark.createDataFrame([(1, "1", 300, 450, "ACTIVE", 372)], schemas.GENE).write.parquet(
        moved
    )
    qcfg = {**cfg, "genes_path": moved}
    # the profile cli.main picks for this input, restored afterwards
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    tune_for_input(spark, str(vdir))
    try:
        m, fresh = spark_jobs_of(spark, cmd_run_load, spark, cfg)
        assert (m["variants_entered"], m["sample_details_entered"]) == (2, 2)
        m, reload = spark_jobs_of(spark, cmd_run_load, spark, cfg)
        assert (m["variants_entered"], m["existing_matched"]) == (0, 2)
        q, repair = spark_jobs_of(spark, cmd_genic_qc, spark, qcfg)
        assert q["genic_status_updated"] == 2
        q, fixpoint = spark_jobs_of(spark, cmd_genic_qc, spark, qcfg)
        assert q["genic_status_updated"] == 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    jobs = {"load": fresh, "reload": reload, "repair": repair, "fixpoint": fixpoint}
    budget = {"load": 7, "reload": 6, "repair": 5, "fixpoint": 3}
    assert all(jobs[k] <= budget[k] for k in budget), jobs


def test_cli_load_shuffles_each_line_once(spark, tmp_path):
    """The x146 detail build sends each line's sample columns through at
    most one exchange, as one string: a fresh load and a re-load of a
    146-sample drop shuffle a budget measured from that design, which the
    former per-cell exchanges (a DP window on the line key, then a pair
    window) exceed several times over. No pair of this drop can repeat, so
    the re-load reads the drop's text once. Counted under the profile
    ``cli.main`` picks for this input."""
    import random

    rng = random.Random(7)
    names = [f"STR{i:03d}" for i in range(146)]
    vdir = tmp_path / "vcfs"
    vdir.mkdir()
    fixed = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"
    for part in range(2):
        with gzip.open(vdir / f"HRDP_part{part}_PASS.vcf.gz", "wt") as f:
            f.write("##fileformat=VCFv4.2\n" + "\t".join([fixed, *names, "UNKNOWN"]) + "\n")
            for i in range(40):
                cells = [
                    rng.choice(["0/0:.:.", "./.:.:."])
                    if rng.random() < 0.25
                    else f"0/1:2,{1 + rng.randrange(9)}:{3 + rng.randrange(20)}"
                    for _ in range(147)
                ]
                line = f"chr{1 + part}\t{1000 + 10 * i}\t.\tA\tG\t50\tPASS\t.\tGT:AD:DP\t"
                f.write(line + "\t".join(cells) + "\n")
    genes_path = str(tmp_path / "genes")
    spark.createDataFrame([(1, "1", 50, 1200, "ACTIVE", 372)], schemas.GENE).write.parquet(
        genes_path
    )
    cfg = {
        "map_key": 372,
        "input_dir": str(vdir),
        "samples": {n: 380000 + i for i, n in enumerate(names)},
        "genes_path": genes_path,
        "variant_store": str(tmp_path / "variants"),
        "detail_store": str(tmp_path / "details"),
    }
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    tune_for_input(spark, str(vdir))
    try:
        m, fresh = spark_work_of(spark, cmd_run_load, spark, cfg)
        assert m["variants_entered"] == 80
        m, reload = spark_work_of(spark, cmd_run_load, spark, cfg)
        assert (m["existing_matched"], m["sample_details_entered"]) == (80, 0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # measured on 4 cores: 24,658 and 12,558 bytes; the per-cell plan
    # wrote 409,447 and 182,632
    assert fresh["shuffle_bytes"] <= 120_000, fresh
    assert reload["shuffle_bytes"] <= 40_000, reload
    # measured on 4 cores: 123,548 bytes read, the drop's 19,385 bytes of
    # gzip text among them once; a second read of the text (142,933)
    # exceeds the budget, as the two-branch plan's 192,970 did
    assert reload["scan_bytes"] <= 135_000, reload


def test_first_restaging_run_is_profiled_from_the_raw_drop(tmp_path, monkeypatch):
    """The run that writes the restage cannot size its profile from it (it
    does not exist yet): ``main`` sizes it from the raw drop instead, and a
    later run from the restage."""
    from hrdp_variant_load_pipeline_spark import cli

    class _Session:
        def stop(self):
            pass

    sized = []
    monkeypatch.setattr(cli, "get_spark", lambda name: _Session())
    monkeypatch.setattr(cli, "tune_for_input", lambda spark, d: sized.append(d))
    monkeypatch.setattr(cli, "cmd_run_load", lambda spark, cfg: {})
    drop, restage = tmp_path / "vcfs", tmp_path / "restage"
    drop.mkdir()
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(
        json.dumps({"input_dir": str(drop), "restage_dir": str(restage)})
    )

    assert cli.main(["--runLoad", "--config", str(cfg_path)]) == 0
    restage.mkdir()
    assert cli.main(["--runLoad", "--config", str(cfg_path)]) == 0
    assert sized == [str(drop), str(restage)]
