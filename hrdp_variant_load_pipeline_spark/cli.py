"""Command-line entry point — the reference's ``Manager.main`` dispatch
(``Manager.java:16-26``): ``--runLoad`` and ``--genicQc`` subcommands, a
config file instead of Spring XML.

Config (JSON; see sources/config.py):

.. code-block:: json

    {
      "map_key": 372,
      "input_dir": "/data/vcfs",
      "samples": {"SAMPLE_NAME": 101, "...": 102},
      "genes_path": "/stores/genes",
      "variant_store": "/stores/variants",
      "detail_store": "/stores/details",
      "catalogs": {"rgd": {"genes": "/stores/genes"},
                   "carpenovo": {"variant": "/stores/variants"}}
    }

``catalogs`` (optional) registers stores as external tables under named
catalog databases — the reference's dual RGD / "CarpeNovo" datasources
(``DAO.java:34-36``) as Spark namespaces. ``append_cluster_by``
(optional, ``{store_key: [cols]}``) range-clusters each load batch's
appended files so range-scoped readers (genic QC) footer-prune them
immediately; ``compact_sort_by`` applies the same clustering store-wide
at ``--compactStores`` time.

Stores are partitioned Parquet directories (created on first load); genes
is any Parquet with the GENE schema (or loaded via JDBC upstream).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from hrdp_variant_load_pipeline_spark import schemas
from hrdp_variant_load_pipeline_spark.operators.upsert import merge_update
from hrdp_variant_load_pipeline_spark.plans.genic_qc import genic_qc, scope_from_vcf
from hrdp_variant_load_pipeline_spark.plans.load import (
    first_free_rgd_id,
    load_metrics,
    run_load,
)
from hrdp_variant_load_pipeline_spark.runtime import release
from hrdp_variant_load_pipeline_spark.session import get_spark, tune_for_input
from hrdp_variant_load_pipeline_spark.sources.config import load_config, samples_dimension
from hrdp_variant_load_pipeline_spark.sources.store import (
    append_to_store,
    commit_store_version,
    compact_store,
    describe_store,
    read_parquet,
    read_store,
)
from hrdp_variant_load_pipeline_spark.sources.tables import register_catalog_namespaces
from hrdp_variant_load_pipeline_spark.sources.vcf import (
    read_restaged,
    read_vcf,
    restage_to_parquet,
)


def _vcf_input(spark: SparkSession, cfg: dict) -> DataFrame:
    """Parsed VCF rows for this run, restaged when ``restage_dir`` is set.

    Gzip text is unsplittable (1 task/file), so every pass over the raw
    drop is bounded by the largest file. With ``restage_dir`` in the
    config, the first run pays that scan once and writes columnar
    parquet; this run and every later one (re-loads, genic QC scoping)
    read the restage instead — column-pruned, but NOT more parallel: the
    restage holds one row group per input file, so a one-file drop (the
    deployed layout: one joint VCF with 146 sample columns) still reads
    as one task (measured on 4 cores with a 40,000-line drop: the 1-file
    re-load's detail stage ran 2 tasks, one of them 26.1 s). The restage
    is keyed by a ``_SUCCESS`` marker: delete the directory to force a
    re-stage after new files land.
    """
    dest = cfg.get("restage_dir")
    if not dest:
        return read_vcf(spark, cfg["input_dir"])
    # ONE probe for local and remote stores: the _SUCCESS marker through the
    # Hadoop FS API. Probing by "does a read succeed" accepted a partially
    # written restage from a crashed prior run as the full input (silently
    # dropping variants), and its bare except turned transient I/O errors
    # into a restage-overwrite; the marker is only committed on job success,
    # and real I/O errors now propagate.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(dest.rstrip("/") + "/_SUCCESS")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        restage_to_parquet(read_vcf(spark, cfg["input_dir"]), dest)
    return read_restaged(spark, dest)


def _register_catalogs(spark: SparkSession, cfg: dict) -> None:
    """Optional ``"catalogs"`` config key: ``{db: {table: parquet_path}}``.

    Mirrors the reference's dual datasources (default RGD + "CarpeNovo"
    variant DB, ``DAO.java:34-36``) as catalog databases of external
    tables, so deployment queries keep their qualified names
    (``carpenovo.variant``, ``rgd.genes``)."""
    if cfg.get("catalogs"):
        register_catalog_namespaces(spark, cfg["catalogs"])


#: default batch audit for --runLoad when the config enables constraints:
#: the invariants the reference's store schema enforces in Oracle
#: (NOT NULL columns, CHECK-style ranges, per-batch id uniqueness)
_LOAD_CONSTRAINTS = [
    {"type": "not_null", "col": "rgd_id"},
    {"type": "not_null", "col": "chromosome"},
    {"type": "in_range", "col": "start_pos", "min": 1},
    {"type": "predicate", "expr": "end_pos >= start_pos"},
    {"type": "unique", "cols": ["rgd_id"]},
]


def cmd_run_load(spark: SparkSession, cfg: dict) -> dict[str, int]:
    vcf = _vcf_input(spark, cfg)
    genes = read_parquet(spark, cfg["genes_path"])
    samples = samples_dimension(spark, cfg["samples"], cfg["map_key"])
    vstore = read_store(spark, cfg["variant_store"], schemas.VARIANT)
    dstore = read_store(spark, cfg["detail_store"], schemas.VARIANT_SAMPLE_DETAIL)

    res = run_load(
        vcf,
        genes,
        samples,
        vstore,
        dstore,
        map_key=cfg["map_key"],
        next_rgd_id=first_free_rgd_id(vstore, cfg["variant_store"]),
    )
    out: dict[str, int] = {}
    try:
        # optional batch audit BEFORE anything is appended — the stand-in for
        # the Oracle schema's own constraints. "check": report counts;
        # "strict": refuse the whole batch (one batch = one transaction, so
        # refusing before the first append leaves both stores untouched).
        mode = cfg.get("constraints")
        if mode in ("check", "strict"):
            from hrdp_variant_load_pipeline_spark.operators.quality import (
                check_constraints,
            )

            report = check_constraints(res.new_variants, _LOAD_CONSTRAINTS).collect()
            for r in report:
                out[f"constraint[{r['rule']}]"] = int(r["violations"])
            bad = [r for r in report if not r["ok"]]
            if bad and mode == "strict":
                raise ValueError(
                    "load refused (constraints=strict): "
                    + ", ".join(f"{r['rule']}={r['violations']}" for r in bad)
                )
        # optional per-store append clustering, e.g. {"append_cluster_by":
        # {"variant_store": ["chromosome", "start_pos"]}} — each batch's
        # files then cover disjoint key ranges and genic-QC's range-scoped
        # probes prune them via footer stats WITHOUT waiting for the next
        # --compactStores pass (which applies the same clustering store-wide
        # via compact_sort_by). Costs one batch-bounded range shuffle.
        clu = cfg.get("append_cluster_by") or {}
        variants_entered = 0
        if res.n_new:  # a batch of stored variants appends none
            variants_entered = append_to_store(
                res.new_variants, cfg["variant_store"], cluster_by=clu.get("variant_store")
            )
        sample_details_entered = append_to_store(
            res.new_sample_details,
            cfg["detail_store"],
            cluster_by=clu.get("detail_store"),
        )
        out.update(load_metrics(res, variants_entered, sample_details_entered))
    finally:
        res.release()
    return out


def cmd_compact(spark: SparkSession, cfg: dict) -> dict[str, int]:
    """Fold per-batch append files in both stores into one coalesced
    version each (``sources/store.py:compact_store``). The reference's
    cron cadence appends one file set per run; at 146-strain frequency the
    store's file count — not its bytes — starts to dominate scan startup.
    Safe to run any time: readers flip to the compacted version atomically.
    """
    out: dict[str, int] = {}
    for key in ("variant_store", "detail_store"):
        path = cfg.get(key)
        if not path:
            continue
        # optional clustering keys, e.g. {"compact_sort_by": {"variant_store":
        # ["chromosome", "start_pos"]}} — files then cover disjoint key
        # ranges and genic-QC's per-range probes skip via footer stats
        sort_by = (cfg.get("compact_sort_by") or {}).get(key)
        compacted = compact_store(spark, path, sort_by=sort_by)
        out[f"{key}_compacted"] = int(compacted is not None)
    return out


def cmd_genic_qc(spark: SparkSession, cfg: dict) -> dict[str, int]:
    genes = read_parquet(spark, cfg["genes_path"])
    store = read_store(spark, cfg["variant_store"], schemas.VARIANT)
    scope = None
    if cfg.get("input_dir"):
        scope = scope_from_vcf(_vcf_input(spark, cfg))
    # the updates stay cached through both the count and the repair write,
    # so the write re-scans neither the VCF nor the store and rebuilds no
    # broadcast. The count stays: n == 0 skips the write at the fixpoint.
    updates = genic_qc(store, genes, map_key=cfg["map_key"], scope=scope).persist()
    try:
        n = updates.count()
        if n:
            repaired = merge_update(store, updates, "rgd_id", ["genic_status"])
            commit_store_version(repaired, cfg["variant_store"])
    finally:
        release(updates)
    return {"genic_status_updated": n}


def cmd_run_corpus(spark: SparkSession, cfg: dict) -> dict:
    """--runCorpus: the one-call curation chain (plans/corpus_pipeline),
    configured under cfg["corpus"] so corpus runs and variant-load runs
    can share one config file without key collisions."""
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    res = run_corpus_pipeline(spark, cfg["corpus"])
    out = {f"corpus.{k}": v for k, v in res.counts.items()}
    if res.shard_dir:
        out["corpus.shard_dir"] = res.shard_dir
    if res.resumed_from:
        out["corpus.resumed_from"] = res.resumed_from
    for k, v in res.timings.items():
        out[f"corpus.sec.{k}"] = v
    if res.report is not None:
        for k, v in res.report.items():
            out[f"corpus.report.{k}"] = v
    # counts and shard output are materialized by now; drop the final
    # stage pin so a long-lived driver doesn't hold executor memory
    res.unpersist_all()
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="hrdp-variants-spark")
    parser.add_argument("--runLoad", action="store_true")
    parser.add_argument("--genicQc", action="store_true")
    parser.add_argument("--compactStores", action="store_true")
    parser.add_argument("--describeStores", action="store_true")
    parser.add_argument("--runCorpus", action="store_true")
    parser.add_argument("--config", required=True)
    args = parser.parse_args(argv)

    cfg = load_config(args.config)
    spark = get_spark("hrdp-variants-cli")
    try:
        # pick the runtime profile (AQE / shuffle sizing) from the input
        # corpus size, same decision the bench harness makes per dataset;
        # the run that writes the restage finds only the raw drop
        if args.runCorpus:
            inputs = [cfg.get("corpus", {}).get("input", {}).get("path")]
        else:
            inputs = [cfg.get("restage_dir"), cfg.get("input_dir")]
        profile_dir = next((d for d in inputs if d and os.path.isdir(d)), None)
        if profile_dir:
            tune_for_input(spark, profile_dir)
        _register_catalogs(spark, cfg)
        if args.runLoad:
            out = cmd_run_load(spark, cfg)
        elif args.genicQc:
            out = cmd_genic_qc(spark, cfg)
        elif args.compactStores:
            out = cmd_compact(spark, cfg)
        elif args.runCorpus:
            out = cmd_run_corpus(spark, cfg)
        elif args.describeStores:
            out = {}
            for key in ("variant_store", "detail_store"):
                if cfg.get(key):
                    for k, v in describe_store(spark, cfg[key]).items():
                        out[f"{key}.{k}"] = v
        else:
            parser.error(
                "one of --runLoad / --genicQc / --compactStores / "
                "--describeStores / --runCorpus is required"
            )
        for k, v in out.items():
            print(f"{k}: {v}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
