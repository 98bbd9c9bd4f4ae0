"""The ``vcf`` workload: the reference's ``--runLoad`` / ``--genicQc`` cycle.

Each iteration drives the functions the CLI calls, on a seeded 146-sample
gzip drop and empty stores:

1. ``cmd_run_load`` into the empty stores (write-heavy: id allocation, the
   x146 detail build, store appends; the dedup probe reads an empty store);
2. ``cmd_genic_qc``, the repair pass (rewrites the drifted genic flags);
3. ``cmd_run_load`` again over the same drop (read-heavy: the store dedup
   and anti-joins run over a populated store and must insert 0/0);
4. ``cmd_genic_qc`` after the re-load, the fixpoint pass (must update 0).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import vcfgen
from common import Bench, CheckFailed, expect

#: drop size: 1,000 lines x 146 samples in 4 gzip files (~1,100 variants,
#: ~112,000 detail rows); perfbench/README.md gives the sizes measured
N_LINES = 1000
N_FILES = 4

#: layers under the first cmd_run_load, the QC passes and the re-load
LOAD_LAYERS = (
    "sources.vcf.read_vcf",
    "sources.store.read_store",
    "plans.load.run_load",
    "operators.upsert.assign_surrogate_ids_scalable",
    "sources.store.append_to_store.variant_store",
    "sources.store.append_to_store.detail_store",
    "plans.load.load_metrics",
)
QC_LAYERS = (
    "plans.genic_qc.genic_qc",
    "operators.upsert.merge_update",
    "sources.store.commit_store_version",
)
RERUN_LAYERS = (
    "plans.load.run_load",
    "sources.store.append_to_store.detail_store",
    "plans.load.load_metrics",
)
COUNTS = (
    "plans.load.variants_entered",
    "plans.load.sample_details_entered",
    "plans.load.existing_matched",
    "plans.genic_qc.updates",
)


class VcfBench(Bench):
    name = "vcf"
    OPS = {
        "cmd_run_load": "cli.cmd_run_load",
        "cmd_genic_qc": "cli.cmd_genic_qc",
        "cmd_run_load_rerun": "cli.cmd_run_load.rerun",
    }

    def __init__(self, spark, seed: int, work: Path):
        from hrdp_variant_load_pipeline_spark import cli
        from hrdp_variant_load_pipeline_spark.sources.store import describe_store

        super().__init__(spark, seed, work)
        self.cli = cli
        self.describe_store = describe_store
        self.drop = None
        self.samples: dict[str, int] = {}
        self.profile: dict = {}

    # -- configuration and store inspection ---------------------------------

    def cfg(self, out: Path) -> dict:
        return {
            "map_key": vcfgen.MAP_KEY,
            "input_dir": str(self.drop.vcf_dir),
            "samples": self.samples,
            "genes_path": str(self.drop.genes_path),
            "variant_store": str(out / "variants"),
            "detail_store": str(out / "details"),
        }

    def stores(self, cfg: dict) -> dict:
        return {
            k: self.describe_store(self.spark, cfg[k]) for k in ("variant_store", "detail_store")
        }

    def variant_rows(self, cfg: dict) -> list[tuple[str, int, str]]:
        """(chromosome, start_pos, genic_status) of the stored variants, read
        from the store's current parquet files without Spark."""
        current = self.describe_store(self.spark, cfg["variant_store"])["current"]
        t = pq.read_table(
            current.removeprefix("file:"),
            columns=["chromosome", "start_pos", "genic_status"],
        )
        return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    def genic_mismatches(self, cfg: dict) -> int:
        return sum(
            status != ("GENIC" if self.drop.is_genic(c, p) else "INTERGENIC")
            for c, p, status in self.variant_rows(cfg)
        )

    def check_stores(self, cfg: dict) -> None:
        st = self.stores(cfg)
        rows = (st["variant_store"]["n_rows"], st["detail_store"]["n_rows"])
        expect("store rows", rows, (self.drop.variants, self.drop.details))

    # -- ops -------------------------------------------------------------------

    def load_into_empty(self, rec: dict, cfg: dict) -> None:
        def check(m):
            expect(
                "load",
                m,
                {
                    "variants_entered": self.drop.variants,
                    "sample_details_entered": self.drop.details,
                    "existing_matched": 0,
                    "end_pos_drift_detected": 0,
                },
            )
            self.check_stores(cfg)
            loci = sorted((c, p) for c, p, _s in self.variant_rows(cfg))
            expect("stored loci", loci, sorted(self.drop.loci))

        self.op(rec, "cmd_run_load", self.cli.cmd_run_load, self.spark, cfg, check=check)

    def qc_repair(self, rec: dict, cfg: dict) -> None:
        drifted = self.genic_mismatches(cfg)
        if drifted == 0:
            # the repair pass is the only caller of merge_update and
            # commit_store_version; a drop without drift would skip them
            raise CheckFailed("the loaded store has no genic drift to repair")

        def check(q):
            expect("genic QC repairs", q["genic_status_updated"], drifted)
            self.check_stores(cfg)
            expect("genic mismatches after QC", self.genic_mismatches(cfg), 0)

        self.op(rec, "cmd_genic_qc", self.cli.cmd_genic_qc, self.spark, cfg, check=check)

    def qc_fixpoint(self, rec: dict, cfg: dict) -> None:
        def check(q):
            expect("genic QC fixpoint", q["genic_status_updated"], 0)
            self.check_stores(cfg)

        self.op(rec, "cmd_genic_qc", self.cli.cmd_genic_qc, self.spark, cfg, check=check)

    def reload(self, rec: dict, cfg: dict) -> None:
        def check(m):
            expect(
                "idempotent re-load",
                m,
                {
                    "variants_entered": 0,
                    "sample_details_entered": 0,
                    "existing_matched": self.drop.variants,
                    "end_pos_drift_detected": 0,
                },
            )
            self.check_stores(cfg)

        self.op(rec, "cmd_run_load_rerun", self.cli.cmd_run_load, self.spark, cfg, check=check)

    # -- set-up, iterations and metrics ---------------------------------------

    def setup(self) -> None:
        from hrdp_variant_load_pipeline_spark.session import tune_for_input

        self.drop = vcfgen.write_drop(self.work / "drop", self.seed, N_LINES, N_FILES)
        self.samples = vcfgen.sample_config()
        # the profile cli.main picks for a --runLoad over this input
        self.profile = tune_for_input(self.spark, str(self.drop.vcf_dir))

    def run_iteration(self, rec: dict, out: Path) -> None:
        cfg = self.cfg(out)
        self.load_into_empty(rec, cfg)
        self.qc_repair(rec, cfg)
        self.reload(rec, cfg)
        self.qc_fixpoint(rec, cfg)
        rec["stores"] = self.stores(cfg)

    def outcome(self, rec: dict) -> dict:
        st = rec["stores"].values()
        return {
            "bytes": sum(s["n_bytes"] for s in st),
            "files": sum(s["n_files"] for s in st),
            "rows": rec["stores"]["detail_store"]["n_rows"],
        }

    @staticmethod
    def layers() -> list[str]:
        return [
            *(f"{n}_s" for n in LOAD_LAYERS + QC_LAYERS),
            "plans.load.load_metrics.jobs",
            *(f"rerun.{n}_s" for n in RERUN_LAYERS),
            "rerun.plans.load.load_metrics.jobs",
            *COUNTS,
            "sources.vcf.input_bytes",
        ]

    def layer_row(self, tracer, rec: dict) -> dict[str, float]:
        row: dict[str, float] = {}
        for key, names, prefix in (
            ("cmd_run_load", LOAD_LAYERS, ""),
            ("cmd_genic_qc", QC_LAYERS, ""),
            ("cmd_run_load_rerun", RERUN_LAYERS, "rerun."),
        ):
            for n in names:
                row[f"{prefix}{n}_s"] = self.layer_seconds(tracer, rec, key, n)
        row["plans.load.load_metrics.jobs"] = self.layer_jobs(
            tracer, rec, "cmd_run_load", "plans.load.load_metrics"
        )
        row["rerun.plans.load.load_metrics.jobs"] = self.layer_jobs(
            tracer, rec, "cmd_run_load_rerun", "plans.load.load_metrics"
        )
        outs = {o["op"]: o["out"] for o in rec["ops"] if o["op"] != "cmd_genic_qc"}
        row["plans.load.variants_entered"] = outs["cmd_run_load"]["variants_entered"]
        row["plans.load.sample_details_entered"] = outs["cmd_run_load"]["sample_details_entered"]
        row["plans.load.existing_matched"] = outs["cmd_run_load_rerun"]["existing_matched"]
        row["plans.genic_qc.updates"] = sum(
            o["out"]["genic_status_updated"] for o in rec["ops"] if o["op"] == "cmd_genic_qc"
        )
        row["sources.vcf.input_bytes"] = self.drop.input_bytes
        return row

    def install_spans(self, tracer) -> None:
        """Wrap the library functions ``cli`` calls, by their module attribute."""
        from hrdp_variant_load_pipeline_spark.operators import upsert

        cli = self.cli
        tracer.wrap(cli, "read_vcf", "sources.vcf.read_vcf")
        tracer.wrap(cli, "read_store", "sources.store.read_store")
        tracer.wrap(cli, "samples_dimension", "sources.config.samples_dimension")
        tracer.wrap(cli, "run_load", "plans.load.run_load")
        # run_load imports the allocator at call time, so the module attribute
        # is what it gets
        tracer.wrap(
            upsert, "assign_surrogate_ids_scalable", "operators.upsert.assign_surrogate_ids_scalable"
        )
        tracer.wrap(
            cli,
            "append_to_store",
            lambda df, root, *a, **k: "sources.store.append_to_store."
            + ("variant_store" if Path(root).name == "variants" else "detail_store"),
        )
        tracer.wrap(cli, "load_metrics", "plans.load.load_metrics")
        tracer.wrap(cli, "scope_from_vcf", "plans.genic_qc.scope_from_vcf")
        tracer.wrap(cli, "genic_qc", "plans.genic_qc.genic_qc")
        tracer.wrap(cli, "merge_update", "operators.upsert.merge_update")
        tracer.wrap(cli, "commit_store_version", "sources.store.commit_store_version")

    def provenance(self) -> dict:
        genes_bytes = sum(f.stat().st_size for f in self.drop.genes_path.iterdir())
        return {
            "tune_for_input_profile": self.profile,
            "input_bytes": {"vcf_drop": self.drop.input_bytes, "genes": genes_bytes},
            "drop": {
                "lines": N_LINES,
                "files": N_FILES,
                "samples": len(self.samples),
                "variants": self.drop.variants,
                "details": self.drop.details,
            },
        }
