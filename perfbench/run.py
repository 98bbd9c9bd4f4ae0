"""Benchmark of the variant-load engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload vcf --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* ``vcf`` (perfbench/vcf.py): a seeded 146-sample gzip drop through
  ``cmd_run_load`` into empty stores, the ``cmd_genic_qc`` repair and
  fixpoint passes, an idempotent re-load and one more QC pass.
* ``corpus_query`` (perfbench/corpus.py): the curation chain on a seeded
  corpus, then a battery of registry queries checked against their DuckDB
  oracles.

One process, one client, ops issued back to back on ``local[nproc]``.
Set-up (imports, session start, input generation, and the DuckDB oracles)
is timed as ``setup_s``; iterations then repeat until ``--seconds`` have
passed, at least once, and each metric is the median over iterations.
Every op's output is checked; an op that raises or fails its check counts
as failed. The end-to-end metrics count the Spark work the ops did, which
does not depend on how fast the shared host runs; each op's wall and CPU
time are printed beside them. ``--trace 1`` runs the same iterations with
spans around the library calls (perfbench/spans.py), prints the per-layer
metrics instead of the end-to-end ones, and writes the spans under
``.perfbench_work/traces``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {"value", "unit"}}``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import spans
from corpus import CorpusBench
from vcf import VcfBench

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"

WORKLOADS = {b.name: b for b in (VcfBench, CorpusBench)}
#: get_spark's default 16g heap can exceed the host's RAM; the inputs need
#: far less. The heap starts at this size too: a heap that grows on demand
#: grows by the collector's timing, which moved peak_rss_mb by up to 30%
#: between runs of the same code
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> dict[str, str]:
    """Pin what the session reads from the environment, and keep every
    scratch file (Spark local dirs, JVM and Python temp files) in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher included, keeps its temp and
        # perf-data files out of the system temp directory
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = str(tmp)
    return env


def rss_peak_mib(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc, in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(recs: list[dict], setup_s: float, rss: float) -> dict:
    def med(f):
        return statistics.median(f(r) for r in recs)

    def work(k):
        return med(lambda r: sum(o["work"][k] for o in r["ops"]))

    return {
        "setup_s": (setup_s, "s"),
        "spark_jobs": (work("jobs"), "count"),
        "spark_tasks": (work("tasks"), "count"),
        "scan_bytes": (work("scan_bytes"), "B"),
        "shuffle_bytes": (work("shuffle_bytes"), "B"),
        "store_bytes_per_row": (med(lambda r: r["bytes"] / r["rows"]), "B/row"),
        "store_files": (med(lambda r: r["files"]), "count"),
        "peak_rss_mb": (rss, "MiB"),
    }


def op_times(recs: list[dict]) -> None:
    """Print each op's wall and CPU time (medians over iterations). They are
    not bounded metrics: see perfbench/README.md, "Why no time metric is
    bounded"."""
    keys = dict.fromkeys(o["op"] for o in recs[0]["ops"])
    for k in keys:
        for field in ("s", "cpu_s"):
            v = statistics.median(sum(o[field] for o in r["ops"] if o["op"] == k) for r in recs)
            print(f"time {k} {'cpu' if field == 'cpu_s' else 'wall'} = {v:.6g} s")


def per_layer_names() -> list[str]:
    """Every per-layer metric of every workload, in a fixed order."""
    names = [n for b in WORKLOADS.values() for n in b.layer_names()]
    return [*dict.fromkeys(names), "jvm.old_gen_peak_mb", "trace.run_s", "trace.spans"]


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    if metric.endswith("_share"):
        return "ratio"
    if metric.endswith("_mb"):
        return "MiB"
    return "count"


def old_gen_peak_mib(spark) -> float:
    """Peak use of the JVM's old generation, in MiB: the heap that outlived
    young collections. With the heap at full size from the start, heap the
    program holds shows here rather than in the process's RSS."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getName().endswith("Old Gen")
    ) / 2**20


def provenance(spark, bench, env: dict, load1: float) -> dict:
    from hrdp_variant_load_pipeline_spark.session import MEDIUM_INPUT_BYTES

    bcast = int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
    own = bench.provenance()
    inputs = own["input_bytes"]
    return {
        "nproc": os.cpu_count(),
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        "spark": spark.version,
        "python": platform.python_version(),
        "loadavg_1m_before": load1,
        **own,
        "below_profile_switch_bytes": sum(inputs.values()) < MEDIUM_INPUT_BYTES,
        "below_broadcast_threshold_bytes": {k: v < bcast for k, v in inputs.items()},
    }


def run(args: argparse.Namespace, work: Path, env: dict, t_start: float, load1: float) -> int:
    sys.path.insert(0, str(ROOT))
    from hrdp_variant_load_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        },
    )
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        bench = WORKLOADS[args.workload](spark, args.seed, work)
        bench.setup()
        setup_s = time.perf_counter() - t_start
        prov = provenance(spark, bench, env, load1)
        print("provenance " + json.dumps(prov), flush=True)

        tracer = None
        if args.trace:
            tracer = bench.tracer = spans.Tracer(spark, "measure")
            bench.install_spans(tracer)
        recs = []
        t0 = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t0 < args.seconds:
            rec = bench.iteration(i)
            if rec is not None:
                recs.append(rec)
            i += 1
        if tracer:
            tracer.restore()
        rss = rss_peak_mib("self") + rss_peak_mib(jvm_pid)
        old_gen = old_gen_peak_mib(spark)
    finally:
        stop_spark(spark)

    if not recs:
        metrics = {}
    elif tracer:
        got = {**bench.per_layer(recs, tracer), "jvm.old_gen_peak_mb": old_gen}
        metrics = {k: (got.get(k, 0), unit_of(k)) for k in per_layer_names()}
        tracer.dump(
            WORK_ROOT / "traces" / f"{args.workload}-seed{args.seed}.json",
            {"provenance": prov, "iterations": len(recs)},
        )
    else:
        op_times(recs)
        metrics = end_to_end(recs, setup_s, rss)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_ratio = {bench.failed / bench.attempted:.6g} ratio")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    load1 = os.getloadavg()[0]
    work = WORK_ROOT / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    env = pin_environment(work)
    try:
        return run(args, work, env, t_start, load1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
