"""What every workload shares: checked, timed ops and their per-op metrics."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import spans


class CheckFailed(Exception):
    """An op returned, but its output is not what the input implies."""


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got}, expected {want}")


def release_persisted(spark) -> None:
    """Drop every cached frame and persisted RDD the driver holds."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    """CPU time (user + system, reaped children included) of the process
    ``pid`` and every process below it, in seconds."""
    total = 0
    todo = [pid]
    while todo:
        pid = todo.pop()
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
            tasks = list(Path(f"/proc/{pid}/task").iterdir())
        except (FileNotFoundError, ProcessLookupError):  # it has ended
            continue
        # fields after the parenthesised command: utime is the 12th
        total += sum(map(int, stat.rpartition(")")[2].split()[11:15]))
        for task in tasks:
            try:
                todo += map(int, (task / "children").read_text().split())
            except (FileNotFoundError, ProcessLookupError):  # a thread ended
                pass
    return total / CLK_TCK


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; names starting with
    ``_`` or ``.`` (markers, manifests, checksums) are not data."""
    files = [
        p for p in path.rglob("*") if p.is_file() and not p.name.startswith(("_", "."))
    ]
    return sum(p.stat().st_size for p in files), len(files)


#: the Spark work ``spans.spark_counts`` reports per op
WORK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "scan_bytes", "shuffle_bytes")
#: per-op metrics: ``<span>_s``, ``.self_s``, ``.cpu_s``, ``.child_share``
#: and the Spark work, plus ``jvm.<op>.gc_s`` and
#: ``spark.persistent_rdds_after.<op>``
OP_KEYS = ("self_s", "cpu_s", "child_share", *WORK_KEYS)


def op_metric_names(key: str, span: str) -> list[str]:
    return [
        f"{span}_s",
        *(f"{span}.{k}" for k in OP_KEYS),
        f"jvm.{key}.gc_s",
        f"spark.persistent_rdds_after.{key}",
    ]


class Bench:
    """A workload: ``setup`` once, then checked iterations of ``ops``.

    Subclasses set ``name`` and ``OPS`` (op key -> span name; an op not
    listed is its own span name and gets no per-op metrics), and implement
    ``setup``, ``run_iteration``, ``outcome`` (the iteration's end-to-end
    figures), ``layers``, ``layer_row``, ``install_spans`` and
    ``provenance``.
    """

    name = ""
    OPS: dict[str, str] = {}

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = None  # set for the measured iterations of a traced run
        self.attempted = 0
        self.failed = 0

    # -- ops ---------------------------------------------------------------

    def op(self, rec: dict, key: str, fn, *args, check=None):
        """Run one library call, timed, its Spark jobs under a job group of
        their own; then check its output (untimed). An op that raises or
        fails its check counts as failed."""
        span_name = self.OPS.get(key, key)
        self.attempted += 1
        group = f"op{self.attempted}"
        sc = self.spark.sparkContext
        try:
            rdds0 = spans.persistent_rdds(self.spark)
            gc0 = spans.jvm_gc_seconds(self.spark)
            if self.tracer:  # every span sets its own job group
                span = self.tracer.span(span_name)
            else:
                span = contextlib.nullcontext()
                sc.setJobGroup(group, key)
            cpu0 = cpu_seconds(os.getpid())
            t0 = time.perf_counter()
            with span:
                out = fn(*args)
            dt = time.perf_counter() - t0
            cpu = cpu_seconds(os.getpid()) - cpu0
            work = {}
            if not self.tracer:
                sc.setLocalProperty("spark.jobGroup.id", None)
                work = spans.spark_counts(self.spark, group)
            rec["ops"].append(
                {
                    "op": key,
                    "s": dt,
                    "cpu_s": cpu,
                    "work": work,
                    "out": out,
                    "gc_s": spans.jvm_gc_seconds(self.spark) - gc0,
                    # read before any clean-up: what this call left persisted
                    "persisted_left": spans.persistent_rdds(self.spark) - rdds0,
                }
            )
            print(f"op {key} wall {dt:.3f} s cpu {cpu:.3f} s {work}", file=sys.stderr, flush=True)
            if check is not None:
                check(out)
            return out
        except Exception:
            self.failed += 1
            raise

    def iteration(self, i: int) -> dict | None:
        """One checked iteration; it stops at the first op that raises or
        fails its check (counted by ``op``) and then returns None."""
        tag = f"it{i}"
        run_id = f"{self.name}-seed{self.seed}-{tag}"
        if self.tracer:
            self.tracer.run_id = run_id
        rec = {"ops": [], "run": run_id}
        try:
            self.run_iteration(rec, self.work / "out" / tag)
            rec.update(self.outcome(rec))
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            rec = None
        finally:
            release_persisted(self.spark)
            shutil.rmtree(self.work / "out" / tag, ignore_errors=True)
        return rec

    # -- per-layer metrics -------------------------------------------------

    @classmethod
    def layer_names(cls) -> list[str]:
        names = [n for key, span in cls.OPS.items() for n in op_metric_names(key, span)]
        return names + cls.layers()

    def op_spans(self, tracer, rec: dict, key: str) -> list[dict]:
        return [
            s
            for s in tracer.spans
            if s["run"] == rec["run"] and s["name"] == self.OPS.get(key, key)
        ]

    def op_metrics(self, tracer, rec: dict) -> dict[str, float]:
        row: dict[str, float] = {}
        for key, span in self.OPS.items():
            ops = self.op_spans(tracer, rec, key)
            wall = sum(s["end"] - s["start"] for s in ops)
            own = sum(tracer.self_time(s) for s in ops)
            row[f"{span}_s"] = wall
            row[f"{span}.self_s"] = own
            row[f"{span}.child_share"] = (wall - own) / wall if wall else 0.0
            for k in WORK_KEYS:
                row[f"{span}.{k}"] = sum(tracer.inclusive(s, k) for s in ops)
            done = [o for o in rec["ops"] if o["op"] == key]
            row[f"{span}.cpu_s"] = sum(o["cpu_s"] for o in done)
            row[f"jvm.{key}.gc_s"] = sum(o["gc_s"] for o in done)
            row[f"spark.persistent_rdds_after.{key}"] = sum(o["persisted_left"] for o in done)
        return row

    def layer_seconds(self, tracer, rec: dict, key: str, name: str) -> float:
        """Time of the spans called ``name`` under the op ``key``."""
        return sum(
            s["end"] - s["start"]
            for op in self.op_spans(tracer, rec, key)
            for s in tracer.descendants(op)
            if s["name"] == name
        )

    def layer_jobs(self, tracer, rec: dict, key: str, name: str) -> int:
        return sum(
            tracer.inclusive(s, "jobs")
            for op in self.op_spans(tracer, rec, key)
            for s in tracer.descendants(op)
            if s["name"] == name
        )

    def per_layer(self, recs: list[dict], tracer) -> dict[str, float]:
        """Each metric is the median over iterations of its per-iteration
        total; a layer this workload bypasses reads 0."""
        rows = []
        for rec in recs:
            row = self.op_metrics(tracer, rec)
            row.update(self.layer_row(tracer, rec))
            row["trace.run_s"] = sum(o["s"] for o in rec["ops"])
            row["trace.spans"] = len([s for s in tracer.spans if s["run"] == rec["run"]])
            rows.append(row)
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
