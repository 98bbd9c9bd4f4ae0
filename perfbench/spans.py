"""Spans around the library calls the benchmark drives, recorded from outside.

``Tracer.wrap`` replaces a module attribute with a wrapper that opens a span
around the original; ``Tracer.restore`` puts every original back. Nothing
inside the package is edited: the wrappers live in the benchmark process
only, for the duration of a traced run.

Each span records its name, start, end, parent and run id, plus the Spark
work it issued. Every span runs its jobs under its own job group, so the
status tracker attributes each job to the innermost open span; a span's
own counts exclude its children's, and ``inclusive`` adds them back.
Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Callable, Iterator
from pathlib import Path


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector, seconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def persistent_rdds(spark) -> int:
    """Number of RDDs the driver currently holds persisted."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def spark_counts(spark, group: str) -> dict[str, int]:
    """The Spark work of the jobs run under ``group``: jobs, stages run (a
    stage skipped because its shuffle output was reused is not), tasks,
    failed tasks, and the bytes the stages read from files and wrote to the
    shuffle."""
    tracker = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "scan_bytes", "shuffle_bytes"), 0
    )
    jobs = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(jobs)
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            st = tracker.getStageInfo(stage_id)
            if st is None:  # skipped: its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks
            out["failed_tasks"] += st.numFailedTasks
            sd = store.lastStageAttempt(stage_id)
            out["scan_bytes"] += sd.inputBytes()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"{self.run_id}/{sid}",
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            span.update(spark_counts(self.spark, span["group"]))

    def wrap(self, module, attr: str, name: str | Callable[..., str]) -> None:
        """Trace every call of ``module.attr``; ``name`` may be a function of
        the call's arguments, to split one function into several layers."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its (sequential) children cover."""
        covered = sum(c["end"] - c["start"] for c in self.children(span))
        return (span["end"] - span["start"]) - covered

    def inclusive(self, span: dict, key: str) -> int:
        return span[key] + sum(self.inclusive(c, key) for c in self.children(span))

    def descendants(self, span: dict) -> list[dict]:
        out = []
        for c in self.children(span):
            out += [c, *self.descendants(c)]
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1))
