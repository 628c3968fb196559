"""Benchmark-side tracing: spans around the calls into each layer, Spark
job counts per operation, and the Spark event-log parser.

Nothing here touches the program's code.  Layers are observed by
wrapping their public functions from outside for the duration of a
traced window (:meth:`Tracer.instrument`), and by tagging each
operation with its own Spark job group.

A span is ``{id, name, pass, op, parent, start, end}``; the spans of one
operation share ``op``.  Spans are kept in memory and written out by
:meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import defaultdict

#: span name -> layer; a layer's self time is its spans' time minus the
#: part covered by their child spans
SPAN_LAYER = {
    "session.get_spark": "session",
    "sources.load_table": "sources",
    "operators.call": "operators",
    "spark.plan": "spark",
    "spark.exec": "spark",
    "plans.run_all": "plans",
    "cache.release_all": "cache",
}


class Tracer:
    """Records spans and per-operation Spark counts while ``enabled``;
    a disabled tracer adds no work around the calls it is handed."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_stats: dict[str, dict] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._pass: str | None = None
        self._sc = None

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "pass": self._pass,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- operations and job groups ---------------------------------------

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def begin_pass(self, tag: str) -> None:
        self._pass = tag
        self._op = None

    def enter_op(self, op: str) -> None:
        """Tag the Spark jobs launched from here on with ``op``'s group
        (``<pass>/<op>``)."""
        if not self.enabled:
            return
        op = f"{self._pass}/{op}"
        self._op = op
        self.op_stats.setdefault(op, {"build_jobs": 0, "handles": 0})
        self._sc.setJobGroup(op, op)

    def mark_built(self) -> None:
        """Record the jobs the current operation launched so far: the
        ones launched inside query or stage function calls."""
        if self.enabled and self._op is not None:
            self.op_stats[self._op]["build_jobs"] = len(
                self._sc.statusTracker().getJobIdsForGroup(self._op)
            )

    def note_handles(self, n: int) -> None:
        if self.enabled and self._op is not None:
            self.op_stats[self._op]["handles"] += n

    def spark_counts(self, op: str) -> tuple[int, int, int]:
        """Jobs, stages that ran tasks, and completed tasks of ``op``'s
        job group.  Skipped stages (their shuffle output reused) are not
        counted: whether a job lists one depends on how AQE's concurrent
        stage submissions interleave."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(op)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks:
                ran += 1
                tasks += info.numCompletedTasks
        return len(jobs), ran, tasks

    # -- layer instrumentation -------------------------------------------

    @contextlib.contextmanager
    def instrument(self):
        """Wrap ``registry.load_table`` (in every program module that
        bound it) and ``DataFrameWriter.parquet`` while tracing."""
        if not self.enabled:
            yield
            return
        from pyspark.sql.readwriter import DataFrameWriter

        from pyspark_pipelining_spark.sources import registry

        orig_load = registry.load_table
        traced_load = self.wrap("sources.load_table", orig_load)
        patched = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("pyspark_pipelining_spark") and getattr(m, "load_table", None) is orig_load
        ]
        orig_parquet = DataFrameWriter.parquet
        for m in patched:
            m.load_table = traced_load
        DataFrameWriter.parquet = self.wrap("spark.exec", orig_parquet)
        try:
            yield
        finally:
            for m in patched:
                m.load_table = orig_load
            DataFrameWriter.parquet = orig_parquet

    # -- reporting ---------------------------------------------------------

    def wrap_stages(self, pipeline, prefix: str = "") -> None:
        """Run each stage function of a built ``plans.dag.Pipeline`` as
        its own operation (``<prefix><stage>``) inside an
        ``operators.call`` span."""
        if not self.enabled:
            return
        for st in pipeline._stages.values():
            st.fn = self._stage_op(prefix + st.name, st.fn)

    def _stage_op(self, name: str, fn):
        def traced(*args, **kwargs):
            self.enter_op(name)
            with self.span("operators.call"):
                out = fn(*args, **kwargs)
            self.mark_built()
            return out

        return traced

    def pass_ops(self, tag: str) -> list[str]:
        return [op for op in self.op_stats if op.startswith(tag + "/")]

    def span_totals(self, tag: str) -> dict[str, float]:
        """Inclusive seconds per span name and self seconds per layer,
        over the spans of pass ``tag``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["pass"] != tag:
                continue
            dur = s["end"] - s["start"]
            out[s["name"]] += dur
            out[SPAN_LAYER[s["name"]] + ".self_s"] += dur - child_time[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans, "ops": self.op_stats}, fh)


def set_event_log(spark, log_dir: str | None) -> None:
    """Make the next SparkContext created in this JVM write an
    uncompressed event log to ``log_dir`` (``None``: no event log).  JVM
    system properties are the defaults every new SparkConf loads."""
    system = spark.sparkContext._jvm.java.lang.System
    if log_dir is None:
        system.clearProperty("spark.eventLog.enabled")
        return
    os.makedirs(log_dir, exist_ok=True)
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.rolling.enabled", "false")  # one file per app
    system.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(log_dir))


def _scan_size_accumulators(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_size_accumulators(child, out)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group, from the event logs in ``log_dir``: summed task
    metrics (executor run time, GC time, shuffle bytes written, bytes
    spilled to disk) and the parquet bytes the file scans read (the
    scans' "size of files read" SQL metric)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    size_accs: set[int] = set()
    scan_bytes: dict[tuple[int, int], int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "").rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if ev.get("jobGroupId") is not None:
                        exec_group[ev["executionId"]] = ev["jobGroupId"]
                    _scan_size_accumulators(ev.get("sparkPlanInfo", {}), size_accs)
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, value in ev.get("accumUpdates", []):
                        scan_bytes[(ev["executionId"], acc)] = value
    for (execution, acc), value in scan_bytes.items():
        group = exec_group.get(execution)
        if acc in size_accs and group is not None:
            out[group]["read_mb"] += value / 1e6
    return out
