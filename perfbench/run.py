"""Repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload kpi_batch --seed 1 --seconds 12 --trace 0

Run from the root of a repo checkout.  The run:

1. derives the workload's tables from ``perfbench/data`` with ``--seed``
   (``inputs.generate``) into a temp dir under ``.perfbench/`` — the
   generated inputs, pipeline outputs, ``SPARK_LOCAL_DIRS``, the
   warehouse, the JVM temp dir and the event logs all live there and
   are removed at exit;
2. sets up Spark on ``local[nproc // 2]`` (``get_spark`` plus one tiny
   action, which launches the JVM);
3. runs one untimed pass whose outputs are checked against the DuckDB
   oracles (this is also the warm-up);
4. sets up Spark ``SETUPS`` more times in the now warm JVM (each stops
   the SparkContext and makes a new one), which ``setup_s`` is the
   median of;
5. runs timed passes until ``--seconds`` have passed and at least the
   workload's ``min_passes`` have run.

With ``--trace 0`` the last stdout line reports the end-to-end metrics
(``pass_s``, ``rows_per_s``, ``setup_s``, ``peak_rss_mb``).  With
``--trace 1`` the timed window is halved, and the run then re-creates
the SparkContext with the event log on, runs half of ``--seconds`` of
traced passes, re-creates it without the event log for another half of
untraced passes, and reports the per-layer metrics (see
``perfbench/README.md``), including the tracing overhead; the spans go
to ``.perfbench/traces/``.  The line before the last one holds the
details: samples, checks, ``failed_frac`` and the host-contention probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
#: warm set-ups per run; ``setup_s`` is their median
SETUPS = 5
#: driver heap; bounds the JVM on a shared host and steadies peak RSS
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"pass_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
#: per-layer metric -> unit; counts are reported as the median pass's
#: value (``median_low``), so they repeat exactly when the work does
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.input_rows": "count",
    "sources.input_mb": "MB",
    "sources.loads": "count",
    "sources.load_s": "s",
    "sources.scan_ratio": "ratio",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "plans.stage_s": "s",
    "plans.written_mb": "MB",
    "plans.write_amp": "ratio",
    "plans.resume_s": "s",
    "plans.stages_skipped": "count",
    "cache.handles": "count",
    "sources.self_s": "s",
    "operators.self_s": "s",
    "spark.self_s": "s",
    "plans.self_s": "s",
    "cache.self_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
COUNTS = {name for name, unit in PER_LAYER_UNITS.items() if unit == "count"}


def _pin_environment(work: str, threads: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and pin the thread count, before pyspark is imported."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(threads)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # applies to the spark-submit launcher JVM and the driver JVM alike
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    # a heap committed and touched up front (-Xms = the -Xmx get_spark
    # sets) keeps peak RSS from depending on how many heap regions G1's
    # young-generation sizing happened to touch; what varies is the
    # memory outside the capped heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--conf 'spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' pyspark-shell"
    )


def _host_probe() -> dict:
    """Host contention counters (Linux ``/proc``): ``load1`` before the
    run is the ambient load; the steal-tick delta across the run is the
    share of the run the hypervisor gave to other guests."""
    probe: dict = {}
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
        probe["load1"], probe["load5"] = float(parts[0]), float(parts[1])
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        probe["total_ticks"], probe["steal_ticks"] = sum(ticks), ticks[7]
    except (OSError, ValueError, IndexError):
        pass
    return probe


def _contention(before: dict, after: dict, nproc: int) -> dict:
    """Flags a run as ``contended`` the way ``bench.py`` does: ambient
    load above a quarter of the cores, or more than 2% of the ticks
    stolen."""
    dt = after.get("total_ticks", 0) - before.get("total_ticks", 0)
    ds = after.get("steal_ticks", 0) - before.get("steal_ticks", 0)
    steal_pct = round(100.0 * ds / dt, 3) if dt > 0 else -1.0
    contended = before.get("load1", 0.0) > 0.25 * nproc or steal_pct > 2.0
    return {"before": before, "after": after, "steal_pct": steal_pct, "contended": contended}


def _tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _reset_peak_rss() -> None:
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # reset VmHWM to the current RSS
        except OSError:
            pass


def _peak_rss_mb() -> float:
    """Sum of the per-process peak RSS over the process tree."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb * 1024 / 1e6


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _setup(get_spark, table_dir: str, spark=None):
    """Stop ``spark`` if given, then ``get_spark`` plus one tiny action;
    returns the session, the get_spark time and the whole set-up time."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.read.parquet(table_dir).count()
    return spark, t1 - t0, time.perf_counter() - t0


def _window(wl, ctx, seconds: float, prefix: str):
    """Timed passes until ``seconds`` have passed and at least
    ``wl.min_passes`` have run."""
    tr = ctx.tracer
    times, passes, attempted, failed = [], [], 0, 0
    start = time.perf_counter()
    while len(times) < wl.min_passes or time.perf_counter() - start < seconds:
        tag = f"{prefix}{len(times)}"
        tr.begin_pass(tag)
        with tr.instrument():
            t0 = time.perf_counter()
            n, f, stats = wl.run_pass(ctx, tag)
            times.append(time.perf_counter() - t0)
        attempted, failed = attempted + n, failed + f
        out = os.path.join(ctx.out_dir, tag)
        stats["tag"] = tag
        stats["plans.written_mb"] = _du(out) / 1e6
        shutil.rmtree(out, ignore_errors=True)
        if tr.enabled:
            counts = [tr.spark_counts(op) for op in tr.pass_ops(tag)]
            stats["spark.jobs"], stats["spark.stages"], stats["spark.tasks"] = (
                sum(c[i] for c in counts) for i in range(3)
            )
        passes.append(stats)
    return times, passes, attempted, failed


def _layer_metrics(tr, passes: list[dict], times: list[float], eventlog: dict, inputs, threads: int) -> dict:
    """Per-layer values of each traced pass, reduced to their medians."""
    per_pass = []
    for stats, wall in zip(passes, times):
        tag = stats["tag"]
        spans = tr.span_totals(tag)
        ops = tr.pass_ops(tag)
        ev = {k: sum(eventlog.get(op, {}).get(k, 0.0) for op in ops) for k in (
            "executor_run_s", "gc_s", "spill_mb", "shuffle_write_mb", "read_mb")}
        input_mb = inputs.bytes / 1e6
        m = {
            "sources.loads": sum(1 for s in tr.spans if s["pass"] == tag and s["name"] == "sources.load_table"),
            "sources.load_s": spans.get("sources.load_table", 0.0),
            "sources.scan_ratio": ev["read_mb"] / input_mb,
            "operators.build_s": spans.get("operators.call", 0.0),
            "operators.build_jobs": sum(tr.op_stats[op]["build_jobs"] for op in ops),
            "spark.plan_s": spans.get("spark.plan", 0.0),
            "spark.exec_s": spans.get("spark.exec", 0.0),
            "spark.executor_run_s": ev["executor_run_s"],
            "spark.busy_frac": ev["executor_run_s"] / (wall * threads),
            "spark.shuffle_write_mb": ev["shuffle_write_mb"],
            "spark.spill_mb": ev["spill_mb"],
            "spark.gc_s": ev["gc_s"],
            "plans.stage_s": stats.get("plans.stage_s", 0.0),
            "plans.written_mb": stats["plans.written_mb"],
            "plans.write_amp": stats["plans.written_mb"] / input_mb,
            "plans.resume_s": stats.get("plans.resume_s", 0.0),
            "plans.stages_skipped": stats.get("plans.stages_skipped", 0),
            "cache.handles": sum(tr.op_stats[op]["handles"] for op in ops),
            "spark.jobs": stats["spark.jobs"],
            "spark.stages": stats["spark.stages"],
            "spark.tasks": stats["spark.tasks"],
        }
        for layer in ("sources", "operators", "spark", "plans", "cache"):
            m[f"{layer}.self_s"] = spans.get(f"{layer}.self_s", 0.0)
        per_pass.append(m)
    return {
        k: (statistics.median_low if k in COUNTS else statistics.median)([m[k] for m in per_pass])
        for k in per_pass[0]
    }


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, nproc: int, threads: int) -> tuple[dict, dict]:
    host_before = _host_probe()
    from inputs import generate
    from tracing import Tracer, parse_event_log, set_event_log
    from workloads import WORKLOADS, Context

    from pyspark_pipelining_spark.session import get_spark

    wl = WORKLOADS[args.workload]
    # in a traced run three windows share the time of one untraced window
    # and a half
    seconds = args.seconds / 2 if args.trace else args.seconds
    phases = {}
    t_phase = time.perf_counter()
    inputs = generate(
        wl.tables, args.seed, os.path.join(work, "inputs"), wl.replicas, wl.order_preserving
    )
    phases["generate"] = time.perf_counter() - t_phase
    probe_table = f"{inputs.dir}/{wl.tables[0]}.parquet"
    spark = None
    try:
        spark, _, cold_setup = _setup(get_spark, probe_table)
        out_dir = os.path.join(work, "out")
        t_phase = time.perf_counter()
        checks = wl.check(Context(spark, inputs, Tracer(), args.seed, out_dir))
        phases["check"] = time.perf_counter() - t_phase
        setups, get_spark_s = [], []
        for _ in range(SETUPS):
            spark, g, s = _setup(get_spark, probe_table, spark)
            get_spark_s.append(g)
            setups.append(s)
        ctx = Context(spark, inputs, Tracer(), args.seed, out_dir)
        _reset_peak_rss()
        t_phase = time.perf_counter()
        times, _, attempted, failed = _window(wl, ctx, seconds, "u")
        phases["window"] = time.perf_counter() - t_phase
        peak_rss = _peak_rss_mb()
        pass_s = statistics.median(times)
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "spark_threads": threads,
            "input_rows": inputs.rows,
            "input_mb": inputs.bytes / 1e6,
            "pass_samples_s": times,
            "cold_setup_s": cold_setup,
            "setup_samples_s": setups,
            "checks": checks,
            "phase_s": phases,
        }
        attempted += len(checks)
        failed += sum(not ok for ok in checks.values())
        if not args.trace:
            metrics = {
                "pass_s": pass_s,
                "rows_per_s": inputs.rows / pass_s,
                "setup_s": statistics.median(setups),
                "peak_rss_mb": peak_rss,
            }
        else:
            # traced passes bracketed by untraced ones, so JIT warm-up
            # drift does not read as tracing overhead
            log_dir = os.path.join(work, "events")
            set_event_log(spark, log_dir)
            tr = Tracer(enabled=True)
            spark, _, _ = _setup(tr.wrap("session.get_spark", get_spark), probe_table, spark)
            tr.bind(spark)
            t_times, t_passes, n, f = _window(wl, Context(spark, inputs, tr, args.seed, out_dir), seconds, "t")
            attempted, failed = attempted + n, failed + f
            set_event_log(spark, None)
            spark, _, _ = _setup(get_spark, probe_table, spark)  # stopping flushes the event log
            after, _, n, f = _window(wl, Context(spark, inputs, Tracer(), args.seed, out_dir), seconds, "v")
            attempted, failed = attempted + n, failed + f
            metrics = _layer_metrics(tr, t_passes, t_times, parse_event_log(log_dir), inputs, threads)
            metrics.update(
                {
                    "session.get_spark_s": statistics.median(get_spark_s),
                    "sources.input_rows": inputs.rows,
                    "sources.input_mb": inputs.bytes / 1e6,
                    "trace.pass_s": statistics.median(t_times),
                    "trace.overhead_s": statistics.median(t_times) - statistics.median(times + after),
                }
            )
            detail["untraced_after_samples_s"] = after
            detail["traced_pass_samples_s"] = t_times
            trace_path = os.path.join(STATE_DIR, "traces", f"{wl.name}-seed{args.seed}.json")
            tr.dump(trace_path, {"workload": wl.name, "seed": args.seed})
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        if spark is not None:
            _stop_jvm(spark)
    detail["failed_frac"] = failed / attempted
    detail["host"] = _contention(host_before, _host_probe(), nproc)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("kpi_batch", "fixpoint_queries", "corpus_build"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pyspark_pipelining_spark")):
        print("perfbench: no pyspark_pipelining_spark/ next to perfbench/; run from a repo checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    # Spark's task threads: half the cores, so that the JVM's compiler and
    # GC threads and the Python driver do not queue behind the tasks (the
    # passes are bound by per-job overhead and take the same time on 1, 2
    # and 4 task threads)
    threads = max(1, nproc // 2)
    os.makedirs(STATE_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=STATE_DIR)
    _pin_environment(work, threads)
    sys.path.insert(0, ROOT)
    try:
        detail, result = run(args, work, nproc, threads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
