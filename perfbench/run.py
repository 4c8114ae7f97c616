"""Seeded benchmark of the spatial tiling and join engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One client drives a closed loop on
``local[<cores>]``: it generates the workload's inputs from the seed, then
runs one full pass of the workload's stages after another until
``--seconds`` have elapsed (at least one pass).  The engine is a batch
pipeline, so every pass is the first of a JVM of its own, as a batch job's
is: the set-up's JVM runs the first pass, a fresh one each later pass.
Every stage's builder call is timed as build and a noop-sink write of its
result as execute, each under its own Spark job group.  Every stage output
is checked against DuckDB (or the engine's whole-grid NumPy references)
over the same generated parquet once the timing is over.

``--trace 0`` prints the end-to-end metrics (medians over passes).
``cpu_s`` is the CPU time of a pass and ``setup_s`` that of the set-up:
JVM launch, session start and seeded input generation.
``--trace 1`` runs the passes with Spark's event log on, then as many
again untraced, and prints the per-layer metrics of the traced passes;
the difference of the two is the tracing overhead.  The spans and the
per-stage split go to ``.perfbench/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  A readable table
of every metric, ``error_rate`` included, goes to standard error.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import Observation, SparkSession  # noqa: E402

from rgr_pdal_topo_spark.operators import pages  # noqa: E402
from rgr_pdal_topo_spark.session import get_spark  # noqa: E402

import eventlog  # noqa: E402
import oracle  # noqa: E402
from inputs import generate  # noqa: E402
from workloads import WORKLOADS, Ctx, Workload  # noqa: E402

MB = 1024.0 * 1024.0

LAYERS = (
    "synth", "gridding", "stencils", "joins.pip", "joins.profile",
    "joins.knn", "smrf", "flow", "pages", "cells", "lineage",
)
LAYER_METRICS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "python_s": "s", "rows_out": "rows",
}
EXTRA_METRICS = {
    "stencils.halo_ratio": "ratio",
    "gridding.points_per_cell": "ratio",
    "joins.pip.hit_ratio": "ratio",
    "flow.rounds": "count",
    "lineage.write_mb": "MB",
    "pages.input_mb": "MB",
    "trace.overhead_s": "s",
    "pass.records_per_s": "items/s",
    "pass.wall_s": "s",
    "pass.build_s": "s",
    "run.peak_rss_mb": "MB",
}
END_TO_END = {"cpu_s": "s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


# --------------------------------------------------------------------------
# session lifetime
# --------------------------------------------------------------------------


def cores() -> int:
    """Task slots: half the cores this process may use, so the driver, the
    JVM's own threads and the Python workers do not queue behind tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(work: str, event_dir: str | None = None) -> SparkSession:
    """A session whose scratch files all live under ``work``; the first
    one in the process also starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
        # explicit either way: builder options outlive a stopped session
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cores()
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )


def stop_jvm() -> None:
    """Wait until the gateway JVM (and with it every Python worker the
    JVM started) has exited."""
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def proc_tree(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM just-in-time compiler threads (thread names are cut to 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str) -> tuple[str, list[int]]:
    with open(stat_path) as f:
        text = f.read()
    name = text[text.index("(") + 1:text.rindex(")")]
    fields = text.rsplit(")", 1)[1].split()
    return name, [int(x) for x in fields[11:15]]


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and everything it started, the JVM and its Python workers,
    less the JVM's just-in-time compiler threads: their work is warm-up
    that a long job amortises, and it varies from run to run."""
    total = 0
    for pid in proc_tree(os.getpid()):
        try:
            total += sum(_cpu_ticks(f"/proc/{pid}/stat")[1])
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process has exited
            continue
        for task in tasks:
            try:
                name, t = _cpu_ticks(f"/proc/{pid}/task/{task}/stat")
            except OSError:
                continue
            if name in JIT_THREADS:
                total -= t[0] + t[1]
    return total / _TICK


class PeakRss(threading.Thread):
    """Samples the resident memory of a process tree from /proc."""

    def __init__(self, root_pid: int, period: float = 0.05):
        super().__init__(daemon=True)
        self.root = root_pid
        self.period = period
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in proc_tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


# --------------------------------------------------------------------------
# one pass
# --------------------------------------------------------------------------


@dataclass
class StageRun:
    stage: str
    layer: str
    group: str
    build_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    exec_jobs: int = 0
    start: float = 0.0
    end: float = 0.0
    obs: dict | None = None
    error: str | None = None


@dataclass
class Pass:
    tag: str
    start: float
    wall: float = 0.0
    #: CPU seconds of this process, the JVM and its workers over the pass
    cpu: float = 0.0
    stages: list[StageRun] = field(default_factory=list)
    #: MB the pass wrote to its scratch directory (the lineage stage)
    write_mb: float = 0.0

    @property
    def build_s(self) -> float:
        return sum(s.build_s for s in self.stages)


def run_pass(spark: SparkSession, wl: Workload, indir: str, scratch: str,
             tag: str) -> Pass:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ctx = Ctx(spark, indir, scratch, tag)
    kept = []
    p = Pass(tag, time.perf_counter())
    cpu0 = tree_cpu_s()
    try:
        for st in wl.stages:
            r = StageRun(st.name, st.layer, f"{tag}:{st.name}")
            p.stages.append(r)
            if any(s.error for s in p.stages):
                r.error = "skipped: an earlier stage failed"
                continue
            try:
                r.start = time.perf_counter()
                sc.setJobGroup(r.group + ":build", f"{st.layer} build")
                df = st.build(ctx)
                t1 = time.perf_counter()
                sc.setJobGroup(r.group + ":exec", f"{st.layer} exec")
                if st.keep:
                    df = df.persist()
                    kept.append(df)
                obs = Observation(st.name)
                aggs = [c.alias(k) for k, c in st.check().items()]
                df.observe(obs, *aggs).write.format("noop").mode(
                    "overwrite").save()
                r.end = time.perf_counter()
                r.build_s, r.exec_s = t1 - r.start, r.end - t1
                r.obs = obs.get
                ctx.out[st.name] = df
            except Exception as e:  # a failed stage is counted, not fatal
                r.end = time.perf_counter()
                r.error = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            r.build_jobs = len(tracker.getJobIdsForGroup(r.group + ":build"))
            r.exec_jobs = len(tracker.getJobIdsForGroup(r.group + ":exec"))
        p.wall = time.perf_counter() - p.start
        p.cpu = tree_cpu_s() - cpu0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for df in kept:
            df.unpersist(blocking=True)
    return p


def measure(spark: SparkSession, work: str, wl: Workload, indir: str,
            scratch: str, prefix: str, seconds: float,
            event_dir: str | None = None) -> tuple[list[Pass], list[str]]:
    """Passes until ``seconds`` have elapsed, each the first of its JVM:
    ``spark``'s for the first, a fresh one for every later one.  Every JVM
    is stopped before this returns.  Returns the passes and the Spark
    application id of each."""
    out: list[Pass] = []
    apps: list[str] = []
    end = time.perf_counter() + seconds
    while True:
        try:
            apps.append(spark.sparkContext.applicationId)
            p = run_pass(spark, wl, indir, scratch, f"{prefix}{len(out)}")
        finally:
            teardown(spark)
        p.write_mb = dir_mb(scratch)
        out.append(p)
        empty(scratch)
        if time.perf_counter() >= end:
            return out, apps
        spark = start_spark(work, event_dir)


def empty(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def setup(work: str, wl: Workload, seed: int, tag: str,
          event_dir: str | None = None):
    """JVM launch, session start and seeded input generation.  Returns
    the session, the input and scratch directories and the CPU seconds
    the set-up took (as ``tree_cpu_s`` counts them)."""
    cpu0 = tree_cpu_s()
    spark = start_spark(work, event_dir)
    indir = os.path.join(work, f"inputs-{tag}")
    generate(indir, seed, wl.sizes)
    setup_s = tree_cpu_s() - cpu0
    scratch = os.path.join(work, f"scratch-{tag}")
    empty(scratch)
    return spark, indir, scratch, setup_s


def teardown(spark: SparkSession) -> None:
    """Stop the session (which flushes the event log) and its JVM.  A
    pandas UDF made at import keeps the JVM function of the first session
    that ran it, so the modules that make one are imported afresh."""
    spark.stop()
    stop_jvm()
    importlib.reload(pages)


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------


def check(passes: list[Pass], expected: dict[str, dict]) -> tuple[int, int]:
    """(attempted, failed) over every stage call of ``passes``; a call
    fails if it raised or its observed checksums differ from the oracle."""
    attempted = failed = 0
    for p in passes:
        for r in p.stages:
            attempted += 1
            bad = r.error or oracle.compare(r.obs, expected[r.stage])
            if bad:
                failed += 1
                print(f"FAILED {p.tag} {r.stage}: {bad}", file=sys.stderr)
    return attempted, failed


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def end_to_end(passes: list[Pass], setup_s: float) -> dict[str, float]:
    return {
        "cpu_s": statistics.median(p.cpu for p in passes),
        "setup_s": setup_s,
    }


def per_layer(wl: Workload, passes: list[Pass], events: dict,
              indir: str) -> dict[str, float]:
    """Median over traced passes of each layer's per-pass totals."""
    rows: list[dict[str, float]] = []
    for p in passes:
        v = {k: 0.0 for k in per_layer_units()}
        by_stage = {r.stage: r for r in p.stages}
        for r in p.stages:
            pre = r.layer
            v[f"{pre}.build_s"] += r.build_s
            v[f"{pre}.exec_s"] += r.exec_s
            v[f"{pre}.jobs"] += r.build_jobs + r.exec_jobs
            v[f"{pre}.rows_out"] += (r.obs or {}).get("rows", 0)
            for phase in ("build", "exec"):
                ev = events.get(f"{r.group}:{phase}", {})
                for m in ("tasks", "task_s", "shuffle_write_mb",
                          "shuffle_read_mb", "spill_mb", "python_s"):
                    v[f"{pre}.{m}"] += ev.get(m, 0)
        v.update(wl.ratios(by_stage, events))
        v["lineage.write_mb"] = p.write_mb
        v["pass.records_per_s"] = wl.items / p.wall
        v["pass.wall_s"] = p.wall
        v["pass.build_s"] = p.build_s
        rows.append(v)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    docs = os.path.join(indir, "documents.parquet")
    if os.path.exists(docs):
        out["pages.input_mb"] = os.path.getsize(docs) / MB
    return out


def print_stages(wl: Workload, passes: list[Pass]) -> None:
    """Median build and execute time of each stage, to standard error."""
    for i, st in enumerate(wl.stages):
        b = statistics.median(p.stages[i].build_s for p in passes)
        e = statistics.median(p.stages[i].exec_s for p in passes)
        j = statistics.median(p.stages[i].build_jobs for p in passes)
        print(f"{wl.name:18s} {st.layer + ':' + st.name:28s} build {b:8.3f} s"
              f" ({j:g} jobs)  exec {e:8.3f} s", file=sys.stderr)
    wall = statistics.median(p.wall for p in passes)
    print(f"{wl.name:18s} {'pass':28s} wall  {wall:8.3f} s ({len(passes)} "
          f"passes)  {wl.items / wall:.6g} {wl.unit}/s", file=sys.stderr)


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / MB


# --------------------------------------------------------------------------
# the two modes
# --------------------------------------------------------------------------


def run_untraced(work: str, wl: Workload, seed: int, seconds: float):
    spark, indir, scratch, setup_s = setup(work, wl, seed, "s")
    passes, _ = measure(spark, work, wl, indir, scratch, "m", seconds)
    attempted, failed = check(passes, oracle.expected(wl, indir))
    print_stages(wl, passes)
    return attempted, failed, end_to_end(passes, setup_s)


def run_traced(work: str, wl: Workload, seed: int, seconds: float,
               run_id: str):
    """Traced passes with the event log on, then untraced ones to take
    the tracing overhead against; both kinds as in an untraced run."""
    event_dir = os.path.join(work, "events")
    spark, indir, scratch, _ = setup(work, wl, seed, "t", event_dir)
    sampler = PeakRss(os.getpid())
    sampler.start()
    try:
        traced, apps = measure(spark, work, wl, indir, scratch, "t",
                               seconds, event_dir)
    finally:
        peak = sampler.stop()
    plain, _ = measure(start_spark(work), work, wl, indir, scratch, "u",
                       seconds)
    for kind, passes in (("traced", traced), ("untraced", plain)):
        print(f"{kind} passes:", file=sys.stderr)
        print_stages(wl, passes)
    events = {}
    for app in apps:
        events.update(eventlog.read(os.path.join(event_dir, app)))
    attempted, failed = check(traced + plain, oracle.expected(wl, indir))
    metrics = per_layer(wl, traced, events, indir)
    metrics["run.peak_rss_mb"] = peak / MB
    metrics["trace.overhead_s"] = (
        statistics.median(p.wall for p in traced)
        - statistics.median(p.wall for p in plain)
    )
    write_trace(wl, seed, run_id, traced, events, metrics)
    return attempted, failed, metrics


def write_trace(wl: Workload, seed: int, run_id: str, passes: list[Pass],
                events: dict, metrics: dict) -> None:
    """Spans (pass -> stage) kept in memory during the run, written once."""
    spans = []
    for p in passes:
        pass_id = f"{run_id}:{p.tag}"
        spans.append({
            "span": pass_id, "parent": None, "name": "pass",
            "start": p.start, "end": p.start + p.wall,
            "workload": wl.name, "seed": seed, "run_id": run_id,
        })
        for r in p.stages:
            spans.append({
                "span": f"{run_id}:{r.group}", "parent": pass_id,
                "name": f"{r.layer}:{r.stage}", "layer": r.layer,
                "start": r.start, "end": r.end, "self_s": r.end - r.start,
                "workload": wl.name, "seed": seed, "run_id": run_id,
                "build_s": r.build_s, "exec_s": r.exec_s,
                "build_jobs": r.build_jobs, "exec_jobs": r.exec_jobs,
                "rows_out": (r.obs or {}).get("rows"),
                "events": {ph: events.get(f"{r.group}:{ph}", {})
                           for ph in ("build", "exec")},
                "error": r.error,
            })
    out = os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-{seed}.json")
    with open(out, "w") as f:
        json.dump({"spans": spans, "per_layer": metrics}, f, indent=1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench", f"run-{run_id}")
    os.makedirs(work)
    # scratch files of this process, the JVM and the Python workers
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        if args.trace:
            attempted, failed, metrics = run_traced(
                work, wl, args.seed, args.seconds, run_id)
            units = per_layer_units()
        else:
            attempted, failed, metrics = run_untraced(
                work, wl, args.seed, args.seconds)
            units = END_TO_END
    finally:
        stop_jvm()  # still running only if a set-up or pass raised
        shutil.rmtree(work, ignore_errors=True)

    for k in units:
        unit = f"{units[k]} ({wl.unit})" if units[k] == "items/s" else units[k]
        print(f"{wl.name:18s} {k:28s} {metrics[k]:14.6g} {unit}",
              file=sys.stderr)
    print(f"{wl.name:18s} {'error_rate':28s} {failed / attempted:14.6g} "
          f"ratio ({failed}/{attempted} stage calls)", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k] if math.isfinite(metrics[k]) else None,
                "unit": units[k]}
            for k in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
