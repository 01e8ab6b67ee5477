"""Benchmark of the log workflow and the snapshot table.

    python3 perfbench/run.py --workload logs_bulk --seed 1 --seconds 20 --trace 0

Run from the root of the repository. One single-process client drives
the program through its public functions in a closed loop:

1. generate the workload's inputs from ``--seed`` (not timed);
2. start the session and build the workload's fixture ``SETUPS`` times
   (``setup_s``: session start plus the median fixture build);
3. run one pass in the fresh JVM (``jvm.first_pass_s``), then measured
   passes until ``--seconds`` have gone by, at least the workload's
   ``PASSES`` (``pass_s``, ``read_s``, ``commit_s``: medians over those).
   ``PASSES`` outlasts the usual ``--seconds``, so every run takes the
   medians over the same passes of the warm-up curve.

Between passes, untimed: a fresh output directory or table copy, the
output checks, the counters, a ``System.gc()``. With ``--trace 1`` the
measured passes after the first alternate traced and untraced; the
traced ones set one Spark job group per stage, and the status store and
management beans are read after each pass. The result is the last line of standard
output; a detail line (every pass's wall time, the host, the versions)
comes before it.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.stages import Timeline  # noqa: E402

WORKLOADS = ("logs_bulk", "lake_churn")
SETUPS = 3
# Traced runs: one untraced pass still steep on the warm-up curve, then
# traced (T) and untraced (U) passes in T U U T blocks, so a steady
# drift in pass time cancels out of the tracing overhead.
TRACE_ORDER = (True, False, False, True)
# The run must end within 180 s; stop starting passes well before.
DEADLINE_S = 160
MIN_COVERAGE = 0.9


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _shutdown() -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    kids = probes.descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _median(values):
    return statistics.median(values) if values else 0.0


class Runner:
    def __init__(self, spark, workload, probe):
        self.spark = spark
        self.wl = workload
        self.probe = probe
        self.attempted = 0
        self.failures: list[dict] = []

    def one_pass(self, k: int, traced: bool) -> dict:
        wl = self.wl
        wl.prepare(k)
        groups = probes.JobGroups(self.spark, f"pass{k}") if traced else None
        tl = Timeline(groups)
        self.probe.start()
        t0 = time.perf_counter()
        errors = wl.run(self.spark, tl, traced)
        t1 = time.perf_counter()
        wall = t1 - t0
        rec = {"pass": k, "traced": traced, "wall_s": wall}
        rec.update(self.probe.stop())
        if groups is not None:
            groups.close()
        errors += wl.check(self.spark)
        self.attempted += wl.attempted
        failed_ops = sorted({op for op, _ in errors})
        for op, msg in errors:
            self.failures.append({"pass": k, "op": op, "error": msg})
        rec["failed_ops"] = failed_ops
        rec["stages"] = dict(tl.walls)
        if not errors:
            rec["read_s"], rec["commit_s"] = wl.phases(tl, t0, t1)
        if traced:
            rec["jobs"] = groups.collect()
            covered = sum(tl.walls.values()) / wall
            rec["coverage"] = covered
            if covered < MIN_COVERAGE and not errors:
                raise RuntimeError(
                    f"named stages cover {covered:.0%} of traced pass {k}; "
                    f"the stage split has drifted from the program"
                )
        if not errors:
            rec.update(wl.table_stats(self.spark))
        gc.collect()
        rec["jvm.heap_live_mb"] = self.probe.heap_live_mb()
        return rec


def _end_to_end(setup_s, steady) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median([p["wall_s"] for p in steady]), "s"),
        "read_s": (_median([p["read_s"] for p in steady if "read_s" in p]), "s"),
        "commit_s": (_median([p["commit_s"] for p in steady if "commit_s" in p]), "s"),
    }


def _per_layer(first, steady) -> dict:
    from perfbench import lake_churn, logs_bulk

    traced = [p for p in steady if p["traced"]]
    plain = [p for p in steady[1:] if not p["traced"]]
    # One sample a run, so it is not an end-to-end metric: see NOTES.md.
    out = {"jvm.first_pass_s": (first["wall_s"], "s")}
    for stage in logs_bulk.STAGES:
        out[f"{stage}.wall_s"] = (_median([p["stages"].get(stage, 0.0) for p in traced]), "s")
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("busy_s", "s"), ("shuffle_mb", "MB")):
            vals = [p["jobs"].get(stage, {}).get(key, 0) for p in traced]
            out[f"{stage}.{key}"] = (_median(vals), unit)
    for op in lake_churn.STAGES:
        out[f"{op}.wall_s"] = (_median([p["stages"].get(op, 0.0) for p in traced]), "s")
        for key in ("jobs", "tasks"):
            vals = [p["jobs"].get(op, {}).get(key, 0) for p in traced]
            out[f"{op}.{key}"] = (_median(vals), "count")
    for stat, unit in zip(lake_churn.TABLE_STATS, ("MB", "count", "kB")):
        out[stat] = (_median([p.get(stat, 0.0) for p in steady]), unit)
    for key, unit in (
        ("jvm.cpu_s", "s"),
        ("jvm.jit_cpu_s", "s"),
        ("jvm.gc_s", "s"),
        ("jvm.heap_live_mb", "MiB"),
        ("python.cpu_s", "s"),
        ("host.steal_s", "s"),
    ):
        out[key] = (_median([p[key] for p in steady]), unit)
    out["jvm.rss_peak_mb"] = (max(p["jvm.rss_peak_mb"] for p in steady), "MiB")
    overhead = _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in plain])
    out["trace.overhead_s"] = (overhead, "s")
    return out


def main(argv=None) -> int:
    args = _args(argv)
    run_start = time.perf_counter()
    work = os.path.join(ROOT, "perfbench", ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = _isolate(work)
    try:
        from big_data_spark.session import get_spark

        host_start = probes.host_info()
        steal_start = probes.host_steal_s()
        module = importlib.import_module(f"perfbench.{args.workload}")
        wl = module.Workload(work, args.seed)
        wl.generate()

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        fixtures = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup(spark)
            fixtures.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(fixtures)
        wl.ready(spark)

        runner = Runner(spark, wl, probes.JvmProbe(spark))
        first = runner.one_pass(0, False)
        steady: list[dict] = []
        steady_start = time.perf_counter()
        cut = False
        while True:
            now = time.perf_counter()
            need = 1 + len(TRACE_ORDER) if args.trace else module.PASSES
            if len(steady) >= need and now - steady_start >= args.seconds:
                break
            last = (steady or [first])[-1]["wall_s"]
            if steady and now - run_start + 1.5 * last > DEADLINE_S:
                cut = True
                break
            n = len(steady)
            traced = bool(args.trace) and n > 0 and TRACE_ORDER[(n - 1) % len(TRACE_ORDER)]
            steady.append(runner.one_pass(1 + len(steady), traced))
        passes = [first] + steady
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {
                "nproc": host_start["nproc"],
                "load1_start": host_start["load1"],
                "load1_end": os.getloadavg()[0],
                "steal_s": probes.host_steal_s() - steal_start,
                **probes.versions(spark),
            },
            "session_s": session_s,
            "fixture_s": fixtures,
            "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
            "cut_by_deadline": cut,
            "failures": runner.failures[:20],
            "passes": passes,
        }
        if args.trace:
            metrics = _per_layer(first, steady)
        else:
            metrics = _end_to_end(setup_s, steady)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(len(p["failed_ops"]) for p in passes)
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
