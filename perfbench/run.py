"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload elt_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; its cycles run closed-loop (the next starts when the previous
returns) until ``--seconds`` have elapsed, at least one cycle. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end
figures; with ``--trace 1`` the per-layer span figures of a separate
traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".perfbench")


class Run:
    """State of one run: the session, its scratch directory, timed samples
    per phase, and the count of operations and checks attempted/failed."""

    def __init__(self, spark, seed: int, run_dir: str, tracer, traced: bool):
        self.spark, self.seed, self.dir = spark, seed, run_dir
        self.tracer, self.traced = tracer, traced
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self._count_lock = threading.Lock()  # checks may run in threads
        self._cycle: dict[str, float] = defaultdict(float)

    @contextmanager
    def phase(self, name: str):
        """Time one phase; a cycle's sample of a phase is the sum of its
        timed blocks."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._cycle[name] += time.perf_counter() - t

    def end_cycle(self) -> None:
        for name, dt in self._cycle.items():
            self.samples[name].append(dt)
        self.samples["cycle"].append(sum(self._cycle.values()))
        self._cycle.clear()

    def _count(self, failed: bool) -> None:
        with self._count_lock:
            self.attempted += 1
            self.failed += failed

    def op(self, fn):
        """One engine operation; a raise counts as a failed operation."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - counted and reported, the run goes on
            self._count(True)
            traceback.print_exc(file=sys.stderr)
            return None
        self._count(False)
        return out

    def check(self, what: str, ok: bool) -> None:
        self._count(not ok)
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _gc_s(spark) -> float:
    """Total time the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _calibration_s(spark) -> float:
    """CPU probe (best of 2): a codegen'd sum, no IO, no shuffle. Numbers
    from boxes whose probes differ are not comparable."""
    best = float("inf")
    for _ in range(2):
        t = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id * 2 + 1)").collect()
        best = min(best, time.perf_counter() - t)
    return best


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    sys.path.insert(0, BENCH_DIR)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers behind the index refreshes import the engine: they
    # need the repository on their path, inherited through the JVM.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    load = os.getloadavg()

    t_setup = time.perf_counter()
    try:
        from de_final_project_spark.session import get_spark
        import workloads
        from spans import NullTracer, Tracer
    except ImportError as e:
        print(f"cannot import the engine from {REPO}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status REST API behind the tracer needs the UI
            "spark.ui.enabled": str(bool(args.trace)).lower(),
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep the JVM's temp files (and its perf-data file, which
            # ignores java.io.tmpdir) out of the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        traced = bool(args.trace)
        tracer = Tracer(spark, f"{args.workload}-s{args.seed}") if traced else NullTracer()
        run = Run(spark, args.seed, run_dir, tracer, traced)
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(run)
        setup_s = time.perf_counter() - t_setup

        t_loop = time.perf_counter()
        i = 0
        while True:
            i += 1
            wl.cycle(run, i)
            run.end_cycle()
            if time.perf_counter() - t_loop >= args.seconds:
                break
        loop_s = time.perf_counter() - t_loop
        t_check = time.perf_counter()
        run.op(lambda: wl.check(run))
        check_s = time.perf_counter() - t_check

        if traced:
            names = [s for w in workloads.WORKLOADS.values() for s in w.spans]
            metrics = tracer.summary(names)
            counters = {}
            for w in workloads.WORKLOADS.values():
                counters.update({k: 0.0 for k in w.counter_names})
            counters.update(wl.counters(run))
            metrics.update(counters)
            metrics["trace.overhead_s"] = tracer.overhead_s
            metrics["trace.overhead_frac"] = tracer.overhead_s / (setup_s + loop_s)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            med = lambda k: statistics.median(run.samples[k])  # noqa: E731
            metrics = {
                "setup_s": setup_s,
                "cycle_p50_s": med("cycle"),
                "write_p50_s": med("write"),
                "refresh_p50_s": med("refresh"),
                "read_p50_s": med("read"),
                "peak_rss_mb": _peak_rss_mb(spark),
                "ok_frac": 1.0 - run.failed / max(1, run.attempted),
            }
        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "loadavg_at_start": load,
            "gc_s": _gc_s(spark),
            "calibration_s": _calibration_s(spark),
            "cycles": len(run.samples["cycle"]),
            "setup_s": setup_s, "loop_s": loop_s, "check_s": check_s,
            "samples": run.samples,
        }
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    # names and units come from the benchmark's declaration, so the two
    # cannot drift apart; a declared metric the run did not produce raises
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
        },
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"env": env, **result}, f, indent=1)
    print(json.dumps({"env": {k: v for k, v in env.items() if k != "samples"}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
