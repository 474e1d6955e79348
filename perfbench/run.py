"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build_curate --seed 1 --seconds 5 --trace 0

Generates the seeded inputs (cached under ``.perfbench/inputs``), sets
up a ``local[nproc]`` Spark session with one untimed warm-up pass
(its CPU time is ``setup_s``), then runs passes one at a time (a
closed loop with one client) until ``--seconds`` have elapsed,
checking every pass's output; ``cpu_s`` is their median CPU time. The last stdout line is the JSON result; the line before it
holds the details (host pinning, input sizes, per-pass figures).

``--trace 1`` alternates untraced passes with traced ones (spans
around the calls into each layer, boundaries forced by persist +
count, Spark event log on) and reports the per-layer metrics instead
of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
STATE = REPO / ".perfbench"
DRIVER_MEM = "4g"  # local mode: the driver JVM is the executor


def host_pinning() -> dict:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM: no perf counter file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    return {"cpus": cpus, "driver_mem": DRIVER_MEM, "ram_mb": ram_kb // 1024,
            "python": platform.python_version()}


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and all its
    descendants, including children they have reaped. The guest kernel
    accounts time stolen by the hypervisor apart, so this does not grow
    when the host takes the CPUs away."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self.halt = threading.Event()

    def run(self):
        while not self.halt.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self.halt.wait(self.period)

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reap_children() -> None:
    left = descendants(os.getpid())
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while left and time.time() < deadline:
        left = [p for p in left if Path(f"/proc/{p}").exists()]
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pignlproc_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (REPO / "pignlproc_spark", REPO / "jobs" / "build_kg.py"):
        if not need.exists():
            print(f"benchmark needs the program source: {need} is missing", file=sys.stderr)
            return 2
    sys.path.insert(0, str(REPO))
    from perfbench import gen, layers, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    host = host_pinning()
    inputs = gen.ensure(args.seed, STATE / "inputs", oracle=workloads.WORKLOADS[args.workload].needs_oracle)
    sizes = json.loads((inputs / "sizes.json").read_text())
    work = STATE / "work" / f"{args.workload}-{os.getpid()}"
    events = work / "events"
    events.mkdir(parents=True, exist_ok=True)

    import pyspark

    from pignlproc_spark.session import get_session

    # keep Spark's block manager and the JVM's temp files inside the
    # checkout; the quotes keep a checkout path with spaces one JVM
    # option, and -UsePerfData keeps the JVM's perf counters out of /tmp
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    extra = {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f'-Duser.timezone=UTC -XX:-UsePerfData "-Djava.io.tmpdir={tmp}"',
    }
    if args.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    sampler = RssSampler()  # peak_rss_mb is a per-layer metric: no sampling in timed runs
    if args.trace:
        sampler.start()
    spark = None
    try:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        spark = get_session(app_name="perfbench", cpus=host["cpus"], extra_conf=extra)
        wl = workloads.WORKLOADS[args.workload](spark, inputs, work)
        wl.run_pass()  # the untimed warm-up pass
        spark.catalog.clearCache()
        setup_wall_s = time.perf_counter() - t0
        setup_s = tree_cpu_s(os.getpid()) - c0

        tracer = trace.Tracer(spark.sparkContext) if args.trace else None
        walls, cpus, traced_walls, batches, outputs, problems = [], [], [], [], [], []
        attempted = failed = 0
        start = time.perf_counter()
        while True:
            traced = bool(args.trace) and attempted % 2 == 1
            attempted += 1
            try:
                c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                if traced:
                    tracer.iteration += 1
                    with layers.instrumented(tracer), tracer.span(wl.name):
                        _, det = wl.run_pass()
                else:
                    _, det = wl.run_pass()
                dt = time.perf_counter() - t0
                cpu = tree_cpu_s(os.getpid()) - c0
                spark.catalog.clearCache()
                bad = wl.check()
                if traced and not bad:
                    outputs.append(layers.output_metrics(wl))
            except Exception as e:  # a failed pass is counted, the run goes on
                bad = [f"{type(e).__name__}: {e}"]
            if bad:
                failed += 1
                problems.extend(bad)
            else:
                if traced:
                    traced_walls.append(dt)
                else:
                    walls.append(dt)
                    cpus.append(cpu)
                    batches.extend(det.get("batches", []))
            if time.perf_counter() - start >= args.seconds and (not args.trace or traced):
                break
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        peak = sampler.stop() if args.trace else 0.0

    metrics = {}
    details = {"workload": args.workload, "seed": args.seed, "host": host, "spark": pyspark.__version__,
               "inputs": sizes, "setup_s": setup_s, "setup_wall_s": setup_wall_s, "wall_s": walls, "cpu_s": cpus, "batch_s": [
                   b["triggerExecution"] / 1000 for b in batches], "problems": problems[:20]}
    ok = failed == 0 and bool(walls) and (bool(traced_walls) or not args.trace)
    if args.trace and ok:
        details["traced_wall_s"] = traced_walls
        metrics = layers.layer_metrics(
            tracer, trace.task_metrics(events), walls, traced_walls, outputs, batches, sizes["pages"]
        )
        metrics["peak_rss_mb"] = {"value": peak, "unit": "MB"}
        tracer.write(work.parent / f"spans-{args.workload}-{args.seed}.jsonl")
    elif ok:
        metrics = {
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
