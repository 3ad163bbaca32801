#!/usr/bin/env python3
"""ves_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from anywhere; the program under test is the ``ves_spark`` package
in the checkout that holds this directory. Workloads (see README.md):

* ``ingest``  : a bulk batch through ``Pipeline.run()``, then three
  watch-mode appends, each with the drift leg and the serve calls;
* ``queries`` : all 50 ``ves_spark.queries`` entries, one collect each.

The measured phase repeats the workload's round until ``--seconds``
have passed (at least one round). Every output is checked, untimed.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the ``end_to_end`` metrics of
BENCHMARK.json, with ``--trace 1`` its ``per_layer`` metrics (layers a
workload does not exercise read 0).

Everything a run writes stays under ``<checkout>/.perfbench/``: a
scratch dir per run (removed at exit), oracle and untraced-wall caches,
and the span dumps of traced runs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("ingest", "queries")
SETUP_SAMPLES = 2
TIME_LIMIT_S = 170  # a run must end within 180 s; keep some slack
DRIVER_MEM = "2g"
NO_PERFDATA = "-XX:-UsePerfData"
FIXED_HEAP = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def prepare_env(work: str) -> int:
    """Pin parallelism to this box and keep every scratch path inside
    the checkout. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVMs write hsperfdata under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERFDATA
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def start_session(work: str, cpus: int, event_log: str | None = None):
    from ves_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp {NO_PERFDATA} {FIXED_HEAP}"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


class Ctx:
    """What a workload sees: the session, its dirs, and the recorders
    for timed operations, checks and per-layer values."""

    def __init__(self, spark, args, work: str, tracer) -> None:
        self.spark, self.work, self.tracer = spark, work, tracer
        self.seed, self.size, self.corrupt = args.seed, args.size, args.corrupt
        self.cache = os.path.join(STATE, "cache")
        self.ops: list[tuple[str, float]] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.last_span_id: int | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def job_group(self, group: str):
        if self.tracer is None:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def op(self, name: str, fn):
        """Time one user-facing operation; returns (result, seconds)."""
        self.attempted += 1
        with self.span(name) as rec:
            t0 = time.perf_counter()
            out = fn()
            secs = time.perf_counter() - t0
        self.last_span_id = rec["id"] if rec else None
        self.ops.append((name, secs))
        return out, secs

    def verify(self, problems: list[str]) -> None:
        """Outcome of the check of the last operation."""
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def run_rounds(ctx, workload, seconds: float, work: str) -> list[float]:
    """Repeat the workload's round until ``seconds`` passed; returns the
    per-round wall (sum of its operations). A traced run does one round,
    so its span totals and per-round figures describe the same work."""
    walls = []
    t_end = time.perf_counter() + (0 if ctx.tracer else seconds)
    while True:
        n0 = len(ctx.ops)
        ctx.work = os.path.join(work, f"round{len(walls)}")
        os.makedirs(ctx.work)
        workload.run(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)
        walls.append(sum(s for _, s in ctx.ops[n0:]))
        if time.perf_counter() >= t_end:
            return walls


def run_child(cmd: list[str], timeout: float) -> str:
    """Run a child in its own process group and return its stdout. On
    timeout the whole group (its Spark JVM too) is killed and reaped."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd)
    return out


def untraced_wall(args) -> float | None:
    """Median wall_s of earlier untraced runs of this workload and size.
    If there is none, one untraced run (without set-up probes) is made
    first, unless it cannot end within the run's time limit."""
    path = os.path.join(STATE, "cache", f"untraced-{args.workload}-{args.size}.jsonl")
    if not os.path.exists(path):
        cmd = [sys.executable, __file__, "--workload", args.workload, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--size", args.size, "--setup-samples", "1"]
        try:
            run_child(cmd, TIME_LIMIT_S - since_process_start())
        except subprocess.TimeoutExpired:
            print("perfbench: no untraced wall in time, trace_overhead_frac "
                  "not measured", file=sys.stderr)
            return None
    with open(path) as f:
        return statistics.median(json.loads(line)["wall_s"] for line in f)


def setup_probe() -> None:
    """One cold set-up (process start -> session ready), printed."""
    work = os.path.join(STATE, "work", f"probe-{os.getpid()}")
    try:
        spark = start_session(work, prepare_env(work))
        print(json.dumps({"setup_s": since_process_start()}), flush=True)
        stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def clean_stale_work() -> None:
    """Remove scratch dirs left by runs that were killed."""
    root = os.path.join(STATE, "work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def measure(args, work: str):
    """Set up, run the workload's rounds, and collect metric values."""
    cpus = prepare_env(work)
    tracer = None
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, cpus, event_log)
    setups = [since_process_start()]
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install_program_wrappers()
    if args.workload == "ingest":
        import ingest as workload
    else:
        import querysuite as workload

    ctx = Ctx(spark, args, work, tracer)
    crashed = None
    try:
        rounds = run_rounds(ctx, workload, args.seconds, work)
    except Exception as e:  # a crash counts as a failed operation
        traceback.print_exc()
        crashed = f"{type(e).__name__}: {e}"
        ctx.failed += 1
        ctx.problems.append(crashed)
        rounds = [sum(s for _, s in ctx.ops)]
    rss = peak_rss_mb()
    stop_session(spark)
    if not args.trace:
        # more cold set-ups, each in a fresh process on the now idle box
        for _ in range(args.setup_samples - 1):
            out = run_child([sys.executable, __file__, "--setup-probe"], 60)
            setups.append(json.loads(out.strip().splitlines()[-1])["setup_s"])

    wall = statistics.median(rounds)
    secs = [s for _, s in ctx.ops] or [float("nan")]
    values = {
        "setup_s": statistics.median(setups),
        "peak_rss_mb": rss,
        "wall_s": wall,
        "op_geomean_s": math.exp(sum(math.log(s) for s in secs) / len(secs)),
    }
    if args.trace:
        from tracing import parse_event_log

        log = parse_event_log(event_log)
        groups = log.pop("jobs_by_group")
        values.update(log)
        inc = [n for g, n in groups.items() if g.startswith("increment-")]
        values["spark.jobs_per_increment"] = statistics.mean(inc) if inc else 0
        if args.workload == "queries":
            workload.trace_layers(ctx, groups)
        values.update(ctx.layer)
        base = None if crashed else untraced_wall(args)
        if base:
            values["trace_overhead_frac"] = wall / base - 1
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            STATE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        ))
    elif not crashed and not ctx.failed:
        path = os.path.join(STATE, "cache", f"untraced-{args.workload}-{args.size}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": wall}) + "\n")
    return ctx, values, crashed


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the self-test's few-thousand-row inputs")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb one output before its check (self-test)")
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--setup-samples", type=int, default=SETUP_SAMPLES, help=argparse.SUPPRESS)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ves_spark", "pipeline.py")):
        print(f"perfbench: no ves_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.setup_probe:
        setup_probe()
        return 0
    if args.workload is None:
        p.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    try:
        ctx, values, crashed = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        clean_stale_work()  # after set-up, which it would otherwise inflate

    for name, s in ctx.ops:
        print(f"perfbench: {name} {s:.3f} s", file=sys.stderr)
    for msg in ctx.problems:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())
