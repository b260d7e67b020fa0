#!/usr/bin/env python3
"""Benchmark of the reference streaming jobs and the batch headline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, builds a Spark session on local[nproc], sets up several times, runs
rounds (stream drains or query passes) for `--seconds` (at least one),
checks every output, and prints one JSON object as the last stdout line.

`--trace 0` reports the end-to-end metrics:
- setup_s: median of the workload's set-ups (three or five), each a
  session build plus one warm-up operation (the first also launches
  the JVM);
- throughput_per_s: generated events per second of drain wall time, or
  queries per second of query time;
- latency_geomean_ms: geometric mean of micro-batch `triggerExecution`
  or query (build plus row count) latency.
Each is scaled by the share of wanted CPU time the host granted while
it was timed (`spans.unstolen`), so that time a noisy neighbour takes
does not read as a regression. The line before the result gives the
wall-clock figures, p50 (p90 from 100 operations), peak RSS, the
failed-operation share and the host context; the artifact keeps both.

`--trace 1` also runs a traced phase and a single-core stream round and
reports the per-layer metrics (layers.py). A JSON artifact per run, and
the spans of a traced run, go to `.perfbench_work/artifacts/`.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str) -> int:
    """Pin cores and every scratch location inside the checkout.
    Must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "--driver-java-options",
            shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]),
    )
    time.tzset()
    return cpus


class Ctx:
    """What a workload round needs: the live session and the tracer."""

    def __init__(self, tracer) -> None:
        self.spark = None
        self.tracer = tracer
        self.tracing = False

    def span(self, name: str, layer: str):
        """A tracer span while the traced phase runs, else nothing."""
        return self.tracer.span(name, layer) if self.tracing else contextlib.nullcontext()


def new_session(ctx, master=None):
    from mvrs_dspa_spark.session import get_spark

    if ctx.spark is not None:
        ctx.spark.stop()
    ctx.spark = get_spark(master=master)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")


def measure(wl, ctx, seconds: float) -> list:
    rounds, t0 = [], time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        rounds.append(wl.round(ctx))
    return rounds


def ops_of(rounds) -> list:
    return [op for r in rounds for op in r["ops"]]


def end_to_end(wl, rounds, setups, granted: float = 1.0) -> dict:
    """Setup, throughput, and op latency as p50 and geometric mean (the
    batch queries differ tenfold in cost, and their p50 jumps between
    neighbours; the geometric mean weighs every query alike, as TPC's
    power metric does). Times are scaled by `granted`; `granted=1`
    gives the wall-clock figures."""
    ops = ops_of(rounds)
    lat = [op["latency_ms"] for op in ops]
    if wl.events:
        throughput = sum(r["events"] for r in rounds) / sum(r["wall_s"] for r in rounds)
    else:
        throughput = len(ops) / (sum(lat) / 1000.0)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "throughput_per_s": (throughput / granted, "1/s"),
        "latency_p50_ms": (statistics.median(lat) * granted, "ms"),
        "latency_geomean_ms": (statistics.geometric_mean(lat) * granted, "ms"),
    }


def host_context(ctx, cpus) -> dict:
    jvm = ctx.spark.sparkContext._jvm
    return {"nproc": cpus, "spark": ctx.spark.version,
            "jvm": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def shutdown(ctx) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    cpus = configure_env(run_dir)
    sys.path[:0] = [HERE, ROOT]
    import layers
    from spans import Tracer, host_ticks, peak_rss_mb, proc_cpu_s, unstolen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import mvrs_dspa_spark.plans.registry  # noqa: F401  (load every module before tracing)
    import mvrs_dspa_spark.streaming.jobs  # noqa: F401

    load_before = os.getloadavg()[0]
    ctx = Ctx(Tracer())
    marks = [("start", time.perf_counter())]
    try:
        wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "inputs"))
        marks.append(("inputs", time.perf_counter()))
        setups, setup_shares = [], []
        for _ in range(wl.setups):
            ticks, t0 = host_ticks(), time.perf_counter()
            new_session(ctx)
            wl.warmup(ctx)
            setups.append(time.perf_counter() - t0)
            setup_shares.append(unstolen(ticks, host_ticks()))
        host = host_context(ctx, cpus)
        marks.append(("setups", time.perf_counter()))
        checked = wl.check_pass(ctx) if hasattr(wl, "check_pass") else []
        marks.append(("check_pass", time.perf_counter()))
        ticks, cpu0 = host_ticks(), proc_cpu_s(ctx.spark)
        rounds = measure(wl, ctx, args.seconds)
        granted = unstolen(ticks, host_ticks())
        host.update(granted_cpu_share=granted, setup_granted_cpu_shares=setup_shares,
                    measure_cpu_s=proc_cpu_s(ctx.spark) - cpu0)
        wall = end_to_end(wl, rounds, setups)
        e2e = end_to_end(wl, rounds, [t * g for t, g in zip(setups, setup_shares)], granted)
        wall["peak_rss_mb"] = (peak_rss_mb(ctx.spark), "MB")
        marks.append(("measure", time.perf_counter()))
        per_layer, extra = layers.traced_phase(
            wl, ctx, args.seconds, rounds, granted, measure, new_session) if args.trace else (None, [])
        ops = checked + ops_of(rounds) + ops_of(extra)
        marks.append(("traced_phase", time.perf_counter()))
    finally:
        shutdown(ctx)
    marks.append(("shutdown", time.perf_counter()))
    host["phases_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    host["load1_before"], host["load1_after"] = load_before, os.getloadavg()[0]
    failed = sum(not op["ok"] for op in ops)
    report = layers.report(args, host, e2e, wall, per_layer, rounds, ops, failed, setups,
                           ctx.tracer, os.path.join(WORK, "artifacts"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
