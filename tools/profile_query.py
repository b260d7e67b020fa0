#!/usr/bin/env python3
"""Profile one or more registered queries: capture explain('formatted'),
time count() and noop-sink executions (steady-state min-of-3), count
the generated classes compiled during those timed runs and their
compile milliseconds, and summarize plan shape (Exchange count, join
strategies, Python nodes). A query that compiles classes in every timed
run generates different code each time it is built, so the codegen
class cache cannot serve it.

Usage: python tools/profile_query.py [--plans-out DIR] [--sf DIR] name...
"""
from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mvrs_dspa_spark.plans.registry import queries  # noqa: E402
from mvrs_dspa_spark.session import get_spark  # noqa: E402


def plan_shape(plan: str) -> str:
    counts = {}
    for pat in ("Exchange", "BroadcastHashJoin", "SortMergeJoin",
                "ShuffledHashJoin", "BroadcastNestedLoopJoin", "Sort ",
                "BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                "FlatMapGroupsInPandas", "MapInPandas", "Window",
                "HashAggregate", "ObjectHashAggregate", "SortAggregate",
                "Scan parquet"):
        n = len(re.findall(r"\b" + pat.strip(), plan))
        if n:
            counts[pat.strip()] = n
    return ", ".join(f"{k}={v}" for k, v in counts.items())


def codegen_compiled(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM: Spark counts
    a class only when its source misses the codegen class cache."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def timed(spark, runs: int, run) -> tuple[list[float], int, float]:
    """One untimed warm run, then `runs` timed ones: their seconds,
    classes compiled and compile ms."""
    run()
    n0, ms0 = codegen_compiled(spark)
    secs = []
    for _ in range(runs):
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        run()
        secs.append(time.perf_counter() - t0)
    n1, ms1 = codegen_compiled(spark)
    return secs, n1 - n0, ms1 - ms0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--plans-out", default=None,
                    help="write <name>_<suffix>.txt explain dumps here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-noop", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    q = queries()
    for name in args.names:
        df = q[name](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        if args.plans_out:
            os.makedirs(args.plans_out, exist_ok=True)
            with open(os.path.join(args.plans_out,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        tc, nc, msc = timed(spark, args.runs, lambda: q[name](spark, args.sf).count())
        tn, nn, msn = ([], 0, 0.0) if args.no_noop else timed(
            spark, args.runs,
            lambda: q[name](spark, args.sf).write.format("noop").mode("overwrite").save())
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: count_min={min(tc):.3f} "
              + (f"noop_min={min(tn):.3f} " if tn else "")
              + f"compiled={nc + nn} compile_ms={msc + msn:.1f} "
              + f"| {plan_shape(plan)}", flush=True)


if __name__ == "__main__":
    main()
