"""Traced phase, per-layer metrics, and the run report.

Per-layer metrics are means per operation (micro-batch or query) over
the traced rounds, unless the name says otherwise. Layers:

- tables: `tables.table` calls (schema resolution; Spark jobs inside);
- plans: registry plan builders (Python construction, py4j, eager jobs);
- minhash: calls into `functions/minhash`;
- catalyst: physical planning of the built DataFrame (queries);
- exec: Spark jobs of the operation, from the status store, timed as
  the union of their submission-to-completion intervals;
- microbatch / state / source / sink: Spark's streaming progress, the
  state operators, input rows re-read, and the sink;
- driver: the residual, the part of an operation's wall time no leaf
  layer accounts for (driver work between and around Spark jobs);
- jvm: driver garbage collection.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import time

from spans import host_ticks, jvm_gc, status_store_snapshot, unstolen
from workloads import PHASES

PHASE_KEYS = {p: "".join("_" + c.lower() if c.isupper() else c for c in p) for p in PHASES}

#: The end-to-end metrics the result line carries (BENCHMARK.json).
END_TO_END = ("setup_s", "throughput_per_s", "latency_geomean_ms")

PER_LAYER_UNITS = {
    "tables.calls": "count", "tables.ms": "ms", "tables.jobs": "count",
    "plans.build_ms": "ms", "plans.build_cpu_ms": "ms", "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "minhash.build_ms": "ms", "minhash.py4j_calls": "count",
    "catalyst.plan_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_cpu_ms": "ms",
    **{f"microbatch.{k}_{s}_ms": "ms" for k in PHASE_KEYS.values() for s in ("p50", "sum")},
    "state.commit_ms": "ms", "state.rows_total": "count", "state.rows_updated": "count",
    "state.memory_bytes": "bytes", "state.rows_dropped_by_watermark": "count",
    "source.rows_read_per_event": "ratio",
    "sink.write_ms": "ms", "sink.files": "count",
    "driver.residual_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "scaling.speedup_vs_1core": "ratio",
    "trace.overhead_share": "ratio", "trace.unaccounted_share_max": "ratio",
    "trace.py4j_count_mismatches": "count",
}


def _instrument(ctx) -> None:
    from mvrs_dspa_spark import tables
    from mvrs_dspa_spark.functions import minhash

    tr = ctx.tracer
    tr.count_py4j_calls(ctx.spark.sparkContext._gateway._gateway_client)
    tr.wrap_everywhere(tables.table, "tables")
    for _, fn in inspect.getmembers(minhash, inspect.isfunction):
        if fn.__module__ == minhash.__name__ and not fn.__name__.startswith("_"):
            tr.wrap_everywhere(fn, "minhash")


def traced_phase(wl, ctx, seconds, untraced, granted, measure, new_session):
    """Trace at least two rounds, then time one stream round on one core.
    Returns the per-layer metrics and the rounds run, whose output was
    checked like any other.
    Ratios to the untraced rounds compare times scaled by the CPU share
    the host granted in each phase (see `spans.unstolen`)."""
    tr = ctx.tracer
    _instrument(ctx)
    ctx.tracing = True
    gc0, t_start, ticks = jvm_gc(ctx.spark), tr.epoch_ms(), host_ticks()
    try:
        rounds = measure(wl, ctx, seconds)
        if len(rounds) < 2:
            rounds += measure(wl, ctx, 0)
    finally:
        ctx.tracing = False
        tr.uninstall()
    traced_granted = unstolen(ticks, host_ticks())
    gc1 = jvm_gc(ctx.spark)
    jobs, stages = status_store_snapshot(ctx.spark)
    jobs = [j for j in jobs if (j.get("submissionTime") or 0) >= t_start]
    metrics = layer_metrics(wl, tr, rounds, jobs, stages)
    n_ops = sum(len(r["ops"]) for r in rounds)
    metrics["jvm.gc_count"] = (gc1[0] - gc0[0]) / n_ops
    metrics["jvm.gc_ms"] = (gc1[1] - gc0[1]) / n_ops
    lat = lambda rs: statistics.geometric_mean(op["latency_ms"] for r in rs for op in r["ops"])
    metrics["trace.overhead_share"] = (
        lat(rounds) * traced_granted / (lat(untraced) * granted) - 1.0)

    extra = list(rounds)
    if wl.events:  # a query pass on one core would not fit the run's time limit
        new_session(ctx, master="local[1]")
        wl.warmup(ctx)
        ticks = host_ticks()
        one_core = measure(wl, ctx, 0)
        one_core_granted = unstolen(ticks, host_ticks())
        wall = lambda rs: statistics.median(r["wall_s"] for r in rs)
        metrics["scaling.speedup_vs_1core"] = (
            wall(one_core) * one_core_granted / (wall(untraced) * granted))
        extra += one_core
    return {k: (float(metrics.get(k, 0.0)), u) for k, u in PER_LAYER_UNITS.items()}, extra


def _union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(wl, tr, rounds, jobs, stages) -> dict:
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    ops = [op for r in rounds for op in r["ops"]]
    stream = bool(wl.events)
    if stream:
        # one op span per micro-batch, parented to its drain by time;
        # callback-thread spans are parented to their micro-batch
        drains = [s for s in spans if s["layer"] == "drain"]
        for op in ops:
            end = op["start_ms"] + op["latency_ms"]
            drain = next((d["id"] for d in drains
                          if d["start_ms"] <= op["start_ms"] <= d["start_ms"] + d["dur_ms"]), None)
            op["span"] = tr.add(name=op["name"], layer="op", parent=drain,
                                start_ms=op["start_ms"], dur_ms=op["latency_ms"])["id"]
            for s in spans:
                if s["parent"] is None and s["layer"] not in ("drain", "op") \
                        and op["start_ms"] <= s["start_ms"] <= end:
                    s["parent"] = op["span"]
        by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None and s["parent"] in by_id:
            s = by_id[s["parent"]]
            yield s

    def outermost(layer):
        return [s for s in spans if s["layer"] == layer
                and any(a["layer"] == "op" for a in ancestors(s))
                and not any(a["layer"] == layer for a in ancestors(s))]

    def jobs_in(intervals):
        return [j for j in jobs if any(a <= j["submissionTime"] <= b for a, b in intervals)]

    iv = lambda ss: [(s["start_ms"], s["start_ms"] + s["dur_ms"]) for s in ss]
    n = len(ops)
    m: dict[str, float] = {}
    t_spans, p_spans, mh_spans = outermost("tables"), outermost("plans"), outermost("minhash")
    m["tables.calls"] = len(t_spans) / n
    m["tables.ms"] = sum(s["dur_ms"] for s in t_spans) / n
    table_jobs = jobs_in(iv(t_spans))
    m["tables.jobs"] = len(table_jobs) / n
    m["plans.build_ms"] = sum(s["dur_ms"] for s in p_spans) / n
    m["plans.build_cpu_ms"] = sum(s["cpu_ms"] for s in p_spans) / n
    m["plans.py4j_calls"] = sum(s["py4j_calls"] for s in p_spans) / n
    table_ids = {j["jobId"] for j in table_jobs}
    m["plans.eager_jobs"] = sum(j["jobId"] not in table_ids for j in jobs_in(iv(p_spans))) / n
    m["minhash.build_ms"] = sum(s["dur_ms"] for s in mh_spans) / n
    m["minhash.py4j_calls"] = sum(s["py4j_calls"] for s in mh_spans) / n
    m["catalyst.plan_ms"] = sum(s["dur_ms"] for s in outermost("catalyst")) / n

    # exec: the jobs submitted in a query's exec span, or in a
    # micro-batch. Coverage: the leaf layers of an op against its wall
    # time. A query's leaves are plans (tables inside), catalyst and its
    # jobs; a micro-batch's are Spark's phase timers outside addBatch,
    # and inside it the jobs plus the spans on the callback thread. The
    # rest is driver residual, which no layer times.
    exec_ms, residual_ms, seen_stages, job_ids = 0.0, 0.0, set(), set()
    unaccounted = []
    for op in ops:
        span = by_id[op["span"]]
        window = (span["start_ms"], span["start_ms"] + span["dur_ms"])
        children = [s for s in spans if s["parent"] == span["id"]]
        op_jobs = jobs_in([window] if stream else iv(s for s in children if s["layer"] == "exec"))
        job_ids.update(j["jobId"] for j in op_jobs)
        seen_stages.update(sid for j in op_jobs for sid in j["stageIds"])
        job_iv = [(j["submissionTime"], j.get("completionTime") or j["submissionTime"])
                  for j in op_jobs]
        jobs_ms = _union_ms(job_iv)
        exec_ms += jobs_ms
        if stream:
            d = op["progress"]["durationMs"]
            if "sink_ms" not in op:
                op["sink_ms"] = max(0.0, d.get("addBatch", 0) - jobs_ms)
            inside = job_iv + iv(s for s in children if s["layer"] != "exec")
            clipped = [(max(a, window[0]), min(b, window[1])) for a, b in inside]
            covered = (sum(d.get(p, 0) for p in PHASES if p != "addBatch")
                       + _union_ms((a, b) for a, b in clipped if b > a))
        else:
            covered = jobs_ms + sum(s["dur_ms"] for s in children
                                    if s["layer"] in ("plans", "catalyst"))
        residual = span["dur_ms"] - covered
        residual_ms += residual
        if span["dur_ms"] > 0:
            unaccounted.append(abs(residual) / span["dur_ms"])
    run_stages = [stages[s] for s in seen_stages if s in stages and stages[s]["status"] != "SKIPPED"]
    m["exec.ms"] = exec_ms / n
    m["exec.jobs"] = len(job_ids) / n
    m["exec.stages"] = len(run_stages) / n
    m["exec.tasks"] = sum(s["numCompleteTasks"] for s in run_stages) / n
    m["exec.shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in run_stages) / n
    m["exec.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in run_stages) / n
    m["exec.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run_stages) / n
    m["exec.task_cpu_ms"] = sum(s["executorCpuTime"] for s in run_stages) / 1e6 / n
    m["driver.residual_ms"] = residual_ms / n
    m["trace.unaccounted_share_max"] = max(unaccounted) if unaccounted else 0.0

    if stream:
        for phase, key in PHASE_KEYS.items():
            vals = [op["progress"]["durationMs"].get(phase, 0) for op in ops]
            m[f"microbatch.{key}_p50_ms"] = statistics.median(vals)
            m[f"microbatch.{key}_sum_ms"] = sum(vals) / len(rounds)
        state = [op["progress"]["stateOperators"] for op in ops]
        m["state.commit_ms"] = sum(o["commitTimeMs"] for s in state for o in s) / n
        m["state.rows_updated"] = sum(o["numRowsUpdated"] for s in state for o in s) / n
        m["state.rows_dropped_by_watermark"] = sum(
            o["numRowsDroppedByWatermark"] for s in state for o in s)
        last = [r["ops"][-1]["progress"]["stateOperators"] for r in rounds]
        m["state.rows_total"] = sum(o["numRowsTotal"] for s in last for o in s) / len(rounds)
        m["state.memory_bytes"] = sum(o["memoryUsedBytes"] for s in last for o in s) / len(rounds)
        m["source.rows_read_per_event"] = (
            sum(op["progress"]["numInputRows"] for op in ops) / sum(r["events"] for r in rounds))
        sink_spans = outermost("sink")
        m["sink.write_ms"] = (sum(s["dur_ms"] for s in sink_spans) if sink_spans
                              else sum(op["sink_ms"] for op in ops)) / n
        m["sink.files"] = sum(r.get("sink_files", 0) for r in rounds) / n

    # a py4j call count is recorded only if it repeats exactly: same
    # query (or same micro-batch position) must cost the same calls
    groups: dict[str, set] = {}
    for s in p_spans + mh_spans:
        op_span = next(a for a in ancestors(s) if a["layer"] == "op")
        key = f"{s['name']}@{op_span['name']}"
        groups.setdefault(key, set()).add(s["py4j_calls"])
    m["trace.py4j_count_mismatches"] = sum(len(v) > 1 for v in groups.values())
    return m


def _summary(args, e2e, wall, rounds, ops, failed, host) -> str:
    """One human-readable line: the wall-clock figures under the names
    the stream and batch literature uses, the steal-scaled ones, and
    the host context."""
    lat = [op["latency_ms"] for r in rounds for op in r["ops"]]
    events = bool(rounds and rounds[0]["events"])
    op = "batch" if events else "query"
    named = {
        ("events_per_s" if events else "queries_per_s"): wall["throughput_per_s"],
        f"{op}_latency_p50_ms": wall["latency_p50_ms"],
        f"{op}_latency_geomean_ms": wall["latency_geomean_ms"],
    }
    if len(lat) >= 100:
        named[f"{op}_latency_p90_ms"] = (statistics.quantiles(lat, n=10)[-1], "ms")
    named.update(setup_s=wall["setup_s"], peak_rss_mb=wall["peak_rss_mb"],
                 failed_ops_share=(failed / max(1, len(ops)), "ratio"))
    named.update({f"unstolen.{k}": v for k, v in e2e.items()})
    parts = [f"{k}={v:.6g} {u}" for k, (v, u) in named.items()]
    return (f"perfbench workload={args.workload} seed={args.seed} ops={len(lat)} "
            + " ".join(parts) + " host=" + json.dumps(host, sort_keys=True))


def report(args, host, e2e, wall, per_layer, rounds, ops, failed, setups, tracer, out_dir) -> str:
    """Write the run artifact, print the summary line, return the result line."""
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    slim = lambda rs: [{"wall_s": r["wall_s"], "events": r["events"], "error": r.get("error"),
                        "mismatches": r.get("mismatches"),
                        "ops": [{k: op.get(k) for k in ("name", "latency_ms", "ok")} for op in r["ops"]]}
                       for r in rs]
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "setups_s": setups,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "wall_clock": {k: {"value": v, "unit": u} for k, (v, u) in wall.items()},
        "per_layer": per_layer and {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        "attempted": len(ops), "failed": failed, "rounds": slim(rounds),
        "written_at": time.time(),
    }
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    print(_summary(args, e2e, wall, rounds, ops, failed, host))
    metrics = per_layer if args.trace else {k: e2e[k] for k in END_TO_END}
    return json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
