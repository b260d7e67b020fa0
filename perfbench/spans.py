"""In-memory span recorder and the counters read at layer boundaries.

Spans are recorded from the benchmark's own code, around its calls into
the program's public functions (`tables.table`, plan builders,
`functions/minhash`, the stream jobs, the sink it supplies). Nothing in
the program is edited: instrumentation rebinds module globals for the
duration of the traced phase and restores them afterwards.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import resource
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, layer, start, duration, parent) plus py4j call counts.

    Parents come from a per-thread stack; spans opened on a thread with
    an empty stack (Spark's foreachBatch callback thread) stay roots and
    are parented to their micro-batch by time afterwards.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._anchor_epoch_ms = time.time() * 1000.0
        self._anchor_perf = time.perf_counter()
        self._undo: list[tuple[object, str, object]] = []

    def epoch_ms(self, perf: float | None = None) -> float:
        perf = time.perf_counter() if perf is None else perf
        return self._anchor_epoch_ms + (perf - self._anchor_perf) * 1000.0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"id": next(self._ids), "parent": stack[-1]["id"] if stack else None,
               "name": name, "layer": layer, **attrs}
        stack.append(rec)
        calls0, cpu0, t0 = self.py4j_calls, time.thread_time(), time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec.update(start_ms=self.epoch_ms(t0), dur_ms=(t1 - t0) * 1000.0,
                       cpu_ms=(time.thread_time() - cpu0) * 1000.0,
                       py4j_calls=self.py4j_calls - calls0)
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, **rec) -> dict:
        """Record a span measured elsewhere (a Spark micro-batch)."""
        rec["id"] = next(self._ids)
        with self._lock:
            self.spans.append(rec)
        return rec

    # -- instrumentation ------------------------------------------------------

    def _rebind(self, func, wrapper, package: str) -> None:
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._undo.append((mod, attr, func))
                    setattr(mod, attr, wrapper)

    def wrap_everywhere(self, func, layer: str, package: str = "mvrs_dspa_spark") -> None:
        """Route every module-level binding of `func` in `package`
        through a span of `layer`."""

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with self.span(f"{func.__module__.rsplit('.', 1)[-1]}.{func.__name__}", layer):
                return func(*args, **kwargs)

        self._rebind(func, wrapper, package)

    def count_py4j_calls(self, gateway_client) -> None:
        """Count py4j CALL commands only. Memory commands (proxy garbage
        collection), reflection and constructor commands depend on when
        Python collects its proxies, so they do not repeat run to run."""
        send = gateway_client.send_command

        def counting_send(command, *args, **kwargs):
            if command.startswith("c\n"):
                with self._lock:
                    self.py4j_calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counting_send
        self._undo.append((gateway_client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)  # instance attribute shadowing the method
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def status_store_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and stages from Spark's status store, as JSON.

    One Jackson serialization per list instead of a py4j call per field.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    store = jsc.statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    return jobs, {s["stageId"]: s for s in stages}


def jvm_gc(spark) -> tuple[int, int]:
    """(collections, collection ms) summed over the driver JVM's collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    count = ms = 0
    for bean in beans:
        count += max(0, bean.getCollectionCount())
        ms += max(0, bean.getCollectionTime())
    return count, ms


def host_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole host from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def unstolen(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the wanted CPU time the hypervisor actually granted
    between two `host_ticks()` readings: busy / (busy + steal).

    Steal accrues only while a virtual CPU is runnable, so the share
    is of the CPU time the machine wanted, whether it wanted little or
    much. Scaling a time by it is linear; stolen time that delays a
    stage's last task or a serial driver step costs more than that, so
    the scaled figures still rise under steal, only less."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def proc_cpu_s(spark) -> float:
    """CPU seconds used so far by this process and the gateway JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        jvm = f.read().rsplit(")", 1)[1].split()
    py = os.times()
    return py.user + py.system + (int(jvm[11]) + int(jvm[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
