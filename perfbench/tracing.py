"""In-memory spans, per-layer counters and host-noise probes.

A span wraps one of the benchmark's own calls into a layer of the
program (name, start, end, parent). Spans stay in memory and are written
out once, at the end of a traced run, together with each layer's self
time: the span's duration minus the part of it that child spans cover.
With tracing off every call is a no-op, so the untraced run measures the
program alone.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        #: wall time the tracer itself spent in probes (profiler reads,
        #: metric-table scans, job listings): the tracing overhead
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def probe(self):
        """Charge the enclosed bookkeeping to the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> Dict[str, float]:
        """Seconds of self time per layer (the span name up to its
        first dot), summed over spans."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "trace": self.trace_id,
                    "spans": [
                        {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                        for s in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )


def cpu_ticks():
    """(busy, idle, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy, v[3] + v[4], v[7] if len(v) > 7 else 0


def steal_share(before, after) -> float:
    """Share of the CPUs' time the hypervisor stole between two
    ``cpu_ticks()`` readings."""
    (b0, i0, s0), (b1, i1, s1) = before, after
    total = (b1 - b0) + (i1 - i0) + (s1 - s0)
    return (s1 - s0) / total if total else 0.0


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(int(b.getCollectionTime()) for b in beans.getGarbageCollectorMXBeans())


class HostWindow:
    """Host CPU shares and JVM GC time over one stretch of a run."""

    def __init__(self, spark):
        self._spark = spark
        self._ticks = cpu_ticks()
        self._gc = jvm_gc_ms(spark)

    def close(self) -> Dict[str, float]:
        b0, i0, s0 = self._ticks
        b1, i1, s1 = cpu_ticks()
        total = (b1 - b0) + (i1 - i0) + (s1 - s0) or 1
        return {
            "busy_pct": 100.0 * (b1 - b0) / total,
            "steal_pct": 100.0 * (s1 - s0) / total,
            "gc_ms": float(jvm_gc_ms(self._spark) - self._gc),
        }


def jvm_pid(spark) -> Optional[int]:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid(spark)
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
