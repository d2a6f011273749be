"""Spans, percentiles, host readings and Spark engine counters.

Everything here is benchmark-side: spans wrap calls *into* the package from
outside it, and are kept in memory until the run writes them out.
"""

from __future__ import annotations

import json
import os
import resource
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

#: candidate percentiles in tenths of a percent, highest first
_PCTS = (999, 990, 980, 950, 900, 750, 500)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, -(-len(xs) * pct // 100))  # ceil(n * pct / 100)
    return float(xs[int(rank) - 1])


@dataclass(frozen=True)
class Tail:
    n: int  # sample count
    pct: float  # highest percentile with >= 10 samples beyond it; 100 = max
    value: float


def tail(values) -> Tail:
    """The highest percentile that leaves at least ten samples beyond it.
    Below 20 samples no percentile qualifies and the maximum is reported
    (``pct`` = 100)."""
    xs = list(values)
    n = len(xs)
    for q in _PCTS:
        if n * (1000 - q) >= 10 * 1000:
            return Tail(n, q / 10, percentile(xs, q / 10))
    return Tail(n, 100.0, float(max(xs)) if xs else float("nan"))


def median(values) -> float:
    xs = sorted(values)
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes ``span`` a no-op
    context that still yields a throwaway span, so call sites stay the same
    on traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), attrs=dict(attrs))
        if not self.enabled:
            yield s
            return
        s.parent = self._stack[-1] if self._stack else None
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "run_id": self.run_id, "id": i, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


def patch_layer(tracer: Tracer, module, attr: str, layer: str, materialize,
                count_input: bool = False, restore: list | None = None) -> bool:
    """Wrap ``module.attr`` so each call made while ``tracer.enabled`` records
    a ``layer`` span and its DataFrame result is materialized at the boundary
    (Spark is lazy: without this the work would be billed to whichever layer
    collects first).  With ``count_input`` the first DataFrame argument is
    materialized before the span opens, so the span holds only this layer's
    own work.  While the tracer is off the wrapper calls straight through.
    Returns False (and leaves the module alone) if the name is gone."""
    orig = getattr(module, attr, None)
    if orig is None:
        return False

    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        if count_input and args:
            df, n_in = materialize(args[0])
            args = (df, *args[1:])
        with tracer.span(layer) as s:
            out = orig(*args, **kwargs)
            out, n_out = materialize(out)
            s.attrs["rows_out"] = n_out
            if count_input and args:
                s.attrs["rows_in"] = n_in
        return out

    setattr(module, attr, wrapper)
    if restore is not None:
        restore.append((module, attr, orig))
    return True


# ---------------------------------------------------------------------------
# host and process readings
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(fields[:8]), (fields[7] if len(fields) > 7 else 0)


def host_info(cpu0: tuple[int, int]) -> dict:
    total0, steal0 = cpu0
    total1, steal1 = cpu_times()
    dt = max(1, total1 - total0)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "steal_pct": 100.0 * (steal1 - steal0) / dt,
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the Spark driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# Spark engine counters (status store; not affected by CPU steal)
# ---------------------------------------------------------------------------


class SparkCounters:
    """Jobs / stages / tasks / shuffle bytes completed since ``mark()``."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._job0 = self._stage0 = -1

    def _jobs(self):
        return self._as_java(self._store.jobsList(None))

    def _stages(self):
        # (statuses, details, withSummaries, quantiles, taskStatus)
        return self._as_java(
            self._store.stageList(None, False, False, self._no_quantiles, None))

    def _max_ids(self) -> tuple[int, int]:
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        return max(jobs, default=-1), max(stages, default=-1)

    def mark(self) -> None:
        self._job0, self._stage0 = self._max_ids()

    def read(self) -> dict:
        time.sleep(0.2)  # the status listener runs on the async event bus
        jobs = sum(1 for j in self._jobs() if j.jobId() > self._job0)
        stages = tasks = shuffle = 0
        for s in self._stages():
            if s.stageId() > self._stage0 and s.status().toString() != "SKIPPED":
                stages += 1
                tasks += s.numTasks()
                shuffle += s.shuffleWriteBytes()
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "shuffle_write_bytes": shuffle}
