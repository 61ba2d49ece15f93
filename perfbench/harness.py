"""Measurement primitives shared by the workloads: spans, Spark's status
store, peak RSS, percentiles and the output checks ledger.

Nothing here touches the package under test except through its public
``get_spark``; everything is read from outside the program.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end.

    ``span`` always yields a timer, because the end-to-end metrics are
    measured on the same boundaries; the span record itself is kept only
    when tracing is on."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        timer = _Timer()
        rec = None
        if self.enabled:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter() - self._t0,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        timer.start = time.perf_counter()
        try:
            yield timer
        finally:
            timer.s = time.perf_counter() - timer.start
            if rec is not None:
                rec["end"] = time.perf_counter() - self._t0
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Timer:
    start = 0.0
    s = 0.0


class Checks:
    """Output checks: each one counts as an attempted operation."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is. Below 20 samples that percentile would not
    exceed the median, so the tail is the maximum (percentile 100)."""
    xs = sorted(values)
    k = len(xs) - 10
    if k < len(xs) / 2:
        return xs[-1], 100
    return xs[k - 1], math.floor(100 * k / len(xs))


# ---------------------------------------------------------------------------
# Spark's status store
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def group_totals(spark, groups) -> dict:
    """Status-store totals over every job of the given job groups.

    Job IDs come from ``statusTracker`` (Structured Streaming runs each
    query run's micro-batches, foreachBatch included, under the run ID as
    its job group). Stage metrics come from ``AppStatusStore.stageList``,
    which must get all five Scala arguments from py4j and returns a Scala
    ``Seq`` indexed with ``size()``/``apply(i)``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    jobs = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is not None:
                jobs += 1
                stage_ids.update(info.stageIds)
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = dict.fromkeys(SPARK_KEYS, 0)
    out["jobs"] = jobs
    for i in range(stages.size()):
        sd = stages.apply(i)
        if sd.stageId() not in stage_ids:
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["gc_s"] += sd.jvmGcTime() / 1e3
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs since
    boot (the steal column of /proc/stat); 0 where it is not reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb()
