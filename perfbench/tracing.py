"""Spans, Spark stage metrics per job group, and host context.

A span records name, start, end, parent and run id; spans stay in memory
and are written out once when the benchmark ends. Spark work inside a span
runs under a job group named after the span, and the group's stages are read
back from the status store afterwards.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

import numpy as np

MB = float(1 << 20)


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time ``name``; Spark jobs started inside carry a job group of the
        same name (suffixed to be unique). Yields the span record, whose
        ``group`` field names the job group."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "group": f"{self.run_id}/{name}#{sid}",
        }
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.spans.append(rec)

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        children = sum(self.wall(s) for s in self.spans if s["parent"] == rec["id"])
        return self.wall(rec) - children


def group_stages(sc, group: str) -> list:
    """Completed stage attempts of every job in ``group`` (skipped stages,
    whose output was reused, did no work and are left out)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage that never ran has no attempt
            continue
        if str(st.status()) == "COMPLETE":
            out.append(st)
    return out


def peak_exec_mem_mb(stages) -> float:
    """Largest ``peakExecutionMemory`` over the stages, as the status store
    aggregates it (summed over each stage's tasks)."""
    return max((s.peakExecutionMemory() for s in stages), default=0) / MB


def _task_skew(store, st) -> float:
    tasks = store.taskList(st.stageId(), st.attemptId(), 100_000)
    it = tasks.iterator()
    runs = []
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            runs.append(m.get().executorRunTime())
    med = statistics.median(runs) if runs else 0
    return max(runs) / med if med else 1.0


def stage_summary(sc, stages) -> dict:
    """The common per-layer metric set of one layer's stages."""
    run_s = sum(s.executorRunTime() for s in stages) / 1e3
    cpu_s = sum(s.executorCpuTime() for s in stages) / 1e9
    largest = max(stages, key=lambda s: s.executorRunTime(), default=None)
    store = sc._jsc.sc().statusStore()
    return {
        "exec_run_s": run_s,
        "exec_cpu_s": cpu_s,
        "py_s": run_s - cpu_s,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / MB,
        "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) / MB,
        "stages": len(stages),
        "task_skew": _task_skew(store, largest) if largest is not None else 0.0,
    }


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two ``cpu_times``."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total else 0.0


def _fixed_pair_mix(n: int = 10_000, length: int = 64) -> tuple[list, list]:
    """A seed-independent pair mix: 64-byte strings and copies with 0..12
    random edits, so the kernel's exits and DP both occur."""
    rng = np.random.default_rng(20240101)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ", dtype=np.uint8)
    a, b = [], []
    for _ in range(n):
        s = alphabet[rng.integers(0, len(alphabet), length)]
        t = s.copy()
        for pos in rng.integers(0, length, int(rng.integers(0, 13))):
            t[pos] = alphabet[rng.integers(0, len(alphabet))]
        a.append(s.tobytes())
        b.append(t.tobytes())
    return a, b


def kernel_clock(repeats: int = 3) -> float:
    """Single-core kernel pairs/s on the fixed mix (median of ``repeats``):
    host-speed context for every wall in the run, not a gate."""
    from levenshtein_spark.kernel import batch_edit_distance

    a, b = _fixed_pair_mix()
    rates = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        batch_edit_distance(a, b, k=8)
        rates.append(len(a) / (time.perf_counter() - t0))
    return statistics.median(rates)
