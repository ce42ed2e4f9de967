"""What the benchmark reads about the host and the engine while it runs.

- Host: a calibration record (a fixed CPU-hash loop and a small fixed
  Spark shuffle, plus steal % and load average) and peak RSS.
- Engine, in traced runs only: a span per operation; the operation's
  Spark jobs carry the tag ``<workload>/<op>``; per-span executor
  figures are read back from the application status store, the
  Catalyst phase times from the query's planning tracker, and the
  materialized RDD bytes from the block manager's storage info.

Everything is read from the benchmark side through the public PySpark
and JVM surfaces; the engine is not modified to be measured.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

CORES = 4


# --- host ---------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def calibrate(spark) -> dict:
    """Fixed host-speed probe: a pure-CPU hash chain and a small fixed
    shuffle. Neither gated nor used to normalize; a contended run shows
    up as slow probes, high steal or high load in the record."""
    steal0, total0 = _cpu_jiffies()
    t0 = time.perf_counter()
    digest = b"perfbench"
    for _ in range(200_000):
        digest = hashlib.sha256(digest).digest()
    cpu_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(0, 400_000, numPartitions=CORES)
        .selectExpr("(id * 7919) % 1009 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
    )
    shuffle_s = time.perf_counter() - t0
    steal1, total1 = _cpu_jiffies()
    dt_total = max(1, total1 - total0)
    return {
        "cpu_hash_s": cpu_s,
        "spark_shuffle_s": shuffle_s,
        "steal_pct": 100.0 * (steal1 - steal0) / dt_total,
        "loadavg1": _loadavg(),
    }


# --- spans and the status store ------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def _scala_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    When ``enabled`` is false every call is a no-op apart from keeping
    the spans, so an untraced run pays nothing for the layer split."""

    def __init__(self, spark, workload: str, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, tag: bool = False):
        sp = Span(name, time.time(), self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        job_tag = f"{self.workload}/{name}"
        if self.enabled and tag:
            self.spark.addTag(job_tag)
        try:
            yield sp
        finally:
            if self.enabled and tag:
                self.spark.removeTag(job_tag)
            sp.end = time.time()
            self._stack.pop()

    def current(self) -> Span:
        return self.spans[self._stack[-1]]

    def catalyst(self, sp: Span, df) -> None:
        """Catalyst phase times of ``df``'s plan, from its planning
        tracker. Analysis ran when ``df`` was built; optimization and
        planning are forced here on the same query execution."""
        if not self.enabled or df is None:
            return
        jvm = self.spark._jvm
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            sp.attrs[f"catalyst.{phase}_s"] = summary.durationMs() / 1000.0 if summary else 0.0

    def storage(self, sp: Span) -> None:
        """Materialized RDDs still held by the block manager after ``sp``."""
        if not self.enabled:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        held = [i for i in infos if i.numCachedPartitions() > 0]
        sp.attrs["mat.rdds"] = len(held)
        sp.attrs["mat.bytes"] = sum(i.memSize() + i.diskSize() for i in held)

    def jobs(self) -> list[dict]:
        """Every job in the status store with its summed stage metrics.

        Jobs are attributed to the innermost span whose interval holds
        their submission time, which also covers jobs that streaming
        queries launch on their own threads (those carry no tag)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.spark._jvm
        store = jsc.statusStore()
        gw = self.spark.sparkContext._gateway
        stages = {}
        for s in _scala_list(jvm, store.stageList(
                jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
                jvm.java.util.ArrayList())):
            if str(s.status()) != "COMPLETE":
                continue
            stages[(s.stageId(), s.attemptId())] = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_b": s.inputBytes(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "shuffle_read_b": s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _), m in stages.items():
            by_stage.setdefault(sid, []).append(m)
        out, seen = [], set()
        for j in _scala_list(jvm, store.jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            rec = {"start": sub.get().getTime() / 1e3, "end": done.get().getTime() / 1e3,
                   "stages": 0, "tasks": 0}
            for sid in _scala_list(jvm, j.stageIds()):
                if sid in seen or sid not in by_stage:
                    continue
                seen.add(sid)
                rec["stages"] += 1
                for m in by_stage[sid]:
                    for k, v in m.items():
                        rec[k] = rec.get(k, 0) + v
            out.append(rec)
        return out

    def attribute(self, jobs: list[dict]) -> dict[int, list[dict]]:
        """Map span index → jobs submitted while it was the innermost span."""
        per: dict[int, list[dict]] = {}
        for job in jobs:
            best = None
            for i, sp in enumerate(self.spans):
                # status-store times are whole milliseconds
                if int(sp.start * 1e3) / 1e3 <= job["start"] <= sp.end:
                    if best is None or sp.start >= self.spans[best].start:
                        best = i
            if best is not None:
                per.setdefault(best, []).append(job)
        return per

    def descendants(self, idx: int) -> list[int]:
        out, frontier = [idx], {idx}
        for i in range(idx + 1, len(self.spans)):
            if self.spans[i].parent in frontier:
                out.append(i)
                frontier.add(i)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "run_id": sp.run_id, **sp.attrs,
                }) + "\n")


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


EXEC_KEYS = ("run_s", "cpu_s", "gc_s", "input_b", "shuffle_write_b", "shuffle_read_b", "spill_b")


def exec_summary(jobs: list[dict], wall_s: float) -> dict:
    """The ``exec.*`` figures for one unit of work (a pass or a batch)."""
    job_wall = union_s([(j["start"], j["end"]) for j in jobs])
    out = {
        "exec.jobs": len(jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.job_wall_s": job_wall,
        "exec.driver_gap_s": max(0.0, wall_s - job_wall),
    }
    for k in EXEC_KEYS:
        out[f"exec.{k}"] = sum(j.get(k, 0) for j in jobs)
    out["exec.cpu_util"] = out["exec.cpu_s"] / (job_wall * CORES) if job_wall > 0 else 0.0
    return out
