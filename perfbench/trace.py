"""Timing, spans and Spark-side counters recorded from outside the
package.

Every timed call into the engine goes through ``Recorder.op``. Untraced
runs only time the call. Traced runs also

- label the call's Spark jobs with ``sc.setJobGroup("<workload>:<op>:<phase>")``
  and count them through the status tracker,
- snapshot cached storage (``getRDDStorageInfo``) when the call starts,
- keep a span (name, start, end, parent) per call,

and ``rollup_event_log`` folds Spark's event log into per-label
executor totals after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    op: str
    phase: str
    start: float
    end: float
    parent: str | None
    jobs: int = 0
    cached_mb: float = 0.0
    cached_rdds: int = 0
    timed: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    spark: object
    workload: str
    traced: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def _job_ids(self, label: str | None) -> set[int]:
        st = self.spark.sparkContext.statusTracker()
        return set(st.getJobIdsForGroup(label))

    def _cached(self) -> tuple[float, int]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() + i.diskSize() for i in infos)
        return mem / MB, len(infos)

    @contextlib.contextmanager
    def op(self, op: str, phase: str, timed: bool = True):
        """Time one call into the engine as span ``<workload>:<op>:<phase>``."""
        name = f"{self.workload}:{op}:{phase}"
        span = Span(name, op, phase, 0.0, 0.0,
                    self._stack[-1] if self._stack else None, timed=timed)
        sc = self.spark.sparkContext
        if self.traced:
            span.cached_mb, span.cached_rdds = self._cached()
            # a label recurs every pass and week: count only the ids new
            # under it, as for the ungrouped ids
            before_group, before = self._job_ids(name), self._job_ids(None)
            sc.setJobGroup(name, name)
        self._stack.append(name)
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if self.traced:
                # jobs started from the package's own worker threads carry
                # no group; single-client runs make the new ungrouped ids ours
                span.jobs = (len(self._job_ids(name) - before_group)
                             + len(self._job_ids(None) - before))
                if self._stack:
                    sc.setJobGroup(self._stack[-1], self._stack[-1])
                else:
                    sc._jsc.clearJobGroup()
            self.spans.append(span)

    def timed(self, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.timed
                and (phase is None or s.phase == phase)]


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""
    def hwm(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    me = os.getpid()
    total = hwm(me)
    for d in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(d) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == me:
                with open(d.replace("stat", "comm")) as fh:
                    if fh.read().strip() == "java":
                        total += hwm(int(d.split("/")[2]))
        except (OSError, ValueError, IndexError):
            continue
    return total


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs so far.

    Stolen ticks are those in which a CPU of this virtual machine had
    work to run while the hypervisor ran another guest (``steal`` in
    ``/proc/stat``); 0 on bare metal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def unstolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this machine's busy CPUs were given between
    two ``cpu_ticks`` readings. Every runnable CPU loses about that share
    of each second to other guests, so a wall time times this share is
    the time the same work takes on an uncontended host."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return 1.0 - stolen / max(busy + stolen, 1)


ROLLUP_KEYS = ("executor_run_s", "executor_cpu_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "jvm_gc_s",
               "peak_exec_mem_mb", "tasks")


def rollup_event_log(log_dir: str, spans: list[Span]) -> dict[str, dict]:
    """Per-label executor totals from the (uncompressed) event log.

    A stage belongs to the job group it was submitted under; a stage
    submitted with no group is attributed to the innermost span open
    at its submission time."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    stage_label: dict[int, str | None] = {}
    totals: dict[str, dict] = {}
    by_time = sorted(spans, key=lambda s: s.start)

    def at(ms: float) -> str | None:
        t, best = ms / 1000.0, None
        for s in by_time:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.name if best else None

    for path in sorted(files):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    label = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_label[info["Stage ID"]] = label or at(
                        info.get("Submission Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if label is None or not m:
                        continue
                    t = totals.setdefault(label, dict.fromkeys(ROLLUP_KEYS, 0.0))
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get(
                        "Shuffle Write Metrics", {})
                    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / MB
                    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / MB
                    t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["peak_exec_mem_mb"] = max(
                        t["peak_exec_mem_mb"],
                        m.get("Peak Execution Memory", 0) / MB)
                    t["tasks"] += 1
    return totals


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: int) -> float:
    """q-th percentile (inclusive quantiles)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
