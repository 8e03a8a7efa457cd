"""Spans, Spark status-store collection and process memory for the benchmark.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the program (name, layer, start, end, parent, run id). Spans stay
in memory; :meth:`Tracer.dump` writes them out once, when the run ends.
Every span runs under its own Spark job group, so the jobs, stages and task
metrics Spark keeps in its status store can be attributed to the span that
launched them (:func:`collect_stages`).

:class:`NullTracer` has the same interface and records nothing; the
untraced passes use it, so the traced and untraced passes run the same
benchmark code.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float = 0.0  # time.time(), seconds since the epoch
    end: float = 0.0
    group: str | None = None  # Spark job group
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Records nothing; used by the untraced, timed passes."""

    @contextmanager
    def span(self, layer: str, name: str):
        yield None

    def note_storage(self) -> None:
        pass


class Tracer:
    """Records spans; each span's Spark jobs run under the span's job group."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.max_cached_bytes = 0

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.sid if parent else None,
            run_id=self.run_id,
        )
        self.spans.append(s)
        s.group = f"{self.run_id}-{s.sid}"
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def note_storage(self) -> None:
        """Record the persisted-RDD storage now (called before releasing caches)."""
        total = sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())
        self.max_cached_bytes = max(self.max_cached_bytes, total)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": [asdict(s) for s in self.spans]}, f)


# --------------------------------------------------------------------------
# Status-store collection
# --------------------------------------------------------------------------

_STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",  # ms, summed over tasks
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "outputRecords",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "shuffleReadBytes",
    "diskBytesSpilled",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_stages(sc, spans: list[Span]) -> None:
    """Fill ``span.stages`` and ``span.jobs`` from Spark's status store.

    Each stage is attributed once, to the span whose job ran it first: a
    shuffle stage that a later job reuses shows up in that job's stage list
    too, but as skipped. Stages that never ran (no completion time) are
    dropped.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    by_job: list[tuple[int, Span]] = []
    for s in spans:
        if s.group is None:
            continue
        ids = list(tracker.getJobIdsForGroup(s.group))
        s.jobs = len(ids)
        by_job += [(j, s) for j in ids]
    seen: set[int] = set()
    for jid, s in sorted(by_job, key=lambda x: x[0]):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in sorted(info.stageIds):
            if sid in seen:
                continue
            sd = store.lastStageAttempt(sid)
            done = _opt_ms(sd.completionTime())
            if done is None:
                continue
            seen.add(sid)
            rec = {f: getattr(sd, f)() for f in _STAGE_FIELDS}
            rec.update(
                stage_id=sid,
                attempt=sd.attemptId(),
                submitted=_opt_ms(sd.submissionTime()),
                completed=done,
            )
            s.stages.append(rec)


def task_skew(sc, stage: dict) -> float:
    """max / median task run time of one stage, from its task summary."""
    jvm = sc._jvm
    q = sc._gateway.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(stage["stage_id"], stage["attempt"], q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return float(top) / max(float(med), 1.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: summed span time not covered by the span's child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered(kids, s.start, s.end)
    return out


# --------------------------------------------------------------------------
# Host CPU steal and process memory
# --------------------------------------------------------------------------


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak-RSS mark (``VmHWM``) to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Summed ``VmHWM`` of the given processes, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
