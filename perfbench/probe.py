"""Layer probe: spans around public calls plus the Spark task metrics of the
jobs each span ran.

A span tags its jobs with ``setJobGroup`` and, on exit, sums the task
metrics of every stage of those jobs from the driver's status store (it is
kept with ``spark.ui.enabled=false``). Spans stay in memory; ``dump`` writes
them out once at the end. A layer's wall time is the self time of its spans:
duration minus the part covered by child spans. The probe's own work (job
group switches and the status-store reads) is timed too: that is what
tracing adds to a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = ("task_s", "cpu_s", "shuffle_mb", "spill_mb", "tasks_failed")


@dataclass
class Span:
    name: str
    layer: str | None
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    stages: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)  # job groups whose jobs it ran


class Tracer:
    """Collects spans for one run; ``enabled=False`` makes every span free."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the probe itself

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time a call and tag its jobs; yields the Span (None when disabled).

        Jobs Spark runs under a group of its own (a streaming query tags its
        micro-batches with the query's run id) are counted by appending that
        group to ``span.groups``.
        """
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"{self.run_id}:{idx}:{name}"
        parent = self._stack[-1] if self._stack else None
        outer_group = self.spans[parent].name if parent is not None else None
        span = Span(name, layer, time.monotonic(), parent=parent, run_id=self.run_id, groups=[group])
        self.spans.append(span)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            span.end = time.monotonic()
            t0 = time.perf_counter()
            self._stack.pop()
            span.jobs, span.stages = _stage_totals(sc, span.groups)
            if outer_group is not None:
                sc.setJobGroup(f"{self.run_id}:{parent}:{outer_group}", outer_group)
            else:
                sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t0

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        children = [c for c in self.spans if c.parent == idx]
        return (s.end - s.start) - sum(c.end - c.start for c in children)

    def traced_s(self) -> float:
        """Wall time covered by top-level spans."""
        return sum(s.end - s.start for s in self.spans if s.parent is None)

    def layer_metrics(self, nproc: int) -> dict[str, float]:
        """``<layer>.wall_s/task_s/cpu_s/slot_idle_share/shuffle_mb/spill_mb/jobs/tasks_failed``."""
        acc: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.layer is None:
                continue
            a = acc.setdefault(s.layer, {"wall_s": 0.0, "jobs": 0, **{f: 0.0 for f in STAGE_FIELDS}})
            a["wall_s"] += self.self_time(i)
            a["jobs"] += s.jobs
            for f in STAGE_FIELDS:
                a[f] += s.stages.get(f, 0.0)
        out = {}
        for layer, a in acc.items():
            a["slot_idle_share"] = 1.0 - a["task_s"] / max(a["wall_s"] * nproc, 1e-9)
            out.update({f"{layer}.{k}": v for k, v in a.items()})
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _stage_totals(sc, groups: list[str]) -> tuple[int, dict]:
    """(#jobs, summed task metrics) of every stage the groups' jobs ran."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception as exc:  # skipped stages never ran an attempt
            if "NoSuchElementException" not in str(exc):
                raise
            continue
        tot["task_s"] += st.executorRunTime() / 1e3
        tot["cpu_s"] += st.executorCpuTime() / 1e9
        tot["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
        tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        tot["tasks_failed"] += st.numFailedTasks()
    return len(job_ids), tot
