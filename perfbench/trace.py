"""Spans around public ``pyspark_cdc`` calls and the per-layer numbers Spark's
own status store holds for them.

Every span wraps exactly one call into the program and tags the Spark jobs
that call launches with its own job group (``sc.setJobGroup``). After the
measured window, jobs and stages are read back from the live
``AppStatusStore`` — it is populated with ``spark.ui.enabled=false`` — and
attributed to spans by job group. Spans live in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    dur: float = 0.0  # perf_counter seconds, the value timings are built from
    attrs: dict = field(default_factory=dict)


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.end - span.start - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )


class Tracer:
    """Records spans and tags each one's Spark jobs with a unique job group.

    Tagging costs one local-property call per span, so both the traced and
    the untraced run use it: the untraced run needs executor CPU for the
    ingest calls too. What only the traced run adds is the probes, the disk
    counts and the full status-store read (``layers.layer_metrics``)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, run_id=self.run_id,
            parent=parent.id if parent else None, start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), name, False)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group(top), top.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


STAGE_FIELDS = {
    "cpu_ns": "executorCpuTime",
    "tasks": "numCompleteTasks",
    "shuffle_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def harvest(sc, groups: set[str]) -> dict[str, dict]:
    """Per job group: job intervals and summed stage metrics.

    A stage listed by several jobs (a reused shuffle) ran in the first of
    them and is skipped in the rest, so it is owned by the lowest job id."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    found = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isEmpty() or g.get() not in groups:
            continue
        stage_ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        found.append((j.jobId(), g.get(), _opt_ms(j.submissionTime()),
                      _opt_ms(j.completionTime()), stage_ids))
    out = {g: {"jobs": [], **{k: 0 for k in STAGE_FIELDS}} for g in groups}
    owner: dict[int, str] = {}
    for job_id, g, sub, comp, stage_ids in sorted(found):
        out[g]["jobs"].append((sub, comp if comp is not None else sub))
        for sid in stage_ids:
            owner.setdefault(sid, g)
    if not owner:
        return out
    arr = sc._gateway.new_array(sc._jvm.double, 0)
    al = sc._jvm.java.util.ArrayList
    stages = store.stageList(al(), False, False, arr, al())
    for i in range(stages.size()):
        st = stages.apply(i)
        g = owner.get(st.stageId())
        if g is None:
            continue
        for key, getter in STAGE_FIELDS.items():
            out[g][key] += int(getattr(st, getter)())
    return out
