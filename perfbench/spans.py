"""Spans around the benchmark's calls into the engine's layers.

Every timed call goes through :meth:`Tracer.span`, traced or not, so
both kinds of run time exactly the same calls. With tracing on, a span
also

* sets a Spark job group (and description) naming itself on the
  calling thread, and restores the enclosing span's group after;
* counts the jobs launched while it was open. Job ids are sequential,
  so the jobs of a span are the ids above the highest id known when it
  opened, found through the public ``StatusTracker``: the span's own
  group plus the jobs that carry no group at all (those launched from
  helper threads, which do not inherit the caller's group);
* optionally sums the tasks of those jobs' stages.

``jobs_attributed / jobs`` is the share of a span's jobs that carry the
span's group (or a nested span's). Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any


@dataclass
class Span:
    id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int | None = None
    jobs_attributed: int | None = None
    tasks: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self._stack: list[Span] = []
        self._groups: dict[int, str] = {}
        self._hi = -1  # highest job id known so far
        self._extra_groups: list[str] = []  # e.g. a streaming query's run id
        #: seconds spent in the tracer's own bookkeeping (tracing overhead)
        self.self_s = 0.0

    def attach(self, sc) -> None:
        self.sc = sc
        if self.enabled:
            self._hi = self._max_job_id()

    def watch_group(self, group: str) -> None:
        """Also scan ``group`` for jobs (a streaming query sets its own)."""
        self._extra_groups.append(group)

    # -- job bookkeeping ----------------------------------------------------

    def _ids(self, group: str | None) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _max_job_id(self) -> int:
        ids = self._ids(None)
        for s in self._stack:
            ids += self._ids(self._groups[s.id])
        for g in self._extra_groups:
            ids += self._ids(g)
        return max(ids, default=self._hi)

    def _set_group(self, span: Span | None) -> None:
        gid = None if span is None else self._groups[span.id]
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty(
            "spark.job.description", None if span is None else f"{span.layer}:{span.name}"
        )

    def _tasks(self, job_ids: list[int]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    n += si.numTasks
        return n

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, tasks: bool = False):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, layer, self.run_id, parent, 0.0)
        self.spans.append(sp)
        if not self.enabled or self.sc is None:  # no session yet
            sp.start = time.perf_counter()
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        b0 = time.perf_counter()
        self._groups[sp.id] = f"{self.run_id}/{sp.id}"
        self._hi = max(self._hi, self._max_job_id())
        lo = self._hi
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.self_s += sp.start - b0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            own = self._ids(self._groups[sp.id])
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            hi = max([self._hi, self._max_job_id()] + own)
            new = list(range(lo + 1, hi + 1))
            children = {c.id for c in self.spans[sp.id + 1:] if c.jobs is not None}
            attributed = set(own)
            for c in children:
                attributed.update(self._ids(self._groups[c]))
            sp.jobs = len(new)
            sp.jobs_attributed = len([j for j in new if j in attributed])
            if tasks:
                sp.tasks = self._tasks(new)
            self._hi = hi
            self.self_s += time.perf_counter() - sp.end

    # -- output -------------------------------------------------------------

    def named(self, name: str, layer: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.layer == layer]

    def dump(self, path, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump(
                {**extra, "spans": [{**asdict(s), "seconds": s.seconds} for s in self.spans]},
                fh,
                indent=1,
                default=str,
            )
