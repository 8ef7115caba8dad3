"""Spans recorded from the benchmark's side of each call into the
package, with the Spark work scheduled inside them.

A span is (name, start, end, parent, round). While a span is open its
thread carries a Spark job group of its own, so every job the call
schedules - directly or on a thread that inherits the group - is
tagged with the span. When the run ends, the listener bus is drained
and the status store is read for each group's jobs, their executed
stages (skipped stages are not counted), tasks and summed executor run
time. Spans stay in memory until then; ``dump`` writes them out.

With tracing disabled ``span`` only yields, so the untraced run pays
nothing but a generator per call, and the traced run minus the
untraced run is the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round: int | None = None
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "round": self.round,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self._prefix}-{idx}"}
        prev_group = self.sc.getLocalProperty(_GROUP)
        prev_desc = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_GROUP, rec["group"])
        self.sc.setLocalProperty(_DESC, name)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            self.sc.setLocalProperty(_DESC, prev_desc)

    # -- reading Spark's status store ------------------------------------

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds every finished job and stage."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        """Highest job id scheduled so far (-1 before the first job)."""
        self.drain()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def job_work(self, job_ids) -> dict:
        """Jobs, executed stages, tasks and executor run time (s) of
        ``job_ids``. Raises if a job was evicted from the status store
        (its counts would otherwise be silently short)."""
        store = self.sc._jsc.sc().statusStore()
        stages: dict[int, tuple[int, float]] = {}
        n = 0
        for jid in job_ids:
            job = store.job(jid)  # NoSuchElementException when evicted
            n += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                stages[sid] = (st.numTasks(), st.executorRunTime() / 1000.0)
        return {"jobs": n, "stages": len(stages),
                "tasks": sum(t for t, _ in stages.values()),
                "task_s": sum(s for _, s in stages.values())}

    def unattributed_jobs(self, first: int, last: int) -> list[int]:
        """Jobs with ids in (first, last] that ran outside every span."""
        store = self.sc._jsc.sc().statusStore()
        ours = {s["group"] for s in self.spans}
        out = []
        for jid in range(first + 1, last + 1):
            g = store.job(jid).jobGroup()
            if not g.isDefined() or g.get() not in ours:
                out.append(jid)
        return out

    def finish(self) -> None:
        """Attach Spark work (inclusive of child spans) and self time to
        every span."""
        if not self.enabled:
            return
        self.drain()
        tracker = self.sc.statusTracker()
        children: dict[int, list[int]] = {}
        for s in self.spans:
            s["own_jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
            s["s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])

        def subtree_jobs(i: int) -> list[int]:
            out = list(self.spans[i]["own_jobs"])
            for c in children.get(i, []):
                out += subtree_jobs(c)
            return out

        for s in self.spans:
            s.update(self.job_work(subtree_jobs(s["id"])))
            kids = children.get(s["id"], [])
            s["self_s"] = s["s"] - sum(self.spans[c]["s"] for c in kids)

    # -- summaries --------------------------------------------------------

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median(self, name: str, field: str):
        """Median over the timed section's spans of ``name``, or over
        the set-up/warm-up ones when the timed section has none (a
        layer only set-up exercises, e.g. ``engine.full_sync``)."""
        spans = self.by_name(name)
        timed = [s for s in spans if s["round"] is not None]
        vals = [s[field] for s in (timed or spans)]
        return statistics.median(vals) if vals else None

    def counts_signature(self) -> list[tuple]:
        """(name, round, jobs, stages, tasks) per span, in call order -
        what must repeat exactly for the same seed."""
        return [(s["name"], s["round"], s["jobs"], s["stages"], s["tasks"])
                for s in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items()
                                     if k != "own_jobs"}) + "\n")


class TracedStore:
    """A delegating ``KeyedStore`` handed to ``SyncEngine``: every call
    the engine makes into a store becomes an ``acid.*`` span."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def __getattr__(self, name):
        # n_slices, table, ... - read-only attributes the engine probes
        return getattr(self._store, name)

    def read(self):
        with self._tracer.span("acid.read"):
            return self._store.read()

    def read_since(self, wm):
        with self._tracer.span("acid.read_since"):
            return self._store.read_since(wm)

    def overwrite(self, df, key_quantiles=None):
        with self._tracer.span("acid.overwrite"):
            return self._store.overwrite(df, key_quantiles=key_quantiles)

    def apply_delta(self, delta, key_stats=None):
        with self._tracer.span("acid.apply_delta"):
            return self._store.apply_delta(delta, key_stats)
