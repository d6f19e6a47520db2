"""Spans and counters recorded from outside the package.

A span wraps one call into a layer's public function, made by the
benchmark itself; the package is never patched.  Spans are kept in
memory and written out as JSON when the run ends.  A layer's self time
is its span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when enabled; otherwise each ``span`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def timed(self, name: str, fn):
        """Call ``fn`` inside a span; return its result and wall seconds."""
        with self.span(name):
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t

    def self_times(self) -> list[tuple[Span, float, float]]:
        """(span, duration, self time) for every span, in start order."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append((s, s.end - s.start, s.end - s.start - covered))
        return out

    def table(self) -> str:
        depth: dict[int, int] = {}
        lines = [f"{'span':<52} {'wall_s':>9} {'self_s':>9}"]
        for s, dur, own in self.self_times():
            depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
            name = "  " * depth[s.id] + s.name
            lines.append(f"{name:<52} {dur:>9.3f} {own:>9.3f}")
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {**asdict(s), "self_s": own}
                for s, _, own in self.self_times()
            ],
            "counters": self.counters,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


class SparkCounters:
    """Jobs, stages, tasks and shuffle bytes of the jobs one block ran,
    read from the driver's status store (no UI or REST port needed)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def _job_ids(self) -> set[int]:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    @contextmanager
    def measure(self, out: dict):
        before = self._job_ids()
        yield
        store = self._sc.statusStore()
        new = self._job_ids() - before
        stage_ids: set[int] = set()
        for jid in new:
            sids = store.job(jid).stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        stages = tasks = shuffle = 0
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            stages += 1
            tasks += st.numCompleteTasks()
            shuffle += st.shuffleWriteBytes()
        out.update(jobs=len(new), stages=stages, tasks=tasks,
                   shuffle_write_mb=shuffle / 1e6)
