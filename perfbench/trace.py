"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
recorder wraps public functions of the ``sketchlib`` modules (module or
class attributes) for the duration of a run and restores them afterwards.
Nothing inside the library is modified.

A span holds a name, start, end, the id of the span that caused it and a
run id shared by every span of the run. Spans stay in memory and are
written once, at the end (``dump``). A span's self time is its duration
minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str
    jobs: int = 0              # Spark jobs run directly in this span

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans of one benchmark run. ``enabled`` switches recording
    on and off. In a traced run (``active``), ``op`` traces every other
    operation of each kind, so traced and untraced operations of the same
    kinds interleave in one run (their latency difference is the tracing
    overhead).

    With a SparkContext ``sc``, every span runs its calls under a job group
    of its own and records how many Spark jobs ran directly in it; the
    parent's group is restored when the span ends."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.active = False
        self._seen: dict[str, int] = {}
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        group = prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(_JOB_GROUP)
            group = f"{self.run_id}.{sid}"
            self.sc.setLocalProperty(_JOB_GROUP, group)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            jobs = 0
            if group is not None:
                jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty(_JOB_GROUP, prev_group)
            self.spans.append(
                Span(sid, parent, name, t0, t1, self.run_id, jobs))

    @contextmanager
    def op(self, kind: str):
        """One operation of ``kind`` as span ``op.<kind>``: traced on the
        first, third, ... occurrence of ``kind`` while ``active``. Yields
        whether it is traced."""
        n = self._seen.get(kind, 0)
        self._seen[kind] = n + 1
        self.enabled = self.active and n % 2 == 0
        try:
            with self.span(f"op.{kind}"):
                yield self.enabled
        finally:
            self.enabled = False

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``
        around each call (while enabled) and hands the call's result to
        ``on_result``. ``restore`` puts every original back."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _children(self) -> dict[int, list[Span]]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        return children

    def subtree_jobs(self, span: Span) -> int:
        """Spark jobs run in ``span`` and every span below it."""
        children = self._children()
        total, frontier = 0, [span]
        while frontier:
            s = frontier.pop()
            total += s.jobs
            frontier.extend(children.get(s.span_id, ()))
        return total

    def self_times(self) -> dict[int, float]:
        """span_id -> duration minus the union of its children's intervals
        (clipped to the parent's own interval)."""
        children = self._children()
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.span_id] = max(0.0, s.duration - covered)
        return out

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Total self time per layer, the layer being the span name's
        prefix before the first dot (``store.latest_sketch`` -> store)."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + st[s.span_id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
