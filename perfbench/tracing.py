"""Spans recorded by the benchmark around its calls into the engine, and the
fold of Spark's event log onto those spans.

A span is one call into a layer's public function (or one op of a
workload's loop). Spans nest: a span opened while another is open is its
child and belongs to the same op. While a span is open, the Spark job
group of the calling thread is the span's id, so every job Spark starts
inside it can be attributed from the event log afterwards
(``fold_event_log``). Spans stay in memory; ``Tracer.dump`` writes them
out once the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    value: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its direct
    children cover (children are clipped to the parent and merged, so
    overlapping children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


@dataclass
class Tracer:
    """Records spans and tags Spark jobs with the open span's id.

    ``sc`` is the SparkContext whose job group follows the open span; it
    is set once the session has started.
    """

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    captured: dict[str, object] = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _wrapped: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            name=name,
            parent=parent.id if parent else None,
            op=parent.op if parent else None,
            start=time.perf_counter(),
        )
        if s.op is None:
            s.op = s.id
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def wrap(self, owner, attr: str, name: str, *, name_fn=None, capture=False,
             after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original inside
        a span, until ``unwrap_all``. Wrapping the attribute of the module
        that CALLS the function is what makes calls made inside another
        public function visible.

        ``name_fn(*args, **kwargs)`` names the span from the call's
        arguments; ``capture`` keeps the latest result in
        ``captured[name]``; ``after(result)`` is stored as the span's
        ``value`` (e.g. bytes a call wrote)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_fn(*args, **kwargs) if name_fn else name) as s:
                result = orig(*args, **kwargs)
                if after is not None:
                    s.value = after(result)
            if capture:
                self.captured[name] = result
            return result

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._wrapped:
            owner, attr, orig = self._wrapped.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold_event_log(paths: list[str]) -> tuple[dict[int, JobStats], int]:
    """Fold Spark event logs onto spans.

    ``SparkListenerJobStart`` properties carry the job group, which maps
    each job to the span that was open when it started; each stage belongs
    to the first job listing it; ``SparkListenerTaskEnd`` metrics are summed
    under the stage's span. Returns (span id → stats, number of jobs that
    carried no span group).
    """
    stats: dict[int, JobStats] = {}
    unattributed = 0
    for path in paths:
        stage_span: dict[int, int | None] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    sid = (
                        int(group[len(GROUP_PREFIX):])
                        if group.startswith(GROUP_PREFIX)
                        else None
                    )
                    if sid is None:
                        unattributed += 1
                    else:
                        stats.setdefault(sid, JobStats()).jobs += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if sid is not None:
                        stats.setdefault(sid, JobStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    js = stats.setdefault(sid, JobStats())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    js.tasks += 1
                    js.task_run_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    js.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    js.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    js.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return stats, unattributed


def event_log_files(log_dir: str) -> list[str]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    )
