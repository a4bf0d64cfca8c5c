"""Span recorder for the traced run, plus the Spark event-log reader.

Spans are recorded from the benchmark's side of each layer boundary: a
public function is replaced, under the name its caller looks it up by,
with a wrapper that times the call.  Nothing inside the package changes.
A span that may launch Spark jobs also sets a job group, so the stages
the event log records can be attributed to the innermost span that
caused them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Keeps spans in memory; ``enabled`` toggles recording so only the
    measured units are recorded, not set-up writes or correctness checks."""

    def __init__(self, spark):
        self.spans: list[Span] = []
        self.enabled = False
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, *, job_group: bool = False) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            sp = Span(
                len(self.spans),
                name,
                stack[-1].sid if stack else None,
                threading.current_thread().name,
                time.perf_counter(),
            )
            self.spans.append(sp)
        if job_group:
            sp.attrs["prev_group"] = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(f"pb-{sp.sid}", name)
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.t1 = time.perf_counter()
        self._stack().pop()
        if "prev_group" in sp.attrs:
            self._sc.setLocalProperty("spark.jobGroup.id", sp.attrs.pop("prev_group"))

    @contextlib.contextmanager
    def span(self, name: str, *, job_group: bool = False):
        sp = self.open(name, job_group=job_group)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, *, job_group=False, note=None):
        """Replace ``owner.attr`` by a timing wrapper; ``note(span, args,
        kwargs, result)`` may record counters (kept as references, so the
        wrapper does no extra work inside the span)."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.open(name, job_group=job_group)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if sp is not None and note is not None:
                note(sp, args, kwargs, out)
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- queries over the recorded tree ---------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def descendants(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], list(kids.get(root.sid, []))
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo += kids.get(sp.sid, [])
        return out

    def self_ms(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Span time not covered by its children on the same thread
        (spans from other threads, e.g. a prefetch, never subtract)."""
        return sp.ms - sum(c.ms for c in kids.get(sp.sid, []) if c.thread == sp.thread)

    def overlapped(self, root: Span, name: str) -> list[Span]:
        """Spans named ``name`` recorded on other threads while ``root``
        was open."""
        return [
            s
            for s in self.spans
            if s.name == name
            and s.thread != root.thread
            and root.t0 <= s.t0 < root.t1
        ]


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group (``pb-<span id>``): jobs, job wall ms, executor run
    ms, shuffle bytes, spill bytes and per-stage task durations."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0,
                "job_ms": 0.0,
                "executor_run_ms": 0.0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
                "stage_tasks": {},
            },
        )

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not grp or not grp.startswith("pb-"):
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    job_start[jid] = ev.get("Submission Time", 0)
                    g(grp)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = grp
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["job_ms"] += ev.get(
                            "Completion Time", 0
                        ) - job_start[jid]
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    if grp is None:
                        continue
                    rec = g(grp)
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    rec["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    rec["stage_tasks"].setdefault(ev["Stage ID"], []).append(
                        ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    )
    return groups


def task_skew(stage_tasks: dict[int, list[int]]) -> float:
    """max / median task time of the stage that ran the most task time
    (1.0 for a stage of one task)."""
    if not stage_tasks:
        return 0.0
    tasks = max(stage_tasks.values(), key=sum)
    srt = sorted(tasks)
    med = srt[len(srt) // 2]
    return srt[-1] / med if med > 0 else 1.0
