"""Layer tracer for the benchmark's traced runs.

The engine is not edited: :meth:`Tracer.install` replaces the engine's layer
entry points with wrappers at run time and :meth:`Tracer.close` puts the
originals back. Each wrapped call records a :class:`Span` and runs under a
Spark job group named after the span, set on the calling thread (pipelined
replay commits run on a side thread). The Spark event log of the traced
session is folded by :func:`fold_event_log`, so jobs, stages, task time,
shuffle, spill and bytes land on the span that ran them.

Spans stay in memory until :meth:`Tracer.dump`. A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)


def _entry_points() -> list[tuple[object, str, object]]:
    """(owner, attribute, span name) of every wrapped layer entry point.

    Names are patched where they are looked up: ``replay`` imports
    ``merge_batch`` and ``resume_hwm`` by name, ``_replay_pipelined`` imports
    ``stage_merge``/``commit_staged_merge`` from the merge module at call
    time, and ``_commit_mor`` calls ``compact_buckets`` as a module global.
    A callable span name picks the name from the call's arguments."""
    import embulk_input_marketo_spark.lake.bloom as bloom
    import embulk_input_marketo_spark.lake.merge as merge
    import embulk_input_marketo_spark.replay as replay
    from embulk_input_marketo_spark.lake.table import LakeTable

    def merge_name(args, kwargs):
        return "lake.merge.cow" if kwargs.get("mode") == "cow" else "lake.merge.mor"

    return [
        (replay, "replay", "replay"),
        (replay, "resume_hwm", "checkpoint.resume_hwm"),
        (replay, "merge_batch", merge_name),
        (merge, "stage_merge", "lake.merge.stage"),
        (merge, "commit_staged_merge", "lake.merge.commit"),
        (merge, "compact_buckets", "lake.merge.compact"),
        (LakeTable, "manifest", "lake.table.manifest"),
        (LakeTable, "commit", "lake.table.commit"),
        (bloom, "build_bloom_deltas", "lake.bloom.build"),
        (bloom, "load_bloom", "lake.bloom.load"),
    ]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def group_of(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            # the first span of a side thread (a pipelined commit) hangs
            # under the top-level span open at the time
            parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
            sp = Span(
                next(self._ids), name, parent.id if parent else None,
                threading.current_thread().name, time.time(), attrs=attrs,
            )
            self.spans.append(sp)
            if parent is None:
                self._roots.append(sp)
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, self.group_of(sp))
        stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            if parent is None:
                with self._lock:
                    self._roots.remove(sp)

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            n = name(args, kwargs) if callable(name) else name
            with tracer.span(n):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for owner, attr, name in _entry_points():
            fn = owner.__dict__[attr]
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def close(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans]}, f)


def _union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
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


def children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids = children(spans)
    return {
        s.id: max(
            s.end - s.start - _union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]
            ),
            0.0,
        )
        for s in spans
    }


def subtree(kids: dict[int, list[Span]], root: Span) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def covered_share(spans: list[Span], t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by the union of top-level spans."""
    got = _union_length(
        (max(s.start, t0), min(s.end, t1)) for s in spans if s.parent is None
    )
    return got / (t1 - t0) if t1 > t0 else 0.0


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    task_s: float = 0.0
    max_task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    input_bytes: int = 0
    records_read: int = 0


def event_log_path(log_dir: str, app_id: str) -> str:
    names = [n for n in os.listdir(log_dir) if app_id in n]
    if not names:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return os.path.join(log_dir, sorted(names, key=len)[0])


def fold_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group: jobs, stages that ran tasks, task time, the longest
    task, shuffle write, spill, output and input bytes, records read."""
    stage_group: dict[tuple[int, int], str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerStageSubmitted"',
              '"SparkListenerTaskEnd"')
    with open(path) as f:
        for line in f:
            if not any(w in line for w in wanted):
                continue
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(_GROUP_PROP)
                if g:
                    groups[g].jobs += 1
            elif ev == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get(_GROUP_PROP)
                si = e["Stage Info"]
                if g:
                    stage_group[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = g
            elif ev == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
                g = stage_group.get(key)
                if g is None:
                    continue
                st = groups[g]
                st.stages.add(key)
                ti = e.get("Task Info") or {}
                dur = (float(ti.get("Finish Time", 0))
                       - float(ti.get("Launch Time", 0))) / 1e3
                st.task_s += max(dur, 0.0)
                st.max_task_s = max(st.max_task_s, dur)
                tm = e.get("Task Metrics") or {}
                st.shuffle_write_bytes += int(
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                st.spill_bytes += int(tm.get("Disk Bytes Spilled", 0))
                st.bytes_written += int(
                    (tm.get("Output Metrics") or {}).get("Bytes Written", 0))
                im = tm.get("Input Metrics") or {}
                st.input_bytes += int(im.get("Bytes Read", 0))
                st.records_read += int(im.get("Records Read", 0))
    return groups
