"""Spans around calls into mopper_spark layers, and Spark event-log rollups.

A ``Tracer`` keeps spans in memory: name, start, end, parent.  Each span
tags the Spark jobs launched while it is the innermost open span with
``SparkContext.setJobGroup(span.group, name)``, so Spark's own event log
(enabled through session conf into a local directory) attributes task
time, shuffle, spill and Python-worker time to the span without guesswork.

``patched(tracer)`` wraps, from outside the library, the public functions
``run_pipeline`` and the command-line ``main()`` call; nothing inside
``mopper_spark`` is edited.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import logging
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        from pyspark import SparkContext

        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent,
                  group=f"span-{idx}", attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    up = self.spans[parent]
                    sc.setJobGroup(up.group, up.name)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        return self_time(self.spans[idx], self.children(idx))

    def groups_under(self, idx: int) -> set[str]:
        """Job groups of a span and all its descendants."""
        out = {self.spans[idx].group}
        for i, s in enumerate(self.spans):
            if s.parent == idx:
                out |= self.groups_under(i)
        return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover.

    Children may overlap each other or run past the parent's bounds; only
    the union of their intervals clipped to the parent counts.
    """
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.seconds - covered


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0

    def add(self, other: "GroupStats") -> "GroupStats":
        return GroupStats(*(getattr(self, f) + getattr(other, f)
                            for f in self.__dataclass_fields__))


_PYTHON_RUN = "time to run Python workers"  # SQL timing metric, ms


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Roll up one event log (an iterable of JSON lines) per job group.

    Jobs are counted from ``SparkListenerJobStart``; task metrics are
    attributed through the job group in the submitting stage's properties.
    Jobs and stages outside any group roll up under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stats(group).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            st = stats(stage_group.get(ev["Stage ID"], ""))
            m = ev.get("Task Metrics") or {}
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PYTHON_RUN:
                    st.python_s += int(acc.get("Update", 0)) / 1000.0
    return out


def read_event_logs(directory: str) -> dict[str, GroupStats]:
    """Merge the rollups of every finished application log in a directory."""
    merged: dict[str, GroupStats] = {}
    for path in sorted(glob.glob(f"{directory}/*")):
        if path.endswith(".inprogress"):
            continue
        with open(path, encoding="utf-8") as f:
            for group, st in parse_event_log(f).items():
                merged[group] = merged.get(group, GroupStats()).add(st)
    return merged


def event_log_conf(directory: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{directory}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# --------------------------------------------------------------------------
# wrappers around the layers' public functions
# --------------------------------------------------------------------------
class RoundsHandler(logging.Handler):
    """Collects ``connected_components`` round counts from its logger."""

    _RE = re.compile(r"converged after (\d+) rounds|hit max_iter=(\d+)")

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.rounds: list[int] = []

    def emit(self, record: logging.LogRecord) -> None:
        m = self._RE.search(record.getMessage())
        if m:
            self.rounds.append(int(m.group(1) or m.group(2)))


def _wrap(tracer: Tracer, name: str, fn, attrs=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})):
            return fn(*args, **kwargs)
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Wrap the public calls of the pipeline and the CLI for one traced run.

    Yields the ``RoundsHandler`` attached to the CC logger.
    """
    from pyspark.sql import DataFrameWriter

    import mopper_spark.engine as engine
    import mopper_spark.pipeline.canonicalize as canonicalize
    import mopper_spark.pipeline.job as job
    import mopper_spark.rml as rml
    from mopper_spark.pipeline.checkpoint import CheckpointManager

    targets = [
        (CheckpointManager, "stage", "checkpoint.stage",
         lambda self, name, *a, **k: {"stage": name}),
        (job, "link_mentions", "linking.link_mentions", None),
        (canonicalize, "connected_components", "cc.connected_components", None),
        (rml, "mapping_to_plan", "rml.mapping_to_plan", None),
        (engine, "run_plan", "engine.run_plan", None),
        (DataFrameWriter, "parquet", "checkpoint.write", None),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in targets]
    cc_log = logging.getLogger("mopper_spark.pipeline.cc")
    handler, level = RoundsHandler(), cc_log.level
    try:
        for obj, attr, name, attrs in targets:
            setattr(obj, attr, _wrap(tracer, name, getattr(obj, attr), attrs))
        cc_log.addHandler(handler)
        cc_log.setLevel(logging.INFO)
        yield handler
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)
        cc_log.removeHandler(handler)
        cc_log.setLevel(level)
