"""Tracing for the per-layer run: spans around public calls, Spark's
event log, and a streaming progress listener.

Nothing inside ``hpaste_spark`` is instrumented.  :class:`Tracer`
replaces a module or class attribute — the very name the caller
resolves at call time, e.g. ``hpaste_spark.plans.query.build_rows`` —
with a wrapper that records a span, and puts the original back in
:meth:`Tracer.restore`.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Iterable


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._main = threading.get_ident()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int | None:
        if threading.get_ident() != self._main:
            return None  # callbacks on Spark's threads are not attributed
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Route ``owner.attr`` through a span named ``name``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return tracer.call(name, original, *args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- analysis -------------------------------------------------------------

    def self_seconds(self) -> list[float]:
        """Per span: its duration minus its direct children's."""
        out = [s.seconds for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.seconds
        return out

    def by_name(self, op_ids: set[int] | None = None) -> dict[str, dict[str, list[float]]]:
        """``{span name: {"total": [...], "self": [...]}}`` over the spans
        of the given ops (all spans when ``op_ids`` is None)."""
        selfs = self.self_seconds()
        out: dict[str, dict[str, list[float]]] = defaultdict(lambda: {"total": [], "self": []})
        for s, own in zip(self.spans, selfs):
            if op_ids is None or s.op_id in op_ids:
                out[s.name]["total"].append(s.seconds)
                out[s.name]["self"].append(own)
        return out


def patch_public_api(tracer: Tracer) -> None:
    """Wrap the public calls each layer metric is measured on."""
    import __spark_entry__ as entry
    from hpaste_spark.operators import cache, mutations
    from hpaste_spark.plans import job, query
    from hpaste_spark.sources import catalog, storage

    Q, S = query.Query2Builder, storage.ParquetStorage
    for owner, attr, name in [
        (Q, "to_df", "query.to_df"),
        (Q, "single_option", "query.single_option"),
        (Q, "multi_map", "query.multi_map"),
        (Q, "scan_to_iterable", "query.scan"),
        (query, "build_rows", "row.build_rows"),
        (cache.TestCache, "get_result", "cache.get_result"),
        (S, "read", "storage.read"),
        (S, "write", "storage.commit"),
        (S, "write_partial", "storage.commit"),
        (S, "vacuum_versions", "storage.vacuum"),
        (mutations.OpBase, "execute", "mutations.execute"),
        (mutations, "apply_deletes", "mutations.merge_build"),
        (mutations, "merge_puts", "mutations.merge_build"),
        (mutations, "merge_increments", "mutations.merge_build"),
        (mutations, "bulk_merge_increments", "job.bulk_write"),
        (job.HJob, "run", "job.run"),
        (catalog, "load_table", "catalog.load"),
        (entry, "load_table", "catalog.load"),
        (entry, "driver_htable", "catalog.load"),
    ]:
        tracer.wrap(owner, attr, name)


# -- Spark event log ------------------------------------------------------------------

_TASK_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "task_wait_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "input_records",
    "peak_exec_mem_mb",
)


def parse_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Aggregate a Spark JSON-lines event log by job group.

    Returns ``{group: {"jobs", "stages", "tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "task_wait_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "input_records",
    "peak_exec_mem_mb"}}``.  ``task_wait_s`` is the part of each task's
    launch-to-finish time not spent running (scheduling, deserialising,
    fetching results); ``peak_exec_mem_mb`` is the largest single-task
    peak.  Jobs without a group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mb = 1024.0 * 1024.0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "") or ""
            stages = ev.get("Stage IDs") or [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            for sid in stages:
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = out[stage_group.get(ev.get("Stage ID"), "")]
            info = ev.get("Task Info", {})
            run_ms = m.get("Executor Run Time", 0)
            g["tasks"] += 1
            g["executor_run_s"] += run_ms / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            span_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g["task_wait_s"] += max(0, span_ms - run_ms) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
            g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
            g["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
            inp = m.get("Input Metrics", {})
            g["input_mb"] += inp.get("Bytes Read", 0) / mb
            g["input_records"] += inp.get("Records Read", 0)
            g["peak_exec_mem_mb"] = max(g["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / mb)
    return {k: dict(v) for k, v in out.items()}


def sum_groups(groups: dict[str, dict[str, float]], names: Iterable[str]) -> dict[str, float]:
    """Add up the per-group aggregates of ``names`` (peak memory: max)."""
    tot: dict[str, float] = defaultdict(float)
    for n in names:
        for k, v in groups.get(n, {}).items():
            tot[k] = max(tot[k], v) if k == "peak_exec_mem_mb" else tot[k] + v
    for k in ("jobs", "stages", *_TASK_FIELDS):
        tot.setdefault(k, 0.0)
    return dict(tot)


# -- streaming ---------------------------------------------------------------------------


def stream_listener():
    """A ``StreamingQueryListener`` that counts micro-batches and keeps
    their trigger durations and state-store row counts."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.trigger_ms: list[float] = []
            self.state_rows: list[float] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.trigger_ms.append(float((p.durationMs or {}).get("triggerExecution", 0)))
            self.state_rows.append(float(sum(s.numRowsTotal for s in (p.stateOperators or []))))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
