"""Span tracing for the traced run, recorded from the benchmark's side.

``Tracer.install`` wraps the public entry points of each package layer
(listed in ``LAYERS``) so every call opens a span: layer, name, start, end
and the span that caused it. Calls nest across layers (``apply_changes`` ->
``LakehouseTable.scan`` -> ``SnapshotLog.live_files``), so a layer's self
time is its span time minus the part covered by child spans. Each span of
a layer that runs Spark work gets its own job group; ``collect_spark`` then
reads jobs, tasks, executor CPU and shuffle bytes per group from the
status store (which is populated with the UI off). Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any

_PKG = "pyiceberg_lakehouse_spark"

# layer (package module) -> {class name or "" for module functions: [names]}
LAYERS: dict[str, dict[str, list[str]]] = {
    "lakehouse.log": {"SnapshotLog": ["load", "commit", "live_files", "live_deletes"]},
    "lakehouse.table": {
        "Lakehouse": ["create_table"],
        "LakehouseTable": [
            "append", "add_files", "delete_keys", "delete_where",
            "scan", "read_snapshot", "read_incremental", "snapshots",
        ],
    },
    "lakehouse.upsert": {"": ["upsert_partitioned", "apply_changes"]},
    "lakehouse.maintenance": {"": ["compact", "expire_snapshots"]},
    "streaming.lakehouse_io": {"": ["write_stream_to_table"]},
    "operators.dedup": {"": ["exact_dedup", "minhash_lsh_pairs"]},
    "operators.similarity": {"": ["cosine_topk", "ivf_topk"]},
    "operators.text": {"": ["quality_score"]},
    "operators.multimodal": {"": ["attach_media_assets", "extract_media_features"]},
}
# layers whose calls never launch Spark jobs get no job group (one py4j
# round trip less per call, which matters for thousands of log calls)
NO_SPARK = {"lakehouse.log"}
# metadata-only calls, and the benchmark operations made of them, in layers
# that otherwise run Spark work: without a job group each costs three py4j
# round trips less, which on commit_churn's 450 add_files commits would
# otherwise be seconds of self time charged to lakehouse.table
NO_SPARK_CALLS = {"LakehouseTable.add_files", "add_files"}
SPARK_LAYERS = [layer for layer in LAYERS if layer not in NO_SPARK]
PLAN_CALLS = {"LakehouseTable.scan", "LakehouseTable.read_snapshot", "LakehouseTable.read_incremental"}


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    thread: int = 0
    group: str | None = None
    pass_no: int = 0
    extra: dict[str, Any] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_no = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._originals: list[tuple[Any, str, Any]] = []
        self._group_layer: dict[str, str] = {}

    # ----------------------------------------------------------- spans --

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, layer: str, name: str, op: bool = False) -> "_SpanCtx":
        return _SpanCtx(self, layer, name, op)

    def _open(self, layer: str, name: str, op: bool) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        else:
            # a callback thread (foreachBatch) works for the main thread's
            # innermost open span
            parent = self._main_stack[-1].sid if self._main_stack else None
        sp = Span(next(self._ids), parent, layer, name, time.perf_counter(),
                  thread=threading.get_ident(), pass_no=self.pass_no)
        sp.extra["op"] = op
        if layer not in NO_SPARK and name not in NO_SPARK_CALLS and threading.get_ident() == self._main:
            sp.group = f"lakebench-{sp.sid}"
            self._group_layer[sp.group] = layer
            self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self.spans.append(sp)
        if sp.group is not None:
            outer = next((s.group for s in reversed(stack) if s.group), None)
            if outer:
                self.sc.setJobGroup(outer, self._group_layer[outer])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def claim_group(self, group: str, layer: str) -> None:
        """Attribute jobs of a group Spark set itself (a streaming query's
        run id) to ``layer``."""
        self._group_layer[group] = layer

    # ------------------------------------------------------- patching --

    def install(self) -> None:
        """Wrap every entry point in ``LAYERS`` (idempotent)."""
        if self._originals:
            return
        for layer, owners in LAYERS.items():
            mod = importlib.import_module(f"{_PKG}.{layer}")
            for owner_name, names in owners.items():
                owner = getattr(mod, owner_name) if owner_name else mod
                for name in names:
                    fn = getattr(owner, name)
                    qual = f"{owner_name}.{name}" if owner_name else name
                    self._originals.append((owner, name, fn))
                    setattr(owner, name, self._wrap(layer, qual, fn))

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._originals):
            setattr(owner, name, fn)
        self._originals = []

    def _wrap(self, layer: str, qual: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, qual) as sp:
                out = fn(*args, **kwargs)
            if qual == "SnapshotLog.live_files":
                sp.extra["files"] = len(out)
            elif qual in PLAN_CALLS:
                sp.extra["input_files"] = len(out.inputFiles())
            return out

        return traced

    # ------------------------------------------------- spark counters --

    def collect_spark(self) -> dict[str, dict[str, float]]:
        """Jobs, tasks, failed tasks, executor CPU seconds and shuffle bytes
        per layer, for every job group this tracer owns, then forgets the
        groups so the next call covers only newer jobs."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        stages: dict[int, tuple[int, int, float, int]] = {}
        slist = store.stageList(empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty)
        for i in range(slist.size()):
            st = slist.apply(i)
            stages[st.stageId()] = (
                st.numCompleteTasks(),
                st.numFailedTasks(),
                st.executorCpuTime() / 1e9,
                st.shuffleReadBytes() + st.shuffleWriteBytes(),
            )
        out = {layer: dict.fromkeys(("jobs", "tasks", "tasks_failed", "exec_cpu_s", "shuffle_bytes"), 0.0)
               for layer in SPARK_LAYERS}
        tracker = self.sc.statusTracker()
        for group, layer in self._group_layer.items():
            acc = out[layer]
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                acc["jobs"] += 1
                for sid in info.stageIds:
                    done, failed, cpu, shuffle = stages.get(sid, (0, 0, 0.0, 0))
                    acc["tasks"] += done
                    acc["tasks_failed"] += failed
                    acc["exec_cpu_s"] += cpu
                    acc["shuffle_bytes"] += shuffle
        self._group_layer.clear()
        return out

    # ---------------------------------------------------- self times --

    def self_times(self, pass_no: int) -> dict[str, float]:
        """Seconds of self time per layer within one pass."""
        spans = [s for s in self.spans if s.pass_no == pass_no]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union([(max(c.t0, s.t0), min(c.t1, s.t1)) for c in children.get(s.sid, [])])
            out[s.layer] = out.get(s.layer, 0.0) + (s.t1 - s.t0) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "parent": s.parent, "layer": s.layer, "name": s.name,
                    "pass": s.pass_no, "t0": s.t0, "t1": s.t1, "thread": s.thread,
                    "group": s.group, **{k: v for k, v in s.extra.items() if k != "op"},
                }) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str, op: bool) -> None:
        self.tracer, self.layer, self.name, self.op = tracer, layer, name, op

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.layer, self.name, self.op)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)
