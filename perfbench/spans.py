"""Traced-run instrumentation: timing spans at layer call sites and
Spark counters per operation.

Spans are installed from outside the program by rebinding a name where
it is looked up (a module attribute or a class attribute), so the code
under test is not edited. Each span records name, start, end, parent
span and request id; spans stay in memory and are written once at the
end of the run. A span's self time is its duration minus the part of
it that its child spans cover.

Spark counters are attributed through a job group that the benchmark
sets around each operation and read right after it, because the
status store keeps only the most recent jobs.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    """Collects spans. Threads without an open span of their own (the
    streaming micro-batch thread) parent their spans on the current
    operation's root span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = self._next
            self._next += 1
        if request is None and parent is not None:
            request = parent.request
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.id if parent else None, request)
        stack.append(s)
        if parent is None:
            self._root = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self._root is s:
                self._root = None
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its children cover (child
    intervals clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            kids.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.id: (s.end - s.start) - _covered(
            [iv for iv in kids.get(s.id, []) if iv[1] > iv[0]]
        )
        for s in spans
    }


def per_request_self(spans: list[Span]) -> dict[str, list[float]]:
    """span name -> list over requests (in which the name fired) of
    that request's summed self time, in seconds."""
    st = self_times(spans)
    acc: dict[tuple[str, int | None], float] = {}
    for s in spans:
        key = (s.name, s.request)
        acc[key] = acc.get(key, 0.0) + st[s.id]
    out: dict[str, list[float]] = {}
    for (name, _), v in sorted(acc.items(), key=lambda kv: str(kv[0])):
        out.setdefault(name, []).append(v)
    return out


# ------------------------------------------------------------ patching

class Patches:
    """Rebind attributes for the traced run; ``undo`` restores them."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self.tracer.wrap(name, orig))

    def replace(self, owner, attr: str, fn) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def undo(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def install_layer_spans(p: Patches) -> None:
    """Spans at the layer call sites the workloads reach. Names are
    rebound where they are looked up: ``render.py`` imported
    ``parse_target`` by name; class attributes are looked up on each
    call."""
    import importlib

    import ceres_spark.sources.txn_log as txn
    import ceres_spark.tree as tree

    # the package re-exports the function ``render`` under the module's name
    render = importlib.import_module("ceres_spark.plans.render")

    p.wrap(render, "parse_target", "plans.target.parse")
    p.wrap(tree.CeresTree, "points", "tree.points.open")
    p.wrap(tree.CeresTree, "get_node", "tree.get_node")
    p.wrap(tree.CeresTree, "_apply_staging", "tree.apply_staging")
    p.wrap(tree.CeresNode, "read_metadata", "tree.read_metadata")
    p.wrap(tree.CeresNode, "read", "tree.read.build")
    p.wrap(tree.CeresNode, "write", "tree.write")
    p.wrap(txn.TransactionLog, "commit", "sources.txn_log.commit")
    p.wrap(txn.TransactionLog, "latest_version", "sources.txn_log.latest_version")


# ------------------------------------------------------------ counters

class Counters:
    """Per-operation Spark counters read from the status tracker and
    the JVM status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        #: op kind -> list of per-operation counter dicts
        self.by_op: dict[str, list[dict[str, float]]] = {}
        self._n = 0

    def group(self) -> str:
        self._n += 1
        return f"perfbench-{self._n}"

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict[str, float]:
        st = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0.0)
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def record(self, op: str, values: dict[str, float]) -> None:
        self.by_op.setdefault(op, []).append(values)

    def medians(self, ops: tuple[str, ...]) -> dict[str, float]:
        out = {}
        for op in ops:
            rows = self.by_op.get(op, [])
            for c in COUNTERS:
                out[f"spark.{c}.{op}"] = (
                    statistics.median(r[c] for r in rows) if rows else 0.0
                )
        return out
