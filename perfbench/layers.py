"""Per-layer tracing for the traced benchmark run.

Nothing here edits ``delta_spark``: the tracer wraps the public entry
point of each layer at run time (``Tracer.install``) and rebinds every
name a ``delta_spark`` module imported by value, so calls through any
import path are seen. Spans nest on a per-thread stack; a layer's self
time is its span's duration minus the time of the spans inside it.

Three counters come from outside Python's call graph:

- py4j round trips, by wrapping ``send_command`` on both py4j
  connection classes, the way ``scripts/profile_merge.py`` does;
- Spark jobs, by giving each op its own job group and reading the
  group's jobs and stages from the Spark driver's status store after the
  op;
- log bytes and commit attempts, by wrapping the log store's atomic
  write.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from typing import Any, Callable

# every wrapped entry point: (module, class or None for a module-level
# function, attribute, layer, span name); a span's time is reported as
# "<layer>.<span name>_s"
ENTRY_POINTS = [
    ("delta_spark.log", "DeltaLog", "update", "log", "update"),
    ("delta_spark.log", "DeltaLog", "snapshot_at", "log", "snapshot_at"),
    ("delta_spark.log", "DeltaLog", "write_checkpoint", "log", "checkpoint"),
    ("delta_spark.log", "DeltaLog", "write_checkpoint_distributed", "log",
     "checkpoint"),
    ("delta_spark.snapshot", "Snapshot", "files_for_scan", "snapshot",
     "files_for_scan"),
    ("delta_spark.reader", None, "read_files_df", "reader", "build"),
    ("delta_spark.reader", None, "read_files_with_index", "reader", "build"),
    ("delta_spark.reader", None, "deleted_rows_df", "reader", "build"),
    ("delta_spark.reader", None, "read_snapshot", "reader", "build"),
    ("delta_spark.writer", None, "write_files", "writer", "write"),
    ("delta_spark.transaction", "OptimisticTransaction", "commit",
     "transaction", "commit"),
    ("delta_spark.transaction", "OptimisticTransaction", "_post_commit",
     "transaction", "hooks"),
    ("delta_spark.commands.merge", "MergeBuilder", "execute", "commands",
     "merge"),
    ("delta_spark.commands.delete", None, "execute_delete", "commands",
     "delete"),
    ("delta_spark.commands.update", None, "execute_update", "commands",
     "update"),
]

# every per-layer metric, in report order, with its unit
LAYER_METRICS = [
    ("log.update_s", "s"), ("log.update_calls", "count"),
    ("log.snapshot_at_s", "s"), ("log.checkpoint_s", "s"),
    ("log.checkpoints", "count"),
    ("snapshot.files_for_scan_s", "s"), ("snapshot.files_selected", "count"),
    ("snapshot.files_total", "count"), ("snapshot.skip_ratio", "ratio"),
    ("reader.build_s", "s"), ("reader.dv_files", "count"),
    ("writer.write_s", "s"), ("writer.files_written", "count"),
    ("writer.bytes_written", "B"),
    ("transaction.commit_s", "s"), ("transaction.hooks_s", "s"),
    ("transaction.commit_attempts", "count"), ("transaction.log_bytes", "B"),
    ("commands.self_s", "s"),
    ("ops.text_s", "s"), ("ops.minhash_s", "s"), ("ops.near_dups_s", "s"),
    ("ops.knn_s", "s"),
    ("spark_jobs.count", "count"), ("spark_jobs.tasks", "count"),
    ("spark_jobs.run_s", "s"), ("spark_jobs.shuffle_bytes", "B"),
    ("spark_jobs.spill_bytes", "B"), ("spark_jobs.failed_tasks", "count"),
    ("py4j.calls", "count"), ("py4j.calls_per_op", "count"),
    ("trace.overhead", "ratio"), ("trace.coverage", "ratio"),
]


class _Span:
    __slots__ = ("layer", "name", "child_s")

    def __init__(self, layer: str, name: str):
        self.layer = layer
        self.name = name
        self.child_s = 0.0


class Tracer:
    """Collects spans and counters for one op at a time.

    ``install`` patches the program; ``op`` brackets one benchmark op
    and returns its per-layer totals. Counting is off outside an op, so
    untraced ops in the same process pay only a flag test."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list[Callable[[], None]] = []
        self._reset()

    # ------------------------------------------------------------ spans

    def _reset(self) -> None:
        self.totals: dict[str, float] = defaultdict(float)
        self.covered_s = 0.0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str, fn: Callable, *a, **kw):
        """Run ``fn`` as a span of ``layer``; time of a span nested in a
        span of the same name counts once (recursion, overloads)."""
        if not self.active:
            return fn(*a, **kw)
        stack = self._stack()
        outer_same = any(s.layer == layer and s.name == name for s in stack)
        sp = _Span(layer, name)
        stack.append(sp)
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            self_s = max(0.0, dur - sp.child_s)
            with self._lock:
                if stack:
                    stack[-1].child_s += dur
                if not outer_same:
                    self.totals[f"{layer}.{name}_s"] += dur
                    self.totals[f"{layer}.{name}_n"] += 1
                self.totals[f"{layer}.self_s"] += self_s
                # spans on helper threads (the DV MERGE job thread) run
                # beside the op's own thread and would count twice
                if threading.get_ident() == self._main:
                    self.covered_s += self_s

    def add(self, key: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.totals[key] += value

    # ---------------------------------------------------------- install

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, layer, name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, attr)
            wrapped = self._wrap(orig, layer, name, attr)
            self._set(target, attr, wrapped)
            if owner is None:
                self._rebind(orig, wrapped)
        self._wrap_log_store()
        self._wrap_py4j()

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    def _set(self, target: Any, attr: str, value: Any) -> None:
        old = getattr(target, attr)
        setattr(target, attr, value)
        self._undo.append(lambda: setattr(target, attr, old))

    def _rebind(self, orig: Callable, wrapped: Callable) -> None:
        """Point every ``from x import f`` copy in the package at the
        wrapper too."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("delta_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._set(mod, k, wrapped)

    def _wrap(self, orig: Callable, layer: str, name: str, attr: str):
        tracer = self
        after = _AFTER.get(attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            if not tracer.active:
                return orig(*a, **kw)
            out = tracer.span(layer, name, orig, *a, **kw)
            if after is not None:
                after(tracer, a, kw, out)
            return out

        return wrapped

    def _wrap_log_store(self) -> None:
        from delta_spark.logstore import LocalLogStore

        orig = LocalLogStore.write_atomic
        tracer = self

        def write_atomic(store, path, content):
            out = orig(store, path, content)
            if tracer.active:
                tracer.add("transaction.log_bytes", len(content.encode()))
                if path.endswith(".json") and path.rsplit("/", 1)[-1][:20] \
                        .isdigit():
                    tracer.add("transaction.commit_attempts", 1)
            return out

        self._set(LocalLogStore, "write_atomic", write_atomic)

    def _wrap_py4j(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        tracer = self
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def send(conn, *a, _orig=orig, **kw):
                if tracer.active:
                    with tracer._lock:
                        tracer.totals["py4j.calls"] += 1
                return _orig(conn, *a, **kw)

            self._set(cls, "send_command", send)

    # --------------------------------------------------------------- op

    def op(self, group: str, fn: Callable[[], Any]) -> tuple[Any, float,
                                                            dict]:
        """Run one op under job group ``group`` with tracing on; return
        (result, wall seconds, per-layer totals of this op)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group, interruptOnCancel=False)
        self._reset()
        self.active = True
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        totals = dict(self.totals)
        totals.update(self._jobs(group))
        totals["trace.covered_s"] = self.covered_s
        return out, wall, totals

    def _jobs(self, group: str) -> dict[str, float]:
        """Jobs, tasks, run time, shuffle and spill of one job group,
        read from the status store once the listener bus has drained."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = defaultdict(float)
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["spark_jobs.count"] += 1
            out["spark_jobs.tasks"] += job.numTasks()
            out["spark_jobs.failed_tasks"] += job.numFailedTasks()
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["spark_jobs.run_s"] += (end.get().getTime()
                                            - sub.get().getTime()) / 1000.0
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Py4JJavaError:  # skipped stage: no attempt recorded
                    continue
                out["spark_jobs.shuffle_bytes"] += st.shuffleWriteBytes()
                out["spark_jobs.spill_bytes"] += (st.memoryBytesSpilled()
                                                  + st.diskBytesSpilled())
        return dict(out)


def _after_files_for_scan(tracer: Tracer, a, kw, out) -> None:
    snap = a[0]
    tracer.add("snapshot.files_selected", len(out))
    tracer.add("snapshot.files_total", snap.num_files)


def _after_read(tracer: Tracer, a, kw, out) -> None:
    files = kw.get("files", a[2] if len(a) > 2 else None)
    if files is not None:
        tracer.add("reader.dv_files",
                   sum(1 for f in files if f.deletionVector is not None))


def _after_write(tracer: Tracer, a, kw, out) -> None:
    tracer.add("writer.files_written", len(out))
    tracer.add("writer.bytes_written", sum(f.size or 0 for f in out))


_AFTER: dict[str, Callable] = {
    "files_for_scan": _after_files_for_scan,
    "read_files_df": _after_read,
    "write_files": _after_write,
}


# per-layer metrics whose per-op total is kept under another key
_TOTAL_KEY = {"log.update_calls": "log.update_n",
              "log.checkpoints": "log.checkpoint_n",
              "py4j.calls_per_op": "py4j.calls"}


def summarize(op_totals: list[dict]) -> dict[str, float]:
    """Per-layer metrics of a set of traced ops: the mean per op of each
    total, except ``py4j.calls`` (the sum) and ``snapshot.skip_ratio``
    (over all ``files_for_scan`` calls)."""
    n = max(1, len(op_totals))

    def mean(key: str) -> float:
        return sum(t.get(key, 0.0) for t in op_totals) / n

    m = {name: mean(_TOTAL_KEY.get(name, name))
         for name, _ in LAYER_METRICS if not name.startswith("trace.")}
    m["py4j.calls"] = m["py4j.calls_per_op"] * len(op_totals)
    total = m["snapshot.files_total"]
    m["snapshot.skip_ratio"] = (1.0 - m["snapshot.files_selected"] / total
                                if total else 0.0)
    return m


def trace_ratios(op_totals: list[dict], traced_walls: list[float],
                 untraced_walls: list[float]) -> dict[str, float]:
    """Tracing overhead (mean traced op ÷ mean untraced op of the same
    op mix) and coverage (layer self time on the op's thread ÷ op
    wall)."""
    traced = sum(traced_walls) / max(1, len(traced_walls))
    untraced = sum(untraced_walls) / max(1, len(untraced_walls))
    covered = sum(t.get("trace.covered_s", 0.0) for t in op_totals)
    return {
        "trace.overhead": traced / untraced if untraced else 0.0,
        "trace.coverage": covered / sum(traced_walls) if traced_walls
        else 0.0,
    }
