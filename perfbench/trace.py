"""Spans, layer wrappers and Spark status-store snapshots for the traced run.

Everything here measures the program from outside: a layer's public
function is wrapped wherever a module binds it by name (``plans.tpch.
base_table``, ``plans.la._barrier`` ...) and restored afterwards; Spark-side
counts come from the application status store and the SQL status store,
which Spark fills even with ``spark.ui.enabled=false``.

Spans live in memory (name, start, end, parent, query id) and are written
out once, when the run ends.  A span's self time is its duration minus the
time its child spans cover.
"""

from __future__ import annotations

import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    qid: str = ""
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span recorder.  It starts disabled; while ``enabled`` is False spans
    and patches are no-ops, so untraced passes run the same benchmark code
    without the cost."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.qid = ""
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else -1,
                  qid=self.qid)
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sp.parent >= 0:
                self.spans[sp.parent].child_s += sp.dur

    @contextmanager
    def query(self, qid: str):
        """Root span of one query; nested spans carry its id."""
        prev, self.qid = self.qid, qid
        try:
            with self.span("query") as sp:
                yield sp
        finally:
            self.qid = prev

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` inside a span; ``on_result(arguments)`` runs after the span
        with the call's arguments by parameter name."""
        sig = inspect.signature(fn)

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sig.bind(*args, **kwargs).arguments)
            return out

        traced.__wrapped__ = fn
        return traced

    # -- patching ----------------------------------------------------------
    def patch_bindings(self, original, name: str, package: str = "lachesis_spark",
                       on_result=None) -> int:
        """Replace ``original`` by a traced wrapper in every loaded module
        of ``package`` that binds it by name; returns the number of
        bindings patched."""
        if not self.enabled:
            return 0
        wrapper = self.wrap(original, name, on_result)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def patch_method(self, cls, meth: str, name: str, on_result=None) -> None:
        if not self.enabled:
            return
        original = getattr(cls, meth)
        self._patches.append((cls, meth, original))
        setattr(cls, meth, self.wrap(original, name, on_result))

    def restore(self) -> None:
        for obj, attr, val in reversed(self._patches):
            setattr(obj, attr, val)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------
    def nesting_ok(self) -> bool:
        """Every child lies inside its parent and belongs to its query."""
        for s in self.spans:
            if s.end < s.start:
                return False
            if s.parent >= 0:
                p = self.spans[s.parent]
                if not (p.start <= s.start and s.end <= p.end and p.qid == s.qid):
                    return False
        return True

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class SparkCounters:
    """Per-query snapshots of the Spark status stores.

    Job, stage and SQL-execution ids are allocated in sequence, so the ids a
    query created are the range between two snapshots.  Snapshots are taken
    per query because the stores keep only the newest ``spark.ui.retained*``
    entries; an id of the range that is no longer in the store means it was
    evicted, and the snapshot raises instead of under-counting."""

    FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "sql_executions",
              "exchanges")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_exec = self._max_execution_id()

    def resync(self) -> None:
        """Forget SQL executions created so far (by untraced work)."""
        self._drain()
        self._last_exec = self._max_execution_id()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        return (self._dag.nextJobId(), self._dag.nextStageId())

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        lst = self._sql.executionsList(int(n) - 1, 1)
        return lst.apply(0).executionId() if lst.size() else -1

    def _new_executions(self) -> list:
        """SQL executions created since the previous call, oldest first."""
        n = int(self._sql.executionsCount())
        k = 8
        while True:
            lst = self._sql.executionsList(max(0, n - k), k)
            ids = [lst.apply(i) for i in range(lst.size())]
            if not ids or ids[0].executionId() <= self._last_exec or k >= n:
                break
            k *= 4
        new = [e for e in ids if e.executionId() > self._last_exec]
        if new:
            want = list(range(self._last_exec + 1, new[-1].executionId() + 1))
            got = [e.executionId() for e in new]
            if got != want:
                raise RuntimeError(
                    f"SQL executions {sorted(set(want) - set(got))[:5]} were "
                    "evicted from the status store before the snapshot")
            self._last_exec = got[-1]
        return new

    def snapshot(self, since: tuple[int, int]) -> dict[str, float]:
        """Counters for the jobs, stages and SQL executions created since
        the ``mark()`` ``since``."""
        self._drain()
        job0, stage0 = since
        job1, stage1 = self.mark()
        out = dict.fromkeys(self.FIELDS, 0.0)
        for jid in range(job0, job1):
            try:
                self._store.job(jid)
            except Py4JJavaError as e:
                raise RuntimeError(
                    f"job {jid} was evicted from the status store before the "
                    f"snapshot: {str(e)[:120]}") from None
        out["jobs"] = job1 - job0
        empty = self._jvm.java.util.ArrayList()
        for sid in range(stage0, stage1):
            attempts = self._store.stageData(sid, False, empty, False, self._no_quantiles)
            if attempts.size() == 0:
                raise RuntimeError(
                    f"stage {sid} was evicted from the status store before "
                    "the snapshot")
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_bytes"] += s.inputBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        for e in self._new_executions():
            out["sql_executions"] += 1
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            out["exchanges"] += sum(
                1 for i in range(nodes.size()) if nodes.apply(i).name() == "Exchange")
        return out
