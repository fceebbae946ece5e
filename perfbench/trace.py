"""Out-of-process-boundary instrumentation: spans, Py4J call counts,
Spark status-store deltas, JVM MXBeans and process-tree CPU / memory.

Nothing here edits the engine.  Spans come from rebinding public
functions in every module that looks them up (a ``from x import f``
copy included); a function a later version no longer has simply yields
no span.  Spans are kept in memory and written out at the end of a run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import re
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.java_gateway import GatewayClient
from py4j.protocol import Py4JJavaError

# (module, function, span name); ``Class.method`` names wrap a method on
# its class.  Lazy functions (those returning a
# DataFrame) time their construct work only; their execution lands in
# the action that consumes them.
WRAPPED = [
    ("sparkall_spark.engine", "Engine.sparql", "engine.sparql"),
    ("sparkall_spark.mappings", "expand_negated_paths", "mappings.prep"),
    ("sparkall_spark.plans.parser", "parse_sparql", "plans.parser.parse"),
    ("sparkall_spark.plans.planner", "plan_query", "plans.planner.plan"),
    ("sparkall_spark.sources", "load_source", "sources.load"),
    ("sparkall_spark.executor", "execute_plan", "executor.construct"),
    ("sparkall_spark.plans.sqlgen", "compile_sql", "plans.sqlgen.construct"),
    ("sparkall_spark.plans.sqlgen", "execute_sql_backend", "plans.sqlgen.construct"),
    ("sparkall_spark.operators.pipeline", "ingest_documents", "operators.pipeline.ingest"),
    ("sparkall_spark.operators.dedup", "exact_dedup_incremental", "operators.dedup.exact"),
    ("sparkall_spark.operators.dedup", "minhash_dedup_incremental", "operators.dedup.near"),
    ("sparkall_spark.operators.postings", "build_postings", "operators.postings.build"),
    ("sparkall_spark.operators.postings", "append_postings", "operators.postings.append"),
    ("sparkall_spark.operators.postings", "compact_postings", "operators.postings.compact"),
    ("sparkall_spark.operators.postings", "term_query", "operators.postings.lookup"),
    ("sparkall_spark.operators.postings", "phrase_search", "operators.postings.lookup"),
    ("sparkall_spark.operators.postings", "bm25_scores", "operators.postings.lookup"),
    ("sparkall_spark.operators.similarity", "ivf_topk", "operators.similarity.ivf"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder.  ``active`` gates recording; wrappers stay cheap
    pass-throughs while it is off."""

    def __init__(self, counter: "Py4JCounter"):
        self.spans: list[Span] = []
        self.counter = counter
        self.active = False
        self.op: int | None = None
        self.op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def begin(self, name: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        sid = next(self._ids)
        stack.append(sid)
        return sid, parent, time.perf_counter()

    def end(self, token: tuple[int, int | None, float], name: str, **attrs) -> None:
        sid, parent, t0 = token
        t1 = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(sid, name, t0, t1, parent, self.op, attrs))

    def install(self) -> None:
        """Rebind every function in WRAPPED wherever it is looked up."""
        for mod_name, fn_name, span_name in WRAPPED:
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            if "." in fn_name:
                cls_name, meth = fn_name.split(".")
                cls = getattr(mod, cls_name, None)
                orig = getattr(cls, meth, None)
                if orig is not None:
                    self._restore.append((cls, meth, orig))
                    setattr(cls, meth, self._wrap(orig, span_name))
                continue
            orig = getattr(mod, fn_name, None)
            if orig is None:
                continue
            wrapper = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if not (name.startswith(("sparkall_spark", "perfbench")) or name == "__spark_entry__"):
                    continue
                if getattr(m, fn_name, None) is orig:
                    self._restore.append((m, fn_name, orig))
                    setattr(m, fn_name, wrapper)

    def uninstall(self) -> None:
        for m, fn_name, orig in reversed(self._restore):
            setattr(m, fn_name, orig)
        self._restore.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tok = tracer.begin(span_name)
            calls0 = tracer.counter.calls
            attrs = {}
            try:
                out = fn(*args, **kwargs)
                if span_name == "plans.planner.plan":
                    attrs = _plan_shape(out)
                return out
            finally:
                attrs["py4j_calls"] = tracer.counter.calls - calls0
                tracer.end(tok, span_name, **attrs)

        return wrapper


def _plan_shape(plan) -> dict:
    """Stars and join edges of a ``QueryPlan`` (UNION branches are planned
    by their own ``plan_query`` calls, so they add their own spans)."""
    try:
        return {"stars": len(plan.query.stars), "join_edges": len(plan.join_edges)}
    except AttributeError:
        return {}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start) - _union_len(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])])
        for s in spans
    }


# --------------------------------------------------------------------------
# Py4J call counting
# --------------------------------------------------------------------------


class Py4JCounter:
    """Counts Py4J CALL commands (``c\\n``) sent to the JVM.  Finalizer
    detach commands (``m\\n``) and the benchmark's own status reads (sent
    inside ``quiet()``) are not counted."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._orig = None

    def install(self) -> None:
        orig = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if command.startswith("c\n") and not getattr(counter._local, "quiet", False):
                with counter._lock:
                    counter.calls += 1
            return orig(client, command, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            GatewayClient.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def quiet(self):
        """Calls sent inside this block (on this thread) are not counted."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False


# --------------------------------------------------------------------------
# Spark status store + JVM
# --------------------------------------------------------------------------

_PY_EVAL = re.compile(r"^\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas)\b", re.M)


@dataclass
class OpCost:
    jobs: int = 0
    construct_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    job_wait_ms: float = 0.0
    python_eval_nodes: int = 0


class SparkStats:
    """Reads the jobs, stages and SQL executions created since the last
    read from Spark's status store, so jobs submitted from any thread
    count."""

    def __init__(self, spark, counter: Py4JCounter):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.quiet = counter.quiet
        self.next = {"job": 0, "stage": 0, "exec": 0}
        with self.quiet():
            self.sc.listenerBus().waitUntilEmpty()
            for kind in self.next:
                for _ in self._new(kind):
                    pass

    def _get(self, kind: str, i: int):
        if kind == "exec":
            opt = self.sql_store.execution(i)
            return opt.get() if opt.isDefined() else None
        try:  # both raise NoSuchElementException for an unknown id
            return self.store.job(i) if kind == "job" else self.store.lastStageAttempt(i)
        except Py4JJavaError:
            return None

    def _new(self, kind: str):
        """Objects with ids from the last one read on.  Ids are allocated
        sequentially; one missing id is skipped so a gap cannot stall
        the scan."""
        while True:
            x = self._get(kind, self.next[kind])
            if x is None:
                x = self._get(kind, self.next[kind] + 1)
                if x is None:
                    return
                self.next[kind] += 1
            self.next[kind] += 1
            yield x

    def op_cost(self, action_window: tuple[float, float] | None,
                construct_window: tuple[float, float] | None) -> OpCost:
        """Cost of everything that ran since the previous call.  Windows
        are wall-clock (epoch seconds) intervals of the op's phases."""
        c = OpCost()
        intervals = []
        with self.quiet():
            self.sc.listenerBus().waitUntilEmpty()
            for j in self._new("job"):
                c.jobs += 1
                sub, done = j.submissionTime(), j.completionTime()
                if sub.isDefined():
                    s = sub.get().getTime() / 1000.0
                    e = done.get().getTime() / 1000.0 if done.isDefined() else s
                    intervals.append((s, e))
                    if construct_window and construct_window[0] <= s <= construct_window[1]:
                        c.construct_jobs += 1
            for st in self._new("stage"):
                if str(st.status().toString()) == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += st.numTasks()
                c.executor_run_ms += st.executorRunTime()
                c.executor_cpu_ms += st.executorCpuTime() / 1e6
                c.shuffle_read_bytes += st.shuffleReadBytes()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c.input_bytes += st.inputBytes()
            for x in self._new("exec"):
                c.python_eval_nodes += len(_PY_EVAL.findall(x.physicalPlanDescription()))
        if action_window:
            a0, a1 = action_window
            covered = _union_len([(max(s, a0), min(e, a1)) for s, e in intervals])
            c.job_wait_ms = max(0.0, (a1 - a0) - covered) * 1000.0
        return c


class Jvm:
    """GC time, JIT compile time and committed heap of the driver JVM
    (in local mode, the only JVM) from its MXBeans."""

    def __init__(self, spark, counter: Py4JCounter):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.quiet = counter.quiet

    def read(self) -> dict:
        with self.quiet():
            gc = 0
            it = self.mf.getGarbageCollectorMXBeans().iterator()
            while it.hasNext():
                gc += it.next().getCollectionTime()
            jit = self.mf.getCompilationMXBean().getTotalCompilationTime()
            heap = self.mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        return {"gc_ms": float(gc), "jit_ms": float(jit), "heap_committed_mb": heap / 2**20}


def _union_len(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU of the process tree, including reaped children."""
    total = 0
    for p in pids or process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the process tree, MiB."""
    total_kb = 0
    for p in pids or process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
