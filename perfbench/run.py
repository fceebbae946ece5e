"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload sparql_small --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
traced measured phase followed by an untraced one of as many cycles
(their throughput ratio is ``trace.overhead_ratio``).  Everything the
run writes stays under ``.perfbench_work/`` in the checkout; a JSON side
file with the host, the set-up breakdown, per-cycle wall / GC / JIT
deltas, every op and (traced) every span lands in
``.perfbench_work/runs/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Workload parameters; BENCHMARK.json and README.md say why each exists.
WORKLOADS = {
    "sparql_small": {"kind": "sparql", "sf": 0.01},
    "sparql_large": {"kind": "sparql", "sf": 0.2},
    "corpus_ingest": {"kind": "corpus", "batch_docs": 1000, "read_rounds": 5},
}
# A measured phase is this many whole cycles of the workload's op
# sequence, so every run (fast or slow, and on any commit) measures the
# same work.
MEASURED_CYCLES = 1


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _heap_mb() -> int:
    """Driver heap fitted to the host: a quarter of RAM, at most 4 GiB.
    The engine pins -Xms to it, so it must leave room for the OS and the
    Python workers."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return max(1024, min(4096, total_kb // 1024 // 4) // 256 * 256)


def _prepare_env(heap_mb: int) -> None:
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ.pop("SPARK_GRAFT_XMS", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # keep the JVM's temp files (and its perf-data file, which ignores
    # java.io.tmpdir) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _host(spark, nproc: int, heap_mb: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "host": platform.node(),
        "cpu": _cpu_model(),
        "nproc": nproc,
        "mem_total_mb": _mem_total_mb(),
        "heap_mb": heap_mb,
        "java": str(jvm.java.lang.System.getProperty("java.runtime.version")),
        "spark": spark.version,
        "python": platform.python_version(),
    }


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            return next(line.split(":", 1)[1].strip() for line in f if line.startswith("model name"))
    except (OSError, StopIteration):
        return platform.processor()


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 1024


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


class Runner:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.side: dict = {"workload": args.workload, "seed": args.seed,
                           "seconds": args.seconds, "trace": args.trace}
        self._pending = None

    # -- phases ------------------------------------------------------------

    def make_workload(self):
        from perfbench.workloads import CorpusIngest, Excluded, Sparql

        self.excluded = Excluded()
        cache = WORK / "data"
        if self.spec["kind"] == "sparql":
            return Sparql(self.spec["sf"], self.args.seed, cache, self.excluded)
        return CorpusIngest(
            self.args.seed, cache, WORK / f"state-{os.getpid()}", self.excluded,
            self.spec["batch_docs"], self.spec["read_rounds"],
        )

    def run(self) -> dict:
        from perfbench import trace as T

        wl = self.wl = self.make_workload()
        t = time.perf_counter()
        self.side["inputs"] = wl.prepare()
        self.side["prepare_s"] = time.perf_counter() - t

        nproc = len(os.sched_getaffinity(0))
        heap_mb = _heap_mb()
        _prepare_env(heap_mb)
        from sparkall_spark.session import get_spark

        t0 = time.perf_counter()
        spark = self.spark = get_spark(
            "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
            local_dir=str(WORK / "spark-local"),
            extra_conf={"spark.sql.warehouse.dir": str(WORK / "warehouse"),
                        "spark.ui.showConsoleProgress": "false"},
        )
        session_s = time.perf_counter() - t0
        self.side["host"] = _host(spark, nproc, heap_mb)
        _log(f"host {json.dumps(self.side['host'])}")
        self.counter = T.Py4JCounter()
        self.jvm = T.Jvm(spark, self.counter)
        ex0 = self.excluded.wall
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        warm = wl.warmup()
        t3 = time.perf_counter()
        setup_s = (t3 - t0) - (self.excluded.wall - ex0)
        self.side["setup"] = {"session_s": session_s, "setup_s": setup_s,
                              "workload_setup_s": t2 - t1, "warmup_s": t3 - t2,
                              "excluded_s": self.excluded.wall - ex0, "warmup_ops": warm}
        _log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, workload {t2 - t1:.2f}s, "
             f"warm-up {t3 - t2:.2f}s)")

        seq = wl.sequence()
        if self.args.trace:
            self.tracer = T.Tracer(self.counter)
            self.counter.install()
            self.stats = T.SparkStats(spark, self.counter)
            self.tracer.install()
            traced = self.phase(seq, traced=True)
            self.tracer.uninstall()
            self.counter.uninstall()
            plain = self.phase(seq, traced=False)
            self.side["finish"] = wl.finish()
            metrics = self.layer_metrics(traced, plain, session_s)
            ops = traced["ops"] + plain["ops"]
        else:
            plain = self.phase(seq, traced=False)
            self.side["finish"] = wl.finish()
            metrics = self.e2e_metrics(plain, setup_s)
            ops = plain["ops"]
        failed = sum(not r.ok for r in ops)
        for r in ops:
            if not r.ok:
                _log(f"FAILED {r.kind} {r.extra.get('text', '')}: {r.error}")
        for p in wl.problems:
            _log(f"PROBLEM {p}")
        return {
            "correct": failed == 0 and not wl.problems,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }

    def phase(self, seq, traced: bool) -> dict:
        """Closed loop over ``seq`` for the run's number of whole cycles.
        Whole cycles keep the op mix of every run the same."""
        from perfbench import trace as T

        ops, costs, cycles = [], [], []
        jvm0 = self.jvm.read()
        ex_wall0, ex_cpu0 = self.excluded.wall, self.excluded.cpu
        cpu0 = T.tree_cpu_s()
        n_cycles = MEASURED_CYCLES
        start = time.perf_counter()
        cyc = {"cycle": None, "t": start, "jvm": jvm0, "ops": 0}
        if traced:
            self.tracer.active = True
        while True:
            cycle_no, op = self._pending or next(seq)
            self._pending = None
            if cycle_no != cyc["cycle"]:
                if len(cycles) + (cyc["cycle"] is not None) == n_cycles:
                    self._pending = (cycle_no, op)  # the next phase starts here
                    break
                with self.excluded:
                    cyc = self._close_cycle(cycles, cyc, cycle_no)
            if traced:
                self.tracer.op = len(ops)
                root = self.tracer.begin("op")
                self.tracer.op_span = root[0]
                calls0 = self.counter.calls
            r = self.wl.run(op)
            if traced:
                self.tracer.end(root, "op", kind=r.kind, py4j_calls=self.counter.calls - calls0)
                self.tracer.op_span = None
                with self.excluded:
                    costs.append(self.stats.op_cost(r.action_window, r.construct_window))
            ops.append(r)
            cyc["ops"] += 1
        if traced:
            self.tracer.active = False
        end = time.perf_counter()
        cpu = T.tree_cpu_s() - cpu0 - (self.excluded.cpu - ex_cpu0)
        self._close_cycle(cycles, cyc, None)
        jvm1 = self.jvm.read()
        busy = (end - start) - (self.excluded.wall - ex_wall0)
        rss = T.tree_peak_rss_mb()
        driver_rss = T.tree_peak_rss_mb([os.getpid()])
        self.side.setdefault("phases", []).append({
            "traced": traced, "busy_s": busy, "cpu_s": cpu, "ops": len(ops), "cycles": cycles,
            "op_log": [{"kind": r.kind, "text": r.extra.get("text"), "s": round(r.latency_s, 5),
                        "construct_s": round(r.construct_s, 5), "ok": r.ok} for r in ops],
        })
        return {"ops": ops, "costs": costs, "busy": busy, "cpu": cpu, "rss": rss,
                "driver_rss": driver_rss, "jvm0": jvm0, "jvm1": jvm1}

    def _close_cycle(self, cycles: list, cyc: dict, next_no) -> dict:
        now = time.perf_counter()
        jvm = self.jvm.read()
        if cyc["cycle"] is not None and cyc["ops"]:
            cycles.append({
                "cycle": cyc["cycle"], "ops": cyc["ops"], "wall_s": round(now - cyc["t"], 4),
                "gc_ms": jvm["gc_ms"] - cyc["jvm"]["gc_ms"],
                "jit_ms": jvm["jit_ms"] - cyc["jvm"]["jit_ms"],
            })
        return {"cycle": next_no, "t": now, "jvm": jvm, "ops": 0}

    # -- metrics -----------------------------------------------------------

    def e2e_metrics(self, ph: dict, setup_s: float) -> dict:
        ops = ph["ops"]
        reads = [r.latency_s * 1000 for r in ops if r.read]
        # a read's kind is its SPARQL text, or its lookup kind
        by_kind: dict[str, list[float]] = {}
        for r in ops:
            if r.read:
                by_kind.setdefault(r.extra.get("text", r.kind), []).append(r.latency_s * 1000)
        p50 = {k: statistics.median(v) for k, v in by_kind.items()}
        m = {
            "setup_s": (setup_s, "s"),
            "throughput_ops_s": (len(ops) / ph["busy"], "1/s"),
            # every read kind counts alike: the geometric mean of the
            # per-kind medians
            "latency_p50_ms": (statistics.geometric_mean(p50.values()), "ms"),
            "cpu_ms_per_op": (ph["cpu"] * 1000 / len(ops), "ms"),
            "ok_rate": (sum(r.ok for r in ops) / len(ops), "ratio"),
            "peak_rss_mb": (ph["rss"], "MiB"),
        }
        # Reported on stderr and in the side file only (see README.md):
        extra = {"read_samples": len(reads), "latency_p50_ms_by_kind": p50,
                 "latency_p90_ms": _pct(reads, 0.9), "latency_p90_samples_beyond": len(reads) // 10,
                 "driver_peak_rss_mb": ph["driver_rss"]}
        writes = [r for r in ops if r.kind in ("ingest", "compact")]
        ingests = [r for r in ops if r.kind == "ingest"]
        if ingests:
            extra["ingest_docs_s"] = sum(r.extra["offered"] for r in ingests) / sum(
                r.latency_s for r in writes)
            extra["ingest_p50_ms"] = statistics.median(r.latency_s * 1000 for r in ingests)
            extra["ingest_samples"] = len(ingests)
        extra.update(self.side["finish"])
        self.side["extra_metrics"] = extra
        _log(f"extra {json.dumps(extra)}")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def layer_metrics(self, traced: dict, plain: dict, session_s: float) -> dict:
        from perfbench.trace import self_times

        ops, costs = traced["ops"], traced["costs"]
        n = len(ops)
        spans = self.tracer.spans
        selft = self_times(spans)
        self.side["spans"] = [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "self": selft[s.id], **s.attrs} for s in spans
        ]
        sparql = [r for r in ops if r.kind == "sparql"]
        reads = [r for r in ops if r.read]
        lookups = [r for r in ops if r.kind in ("term", "phrase", "bm25")]
        ivf = [r for r in ops if r.kind == "ivf"]
        ingests = [r for r in ops if r.kind == "ingest"]
        compacts = [r for r in ops if r.kind == "compact"]

        def per(total: float, k: int) -> float:
            return total / k if k else 0.0

        def span_ms(name: str, k: int, inclusive: bool = False) -> float:
            tot = sum((s.end - s.start) if inclusive else selft[s.id]
                      for s in spans if s.name == name)
            return per(tot * 1000, k)

        def attr_sum(name: str, key: str) -> float:
            return sum(s.attrs.get(key, 0) for s in spans if s.name == name)

        def cost(field: str) -> float:
            return per(sum(getattr(c, field) for c in costs), n)

        construct_names = {"engine.sparql", "operators.postings.lookup", "operators.similarity.ivf"}
        op_ids = {s.id for s in spans if s.name == "op"}
        construct_calls = sum(s.attrs.get("py4j_calls", 0) for s in spans
                              if s.name in construct_names and s.parent in op_ids)
        m = {
            "session.start_ms": (session_s * 1000, "ms"),
            "mappings.prep_ms": (span_ms("mappings.prep", len(sparql)), "ms"),
            "plans.parser.parse_ms": (span_ms("plans.parser.parse", len(sparql)), "ms"),
            "plans.planner.plan_ms": (span_ms("plans.planner.plan", len(sparql)), "ms"),
            "plans.planner.stars_per_op": (per(attr_sum("plans.planner.plan", "stars"), len(sparql)), "count"),
            "plans.planner.join_edges_per_op": (per(attr_sum("plans.planner.plan", "join_edges"), len(sparql)), "count"),
            "sources.loads_per_op": (per(sum(s.name == "sources.load" for s in spans), len(sparql)), "count"),
            "sources.load_ms": (span_ms("sources.load", len(sparql)), "ms"),
            "executor.construct_ms": (span_ms("executor.construct", len(sparql)), "ms"),
            "plans.sqlgen.construct_ms": (span_ms("plans.sqlgen.construct", len(sparql)), "ms"),
            "construct.ms": (per(sum(r.construct_s for r in reads) * 1000, len(reads)), "ms"),
            "construct.share": (per(sum(r.construct_s for r in reads), sum(r.latency_s for r in reads)), "ratio"),
            "construct.py4j_calls_per_op": (per(construct_calls, len(reads)), "count"),
            "construct.jobs_per_op": (per(sum(c.construct_jobs for c, r in zip(costs, ops) if r.read), len(reads)), "count"),
            "spark.action_ms": (per(sum(r.latency_s - r.construct_s for r in reads) * 1000, len(reads)), "ms"),
            "spark.executor_run_ms": (cost("executor_run_ms"), "ms"),
            "spark.executor_cpu_ms": (cost("executor_cpu_ms"), "ms"),
            "spark.shuffle_read_bytes": (cost("shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (cost("shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (cost("spill_bytes"), "bytes"),
            "spark.input_bytes": (cost("input_bytes"), "bytes"),
            "spark.jobs_per_op": (cost("jobs"), "count"),
            "spark.stages_per_op": (cost("stages"), "count"),
            "spark.tasks_per_op": (cost("tasks"), "count"),
            "spark.job_wait_ms": (cost("job_wait_ms"), "ms"),
            "spark.python_eval_nodes": (cost("python_eval_nodes"), "count"),
            "operators.similarity.ivf_ms": (per(sum(r.latency_s for r in ivf) * 1000, len(ivf)), "ms"),
            "operators.postings.lookup_ms": (per(sum(r.latency_s for r in lookups) * 1000, len(lookups)), "ms"),
            "operators.pipeline.ingest_ms": (span_ms("operators.pipeline.ingest", len(ingests), True), "ms"),
            "operators.pipeline.kept_ratio": (per(sum(r.extra.get("kept", 0) for r in ingests),
                                                  sum(r.extra.get("offered", 0) for r in ingests)), "ratio"),
            "operators.dedup.exact_ms": (span_ms("operators.dedup.exact", len(ingests)), "ms"),
            "operators.dedup.near_ms": (span_ms("operators.dedup.near", len(ingests)), "ms"),
            "operators.postings.append_ms": (span_ms("operators.postings.append", len(ingests), True), "ms"),
            "operators.postings.compact_ms": (span_ms("operators.postings.compact", len(compacts), True), "ms"),
            "operators.postings.files_per_bucket": (per(sum(r.extra.get("files_per_bucket", 0) for r in ingests), len(ingests)), "count"),
            "operators.postings.bytes_rewritten": (per(sum(r.extra.get("bytes_rewritten", 0) for r in compacts), len(compacts)), "bytes"),
            "jvm.gc_ms": (per(traced["jvm1"]["gc_ms"] - traced["jvm0"]["gc_ms"], n), "ms"),
            "jvm.jit_ms": (per(traced["jvm1"]["jit_ms"] - traced["jvm0"]["jit_ms"], n), "ms"),
            "jvm.heap_committed_mb": (traced["jvm1"]["heap_committed_mb"], "MiB"),
            "operators._cache.live_persisted": (self._live_persisted(), "count"),
            # untraced over traced throughput; both phases run MEASURED_CYCLES whole cycles
            "trace.overhead_ratio": ((len(plain["ops"]) / plain["busy"]) / (n / traced["busy"]), "ratio"),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def _live_persisted(self) -> int:
        with self.counter.quiet():
            return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def stop(self) -> None:
        from perfbench.trace import process_tree

        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            try:
                spark.stop()
            finally:
                if gateway is not None:
                    gateway.shutdown()
                if proc is not None:
                    # the JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
        # Python workers are grandchildren; make sure every process this
        # run started has ended before returning.
        deadline = time.time() + 20
        while (left := [p for p in process_tree() if p != os.getpid()]) and time.time() < deadline:
            time.sleep(0.2)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        state = WORK / f"state-{os.getpid()}"
        if state.exists():
            shutil.rmtree(state, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401
        import sparkall_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine sources are not in {ROOT}: {e}", file=sys.stderr)
        return 2
    WORK.mkdir(exist_ok=True)
    runner = Runner(args)
    try:
        result = runner.run()
    finally:
        runner.stop()
    runs = WORK / "runs"
    runs.mkdir(exist_ok=True)
    side = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    side.write_text(json.dumps(runner.side, default=str))
    _log(f"side file {side.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
