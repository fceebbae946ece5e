"""The benchmark's workloads: set-up, warm-up and the op sequence.

Imported only after ``run.py`` has put the checkout root on ``sys.path``.

One client thread runs a closed loop: each op waits for its answer
before the next is sent.  Every op is checked against a reference
answer after its timer stops; checking never counts as op time.
"""

from __future__ import annotations

import itertools
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as E
from perfbench import gen
from perfbench.oracle import CorpusMirror, SparqlOracle
from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from sparkall_spark.operators.pipeline import ingest_documents
from sparkall_spark.operators.postings import (
    append_postings,
    bm25_scores,
    build_postings,
    compact_postings,
    load_doclen,
    load_postings,
    phrase_search,
    read_postings_meta,
    save_postings,
    term_query,
)
from sparkall_spark.operators.similarity import ivf_topk


@dataclass
class OpResult:
    kind: str
    construct_s: float  # building the lazy plan (0 for eager ops)
    latency_s: float
    ok: bool
    read: bool  # counted in the read-latency percentiles
    construct_window: tuple[float, float] | None = None  # epoch seconds
    action_window: tuple[float, float] | None = None
    error: str | None = None
    extra: dict = field(default_factory=dict)


class Excluded:
    """Accumulates the wall and driver-CPU time of the benchmark's own
    bookkeeping (checks, mirror updates) done inside timed regions, so it
    can be subtracted from them."""

    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0

    def __enter__(self):
        self._w, self._c = time.perf_counter(), time.process_time()

    def __exit__(self, *exc):
        self.wall += time.perf_counter() - self._w
        self.cpu += time.process_time() - self._c
        return False


def _epoch_window(p0: float, p1: float) -> tuple[float, float]:
    off = time.time() - time.perf_counter()
    return (p0 + off, p1 + off)


# --------------------------------------------------------------------------
# SPARQL over the star schema
# --------------------------------------------------------------------------


class Sparql:
    """The 25 ``SPARQL_QUERIES`` texts over a generated star schema.

    Each cycle runs every text once in a seeded order: ``Engine.sparql``
    (construct) then ``count()`` (action), checked against the text's
    DuckDB oracle row count.  The warm-up is one cycle that collects
    every full result instead and compares it with the oracle's rows.
    The cycle after it is the steadiest one to measure: on the reference
    host its wall time varied about 3% over ten runs, while the third
    cycle, where the JIT moves hot code to its optimising compiler,
    varied about 8-20%.
    """

    def __init__(self, sf: float, seed: int, cache: Path, excluded: Excluded):
        self.sf = sf
        self.seed = seed
        self.cache = cache
        self.excluded = excluded
        self.problems: list[str] = []

    def prepare(self) -> dict:
        self.data = gen.write_tpch(self.cache, self.sf, self.seed)
        self.names = sorted(E.SPARQL_QUERIES)
        self.texts = {n: PREFIX_BLOCK + E.SPARQL_QUERIES[n][0] for n in self.names}
        self.oracle = SparqlOracle(str(self.data), E.oracle_sql(), self.names)
        nbytes = sum(p.stat().st_size for p in self.data.glob("*.parquet"))
        return {"data_dir": self.data.name, "input_bytes": nbytes, "texts": len(self.names)}

    def setup(self, spark) -> None:
        self.engine = Engine(spark, tpch_mappings(str(self.data)))

    def warmup(self) -> list[dict]:
        log = []
        for name in self._cycle(random.Random(f"{self.seed}-warmup")):
            t0 = time.perf_counter()
            try:
                tbl = self.engine.sparql(self.texts[name]).toArrow()
                err = None
            except Exception as e:  # an engine failure is a result, not a crash
                tbl, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            with self.excluded:
                if err is None:
                    err = self.oracle.compare(name, tbl)
            if err:
                self.problems.append(f"full result {name}: {err}")
            log.append({"op": name, "s": round(dt, 4), "ok": err is None})
        return log

    def _cycle(self, rng: random.Random) -> list[str]:
        names = list(self.names)
        rng.shuffle(names)
        return names

    def sequence(self):
        """(cycle number, text name) forever."""
        rng = random.Random(f"{self.seed}-ops")
        for cycle in itertools.count():
            for name in self._cycle(rng):
                yield cycle, name

    def run(self, name: str) -> OpResult:
        t0 = time.perf_counter()
        c1 = t0
        try:
            df = self.engine.sparql(self.texts[name])
            c1 = time.perf_counter()
            n = df.count()
            t1 = time.perf_counter()
            ok = n == self.oracle.counts[name]
            err = None if ok else f"{n} rows, oracle {self.oracle.counts[name]}"
        except Exception as e:
            t1 = time.perf_counter()
            ok, err = False, f"{type(e).__name__}: {e}"
        return OpResult(
            kind="sparql", construct_s=c1 - t0, latency_s=t1 - t0, ok=ok,
            read=True, construct_window=_epoch_window(t0, c1),
            action_window=_epoch_window(c1, t1), error=err, extra={"text": name},
        )

    def finish(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# corpus ingest + index reads
# --------------------------------------------------------------------------

N_BUCKETS = 16
NPROBE = 4
TOP_K = 10
# One round of reads: one lookup of each kind.
READ_KINDS = ("term", "phrase", "bm25", "ivf")
WARMUP_ROUNDS = 2


class CorpusIngest:
    """Seeded document batches arriving at a deduplicating ingest with a
    positional index and an IVF vector search.

    Set-up ingests batch 0 into an empty corpus and saves the index; the
    warm-up runs ``WARMUP_ROUNDS`` rounds of reads (the first IVF read
    starts the Python workers and takes about 4 s; every kind's second
    read is within about 20% of its measured latency).  A cycle is
    ``read_rounds`` rounds of reads (one of each of ``READ_KINDS`` in
    seeded order, keys drawn from the ingested corpus so they hit), then
    one ingest (dedup + index append) and one compaction.  A run measures one cycle, so compaction
    follows every ingest rather than every few.
    """

    def __init__(self, seed: int, cache: Path, state: Path, excluded: Excluded,
                 batch_docs: int, read_rounds: int):
        self.seed = seed
        self.cache = cache
        self.state = state
        self.excluded = excluded
        self.batch_docs = batch_docs
        self.read_rounds = read_rounds
        self.problems: list[str] = []
        self.next_batch = 0
        self.offered_bytes = 0
        self.offered_docs = 0

    def prepare(self) -> dict:
        self.corpus = gen.Corpus(self.seed, self.batch_docs)
        self.corpus.write_batch(self.cache, 0)
        self.mirror = CorpusMirror(self.corpus.centres, NPROBE)
        for old in self.state.parent.glob("state-*"):  # left by killed runs
            pid = old.name.split("-", 1)[1]
            if old == self.state or (pid.isdigit() and not Path(f"/proc/{pid}").exists()):
                shutil.rmtree(old, ignore_errors=True)
        self.state.mkdir(parents=True)
        self.paths = {k: str(self.state / k) for k in ("corpus", "ledger", "near_ledger", "index")}
        return {"batch_docs": self.batch_docs, "vocab": gen.VOCAB_SIZE, "dim": gen.EMB_DIM}

    # -- engine calls ------------------------------------------------------

    def setup(self, spark) -> None:
        self.spark = spark
        kept = self._ingest_batch()
        save_postings(
            build_postings(kept, n_buckets=N_BUCKETS), self.paths["index"],
            n_buckets=N_BUCKETS, prebucketed=True,
        )
        self._reload()
        with self.excluded:
            self._check_index()

    def _ingest_batch(self):
        """Ingest the next batch; returns the kept rows as read back from
        the corpus.  Checks the kept count against the generator."""
        i = self.next_batch
        with self.excluded:
            path = self.corpus.write_batch(self.cache, i)
            self.offered_bytes += path.stat().st_size
            self.offered_docs += self.batch_docs
            self.corpus.write_batch(self.cache, i + 1)  # the next arrival, off the clock
        batch = self.spark.read.parquet(str(path))
        n = ingest_documents(
            self.spark, batch, self.paths["corpus"], self.paths["ledger"],
            near_ledger_path=self.paths["near_ledger"],
        )
        self.next_batch += 1
        lo, hi = i * self.batch_docs, (i + 1) * self.batch_docs - 1
        with self.excluded:
            want = self.corpus.originals(i)
            self.last_kept = n
            if n != len(want):
                self.problems.append(f"batch {i}: kept {n}, ledger says {len(want)}")
            self.mirror.add(
                want, [[gen.VOCAB[t] for t in self.corpus.tokens(int(d))] for d in want],
                np.stack([self.corpus.embedding(int(d)) for d in want]),
            )
        return self.spark.read.parquet(self.paths["corpus"]).filter(F.col("doc_id").between(lo, hi))

    def _reload(self) -> None:
        """Re-open the saved index and vectors after a write, as a client
        must (a DataFrame's file listing is fixed when it is created)."""
        self.post = load_postings(self.spark, self.paths["index"])
        self.doclen = load_doclen(self.spark, self.paths["index"])
        self.meta = read_postings_meta(self.spark, self.paths["index"])
        self.vecs = self.spark.read.parquet(self.paths["corpus"]).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )

    def _check_index(self) -> None:
        n, avg = self.mirror.stats()
        if int(self.meta["n_docs"]) != n or abs(float(self.meta["avg_len"]) - avg) > 1e-6:
            self.problems.append(f"index meta {self.meta} != mirror ({n}, {avg})")

    def ingest(self) -> dict:
        kept = self._ingest_batch()
        append_postings(build_postings(kept, n_buckets=N_BUCKETS), self.paths["index"],
                        prebucketed=True)
        self._reload()
        with self.excluded:
            self._check_index()
            return {"kept": self.last_kept, "offered": self.batch_docs, **self._index_files()}

    def compact(self) -> dict:
        compact_postings(self.spark, self.paths["index"])
        self._reload()
        with self.excluded:
            self._check_index()
            # compaction rewrites every live row, so its output is the bytes rewritten
            return {"bytes_rewritten": self._index_files()["index_bytes"]}

    def _index_files(self) -> dict:
        files = list(Path(self.paths["index"]).glob("tok_bucket=*/*.parquet"))
        return {"files_per_bucket": len(files) / N_BUCKETS,
                "index_bytes": sum(f.stat().st_size for f in files)}

    def read(self, kind: str, rng: random.Random):
        """(lazy DataFrame, checker) for one lookup with keys drawn from
        an ingested document."""

        ids = self.mirror.ids
        doc = int(ids[rng.randrange(len(ids))])
        words = [gen.VOCAB[t] for t in self.corpus.tokens(doc)]
        p = rng.randrange(len(words) - 2)
        if kind == "term":
            terms = [words[p], words[rng.randrange(len(words))]]
            df = term_query(self.post, terms, n_buckets=N_BUCKETS)
            return df, lambda t: _same(_rows(t, "doc_id", "n_terms_matched", "total_tf"),
                                       self.mirror.term_query(terms))
        if kind == "phrase":
            phrase = words[p:p + 2 + rng.randrange(2)]
            df = phrase_search(self.post, " ".join(phrase), n_buckets=N_BUCKETS)
            return df, lambda t: _same(
                {(d, tuple(m), n) for d, m, n in _rows(t, "doc_id", "match_positions", "n_matches")},
                self.mirror.phrase(phrase))
        if kind == "bm25":
            q = [words[p], words[rng.randrange(len(words))], words[rng.randrange(len(words))]]
            df = bm25_scores(
                self.post, " ".join(q), n_docs=int(self.meta["n_docs"]),
                avg_len=float(self.meta["avg_len"]), doclen=self.doclen, n_buckets=N_BUCKETS,
            )
            return df, lambda t: _close(dict(_rows(t, "doc_id", "bm25")), self.mirror.bm25(q), 1e-5)
        qids = sorted({int(ids[rng.randrange(len(ids))]) for _ in range(4)})
        df = ivf_topk(
            self.vecs, self.vecs.filter(F.col("vec_id").isin(qids)), k=TOP_K,
            n_cells=gen.N_CLUSTERS, nprobe=NPROBE, centroids=self.corpus.centres, assign="arrow",
        )
        return df, lambda t: _ivf_ok(t, self.mirror.ivf(qids, TOP_K))

    # -- op loop -----------------------------------------------------------

    def warmup(self) -> list[dict]:
        rng = random.Random(f"{self.seed}-warmup")
        log = []
        for kind in READ_KINDS * WARMUP_ROUNDS:
            r = self._run_read(kind, rng)
            if not r.ok:
                self.problems.append(f"warm-up {kind}: {r.error}")
            log.append({"op": kind, "s": round(r.latency_s, 4), "ok": r.ok})
        return log

    def sequence(self):
        """(cycle number, (op kind, rng)) forever."""
        rng = random.Random(f"{self.seed}-ops")
        for cycle in itertools.count():
            for _ in range(self.read_rounds):
                kinds = list(READ_KINDS)
                rng.shuffle(kinds)
                for k in kinds:
                    yield cycle, (k, rng)
            yield cycle, ("ingest", None)
            yield cycle, ("compact", None)

    def run(self, op) -> OpResult:
        kind, rng = op
        if kind in READ_KINDS:
            return self._run_read(kind, rng)
        before = len(self.problems)
        t0 = time.perf_counter()
        try:
            extra = self.ingest() if kind == "ingest" else self.compact()
        except Exception as e:
            extra = {}
            self.problems.append(f"{kind}: {type(e).__name__}: {e}")
        t1 = time.perf_counter()
        new = self.problems[before:]
        return OpResult(kind=kind, construct_s=0.0, latency_s=t1 - t0, ok=not new,
                        read=False, action_window=_epoch_window(t0, t1),
                        error=new[0] if new else None, extra=extra)

    def _run_read(self, kind: str, rng: random.Random) -> OpResult:
        t0 = time.perf_counter()
        c1 = t0
        try:
            df, check = self.read(kind, rng)
            c1 = time.perf_counter()
            tbl = df.toArrow()
            t1 = time.perf_counter()
            with self.excluded:
                err = check(tbl)
        except Exception as e:
            t1 = time.perf_counter()
            err = f"{type(e).__name__}: {e}"
        return OpResult(
            kind=kind, construct_s=c1 - t0, latency_s=t1 - t0, ok=err is None, read=True,
            construct_window=_epoch_window(t0, c1), action_window=_epoch_window(c1, t1), error=err,
        )

    def finish(self) -> dict:
        stored = sum(f.stat().st_size for f in self.state.rglob("*") if f.is_file())
        return {
            "stored_bytes": stored,
            "offered_bytes": self.offered_bytes,
            "offered_docs": self.offered_docs,
            "stored_bytes_per_input_byte": stored / self.offered_bytes if self.offered_bytes else 0.0,
        }


def _rows(tbl, *cols) -> list[tuple]:
    cols_py = [tbl.column(c).to_pylist() for c in cols]
    return list(zip(*cols_py))


def _same(got, want) -> str | None:
    got = set(got)
    if got == want:
        return None
    return f"{len(got - want)} unexpected, {len(want - got)} missing of {len(want)}"


def _close(got: dict, want: dict, tol: float) -> str | None:
    if got.keys() != want.keys():
        return f"doc sets differ: {len(got.keys() - want.keys())} extra, {len(want.keys() - got.keys())} missing"
    worst = max((abs(got[k] - want[k]) for k in want), default=0.0)
    return None if worst <= tol else f"score differs by {worst:g}"


def _ivf_ok(tbl, want: dict) -> str | None:
    tol = 2e-6
    by_q: dict[int, list[tuple]] = {}
    for q, nb, cos, rank in _rows(tbl, "query_id", "neighbor_id", "cosine", "rank"):
        by_q.setdefault(q, []).append((rank, nb, cos))
    for q, (top, cand) in want.items():
        got = sorted(by_q.get(q, []))
        if len(got) != len(top):
            return f"query {q}: {len(got)} neighbours, want {len(top)}"
        for (_, nb, cos), w in zip(got, top):
            if abs(cos - w) > tol or nb not in cand or abs(cand[nb] - cos) > tol:
                return f"query {q}: neighbour {nb} cosine {cos} vs {w}"
    return None
