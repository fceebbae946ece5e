"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical parquet files, so a run can be repeated and two
commits can be measured on the same inputs.  Files are cached on disk by
``(seed, size)`` under the benchmark's work directory; generating them is
not part of any measured phase.

Two input families:

- ``write_tpch``: the seven star-schema tables of the engine's fixture
  mappings (``sparkall_spark.fixtures.tpch_mappings``) at a TPC-H-style
  scale factor: region 5 rows, nation 25 rows, then customer, supplier,
  part, orders and lineitem at 150k / 10k / 200k / 1.5M / 6M rows per
  unit of scale.  Value ranges follow the fixture data the 25
  ``SPARQL_QUERIES`` texts were written against, so every text returns
  rows at every scale.
- ``Corpus``: a document stream for the ingest workload.  Documents are
  Zipf-distributed over a 20k-word vocabulary and carry a 64-d
  embedding drawn around one of 16 cluster centres.  Each batch plants
  exact duplicates and one-token-edit near duplicates of earlier
  documents (of this batch or an earlier one), and the generator keeps
  the ledger of which documents are originals.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# star schema
# --------------------------------------------------------------------------

_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span, n).astype(np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    keys = np.char.zfill(np.arange(n).astype(str), 9)
    return pa.array(np.char.add(prefix, keys).astype(object), pa.string())


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven tables the SPARQL texts read, as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    pkeys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pkeys, i64),
        "p_name": pa.array(
            np.char.add(np.char.add(np.asarray(_ADJ)[adj], " "), np.asarray(_NOUN)[noun])
            .astype(object),
            pa.string(),
        ),
        "p_brand": pa.array(
            np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)).astype(object),
            pa.string(),
        ),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, _ORDER_DAYS),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, _ORDER_DAYS + 100),
    })
    return t


def write_tpch(cache: Path, sf: float, seed: int) -> Path:
    """Parquet files ``<table>.parquet`` for scale ``sf``, cached by
    ``(sf, seed)``.  Row groups are sized so a table splits into several
    scan tasks on a 4-core ``local`` master."""
    out = cache / f"tpch-sf{sf:g}-seed{seed}"
    done = out / "_DONE"  # written last, so a killed run regenerates
    if done.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    nbytes = 0
    for name, table in tpch_tables(sf, seed).items():
        path = out / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=max(8_192, table.num_rows // 8))
        nbytes += path.stat().st_size
    done.write_text(json.dumps({"sf": sf, "seed": seed, "bytes": nbytes}))
    return out


# --------------------------------------------------------------------------
# document corpus
# --------------------------------------------------------------------------

VOCAB_SIZE = 20_000
EMB_DIM = 64
N_CLUSTERS = 16
EXACT_FRAC = 0.05  # share of each batch that is a byte copy of an earlier original
NEAR_FRAC = 0.05  # share that is a one-token edit of an earlier original
DOC_TOKENS = (80, 160)  # original document length range, inclusive


def _word(rank: int) -> str:
    """Alphabetic vocabulary word for a Zipf rank (letters only, so text
    normalisation cannot merge two words)."""
    letters = []
    r = rank + 26 * 27  # at least three letters
    while r:
        r, d = divmod(r, 26)
        letters.append(chr(ord("a") + d))
    return "".join(reversed(letters))


VOCAB = [_word(r) for r in range(VOCAB_SIZE)]


class Corpus:
    """Seeded stream of document batches with planted duplicates.

    Batch ``i`` holds ``batch_docs`` documents with ids
    ``i * batch_docs .. (i + 1) * batch_docs - 1``.  About
    ``EXACT_FRAC`` of them are byte copies and ``NEAR_FRAC`` are
    one-token edits of an earlier ORIGINAL document (never of another
    copy), chosen uniformly from every original generated so far, so
    some copies cross batches.  A copy always has a larger id than its
    original.  ``originals(i)`` is the generator's ledger: the ids an
    exact + near-duplicate ingest must keep.
    """

    def __init__(self, seed: int, batch_docs: int):
        self.seed = seed
        self.batch_docs = batch_docs
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -1.1
        self._cdf = np.cumsum(p / p.sum())
        crng = np.random.default_rng([seed, 7])
        self.centres = crng.normal(size=(N_CLUSTERS, EMB_DIM))
        self._tokens: list[np.ndarray] = []  # per doc: vocab indices
        self._emb: list[np.ndarray] = []  # per batch: (n, dim)
        self._orig: list[np.ndarray] = []  # per batch: original ids
        self._orig_pool: list[int] = []

    def _gen(self, i: int) -> None:
        rng = np.random.default_rng([self.seed, 11, i])
        n = self.batch_docs
        base = i * n
        kind = rng.random(n)
        origs = []
        for j in range(n):
            doc_id = base + j
            pool = self._orig_pool
            if pool and kind[j] < EXACT_FRAC:
                toks = self._tokens[pool[rng.integers(0, len(pool))]]
            elif pool and kind[j] < EXACT_FRAC + NEAR_FRAC:
                toks = self._tokens[pool[rng.integers(0, len(pool))]].copy()
                pos = rng.integers(0, len(toks))
                new = rng.integers(0, VOCAB_SIZE - 1)
                toks[pos] = new + (new >= toks[pos])  # never the same word
            else:
                length = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1)
                toks = np.searchsorted(self._cdf, rng.random(length)).astype(np.int32)
                toks = np.minimum(toks, VOCAB_SIZE - 1)
                origs.append(doc_id)
                pool.append(doc_id)
            self._tokens.append(toks)
        cl = rng.integers(0, N_CLUSTERS, n)
        self._emb.append(self.centres[cl] + 0.35 * rng.normal(size=(n, EMB_DIM)))
        self._orig.append(np.asarray(origs, dtype=np.int64))

    def _ensure(self, i: int) -> None:
        while len(self._orig) <= i:
            self._gen(len(self._orig))

    def tokens(self, doc_id: int) -> np.ndarray:
        self._ensure(doc_id // self.batch_docs)
        return self._tokens[doc_id]

    def text(self, doc_id: int) -> str:
        return " ".join(VOCAB[t] for t in self.tokens(doc_id))

    def embedding(self, doc_id: int) -> np.ndarray:
        self._ensure(doc_id // self.batch_docs)
        b, j = divmod(doc_id, self.batch_docs)
        return self._emb[b][j]

    def originals(self, i: int) -> np.ndarray:
        self._ensure(i)
        return self._orig[i]

    def batch_table(self, i: int) -> pa.Table:
        self._ensure(i)
        ids = np.arange(i * self.batch_docs, (i + 1) * self.batch_docs)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([self.text(int(d)) for d in ids], pa.string()),
            "embedding": pa.array(list(self._emb[i]), pa.list_(pa.float64())),
        })

    def write_batch(self, cache: Path, i: int) -> Path:
        """Parquet file of batch ``i``, cached by (seed, size, i)."""
        d = cache / f"corpus-seed{self.seed}-n{self.batch_docs}"
        path = d / f"batch_{i:04d}.parquet"
        if not path.exists():
            d.mkdir(parents=True, exist_ok=True)
            tmp = d / f".batch_{i:04d}.{os.getpid()}.tmp"
            pq.write_table(self.batch_table(i), tmp)
            tmp.rename(path)
        else:
            self._ensure(i)
        return path
