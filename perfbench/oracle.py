"""Reference answers the benchmark checks the engine against.

- ``SparqlOracle``: runs each SPARQL text's DuckDB oracle SQL (from
  ``__spark_entry__``) over the same parquet files the engine reads.  Row
  counts check every measured op; ``compare`` checks a full result once,
  order-insensitively.
- ``CorpusMirror``: a DuckDB copy of what the ingested corpus must hold
  according to the generator's duplicate ledger, answering the same
  lookups as the engine's postings index; plus a NumPy twin of the IVF
  search with the engine's cell-assignment rounding rule.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from perfbench.gen import TPCH_TABLES

# Doubles are compared at this many decimals.  The oracle SQL rounds some
# aggregates (q05, q20) where the SPARQL text cannot, so both sides are
# rounded identically before comparing.
_DECIMALS = 4


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _canonical(con: duckdb.DuckDBPyConnection, rel: str, cols: list[str]) -> str:
    """SELECT list putting a relation's columns in name order with doubles
    rounded and timestamps made zone-free."""
    types = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {rel})").fetchall())
    out = []
    for c in sorted(cols):
        t = types[c].upper()
        q = f'"{c}"'
        if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
            q = f"round(CAST({q} AS DOUBLE), {_DECIMALS})"
        elif t.startswith("TIMESTAMP"):
            q = f"CAST({q} AS TIMESTAMP)"
        elif t in ("INTEGER", "SMALLINT", "TINYINT", "BIGINT", "HUGEINT"):
            q = f"CAST({q} AS BIGINT)"
        out.append(f'{q} AS "{c}"')
    return ", ".join(out)


class SparqlOracle:
    def __init__(self, data_dir: str, oracle_sql: dict[str, str], names: list[str]):
        self.con = _connect()
        for t in TPCH_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.sql = {n: oracle_sql[n] for n in names}
        self.counts = {
            n: self.con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
            for n, q in self.sql.items()
        }

    def compare(self, name: str, result: pa.Table) -> str | None:
        """None when ``result`` equals the oracle's rows as a multiset,
        else a short reason."""
        con = self.con
        con.register("__got", result)
        try:
            con.execute(f"CREATE OR REPLACE TEMP VIEW __want AS {self.sql[name]}")
            want_cols = [r[0] for r in con.execute("DESCRIBE __want").fetchall()]
            got_cols = list(result.column_names)
            if sorted(want_cols) != sorted(got_cols):
                return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
            g = _canonical(con, "__got", got_cols)
            w = _canonical(con, "__want", want_cols)
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {g} FROM __got EXCEPT ALL SELECT {w} FROM __want)"
                f" UNION ALL (SELECT {w} FROM __want EXCEPT ALL SELECT {g} FROM __got))"
            ).fetchone()[0]
            return None if diff == 0 else f"{diff} rows differ"
        finally:
            con.unregister("__got")


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------


def _round6(x: np.ndarray) -> np.ndarray:
    """HALF_UP at 6 decimals, the engine's cosine rounding."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _cosines(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    d = m @ c.T
    denom = np.linalg.norm(m, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :]
    return np.divide(d, denom, out=np.zeros_like(d), where=denom > 0)


def top_cells(m: np.ndarray, cents: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` nearest centroid ids per row, by 6-dp rounded cosine,
    ties to the higher cell id (the engine's documented rule)."""
    r = np.sign(c := _cosines(m, cents)) * np.floor(np.abs(c) * 1e6 + 0.5)
    comp = r * cents.shape[0] + np.arange(cents.shape[0])[None, :]
    return np.argsort(-comp, axis=1, kind="stable")[:, :n]


class CorpusMirror:
    """What the engine's corpus and index must answer after each ingest."""

    def __init__(self, centroids: np.ndarray, nprobe: int):
        self.con = _connect()
        self.con.execute("CREATE TABLE toks (doc_id BIGINT, pos INTEGER, token VARCHAR)")
        self.cents = centroids
        self.nprobe = nprobe
        self.ids = np.zeros(0, dtype=np.int64)
        self.vecs = np.zeros((0, centroids.shape[1]))
        self.cells = np.zeros(0, dtype=np.int64)

    def add(self, doc_ids: np.ndarray, token_lists: list[list[str]], vecs: np.ndarray) -> None:
        lens = [len(t) for t in token_lists]
        tbl = pa.table({
            "doc_id": pa.array(np.repeat(doc_ids, lens), pa.int64()),
            "pos": pa.array(np.concatenate([np.arange(n) for n in lens]), pa.int32()),
            "token": pa.array([w for t in token_lists for w in t], pa.string()),
        })
        self.con.register("__new", tbl)
        self.con.execute("INSERT INTO toks SELECT * FROM __new")
        self.con.unregister("__new")
        self.ids = np.concatenate([self.ids, doc_ids])
        self.vecs = np.vstack([self.vecs, vecs])
        self.cells = np.concatenate([self.cells, top_cells(vecs, self.cents, 1)[:, 0]])

    def term_query(self, terms: list[str]) -> set[tuple]:
        uniq = list(dict.fromkeys(terms))
        rows = self.con.execute(
            "SELECT doc_id, sum(tf) FROM (SELECT doc_id, token, count(*) AS tf FROM toks"
            " WHERE list_contains(?, token) GROUP BY 1, 2) GROUP BY 1 HAVING count(*) = ?",
            [uniq, len(uniq)],
        ).fetchall()
        return {(int(d), len(uniq), int(tf)) for d, tf in rows}

    def phrase(self, words: list[str]) -> set[tuple]:
        joins = " ".join(
            f"JOIN toks t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i}"
            f" AND t{i}.token = ?" for i in range(1, len(words))
        )
        rows = self.con.execute(
            f"SELECT t0.doc_id, list(t0.pos ORDER BY t0.pos) FROM toks t0 {joins}"
            " WHERE t0.token = ? GROUP BY 1",
            list(words[1:]) + [words[0]],
        ).fetchall()
        return {(int(d), tuple(p), len(p)) for d, p in rows}

    def bm25(self, query: list[str], k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
        terms = sorted(set(query))
        rows = self.con.execute(
            """
            WITH dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
                 st AS (SELECT count(*)::DOUBLE AS n, avg(len) AS al FROM dl),
                 tf AS (SELECT doc_id, token, count(*)::DOUBLE AS tf FROM toks
                        WHERE list_contains(?, token) GROUP BY 1, 2),
                 df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
            SELECT tf.doc_id, sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * (? + 1) / (tf.tf + ? * (1 - ? + ? * dl.len / st.al)))
            FROM tf JOIN df USING (token) JOIN dl USING (doc_id), st GROUP BY 1
            """,
            [terms, k1, k1, b, b],
        ).fetchall()
        return {int(d): float(s) for d, s in rows}

    def stats(self) -> tuple[int, float]:
        n, al = self.con.execute(
            "SELECT count(*), avg(len) FROM (SELECT count(*)::DOUBLE AS len FROM toks GROUP BY doc_id)"
        ).fetchone()
        return int(n), float(al)

    def ivf(self, query_ids: list[int], k: int) -> dict[int, np.ndarray]:
        """Per query id: (the sorted-descending top-``k`` 6-dp cosines, and
        candidate id -> cosine) over the corpus vectors in the query's
        ``nprobe`` nearest cells, the query itself excluded."""
        pos = {int(d): i for i, d in enumerate(self.ids)}
        out = {}
        for q in query_ids:
            qv = self.vecs[pos[q]][None, :]
            cells = top_cells(qv, self.cents, self.nprobe)[0]
            mask = np.isin(self.cells, cells) & (self.ids != q)
            cos = _round6(_cosines(self.vecs[mask], qv)[:, 0])
            out[q] = (np.sort(cos)[::-1][:k], dict(zip(self.ids[mask].tolist(), cos.tolist())))
        return out
