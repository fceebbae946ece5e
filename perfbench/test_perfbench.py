"""Self-tests for the benchmark.

    python3 -m pytest perfbench -q

The generator, mirror and span tests are pure Python.  The smoke tests
run the real command on tiny inputs (a minimum-size star schema, 200-doc
corpus batches) and take about a minute each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen
from perfbench.oracle import CorpusMirror, top_cells
from perfbench.trace import Span, _union_len, self_times

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_tpch_tables_are_seeded():
    a, b, c = gen.tpch_tables(0.001, 1), gen.tpch_tables(0.001, 1), gen.tpch_tables(0.001, 2)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["nation"].num_rows == 25 and a["region"].num_rows == 5
    assert a["lineitem"].num_rows == 6_000


def test_corpus_plants_exact_and_near_duplicates():
    c = gen.Corpus(seed=3, batch_docs=300)
    origs = set(np.concatenate([c.originals(0), c.originals(1)]).tolist())
    texts = {d: c.text(d) for d in origs}
    exact = near = 0
    for d in range(600):
        if d in origs:
            continue
        toks = c.tokens(d)
        base = [o for o in origs if o < d and len(c.tokens(o)) == len(toks)
                and np.sum(c.tokens(o) != toks) <= 1]
        assert base, f"doc {d} is neither an original nor a copy of an earlier one"
        same = [o for o in base if texts[o] == c.text(d)]
        exact += bool(same)
        near += not same
    assert exact and near
    assert any(o < 300 for o in origs) and any(o >= 300 for o in origs)
    # the same seed replays the same stream
    assert gen.Corpus(seed=3, batch_docs=300).text(450) == c.text(450)


def test_self_time_subtracts_child_coverage():
    spans = [Span(1, "op", 0.0, 10.0, None, 0), Span(2, "a", 1.0, 4.0, 1, 0),
             Span(3, "b", 3.0, 5.0, 1, 0), Span(4, "c", 4.5, 4.8, 3, 0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(6.0)  # children cover [1, 5]
    assert st[3] == pytest.approx(1.7)
    assert _union_len([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_mirror_lookups():
    cents = np.eye(4)
    m = CorpusMirror(cents, nprobe=1)
    m.add(np.array([1, 2]), [["a", "b", "a", "b"], ["b", "c"]], np.array([[1.0, 0, 0, 0], [0.9, 0.1, 0, 0]]))
    assert m.term_query(["a", "b"]) == {(1, 2, 4)}
    assert m.phrase(["a", "b"]) == {(1, (0, 2), 2)}
    assert set(m.bm25(["b"])) == {1, 2}
    assert m.stats() == (2, 3.0)
    top, cand = m.ivf([1], k=5)[1]
    assert list(cand) == [2] and len(top) == 1
    assert top_cells(np.array([[0.0, 1.0, 1.0, 0.0]]), cents, 1)[0, 0] == 2  # tie -> higher cell


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_fails_without_engine_sources(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(SPEC["command"] + ["--workload", "sparql_small", "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


_TINY = {"sparql_small": {"sf": 0.001}, "corpus_ingest": {"batch_docs": 200, "read_rounds": 1}}


@pytest.mark.parametrize("workload,trace", [("sparql_small", 1), ("corpus_ingest", 0)])
def test_smoke(workload, trace):
    code = (
        "import sys; import perfbench.run as r; "
        f"r.WORKLOADS[{workload!r}].update({_TINY[workload]!r}); "
        f"sys.exit(r.main(['--workload', {workload!r}, '--seed', '5', '--seconds', '1', "
        f"'--trace', '{trace}']))"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
