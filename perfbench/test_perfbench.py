"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root.  The smoke tests start Spark through
``perfbench/run.py`` on a 500-document corpus, about a minute each.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.bench import END_TO_END, PER_LAYER, WORKLOADS
from perfbench.procstat import Interference, tree_cpu_s

ROOT = Path(__file__).resolve().parent.parent


def test_same_seed_same_inputs():
    for make in (lambda s: gen.fixture_docs(s),
                 lambda s: gen.replica_docs(s, 2, 300),
                 lambda s: gen.query_batch(s, 3, gen.replica_vocab(2, 300))):
        a, b = make(7), make(7)
        assert repr(a).encode() == repr(b).encode()
        assert make(8) != a


def test_fixture_shape():
    docs = gen.fixture_tokens(5)
    assert len(docs) == gen.N_DOCS
    assert all(10 <= len(t) <= 100 for t in docs)
    postings = sum(len(set(t)) for t in docs)
    assert 110_000 < postings < 125_000  # the sf0.1 fixture has 116,231
    assert 150 < sum(gen.RARE in t for t in docs) < 400


def test_replica_docs_rotate_and_tail():
    base = gen.fixture_tokens(1, 50)
    rows = gen.replica_docs(1, 3, 50)
    assert [d for d, _ in rows] == list(range(150))
    d, text = rows[50 + 4]  # replica 1, doc 4
    toks = text.split()
    assert toks[:-3] == base[4][1:] + base[4][:1]
    assert toks[-3:] == gen.tail_terms(1, 4)


def test_query_batch_edge_cases():
    vocab = gen.replica_vocab(2, 300)
    every = {t for terms in vocab.values() for t in terms}
    corpus_terms = {t for _, text in gen.replica_docs(0, 2, 300)
                    for t in text.split()}
    assert every == corpus_terms
    for batch in range(5):
        rows = gen.query_batch(3, batch, vocab)
        by_q: dict[int, list[str]] = {}
        for qid, _, term in rows:
            by_q.setdefault(qid, []).append(term)
        assert sorted(by_q) == list(range(20))
        assert all(1 <= len(t) <= 6 for t in by_q.values())
        assert [t for t in by_q[0] if t not in every] == [by_q[0][-1]]
        assert by_q[1][-1] == by_q[1][0]
        assert all(t in every for q, ts in by_q.items() if q for t in ts)
    assert gen.query_batch(3, 0, vocab) != gen.query_batch(3, 1, vocab)


def test_tree_cpu_counts_a_child():
    c0 = tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nend = time.process_time() + 0.5\n"
         "while time.process_time() < end: pass\ntime.sleep(30)"])
    try:
        time.sleep(1.5)
        assert 0.4 <= tree_cpu_s() - c0 <= 3.0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_interference_stamp():
    it = Interference()
    it.start()
    time.sleep(0.3)
    st = it.stop()
    assert len(st["loadavg"]) == 3
    for k in ("own_frac", "others_frac", "steal_frac"):
        assert 0.0 <= st[k] <= 1.0


def test_benchmark_json_names_every_metric():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert doc["paths"] == ["perfbench"]
    assert sorted(w["name"] for w in doc["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--docs", "500"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced():
    res = _run("replica-store-serve", 1)
    assert res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["invert.jobs"] >= 1 and m["serve.batch_jobs"] >= 1
    assert 0 < m["serve.blocks_pruned_frac"] <= 1
    assert m["trace.coverage_frac"] >= 0.9


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fixture-serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
