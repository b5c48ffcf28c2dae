"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start one Spark application per run at tiny input
sizes, so the whole file takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.oracle import TopOracle, osa_distance  # noqa: E402

WORKLOADS = ["dedup_dense", "corpus_assembly", "symspell_correct"]


def _run(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------- pure Python


def test_osa_distance():
    assert osa_distance("abc", "abc", 2) == 0
    assert osa_distance("abc", "acb", 2) == 1  # one transposition
    assert osa_distance("ca", "abc", 2) == 3  # OSA, not full Damerau
    assert osa_distance("kitten", "sitting", 2) == 3  # above the bound
    assert osa_distance("", "ab", 2) == 2


def test_oracle_tie_break():
    words = {"bat": 5, "cat": 5, "hat": 9, "at": 1}
    o = TopOracle(words, 2)
    # distance 1 to all four; count DESC picks hat
    assert o.top("aat") == ("hat", 1, 9)
    o2 = TopOracle({"bat": 5, "cat": 5}, 2)
    assert o2.top("xat") == ("bat", 1, 5)  # equal counts: term ASC
    assert o2.top("zzzzzz") is None


def test_dictionary_reproducible_and_seeded():
    a = inputs.synthetic_dictionary(7, 3000)
    assert a == inputs.synthetic_dictionary(7, 3000)
    assert a != inputs.synthetic_dictionary(8, 3000)
    assert len(a) == 3000
    lengths = [len(t) for t in a]
    assert 6 <= sum(lengths) / len(lengths) <= 9  # EN-like mean length


def test_noisy_docs_reproducible_and_seeded():
    words = inputs.synthetic_dictionary(1, 2000)
    d1, p1 = inputs.noisy_docs(3, words, 50)
    d2, p2 = inputs.noisy_docs(3, words, 50)
    d3, _ = inputs.noisy_docs(4, words, 50)
    assert d1.equals(d2) and p1 == p2
    assert not d1.equals(d3)
    # every planted typo is one or two edits from the term it came from
    assert p1 and all(1 <= osa_distance(t, s, 2) <= 2 for t, s in p1.items())


def _fake_pages(n: int) -> pd.DataFrame:
    n_base = n // 2
    kinds = ["near_dup_edit", "near_dup_shuffle", "exact_substring", "unrelated"]
    rows = []
    for i in range(n):
        kind = "original" if i < n_base else kinds[i % 4]
        text = " ".join(f"w{(i * 7 + j) % 97}" for j in range(60))
        rows.append(
            {"doc_id": i, "url": f"https://example.org/{kind}/{i}", "text": text,
             "kind": kind, "base_id": i % n_base, "lang": "en"}
        )
    return pd.DataFrame(rows)


def test_planted_corpus_reproducible_and_seeded():
    pages = _fake_pages(400)
    a, bench_a, planted_a = inputs.plant_corpus_defects(pages, 5)
    b, bench_b, planted_b = inputs.plant_corpus_defects(pages, 5)
    c, _, _ = inputs.plant_corpus_defects(pages, 6)
    assert a.equals(b) and bench_a.equals(bench_b) and planted_a == planted_b
    assert not a["text"].equals(c["text"])
    assert all(v > 0 for v in planted_a.values()), planted_a
    assert len(a) == len(pages) + planted_a["url_variants"]


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


# ------------------------------------------------------------- smoke runs


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    r = _run(workload, 3, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: m["unit"] for k, m in r["metrics"].items()} == END_TO_END
    assert all(m["value"] > 0 for m in r["metrics"].values()), r["metrics"]


@pytest.fixture(scope="module")
def traced_twice():
    return _run("corpus_assembly", 3, 1), _run("corpus_assembly", 3, 1)


def test_smoke_per_layer(traced_twice):
    r = traced_twice[0]
    assert r["correct"]
    assert {k: m["unit"] for k, m in r["metrics"].items()} == PER_LAYER


def test_same_seed_reproduces_counts(traced_twice):
    a, b = (
        {k: m["value"] for k, m in r["metrics"].items() if m["unit"] == "count"}
        for r in traced_twice
    )
    assert a == b
    assert a["corpus.finalize.survivors"] > 0


@pytest.mark.parametrize("workload", ["dedup_dense", "symspell_correct"])
def test_smoke_traced(workload):
    r = _run(workload, 3, 1)
    assert r["correct"]
    assert {k: m["unit"] for k, m in r["metrics"].items()} == PER_LAYER


def test_fails_without_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result line."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_dense",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
