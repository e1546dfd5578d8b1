"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start Spark (one process per workload and mode).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tree  # noqa: E402
from harness import Bench, emit  # noqa: E402
from spans import Span, per_request_self, self_times  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_self_time_on_hand_built_tree():
    # root 0..10 with children 1..4 and 3..6 (overlap counted once) and
    # 8..12 (clipped to the root); the first child has a grandchild 2..3
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),
        Span(3, "c", 8.0, 12.0, 0, 1),
        Span(4, "a", 2.0, 3.0, 1, 1),
        Span(5, "a", 0.0, 1.0, None, 2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 2))  # covered: 1..6 and 8..10
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1)
    per = per_request_self(spans)
    assert sorted(per["a"]) == pytest.approx([1.0, 3.0])  # request 1: 2 + 1


def _inputs(seed: int, out: str) -> list[str]:
    rng = np.random.default_rng([seed, 1])
    h = gen.history(rng, gen.metric_names(1, 1), 2, 2)
    paths = gen.write_arrivals(h, os.path.join(out, "arrivals"))
    c = gen.corpus(rng, 300, 10, 5)
    gen.write_corpus(c, os.path.join(out, "docs.parquet"))
    gen.write_embeddings(gen.embeddings(rng, 200, 16, 4), os.path.join(out, "emb.parquet"))
    return paths + [os.path.join(out, "docs.parquet"), os.path.join(out, "emb.parquet")]


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    read = lambda ps: [open(p, "rb").read() for p in ps]  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)


@pytest.mark.parametrize("rng,size", [
    (3, (600, 20, 6)),
    # full size, on a seed whose first draws put two chains within
    # SimHash distance of each other (876 pairs, 124 clusters unless
    # the generator re-draws one)
    ([2080349372, 5], (4000, 125, 8)),
])
def test_planted_chains_match_the_simhash_oracle(rng, size):
    n_docs, n_chains, chain_len = size
    c = gen.corpus(np.random.default_rng(rng), n_docs, n_chains, chain_len)
    pairs = gen.expected_pairs(c.doc_id, gen.simhash64(c.text))
    assert len(pairs) == n_chains * (chain_len - 1)
    assert len(set(gen.clusters(pairs).values())) == n_chains


def test_wrong_result_counts_as_failed(tmp_path, capsys):
    table = pd.DataFrame({
        "metric": ["dc0.host000.cpu.user"] * 3 + ["dc1.host000.cpu.user"] * 3,
        "ts": [0, 60, 120] * 2,
        "value": [1.0, 2.0, 3.0] * 2,
    })
    exp = tree.Expect(table)
    # aliasByNode(movingAverage(dc*.host*.cpu.*,5),1,3): one series per
    # live metric in the range
    req = tree.Req("render", 1, "aliasByNode(...)", "dc*.host*.cpu.*", 0, 180)
    right = [{"metric": m, "ts": t, "value": 1.0}
             for m in ("dc0.user", "dc1.user") for t in (0, 60)]
    wrong = right[:2]  # one series missing
    bench = Bench(str(tmp_path), "tree", 1, 1, False, "tiny")
    try:
        assert bench.check(*tree.expect_ok(exp, req, right))
        bench.attempted += 2
        assert not bench.check(*tree.expect_ok(exp, req, wrong))
        assert bench.failed == 1
        emit(bench, {"x": (1.0, "ms")}, {})
    finally:
        bench.close()
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last == {"correct": False, "attempted": 2, "failed": 1,
                    "metrics": {"x": {"value": 1.0, "unit": "ms"}}}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_printed(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0, p.stdout
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tree",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
