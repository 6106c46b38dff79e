"""Self-tests of the benchmark harness at a tiny scale.

    python3 -m pytest perfbench/test_harness.py -q

They check that every metric BENCHMARK.json names is emitted with its
unit, that the correctness checks catch a wrong neighbour id and a
missing fresh row, and that the stage-window attribution gives the same
job, stage and task counts for the same call every time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import harness
from perfbench.child import execute, stop_spark
from perfbench.ledger import StageLedger, union_ms
from perfbench.run import format_result
from perfbench.workloads import CurateSizes, ServeSizes

SPEC = json.load(open(os.path.join(harness.ROOT, "BENCHMARK.json")))

TINY = {
    "ann_serve": ServeSizes(n=1_500, centres=16, pool_batches=2, twins_per_batch=5,
                            nlist=8, nprobe=4, hnsw_ef=32, min_cycles=2),
    "ingest_curate": CurateSizes(seed_rows=1_500, shard_rows=300, n_docs=400,
                                 centres=16, shard_twins=5, sample=50, nlist=8,
                                 semdedup_clusters=2, bm25_queries=10, warm_rows=200,
                                 min_rounds=1, builds=1),
}


# -- correctness checks (no Spark) ---------------------------------------------

def _exact_result(Q, corpus, k):
    gt = harness.exact_topk(Q, corpus.X, corpus.ids, k)
    res = {}
    for i, row in enumerate(gt):
        d = harness.l2_sq(Q[i:i + 1], corpus.X[[corpus.row[int(n)] for n in row]])[0]
        res[100 + i] = list(zip(row.tolist(), d.tolist()))
    return gt, res


@pytest.fixture
def small():
    rng = np.random.default_rng(0)
    X = rng.standard_normal((300, 8)).astype(np.float32)
    corpus = harness.Corpus(np.arange(300), X)
    Q = X[:5] + np.float32(0.01) * rng.standard_normal((5, 8)).astype(np.float32)
    qids = np.arange(100, 105)
    gt, res = _exact_result(Q, corpus, 10)
    return corpus, Q, qids, gt, res


def test_exact_result_passes(small):
    corpus, Q, qids, gt, res = small
    ok, recall, why = harness.check_knn(res, qids, Q, gt, corpus, 10,
                                        rtol=1e-6, min_recall=0.9)
    assert ok, why
    assert recall == 1.0


def test_wrong_neighbour_id_fails(small):
    corpus, Q, qids, gt, res = small
    wrong = next(i for i in range(300) if i not in {n for n, _ in res[102]})
    n, d = res[102][4]
    res[102][4] = (wrong, d)          # same distance, someone else's id
    ok, _, why = harness.check_knn(res, qids, Q, gt, corpus, 10,
                                   rtol=1e-6, min_recall=0.0)
    assert not ok
    assert "distance" in why


def test_missing_fresh_row_fails(small):
    corpus, Q, qids, gt, res = small
    fresh = int(res[101][0][0])
    expected = {101: fresh, 102: int(res[102][0][0])}
    assert harness.expected_found(res, expected) == (2, 2)
    res[101] = [(n, d) for n, d in res[101] if n != fresh]
    found, total = harness.expected_found(res, expected)
    assert (found, total) == (1, 2)
    run = harness.Run(time.time())
    assert not run.check(found == total, "ivf.selfsearch", "added row not found")
    assert run.failed == 1


def test_failed_check_lowers_ok_rate():
    run = harness.Run(time.time())
    run.check(True, "a")
    run.check(False, "b", "broken")
    assert (run.attempted, run.failed) == (2, 1)
    assert run.notes == ["b: broken"]


def test_slowest_median_takes_the_slowest_kind():
    v, kind = harness.slowest_median({"a": [1.0, 9.0, 2.0], "b": [3.0, 4.0, 5.0]})
    assert (v, kind) == (4.0, "b")


def test_union_ms_merges_overlaps():
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([]) == 0


# -- Spark: ledger determinism and metric emission --------------------------------

def test_stage_window_counts_are_deterministic():
    spark = harness.build_spark(2)
    try:
        ledger = StageLedger(spark)
        rows = []
        for _ in range(3):
            with ledger.call("fixed.call"):
                df = spark.range(0, 20_000, 1, 4).selectExpr("id % 7 AS k", "id")
                df.repartition(3, "k").groupBy("k").count().collect()
            c = ledger.calls[-1]
            rows.append((c["jobs"], c["stages"], c["tasks"]))
    finally:
        stop_spark(spark)
    assert rows[0][0] >= 1 and rows[0][1] >= 2 and rows[0][2] >= 4
    assert rows.count(rows[0]) == 3, rows
    for c in ledger.calls:
        assert 0 <= c["driver_gap_ms"] <= c["wall_ms"]


@pytest.fixture(scope="module")
def tiny_runs(tmp_path_factory):
    out = {}
    for name, sizes in TINY.items():
        work = str(tmp_path_factory.mktemp(name))
        out[name] = execute(name, seed=3, seconds=1.0, trace=True, t0=time.time(),
                            sizes=sizes, work=work)
    return out


@pytest.mark.parametrize("name", list(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(tiny_runs, name, trace):
    res = tiny_runs[name]
    line = format_result(SPEC, res, {"peak_rss_mb": 1.0}, trace)
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(line["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert line["attempted"] >= 1
    assert line["correct"], res["notes"]
    if not trace:
        assert all(v["value"] != 0 for v in line["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(harness.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ann_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
