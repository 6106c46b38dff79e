"""IVF_FLAT recall vs brute-force oracle — reference UT protocol:
recall >= 0.60 at nlist=16, nprobe=8 (tests/ut/test_search.cc:28,53-58);
higher nprobe → higher recall; nprobe=nlist → exact."""

from __future__ import annotations

import numpy as np
import pytest

from knowhere_spark.config import IvfConfig
from knowhere_spark.operators.ivf import IVFFlatIndex

from tests.conftest import QUERY_SCHEMA, dense_df, gen_dense, np_knn, recall_at_k

NB, DIM, NQ, K = 1000, 32, 10, 10


@pytest.fixture(scope="module")
def data(spark):
    base = gen_dense(NB, DIM, seed=42)
    queries = gen_dense(NQ, DIM, seed=43)
    return base, queries, dense_df(spark, base), dense_df(spark, queries, QUERY_SCHEMA)


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    return out


@pytest.mark.parametrize("metric", ["L2", "COSINE"])
def test_ivf_recall_floor(data, metric):
    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type=metric, nlist=16, nprobe=8, k=K)
    idx = IVFFlatIndex.build(base_df, cfg)
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, metric)
    r = recall_at_k(res, truth, K)
    assert r >= 0.60, f"recall {r} below UT floor (test_search.cc:28)"


def test_ivf_probe_all_is_exact(data):
    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type="L2", nlist=8, nprobe=8, k=K)
    idx = IVFFlatIndex.build(base_df, cfg)
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    assert recall_at_k(res, truth, K) == 1.0


def test_ivf_recall_monotone_in_nprobe(data):
    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type="L2", nlist=16, nprobe=1, k=K)
    idx = IVFFlatIndex.build(base_df, cfg)
    truth = np_knn(base, queries, K, "L2")
    r1 = recall_at_k(_collect(idx.search(query_df, k=K, nprobe=1)), truth, K)
    r8 = recall_at_k(_collect(idx.search(query_df, k=K, nprobe=8)), truth, K)
    r16 = recall_at_k(_collect(idx.search(query_df, k=K, nprobe=16)), truth, K)
    assert r1 <= r8 <= r16 == 1.0


def test_ivf_ensure_topk_full(data):
    """Heavily filtered search still returns k rows per query (ivf.cc:753-762)."""
    from pyspark.sql import functions as F

    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type="L2", nlist=16, nprobe=1, k=K, ensure_topk_full=True)
    idx = IVFFlatIndex.build(base_df, cfg)
    # keep only 5% of rows — single-cell probes will often underfill
    res = idx.search(query_df, k=K, filter_expr=F.col("id") % 20 == 0)
    counts = {r["query_id"]: r["cnt"] for r in res.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(c == K for c in counts.values()), counts


def test_ivf_add_then_search(data, spark):
    from pyspark.sql import functions as F

    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type="L2", nlist=8, nprobe=8, k=K)
    half = NB // 2
    idx = IVFFlatIndex.build(dense_df(spark, base[:half]), cfg)
    extra = dense_df(spark, base[half:]).withColumn("id", F.col("id") + half)
    idx2 = idx.add(extra)
    assert idx2.count() == NB
    res = _collect(idx2.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    assert recall_at_k(res, truth, K) == 1.0  # nprobe == nlist → exact


def test_ivf_save_load_roundtrip(data, spark, tmp_path):
    """Serialize/Deserialize parity (index_node.h:371-401)."""
    base, queries, base_df, query_df = data
    cfg = IvfConfig(metric_type="L2", nlist=16, nprobe=4, k=K)
    idx = IVFFlatIndex.build(base_df, cfg)
    before = _collect(idx.search(query_df, k=K))
    path = str(tmp_path / "ivf_idx")
    idx.save(path)
    idx2 = IVFFlatIndex.load(spark, path)
    assert idx2.count() == NB and idx2.dim() == DIM
    after = _collect(idx2.search(query_df, k=K))
    assert {q: [i for i, _ in v] for q, v in before.items()} == {
        q: [i for i, _ in v] for q, v in after.items()
    }


def test_ivf_get_index_meta(data):
    """GetIndexMeta (ivf.cc:1066-1100): one row per inverted list with the
    exact member ids and centroid; sizes sum to ntotal; empty cells appear
    with size 0 (an empty invlist is still a cluster)."""
    base, _, base_df, _ = data
    cfg = IvfConfig(metric_type="L2", nlist=16, nprobe=4, k=K)
    idx = IVFFlatIndex.build(base_df, cfg)
    meta = idx.get_index_meta().collect()
    assert len(meta) == idx.centroids.shape[0]
    assert sum(r["size"] for r in meta) == NB
    # membership matches the assignments table exactly, per cluster
    want = {}
    for r in idx.assignments.select("id", "cell_id").collect():
        want.setdefault(int(r["cell_id"]), []).append(int(r["id"]))
    for r in meta:
        assert sorted(want.get(r["cluster_id"], [])) == list(r["node_ids"])
        assert len(r["node_ids"]) == r["size"]
        np.testing.assert_allclose(
            np.array(r["centroid"], dtype=np.float64),
            idx.centroids[r["cluster_id"]],
            rtol=1e-6,
        )
    # sizes-only view skips the id lists but keeps identical sizes
    slim = {r["cluster_id"]: r["size"]
            for r in idx.get_index_meta(with_node_ids=False).collect()}
    assert slim == {r["cluster_id"]: r["size"] for r in meta}


def test_ivf_mllib_train_cutover(spark, monkeypatch):
    """Past the driver-memory ceiling the centroids come from MLlib
    KMeans, and the cell table still comes from the nearest-centroid
    kernel ``add()`` uses: a row added under a new id lands in the cell
    its own vector probes first, so searching for it finds it at
    distance 0 with one probe."""
    from knowhere_spark.operators.ivf import _assign_cells

    monkeypatch.setattr(IVFFlatIndex, "_DRIVER_TRAIN_MAX_ELEMS", 8)
    base = gen_dense(400, 8, seed=71)
    base_df = dense_df(spark, base)
    idx = IVFFlatIndex.build(base_df, IvfConfig(metric_type="L2", nlist=4, nprobe=1))
    assert idx.last_metrics["train_backend"] == "mllib"
    cells = {(r["id"], r["cell_id"]) for r in idx.assignments.collect()}
    want = {
        (r["id"], r["cell_id"])
        for r in _assign_cells(base_df, idx.centroids).collect()
    }
    assert cells == want and len(cells) == 400

    added = gen_dense(20, 8, seed=72)
    added_df = dense_df(spark, added).selectExpr("id + 1000 AS id", "vec")
    queries = dense_df(spark, added, QUERY_SCHEMA)
    got = idx.add(added_df).search(queries, k=1, nprobe=1).collect()
    assert sorted((r["query_id"] + 1000, r["neighbor_id"]) for r in got) == [
        (1000 + i, 1000 + i) for i in range(20)
    ]
    assert all(r["distance"] == 0.0 for r in got), [r["distance"] for r in got]
