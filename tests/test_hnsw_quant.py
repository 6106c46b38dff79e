"""Quantized HNSW variants (HNSW_SQ / HNSW_PQ / HNSW_PRQ): recall vs the
exact oracle (ANN floor 0.6, tests/ut/test_search.cc:28), the refine
contract (faiss_hnsw_config.h:22-93), config validation, and save/load."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import ConfigError
from knowhere_spark.factory import build_index, create_index, load_index

from conftest import QUERY_SCHEMA, dense_df, gen_dense, np_knn, recall_at_k


def _recall(idx, base, qs, spark, k=10, **kw):
    res = idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=k, **kw)
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    return recall_at_k(got, np_knn(base, qs, k, "L2"), k)


def test_hnsw_sq8_recall_and_refine(spark):
    nb, dim, nq, k = 1000, 32, 8, 10
    base = gen_dense(nb, dim, seed=41)
    qs = gen_dense(nq, dim, seed=42)
    idx = build_index(
        dense_df(spark, base), "HNSW_SQ",
        {"metric_type": "L2", "M": 16, "ef": 32, "sq_type": "SQ8",
         "refine": True, "refine_k": 2.0},
    )
    assert idx.type() == "HNSW_SQ"
    assert idx.has_raw_data()          # refine holds the fp32 table
    assert _recall(idx, base, qs, spark, k=k, ef=32, max_hops=4) >= 0.6


def test_hnsw_sq_fp16_codes_store_halves(spark):
    nb, dim = 300, 16
    base = gen_dense(nb, dim, seed=43)
    idx = build_index(
        dense_df(spark, base), "HNSW_SQ",
        {"metric_type": "L2", "M": 8, "ef": 16, "sq_type": "fp16"},
    )
    row = idx.codes.orderBy("id").first()
    stored = np.array(row["codes"], dtype=np.float64)
    expect = base[int(row["id"])].astype(np.float16).astype(np.float64)
    assert np.allclose(stored, expect)


def test_hnsw_pq_recall_with_refine(spark):
    nb, dim, nq, k = 1000, 32, 8, 10
    base = gen_dense(nb, dim, seed=44)
    qs = gen_dense(nq, dim, seed=45)
    idx = build_index(
        dense_df(spark, base), "HNSW_PQ",
        {"metric_type": "L2", "M": 16, "ef": 32, "m": 8, "nbits": 6,
         "refine": True, "refine_k": 4.0},
    )
    # codes are m entries of < 2^nbits
    row = idx.codes.first()
    assert len(row["codes"]) == 8 and max(row["codes"]) < 64
    assert _recall(idx, base, qs, spark, k=k, ef=32, max_hops=4) >= 0.6


def test_hnsw_prq_residual_stages_reduce_error(spark):
    """PRQ decode error must be below single-stage PQ error on the same
    data (the point of residual stages, faiss_hnsw_config.h:198-230)."""
    from knowhere_spark.config import load_config
    from knowhere_spark.operators.hnsw_quant import QuantizedHNSWIndex
    from knowhere_spark.config import IndexType

    nb, dim = 400, 16
    base = gen_dense(nb, dim, seed=46)
    df = dense_df(spark, base)

    def decode_err(index):
        rows = index.codes.orderBy("id").collect()
        codes = np.array([r["codes"] for r in rows])
        X = QuantizedHNSWIndex._decode(codes, index.quant)
        return float(np.mean((X - base) ** 2))

    pq = QuantizedHNSWIndex.build(
        df, load_config("HNSW_PQ", {"metric_type": "L2", "M": 8, "m": 4, "nbits": 4}),
        index_type=IndexType.HNSW_PQ,
    )
    prq = QuantizedHNSWIndex.build(
        df, load_config("HNSW_PRQ", {"metric_type": "L2", "M": 8, "m": 4, "nbits": 4, "nrq": 3}),
        index_type=IndexType.HNSW_PRQ,
    )
    assert decode_err(prq) < decode_err(pq)


def test_hnsw_quant_config_validation():
    with pytest.raises(ConfigError):
        create_index("HNSW_SQ", {"metric_type": "L2", "sq_type": "SQ99"})
    with pytest.raises(ConfigError):
        create_index("HNSW_SQ", {"metric_type": "L2", "refine_k": 0.5})
    with pytest.raises(ConfigError):
        create_index("HNSW_PQ", {"metric_type": "L2", "nbits": 30})
    with pytest.raises(ConfigError):
        create_index("HNSW_SQ", {"metric_type": "L2", "refine_type": "int4"})
    # naming a refine type implies refine (faiss_hnsw_config.h:86)
    h = create_index("HNSW_SQ", {"metric_type": "L2", "refine_type": "fp32"})
    assert h.config.refine is True


def test_hnsw_pq_dim_multiple_enforced(spark):
    base = gen_dense(100, 30, seed=47)
    with pytest.raises(ConfigError, match="multiple"):
        build_index(
            dense_df(spark, base), "HNSW_PQ",
            {"metric_type": "L2", "M": 8, "m": 8},
        )


def test_hnsw_sq_save_load_roundtrip(spark, tmp_path):
    nb, dim, nq, k = 500, 16, 4, 5
    base = gen_dense(nb, dim, seed=48)
    qs = gen_dense(nq, dim, seed=49)
    idx = build_index(
        dense_df(spark, base), "HNSW_SQ",
        {"metric_type": "L2", "M": 12, "ef": 24, "sq_type": "SQ8",
         "refine": True, "refine_k": 2.0},
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in
         idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=k).collect()}
    path = str(tmp_path / "hnsw_sq")
    idx.save(path)
    loaded = load_index(spark, path)
    assert loaded.type() == "HNSW_SQ"
    b = {(r["query_id"], r["neighbor_id"]) for r in
         loaded.search(dense_df(spark, qs, QUERY_SCHEMA), k=k).collect()}
    assert a == b


def test_hnsw_pq_save_load_roundtrip(spark, tmp_path):
    nb, dim = 300, 16
    base = gen_dense(nb, dim, seed=50)
    idx = build_index(
        dense_df(spark, base), "HNSW_PRQ",
        {"metric_type": "L2", "M": 8, "m": 4, "nbits": 4, "nrq": 2},
    )
    path = str(tmp_path / "hnsw_prq")
    idx.save(path)
    loaded = load_index(spark, path)
    assert loaded.type() == "HNSW_PRQ"
    for s_a, s_b in zip(idx.quant["stages"], loaded.quant["stages"]):
        assert np.allclose(s_a, s_b)


def test_hnsw_quant_broadcast_vs_bfs(spark):
    """Broadcast codes-beam and BFS table path both clear the recall
    floor; the broadcast plan (no refine) is join-free — codes + CSR ship
    once, beam runs in one mapInArrow."""
    nb, dim, nq, k = 800, 32, 8, 10
    base = gen_dense(nb, dim, seed=61)
    qs = gen_dense(nq, dim, seed=62)
    idx = build_index(
        dense_df(spark, base), "HNSW_SQ",
        {"metric_type": "L2", "M": 16, "ef": 32, "sq_type": "SQ8"},
    )
    qdf = dense_df(spark, qs, QUERY_SCHEMA)

    res_b = idx.search(qdf, k=k, ef=48, strategy="broadcast")
    plan = res_b._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "MapInArrow" in plan
    got_b = {}
    for r in res_b.collect():
        got_b.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    truth = np_knn(base, qs, k, "L2")
    assert recall_at_k(got_b, truth, k) >= 0.6

    got_f = {}
    for r in idx.search(qdf, k=k, ef=48, max_hops=4, strategy="bfs").collect():
        got_f.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    assert recall_at_k(got_f, truth, k) >= 0.6


def test_from_graph_shares_graph_and_matches_build(spark):
    """r11: `QuantizedHNSWIndex.from_graph` attaches quantized storage to
    an EXISTING fp32 graph (the graph is quantizer-independent), so SQ and
    PRQ variants of one corpus share the artifact and search exactly like
    the build-from-scratch path (HNSW build is deterministic since r10,
    so build(base) reproduces the same graph)."""
    from knowhere_spark.config import (
        HnswPrqConfig,
        HnswSqConfig,
        IndexType,
    )
    from knowhere_spark.operators.hnsw import HNSWIndex
    from knowhere_spark.operators.hnsw_quant import QuantizedHNSWIndex

    nb, dim, nq, k = 300, 16, 5, 10
    base = gen_dense(nb, dim, seed=71)
    qs = gen_dense(nq, dim, seed=72)
    bdf = dense_df(spark, base)
    qdf = dense_df(spark, qs, QUERY_SCHEMA)

    sq_cfg = HnswSqConfig(metric_type="L2", M=16, ef=32, sq_type="SQ8")
    graph = HNSWIndex.build(bdf, sq_cfg)
    via_graph = QuantizedHNSWIndex.from_graph(graph, sq_cfg)
    assert via_graph.graph is graph
    via_build = QuantizedHNSWIndex.build(bdf, sq_cfg)

    def rows(idx):
        return sorted(
            (r["query_id"], r["neighbor_id"], round(r["distance"], 6))
            for r in idx.search(qdf, k=k, ef=48, strategy="bfs").collect()
        )

    assert rows(via_graph) == rows(via_build)

    # a second quantizer family rides the SAME graph object
    prq_cfg = HnswPrqConfig(
        metric_type="L2", M=16, ef=32, m=4, nbits=4, nrq=2
    )
    prq = QuantizedHNSWIndex.from_graph(
        graph, prq_cfg, index_type=IndexType.HNSW_PRQ
    )
    assert prq.graph is graph
    assert prq.type() == "HNSW_PRQ"
    got = {}
    for r in prq.search(qdf, k=k, ef=48, strategy="bfs").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    assert recall_at_k(got, np_knn(base, qs, k, "L2"), k) >= 0.6


def test_hnsw_quant_release_drops_both_broadcasts(spark):
    """release() drops the memoized codes broadcast AND the graph's own;
    the next search re-collects and answers the same."""
    base = gen_dense(400, 16, seed=63)
    qdf = dense_df(spark, gen_dense(4, 16, seed=64), QUERY_SCHEMA)
    idx = build_index(
        dense_df(spark, base), "HNSW_SQ",
        {"metric_type": "L2", "M": 8, "ef": 16, "sq_type": "SQ8"},
    )
    first = sorted(tuple(r) for r in idx.search(qdf, k=5, strategy="broadcast").collect())
    idx.graph.search(qdf, k=5, strategy="broadcast").collect()
    assert idx._bc_codes is not None and idx.graph._bc_graph is not None
    idx.release()
    assert idx._bc_codes is None and idx.graph._bc_graph is None
    again = sorted(tuple(r) for r in idx.search(qdf, k=5, strategy="broadcast").collect())
    assert again == first
    idx.release()
