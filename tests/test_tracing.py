"""Search/build tracing-metrics parity (r5 verdict #7; reference wraps
every index verb in a tracer span, src/index/index.cc:131-162): job
descriptions label the op's jobs, and `last_metrics` carries config
attrs, per-stage driver wall, and kernel-side counters (live Spark
accumulators, resolved by `.snapshot()` after the result is consumed)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import HnswConfig, IvfConfig
from knowhere_spark.operators.hnsw import HNSWIndex
from knowhere_spark.operators.ivf import IVFFlatIndex

from conftest import QUERY_SCHEMA, dense_df, gen_dense


def _desc(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description") or ""


def test_ivf_build_and_driver_search_metrics(spark):
    base = gen_dense(600, 16, seed=21)
    qs = gen_dense(7, 16, seed=22)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=8, nprobe=3))
    bm = idx.last_metrics.snapshot()
    assert bm["op"] == "IVF_FLAT.build" and bm["n"] == 600 and bm["nlist"] == 8
    assert bm["train_backend"] == "driver"
    assert bm["stages"]["build_plan_sec"] > 0
    assert "knowhere:IVF_FLAT.build" in _desc(spark)

    res = idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=5, strategy="driver")
    assert "knowhere:IVF_FLAT.search" in _desc(spark)   # span open pre-consume
    res.count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "IVF_FLAT.search"
    assert sm["strategy"] == "driver" and sm["k"] == 5 and sm["nprobe"] == 3
    assert sm["nq"] == 7 and sm["cells_probed"] == 7 * 3
    # the kernel-side counter finalized at consumption: at least the
    # probed cells' rows, at most the corpus per scan
    assert 0 < sm["rows_scanned"] <= 600
    assert sm["stages"]["probe_sec"] >= 0


def test_ivf_distributed_search_metrics(spark):
    base = gen_dense(500, 16, seed=23)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=8, nprobe=2))
    qs = dense_df(spark, base[:20], QUERY_SCHEMA)
    res = idx.search(qs, k=5, strategy="distributed")
    res.count()
    sm = idx.last_metrics.snapshot()
    assert sm["strategy"] == "distributed"
    assert sm["rows_scanned"] > 0          # cogroup GEMM counter fired
    assert "knowhere:IVF_FLAT.search" in sm["description"]


@pytest.mark.parametrize("family", ["HNSW", "HNSW_SQ"])
def test_hnsw_search_metrics_both_strategies(spark, family):
    from knowhere_spark.config import HnswSqConfig
    from knowhere_spark.operators.hnsw_quant import QuantizedHNSWIndex

    base = dense_df(spark, gen_dense(400, 16, seed=24))
    qs = gen_dense(5, 16, seed=25)
    if family == "HNSW":
        idx = HNSWIndex.build(base, HnswConfig(metric_type="L2", M=8, ef=16))
    else:
        idx = QuantizedHNSWIndex.build(
            base, HnswSqConfig(metric_type="L2", M=8, ef=16, sq_type="SQ8")
        )
    bm = idx.last_metrics.snapshot()
    assert bm["op"] == f"{family}.build" and bm["n"] == 400 and bm["M"] == 8
    q_df = dense_df(spark, qs, QUERY_SCHEMA)

    idx.search(q_df, k=4, ef=16, strategy="broadcast").count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == f"{family}.search" and sm["strategy"] == "broadcast"
    assert sm["nodes_scored"] > 0          # beam counter fired at consume
    assert "strategy=broadcast" in _desc(spark)

    idx.search(q_df, k=4, ef=16, strategy="bfs", max_hops=2).count()
    sm2 = idx.last_metrics.snapshot()
    assert sm2["strategy"] == "bfs" and sm2["max_hops"] == 2
    assert sm2["bfs_frames"] >= 1
    assert "strategy=bfs" in _desc(spark)
    idx.release()


def test_description_overwritten_by_next_op(spark):
    """One active span per thread: the next op's label replaces the
    previous one (depth-1 span stack, the reference's per-call shape)."""
    base = gen_dense(300, 8, seed=26)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=4, nprobe=2))
    q = dense_df(spark, base[:3], QUERY_SCHEMA)
    idx.search(q, k=3, strategy="driver").count()
    assert "IVF_FLAT.search" in _desc(spark)
    idx2 = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=4, nprobe=2))
    assert "IVF_FLAT.build" in _desc(spark)


def test_sparse_search_span(spark):
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    base = spark.createDataFrame(
        [(0, {1: 1.0, 2: 0.5}), (1, {2: 2.0}), (2, {1: 0.2, 3: 1.0})],
        "id long, vec map<int,float>",
    )
    idx = SparseInvertedIndex.build(
        base, SparseConfig(metric_type="IP", inverted_index_algo="DAAT_MAXSCORE", k=2)
    )
    q = spark.createDataFrame([(0, {1: 1.0, 2: 1.0})], "query_id long, vec map<int,float>")
    idx.search(q, k=2).count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "SPARSE.search" and sm["k"] == 2
    assert sm["algo"] == "DAAT_MAXSCORE" and sm["prune_terms"] is True
    assert "knowhere:SPARSE.search" in _desc(spark)


def test_sharded_hnsw_search_span(spark):
    from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex

    base = gen_dense(300, 8, seed=27)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=6, ef=12, k=3),
        n_shards=3,
    )
    idx.search(dense_df(spark, gen_dense(4, 8, seed=28), QUERY_SCHEMA), k=3).count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "SHARDED_HNSW.search"
    assert sm["shards_searched"] == 3 and sm["waves"] >= 1
    assert "knowhere:SHARDED_HNSW.search" in sm["description"]


def _quantized_index(spark, family):
    """``(index, query frame, dim)`` for one IVF family over 600 rows."""
    from knowhere_spark.config import IvfPqConfig, IvfSq8Config
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    from conftest import BIN_QUERY_SCHEMA, binary_df, gen_binary

    if family == "BIN_IVF_FLAT":
        base = binary_df(spark, gen_binary(600, 128, seed=26))
        qs = binary_df(spark, gen_binary(7, 128, seed=27), BIN_QUERY_SCHEMA)
        cfg = IvfConfig(metric_type="HAMMING", nlist=8, nprobe=3)
        return BinaryIVFIndex.build(base, cfg), qs, 128
    base = dense_df(spark, gen_dense(600, 16, seed=26))
    qs = dense_df(spark, gen_dense(7, 16, seed=27), QUERY_SCHEMA)
    if family == "IVF_SQ8":
        idx = IVFSq8Index.build(base, IvfSq8Config(metric_type="L2", nlist=8, nprobe=3))
    else:
        idx = IVFPqIndex.build(
            base, IvfPqConfig(metric_type="L2", nlist=8, nprobe=3, m=4, nbits=4)
        )
    return idx, qs, 16


@pytest.mark.parametrize("family", ["IVF_SQ8", "IVF_PQ", "BIN_IVF_FLAT"])
def test_ivf_family_build_and_search_metrics(spark, family):
    """Every IVF family fills the IVF_FLAT metrics schema, plus what it
    caches — build, driver search and distributed search."""
    idx, q_df, dim = _quantized_index(spark, family)
    bm = idx.last_metrics.snapshot()
    assert bm["op"] == f"{family}.build" and bm["n"] == 600 and bm["nlist"] == 8
    assert bm["train_backend"] == "driver" and bm["dim"] == dim
    assert bm["stages"]["build_plan_sec"] > 0
    assert bm["resident"] is True and bm["resident_bytes_est"] > 0
    assert f"knowhere:{family}.build" in _desc(spark)

    idx.search(q_df, k=5, strategy="driver").count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == f"{family}.search" and sm["strategy"] == "driver"
    assert sm["k"] == 5 and sm["nprobe"] == 3
    assert sm["nq"] == 7 and sm["cells_probed"] == 7 * 3
    assert 0 < sm["rows_scanned"] <= 600
    assert sm["stages"]["probe_sec"] >= 0
    assert sm["resident"] is True

    idx.search(q_df, k=5, strategy="distributed").count()
    sm = idx.last_metrics.snapshot()
    assert sm["strategy"] == "distributed" and sm["rows_scanned"] > 0
    assert f"knowhere:{family}.search" in sm["description"]
    idx.release()
