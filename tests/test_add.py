"""The ``Add`` verb (index_node.h:120-121) across index families: rows
appended to a TRAINED index are encoded with the frozen train state
(centroids / SQ scale / PQ codebooks) and become searchable, without
retraining.  Test shape: build on a base cluster, add a far-shifted
cluster, query near the shifted cluster — every result must be an added
row (it is ~200 units closer), probing all cells so coarse-probe recall
cannot mask a broken Add.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import (
    IvfConfig,
    IvfPqConfig,
    IvfSq8Config,
    ScannConfig,
)

from conftest import dense_df, gen_dense

NB, DIM, K = 300, 16, 5
SHIFT = 200.0


def _base_and_added(spark):
    base = gen_dense(NB, DIM, seed=31)
    added = gen_dense(40, DIM, seed=32) + SHIFT
    base_df = dense_df(spark, base)
    added_df = spark.createDataFrame(
        [(NB + i, [float(x) for x in row]) for i, row in enumerate(added)],
        "id long, vec array<float>",
    )
    query = spark.createDataFrame(
        [(0, [float(x) for x in (added[0] + 0.1)])], "query_id long, vec array<float>"
    )
    return base_df, added_df, query


def _assert_added_found(idx, query, k=K, **kw):
    out = idx.search(query, k=k, **kw).collect()
    assert len(out) == k
    assert all(r["neighbor_id"] >= NB for r in out), [r["neighbor_id"] for r in out]


def test_ivf_flat_add(spark):
    from knowhere_spark.operators.ivf import IVFFlatIndex

    base_df, added_df, query = _base_and_added(spark)
    idx = IVFFlatIndex.build(base_df, IvfConfig(metric_type="L2", nlist=8))
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    _assert_added_found(idx2, query, nprobe=8)


def test_ivf_sq8_add(spark):
    from knowhere_spark.operators.sq import IVFSq8Index

    base_df, added_df, query = _base_and_added(spark)
    idx = IVFSq8Index.build(base_df, IvfSq8Config(metric_type="L2", nlist=8))
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    # added values exceed the trained [vmin, vmax] scale and clip to 255 —
    # still decoded as the scale maximum, far closer to the shifted query
    # than any base row (faiss SQ8 out-of-range behavior)
    _assert_added_found(idx2, query, nprobe=8)


def test_ivf_pq_add(spark):
    from knowhere_spark.operators.pq import IVFPqIndex

    base_df, added_df, query = _base_and_added(spark)
    idx = IVFPqIndex.build(
        base_df, IvfPqConfig(metric_type="L2", nlist=8, m=4, nbits=6)
    )
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    # PQ reconstructs added rows from base-trained codebooks (bounded by
    # the codebook range), so exact ranking degrades — assert the added
    # rows are searchable and dominate the top-k neighborhood
    out = idx2.search(query, k=K, nprobe=8).collect()
    assert len(out) == K
    assert sum(r["neighbor_id"] >= NB for r in out) >= K - 1


def test_scann_add_refines_added_rows(spark):
    from knowhere_spark.operators.refine import ScannIndex

    base_df, added_df, query = _base_and_added(spark)
    idx = ScannIndex.build(
        base_df,
        ScannConfig(metric_type="L2", nlist=8, k=K, reorder_k=20, with_raw_data=True),
    )
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    out = idx2.search(query, k=K, nprobe=8).collect()
    assert len(out) == K
    assert all(r["neighbor_id"] >= NB for r in out)
    # refine stage re-scored on raw vectors: top-1 is the near-identical one
    top1 = min(out, key=lambda r: (r["rank"]))
    assert top1["neighbor_id"] == NB


def test_bin_ivf_add(spark):
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex

    from conftest import binary_df, gen_binary

    base = gen_binary(200, 128, seed=33)
    added = np.unpackbits(
        np.frombuffer(b"\xff" * (16 * 30), dtype=np.uint8)
    )  # 30 all-ones rows, far from the uniform base in hamming terms
    added_rows = [(200 + i, bytes(b"\xff" * 16)) for i in range(30)]
    idx = BinaryIVFIndex.build(
        binary_df(spark, base), IvfConfig(metric_type="HAMMING", nlist=4)
    )
    added_df = spark.createDataFrame(added_rows, "id long, vec binary")
    idx2 = idx.add(added_df)
    assert idx2.count() == 230
    q = spark.createDataFrame([(0, bytes(b"\xff" * 16))], "query_id long, vec binary")
    out = idx2.search(q, k=3, nprobe=4).collect()
    assert all(r["neighbor_id"] >= 200 and r["distance"] == 0.0 for r in out)


def test_hnsw_add_links_new_cluster(spark):
    from knowhere_spark.config import HnswConfig
    from knowhere_spark.operators.hnsw import HNSWIndex

    base_df, added_df, query = _base_and_added(spark)
    idx = HNSWIndex.build(base_df, HnswConfig(metric_type="L2", M=8, ef=32, k=K))
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    # entry points all live in the base cluster; reaching the added rows
    # requires the reverse edges stitched in by add()
    out = idx2.search(query, k=K, max_hops=4).collect()
    assert len(out) == K
    assert all(r["neighbor_id"] >= NB for r in out), [r["neighbor_id"] for r in out]


def test_hnsw_sq_add(spark):
    from knowhere_spark.config import HnswSqConfig
    from knowhere_spark.operators.hnsw_quant import QuantizedHNSWIndex

    base_df, added_df, query = _base_and_added(spark)
    idx = QuantizedHNSWIndex.build(
        base_df,
        HnswSqConfig(metric_type="L2", M=8, ef=32, k=K, sq_type="SQ8",
                     refine=True, refine_k=2.0),
    )
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    out = idx2.search(query, k=K, max_hops=4).collect()
    assert len(out) == K
    # beam over codes + exact refine must surface added rows (out-of-range
    # values clip under the frozen SQ scale but remain far closer)
    assert all(r["neighbor_id"] >= NB for r in out), [r["neighbor_id"] for r in out]


def test_flat_add(spark):
    from knowhere_spark.factory import FlatIndex
    from knowhere_spark.config import BaseConfig

    base_df, added_df, query = _base_and_added(spark)
    idx = FlatIndex.build(base_df, BaseConfig(metric_type="L2", k=K))
    idx2 = idx.add(added_df)
    assert idx2.count() == NB + 40
    _assert_added_found(idx2, query)


def test_sparse_add_matches_full_build(spark):
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    rows = [
        (i, f"term{i % 7} term{i % 5} common word number {i}") for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    first = docs.filter(F.col("doc_id") < 30)
    rest = docs.filter(F.col("doc_id") >= 30)
    cfg = SparseConfig(metric_type="BM25", inverted_index_algo="TAAT_NAIVE",
                       k=10, bm25_k1=1.2, bm25_b=0.75)

    grown = SparseInvertedIndex.build_from_text(first, cfg).add_from_text(rest)
    full = SparseInvertedIndex.build_from_text(docs, cfg)
    assert grown.count() == full.count() == 60
    assert abs(grown.avgdl - full.avgdl) < 1e-9

    q = spark.createDataFrame(
        [(0, {"term3": 1.0, "common": 1.0})], "query_id long, vec map<string,float>"
    )
    a = sorted((r["doc_id"], round(r["score"], 6)) for r in grown.search(q, k=10).collect())
    b = sorted((r["doc_id"], round(r["score"], 6)) for r in full.search(q, k=10).collect())
    assert a == b


def _lifecycle_index(spark, tmp_path, family):
    """``(built index, added frame, query)`` for the lifecycle test: base and
    added rows are read back from parquet, so Spark has a size estimate
    for them and the added batch is made resident too."""
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex
    from knowhere_spark.operators.ivf import IVFFlatIndex
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    from conftest import binary_df, gen_binary

    if family == "BIN_IVF_FLAT":
        base_df = binary_df(spark, gen_binary(NB, 128, seed=33))
        added_df = spark.createDataFrame(
            [(NB + i, b"\xff" * 16) for i in range(40)], "id long, vec binary"
        )
        query = spark.createDataFrame([(0, b"\xff" * 16)], "query_id long, vec binary")
    else:
        base_df, added_df, query = _base_and_added(spark)
    base_df.write.parquet(str(tmp_path / "base"))
    added_df.write.parquet(str(tmp_path / "added"))
    base_df = spark.read.parquet(str(tmp_path / "base"))
    added_df = spark.read.parquet(str(tmp_path / "added"))
    build = {
        "IVF_FLAT": lambda: IVFFlatIndex.build(base_df, IvfConfig(metric_type="L2", nlist=8)),
        "IVF_SQ8": lambda: IVFSq8Index.build(base_df, IvfSq8Config(metric_type="L2", nlist=8)),
        "IVF_PQ": lambda: IVFPqIndex.build(
            base_df, IvfPqConfig(metric_type="L2", nlist=8, m=4, nbits=6)
        ),
        "BIN_IVF_FLAT": lambda: BinaryIVFIndex.build(
            base_df, IvfConfig(metric_type="HAMMING", nlist=8)
        ),
    }
    return build[family](), added_df, query


def _lifecycle_cases():
    families = ["IVF_FLAT", "IVF_SQ8", "IVF_PQ", "BIN_IVF_FLAT"]
    return [pytest.param(f, "auto", id=f) for f in families] + [
        pytest.param(f, "distributed", id=f"{f}-distributed") for f in families
    ]


@pytest.mark.parametrize("family,strategy", _lifecycle_cases())
def test_resident_lifecycle_release_frees_every_cache(spark, tmp_path, family, strategy):
    """build → search → add → search → release leaves no persisted RDD:
    the build's resident table, the appended batch's segment, the
    parent's superseded views and every search's caches (the distributed
    probe table, the counted filtered ``ensure_topk_full`` result) all
    have an owner that frees them."""
    import dataclasses

    spark.catalog.clearCache()
    sc = spark.sparkContext
    idx, added_df, query = _lifecycle_index(spark, tmp_path, family)
    assert idx.resident
    # a filtered ensure_topk_full search caches the result it counts
    idx.config = dataclasses.replace(idx.config, ensure_topk_full=True)
    idx.search(
        query, k=K, nprobe=8, strategy=strategy, filter_expr=F.col("id") >= 0
    ).collect()
    assert not sc._jsc.getPersistentRDDs().isEmpty()
    idx2 = idx.add(added_df)
    assert idx2.resident and idx2.resident_bytes_est > idx.resident_bytes_est

    def assert_added_found():
        out = idx2.search(query, k=K, nprobe=8, strategy=strategy).collect()
        assert len(out) == K
        # PQ reconstructs the added rows from base-trained codebooks, so one
        # base row may rank among them (see test_ivf_pq_add)
        found = sum(r["neighbor_id"] >= NB for r in out)
        assert found >= (K - 1 if family == "IVF_PQ" else K), [r["neighbor_id"] for r in out]

    assert_added_found()
    assert idx2.count() == NB + 40
    idx2.release()
    assert not idx2.resident and idx2.resident_bytes_est == 0
    assert sc._jsc.getPersistentRDDs().isEmpty()
    # released indexes still answer, from lineage
    assert_added_found()


def test_sparse_add_keeps_explicit_partitions(spark):
    """An index built with an explicit ``n_partitions`` term layout keeps
    it across add(), and still answers like a full build."""
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    from conftest import gen_sparse

    rows = gen_sparse(80, 200, 0.9, seed=34)
    schema = "id long, vec map<int,float>"
    docs = spark.createDataFrame([(i, r) for i, r in enumerate(rows)], schema)
    first = docs.filter(F.col("id") < 40)
    rest = docs.filter(F.col("id") >= 40)
    cfg = SparseConfig(metric_type="IP", k=10)

    grown = SparseInvertedIndex.build(first, cfg, n_partitions=3).add(rest)
    assert grown.postings.rdd.getNumPartitions() == 3
    full = SparseInvertedIndex.build(docs, cfg, n_partitions=3)
    q = spark.createDataFrame([(0, rows[5])], "query_id long, vec map<int,float>")
    a = sorted((r["doc_id"], round(r["score"], 6)) for r in grown.search(q, k=10).collect())
    b = sorted((r["doc_id"], round(r["score"], 6)) for r in full.search(q, k=10).collect())
    assert a == b
