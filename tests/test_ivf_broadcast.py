"""The IVF family's broadcast plan: a resident index serves every unfiltered
driver search as one ``mapInArrow`` over the query rows against a broadcast
cell payload.  It must answer exactly like the scan plan (ids, distances,
ranks and schema) for every family and metric, and its payload must belong
to the index that built it."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from knowhere_spark.config import IvfConfig, IvfPqConfig, IvfSq8Config, ScannConfig
from knowhere_spark.operators import hnsw
from knowhere_spark.operators.ivf import IVFFlatIndex

from conftest import (
    BIN_QUERY_SCHEMA,
    QUERY_SCHEMA,
    binary_df,
    dense_df,
    gen_binary,
    gen_dense,
)

_DENSE = [(f, m) for f in ("IVF_FLAT", "IVF_SQ8", "IVF_PQ", "SCANN")
          for m in ("L2", "IP", "COSINE")]
_CASES = _DENSE + [("BIN_IVF_FLAT", "HAMMING"), ("BIN_IVF_FLAT", "JACCARD")]


def _build(spark, family, metric):
    """(index, the IVF index whose plan runs, queries) — 300 rows, nlist 8."""
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.refine import ScannIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    common = dict(metric_type=metric, nlist=8, nprobe=2, ensure_topk_full=True)
    if family == "BIN_IVF_FLAT":
        idx = BinaryIVFIndex.build(
            binary_df(spark, gen_binary(300, 64, seed=121)), IvfConfig(**common)
        )
        return idx, idx, binary_df(spark, gen_binary(9, 64, seed=122), BIN_QUERY_SCHEMA)
    base = dense_df(spark, gen_dense(300, 8, seed=121))
    q_df = dense_df(spark, gen_dense(9, 8, seed=122), QUERY_SCHEMA)
    if family == "IVF_FLAT":
        idx = IVFFlatIndex.build(base, IvfConfig(**common))
    elif family == "IVF_SQ8":
        idx = IVFSq8Index.build(base, IvfSq8Config(**common))
    elif family == "IVF_PQ":
        idx = IVFPqIndex.build(base, IvfPqConfig(m=4, nbits=4, **common))
    else:
        idx = ScannIndex.build(base, ScannConfig(k=5, reorder_k=8, **common))
        return idx, idx.sq, q_df
    return idx, idx, q_df


def _frames(idx, cells, q_df, k_fill, radius, plan):
    """Every search shape as a lazy frame; each search ran ``plan``."""
    cfg = dataclasses.replace(idx.config, radius=radius)
    frames = {}
    for name, run in (
        ("search", lambda: idx.search(q_df, k=5, strategy="driver")),
        ("fill", lambda: idx.search(q_df, k=k_fill, nprobe=1)),    # auto
        ("range", lambda: idx.range_search(q_df, cfg)),
        ("range_k", lambda: idx.range_search(
            q_df, dataclasses.replace(cfg, range_search_k=3))),
    ):
        frames[(plan, name)] = run()
        assert cells.last_metrics["plan"] == plan, (name, cells.last_metrics)
    return frames


def _collect(frames):
    """Each frame's schema and sorted rows, from one Spark job (a union
    tagged by frame) to keep the test short."""
    from functools import reduce

    from pyspark.sql import functions as F

    keys = list(frames)
    tagged = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [frames[key].withColumn("__key", F.lit(i)) for i, key in enumerate(keys)],
    )
    rows = {key: [] for key in keys}
    for r in tagged.collect():
        key = keys[r["__key"]]
        rows[key].append(tuple(r[c] for c in frames[key].columns))
    return {key: (frames[key].schema, sorted(rows[key])) for key in keys}


@pytest.mark.parametrize("family,metric", _CASES)
def test_broadcast_plan_equals_scan_plan(spark, monkeypatch, family, metric):
    """Same rows, distances to the last bit, ranks and schema from both
    plans — top-k (driver, and auto with ``ensure_topk_full`` at k above
    every probed cell), range search with and without
    ``range_search_k``.  The scan plan is forced by shrinking the
    broadcast bound, as in ``test_size_gate_leaves_oversized_table_lazy``."""
    idx, cells, q_df = _build(spark, family, metric)
    assert cells.resident
    top5 = [r["distance"] for r in idx.search(q_df, k=5).collect()]
    assert cells.last_metrics["plan"] == "broadcast"
    radius = float(np.median(top5))
    k_fill = max(cells._get_cell_counts().values()) + 1   # > any cell

    frames = _frames(idx, cells, q_df, k_fill, radius, "broadcast")
    monkeypatch.setattr(hnsw, "_BROADCAST_MAX_BYTES", 1)
    frames.update(_frames(idx, cells, q_df, k_fill, radius, "scan"))
    got = _collect(frames)
    assert len(got[("broadcast", "fill")][1]) == 9 * k_fill   # every query filled
    assert got[("broadcast", "range")][1] and got[("broadcast", "range_k")][1]
    assert len(got[("broadcast", "range_k")][1]) < len(got[("broadcast", "range")][1])
    for plan, name in frames:
        assert got[("broadcast", name)] == got[("scan", name)], name
    idx.release()


def _parquet(spark, tmp_path, name, mat, first_id):
    """Rows written to parquet: a read carries a size estimate, so an
    ``add()`` batch from it is made resident."""
    path = str(tmp_path / f"{name}.parquet")
    df = dense_df(spark, mat)
    df.selectExpr(f"id + {first_id} AS id", "vec").coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_broadcast_payload_belongs_to_its_index(spark, tmp_path):
    """An ``add()`` child builds its own payload — reading its parent's
    would miss the added rows — the parent keeps answering from its own,
    and ``release()`` drops each."""
    base = gen_dense(300, 8, seed=131)
    qs = gen_dense(6, 8, seed=132)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    idx = IVFFlatIndex.build(
        _parquet(spark, tmp_path, "base", base, 0),
        IvfConfig(metric_type="L2", nlist=8, nprobe=2),
    )
    before = sorted(tuple(r) for r in idx.search(q_df, k=3, strategy="driver").collect())
    assert idx.last_metrics["plan"] == "broadcast" and idx._cells_bc is not None

    # the queries themselves, added under new ids: each is its own nearest
    child = idx.add(_parquet(spark, tmp_path, "added", qs, 10_000))
    assert child.resident and child._cells_bc is None
    top1 = child.search(q_df, k=1, strategy="driver").collect()
    assert child.last_metrics["plan"] == "broadcast"
    assert child._cells_bc is not None and child._cells_bc is not idx._cells_bc
    assert sorted((r["query_id"], r["neighbor_id"]) for r in top1) == [
        (q, 10_000 + q) for q in range(6)
    ]
    again = sorted(tuple(r) for r in idx.search(q_df, k=3, strategy="driver").collect())
    assert again == before

    child.release()
    assert child._cells_bc is None and idx._cells_bc is not None
    idx.release()
    assert idx._cells_bc is None


def test_stable_scores_do_not_depend_on_batch_shape():
    """The driver plans agree to the last bit because, scored with
    ``stable=True``, a (row, query) pair's distance depends on that pair
    alone: scoring any subset of rows against any subset of queries
    reproduces the full matrix's entries, which BLAS GEMM does not
    promise."""
    from knowhere_spark.functions.distance import pairwise_distances

    rng = np.random.default_rng(141)
    X = rng.standard_normal((500, 64)).astype(np.float32).astype(np.float64)
    Q = rng.standard_normal((60, 64)).astype(np.float32).astype(np.float64)
    for metric in ("L2", "IP", "COSINE"):
        full = pairwise_distances(X, Q, metric, stable=True)
        for n_rows, n_q in ((1, 1), (3, 7), (77, 1), (200, 25), (500, 59)):
            r = np.sort(rng.choice(500, n_rows, replace=False))
            c = np.sort(rng.choice(60, n_q, replace=False))
            part = pairwise_distances(X[r], Q[c], metric, stable=True)
            assert np.array_equal(part, full[np.ix_(r, c)]), (metric, n_rows, n_q)
