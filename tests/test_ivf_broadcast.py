"""The IVF family's payload plans: a resident index serves every unfiltered
driver search from a cell payload the driver holds — in the driver
process for a small top-k batch (the local plan), else as one
``mapInArrow`` over the query rows against the payload's broadcast (the
broadcast plan).  Both must answer exactly like the scan plan (ids,
distances, ranks and schema) for every family and metric, and the
payload must belong to the index that built it."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from knowhere_spark.config import IvfConfig, IvfPqConfig, IvfSq8Config, ScannConfig
from knowhere_spark.operators import hnsw
from knowhere_spark.operators.ivf import IVFBaseIndex, IVFFlatIndex

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


def _frames(idx, cells, q_df, k_fill, radius, resident):
    """Every search shape as a frame, keyed by ``(plan, shape)``; each
    search ran the plan in its key — the payload plans when
    ``resident``, else the scan plan (one frame per shape)."""
    cfg = dataclasses.replace(idx.config, radius=radius)
    frames = {}
    for name, plan, run in (
        ("search", "local", lambda: idx.search(q_df, k=5, strategy="driver")),
        ("search", "broadcast", lambda: idx.search(q_df, k=5)),     # auto
        ("fill", "local", lambda: idx.search(q_df, k=k_fill, nprobe=1, strategy="driver")),
        ("fill", "broadcast", lambda: idx.search(q_df, k=k_fill, nprobe=1)),
        ("range", "broadcast", lambda: idx.range_search(q_df, cfg, strategy="driver")),
        ("range_k", "broadcast", lambda: idx.range_search(
            q_df, dataclasses.replace(cfg, range_search_k=3))),
    ):
        plan = plan if resident else "scan"
        if (plan, name) not in frames:
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
    """Same rows, distances to the last bit, ranks and schema from the
    local, broadcast and scan plans — top-k (driver and auto, and with
    ``ensure_topk_full`` at k above every probed cell), range search with
    and without ``range_search_k`` — and from a driver batch above the
    local cap, which runs the broadcast plan (and, for SCANN, a
    ``distributed`` range search).  The scan plan is forced by
    shrinking the broadcast bound, as in
    ``test_size_gate_leaves_oversized_table_lazy``."""
    idx, cells, q_df = _build(spark, family, metric)
    assert cells.resident
    top5 = [r["distance"] for r in idx.search(q_df, k=5).collect()]
    assert cells.last_metrics["plan"] == "broadcast"
    radius = float(np.median(top5))
    k_fill = max(cells._get_cell_counts().values()) + 1   # > any cell

    frames = _frames(idx, cells, q_df, k_fill, radius, True)
    monkeypatch.setattr(IVFBaseIndex, "_LOCAL_NQ_MAX", 4)     # below nq = 9
    frames[("capped", "search")] = idx.search(q_df, k=5, strategy="driver")
    assert cells.last_metrics["plan"] == "broadcast"
    assert "more than 4 queries" in cells.last_metrics["plan_reason"]
    if family == "SCANN":
        # the strategy reaches the inner SQ range search
        frames[("distributed", "range")] = idx.range_search(
            q_df, dataclasses.replace(idx.config, radius=radius), strategy="distributed"
        )
        assert cells.last_metrics["strategy"] == "distributed"
    monkeypatch.setattr(hnsw, "_BROADCAST_MAX_BYTES", 1)
    frames.update(_frames(idx, cells, q_df, k_fill, radius, False))
    got = _collect(frames)
    assert len(got[("local", "fill")][1]) == 9 * k_fill   # every query filled
    assert got[("broadcast", "range")][1] and got[("broadcast", "range_k")][1]
    assert len(got[("broadcast", "range_k")][1]) < len(got[("broadcast", "range")][1])
    for plan, name in frames:
        assert got[(plan, name)] == got[("scan", name)], (plan, name)
    idx.release()


def _parquet(spark, tmp_path, name, mat, first_id):
    """Rows written to parquet: a read carries a size estimate, so an
    ``add()`` batch from it is made resident."""
    path = str(tmp_path / f"{name}.parquet")
    df = dense_df(spark, mat)
    df.selectExpr(f"id + {first_id} AS id", "vec").coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_broadcast_payload_belongs_to_its_index(spark, tmp_path):
    """The driver holds one cell payload per index; its broadcast is made
    only when a ``mapInArrow`` plan needs it, and the driver never reads
    it back.  An ``add()`` child inherits neither — its parent's would
    miss the added rows — the parent keeps answering from its own, and
    ``release()`` drops both.  The local plan runs no Python job, and its
    counters are plain ints equal to the broadcast plan's accumulators."""
    base = gen_dense(300, 8, seed=131)
    qs = gen_dense(6, 8, seed=132)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    idx = IVFFlatIndex.build(
        _parquet(spark, tmp_path, "base", base, 0),
        IvfConfig(metric_type="L2", nlist=8, nprobe=2),
    )
    local = idx.search(q_df, k=3, strategy="driver")
    m = idx.last_metrics
    assert m["plan"] == "local" and "scored in the driver" in m["plan_reason"]
    assert idx._cells is not None and idx._cells_bc is None
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "MapInArrow" not in plan
    before = sorted(tuple(r) for r in local.collect())

    assert sorted(tuple(r) for r in idx.search(q_df, k=3).collect()) == before  # auto
    snap = idx.last_metrics.snapshot()
    assert snap["plan"] == "broadcast"
    for key in ("nq", "cells_probed", "rows_scanned"):
        assert type(m[key]) is int and m[key] == snap[key], key
    assert m["nq"] == 6 and m["cells_probed"] == 6 * 2
    assert isinstance(m["stages"]["probe_sec"], float)
    bc = idx._cells_bc
    assert bc is not None and not hasattr(bc, "_value")   # never unpickled here

    # the queries themselves, added under new ids: each is its own nearest
    child = idx.add(_parquet(spark, tmp_path, "added", qs, 10_000))
    assert child.resident and child._cells is None and child._cells_bc is None
    top1 = child.search(q_df, k=1, strategy="driver").collect()
    assert child.last_metrics["plan"] == "local"
    assert child._cells is not None and child._cells is not idx._cells
    assert sorted((r["query_id"], r["neighbor_id"]) for r in top1) == [
        (q, 10_000 + q) for q in range(6)
    ]
    again = sorted(tuple(r) for r in idx.search(q_df, k=3, strategy="driver").collect())
    assert again == before

    child.release()
    assert child._cells is None and child._cells_bc is None
    assert idx._cells is not None and idx._cells_bc is bc
    idx.release()
    assert idx._cells is None and idx._cells_bc is None


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
