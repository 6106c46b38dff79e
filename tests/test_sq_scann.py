"""IVF_SQ8 + SCANN refine vs brute-force oracle (reference recall floor
0.60, tests/ut/test_search.cc:28; SCANN refine should beat plain SQ8)."""

from __future__ import annotations

import numpy as np
import pytest

from knowhere_spark.config import IvfSq8Config, ScannConfig
from knowhere_spark.operators.refine import ScannIndex
from knowhere_spark.operators.sq import IVFSq8Index, array_minmax

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


def test_array_minmax(data, spark):
    base, _, base_df, _ = data
    lo, hi = array_minmax(base_df, "vec", DIM)
    assert np.allclose(lo, base.min(axis=0), rtol=1e-6)
    assert np.allclose(hi, base.max(axis=0), rtol=1e-6)


@pytest.mark.parametrize("code_size", [8, 16])
def test_quantize_codes_match_numpy_reference(data, code_size):
    """The Arrow encode kernel: cells are the nearest centroids and codes
    equal the numpy affine quantization exactly (SMALLINT and, at 16 bits,
    INT storage); ids, raw vectors and scalar payload pass through."""
    from pyspark.sql import functions as F

    from knowhere_spark.operators.sq import _levels, _quantize_df

    base, _, base_df, _ = data
    X = base.astype(np.float64)
    lo = X.min(axis=0)
    vdiff = X.max(axis=0) - lo
    C = X[:7]
    rows = base_df.select("id", "vec", (F.col("id") % 3).alias("label"))
    out = _quantize_df(rows, C, lo, vdiff, True, code_size, ("label",))
    got = out.orderBy("id").collect()
    lv = _levels(code_size)
    want = np.clip(np.round((X - lo) / vdiff * lv), 0, lv)
    cells = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert np.array_equal(np.array([r["codes"] for r in got]), want)
    assert [r["cell_id"] for r in got] == cells.tolist()
    assert [r["id"] for r in got] == list(range(NB))
    assert all(r["label"] == r["id"] % 3 for r in got)
    assert np.array_equal(np.array([r["vec"] for r in got], dtype=np.float32), base)


def test_sq8_recall_floor(data):
    base, queries, base_df, query_df = data
    cfg = IvfSq8Config(metric_type="L2", nlist=16, nprobe=8, k=K)
    idx = IVFSq8Index.build(base_df, cfg)
    assert not idx.has_raw_data()
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    r = recall_at_k(res, truth, K)
    assert r >= 0.60, f"SQ8 recall {r}"


def test_sq8_quantization_error_small(data):
    """Probe-all SQ8 ≈ exact: 8-bit quantization shouldn't break recall."""
    base, queries, base_df, query_df = data
    cfg = IvfSq8Config(metric_type="L2", nlist=8, nprobe=8, k=K)
    idx = IVFSq8Index.build(base_df, cfg)
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    assert recall_at_k(res, truth, K) >= 0.9


def test_scann_refine_exact_distances(data):
    """SCANN with probe-all + reorder: refine re-scores on raw vectors, so
    returned distances are exact (ivf.cc:778-782)."""
    base, queries, base_df, query_df = data
    cfg = ScannConfig(metric_type="L2", nlist=8, nprobe=8, k=K, reorder_k=50)
    idx = ScannIndex.build(base_df, cfg)
    assert idx.has_raw_data()
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    assert recall_at_k(res, truth, K) >= 0.99
    td = {q: dict(v) for q, v in truth.items()}
    for q, pairs in res.items():
        for nid, dist in pairs:
            if nid in td[q]:
                assert dist == pytest.approx(td[q][nid], rel=1e-9)


def test_scann_beats_sq8(data):
    base, queries, base_df, query_df = data
    truth = np_knn(base, queries, K, "L2")
    sq = IVFSq8Index.build(base_df, IvfSq8Config(metric_type="L2", nlist=16, nprobe=4, k=K))
    r_sq = recall_at_k(_collect(sq.search(query_df, k=K)), truth, K)
    sc = ScannIndex.build(
        base_df, ScannConfig(metric_type="L2", nlist=16, nprobe=4, k=K, reorder_k=40)
    )
    r_sc = recall_at_k(_collect(sc.search(query_df, k=K)), truth, K)
    assert r_sc >= r_sq


def test_sq8_range_search_matches_decoded_numpy(spark):
    """SQ8 range search == numpy range over the affine-decoded codes
    (exact arithmetic parity with the scan kernel), nprobe=nlist."""
    import numpy as np
    from knowhere_spark.config import IvfSq8Config
    from knowhere_spark.operators.sq import IVFSq8Index

    from conftest import QUERY_SCHEMA, dense_df, gen_dense

    nb, dim, nq = 250, 8, 4
    base = gen_dense(nb, dim, seed=85)
    qs = gen_dense(nq, dim, seed=86).astype(np.float64)
    idx = IVFSq8Index.build(
        dense_df(spark, base), IvfSq8Config(metric_type="L2", nlist=5, nprobe=5)
    )
    radius = 18_000.0
    import dataclasses
    cfg = dataclasses.replace(idx.config, radius=radius, range_filter=0.0)
    got = {
        (r["query_id"], r["neighbor_id"]): r["distance"]
        for r in idx.range_search(
            dense_df(spark, qs.astype(np.float32), QUERY_SCHEMA), cfg, nprobe=5
        ).collect()
    }
    # decode codes exactly as the kernel does
    rows = idx.assignments.select("id", "codes").collect()
    decoded = {
        r["id"]: idx.vmin + np.array(r["codes"], dtype=np.float64) / 255.0 * idx.vdiff
        for r in rows
    }
    expect = {}
    for qi in range(nq):
        for i, v in decoded.items():
            d = float(((v - qs[qi]) ** 2).sum())
            if 0.0 <= d < radius:
                expect[(qi, i)] = d
    assert set(got) == set(expect)
    for p in got:
        assert abs(got[p] - expect[p]) < 1e-6


def test_pq_range_search_shapes_and_bounds(spark):
    """PQ range search returns only in-range reconstructed distances."""
    from knowhere_spark.config import IvfPqConfig
    from knowhere_spark.operators.pq import IVFPqIndex

    from conftest import QUERY_SCHEMA, dense_df, gen_dense

    base = gen_dense(200, 8, seed=87)
    qs = gen_dense(3, 8, seed=88)
    idx = IVFPqIndex.build(
        dense_df(spark, base), IvfPqConfig(metric_type="L2", nlist=4, nprobe=4, m=4)
    )
    import dataclasses
    cfg = dataclasses.replace(idx.config, radius=15_000.0, range_filter=0.0)
    rows = idx.range_search(dense_df(spark, qs, QUERY_SCHEMA), cfg, nprobe=4).collect()
    assert rows
    assert all(0.0 <= r["distance"] < 15_000.0 for r in rows)


def test_scann_filtered_search(spark):
    """Bitset filter applies at the approximate stage; refined results
    never contain blocked ids."""
    from pyspark.sql import functions as F

    base = gen_dense(600, 16, seed=95)
    qs = gen_dense(5, 16, seed=96)
    idx = ScannIndex.build(
        dense_df(spark, base),
        ScannConfig(metric_type="L2", nlist=8, nprobe=8, reorder_k=20),
    )
    rows = idx.search(
        dense_df(spark, qs, QUERY_SCHEMA), k=5, filter_expr=F.col("id") >= 100
    ).collect()
    assert len(rows) == 25
    assert all(r["neighbor_id"] >= 100 for r in rows)


@pytest.mark.parametrize("code_size", [4, 6, 8, 16])
def test_sq_code_sizes(data, code_size):
    """code_size 4/6/8/16 (the IVF_SQ_CC axis, ivf.cc:621-648): every
    width clears the probe-all recall floor, storage uses the narrow
    integer type where it fits, and a roundtrip through save/load keeps
    the decode scale."""
    base, queries, base_df, query_df = data
    cfg = IvfSq8Config(metric_type="L2", nlist=8, nprobe=8, k=K,
                       code_size=code_size)
    idx = IVFSq8Index.build(base_df, cfg)
    codes_type = dict(idx.assignments.dtypes)["codes"]
    assert codes_type == ("array<int>" if code_size == 16 else "array<smallint>")
    res = _collect(idx.search(query_df, k=K))
    truth = np_knn(base, queries, K, "L2")
    r = recall_at_k(res, truth, K)
    # coarser codes may lose recall but 4 bits over this data still
    # resolves neighbors well above the UT floor
    floor = 0.9 if code_size >= 8 else 0.6
    assert r >= floor, f"code_size={code_size} recall {r}"


def test_sq_code_size_recall_ordering(data, tmp_path):
    """Wider codes must never score (meaningfully) worse than narrower
    ones at identical probe settings, and 16-bit probe-all should be
    essentially exact."""
    base, queries, base_df, query_df = data
    truth = np_knn(base, queries, K, "L2")
    recalls = {}
    for cs in (4, 8, 16):
        cfg = IvfSq8Config(metric_type="L2", nlist=8, nprobe=8, k=K, code_size=cs)
        idx = IVFSq8Index.build(base_df, cfg)
        recalls[cs] = recall_at_k(_collect(idx.search(query_df, k=K)), truth, K)
        if cs == 16:
            p = str(tmp_path / "sq16")
            idx.save(p)
            loaded = IVFSq8Index.load(base_df.sparkSession, p)
            assert loaded.config.code_size == 16
            assert recall_at_k(
                _collect(loaded.search(query_df, k=K)), truth, K
            ) == recalls[16]
    assert recalls[16] >= 0.99
    assert recalls[16] >= recalls[8] - 0.05
    assert recalls[8] >= recalls[4] - 0.05
