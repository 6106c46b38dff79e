"""HNSW graph build + BFS-beam batch search — recall vs exact oracle
(ANN floor 0.6, test_search.cc:28) and graph-shape invariants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import HnswConfig
from knowhere_spark.operators.hnsw import HNSWIndex

from conftest import QUERY_SCHEMA, dense_df, gen_dense, np_knn, recall_at_k


def test_hnsw_recall_l2(spark):
    nb, dim, nq, k = 1000, 32, 10, 10
    base = gen_dense(nb, dim, seed=31)
    qs = gen_dense(nq, dim, seed=32)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=16, ef=32)
    )
    # graph shape: <= M out-edges per node, no self-edges
    deg = idx.edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 16
    assert idx.edges.filter(F.col("src") == F.col("dst")).count() == 0

    # explicit bfs: the frontier-join table path must stay correct on its
    # own (auto would pick broadcast for a graph this small)
    res = idx.search(
        dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=32, max_hops=4, strategy="bfs"
    )
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    truth = np_knn(base, qs, k, "L2")
    base_recall = recall_at_k(got, truth, k)
    assert base_recall >= 0.6


def test_hnsw_refine_improves_graph(spark):
    """NN-Descent refinement must not hurt recall, and the refined edge
    set must differ from the blocked build (cross-cell edges recovered)."""
    nb, dim, nq, k = 800, 32, 8, 10
    base = gen_dense(nb, dim, seed=33)
    qs = gen_dense(nq, dim, seed=34)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=12, ef=24)
    )
    refined = idx.refine(iterations=1)
    # still <= M out-edges, no self-edges
    assert refined.edges.groupBy("src").count().agg(F.max("count")).collect()[0][0] <= 12
    assert refined.edges.filter(F.col("src") == F.col("dst")).count() == 0

    def recall(index):
        res = index.search(dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=24, max_hops=3)
        got = {}
        for r in res.collect():
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
        return recall_at_k(got, np_knn(base, qs, k, "L2"), k)

    r0, r1 = recall(idx), recall(refined)
    assert r1 >= r0 - 0.05        # refinement must not regress materially
    assert r1 >= 0.6


def test_hnsw_broadcast_search(spark):
    """Broadcast best-first search: recall floor, distance values match
    distance_expr semantics, and auto strategy picks broadcast for a
    segment-sized graph (no per-hop shuffle joins in the plan)."""
    nb, dim, nq, k = 1000, 32, 20, 10
    base = gen_dense(nb, dim, seed=35)
    qs = gen_dense(nq, dim, seed=36)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=16, ef=32)
    )
    qdf = dense_df(spark, qs, QUERY_SCHEMA)

    res = idx.search(qdf, k=k, ef=64, strategy="broadcast")
    # one mapInArrow, zero joins — the serving plan
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "MapInArrow" in plan

    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    truth = np_knn(base, qs, k, "L2")
    assert recall_at_k(got, truth, k) >= 0.8
    # distance column is squared L2, same as the BFS/exact paths
    for qid, pairs in got.items():
        for nid, d in pairs:
            exact = float(np.sum((base[nid] - qs[qid]) ** 2))
            assert abs(d - exact) <= 1e-4 * max(1.0, exact)   # fp32 kernel

    # auto chooses broadcast here (artifact ~ nb*dim*4 bytes << 1 GiB)
    res_auto = idx.search(qdf, k=k, ef=64)
    assert "Join" not in res_auto._jdf.queryExecution().executedPlan().toString()


def test_hnsw_broadcast_cosine(spark):
    nb, dim, nq, k = 600, 16, 10, 5
    base = gen_dense(nb, dim, seed=37)
    qs = gen_dense(nq, dim, seed=38)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="COSINE", M=16, ef=32)
    )
    res = idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=48, strategy="broadcast")
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    assert recall_at_k(got, np_knn(base, qs, k, "COSINE"), k) >= 0.8
    # similarity metric: distances descend
    for pairs in got.values():
        ds = [d for _, d in pairs]
        assert ds == sorted(ds, reverse=True)


def test_hnsw_filtered_search(spark):
    """Bitset-filtered search (index_node.h search-with-bitset): blocked
    nodes never appear in results on either strategy, and recall vs the
    FILTERED ground truth clears the ANN floor.  The broadcast strategy
    maps the filter to graph positions without reading the graph
    broadcast back on the driver (its value stays unpickled)."""
    nb, dim, nq, k = 1000, 32, 10, 10
    base = gen_dense(nb, dim, seed=91)
    qs = gen_dense(nq, dim, seed=92)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=16, ef=32)
    )
    qdf = dense_df(spark, qs, QUERY_SCHEMA)
    flt = F.col("id") % 3 != 0          # block every third node

    truth_ids = [i for i in range(nb) if i % 3 != 0]
    sub = base[truth_ids]
    d = ((sub[:, None, :] - qs[None, :, :]) ** 2).sum(axis=2)
    truth = {
        qi: [truth_ids[j] for j in np.argsort(d[:, qi], kind="stable")[:k]]
        for qi in range(nq)
    }

    for strategy in ("broadcast", "bfs"):
        res = idx.search(qdf, k=k, ef=64, strategy=strategy, filter_expr=flt)
        got = {}
        for r in res.collect():
            assert r["neighbor_id"] % 3 != 0, f"{strategy} leaked a blocked node"
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
        if strategy == "broadcast":
            assert not hasattr(idx._bc_graph, "_value")
        hits = sum(
            len(set(n for n, _ in pairs) & set(truth[qi]))
            for qi, pairs in got.items()
        )
        assert hits / (nq * k) >= 0.6, strategy


def test_hnsw_quant_filtered_search(spark):
    from knowhere_spark.config import HnswSqConfig
    from knowhere_spark.operators.hnsw_quant import QuantizedHNSWIndex

    nb, dim, nq, k = 600, 16, 6, 5
    base = gen_dense(nb, dim, seed=93)
    qs = gen_dense(nq, dim, seed=94)
    idx = QuantizedHNSWIndex.build(
        dense_df(spark, base),
        HnswSqConfig(metric_type="L2", M=12, ef=24, sq_type="SQ8",
                     refine=True, refine_k=2.0),
    )
    res = idx.search(
        dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=32,
        filter_expr=F.col("id") >= 100,
    )
    rows = res.collect()
    assert len(rows) > 0
    assert all(r["neighbor_id"] >= 100 for r in rows)
    # the filter mask came from the ids kept on the index, not bc.value
    assert idx.last_metrics["strategy"] == "broadcast"
    assert not hasattr(idx._bc_codes, "_value")


def test_hnsw_range_search(spark):
    """RangeSearch via beam + half-open bounds: every returned pair
    satisfies range_filter <= d < radius, and high-recall vs the exact
    in-range set within the beam's ef breadth."""
    from knowhere_spark.config import BaseConfig

    nb, dim, nq = 800, 16, 8
    base = gen_dense(nb, dim, seed=97)
    qs = gen_dense(nq, dim, seed=98)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=16, ef=32)
    )
    d = ((base[:, None, :] - qs[None, :, :]) ** 2).sum(axis=2)
    radius = float(np.quantile(d, 0.02))     # ~16 in-range pairs per query
    cfg = BaseConfig(metric_type="L2", radius=radius, range_filter=0.0)

    rows = idx.range_search(
        dense_df(spark, qs, QUERY_SCHEMA), cfg, ef=128
    ).collect()
    assert len(rows) > 0
    found = {}
    for r in rows:
        exact = float(d[r["neighbor_id"], r["query_id"]])
        assert 0.0 <= r["distance"] < radius
        assert abs(r["distance"] - exact) <= 1e-4 * max(1.0, exact)
        found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    truth = {
        qi: set(np.nonzero(d[:, qi] < radius)[0].tolist()) for qi in range(nq)
    }
    n_truth = sum(len(s) for s in truth.values())
    n_hit = sum(len(found.get(qi, set()) & s) for qi, s in truth.items())
    assert n_truth > 0 and n_hit / n_truth >= 0.6


def test_bfs_live_frame_count_is_hop_independent(spark):
    """VERDICT r3 #5: the BFS fallback used to hold one checkpointed frame
    per hop; the decaying compaction schedule must bound live frames by
    the window cap regardless of hop count (and keep recall)."""
    nb, dim, nq, k = 600, 16, 5, 10
    base = gen_dense(nb, dim, seed=71)
    qs = gen_dense(nq, dim, seed=72)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=12, ef=24)
    )
    res = idx.search(
        dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=24, max_hops=12, strategy="bfs"
    )
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    assert recall_at_k(got, np_knn(base, qs, k, "L2"), k) >= 0.6
    # 12 hops: compactions after hops 1, 3, 7 (doubling window) -> at most the compacted
    # frame + the last (capped) window of per-hop parts stays live
    assert idx._last_bfs_frame_count <= 9


def test_factory_routes_overbound_hnsw_to_sharded(spark, monkeypatch):
    """build_index('HNSW') on a graph whose artifact exceeds the broadcast
    bound must return the sharded index (broadcast beam per shard), making
    the BFS table path opt-in."""
    import knowhere_spark.factory as factory
    from knowhere_spark.factory import build_index
    from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex

    base = gen_dense(400, 16, seed=73)
    # shrink the bound so this small corpus counts as over-bound
    monkeypatch.setattr(
        "knowhere_spark.operators.hnsw._BROADCAST_MAX_BYTES", 10_000
    )
    idx = build_index(
        dense_df(spark, base), "HNSW", {"metric_type": "L2", "M": 8, "ef": 16}
    )
    assert isinstance(idx, ShardedHNSWIndex)
    out = idx.search(
        dense_df(spark, gen_dense(3, 16, seed=74), QUERY_SCHEMA), k=5
    )
    assert out.count() == 15


def test_hnsw_get_index_meta(spark):
    """GetIndexMeta (hnsw.h:441-467): adjacency view with degrees <= M,
    entry points flagged, every vector present; stats carry the HNSWMeta
    scalars (feder/HNSW.h:106-163)."""
    base = gen_dense(300, 16, seed=7)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16)
    )
    meta = idx.get_index_meta().collect()
    assert len(meta) == 300
    by_id = {r["id"]: r for r in meta}
    entries = {r["id"] for r in meta if r["is_entry"]}
    assert entries == set(idx.entry_ids) and entries
    for r in meta:
        assert r["degree"] == len(r["neighbors"]) <= idx.config.M
        assert list(r["neighbors"]) == sorted(r["neighbors"])
    capped = idx.get_index_meta(max_nodes=10).collect()
    assert [r["id"] for r in capped] == sorted(by_id)[:10]
    stats = idx.get_index_meta_stats()
    assert stats["num_elem"] == 300 and stats["M"] == 8
    assert stats["entry_point_ids"] == [int(i) for i in idx.entry_ids]
    assert stats["num_levels"] == 1


def test_hnsw_search_with_trace(spark):
    """trace_visit contract (config.h:679-683, hnsw.h:212-217): nq must be
    1; visits record every scored edge, so every non-entry result id must
    appear as a visited id_to, and traced distances are exact."""
    base = gen_dense(400, 16, seed=11)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16)
    )
    queries = dense_df(spark, gen_dense(1, 16, seed=12), QUERY_SCHEMA)
    res, visits = idx.search_with_trace(queries, k=5, ef=32)
    rows = res.collect()
    vrows = visits.collect()
    assert len(rows) == 5 and len(vrows) > 0
    visited_to = {r["id_to"] for r in vrows}
    entry = set(idx.entry_ids)
    assert all(r["neighbor_id"] in visited_to | entry for r in rows)
    assert all(r["level"] == 0 for r in vrows)
    # traced distance is the exact L2^2 between the query and id_to
    # (fp32 kernel vs fp64 oracle → relative tolerance)
    q = gen_dense(1, 16, seed=12)[0].astype("float64")
    for r in vrows[:10]:
        want = float(((base[r["id_to"]].astype("float64") - q) ** 2).sum())
        assert abs(r["distance"] - want) <= 1e-5 * max(want, 1.0)
    # the batch contract is enforced
    two = dense_df(spark, gen_dense(2, 16, seed=13), QUERY_SCHEMA)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="nq == 1"):
        idx.search_with_trace(two, k=5)


def test_hnsw_trace_cosine_direction(spark):
    """trace_visit under a similarity metric: traced distances are true
    cosine similarities (un-negated), consistent with the result rows."""
    base = gen_dense(200, 16, seed=21)
    idx = HNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="COSINE", M=8, ef=16)
    )
    q = dense_df(spark, gen_dense(1, 16, seed=22), QUERY_SCHEMA)
    res, visits = idx.search_with_trace(q, k=5, ef=24)
    rrows, vrows = res.collect(), visits.collect()
    assert len(rrows) == 5 and vrows
    # similarity values live in [-1, 1] on both frames, and the top result
    # has the LARGEST similarity among its own visit records
    assert all(-1.001 <= r["distance"] <= 1.001 for r in vrows)
    best = max(r["distance"] for r in rrows)
    assert best >= max(r["distance"] for r in vrows) - 1e-6


def test_reverse_drop_preserves_aggregated_edges():
    """r12: dropping dominated reverse copies in-kernel must leave the
    downstream groupBy(src,dst).agg(min(dist), min(sel_rank)) result
    bit-identical — fuzzed over random selections incl. asymmetric
    distance values and full-mutual cliques."""
    import numpy as np

    from knowhere_spark.operators.hnsw import (
        _REV_RANK,
        _undominated_reverse_mask,
    )

    rng = np.random.default_rng(13)

    def agg(edges):
        out = {}
        for s, t, dist, rank in edges:
            k = (s, t)
            if k in out:
                out[k] = (min(out[k][0], dist), min(out[k][1], rank))
            else:
                out[k] = (dist, rank)
        return out

    for trial in range(60):
        n = int(rng.integers(3, 60))
        kk = int(rng.integers(1, min(8, n - 1) + 1))
        # random selection: per node, kk distinct neighbors
        src, dst, rank = [], [], []
        for i in range(n):
            nbrs = rng.choice([j for j in range(n) if j != i], kk, replace=False)
            src += [i] * kk
            dst += list(nbrs)
            rank += list(range(kk))
        src = np.array(src, dtype=np.int64)
        dst = np.array(dst, dtype=np.int64)
        rank = np.array(rank, dtype=np.int64)
        if trial % 3 == 0:
            # symmetric distances (the real kernel's case)
            dm = rng.random((n, n))
            dm = dm + dm.T
            dd = dm[src, dst]
        elif trial % 3 == 1:
            # adversarial: fully asymmetric distance values
            dd = rng.random(len(src))
        else:
            # heavy ties
            dd = rng.integers(0, 3, size=len(src)).astype(np.float64)
        full = (
            [(s, t, d_, r_) for s, t, d_, r_ in zip(src, dst, dd, rank)]
            + [(t, s, d_, _REV_RANK) for s, t, d_ in zip(src, dst, dd)]
        )
        keep = _undominated_reverse_mask(src, dst, dd)
        dropped = (
            [(s, t, d_, r_) for s, t, d_, r_ in zip(src, dst, dd, rank)]
            + [
                (t, s, d_, _REV_RANK)
                for s, t, d_, k_ in zip(src, dst, dd, keep)
                if k_
            ]
        )
        assert agg(full) == agg(dropped), trial


def _jobs_for(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_first_auto_search_builds_graph_once(spark):
    """build() records the artifact estimate (edge count bounded by n·M),
    so the first ``auto`` search of a fresh build runs the lazy edge
    chain once — the same jobs as the first ``broadcast`` search — and
    picks broadcast."""
    base = gen_dense(600, 16, seed=41)
    qs = dense_df(spark, gen_dense(5, 16, seed=42), QUERY_SCHEMA)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    jobs = {}
    rows = {}
    for strategy in ("broadcast", "auto"):
        idx = HNSWIndex.build(dense_df(spark, base), cfg)
        out, jobs[strategy] = _jobs_for(
            spark, f"first_{strategy}",
            lambda: idx.search(qs, k=5, strategy=strategy).collect(),
        )
        rows[strategy] = sorted(tuple(r) for r in out)
        assert idx.last_metrics["strategy"] == "broadcast"
        idx.release()
    assert jobs["auto"] == jobs["broadcast"], jobs
    assert rows["auto"] == rows["broadcast"]


def test_grown_index_first_auto_search_sizes_from_parent(spark):
    """An ``add()``-grown index bounds its graph size from the parent's
    recorded size plus a count of the added batch, so its first ``auto``
    search runs at most one job more than a first ``broadcast`` search
    (that count) instead of counting, then re-running, the grown edge
    chain — and picks broadcast with the same rows."""
    from conftest import DENSE_SCHEMA

    base = gen_dense(2000, 16, seed=47)
    extra = gen_dense(200, 16, seed=48)
    extra_df = spark.createDataFrame(
        [(2000 + i, [float(x) for x in row]) for i, row in enumerate(extra)],
        DENSE_SCHEMA,
    )
    qs = dense_df(spark, gen_dense(5, 16, seed=49), QUERY_SCHEMA)
    parent = HNSWIndex.build(dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16))
    jobs, rows = {}, {}
    for strategy in ("broadcast", "auto"):
        idx = parent.add(extra_df)          # a fresh grown index each time
        out, jobs[strategy] = _jobs_for(
            spark, f"grown_{strategy}",
            lambda: idx.search(qs, k=5, strategy=strategy).collect(),
        )
        rows[strategy] = sorted(tuple(r) for r in out)
        assert idx.last_metrics["strategy"] == "broadcast"
        n, _, n_edges = idx._graph_size()
        assert n == 2200 and n_edges >= idx.edges.count()
        idx.release()
    assert jobs["auto"] <= jobs["broadcast"] + 1, jobs
    assert rows["auto"] == rows["broadcast"]


def _driver_beam(payload, scorer_factory, qs, k, ef, is_sim, allowed=None):
    """Driver-side loop over ``_beam_traverse`` on a collected payload —
    the reference the Spark beam kernel must reproduce row for row."""
    from knowhere_spark.operators.hnsw import _beam_traverse

    ids, indptr, indices, entries, extra = payload
    stamp = np.zeros(len(ids), dtype=np.int64)
    out = []
    for qno, q in enumerate(qs, start=1):
        res = _beam_traverse(
            scorer_factory(extra, q), entries, ef, indptr, indices, stamp, qno,
            allowed,
        )
        top = sorted((-nk, p) for nk, p in res)[:k]
        for rank, (s, p) in enumerate(top, start=1):
            out.append((qno - 1, int(ids[p]), -s if is_sim else s, rank))
    return sorted(out)


@pytest.mark.parametrize("case", ["L2", "COSINE", "L2-filter", "HNSW_SQ"])
def test_broadcast_kernel_matches_driver_beam(spark, case):
    """The Spark beam kernel returns exactly the rows of a driver-side
    ``_beam_traverse`` loop over the same broadcast payload — dense
    (both metric directions, with a result filter) and SQ8 codes."""
    from knowhere_spark.config import HnswSqConfig
    from knowhere_spark.operators.hnsw import _dense_scorer
    from knowhere_spark.operators.hnsw_quant import (
        QuantizedHNSWIndex,
        _quant_scorer,
    )

    base = gen_dense(500, 16, seed=43)
    qs = gen_dense(12, 16, seed=44)
    qdf = dense_df(spark, qs, QUERY_SCHEMA)
    k, ef = 7, 24
    metric = "COSINE" if case == "COSINE" else "L2"
    flt = F.col("id") % 4 != 1 if case == "L2-filter" else None
    if case == "HNSW_SQ":
        idx = QuantizedHNSWIndex.build(
            dense_df(spark, base),
            HnswSqConfig(metric_type="L2", M=8, ef=16, sq_type="SQ8"),
        )
        got = idx.search(qdf, k=k, ef=ef, strategy="broadcast")
        payload, scorer = idx._codes_bc().value, _quant_scorer
    else:
        idx = HNSWIndex.build(
            dense_df(spark, base), HnswConfig(metric_type=metric, M=8, ef=16)
        )
        got = idx.search(qdf, k=k, ef=ef, strategy="broadcast", filter_expr=flt)
        payload, scorer = idx._graph_bc().value, _dense_scorer
    allowed = None
    if flt is not None:
        allowed = idx._filter_mask_bc(flt, payload[0]).value
        assert not allowed.all()
    want = _driver_beam(payload, scorer, qs, k, ef, metric == "COSINE", allowed)
    assert sorted(tuple(r) for r in got.collect()) == want
    assert len(want) == len(qs) * k
    idx.release()
