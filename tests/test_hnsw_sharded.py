"""Sharded HNSW — the segment architecture: per-shard graphs searched
sequentially with bounded executor memory, merged top-k."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from knowhere_spark.config import HnswConfig
from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex

from conftest import QUERY_SCHEMA, dense_df, gen_dense, np_knn, recall_at_k


def _got(res):
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["distance"]))
    return got


def test_sharded_hnsw_recall_and_merge(spark):
    nb, dim, nq, k = 1200, 32, 15, 10
    base = gen_dense(nb, dim, seed=71)
    qs = gen_dense(nq, dim, seed=72)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base),
        HnswConfig(metric_type="L2", M=16, ef=32),
        n_shards=3,
    )
    assert idx.count() == nb
    # every row landed in exactly one shard
    assert sum(s.count() for s in idx.shards) == nb

    res = idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=k, ef=48)
    got = _got(res)
    truth = np_knn(base, qs, k, "L2")
    # per-shard beams are exact over smaller candidate spaces — merged
    # recall should beat the single-graph floor comfortably
    assert recall_at_k(got, truth, k) >= 0.8
    # merged result is exactly k per query, distances ascending (L2)
    for pairs in got.values():
        assert len(pairs) == k
        ds = [d for _, d in pairs]
        assert ds == sorted(ds)


def test_sharded_hnsw_save_load(spark, tmp_path):
    nb, dim, nq, k = 600, 16, 6, 5
    base = gen_dense(nb, dim, seed=73)
    qs = gen_dense(nq, dim, seed=74)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base),
        HnswConfig(metric_type="L2", M=12, ef=24),
        n_shards=2,
    )
    path = str(tmp_path / "sharded")
    idx.save(path)
    loaded = ShardedHNSWIndex.load(spark, path)
    assert len(loaded.shards) == 2
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    a = sorted(
        (r["query_id"], r["neighbor_id"]) for r in idx.search(q_df, k=k).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"]) for r in loaded.search(q_df, k=k).collect()
    )
    assert a == b


def test_sharded_hnsw_add(spark):
    """Added rows route to their hash shard, become searchable, and
    untouched shards keep their graphs."""
    nb, dim, k = 500, 16, 5
    base = gen_dense(nb, dim, seed=75)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base),
        HnswConfig(metric_type="L2", M=12, ef=24),
        n_shards=2,
    )
    extra = gen_dense(40, dim, seed=76)
    extra_df = spark.createDataFrame(
        [(nb + i, [float(x) for x in row]) for i, row in enumerate(extra)],
        "id long, vec array<float>",
    )
    grown = idx.add(extra_df)
    assert grown.count() == nb + 40
    # an added row should be its own nearest neighbor
    q_df = spark.createDataFrame(
        [(0, [float(x) for x in extra[7]])], "query_id long, vec array<float>"
    )
    top = grown.search(q_df, k=k, ef=48).collect()
    assert any(r["neighbor_id"] == nb + 7 for r in top)


def test_sharded_hnsw_empty_shard(spark):
    """Regression: a hash shard with zero rows must not crash build/search;
    results equal brute force over the tiny corpus."""
    from knowhere_spark.config import HnswConfig
    from knowhere_spark.operators.brute_force import BruteForce
    from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex

    # 3 ids over 8 shards: most shards are empty by construction
    df = dense_df(spark, gen_dense(3, 16, seed=7))
    idx = ShardedHNSWIndex.build(df, HnswConfig(metric_type="L2", M=4, ef=8, k=2), n_shards=8)
    assert sum(s is None for s in idx.shards) >= 5
    q = df.select(F.col("id").alias("query_id"), "vec").limit(2)
    got = idx.search(q, k=2)
    exact = BruteForce.search(df, q, 2, "L2")
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert g == e


def test_sharded_hnsw_all_shards_empty_keeps_shared_schema(spark):
    """Regression: searching a wholly-empty sharded index must return an
    empty 4-column result WITHOUT mutating the shared brute-force
    RESULT_SCHEMA (StructType.add appends in place — a leaked 'rank'
    field broke every later kernel bound to that schema)."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA, BruteForce

    before = [f.name for f in RESULT_SCHEMA.fields]
    idx = ShardedHNSWIndex.build(
        dense_df(spark, gen_dense(3, 16, seed=7)).limit(0),
        HnswConfig(metric_type="L2", M=4, ef=8, k=2),
        n_shards=2,
    )
    assert all(s is None for s in idx.shards)
    q = dense_df(spark, gen_dense(2, 16, seed=8), QUERY_SCHEMA)
    res = idx.search(q, k=2)
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == [
        "query_id", "neighbor_id", "distance", "rank"
    ]
    # the module-level schema is untouched...
    assert [f.name for f in RESULT_SCHEMA.fields] == before == [
        "query_id", "neighbor_id", "distance"
    ]
    # ...and a kernel bound to it still works after the empty search
    base = dense_df(spark, gen_dense(50, 16, seed=9))
    out = BruteForce.search_distributed(base, q, 3, "L2", n_blocks=2)
    assert out.count() == 6


def _jobs_for(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sharded_build_job_count_constant_in_shards(spark):
    """The r5 verdict's top finding: build must be ONE all-shards
    pipeline, not a per-shard ``HNSWIndex.build`` loop.  Job count at 9
    shards must equal job count at 3 shards (constant, not linear)."""
    base = gen_dense(900, 16, seed=77)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    _, jobs3 = _jobs_for(
        spark, "shb3",
        lambda: ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=3),
    )
    idx9, jobs9 = _jobs_for(
        spark, "shb9",
        lambda: ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=9),
    )
    assert jobs9 == jobs3, f"build jobs grew with shard count: {jobs3} -> {jobs9}"
    # and the 9-shard index still answers correctly
    qs = gen_dense(5, 16, seed=78)
    res = idx9.search(dense_df(spark, qs, QUERY_SCHEMA), k=5, ef=32)
    got = _got(res)
    truth = np_knn(base, qs, 5, "L2")
    assert recall_at_k(got, truth, 5) >= 0.7


def test_sharded_search_waves_match_sequential(spark):
    """Waved concurrent search (budget covering several shards) must
    hash-match the degenerate one-shard-per-wave sequential path."""
    nb, dim, nq, k = 800, 16, 8, 6
    base = gen_dense(nb, dim, seed=79)
    qs = gen_dense(nq, dim, seed=80)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=10, ef=24), n_shards=4
    )
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    waved = idx.search(q_df, k=k, ef=32, wave_memory_bytes=None)   # default budget
    seq = idx.search(q_df, k=k, ef=32, wave_memory_bytes=1)        # 1 shard/wave
    a = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in waved.collect())
    b = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in seq.collect())
    assert a == b
    # wave partitioning actually batches under the default budget
    assert len(idx._waves(None)) < len(idx._waves(1))


def test_sharded_range_search_waves_match_sequential(spark):
    """The waved range path: same rows as the one-shard-per-wave
    degenerate case, and the post-union range_search_k cap holds."""
    import dataclasses

    nb, dim, nq = 600, 16, 6
    base = gen_dense(nb, dim, seed=81)
    qs = gen_dense(nq, dim, seed=82)
    cfg = HnswConfig(metric_type="L2", M=10, ef=24, radius=13000.0,
                     range_search_k=7)
    idx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=3)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    waved = idx.range_search(q_df, cfg, ef=32)
    seq = idx.range_search(q_df, cfg, ef=32, wave_memory_bytes=1)
    a = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in waved.collect())
    b = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in seq.collect())
    assert a == b and len(a) > 0
    per_q = {}
    for qid, _, _ in a:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert max(per_q.values()) <= 7          # global cap, not per-shard


# --- r7: semantic sharding + shard routing (the 10^5-shard serving shape)

def _blobs(n_per, dim, n_blobs=3, seed=90, spread=4.0, gap=300.0):
    rng = np.random.default_rng(seed)
    rows = []
    for b in range(n_blobs):
        c = np.zeros(dim)
        c[0] = b * gap
        rows.append(c + rng.normal(0, spread, (n_per, dim)))
    return np.vstack(rows).astype(np.float32)


def test_semantic_shards_align_and_route(spark):
    """Cluster-sharded build: blobs land in distinct shards; probe_shards=1
    recall stays high (near neighbors co-locate), and routing touches
    only the routed shard subset (untouched shards keep no broadcast)."""
    from conftest import np_knn

    nb_per, dim, k = 250, 16, 10
    base = _blobs(nb_per, dim)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base),
        HnswConfig(metric_type="L2", M=16, ef=32),
        n_shards=3, shard_by="semantic",
    )
    assert idx.router is not None and idx.router.shape == (3, dim)
    # each blob's rows are (almost) wholly in one shard: shard sizes ~ n_per
    sizes = sorted(s.count() for s in idx.shards if s is not None)
    assert len(sizes) == 3 and min(sizes) >= nb_per * 0.9

    # queries drawn from blob 1's region
    rng = np.random.default_rng(91)
    qs = (np.array([[300.0] + [0.0] * (dim - 1)]) +
          rng.normal(0, 4.0, (8, dim))).astype(np.float32)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    routed = idx.search(q_df, k=k, ef=48, probe_shards=1)
    got = _got(routed)
    truth = np_knn(base, qs, k, "L2")
    assert recall_at_k(got, truth, k) >= 0.9
    # only blob 1's shard was beamed: the other shards' graphs were never
    # broadcast during the routed search (single-wave searches RETAIN the
    # broadcasts they did make — serving amortization within the budget)
    touched = [i for i, s in enumerate(idx.shards)
               if s is not None and getattr(s, "_bc_graph", None) is not None]
    assert len(touched) <= 1   # at most the one routed shard is resident
    # full-search equality: probing every shard must match the unrouted
    # path exactly
    full = idx.search(q_df, k=k, ef=48)
    routed_all = idx.search(q_df, k=k, ef=48, probe_shards=3)
    a = sorted((r["query_id"], r["neighbor_id"]) for r in full.collect())
    b = sorted((r["query_id"], r["neighbor_id"]) for r in routed_all.collect())
    assert a == b


def test_probe_shards_requires_semantic(spark):
    idx = ShardedHNSWIndex.build(
        dense_df(spark, gen_dense(100, 8, seed=92)),
        HnswConfig(metric_type="L2", M=4, ef=8, k=2), n_shards=2,
    )
    try:
        idx.search(dense_df(spark, gen_dense(2, 8, seed=93), QUERY_SCHEMA),
                   k=2, probe_shards=1)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "semantic" in str(e)


def test_semantic_save_load_and_add(spark, tmp_path):
    """Router survives the roundtrip (routed search equal before/after);
    added rows route to their nearest shard, not by id hash."""
    nb_per, dim, k = 150, 8, 5
    base = _blobs(nb_per, dim, n_blobs=2, seed=94)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=2, shard_by="semantic",
    )
    path = str(tmp_path / "sem")
    idx.save(path)
    loaded = ShardedHNSWIndex.load(spark, path)
    assert loaded.router is not None
    np.testing.assert_allclose(loaded.router, idx.router)
    rng = np.random.default_rng(95)
    qs = (np.array([[300.0] + [0.0] * (dim - 1)]) +
          rng.normal(0, 4.0, (4, dim))).astype(np.float32)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    a = sorted((r["query_id"], r["neighbor_id"])
               for r in idx.search(q_df, k=k, probe_shards=1).collect())
    b = sorted((r["query_id"], r["neighbor_id"])
               for r in loaded.search(q_df, k=k, probe_shards=1).collect())
    assert a == b
    # a new row near blob 1 must land in blob 1's shard (router routing)
    blob1_shard = int(np.argmin(((idx.router - np.array([300.0] + [0.0] * (dim - 1))) ** 2).sum(1)))
    before = idx.shards[blob1_shard].count()
    extra = spark.createDataFrame(
        [(10_000, [301.0] + [0.0] * (dim - 1))], "id long, vec array<float>"
    )
    grown = idx.add(extra)
    assert grown.shards[blob1_shard].count() == before + 1


def test_semantic_overcap_cluster_splits(spark):
    """Cluster skew must not break the per-shard broadcast bound: a
    planted mega-cluster hash-splits into sub-shards, routing to its
    cluster searches every sub-shard (recall intact), and every shard's
    estimated artifact respects the byte target."""
    dim = 8
    rng = np.random.default_rng(96)
    # blob 0: 900 rows (mega), blob 1: 100 rows — tiny byte target forces
    # the mega-cluster to split
    mega = rng.normal(0, 3.0, (900, dim))
    small = np.array([300.0] + [0.0] * (dim - 1)) + rng.normal(0, 3.0, (100, dim))
    base = np.vstack([mega, small]).astype(np.float32)
    per_row = dim * 4 + (8 + 1) * 4 + 16
    target = 400 * per_row          # ~400 rows per shard max
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base),
        HnswConfig(metric_type="L2", M=8, ef=16, k=5),
        n_shards=2, shard_by="semantic", target_shard_bytes=target,
    )
    assert idx.cluster_shards is not None
    split_sizes = [len(lst) for lst in idx.cluster_shards]
    assert max(split_sizes) >= 3            # 900 rows / 400 cap
    assert len(idx.shards) == sum(split_sizes)
    for i, s in enumerate(idx.shards):
        if s is not None:
            assert idx.shard_bytes[i] <= target * 1.05
    # routing to the mega cluster still finds its neighbors exactly as
    # the unrouted search does
    from conftest import np_knn

    qs = (rng.normal(0, 3.0, (6, dim))).astype(np.float32)   # mega region
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    routed = idx.search(q_df, k=5, ef=24, probe_shards=1)
    full = idx.search(q_df, k=5, ef=24)
    a = sorted((r["query_id"], r["neighbor_id"]) for r in routed.collect())
    b = sorted((r["query_id"], r["neighbor_id"]) for r in full.collect())
    # mega-region queries: their true neighbors live in the mega cluster,
    # so probing it alone reproduces the full search
    assert a == b
    # and save/load keeps the two-level mapping
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        idx.save(td + "/two_level")
        loaded = ShardedHNSWIndex.load(spark, td + "/two_level")
        assert loaded.cluster_shards == idx.cluster_shards
        c = sorted((r["query_id"], r["neighbor_id"])
                   for r in loaded.search(q_df, k=5, ef=24, probe_shards=1).collect())
        assert c == a


def test_semantic_routed_range_search(spark):
    """Routed range search equals the full sweep for queries whose range
    ball lives inside their home cluster (blob gap >> radius)."""
    dim = 8
    base = _blobs(200, dim, n_blobs=2, seed=97)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16, k=5, radius=400.0)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), cfg, n_shards=2, shard_by="semantic"
    )
    rng = np.random.default_rng(98)
    qs = (np.array([[300.0] + [0.0] * (dim - 1)]) +
          rng.normal(0, 3.0, (5, dim))).astype(np.float32)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    routed = idx.range_search(q_df, cfg, ef=48, probe_shards=1)
    full = idx.range_search(q_df, cfg, ef=48)
    a = sorted((r["query_id"], r["neighbor_id"]) for r in routed.collect())
    b = sorted((r["query_id"], r["neighbor_id"]) for r in full.collect())
    assert a == b and len(a) > 0
    # hash index still rejects
    hidx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=2)
    try:
        hidx.range_search(q_df, cfg, probe_shards=1)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "semantic" in str(e)


# --- r8: partition-pruned shard frames, single-job save, tree-union merge,
# release(), MLlib router cutover (VERDICT r7 #1/#6/#7 + ADVICE items)

def _partition_pruned(df) -> bool:
    """True when the frame's parquet scan carries a __shard partition
    filter — the plan-level proof that a per-shard collect reads only its
    own directory (partition pruning happens at scan planning, so the
    filter's presence in PartitionFilters IS the pruning)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            head = line.split("PushedFilters")[0]
            if "__shard" in head.split("PartitionFilters", 1)[1]:
                return True
    return False


def test_shard_frames_partition_pruned_in_session_and_loaded(spark, tmp_path):
    """VERDICT r7 #1: in-session per-shard vector/edge frames must be
    partition-pruned parquet filters (the r7 layout full-scanned one
    checkpoint per shard touched), and the loaded index must keep the
    property."""
    base = gen_dense(600, 16, seed=83)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=4,
    )
    live = [s for s in idx.shards if s is not None]
    assert live, "expected live shards"
    for s in live:
        assert _partition_pruned(s.vectors), "in-session vectors not pruned"
        assert _partition_pruned(s.edges), "in-session edges not pruned"
    # a single shard's rows are a strict subset — the filter actually cuts
    assert live[0].vectors.count() < 600

    path = str(tmp_path / "pruned")
    idx.save(path)
    loaded = ShardedHNSWIndex.load(spark, path)
    for s in loaded.shards:
        if s is not None:
            assert _partition_pruned(s.vectors), "loaded vectors not pruned"
            assert _partition_pruned(s.edges), "loaded edges not pruned"
    # and the loaded index answers identically
    qs = gen_dense(4, 16, seed=84)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    a = sorted((r["query_id"], r["neighbor_id"])
               for r in idx.search(q_df, k=5).collect())
    b = sorted((r["query_id"], r["neighbor_id"])
               for r in loaded.search(q_df, k=5).collect())
    assert a == b


def test_sharded_save_job_count_constant_in_shards(spark, tmp_path):
    """VERDICT r7 #1 (save half): persisting must be two partitionBy
    writes + manifest — job count at 8 shards equals job count at 2."""
    base = gen_dense(500, 16, seed=85)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    idx2 = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=2)
    idx8 = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=8)
    _, jobs2 = _jobs_for(spark, "shs2", lambda: idx2.save(str(tmp_path / "s2")))
    _, jobs8 = _jobs_for(spark, "shs8", lambda: idx8.save(str(tmp_path / "s8")))
    assert jobs8 == jobs2, f"save jobs grew with shard count: {jobs2} -> {jobs8}"


def test_legacy_per_shard_layout_still_loads(spark, tmp_path):
    """Back-compat: pre-r8 saves (per-shard subdirectories, no 'layout'
    manifest key) load through the legacy branch and answer identically."""
    import json
    import os

    base = gen_dense(400, 16, seed=86)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=2,
    )
    legacy = str(tmp_path / "legacy")
    os.makedirs(legacy, exist_ok=True)
    with open(f"{legacy}/manifest.json", "w") as f:
        json.dump(
            {
                "index_version": 1,
                "index_type": "SHARDED_HNSW",
                "metric_type": "L2",
                "M": 8,
                "ef": 16,
                "n_shards": 2,
                "empty_shards": [
                    i for i, s in enumerate(idx.shards) if s is None
                ],
                "shard_bytes": [int(b) if b else 0 for b in idx.shard_bytes],
                "shard_by": "hash",
                "router": None,
                "cluster_shards": None,
            },
            f,
        )
    for i, s in enumerate(idx.shards):
        if s is not None:
            s.save(f"{legacy}/shard={i}")
    loaded = ShardedHNSWIndex.load(spark, legacy)
    qs = gen_dense(3, 16, seed=87)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    a = sorted((r["query_id"], r["neighbor_id"])
               for r in idx.search(q_df, k=5).collect())
    b = sorted((r["query_id"], r["neighbor_id"])
               for r in loaded.search(q_df, k=5).collect())
    assert a == b


def test_multiwave_search_matches_sequential(spark):
    """VERDICT r7 #7: exercise the wave-boundary release logic under
    MULTIPLE waves (>=4) — the budget forces eviction between waves, and
    results must equal the one-shard-per-wave degenerate path."""
    nb, dim, nq, k = 1600, 16, 6, 5
    base = gen_dense(nb, dim, seed=88)
    qs = gen_dense(nq, dim, seed=89)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=8,
    )
    # budget of 2 shards/wave -> >= 4 waves over 8 shards
    budget = 2 * max(b for b in idx.shard_bytes if b)
    waves = idx._waves(budget)
    assert len(waves) >= 4
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    multi = idx.search(q_df, k=k, ef=24, wave_memory_bytes=budget)
    seq = idx.search(q_df, k=k, ef=24, wave_memory_bytes=1)
    a = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in multi.collect())
    b = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in seq.collect())
    assert a == b
    # multi-wave path released every broadcast (eviction between waves)
    assert all(
        getattr(s, "_bc_graph", None) is None
        for s in idx.shards if s is not None
    )


def test_64_shard_tree_union_plan_bounded(spark):
    """VERDICT r7 #6: 64-shard search/get_vector_by_ids go through the
    O(log n)-depth tree union — build, search, and fetch at 64 shards
    complete with results equal to brute force."""
    from knowhere_spark.operators.brute_force import BruteForce

    nb, dim, k = 2000, 8, 3
    base = gen_dense(nb, dim, seed=90)
    df = dense_df(spark, base)
    idx = ShardedHNSWIndex.build(
        df, HnswConfig(metric_type="L2", M=64, ef=64), n_shards=64
    )
    assert len(idx.shards) == 64
    qs = gen_dense(4, dim, seed=91)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    # M/ef >= max per-shard population (hash skew tops out well under 64
    # at 2000/64 rows) -> every per-shard beam is exhaustive: the merged
    # result must EQUAL brute force, not approximate it
    assert max(s.count() for s in idx.shards if s is not None) <= 64
    got = sorted((r["query_id"], r["neighbor_id"])
                 for r in idx.search(q_df, k=k, ef=64).collect())
    exact = sorted((r["query_id"], r["neighbor_id"])
                   for r in BruteForce.search(df, q_df, k, "L2").collect())
    assert got == exact
    ids = spark.createDataFrame([(i * 37,) for i in range(50)], "id long")
    fetched = idx.get_vector_by_ids(ids)
    assert fetched.count() == 50


def test_sharded_release_drops_broadcasts(spark):
    """ADVICE r7: a single-wave search retains every searched shard's
    graph broadcast (serving amortization) — release() must drop them
    all, and a later search must still work (re-broadcast)."""
    base = gen_dense(600, 16, seed=92)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=3,
    )
    qs = gen_dense(3, 16, seed=93)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    first = idx.search(q_df, k=5).collect()
    retained = [s for s in idx.shards
                if s is not None and getattr(s, "_bc_graph", None) is not None]
    assert retained, "single-wave search should memoize broadcasts"
    idx.release()
    assert all(getattr(s, "_bc_graph", None) is None
               for s in idx.shards if s is not None)
    again = idx.search(q_df, k=5).collect()
    assert sorted((r["query_id"], r["neighbor_id"]) for r in first) == \
        sorted((r["query_id"], r["neighbor_id"]) for r in again)


def test_semantic_router_mllib_cutover(spark, monkeypatch):
    """ADVICE r7 (medium): when the router train sample exceeds the
    driver budget, training must cut over to the distributed MLlib fit —
    same cutover the IVF family uses.  Routed search quality holds."""
    from knowhere_spark.operators.ivf import IVFFlatIndex

    # force the cutover at test scale
    monkeypatch.setattr(IVFFlatIndex, "_DRIVER_TRAIN_MAX_ELEMS", 64)
    base = _blobs(200, 8, n_blobs=2, seed=99)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16),
        n_shards=2, shard_by="semantic",
    )
    assert idx.router is not None and idx.router.shape == (2, 8)
    # blobs still separate cleanly under the MLlib-trained router
    sizes = sorted(s.count() for s in idx.shards if s is not None)
    assert len(sizes) == 2 and min(sizes) >= 180
    rng = np.random.default_rng(100)
    qs = (np.array([[300.0] + [0.0] * 7]) +
          rng.normal(0, 3.0, (4, 8))).astype(np.float32)
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    routed = idx.search(q_df, k=5, probe_shards=1)
    full = idx.search(q_df, k=5)
    a = sorted((r["query_id"], r["neighbor_id"]) for r in routed.collect())
    b = sorted((r["query_id"], r["neighbor_id"]) for r in full.collect())
    assert a == b


def test_multiwave_range_search_matches_sequential(spark):
    """VERDICT r7 #7 (range half): the waved range path under >=4 waves
    equals the one-shard-per-wave degenerate case, including the
    post-union range_search_k cap."""
    nb, dim, nq = 1600, 16, 5
    base = gen_dense(nb, dim, seed=101)
    qs = gen_dense(nq, dim, seed=102)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16, radius=13000.0,
                     range_search_k=9)
    idx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=8)
    budget = 2 * max(b for b in idx.shard_bytes if b)
    assert len(idx._waves(budget)) >= 4
    q_df = dense_df(spark, qs, QUERY_SCHEMA)
    multi = idx.range_search(q_df, cfg, ef=32, wave_memory_bytes=budget)
    seq = idx.range_search(q_df, cfg, ef=32, wave_memory_bytes=1)
    a = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in multi.collect())
    b = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in seq.collect())
    assert a == b and len(a) > 0
    per_q = {}
    for qid, _, _ in a:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert max(per_q.values()) <= 9


def test_cold_search_job_count_constant_in_shards(spark):
    """r8 wave prefetch + lazy single-wave merge: a COLD single-wave
    search costs one batched artifact collect per table plus ONE merge
    action — job count at 8 shards equals job count at 4 (the r7 path
    paid 2-3 collect jobs + 1 materialize job PER shard)."""
    base = gen_dense(800, 16, seed=103)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    qs = dense_df(spark, gen_dense(5, 16, seed=104), QUERY_SCHEMA)
    idx4 = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=4)
    idx8 = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=8)
    r4, jobs4 = _jobs_for(
        spark, "shq4", lambda: idx4.search(qs, k=3).collect()
    )
    r8, jobs8 = _jobs_for(
        spark, "shq8", lambda: idx8.search(qs, k=3).collect()
    )
    assert jobs8 == jobs4, f"cold search jobs grew with shards: {jobs4} -> {jobs8}"
    # recall may legitimately differ between shardings, but both must
    # answer every query with a full k (the old `== ... or True` form
    # was a constant-True assertion — it checked nothing)
    def _per_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    pq4, pq8 = _per_query(r4), _per_query(r8)
    assert set(pq4) == set(pq8) and len(pq4) == 5
    assert all(len(v) == 3 for v in pq4.values())
    assert all(len(v) == 3 for v in pq8.values())
    # prefetch memoized every searched shard's broadcast (warm serving)
    assert all(getattr(s, "_bc_graph", None) is not None
               for s in idx8.shards if s is not None)
    # warm search: zero collects — only the merge action
    _, jobs_warm = _jobs_for(
        spark, "shqw", lambda: idx8.search(qs, k=3).collect()
    )
    assert jobs_warm < jobs8


def test_destroy_deletes_build_spill(spark, tmp_path):
    """destroy() reclaims the build-owned spill parquet (one corpus copy
    per build otherwise pinned until interpreter exit) — and a saved
    copy made BEFORE destroy still loads and searches."""
    import os

    base = gen_dense(300, 8, seed=111)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    idx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=3)
    spill = idx._spill_dir
    assert spill and os.path.isdir(spill)
    saved = str(tmp_path / "before_destroy")
    idx.save(saved)
    idx.destroy()
    assert not os.path.exists(spill)
    assert idx._spill_dir is None and idx._vec_tbl is None
    qs = dense_df(spark, gen_dense(3, 8, seed=112), QUERY_SCHEMA)
    re = ShardedHNSWIndex.load(spark, saved)
    got = re.search(qs, k=2).collect()
    assert len(got) == 6
    # loaded indexes own no spill: destroy is broadcast-release only
    re.destroy()
    assert os.path.exists(saved)


def test_save_fast_path_equals_union_path(spark, tmp_path):
    """A pristine build() saves through the single partitioned-table
    handles; an add()-derived index (handles reset) saves through the
    per-shard union — both layouts must load back hash-equal search
    results and carry the same vector rows."""
    base = gen_dense(400, 8, seed=113)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    idx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=4)
    assert idx._vec_tbl is not None          # fast path armed
    fast = str(tmp_path / "fast")
    idx.save(fast)
    # strip the handles → same index forced through the union path
    idx._vec_tbl = idx._edge_tbl = None
    slow = str(tmp_path / "slow")
    idx.save(slow)
    a = ShardedHNSWIndex.load(spark, fast)
    b = ShardedHNSWIndex.load(spark, slow)
    va = {(r["id"], r["__shard"]) for r in a._vec_tbl.collect()}
    vb = {(r["id"], r["__shard"]) for r in b._vec_tbl.collect()}
    assert va == vb and len(va) == 400
    qs = dense_df(spark, gen_dense(4, 8, seed=114), QUERY_SCHEMA)
    ra = {(r["query_id"], r["neighbor_id"], round(r["distance"], 9))
          for r in a.search(qs, k=3).collect()}
    rb = {(r["query_id"], r["neighbor_id"], round(r["distance"], 9))
          for r in b.search(qs, k=3).collect()}
    assert ra == rb


def test_spill_readback_guard_skipped_on_local_master(spark):
    """The read-back row-count guard exists for distributed masters
    (executor-local spill dirs lose rows silently); on local[*] the
    corpus-sized count scan must NOT run on the hot build path — but a
    cheap one-row probe still catches a truncated/empty spill write
    (ADVICE r9) — and the mismatch branch must still fire when forced."""
    import pytest

    from knowhere_spark.operators.hnsw_sharded import _check_spill_readback

    df = dense_df(spark, gen_dense(20, 8, seed=123))
    # local master: count scan skipped — at most the one-row head probe
    # (a single cheap job), no raise even with a wrong expected count
    _, jobs = _jobs_for(
        spark, "spillguard",
        lambda: _check_spill_readback(spark, df, 999, "dir"),
    )
    assert jobs <= 1
    # the local probe still rejects a silently-EMPTY read-back
    empty = df.filter("id < 0")
    with pytest.raises(RuntimeError, match="truncated"):
        _check_spill_readback(spark, empty, 999, "dir")
    # forced (the distributed code path): mismatch raises, match passes
    with pytest.raises(RuntimeError, match="spill"):
        _check_spill_readback(spark, df, 999, "dir", force=True)
    _check_spill_readback(spark, df, 20, "dir", force=True)


def test_shard_count_recall_guardrail(spark, recwarn):
    """SCALE.md r8: shard count is a recall lever — rows/shard ≫ ef is
    the measured 0.39-recall-loss regime.  The byte-size DEFAULT must
    auto-raise to the coverage bound; an EXPLICIT under-sharded build
    warns (user choice respected); an adequately sharded build stays
    silent."""
    import warnings as _w

    from knowhere_spark.operators.hnsw_sharded import _SHARD_COVERAGE_FACTOR

    base = dense_df(spark, gen_dense(2000, 8, seed=321))
    cfg = HnswConfig(metric_type="L2", M=6, ef=16, k=10)  # bound = 16*32 = 512
    # defaulted n_shards with a huge byte target: size-derived count
    # would be 1, coverage bound forces ceil(2000/512) = 4 — and the
    # override is LOGGED, not silent (ADVICE r9)
    with _w.catch_warnings(record=True) as rec0:
        _w.simplefilter("always")
        idx = ShardedHNSWIndex.build(
            base, cfg, target_shard_bytes=1 << 40
        )
    assert len(idx.shards) == 4
    raised = [str(w.message) for w in rec0 if "raising n_shards" in str(w.message)]
    assert raised and "BUILD config's" in raised[0]
    # explicit under-sharding: warns, does not override
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        idx1 = ShardedHNSWIndex.build(base, cfg, n_shards=1)
    assert len(idx1.shards) == 1
    msgs = [str(w.message) for w in rec if "rows/shard" in str(w.message)]
    assert msgs and "SCALE.md" in msgs[0]
    # adequate explicit sharding: silent
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        ShardedHNSWIndex.build(base, cfg, n_shards=4)
    assert not [w for w in rec2 if "rows/shard" in str(w.message)]


def _edge_prune_kernel(M: int, is_sim: bool):
    """Per-shard dedup + M-prune of the raw symmetrized edge union — a
    measured-and-rejected Arrow-kernel replacement (kept here as the
    reference; the build keeps its SQL chain, see hnsw_sharded.py) for the
    ``repartition(src) → groupBy(shard,src,dst).agg(min,min) →
    row_number window → repartition(__shard)`` chain (guide §2.4, r13:
    the window's sort AND the second exchange of the pruned rows both
    disappear; the kernel's output is already shard-clustered for the
    partitionBy write).

    Exactness: ``min(dist)/min(sel_rank)`` per (src, dst) are
    ``np.minimum.reduceat`` over contiguous lexsorted runs, and the
    prune order (sel_rank asc, dist asc — desc for similarity — dst
    asc) is a TOTAL order within a src once (src, dst) are unique, so
    one lexsort reproduces the window's row_number assignment
    byte-for-byte (pinned by test_edge_prune_kernel_equals_sql on
    dup/reverse/tie-heavy inputs)."""
    import pyarrow as pa

    from knowhere_spark.functions.arrowio import scalar_column

    empty = pa.schema(
        [("__shard", pa.int32()), ("src", pa.int64()),
         ("dst", pa.int64()), ("dist", pa.float64())]
    )

    def kernel(key, tbl):
        if tbl.num_rows == 0:
            return empty.empty_table()
        src = scalar_column(tbl, "src", np.int64)
        dst = scalar_column(tbl, "dst", np.int64)
        dist = scalar_column(tbl, "dist", np.float64)
        rank = scalar_column(tbl, "sel_rank", np.int64)
        order = np.lexsort((dst, src))
        s, d_, di, rk = src[order], dst[order], dist[order], rank[order]
        new = np.r_[True, (s[1:] != s[:-1]) | (d_[1:] != d_[:-1])]
        starts = np.flatnonzero(new)
        dmin = np.minimum.reduceat(di, starts)
        rmin = np.minimum.reduceat(rk, starts)
        gs, gd = s[starts], d_[starts]
        key_d = -dmin if is_sim else dmin
        sel = np.lexsort((gd, key_d, rmin, gs))
        ss = gs[sel]
        newg = np.r_[True, ss[1:] != ss[:-1]]
        grp_start = np.maximum.accumulate(
            np.where(newg, np.arange(len(ss)), 0)
        )
        keep = (np.arange(len(ss)) - grp_start) < M
        take = sel[keep]
        return pa.table(
            {
                "__shard": pa.array(
                    np.full(len(take), int(key[0].as_py()), dtype=np.int32),
                    type=pa.int32(),
                ),
                "src": pa.array(gs[take], type=pa.int64()),
                "dst": pa.array(gd[take], type=pa.int64()),
                "dist": pa.array(dmin[take], type=pa.float64()),
            }
        )

    return kernel


def test_edge_prune_kernel_equals_sql(spark):
    """The Arrow dedup+prune kernel must reproduce the former SQL chain
    (groupBy(shard,src,dst).agg(min,min) -> row_number window) BYTE for
    byte, on inputs with duplicate (src,dst) pairs, reverse duplicates,
    exact distance ties, and both metric directions."""
    import random

    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from knowhere_spark.operators.hnsw_sharded import _SHARD_EDGE_SCHEMA

    rng = random.Random(7)
    rows = []
    for shard in (0, 1):
        base = shard * 100
        for _ in range(600):
            s = base + rng.randrange(12)
            d = base + rng.randrange(12)
            if s == d:
                continue
            # coarse distance grid -> many exact ties; duplicate pairs
            # with differing dist/rank exercise the min-agg
            dist = float(rng.randrange(5))
            rank = rng.choice([0, 1, 2, 1 << 30])
            rows.append((shard, s, d, dist, rank))
    df = spark.createDataFrame(rows, _SHARD_EDGE_SCHEMA)
    M = 3
    out_schema = StructType(
        [
            StructField("__shard", IntegerType()),
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("dist", DoubleType()),
        ]
    )
    for is_sim in (False, True):
        kern = (
            df.groupBy("__shard")
            .applyInArrow(_edge_prune_kernel(M, is_sim), out_schema)
            .orderBy("__shard", "src", "dst")
            .collect()
        )
        sym = (
            df.repartition("src")
            .groupBy("__shard", "src", "dst")
            .agg(F.min("dist").alias("dist"), F.min("sel_rank").alias("sel_rank"))
        )
        dist_order = F.col("dist").desc() if is_sim else F.col("dist").asc()
        w = Window.partitionBy("src").orderBy(
            F.col("sel_rank").asc(), dist_order, F.col("dst").asc()
        )
        ref = (
            sym.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= M)
            .select("__shard", "src", "dst", "dist")
            .orderBy("__shard", "src", "dst")
            .collect()
        )
        assert [tuple(r) for r in kern] == [tuple(r) for r in ref], is_sim


def test_prefetch_wave_joins_edge_thread_on_error(spark, monkeypatch):
    """When the wave prefetch's vector collect raises, the edge-collect
    thread has finished before the per-shard fallback takes over (no
    orphaned Spark job), and the fallback answers like a clean search."""
    import pyspark

    base = gen_dense(600, 16, seed=111)
    cfg = HnswConfig(metric_type="L2", M=8, ef=16)
    q_df = dense_df(spark, gen_dense(4, 16, seed=112), QUERY_SCHEMA)
    idx = ShardedHNSWIndex.build(dense_df(spark, base), cfg, n_shards=3)
    want = sorted(tuple(r) for r in idx.search(q_df, k=5).collect())
    idx.release()                        # the next search collects again
    vec_tbl = idx._vec_tbl

    class _FailingCollect:
        def __getattr__(self, name):
            return getattr(vec_tbl, name)

        def filter(self, *a, **kw):
            class _Sel:
                def select(self, *a, **kw):
                    class _Arrow:
                        def toArrow(self):
                            raise RuntimeError("vector collect failed")
                    return _Arrow()
            return _Sel()

    threads = []

    class _Recorded(pyspark.InheritableThread):
        def start(self):
            threads.append(self)
            super().start()

    monkeypatch.setattr(pyspark, "InheritableThread", _Recorded)
    idx._vec_tbl = _FailingCollect()
    wave = [(i, s) for i, s in enumerate(idx.shards) if s is not None]
    idx._prefetch_wave(wave)
    assert len(threads) == 1 and not threads[0].is_alive()
    assert all(s._bc_graph is None for _, s in wave)   # nothing installed
    got = sorted(tuple(r) for r in idx.search(q_df, k=5).collect())
    assert got == want
    idx.release()
