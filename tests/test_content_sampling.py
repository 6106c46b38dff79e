"""Content-keyed train sampling (r11, VERDICT r10 #7): every trainer's
over-cap subsample goes through ``session.content_keyed_sample`` —
membership keys off xxhash64 of the DATA (ids / text), never Spark's
per-partition ``.sample()`` seeding, and ``session.train_sample`` reads
the rows id-sorted — so Train(shuffled input) == Train(stable input)
bit-for-bit.

Each test feeds the same rows in a reversed order + different partition
layout and asserts the trained artifact is IDENTICAL.  (Sub-cap trains
deliberately keep their legacy arrival-order collect — existing
artifacts stay byte-stable — so every test here sizes its input past the
train cap; at 100 TB the caps always bind, making the sampled path the
scale path.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from knowhere_spark.config import IvfConfig, IvfPqConfig, MetricType
from knowhere_spark.session import content_keyed_sample, train_sample

from conftest import (
    BIN_SCHEMA,
    DENSE_SCHEMA,
    binary_df,
    dense_df,
    gen_binary,
    gen_dense,
)


def _shuffled(df, parts: int = 7):
    """Same rows, different partition layout AND arrival order — what a
    checkpoint/shuffle upstream of the trainer produces."""
    return df.orderBy(F.desc("id")).repartition(parts)


def test_helper_passthrough_and_invariance(spark):
    mat = gen_dense(400, 4, seed=11)
    df = dense_df(spark, mat)
    # cap doesn't bind -> identity (existing artifacts untouched)
    assert content_keyed_sample(df, 400, 400) is df
    assert content_keyed_sample(df, 400, None) is df
    # cap binds -> same membership from any layout
    a = content_keyed_sample(df, 400, 100).select("id").collect()
    b = content_keyed_sample(_shuffled(df), 400, 100).select("id").collect()
    ids_a = sorted(r["id"] for r in a)
    ids_b = sorted(r["id"] for r in b)
    assert ids_a == ids_b
    assert 0 < len(ids_a) < 400
    # ... and train_sample reads it as the id-sorted matrix
    S_a = train_sample(df, 400, 100, seed=42)
    S_b = train_sample(_shuffled(df), 400, 100, seed=42)
    assert np.array_equal(S_a, S_b)
    assert np.array_equal(S_a, mat[ids_a].astype(np.float64))
    # below the cap: arrival order, unless the caller asks for id order
    rev = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(399, -1, -1)], DENSE_SCHEMA
    )
    assert np.array_equal(
        train_sample(rev, 400, 400, seed=42), mat[::-1].astype(np.float64)
    )
    assert np.array_equal(
        train_sample(rev, 400, 400, seed=42, sort_subcap=True),
        mat.astype(np.float64),
    )
    # a different seed draws a different set (the knob is live)
    c = content_keyed_sample(df, 400, 100, seed=7).select("id").collect()
    assert sorted(r["id"] for r in c) != ids_a


def test_ivf_train_shuffle_invariant(spark):
    from knowhere_spark.operators.ivf import IVFFlatIndex

    mat = gen_dense(600, 8, seed=21)
    df = dense_df(spark, mat)
    cfg = IvfConfig(metric_type="L2", nlist=2, nprobe=2)  # cap 512 < 600
    c1 = IVFFlatIndex.build(df, cfg).centroids
    c2 = IVFFlatIndex.build(_shuffled(df), cfg).centroids
    assert np.array_equal(c1, c2)


def test_ivf_pq_codebooks_shuffle_invariant(spark, monkeypatch):
    import knowhere_spark.operators.pq as pq_mod

    monkeypatch.setattr(pq_mod, "_TRAIN_SAMPLE_MAX", 200)
    mat = gen_dense(300, 8, seed=22)
    df = dense_df(spark, mat)
    # nlist=1 -> inner IVF train cap 256 < 300 binds too
    cfg = IvfPqConfig(metric_type="L2", nlist=1, nprobe=1, m=2, nbits=4)
    b1 = pq_mod.IVFPqIndex.build(df, cfg).codebooks
    b2 = pq_mod.IVFPqIndex.build(_shuffled(df), cfg).codebooks
    assert np.array_equal(b1, b2)


def test_bin_ivf_train_shuffle_invariant(spark, monkeypatch):
    import knowhere_spark.operators.bin_ivf as bin_mod

    monkeypatch.setattr(bin_mod, "_TRAIN_SAMPLE_MAX", 150)
    mat = gen_binary(300, 64, seed=23)
    df = binary_df(spark, mat)
    cfg = IvfConfig(metric_type=MetricType.HAMMING, nlist=4, nprobe=4)
    c1 = bin_mod.BinaryIVFIndex.build(df, cfg).centroids
    c2 = bin_mod.BinaryIVFIndex.build(_shuffled(df), cfg).centroids
    assert np.array_equal(c1, c2)


def test_hnsw_quant_codebooks_shuffle_invariant(spark, monkeypatch):
    import knowhere_spark.operators.hnsw_quant as hq_mod
    from knowhere_spark.config import HnswPqConfig, IndexType

    monkeypatch.setattr(hq_mod, "_TRAIN_SAMPLE_MAX", 200)
    mat = gen_dense(300, 8, seed=24)
    df = dense_df(spark, mat)
    cfg = HnswPqConfig(metric_type="L2", M=8, m=2, nbits=4)
    q1 = hq_mod._make_quant(df, cfg, IndexType.HNSW_PQ)
    q2 = hq_mod._make_quant(_shuffled(df), cfg, IndexType.HNSW_PQ)
    for s1, s2 in zip(q1["stages"], q2["stages"]):
        assert np.array_equal(s1, s2)


def test_semdedup_train_shuffle_invariant(spark):
    from knowhere_spark.operators.semdedup import semdedup

    # train_cap = max(8192, 64*k) = 8192 < n, so the k-means sample binds
    n, dim = 9000, 6
    mat = gen_dense(n, dim, seed=25)
    df = dense_df(spark, mat)

    def verdicts(d):
        return sorted(
            (r["id"], r["cluster_id"], r["keep"])
            for r in semdedup(d, 0.95, num_clusters=8).collect()
        )

    assert verdicts(df) == verdicts(_shuffled(df))


def test_bpe_train_sample_shuffle_invariant(spark):
    from knowhere_spark.functions.bpe import bpe_train

    words = ["lower", "lowest", "newer", "newest", "wider", "widest"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(5)))
        for i in range(60)
    ]
    schema = "id long, text string"
    df = spark.createDataFrame(rows, schema)

    def merges(d):
        return [
            (r["rank"], r["left"], r["right"])
            for r in bpe_train(d, 12, train_sample_docs=25)
            .orderBy("rank")
            .collect()
        ]

    assert merges(df) == merges(_shuffled(df))


def test_threshold_never_zero_and_ceils(spark):
    """r11 review fix: at n > cap·2^20 the old int() threshold floored
    to 0 (EMPTY train sample → kmeans crash downstream); it must floor
    at 1, and use ceil so the draw isn't under-cap by a truncation."""
    df = dense_df(spark, gen_dense(10, 4, seed=31))
    plan = str(
        content_keyed_sample(df, 10**10, 100)
        ._jdf.queryExecution().optimizedPlan()
    )
    assert "< 1)" in plan          # max(1, ceil(100/1e10 * 2^20)) == 1
    plan2 = str(
        content_keyed_sample(df, 2**21, 1)
        ._jdf.queryExecution().optimizedPlan()
    )
    assert "< 1)" in plan2         # ceil(0.5) == 1, int() would give 0
