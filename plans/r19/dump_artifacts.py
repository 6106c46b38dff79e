"""Dump every trained artifact of the capped-sample trainers as hashes.

Run from any checkout:

    PYTHONPATH=<checkout> python3 plans/r19/dump_artifacts.py > out.json

Each family is built twice on a small seeded corpus: once where its
training-sample cap binds and once where it does not.  Caps are forced
here by patching the module constants, never in the library.  The
input frames arrive in a permuted id order, so an artifact that depends
on arrival order (sub-cap trains) and one that depends on id order
(capped trains, the HNSW cell sampler and the router) both show.

Printed: one JSON object, artifact name -> sha256 of its bytes (plus
shapes), so two checkouts compare with ``diff``.
"""

from __future__ import annotations

import hashlib
import json
import sys

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import types as T


def _h(a) -> str:
    a = np.ascontiguousarray(np.asarray(a))
    return hashlib.sha256(str(a.dtype).encode() + str(a.shape).encode()
                          + a.tobytes()).hexdigest()[:16]


def _rows_h(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from knowhere_spark.config import (
        HnswConfig, HnswPqConfig, HnswPrqConfig, HnswSqConfig, IndexType,
        IvfConfig, IvfPqConfig, IvfSq8Config, MetricType, ScannConfig,
    )
    import knowhere_spark.operators.bin_ivf as bin_mod
    import knowhere_spark.operators.hnsw as hnsw_mod
    import knowhere_spark.operators.hnsw_quant as hq_mod
    import knowhere_spark.operators.hnsw_sharded as hs_mod
    import knowhere_spark.operators.pq as pq_mod
    from knowhere_spark.operators.ivf import IVFFlatIndex
    from knowhere_spark.operators.refine import ScannIndex
    from knowhere_spark.operators.semdedup import semdedup
    from knowhere_spark.operators.sq import IVFSq8Index

    n, dim = 600, 8
    rng = np.random.default_rng(19)
    mat = (rng.random((n, dim)) * 100.0).astype(np.float32)
    perm = rng.permutation(n)
    dense_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in perm], dense_schema
    )
    bmat = rng.integers(0, 256, size=(n, 8), dtype=np.uint8)
    bin_schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("vec", T.BinaryType()),
    ])
    bdf = spark.createDataFrame(
        [(int(i), bytes(bmat[i].tobytes())) for i in perm], bin_schema
    )

    out: dict[str, object] = {}
    picks: list[np.ndarray] = []

    def _capture(orig):
        def wrapped(sharded, centroids):
            for s in sorted(centroids):
                picks.append(np.asarray(centroids[s]))
            return orig(sharded, centroids)
        return wrapped

    hnsw_mod.assign_cells = _capture(hnsw_mod.assign_cells)
    hs_mod.assign_cells = _capture(hs_mod.assign_cells)

    def cells(idx):
        return _rows_h(
            (int(r["id"]), int(r["cell_id"]))
            for r in idx.assignments.select("id", "cell_id").collect()
        )

    def edges(tbl):
        return _rows_h(
            (int(r["src"]), int(r["dst"])) for r in tbl.select("src", "dst").collect()
        )

    # (regime, nlist): 256·nlist below n binds the IVF cap, above it not
    for regime, nlist in (("capped", 2), ("subcap", 4)):
        for metric in ("L2", "COSINE"):
            idx = IVFFlatIndex.build(
                df, IvfConfig(metric_type=metric, nlist=nlist, nprobe=nlist)
            )
            out[f"ivf_flat_{metric}_{regime}.centroids"] = _h(idx.centroids)
            out[f"ivf_flat_{metric}_{regime}.cells"] = cells(idx)
            out[f"ivf_flat_{metric}_{regime}.backend"] = idx.last_metrics["train_backend"]
            idx.release()
        sq = IVFSq8Index.build(df, IvfSq8Config(metric_type="L2", nlist=nlist, nprobe=nlist))
        out[f"ivf_sq8_{regime}.centroids"] = _h(sq.centroids)
        out[f"ivf_sq8_{regime}.cells"] = cells(sq)
        sq.release()
        sc = ScannIndex.build(df, ScannConfig(metric_type="L2", nlist=nlist, nprobe=nlist,
                                              reorder_k=16, with_raw_data=True))
        out[f"scann_{regime}.centroids"] = _h(sc.sq.centroids)
        out[f"scann_{regime}.cells"] = cells(sc.sq)
        sc.release()

    # PQ codebooks: the inner IVF and the codebook sample, capped or not
    for regime, cap in (("capped", 200), ("subcap", 100_000)):
        pq_mod._TRAIN_SAMPLE_MAX = cap
        nl = 1 if regime == "capped" else 4
        pq = pq_mod.IVFPqIndex.build(
            df, IvfPqConfig(metric_type="L2", nlist=nl, nprobe=nl, m=2, nbits=4)
        )
        out[f"ivf_pq_{regime}.centroids"] = _h(pq.centroids)
        out[f"ivf_pq_{regime}.codebooks"] = _h(pq.codebooks)
        pq.release()

        bin_mod._TRAIN_SAMPLE_MAX = cap
        bi = bin_mod.BinaryIVFIndex.build(
            bdf, IvfConfig(metric_type=MetricType.HAMMING, nlist=4, nprobe=4)
        )
        out[f"bin_ivf_{regime}.centroids"] = _h(bi.centroids)
        out[f"bin_ivf_{regime}.cells"] = cells(bi)
        bi.release()

        hnsw_mod._TRAIN_SAMPLE_MAX = 200 if regime == "capped" else 50_000
        hq_mod._TRAIN_SAMPLE_MAX = cap
        picks.clear()
        h = hnsw_mod.HNSWIndex.build(df, HnswConfig(metric_type="L2", M=8, ef=16))
        out[f"hnsw_{regime}.cell_picks"] = [_h(p) for p in picks]
        out[f"hnsw_{regime}.edges"] = edges(h.edges)
        h.release()
        for name, cfg, it in (
            ("hnsw_sq", HnswSqConfig(metric_type="L2", M=8, ef=16, sq_type="sq8"),
             IndexType.HNSW_SQ),
            ("hnsw_pq", HnswPqConfig(metric_type="L2", M=8, ef=16, m=2, nbits=4),
             IndexType.HNSW_PQ),
            ("hnsw_prq", HnswPrqConfig(metric_type="L2", M=8, ef=16, m=2, nbits=4, nrq=2),
             IndexType.HNSW_PRQ),
        ):
            picks.clear()
            q = hq_mod.QuantizedHNSWIndex.build(df, cfg, index_type=it)
            out[f"{name}_{regime}.cell_picks"] = [_h(p) for p in picks]
            quant = q.quant
            if quant["mode"] == "pq":
                out[f"{name}_{regime}.codebooks"] = [_h(s) for s in quant["stages"]]
            elif quant["mode"] == "sq":
                out[f"{name}_{regime}.sq"] = [_h(quant["lo"]), _h(quant["diff"])]
            out[f"{name}_{regime}.edges"] = edges(q.graph.edges)
            q.release()

    # sharded HNSW: router cap 256·n_shards binds at 2 shards, not at 3
    hnsw_mod._TRAIN_SAMPLE_MAX = 50_000
    for regime, shards in (("capped", 2), ("subcap", 3)):
        for by in ("hash", "semantic"):
            picks.clear()
            s = hs_mod.ShardedHNSWIndex.build(
                df, HnswConfig(metric_type="L2", M=8, ef=16),
                n_shards=shards, shard_by=by,
            )
            key = f"sharded_{by}_{regime}"
            out[f"{key}.cell_picks"] = [_h(p) for p in picks]
            if s.router is not None:
                out[f"{key}.router"] = _h(s.router)
            out[f"{key}.shard_sizes"] = [
                None if x is None else int(x.count()) for x in s.shards
            ]
            s.release()

    # semdedup: the k-means cap max(8192, 64k) binds above 8192 rows; the
    # autosplit sample min(n, 64·k_sub) binds at max_cluster_rows 600, not 100
    big_n, big_dim = 9000, 6
    bm = (np.random.default_rng(25).random((big_n, big_dim)) * 100.0).astype(np.float32)
    bperm = np.random.default_rng(26).permutation(big_n)
    big = spark.createDataFrame(
        [(int(i), [float(x) for x in bm[i]]) for i in bperm], dense_schema
    )

    def verdicts(frame, **kw):
        return _rows_h(
            (int(r["id"]), int(r["cluster_id"]), bool(r["keep"]))
            for r in semdedup(frame, 0.95, **kw).collect()
        )

    out["semdedup_capped.verdicts"] = verdicts(big, num_clusters=8)
    out["semdedup_subcap.verdicts"] = verdicts(df, num_clusters=4)
    out["semdedup_autosplit_capped.verdicts"] = verdicts(
        df, num_clusters=1, max_cluster_rows=300
    )
    out["semdedup_autosplit_subcap.verdicts"] = verdicts(
        df, num_clusters=1, max_cluster_rows=100
    )
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()
    spark.stop()


if __name__ == "__main__":
    main()
