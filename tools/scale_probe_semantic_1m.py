"""One-off SCALE probe (VERDICT r7 #5): semantic-sharded HNSW at 1M rows
and 10^2-10^3 shards — router train cost, routed-search wall vs
probe_shards, wave width, and tracing-counter beam-work evidence.

Run:  python tools/scale_probe_semantic_1m.py [n_shards ...]
Results are committed to SCALE.md (r8 section), not to the per-round
bench (the driver bench stays lean; SPARK_GRAFT_SCALE_PROBE covers the
recurring sf1x entries).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    shard_points = [int(a) for a in sys.argv[1:]] or [128, 512]
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("knowhere-scale-semantic-1m")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from knowhere_spark.config import HnswConfig
    from knowhere_spark.operators.brute_force import BruteForce
    from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex
    from knowhere_spark.sources.tables import embeddings_as_dataset

    emb = embeddings_as_dataset(spark, SF_DIR)
    big = (
        emb.crossJoin(spark.range(500).withColumnRenamed("id", "rep"))
        .select(
            (F.col("id") + F.col("rep") * 1_000_000).alias("id"),
            F.transform(
                "vec", lambda x: x + F.col("rep").cast("float") * F.lit(0.0001)
            ).alias("vec"),
        )
        .cache()
    )
    n = big.count()
    queries = big.filter(F.col("id") % 4999 == 0).select(
        F.col("id").alias("query_id"), "vec"
    ).cache()
    nq = queries.count()
    print(f"# corpus n={n} nq={nq}", file=sys.stderr)
    gt = (
        BruteForce.search(big, queries, 10, "L2", strategy="gemm")
        .select("query_id", "neighbor_id")
        .cache()
    )
    gt_n = gt.count()

    def recall(res) -> float:
        return res.select("query_id", "neighbor_id").join(
            gt, ["query_id", "neighbor_id"]
        ).count() / gt_n

    results = []
    for n_shards in shard_points:
        cfg = HnswConfig(metric_type="L2", M=16, ef=64)
        # router-train cost in isolation: the call build() makes
        from knowhere_spark.session import train_centroids

        t0 = time.monotonic()
        train_centroids(
            big, n, n_shards, 256 * n_shards, len(big.first()["vec"]),
            seed=42, iters=20, sort_subcap=True,
        )
        router_train_sec = round(time.monotonic() - t0, 1)

        t0 = time.monotonic()
        idx = ShardedHNSWIndex.build(
            big, cfg, n_shards=n_shards, shard_by="semantic"
        )
        build_sec = round(time.monotonic() - t0, 1)
        live = sum(s is not None for s in idx.shards)
        waves_full = len(idx._waves(None))
        row = {
            "n": n, "n_shards_requested": n_shards,
            "n_shards_built": len(idx.shards), "live_shards": live,
            "router_train_sec": router_train_sec,
            "build_sec": build_sec, "waves_full_sweep": waves_full,
            "probes": {},
        }
        for probe in (1, 4, 16, None):
            t0 = time.monotonic()
            res = idx.search(queries, k=10, ef=128, probe_shards=probe)
            res.count()
            wall = round(time.monotonic() - t0, 1)
            rec = round(recall(res), 4)
            sm = idx.last_metrics.snapshot()
            nodes = int(sm.get("nodes_scored", 0) or 0) + sum(
                int(s.last_metrics["nodes_scored"].value)
                for s in idx.shards
                if s is not None and getattr(s, "last_metrics", None)
            )
            key = str(probe) if probe else "all"
            row["probes"][key] = {
                "wall_sec": wall, "recall": rec,
                "shards_searched": sm.get("shards_searched"),
                "waves": sm.get("waves"), "nodes_scored_cum": nodes,
            }
            print(f"# shards={n_shards} probe={key}: {row['probes'][key]}",
                  file=sys.stderr)
            idx.release()
        results.append(row)
        print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main()
