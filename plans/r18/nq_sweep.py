"""nq sweep of a resident IVF_FLAT index's ``strategy="driver"`` search:
the local plan (queries collected as Arrow, scored in the driver process)
against the ``mapInArrow`` plan (the payload kernel as one Spark job).

The index is perfbench ``ann_serve``'s IVF_FLAT (5k x 128 Gaussian
mixture, 256 centres, spread 0.8; nlist 32, nprobe 4; k 10).  For each nq
the query rows (same mixture) become a cached 4-partition Arrow-backed
frame; each call is ``search(...).toArrow()``, timed wall-clock, with the
number of Spark jobs it started.  Modes alternate within each repetition:

- ``local``: ``_LOCAL_NQ_MAX`` above every nq, so every batch runs locally;
- ``mapinarrow``: ``_LOCAL_NQ_MAX = 0``, so every batch runs the
  ``mapInArrow`` plan after a one-row peek;
- ``default``: the checkout's own plan choice (on a checkout without the
  local plan, that checkout's ``mapInArrow`` plan with no peek).

Run from the root of a checkout, one JSON line per call on stdout::

    PYTHONPATH=. python plans/r18/nq_sweep.py --modes local,mapinarrow,default
"""

from __future__ import annotations

import argparse
import json
import time

import numpy as np


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--modes", default="local,mapinarrow,default")
    ap.add_argument("--nq", default="100,500,1000,2000,4000,10000")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--seed", type=int, default=18)
    args = ap.parse_args()

    import pyarrow as pa
    from pyspark.sql import SparkSession

    from knowhere_spark.config import IvfConfig
    from knowhere_spark.operators.ivf import IVFBaseIndex, IVFFlatIndex
    from perfbench import data

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rng = np.random.default_rng(args.seed)
    centres = data.make_centres(rng, 256, 0.8)
    X = data.mixture(rng, 5_000, centres, 1.0)
    base = spark.createDataFrame(
        pa.table({"id": np.arange(len(X), dtype=np.int64), "vec": list(X)})
    )
    idx = IVFFlatIndex.build(base, IvfConfig(metric_type="L2", nlist=32, nprobe=4))
    default_cap = getattr(IVFBaseIndex, "_LOCAL_NQ_MAX", None)
    caps = {"local": 10**9, "mapinarrow": 0, "default": default_cap}
    modes = args.modes.split(",")

    def call(q, mode, tag):
        if caps[mode] is not None:
            IVFBaseIndex._LOCAL_NQ_MAX = caps[mode]
        sc.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        out = idx.search(q, k=10, strategy="driver").toArrow()
        ms = (time.perf_counter() - t0) * 1e3
        jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        return ms, jobs, out.num_rows, idx.last_metrics.get("plan")

    call_n = 0
    for nq in (int(n) for n in args.nq.split(",")):
        Q = data.mixture(rng, nq, centres, 1.0)
        q = spark.createDataFrame(
            pa.table({"query_id": np.arange(nq, dtype=np.int64), "vec": list(Q)})
        ).repartition(4).cache()
        q.count()
        for mode in modes:                      # warm each mode once
            call_n += 1
            call(q, mode, f"warm{call_n}")
        for rep in range(args.reps):
            order = modes if rep % 2 == 0 else modes[::-1]
            for mode in order:
                call_n += 1
                ms, jobs, rows, plan = call(q, mode, f"call{call_n}")
                print(json.dumps({"nq": nq, "mode": mode, "rep": rep, "ms": round(ms, 1),
                                  "jobs": jobs, "rows": rows, "plan": plan}), flush=True)
        q.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
