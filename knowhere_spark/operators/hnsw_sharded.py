"""Sharded HNSW — the 100 TB shape for graph ANN.

The reference is an in-RAM single-node library; the system built on it
(segment-oriented vector databases) scales graph indexes by splitting the
corpus into bounded *segments*, building one graph per segment, searching
every segment, and merging per-query top-k.  This operator is that
architecture on Spark primitives:

- **Build** is ONE distributed pipeline over every shard at once: rows
  hash-shard by id, per-shard coarse centroids come from one stratified
  sample, one ``mapInArrow`` assigns each row to its top-2 nearest
  cells *within its shard*, one ``groupBy(shard, cell)`` local-KNN
  computes every shard's candidate edges, and one symmetrize + per-node
  M-prune produces the all-shards edge table (the build kernels of
  operators/hnsw.py, whose single graph is the one-shard case).  Both the
  sharded corpus and the edge table are materialized as parquet
  physically partitioned by ``__shard`` (one write job each), so every
  later per-shard access —
  a graph broadcast collect, ``get_vector_by_ids``, ``save`` — is a
  partition-PRUNED read of that shard's directory, never a scan of the
  whole corpus.  Job count is CONSTANT in the shard count
  (the round-5 verdict's top finding: the old per-shard
  ``HNSWIndex.build`` loop ran n_shards sequential jobs and re-scanned
  the corpus lineage once per shard — ~10⁵ sequential builds at 100 TB
  with ~1 GiB shards).
- **Search** runs shards in memory-budgeted *waves*.  When everything
  fits ONE wave (the common serving case) the whole search is a single
  run of the shared ``mapInArrow`` beam kernel (``hnsw.beam_search``)
  over ``(query, shard)`` rows resolving each shard's memoized graph
  broadcast inside the kernel — one Spark
  job regardless of shard count, with the wave's graph collects batched
  into one isin-pruned job per table first (r8; the 1M probe measured
  the old per-shard plans/jobs at ~0.6 s/shard fixed cost — 6.8-17×
  of the routed wall).  With MULTIPLE waves, shards within a wave run
  concurrently, every per-shard result (nq×k rows — small) is
  materialized before that shard's graph broadcast is released, so peak
  executor memory is one WAVE of shard artifacts — a tunable bound.
  The union then takes a final per-query top-k merge — the same
  partial-then-final shape every other top-k in this engine uses.

Recall note: searching every shard with the full beam is at least as
accurate as one graph over the union (each shard's beam is exact over a
smaller candidate space), at the cost of shards× beam work — exactly the
segment-count tradeoff the segment-oriented architecture makes.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from knowhere_spark.config import HnswConfig, IndexType, MetricType
# _SHARD_EDGE_SCHEMA is re-exported: the edge-prune reference test builds
# its raw-edge input with it
from knowhere_spark.operators.hnsw import (  # noqa: F401
    _BROADCAST_MAX_BYTES,
    _CELL_TARGET_ROWS,
    _SHARD_EDGE_SCHEMA,
    HNSWIndex,
    _dense_scorer,
    assign_cells,
    beam_search,
    local_knn_edges,
    prune_edges,
)
from knowhere_spark.operators.topk import topk_per_key

#: default concurrent-search memory budget: how many bytes of shard
#: graph artifacts may be resident at once during a waved search.  At
#: the 1 GiB per-shard bound this means up to 4 concurrent shard beams.
_WAVE_BUDGET_BYTES = 4 * _BROADCAST_MAX_BYTES
#: recall guardrail: rows-per-shard beyond this multiple of ef is the
#: measured low-recall regime on dup-heavy corpora (SCALE.md r8 1M probe:
#: 61×ef → recall 0.5542, 15×ef → 0.9448 at identical ef=128)
_SHARD_COVERAGE_FACTOR = 32

def _route_to_shards(
    df: DataFrame, router: np.ndarray, metric: MetricType
) -> DataFrame:
    """Nearest-router-centroid shard assignment for ``(id, vec)`` rows —
    one Arrow kernel against the broadcast router matrix (L2 geometry;
    COSINE rows are normalized first, the IVF assignment argument)."""
    from knowhere_spark.functions.distance import pairwise_distances as _pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((router, metric == MetricType.COSINE))
    vec_type = df.schema["vec"].dataType
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("vec", vec_type),
            StructField("__shard", IntegerType()),
        ]
    )

    def kernel(batches):
        # Arrow-native (guide §4.2): id/vec pass through the output batch
        # untouched; only __shard is computed
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix

        C, norm = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec")
            if norm:
                nn = np.linalg.norm(X, axis=1, keepdims=True)
                nn[nn == 0] = 1.0
                X = X / nn
            d = _pd(X, C, MetricType.L2)
            yield pa.record_batch(
                [
                    tbl.column("id").combine_chunks().cast(pa.int64()),
                    tbl.column("vec").combine_chunks(),
                    pa.array(d.argmin(axis=1).astype(np.int32), type=pa.int32()),
                ],
                names=["id", "vec", "__shard"],
            )

    return df.mapInArrow(kernel, schema)


def _cluster_to_shard_expr(bases: list[int], nsubs: list[int]):
    """Map a cluster id (in ``__shard``) to its final shard id:
    ``base[c] + hash(id) % n_sub[c]`` — identity when n_sub[c] == 1.
    One codegen'd expression over two literal arrays (1-indexed
    element_at), no per-cluster CASE chain."""
    base_arr = F.array(*[F.lit(int(b)) for b in bases])
    nsub_arr = F.array(*[F.lit(int(x)) for x in nsubs])
    idx1 = F.col("__shard") + F.lit(1)
    return (
        F.element_at(base_arr, idx1)
        + F.pmod(F.xxhash64("id"), F.element_at(nsub_arr, idx1))
    ).cast("int")


def _tree_union(frames: list[DataFrame]) -> DataFrame:
    """``unionByName`` fold with O(log n) plan depth.  An iterative
    left-deep union over 10^4 per-shard partials is a Catalyst plan
    explosion (analysis cost and stack depth both linear in the fan-in);
    pairwise folding keeps the tree balanced."""
    while len(frames) > 1:
        frames = [
            frames[i].unionByName(frames[i + 1]) if i + 1 < len(frames)
            else frames[i]
            for i in range(0, len(frames), 2)
        ]
    return frames[0]


def _check_spill_readback(
    spark, sharded: DataFrame, expected_rows: int, spill: str, *, force: bool = False
) -> None:
    """Guard against a non-cluster-visible spill dir: on yarn/k8s with
    spark.knowhere.spill.dir unset, executors commit to their OWN local
    disks and the read-back is silently empty (the explicit schema
    suppresses the inference error) — fail loudly instead of building an
    index over zero rows.  Single-JVM local masters share one filesystem,
    so the failure mode cannot occur there; the corpus-sized count scan
    is skipped on the hot build path in that case (``force=True`` runs it
    regardless — tests use it to exercise the mismatch branch).  The
    local match is EXACT (``local`` / ``local[...]``) — ``local-cluster[...]``
    runs separate executor JVMs and keeps the full guard — and the local
    fast path still probes one row, so a truncated/partial spill write is
    caught everywhere (ADVICE r9)."""
    master = spark.sparkContext.master
    if not force and (master == "local" or master.startswith("local[")):
        if expected_rows > 0 and not sharded.head(1):
            raise RuntimeError(
                f"sharded spill read-back at {spill!r} is empty but "
                f"{expected_rows} rows were written — the spill write "
                "was truncated or removed"
            )
        return
    got_rows = sharded.count()
    if got_rows != expected_rows:
        raise RuntimeError(
            f"sharded spill read-back has {got_rows} rows, expected "
            f"{expected_rows}: the spill directory {spill!r} is not "
            "visible to every executor — set spark.knowhere.spill.dir "
            "to shared storage (HDFS/S3) on a distributed master"
        )


class ShardedHNSWIndex:
    """A list of per-segment HNSW graphs over a hash- or
    semantically-sharded corpus."""

    def __init__(
        self,
        shards: list[HNSWIndex],
        config: HnswConfig,
        shard_bytes: list[int] | None = None,
        router: np.ndarray | None = None,
        cluster_shards: list[list[int]] | None = None,
    ):
        if not shards:
            raise ValueError("ShardedHNSWIndex needs at least one shard")
        self.shards = shards
        self.config = config
        self.index_type = IndexType.SHARDED_HNSW
        #: estimated per-shard artifact bytes (vectors + CSR), used for
        #: wave sizing; ``None`` entries fall back to the broadcast bound
        self.shard_bytes = shard_bytes or [None] * len(shards)
        #: semantic-sharding router: (n_clusters, dim) coarse centroids —
        #: present iff built with ``shard_by='semantic'``; enables
        #: ``search(probe_shards=R)`` shard routing
        self.router = router
        #: cluster -> final shard ids (len > 1 where an over-cap cluster
        #: was hash-split to respect the per-shard broadcast bound);
        #: identity when the router is absent or no cluster split
        self.cluster_shards = cluster_shards
        #: __shard-partitioned vector/edge table handles (set by build()
        #: and the partitioned load()): waves batch-collect graph
        #: artifacts through these — one isin-pruned job per table
        #: instead of 2-3 jobs per shard (see _prefetch_wave); None for
        #: add()-grown or legacy-layout indexes (per-shard lazy collect)
        self._vec_tbl: DataFrame | None = None
        self._edge_tbl: DataFrame | None = None
        self._spill_dir: str | None = None   # build-owned scratch parquet

    def count(self) -> int:
        return sum(s.count() for s in self.shards if s is not None)

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        return True

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: HnswConfig,
        *,
        n_shards: int | None = None,
        target_shard_bytes: int = _BROADCAST_MAX_BYTES,
        id_col: str = "id",
        vec_col: str = "vec",
        shard_by: str = "hash",
    ) -> "ShardedHNSWIndex":
        """Single-pass all-shards build.  ``n_shards`` defaults to the
        smallest count keeping each shard's estimated artifact (vectors +
        M-degree CSR) under ``target_shard_bytes``.

        ``shard_by``: ``'hash'`` (default) shards by id hash — uniform
        sizes, every query searches every shard.  ``'semantic'`` shards
        by a coarse k-means ROUTER (k = n_shards, trained on a capped
        sample like IVF): near neighbors co-locate, so
        ``search(probe_shards=R)`` can beam only the R nearest shards per
        query — the SPANN/clustering-compaction serving shape that keeps
        per-query cost bounded when the shard count is 10⁵ at 100 TB
        (an every-shard beam is untenable there).  Probe-pruning recall
        tradeoff mirrors IVF nprobe; floor-tested in
        tests/test_hnsw_sharded.py.

        Every per-shard frame the result holds is a partition-pruned
        filter over ONE parquet table physically partitioned by
        ``__shard`` (written once during build) — a shard's graph collect
        reads only its own directory, never a full-corpus scan (r8; the
        r7 filters-over-one-checkpoint layout paid a full scan per shard
        touched).  The input lineage is scanned once, and the job count
        is constant in ``n_shards`` (asserted by
        tests/test_hnsw_sharded.py::test_sharded_build_job_count)."""
        import time as _time

        _t0 = _time.monotonic()
        _stages: dict[str, float] = {}

        def _mark(label: str) -> None:
            nonlocal _t0
            now = _time.monotonic()
            _stages[label] = round(now - _t0, 3)
            _t0 = now

        metric = MetricType(config.metric_type)
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        spark = base.sparkSession
        # materialize the input once; everything below (counts, sample,
        # assignment, per-shard vector frames) reads these stored blocks
        base = base.localCheckpoint(eager=True)
        n = base.count()
        head = base.select("vec").head()
        dim = len(head["vec"]) if head else 0
        _mark("checkpoint_count_sec")
        # Shard count is a RECALL lever, not just a memory one: the 1M
        # probe (SCALE.md r8 table) measured recall 0.5542 at 128 shards
        # vs 0.9448 at 512 at the SAME ef=128 on dup-heavy data — a
        # fixed beam budget spread over ~rows_per_shard/ef times more
        # candidates under-covers the target's clique.  Guardrail: keep
        # rows-per-shard within _SHARD_COVERAGE_FACTOR × ef (7.8k
        # rows/shard @ ef=128 = 61×ef was the bad regime; 1.9k = 15×ef
        # the good one).  The bound is size-based, not corpus-based —
        # dup density decided how BAD the 1M point got, but estimating
        # it would cost a pass the build doesn't otherwise make, and
        # the conservative bound is cheap.
        ef = max(int(getattr(config, "ef", 1) or 1), 1)
        coverage_shards = max(1, math.ceil(n / (_SHARD_COVERAGE_FACTOR * ef)))
        if n_shards is None:
            per_row = dim * 4 + (int(config.M) + 1) * 4 + 16
            n_shards = max(1, math.ceil(n * per_row / target_shard_bytes))
            # the byte-size default must never silently land in the
            # low-recall regime — auto-raise to the coverage bound, and
            # SAY SO (ADVICE r9: 1M rows at ef=64 turns a handful of
            # byte-target shards into ~489, inflating build cost and
            # per-query fan-out on corpora that are not dup-heavy).
            # NOTE the bound is keyed to the BUILD config's ef — if you
            # search with a larger ef, fewer shards already suffice:
            # pass n_shards explicitly to override.
            if coverage_shards > n_shards:
                import warnings

                warnings.warn(
                    f"ShardedHNSW: raising n_shards {n_shards} -> "
                    f"{coverage_shards} to keep rows/shard within the "
                    f"recall-safe coverage bound "
                    f"({_SHARD_COVERAGE_FACTOR}*ef at build ef={ef}; "
                    f"SCALE.md r8).  The bound uses the BUILD config's "
                    f"ef — pass n_shards explicitly if you search with "
                    f"a larger ef or the corpus is not dup-heavy.",
                    stacklevel=2,
                )
            n_shards = max(n_shards, coverage_shards)
        elif n > 0 and n / n_shards > _SHARD_COVERAGE_FACTOR * ef:
            import warnings

            warnings.warn(
                f"ShardedHNSW: {n / n_shards:.0f} rows/shard at ef={ef} "
                f"exceeds the measured recall-safe coverage bound "
                f"({_SHARD_COVERAGE_FACTOR}*ef = {_SHARD_COVERAGE_FACTOR * ef}); "
                f"the 1M-row probe lost 0.39 recall in this regime "
                f"(SCALE.md r8).  Raise n_shards to >= {coverage_shards} "
                f"or raise ef.",
                stacklevel=2,
            )
        if shard_by not in ("hash", "semantic"):
            raise ValueError(f"unknown shard_by {shard_by!r}")
        router = None
        if shard_by == "semantic" and n > 0:
            # router training is the IVF train regime, cutover included
            # (session.train_centroids): at the 10^5-shard/100 TB regime
            # the sample is ~2.5e7 rows and a driver fit is infeasible.
            # The sample is id-sorted even below the cap (r10): seeded
            # k-means init must not depend on the input's partition
            # layout.  Routing space is L2 over (COSINE: normalized)
            # vectors — assignment geometry.
            from knowhere_spark.functions.distance import normalize_expr
            from knowhere_spark.session import train_centroids

            norm_base = base
            if metric == MetricType.COSINE:
                norm_base = base.select(
                    "id", normalize_expr(F.col("vec")).alias("vec")
                )
            router, _ = train_centroids(
                norm_base, n, n_shards, 256 * n_shards, dim,
                seed=42, iters=20, sort_subcap=True,
            )
            n_shards = len(router)
            _mark("router_train_sec")
            # cache the routed rows: the Arrow route kernel otherwise runs
            # TWICE (once under the counts groupBy, once under the vectors
            # write) — guide §5 cache-on-reuse; released right after the
            # spill write becomes the source of truth
            sharded = _route_to_shards(base, router, metric).cache()
            routed_cache = sharded
        else:
            # hash sharding is a pure codegen expression over the already-
            # checkpointed base — nothing to cache
            sharded = base.withColumn(
                "__shard", F.pmod(F.xxhash64("id"), F.lit(n_shards)).cast("int")
            )
            routed_cache = None
        # a hash shard can come up empty (small/skewed id sets); keep a None
        # placeholder so the routing modulus (list length) is preserved —
        # building a graph over zero rows would crash the beam kernel
        counts = {
            int(r["__shard"]): int(r["cnt"])
            for r in sharded.groupBy("__shard").agg(F.count("*").alias("cnt")).collect()
        }
        per_row = dim * 4 + (int(config.M) + 1) * 4 + 16
        cluster_shards = None
        if router is not None:
            # semantic clusters are SKEWED by nature: an over-cap cluster
            # would break the per-shard broadcast bound, so it hash-splits
            # into ceil(bytes/target) sub-shards (degrade-not-die, the
            # semdedup auto-split shape).  Routing stays cluster-level: a
            # query routed to cluster c searches every sub-shard of c.
            bases, nsubs = [], []
            nxt = 0
            for c in range(len(router)):
                n_sub = max(
                    1,
                    math.ceil(counts.get(c, 0) * per_row / target_shard_bytes),
                )
                bases.append(nxt)
                nsubs.append(n_sub)
                nxt += n_sub
            cluster_shards = [
                list(range(b, b + ns)) for b, ns in zip(bases, nsubs)
            ]
            if nxt > len(router):   # at least one cluster actually split
                sharded = sharded.withColumn(
                    "__shard", _cluster_to_shard_expr(bases, nsubs)
                )
                counts = {
                    int(r["__shard"]): int(r["cnt"])
                    for r in sharded.groupBy("__shard")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                }
                n_shards = nxt
        shard_bytes = [counts.get(s, 0) * per_row for s in range(n_shards)]
        _mark("shard_assign_counts_sec")
        if not counts:   # wholly-empty corpus: every shard is a placeholder
            if routed_cache is not None:
                routed_cache.unpersist()
            return cls([None] * n_shards, config, shard_bytes, router, cluster_shards)

        # -- materialize the sharded corpus PHYSICALLY partitioned by
        # __shard (ONE write job), and read it back ----------------------
        # The per-shard frames below are filters over this table, and
        # parquet partition pruning makes each shard's broadcast collect
        # read ONLY its own directory — the r7 layout (filters over one
        # unpartitioned localCheckpoint) paid a full-corpus scan per shard
        # touched, linear-in-shard-count work at 10^5 shards.  Bonus: once
        # the parquet is the source of truth nothing references the
        # eager checkpoint's full-corpus blocks after build returns, so
        # the ContextCleaner can reclaim them.
        from knowhere_spark.session import session_spill_dir

        vec_type = base.schema["vec"].dataType
        spill = session_spill_dir(spark, "sharded_hnsw")
        # repartition ON the partition column first: a partitionBy write
        # from T upstream tasks emits n_shards x T files (4096 tiny files
        # at 128 shards x 32 tasks — every later full scan becomes one
        # task per file, and 10^5 shards would mean millions of files).
        # Hash-repartitioned, each shard's rows sit in ONE task → ONE
        # file per shard, which is also the natural pruned-collect grain.
        n_write_parts = max(n_shards, spark.sparkContext.defaultParallelism)
        sharded.repartition(n_write_parts, "__shard").write.mode(
            "overwrite"
        ).partitionBy("__shard").parquet(f"{spill}/vectors")
        vec_schema = StructType(
            [
                StructField("id", LongType()),
                StructField("vec", vec_type),
                StructField("__shard", IntegerType()),
            ]
        )
        sharded = spark.read.schema(vec_schema).parquet(f"{spill}/vectors")
        _check_spill_readback(spark, sharded, sum(counts.values()), spill)
        if routed_cache is not None:
            routed_cache.unpersist()   # the spill parquet is now the source
        _mark("vectors_write_sec")

        # -- per-shard coarse centroids from ONE stratified sample --------
        # nlist_s = shard_n / cell-target; sample ~4x that per shard (the
        # single-graph build also picks random sample rows as centroids,
        # hnsw.py:406-412) — driver footprint is O(total_cells * dim)
        nlist = {
            s: max(4, c // _CELL_TARGET_ROWS) for s, c in counts.items() if c > 0
        }
        fractions = {
            s: min(1.0, max(4 * nlist[s], 64) / counts[s])
            for s in nlist
        }
        # CONTENT-keyed sampling (r10): sampleBy seeds per PARTITION, and
        # the spill read-back's row->partition mapping is reducer-arrival
        # order — the sampled SET (and hence the cell centroids, block
        # membership, pruned edges and beam recall) wiggled run-to-run
        # (±0.05 measured on the tie-heavy bench corpus).  An id-hash
        # threshold is a pure function of the data, and the collected
        # rows are sorted by (shard, id) so the seeded rng.choice below
        # sees positions independent of arrival order too.
        _SCALE = 1 << 20
        thr_map = F.create_map(
            *[
                x
                for s in nlist
                for x in (
                    F.lit(int(s)),
                    F.lit(int(fractions[s] * _SCALE)),
                )
            ]
        )
        samp = sharded.filter(
            F.pmod(F.xxhash64(F.col("id"), F.lit(42)), F.lit(_SCALE))
            < thr_map[F.col("__shard")]
        )
        try:
            tbl = samp.select("__shard", "id", "vec").toArrow()
            s_arr = tbl.column(0).combine_chunks().to_numpy(zero_copy_only=False)
            id_arr = tbl.column(1).combine_chunks().to_numpy(zero_copy_only=False)
            lst = tbl.column(2).combine_chunks()
            flat = lst.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            S = flat.reshape(len(s_arr), -1) if len(s_arr) else flat.reshape(0, dim)
        except Exception:
            rows = samp.select("__shard", "id", "vec").collect()
            s_arr = np.array([r["__shard"] for r in rows], dtype=np.int64)
            id_arr = np.array([r["id"] for r in rows], dtype=np.int64)
            S = np.array([r["vec"] for r in rows], dtype=np.float64)
            del rows
        if len(s_arr):
            order = np.lexsort((id_arr, s_arr))
            s_arr, S = s_arr[order], S[order]
        rng = np.random.default_rng(42)
        cents: dict[int, np.ndarray] = {}
        for s in nlist:
            Ss = S[s_arr == s]
            if len(Ss) == 0:
                # pathological under-sample: one zero centroid => the whole
                # shard becomes one cell (local KNN over the full shard —
                # bounded by the shard-size contract)
                cents[s] = np.zeros((1, dim), dtype=np.float64)
            else:
                pick = rng.choice(len(Ss), size=min(nlist[s], len(Ss)), replace=False)
                cents[s] = Ss[pick]
        _mark("cell_sample_sec")

        # -- the shared build kernels over every shard at once: top-2
        # cells within each row's shard, per-(shard, cell) local KNN, one
        # dedup + M-prune.  ONE write job builds every shard's edges,
        # physically partitioned by __shard — each shard's CSR collect
        # reads only its directory (repartition first: one file per
        # shard, see the vectors write); that exchange is load-bearing at
        # 10^5 shards.
        raw_edges = local_knn_edges(
            assign_cells(sharded, cents), metric, config.M, int(config.efConstruction)
        )
        prune_edges(raw_edges, metric, config.M).repartition(
            n_write_parts, "__shard"
        ).write.mode("overwrite").partitionBy("__shard").parquet(f"{spill}/edges")
        edge_schema = StructType(
            [
                StructField("src", LongType()),
                StructField("dst", LongType()),
                StructField("dist", DoubleType()),
                StructField("__shard", IntegerType()),
            ]
        )
        edges_all = spark.read.schema(edge_schema).parquet(f"{spill}/edges")
        _mark("edges_build_write_sec")

        # entry points per shard in one pass: the deterministic
        # pmod-then-id top-8 the single-graph build uses (hnsw.py:488-491)
        entries_df = topk_per_key(
            sharded.select(
                "__shard", "id", F.pmod(F.col("id"), F.lit(997)).alias("__o")
            ),
            "__shard",
            "__o",
            8,
            ascending=True,
            tie_breaker="id",
        )
        entry_by_shard: dict[int, list[int]] = {}
        for r in entries_df.select("__shard", "id", "rank").collect():
            entry_by_shard.setdefault(int(r["__shard"]), []).append(
                (int(r["rank"]), int(r["id"]))
            )

        shards: list[HNSWIndex | None] = []
        for s in range(n_shards):
            if counts.get(s, 0) == 0:
                shards.append(None)
                continue
            vecs = sharded.filter(F.col("__shard") == s).drop("__shard")
            edges = edges_all.filter(F.col("__shard") == s).drop("__shard")
            entry_ids = [i for _, i in sorted(entry_by_shard.get(s, []))]
            shards.append(HNSWIndex(vecs, edges, config, entry_ids))
        idx = cls(shards, config, shard_bytes, router, cluster_shards)
        # partitioned-table handles: waves batch-collect graph artifacts
        # through these with one isin-pruned job per table (_prefetch_wave)
        idx._vec_tbl = sharded
        idx._edge_tbl = edges_all
        idx._spill_dir = spill   # build-owned scratch; see destroy()
        _mark("entries_sec")
        idx.build_stages = _stages   # per-phase wall (guide §1: measure)
        return idx

    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "ShardedHNSWIndex":
        """``Add`` (index_node.h:120-121): new rows route to their shard
        by the same id hash used at build, each shard takes its batch
        through :meth:`HNSWIndex.add` (bridge-link insert, no retrain).

        The returned index is a lazy VIEW over this index's underlying
        storage (it copies no data and owns no spill) — it stops
        working if the parent is :meth:`destroy`\\ ed; ``save()`` it to
        give it independent storage."""
        n_shards = len(self.shards)
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if self.router is not None:
            # semantic index: new rows go to their nearest-router cluster,
            # then through the same cluster->shard split the build used
            new = _route_to_shards(
                new, self.router, MetricType(self.config.metric_type)
            )
            cs = self.cluster_shards
            if cs is not None and len(self.shards) > len(self.router):
                bases = [lst[0] for lst in cs]
                nsubs = [len(lst) for lst in cs]
                new = new.withColumn(
                    "__shard", _cluster_to_shard_expr(bases, nsubs)
                )
        else:
            new = new.withColumn(
                "__shard", F.pmod(F.xxhash64("id"), F.lit(n_shards)).cast("int")
            )
        hit = {
            int(r["__shard"])
            for r in new.select("__shard").distinct().collect()
        }
        shards = []
        for s, shard in enumerate(self.shards):
            if s in hit:
                part = new.filter(F.col("__shard") == s).drop("__shard")
                # first rows for a previously-empty shard: build its graph
                shards.append(
                    HNSWIndex.build(part, self.config) if shard is None
                    else shard.add(part)
                )
            else:
                shards.append(shard)
        # carry the build-time size estimates (adds are small batches —
        # wave sizing only needs the order of magnitude)
        return ShardedHNSWIndex(
            shards, self.config, list(self.shard_bytes), self.router,
            self.cluster_shards,
        )

    # -- waved execution ------------------------------------------------------
    def _waves(
        self, budget: int | None, only: set[int] | None = None
    ) -> list[list[tuple[int, HNSWIndex]]]:
        """Partition live shards into memory-budgeted waves of
        ``(shard_index, shard)``: each wave's estimated resident artifact
        bytes stay under ``budget`` (always at least one shard per wave —
        the old sequential contract is the ``budget <= shard_bytes``
        degenerate case).  ``only`` restricts to a routed shard subset."""
        budget = budget if budget is not None else _WAVE_BUDGET_BYTES
        waves: list[list[tuple[int, HNSWIndex]]] = []
        cur: list[tuple[int, HNSWIndex]] = []
        cur_bytes = 0
        for i, s in enumerate(self.shards):
            if s is None or (only is not None and i not in only):
                continue
            b = self.shard_bytes[i] if self.shard_bytes[i] else _BROADCAST_MAX_BYTES
            if cur and cur_bytes + b > budget:
                waves.append(cur)
                cur, cur_bytes = [], 0
            cur.append((i, s))
            cur_bytes += b
        if cur:
            waves.append(cur)
        return waves

    def _prefetch_wave(self, wave) -> None:
        """Collect EVERY un-memoized graph artifact in the wave with ONE
        Spark job per table (vectors, edges) instead of 2-3 jobs per
        shard — the per-touched-shard fixed cost the 1M SCALE probe
        measured at ~0.6 s/shard (job scheduling + per-shard Arrow
        collects dominate routed-search wall at low query density).
        Reads the ``__shard``-partitioned tables with an ``isin`` filter
        (partition-pruned to exactly the wave's directories), splits
        driver-side, and installs each shard's broadcast exactly as
        :meth:`HNSWIndex._graph_bc` would have built it.  Memory is
        bounded by the wave: this collects only what the wave was sized
        to hold resident anyway.

        No-ops (per-shard lazy collect takes over) when the index has no
        partitioned-table handle (``add()``-grown or legacy-layout
        indexes) or when fewer than two shards need collecting."""
        vec_tbl = getattr(self, "_vec_tbl", None)
        edge_tbl = getattr(self, "_edge_tbl", None)
        if vec_tbl is None or edge_tbl is None:
            return
        need = [(i, s) for i, s in wave if s._bc_graph is None]
        if len(need) < 2:
            return
        ids_in = [int(i) for i, _ in need]
        try:
            # overlap the two collect jobs (guide §2.6): the edge scan
            # runs in a driver thread while the vector scan runs here —
            # the cold routed search pays max() instead of sum() of the
            # two job walls
            from pyspark import InheritableThread

            et_box: list = [None]

            def _collect_edges() -> None:
                et_box[0] = edge_tbl.filter(
                    F.col("__shard").isin(ids_in)
                ).select("__shard", "src", "dst").toArrow()

            t = InheritableThread(target=_collect_edges)
            t.start()
            try:
                vt = vec_tbl.filter(F.col("__shard").isin(ids_in)).select(
                    "__shard", "id", "vec"
                ).toArrow()
            finally:
                # a failed vector collect must not orphan the edge job:
                # the per-shard fallback would run it a second time
                t.join()
            et = et_box[0]
            if et is None:
                raise RuntimeError("edge collect failed")
        except Exception:
            return   # Arrow path unavailable → per-shard collects
        v_sh = vt.column(0).combine_chunks().to_numpy(zero_copy_only=False)
        v_id = vt.column(1).combine_chunks().to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        lst = vt.column(2).combine_chunks()
        flat = lst.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
        X_all = flat.reshape(len(v_id), -1) if len(v_id) else flat.reshape(0, 0)
        e_sh = et.column(0).combine_chunks().to_numpy(zero_copy_only=False)
        e_src = et.column(1).combine_chunks().to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        e_dst = et.column(2).combine_chunks().to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        for i, shard in need:
            vm, em = v_sh == i, e_sh == i
            shard._broadcast_graph(v_id[vm], X_all[vm], e_src[em], e_dst[em])

    def _tagged_queries(
        self, wave, routed, query_df, query_id_col, query_vec_col
    ) -> DataFrame:
        """``(query_id, vec, __shard)`` rows for the batched beam:
        routed queries expand to their clusters' in-wave sub-shards via
        a broadcast mapping join; unrouted queries cross-join the wave's
        shard ids (every query searches every shard — the same work the
        per-shard path does, expressed as rows)."""
        spark = query_df.sparkSession
        if routed is not None:
            in_wave = {i for i, _ in wave}
            mapping = spark.createDataFrame(
                [
                    (c, sh)
                    for c, lst in enumerate(
                        self.cluster_shards
                        or [[i] for i in range(len(self.router))]
                    )
                    for sh in lst
                    if sh in in_wave
                ],
                "cell_id int, __shard int",
            )
            return routed.join(F.broadcast(mapping), "cell_id").select(
                "query_id", F.col("qvec").alias("vec"), "__shard"
            )
        shards_df = spark.createDataFrame(
            [(i,) for i, _ in wave], "__shard int"
        )
        return query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("vec"),
        ).crossJoin(F.broadcast(shards_df))

    def _run_waves(
        self, waves, run_one, prefetch: bool = False
    ) -> tuple[list[DataFrame], bool]:
        """Run ``run_one(shard_index, shard) -> DataFrame`` across
        shards, one wave at a time.  Returns ``(partials,
        materialized)``.

        MULTI-wave: shards within a wave run concurrently
        (thread-submitted Spark jobs), each partial cached+materialized
        before the wave completes so resident memory is bounded by the
        wave, and each shard's graph broadcast is released the moment
        its partial materializes (the budget forces eviction).

        ONE wave (the common serving case): everything fits the budget
        simultaneously, so the partials stay LAZY — the caller's final
        merge evaluates every shard's beam in a single Spark job instead
        of one cache+count job per shard, and the graph broadcasts stay
        memoized for repeat searches (the serving amortization the
        single-graph ``HNSWIndex`` gets from ``_graph_bc``).

        ``prefetch`` batches the wave's graph collects into one job per
        table first (broadcast-strategy searches only — the bfs path
        never ships the graph)."""

        def materialize(item, release: bool) -> DataFrame:
            i, shard = item
            res = run_one(i, shard).cache()
            res.count()                       # materialize before releasing
            if release:
                shard.release()               # free executor graph copies
            return res

        def materialize_in_thread(item, release: bool) -> DataFrame:
            # wave worker threads must not set JVM thread-local job
            # properties (py4j non-pinned threads cross-label concurrent
            # jobs and can leak a caller's job-group/cancellation
            # properties across threads) — keep only the metrics labels
            from knowhere_spark.tracing import suppress_job_description

            with suppress_job_description():
                return materialize(item, release)

        if len(waves) == 1:
            wave = waves[0]
            if prefetch:
                self._prefetch_wave(wave)
            # lazy plans: broadcast collects happen at plan time (already
            # batched by the prefetch), beams at the caller's one action
            return [run_one(i, s) for i, s in wave], False

        partials: list[DataFrame] = []
        for wave in waves:
            if prefetch:
                self._prefetch_wave(wave)
            if len(wave) == 1:
                partials.append(materialize(wave[0], True))
                continue
            # width-capped: a wave of 512 byte-tiny shards must not spawn
            # 512 job-submitting threads — beyond ~2x task slots extra
            # threads only add py4j/scheduler contention
            width = min(
                len(wave),
                2 * wave[0][1].vectors.sparkSession.sparkContext.defaultParallelism,
            )
            with ThreadPoolExecutor(max_workers=width) as ex:
                partials.extend(
                    ex.map(lambda it: materialize_in_thread(it, True), wave)
                )
        return partials, True

    def release(self) -> None:
        """Drop every shard's memoized graph broadcast.  Single-wave
        searches deliberately RETAIN the broadcasts they made (serving
        amortization within ``wave_memory_bytes``); a long-lived session
        serving many indexes calls this to bound total resident executor
        memory — up to one wave budget per index otherwise."""
        for s in self.shards:
            if s is not None:
                s.release()

    def destroy(self) -> None:
        """Release broadcasts AND delete the build-owned spill parquet.

        Each ``build()`` writes a corpus-sized vectors/edges scratch copy
        under the session spill dir; without this call a long-lived
        session that rebuilds indexes pins one corpus copy per build
        until interpreter exit.  Call when the index is retired — it is
        unusable afterwards, **and so is every index derived from it via
        :meth:`add`**: derived indexes are lazy views over this index's
        spill parquet (they copy neither the data nor ownership), so
        destroy only after every derivative is retired too — or
        ``save()`` a derivative first if it must outlive its parent.
        Loaded indexes (``load()``) own no spill and only release
        broadcasts."""
        self.release()
        spill = getattr(self, "_spill_dir", None)
        self._vec_tbl = self._edge_tbl = None
        self._spill_dir = None
        if not spill:
            return
        try:
            # Hadoop FS handles every scheme spill.dir can point at
            # (HDFS/S3/file); fall back to shutil for plain local paths
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(spill)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(p, True)
        except Exception:
            import shutil

            shutil.rmtree(spill, ignore_errors=True)

    def _route(self, query_df, probe_shards, query_id_col, query_vec_col):
        """Shard routing of :meth:`search` and :meth:`range_search`:
        ``(routed, only, shard_queries)``.  With ``probe_shards``
        (semantic indexes only) ``routed`` caches each query's
        ``probe_shards`` nearest router clusters as ``(query_id, qvec,
        cell_id)`` rows, ``only`` is the set of live shards any query
        routes to (a routed cluster means ALL its hash-split sub-shards),
        and ``shard_queries(i)`` is shard ``i``'s ``(frame, id column, vec
        column)``.  Without it every live shard takes every query."""
        if probe_shards is None:
            return None, None, lambda i: (query_df, query_id_col, query_vec_col)
        if self.router is None:
            raise ValueError(
                "probe_shards requires a semantic-sharded index "
                "(build with shard_by='semantic')"
            )
        from knowhere_spark.operators.ivf import FlatCodec, probe_assign_df

        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        routed = probe_assign_df(
            queries, self.router, FlatCodec(MetricType(self.config.metric_type)),
            int(probe_shards),
        ).cache()
        cs = self.cluster_shards or [[i] for i in range(len(self.router))]
        cluster_of = {sh: c for c, lst in enumerate(cs) for sh in lst}
        hit_clusters = {
            int(r["cell_id"])
            for r in routed.select("cell_id").distinct().collect()
        }
        only = {
            sh
            for c in hit_clusters
            for sh in cs[c]
            if sh < len(self.shards) and self.shards[sh] is not None
        }

        def shard_queries(i: int):
            rows = routed.filter(F.col("cell_id") == cluster_of[i])
            return rows.select("query_id", F.col("qvec").alias("vec")), "query_id", "vec"

        return routed, only, shard_queries

    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        ef: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        filter_expr=None,
        strategy: str = "broadcast",
        wave_memory_bytes: int | None = None,
        probe_shards: int | None = None,
    ) -> DataFrame:
        """Per-shard beam (``strategy='broadcast'`` default) in
        memory-budgeted concurrent waves (``wave_memory_bytes``, default
        4 GiB of resident shard artifacts; ``'bfs'`` routes each shard
        through the frontier-join path with the float64 exact scorer),
        final top-k merge.

        ``probe_shards`` (semantic indexes only): beam each query against
        only its ``probe_shards`` nearest shards by router distance — the
        IVF-nprobe tradeoff lifted to the shard level, the serving shape
        at 10⁵ shards.  Shards no query routes to are never touched (no
        graph broadcast, no job).

        Broadcast retention: when the searched shards fit ONE wave, their
        graph broadcasts stay memoized after this call (repeat searches
        skip the collect + re-broadcast; residency stays under
        ``wave_memory_bytes``).  Call :meth:`release` to drop them — a
        session serving many indexes otherwise accumulates up to one wave
        budget of resident executor broadcasts per index.

        Ties across shards break by ``(distance, neighbor_id)`` — the
        engine-wide ordering contract (FIXTURES.md T7)."""
        k = k if k is not None else self.config.k
        metric = MetricType(self.config.metric_type)

        # span open (tracing.py; per-shard beams carry their own spans —
        # this one records the shard-level routing decision)
        import time as _time

        from knowhere_spark.tracing import OpMetrics, op_description

        _t0 = _time.monotonic()
        _stages: dict[str, float] = {}

        def _mark(label: str) -> None:
            # per-phase wall (guide §1: measure) — same machinery as
            # build_stages; read via idx.search_stages after a search
            nonlocal _t0
            now = _time.monotonic()
            _stages[label] = round(now - _t0, 3)
            _t0 = now

        self.search_stages = _stages
        n_live = sum(s is not None for s in self.shards)
        m = OpMetrics(
            op="SHARDED_HNSW.search", k=k, n_shards=len(self.shards),
            probe_shards=probe_shards,
        )
        self.last_metrics = m

        routed, only, shard_queries = self._route(
            query_df, probe_shards, query_id_col, query_vec_col
        )
        if routed is not None:
            _mark("routing_sec")

        def run_one(i: int, shard: HNSWIndex) -> DataFrame:
            qdf, qid, qvec = shard_queries(i)
            return shard.search(
                qdf, k, ef=ef, strategy=strategy,
                query_id_col=qid, query_vec_col=qvec,
                filter_expr=filter_expr,
            ).drop("rank")

        waves = self._waves(wave_memory_bytes, only)
        m["shards_searched"] = sum(len(w) for w in waves)
        m["waves"] = len(waves)
        m["description"] = op_description(
            query_df.sparkSession.sparkContext, m["op"], k=k,
            shards=f"{m['shards_searched']}/{n_live}",
        )

        # single-wave broadcast search → ONE batched beam job (the
        # many-small-shards serving path; per-shard jobs remain for
        # multi-wave eviction, bfs scorers, and bitset filters, whose
        # masks are per-shard artifacts)
        if (
            strategy == "broadcast"
            and filter_expr is None
            and len(waves) == 1
            and len(waves[0]) > 1
        ):
            wave = waves[0]
            spark = query_df.sparkSession
            self._prefetch_wave(wave)
            _mark("prefetch_sec")
            bc_map = {i: s._graph_bc() for i, s in wave}
            _mark("bc_install_sec")
            eff_ef = max(ef if ef is not None else self.config.ef, k)
            tagged = self._tagged_queries(
                wave, routed, query_df, query_id_col, query_vec_col
            )
            m["nodes_scored"] = spark.sparkContext.accumulator(0)
            # one job whose tasks interleave all (query, shard) work — the
            # 1M probe measured per-shard plans/jobs at ~0.5 s/shard, 10×
            # the beam work at 170 probed shards
            partials_df = beam_search(
                tagged, bc_map, _dense_scorer, k=k, ef=eff_ef,
                is_sim=metric.is_similarity, score_acc=m["nodes_scored"],
            ).drop("rank")
            out = topk_per_key(
                partials_df, "query_id", "distance", k,
                ascending=not metric.is_similarity,
                tie_breaker="neighbor_id",
            ).localCheckpoint(eager=True)
            _mark("beam_exec_sec")
            if routed is not None:
                routed.unpersist()
            return out

        partials, materialized = self._run_waves(
            waves, run_one, prefetch=(strategy == "broadcast")
        )
        if not partials:   # wholly-empty index: no neighbors
            from knowhere_spark.operators.brute_force import RESULT_SCHEMA

            if routed is not None:
                routed.unpersist()
            # build a FRESH schema: StructType.add mutates in place, and
            # RESULT_SCHEMA is shared by every brute-force/IVF kernel
            ranked = StructType(
                list(RESULT_SCHEMA.fields) + [StructField("rank", IntegerType())]
            )
            return query_df.sparkSession.createDataFrame([], ranked)
        merged = _tree_union(partials)
        out = topk_per_key(
            merged, "query_id", "distance", k,
            ascending=not metric.is_similarity, tie_breaker="neighbor_id",
        )
        # materialize the merged top-k (the ONE action of a lazy
        # single-wave search), then drop whatever the waves pinned —
        # otherwise every search leaks cached state for the session
        out = out.localCheckpoint(eager=True)
        if routed is not None:
            routed.unpersist()
        if materialized:
            for p in partials:
                p.unpersist()
        return out

    def range_search(
        self,
        query_df: DataFrame,
        config=None,
        *,
        ef: int | None = None,
        filter_expr=None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        wave_memory_bytes: int | None = None,
        probe_shards: int | None = None,
    ) -> DataFrame:
        """``RangeSearch`` across shards: per-shard beam + bounds in the
        same memory-budgeted waves as :meth:`search`, plain union (shards
        are id-disjoint so no dedup is needed); ``range_search_k``
        truncation applies per query AFTER the union — a per-shard cap
        would overshoot the global contract.  ``probe_shards`` routes
        like :meth:`search` (semantic indexes only) — approximate in the
        same direction: a qualifying neighbor in an unprobed cluster is
        missed, the IVF-nprobe contract."""
        import dataclasses

        cfg = config or self.config
        cap = int(getattr(cfg, "range_search_k", 0) or 0)
        shard_cfg = (
            dataclasses.replace(cfg, range_search_k=0) if cap > 0 else cfg
        )

        routed, only, shard_queries = self._route(
            query_df, probe_shards, query_id_col, query_vec_col
        )

        def run_one(i: int, shard: HNSWIndex) -> DataFrame:
            qdf, qid, qvec = shard_queries(i)
            return shard.range_search(
                qdf, shard_cfg, ef=ef, strategy="broadcast",
                filter_expr=filter_expr,
                query_id_col=qid, query_vec_col=qvec,
            )

        waves = self._waves(wave_memory_bytes, only)
        if filter_expr is None and len(waves) == 1 and len(waves[0]) > 1:
            # single-wave batched range: the per-shard range path is
            # beam(k=ef=bounds_ef) + half-open bounds (hnsw.py
            # range_search), so the ONE-job batched beam serves it too —
            # bounds filter after, per-query cap post-union as always
            from knowhere_spark.operators.topk import apply_range_bounds

            wave = waves[0]
            self._prefetch_wave(wave)
            bc_map = {i: s._graph_bc() for i, s in wave}
            bounds_ef = (
                ef if ef is not None
                else max(self.config.ef, 4 * self.config.k)
            )
            tagged = self._tagged_queries(
                wave, routed, query_df, query_id_col, query_vec_col
            )
            beam = beam_search(
                tagged, bc_map, _dense_scorer, k=bounds_ef, ef=bounds_ef,
                is_sim=MetricType(self.config.metric_type).is_similarity,
            ).drop("rank")
            parts = [apply_range_bounds(beam, shard_cfg)]
            materialized = False
        else:
            parts, materialized = self._run_waves(waves, run_one, prefetch=True)
        if not parts:   # wholly-empty index
            from knowhere_spark.operators.brute_force import RESULT_SCHEMA

            if routed is not None:
                routed.unpersist()
            return query_df.sparkSession.createDataFrame([], RESULT_SCHEMA)
        out = _tree_union(parts)
        if cap > 0:
            _, _, sim = cfg.range_bounds()
            out = topk_per_key(
                out, "query_id", "distance", cap,
                ascending=not sim, tie_breaker="neighbor_id",
            ).drop("rank")
        out = out.localCheckpoint(eager=True)
        if routed is not None:
            routed.unpersist()
        if materialized:
            for p in parts:
                p.unpersist()
        return out

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` across shards.  Indexes holding the
        ``__shard``-partitioned table handle answer with ONE broadcast
        semi-join against it (r8; the per-shard form is n_shards joins —
        a 10⁵-join plan at full scale); otherwise each shard's raw table
        semi-joins the id list and the O(log n) tree union merges (ids
        are disjoint across shards by construction, so both are exact)."""
        live = [s for s in self.shards if s is not None]
        if not live:
            return ids_df.sparkSession.createDataFrame(
                [], "id long, vec array<float>"
            )
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        vec_tbl = getattr(self, "_vec_tbl", None)
        if vec_tbl is not None:
            return vec_tbl.select("id", "vec").join(F.broadcast(ids), "id")
        return _tree_union(
            [s.get_vector_by_ids(ids_df, id_col=id_col) for s in live]
        )

    def save(self, path: str) -> None:
        """Persist as TWO ``partitionBy('__shard')`` writes (vectors,
        edges) plus the manifest — job count constant in shard count.
        The r7 layout looped ``shard.save()`` per shard: n_shards
        sequential write jobs, the same linear-in-shard-count pathology
        the r7 build rewrite removed from construction.  Per-shard
        entry points ride the manifest (small: 8 ids per shard)."""
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        live = [(i, s) for i, s in enumerate(self.shards) if s is not None]
        store.write_manifest(
            {
                "index_type": "SHARDED_HNSW",
                "layout": "partitioned",
                "metric_type": self.config.metric_type.value,
                "M": self.config.M,
                "ef": self.config.ef,
                "n_shards": len(self.shards),
                "empty_shards": [
                    i for i, s in enumerate(self.shards) if s is None
                ],
                "shard_bytes": [
                    int(b) if b else 0 for b in self.shard_bytes
                ],
                "shard_by": "semantic" if self.router is not None else "hash",
                "router": (
                    [[float(x) for x in c] for c in self.router]
                    if self.router is not None else None
                ),
                "cluster_shards": self.cluster_shards,
                "entry_ids_by_shard": {
                    str(i): [int(e) for e in s.entry_ids] for i, s in live
                },
            }
        )
        if not live:
            return
        sc = self.shards[live[0][0]].vectors.sparkSession.sparkContext
        n_parts = max(len(live), sc.defaultParallelism)
        vec_tbl = getattr(self, "_vec_tbl", None)
        edge_tbl = getattr(self, "_edge_tbl", None)
        if vec_tbl is not None and edge_tbl is not None:
            # build()/load() keep single __shard-partitioned table
            # handles — writing them directly is one scan node each; the
            # per-shard union below would be a 10^5-LEAF Catalyst plan
            # at the module's target shard counts (tree depth is
            # bounded, node count is not)
            store.write_table(
                "vectors",
                vec_tbl.select("id", "vec", "__shard").repartition(
                    n_parts, "__shard"
                ),
                partition_by=["__shard"],
            )
            store.write_table(
                "edges",
                edge_tbl.select("src", "dst", "dist", "__shard").repartition(
                    n_parts, "__shard"
                ),
                partition_by=["__shard"],
            )
            return
        store.write_table(
            "vectors",
            _tree_union(
                [
                    s.vectors.select("id", "vec").withColumn(
                        "__shard", F.lit(int(i))
                    )
                    for i, s in live
                ]
            ).repartition(n_parts, "__shard"),   # one file per shard
            partition_by=["__shard"],
        )
        store.write_table(
            "edges",
            _tree_union(
                [
                    s.edges.select("src", "dst", "dist").withColumn(
                        "__shard", F.lit(int(i))
                    )
                    for i, s in live
                ]
            ).repartition(n_parts, "__shard"),
            partition_by=["__shard"],
        )

    @classmethod
    def load(cls, spark, path: str) -> "ShardedHNSWIndex":
        """Open a saved index.  The partitioned layout loads as pruned
        filters over the two partitioned tables (a shard's collect reads
        only its ``__shard=i`` directory); the legacy per-shard-directory
        layout (pre-r8) still reads via :meth:`HNSWIndex.load`."""
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        empty = set(m.get("empty_shards", []))
        cfg = HnswConfig(
            metric_type=MetricType(m["metric_type"]), M=int(m["M"]), ef=int(m["ef"])
        )
        n_shards = int(m["n_shards"])
        if m.get("layout") == "partitioned":
            entry_by_shard = {
                int(k): [int(e) for e in v]
                for k, v in m.get("entry_ids_by_shard", {}).items()
            }
            shards: list[HNSWIndex | None] = [None] * n_shards
            if entry_by_shard:
                # partition-column type pinned: directory names are ints,
                # but an explicit cast keeps the filter comparison exact
                vec_tbl = store.read_table(spark, "vectors").withColumn(
                    "__shard", F.col("__shard").cast("int")
                )
                edge_tbl = store.read_table(spark, "edges").withColumn(
                    "__shard", F.col("__shard").cast("int")
                )
                for i in range(n_shards):
                    if i in empty:
                        continue
                    shards[i] = HNSWIndex(
                        vec_tbl.filter(F.col("__shard") == i).drop("__shard"),
                        edge_tbl.filter(F.col("__shard") == i).drop("__shard"),
                        cfg,
                        entry_by_shard.get(i, []),
                    )
        else:
            shards = [
                None if i in empty
                else HNSWIndex.load(spark, f"{path}/shard={i}")
                for i in range(n_shards)
            ]
        shard_bytes = [int(b) or None for b in m.get("shard_bytes", [])] or None
        router = m.get("router")
        router = np.array(router, dtype=np.float64) if router else None
        idx = cls(shards, cfg, shard_bytes, router, m.get("cluster_shards"))
        if m.get("layout") == "partitioned" and any(
            s is not None for s in shards
        ):
            idx._vec_tbl = vec_tbl
            idx._edge_tbl = edge_tbl
        return idx
