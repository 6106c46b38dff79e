"""SemDeDup — semantic deduplication by embedding clustering (Abbas et
al. 2023, arXiv:2303.09540; public paper).

The published protocol: k-means the normalized embeddings; inside each
cluster, order items and drop every item whose max cosine similarity to
ANY earlier item exceeds ``eps`` — exactly one survivor per semantic
duplicate group.  The keep rule orders by cosine-to-centroid ASCENDING
(the paper's best-performing variant keeps the *low* centroid-similarity
example of each group), with id as a deterministic tie-break.

Spark shape (the 100 TB story):

- centroid training on a capped sample (same contract as IVF build —
  faiss's 256-points-per-centroid cap), never a full-corpus fit;
- ONE groupBy(cluster) shuffle; no all-pairs join anywhere;
- per-cluster pairwise work runs as a blocked numpy GEMM inside
  ``applyInArrow`` — peak task memory is O(block_rows x cluster_size)
  floats, never cluster_size**2;
- total pairwise FLOPs are O(n**2 / k): size ``num_clusters`` so the
  mean cluster is a few thousand rows (the paper uses k ~ 0.1% of n),
  which bounds both compute and the skewed-cluster tail.  Clusters that
  exceed ``max_cluster_rows`` are AUTO-SPLIT (r5): a second-level
  k-means sub-clusters the offender (trained on a capped sample, new
  cluster ids allocated past the original k), and anything still over
  cap after that — an exactly-identical-vector flood, which k-means
  cannot separate — falls back to a deterministic id-hash bucket split.
  A 100 TB run therefore degrades instead of dying on one skewed
  semantic ball.  Keep-rule semantics across sub-clusters: each
  sub-cluster sweeps independently, so one representative survives PER
  SUB-CLUSTER — the same semantics as having chosen a finer k for that
  region (the paper's k is a quality knob, not a correctness contract);
  duplicates split across a sub-cluster boundary may both survive, upper
  -bounded by the number of sub-clusters.  ``auto_split_clusters=False``
  restores the r4 raise.

Related in-repo operators: exact/LSH text dedup (operators/dedup.py),
embedding near-dup pairs (dedup.embedding_neardup_pairs — pairwise
output, no keep rule); SemDeDup is the keep-one-per-semantic-group
CORPUS FILTER over the same embedding space.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowhere_spark.functions.distance import norm_expr


def _normalized_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, vec)`` with unit-normalized vectors, zero vectors passed
    through unchanged (ANSI x/0 errors; one degenerate embedding must not
    kill a corpus-scale stage — it scores cosine 0 to everything →
    unique).

    The norm is materialized as its OWN column before the per-element
    divide: an aggregate inlined into a ``transform`` lambda is
    re-evaluated per element by Spark's interpreted higher-order-function
    path — measured ~40s vs ~1s for one pass over 100k x 64-dim rows."""
    n = norm_expr(F.col(vec_col))
    staged = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        n.alias("__n"),
    )
    return staged.select(
        "id",
        F.when(F.col("__n") == F.lit(0.0), F.col("__v"))
        .otherwise(F.transform("__v", lambda x: x / F.col("__n")))
        .alias("vec"),
    )

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cluster_id", T.IntegerType()),
        T.StructField("centroid_cos", T.DoubleType()),
        T.StructField("max_prior_cos", T.DoubleType()),  # NULL for the first item
        T.StructField("keep", T.BooleanType()),
    ]
)


def _cluster_pass(
    ids: np.ndarray,
    V: np.ndarray,
    centroid: np.ndarray,
    eps: float,
    block_rows: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The per-cluster SemDeDup sweep over L2-normalized rows ``V``.

    Returns (order-sorted ids, centroid_cos, max_prior_cos with -inf for
    the first item, keep).  Blocked so memory is O(block_rows * m).
    All arithmetic runs in V's dtype (float32 default; float64 under
    ``precise=True`` for oracle-grade reproducibility)."""
    cnorm = float(np.linalg.norm(centroid))
    cunit = centroid / cnorm if cnorm > 0 else centroid
    ccos = V @ cunit.astype(V.dtype)
    # ascending centroid-cos => the kept representative of each duplicate
    # group is its least-typical member (the paper's keep rule); id breaks
    # ties deterministically
    order = np.lexsort((ids, ccos))
    ids_s, V_s, ccos_s = ids[order], V[order], ccos[order]
    m = len(ids_s)
    max_prior = np.full(m, -np.inf, dtype=V.dtype)
    for s in range(0, m, block_rows):
        e = min(s + block_rows, m)
        blk = V_s[s:e]
        if s > 0:
            max_prior[s:e] = (blk @ V_s[:s].T).max(axis=1)
        # strictly-lower-triangular max inside the block
        C = blk @ blk.T
        C[np.triu_indices(e - s)] = -np.inf
        max_prior[s:e] = np.maximum(max_prior[s:e], C.max(axis=1))
    keep = max_prior < eps
    return ids_s, ccos_s, max_prior, keep


def _autosplit_overcap(
    assigned: DataFrame,
    cents: np.ndarray,
    cap: int,
    seed: int,
) -> tuple[DataFrame, np.ndarray]:
    """Two-level split of over-cap clusters (the degrade-not-die path).

    Level 2: per offender, k-means sub-centroids trained on a capped
    sample (new cluster ids allocated past ``len(cents)``); rows of the
    offender reassign to ``base + argmin_L2(sub)``.  Anything STILL over
    cap (k-means cannot separate exactly-identical vectors: every row
    ties and argmin lands on one sub) falls back to a deterministic
    id-hash bucket split whose bucket count guarantees the mean lands at
    cap/2.  Returns the reassigned frame + the grown centroid matrix
    (id-hash buckets inherit the parent centroid, so ``centroid_cos`` —
    and the sweep order — stay well-defined)."""
    from knowhere_spark.functions.distance import numpy_kmeans
    from knowhere_spark.session import collect_vec_matrix, train_sample

    spark = assigned.sparkSession
    target = max(1, cap // 2)
    # materialize the assignment ONCE before probing (ADVICE r5): the
    # over-cap count, each offender's sample-collect, and the reassign
    # pass all read `assigned` — on the raw lineage every one of those
    # actions re-ran the assignment GEMM over the full corpus
    assigned = assigned.localCheckpoint(eager=True)
    over = (
        assigned.groupBy("cluster_id").count().filter(F.col("count") > cap).collect()
    )
    if not over:
        return assigned, cents
    cents_list = [cents]
    next_id = len(cents)
    plans: dict[int, tuple[int, np.ndarray]] = {}
    for r in sorted(over, key=lambda r: int(r["cluster_id"])):
        cid, n = int(r["cluster_id"]), int(r["count"])
        k_sub = min(max(2, -(-n // target)), 4096)
        rows_df = assigned.filter(F.col("cluster_id") == cid).select("id", "vec")
        samp_n = min(n, 64 * k_sub)
        X = train_sample(rows_df, n, samp_n, seed=seed)
        if not len(X):
            # Bernoulli-style hash sampling can (rarely) return nothing;
            # the split must not divide by an empty matrix — take a
            # bounded head
            X = collect_vec_matrix(rows_df.limit(samp_n))
        X = np.nan_to_num(X, nan=0.0, posinf=0.0, neginf=0.0)
        sub = numpy_kmeans(X, min(k_sub, len(X)), iters=8, seed=seed)
        plans[cid] = (next_id, sub)
        cents_list.append(sub)
        next_id += len(sub)

    bc = spark.sparkContext.broadcast(plans)
    schema = assigned.schema

    def reassign(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix

        p = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cids = rb.column("cluster_id").to_numpy().copy()
            V = None
            for cid, (base, sub) in p.items():
                mask = cids == cid
                if not mask.any():
                    continue
                if V is None:
                    V = list_matrix(rb, "vec")
                Vm = np.nan_to_num(V[mask], nan=0.0, posinf=0.0, neginf=0.0)
                d = ((Vm[:, None, :] - sub[None, :, :]) ** 2).sum(axis=2)
                cids[mask] = base + d.argmin(axis=1)
            yield rb.set_column(
                rb.schema.get_field_index("cluster_id"), "cluster_id",
                pa.array(cids.astype(np.int32), type=pa.int32()),
            )

    # materialize the reassignment before the still-over probe — the
    # probe AND the caller's sweep both consume it
    assigned = assigned.mapInArrow(reassign, schema).localCheckpoint(eager=True)

    # level-3 guard: ids that are STILL over cap get the id-hash split
    still = (
        assigned.groupBy("cluster_id").count().filter(F.col("count") > cap).collect()
    )
    if still:
        cents_full = np.concatenate(cents_list)
        expr = F.col("cluster_id")
        extra = []
        for r in sorted(still, key=lambda r: int(r["cluster_id"])):
            cid, n = int(r["cluster_id"]), int(r["count"])
            nb = -(-n // target)
            expr = F.when(
                F.col("cluster_id") == cid,
                F.lit(next_id) + F.pmod(F.hash("id"), F.lit(nb)),
            ).otherwise(expr)
            extra.append(np.repeat(cents_full[cid][None, :], nb, axis=0))
            next_id += nb
        assigned = assigned.withColumn(
            "cluster_id", expr.cast("int")
        )
        cents_list.extend(extra)
    return assigned, np.concatenate(cents_list)


def semdedup(
    df: DataFrame,
    eps: float,
    *,
    num_clusters: int | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    block_rows: int = 1024,
    max_cluster_rows: int = 200_000,
    precise: bool = False,
    auto_split_clusters: bool = True,
) -> DataFrame:
    """Per-row SemDeDup verdicts: ``(id, cluster_id, centroid_cos,
    max_prior_cos, keep)``.  ``keep`` marks the one survivor per semantic
    duplicate group (pairwise cosine > ``eps``) under the paper's
    low-centroid-similarity keep rule.

    ``centroids``: pass a pinned ``(k, dim)`` array to make the whole
    operator deterministic end-to-end (tests / oracle gates); otherwise
    k-means trains on a capped sample with ``seed``.

    ``precise``: run the per-cluster GEMM in float64 (default float32 —
    2x the throughput).  Use for oracle comparison against engines that
    compute in double: float64 sum error ~1e-15 makes 4-decimal rounding
    and the (centroid_cos, id) sweep order bit-stable across engines.
    """
    from knowhere_spark.operators.ivf import _assign_cells
    from knowhere_spark.session import train_centroids

    base = _normalized_base(df, id_col, vec_col)
    known_n: int | None = None
    if centroids is None:
        n = base.count()
        known_n = n
        # the paper runs ~n/2200 clusters (50k over 110M); pairwise work is
        # O(n²/k) and the WORST cluster bounds wall-clock, so err toward
        # more clusters — skew makes the largest cluster several times the
        # mean (measured 30x wall between k=n/4096 and k=n/1024 at 100k
        # rows on replica-heavy data)
        k = num_clusters if num_clusters is not None else max(1, n // 1024)
        # dedup bucketing only needs ROUGH Voronoi cells, not search-grade
        # centroids: 64 samples/centroid and 8 Lloyd iters bucket dups
        # together just as well at a fraction of the train cost (256/20
        # spent 72s ON THE DRIVER at k=976 — a third of the 1M wall-clock):
        # the sample cap is max(8192, 64·k)
        head = base.select("vec").head()
        dim = len(head["vec"]) if head else 0
        centroids, _ = train_centroids(
            base, n, k, max(8192, 64 * k), dim, seed=seed, iters=8
        )
    cents = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))

    assigned = _assign_cells(base, cents).select(
        "id", F.col("cell_id").cast("int").alias("cluster_id"), "vec"
    )
    spark = df.sparkSession
    if auto_split_clusters and (known_n is None or known_n > max_cluster_rows):
        # one size probe (a groupBy count over the assignment pass) buys
        # the degrade-not-die guarantee; skipped when the WHOLE corpus
        # fits under the cap
        assigned, cents = _autosplit_overcap(
            assigned, cents, int(max_cluster_rows), seed
        )
    bc = spark.sparkContext.broadcast(cents)
    eps_f, blk, cap = float(eps), int(block_rows), int(max_cluster_rows)
    work_dtype = np.float64 if precise else np.float32

    def kernel(key, tbl):
        # Arrow-native (guide §4.2): the (m, dim) GEMM operand comes from
        # one flatten+reshape+astype over the vec column's values buffer
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, scalar_column

        m = tbl.num_rows
        cid = int(key[0].as_py())
        if m == 0:
            return pa.schema(
                [("id", pa.int64()), ("cluster_id", pa.int32()),
                 ("centroid_cos", pa.float64()), ("max_prior_cos", pa.float64()),
                 ("keep", pa.bool_())]
            ).empty_table()
        if m > cap:
            # unreachable with auto_split_clusters (the id-hash fallback
            # bounds every group); kept as the hard guard for
            # auto_split_clusters=False and pathological hash skew
            raise ValueError(
                f"semdedup cluster {cid} has {m} rows"
                f" > max_cluster_rows={cap}; raise num_clusters (mean cluster"
                " should be a few thousand rows), max_cluster_rows, or enable"
                " auto_split_clusters"
            )
        ids = scalar_column(tbl, "id", np.int64)
        # a zero-norm embedding normalizes to NaN (x/0) — zero it instead of
        # letting one bad row poison the whole cluster's GEMM maxima
        V = np.nan_to_num(
            list_matrix(tbl, "vec", work_dtype),
            nan=0.0, posinf=0.0, neginf=0.0,
        )
        ids_s, ccos, mp, keep = _cluster_pass(ids, V, bc.value[cid], eps_f, blk)
        mp = mp.astype(np.float64)
        # the pandas path turned the -inf sentinel into NaN, which the
        # pandas->Arrow serializer emits as NULL — keep that exact contract
        return pa.table(
            {
                "id": pa.array(ids_s.astype(np.int64, copy=False),
                               type=pa.int64()),
                "cluster_id": pa.array(
                    np.full(len(ids_s), cid, dtype=np.int32), type=pa.int32()
                ),
                "centroid_cos": pa.array(ccos.astype(np.float64),
                                         type=pa.float64()),
                "max_prior_cos": pa.array(
                    mp, type=pa.float64(), mask=np.isneginf(mp)
                ),
                "keep": pa.array(np.asarray(keep, dtype=bool), type=pa.bool_()),
            }
        )

    return assigned.groupBy("cluster_id").applyInArrow(kernel, _OUT_SCHEMA)


def semdedup_filter(
    df: DataFrame,
    eps: float,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    **kw,
) -> DataFrame:
    """The corpus after SemDeDup: rows whose embedding survived
    (one representative per semantic duplicate group), original schema."""
    verdicts = semdedup(df, eps, id_col=id_col, vec_col=vec_col, **kw)
    kept = verdicts.filter(F.col("keep")).select(F.col("id").alias("__keep_id"))
    return df.join(
        kept, F.col(id_col).cast("long") == F.col("__keep_id"), "inner"
    ).drop("__keep_id")
