"""HNSW re-expressed for Spark — graph *construction* as a distributed
batch job, batch *search* as bounded iterative frontier expansion.

Reference: src/index/hnsw/hnsw.h (hnswlib legacy) and
src/index/hnsw/faiss_hnsw.cc; params M (30) / efConstruction (360) /
``ef >= k`` from src/index/hnsw/base_hnsw_config.h:34-79.

SURVEY.md §2.3 is explicit about the design call: pointer-chasing greedy
serving is not Spark-shaped, so

- **Build** produces the graph artifact — a proximity graph with <= M
  out-edges per node — via *blocked* construction: rows are assigned to
  their top-2 nearest coarse cells (so boundary neighbors share a block),
  each cell computes its local exact KNN with ``applyInArrow`` (bounded
  cell population => bounded memory), and edges are symmetrized then
  re-pruned to M per node.  Every step is a DataFrame op; cells are the
  parallelism axis, so construction scales with executors.
- **Search** (``strategy="broadcast"``, auto-picked while the artifact
  fits :data:`_BROADCAST_MAX_BYTES`) ships the vectors + CSR adjacency to
  executors once and runs hnswlib's best-first ef-search per query in
  one ``mapInArrow`` kernel.  The ``"bfs"`` fallback is bounded iterative
  frontier expansion over the edges *table*: per hop, frontier ⋈ edges
  expands candidates, exact distances re-rank, the per-query top-``ef``
  become the next frontier (``ef >= k`` enforced like
  base_hnsw_config.h:55-79) — one shuffle join per hop, no memory bound
  on the graph.

This module is the HNSW family's one core: the build kernels
(:func:`assign_cells`, :func:`local_knn_edges`, :func:`prune_edges`), the
broadcast payload (:func:`graph_payload`) and the beam kernel
(:func:`beam_search`, traced twin :func:`beam_trace`) all run over
``__shard``-tagged rows, so :class:`HNSWIndex` is the one-shard case of
``SHARDED_HNSW`` (operators/hnsw_sharded.py) and HNSW_SQ/PQ/PRQ
(operators/hnsw_quant.py) swap only the beam's scorer and storage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from knowhere_spark.config import HnswConfig, IndexType, MetricType
from knowhere_spark.functions.distance import pairwise_distances, top_cap_stable
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key

_CELL_TARGET_ROWS = 512     # block population target for local-KNN build
_TRAIN_SAMPLE_MAX = 50_000
#: auto-strategy bound on the broadcast graph artifact (vectors + CSR
#: adjacency).  1 GiB ~ a Milvus segment-sized HNSW shard; bigger graphs
#: fall back to the BFS table path.
_BROADCAST_MAX_BYTES = 1 << 30

_SHARD_EDGE_SCHEMA = StructType(
    [
        StructField("__shard", IntegerType()),
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("dist", DoubleType()),
        StructField("sel_rank", IntegerType()),
    ]
)

#: sel_rank sentinel for reverse (incoming-link backfill) edges: always
#: ordered after every forward heuristic pick / refill
_REV_RANK = 1 << 30


def _undominated_reverse_mask(
    src_pos: np.ndarray, dst_pos: np.ndarray, dd: np.ndarray
) -> np.ndarray:
    """Mask over the reverse copies (dst→src) of the selected edges:
    True where the reverse copy must still be emitted.

    PRECONDITION: the forward (src_pos, dst_pos) pairs are UNIQUE.
    ``searchsorted(..., 'left')`` pairs each reverse copy with ONE
    arbitrary duplicate's ``dd``; with duplicate forward pairs whose
    distances differ, a reverse copy could be dropped against a dd
    above the surviving min and corrupt the downstream min-agg.
    ``diverse_neighbors`` emits at most one edge per (src, dst) (one
    selection pass per src row over distinct dst columns), so every
    caller today satisfies this; a new caller with duplicates must
    dedup first (or compare against ``np.minimum.reduceat`` over the
    sorted codes).

    The reverse copy of forward edge (i→j) is (j, i, dist=dd_ij,
    rank=_REV_RANK).  When the selection also contains the forward edge
    (j→i) — mutual neighbors, the common case on clique-heavy corpora —
    the downstream dedup-agg's ``min(dist)/min(sel_rank)`` over the
    (j, i) key never sees the reverse copy's values win: the forward
    rank is always < _REV_RANK, and the dist min is unchanged iff
    ``dd_ij >= dd_ji`` (checked per pair, so exact even if the distance
    matrix were asymmetric at the bit level).  Dropping those copies
    in-kernel shrinks the edge union BEFORE its shuffle/agg/window
    (guide §2.3: shuffle fewer bytes) — measured 73-89% of reverse
    copies on the bench corpora, with a bit-identical aggregated edge
    set by the dominance argument above (pinned by
    tests/test_hnsw.py::test_reverse_drop_preserves_aggregated_edges).
    """
    m = len(src_pos)
    if m == 0:
        return np.ones(0, dtype=bool)
    n = int(max(src_pos.max(), dst_pos.max())) + 1
    code_fwd = src_pos * n + dst_pos
    code_rev = dst_pos * n + src_pos
    order = np.argsort(code_fwd)
    sc = code_fwd[order]
    loc = np.minimum(np.searchsorted(sc, code_rev), m - 1)
    found = sc[loc] == code_rev
    dd_opp = dd[order[loc]]
    return ~(found & (dd >= dd_opp))


def diverse_neighbors(
    key_m: np.ndarray, kk: int, cand_cap: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-node neighbor selection with the diversity heuristic —
    hnswlib ``getNeighborsByHeuristic2`` parity (the reference's bundled
    thirdparty/hnswlib/hnswlib/hnswalg.h:512-560, used at every insert,
    hnswalg.h:626; also HNSW paper §4 SELECT-NEIGHBORS-HEURISTIC):
    scanning candidates nearest-first, a candidate is kept
    only if it is at least as close to the node as to every already-kept
    neighbor.  A plain top-M adjacency degenerates on near-duplicate
    data — each duplicate group's members pick only each other, the
    graph becomes disconnected cliques and beam recall collapses
    (measured 0.01 on a 50×-replicated 100k corpus; the exact shape of a
    crawl corpus before dedup).  The heuristic drops dominated clique-
    mates and keeps the first cross-cluster candidates instead — the
    long-range links that make the graph navigable.

    Pruned slots are refilled nearest-first (hnswlib
    ``keepPrunedConnections``), so every node still emits
    ``min(kk, n-1)`` edges — in particular at the exact operating point
    (M >= n, complete graph) the selection includes every candidate and
    the structural-exactness oracle gates are byte-identical.

    ``key_m``: (n, n) distance-like matrix (similarities pre-negated),
    diagonal already set to +inf.  Returns ``(src_pos, dst_pos,
    sel_rank)`` position arrays; ``sel_rank`` is the selection order —
    heuristic picks rank 0..#picks-1, pruned-refills rank kk+j.  The
    builds prune the cross-cell edge union by MIN sel_rank, not by
    distance: each node sits in TWO cells (top-2 assignment) and emits
    two edge sets, and a distance-ordered prune would re-evict every
    long-range link in favor of the other cell's duplicate clique-mates
    — exactly the collapse the heuristic exists to prevent.

    ``cand_cap`` bounds the candidate horizon the heuristic scans — the
    role hnswlib's efConstruction plays (its heuristic selects from the
    efConstruction-sized candidate heap).  Wider horizons buy longer-
    range diversity links: on the 20×-replica corpus, cap 64 → 192
    lifted recall@ef64 from 0.60 to 0.87 and recall@ef128 to 0.98.
    """
    n = key_m.shape[0]
    cap = cand_cap if cand_cap is not None else max(2 * kk, 64)
    cap = min(n - 1, cap)
    order_all = top_cap_stable(key_m, cap)
    # Vectorized ACROSS NODES (guide §4.2): the scan over candidate
    # positions is inherently sequential (each keep updates dmin), but at
    # each position every node's keep/prune test is independent — so the
    # loop runs cap times over vectorized (n_active, cap) blocks instead
    # of n times over Python-level candidate scans (~2.5× on dup-heavy
    # 1024-row cells, where pruning makes per-node scans run long).
    # Semantics are bit-identical to the per-node loop: same keep rule
    # (drop iff strictly closer to a kept neighbor than to the node —
    # ties kept), same early stop at kk keeps, same nearest-first
    # pruned-refill, same output ordering (kept-then-pad per node).
    rows = np.arange(n)
    dq = key_m[rows[:, None], order_all]                  # (n, cap)
    dmin = np.full((n, cap), np.inf)
    kept_cnt = np.zeros(n, dtype=np.int64)
    keep_rank = np.full((n, cap), -1, dtype=np.int64)     # rank iff kept
    processed = np.zeros((n, cap), dtype=bool)            # scanned before stop
    active = np.ones(n, dtype=bool)
    for pos in range(cap):
        act = np.flatnonzero(active)
        if len(act) == 0:
            break
        processed[act, pos] = True
        # keep iff NOT (dmin < dq) — hnswlib keeps ties
        keep = act[dmin[act, pos] >= dq[act, pos]]
        if len(keep):
            keep_rank[keep, pos] = kept_cnt[keep]
            kept_cnt[keep] += 1
            c = order_all[keep, pos]
            # dmin[j] = min(dmin[j], key_m[cand_j, c]) for every candidate
            # of each keeping node.  Only FUTURE positions matter: dmin at
            # already-scanned columns is never read again, so the gather
            # shrinks to (m, cap-pos-1) — verified bit-identical outputs
            # on 60 random/replica/tie matrices.
            if pos + 1 < cap:
                fut = order_all[keep, pos + 1:]
                dmin[keep, pos + 1:] = np.minimum(
                    dmin[keep, pos + 1:], key_m[fut, c[:, None]]
                )
            active[keep[kept_cnt[keep] == kk]] = False
    kmask = keep_rank >= 0
    # nearest-first refill of pruned slots (hnswlib keepPrunedConnections):
    # scanned-but-dropped candidates, in scan order, up to kk per node
    pruned_mask = processed & ~kmask
    pcum = np.cumsum(pruned_mask, axis=1)
    pad_mask = pruned_mask & (pcum <= (kk - kept_cnt)[:, None])
    sel = kmask | pad_mask
    node_sel, pos_sel = np.nonzero(sel)
    # original per-node emission order: kept (scan order) then pads (scan
    # order) — reproduce it exactly with one lexsort over (node, is_pad,
    # pos) so downstream frames see byte-identical arrays
    is_pad = pad_mask[node_sel, pos_sel]
    order = np.lexsort((pos_sel, is_pad, node_sel))
    node_sel, pos_sel, is_pad = node_sel[order], pos_sel[order], is_pad[order]
    rank = np.where(
        is_pad, kk + pcum[node_sel, pos_sel] - 1, keep_rank[node_sel, pos_sel]
    )
    return (
        node_sel.astype(np.int64),
        order_all[node_sel, pos_sel].astype(np.int64),
        rank.astype(np.int32),
    )


# ---------------------------------------------------------------------------
# graph construction kernels (shared by HNSWIndex.build, the one-shard
# case, and ShardedHNSWIndex.build)
# ---------------------------------------------------------------------------

def assign_cells(sharded: DataFrame, centroids: dict[int, np.ndarray]) -> DataFrame:
    """Top-2 cell assignment within each row's shard: ``(id, vec,
    __shard)`` → ``(id, __shard, cell_id, vec)``, every row once per cell
    (so boundary neighbors share a block).  ``centroids`` maps a shard to
    its ``(nlist, dim)`` coarse cells; L2 geometry, stable ties.
    Arrow-native (guide §4.2): vec rows pass through via one vectorized
    take per batch — never boxed into per-row Python objects."""
    from knowhere_spark.session import ensure_parallelism

    bc = sharded.sparkSession.sparkContext.broadcast(centroids)

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, scalar_column

        C_by_shard = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X_all = list_matrix(tbl, "vec")
            ids_all = scalar_column(tbl, "id", np.int64)
            s_all = scalar_column(tbl, "__shard", np.int64)
            id_parts, s_parts, c_parts, take_parts = [], [], [], []
            for s in np.unique(s_all):
                rows = np.flatnonzero(s_all == s)
                d = pairwise_distances(X_all[rows], C_by_shard[int(s)], MetricType.L2)
                top2 = np.argsort(d, axis=1, kind="stable")[:, :2]
                ncopy = min(2, top2.shape[1])
                take_parts.append(np.tile(rows, ncopy))
                id_parts.append(np.tile(ids_all[rows], ncopy))
                s_parts.append(np.full(len(rows) * ncopy, s, dtype=np.int32))
                c_parts.append(top2[:, :ncopy].T.ravel().astype(np.int32))
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(id_parts), type=pa.int64()),
                    pa.array(np.concatenate(s_parts), type=pa.int32()),
                    pa.array(np.concatenate(c_parts), type=pa.int32()),
                    tbl.column("vec").combine_chunks().take(
                        pa.array(np.concatenate(take_parts))
                    ),
                ],
                names=["id", "__shard", "cell_id", "vec"],
            )

    return ensure_parallelism(sharded).mapInArrow(
        kernel,
        StructType(
            [
                StructField("id", LongType()),
                StructField("__shard", IntegerType()),
                StructField("cell_id", IntegerType()),
                StructField("vec", sharded.schema["vec"].dataType),
            ]
        ),
    )


def local_knn_edges(
    blocks: DataFrame, metric: MetricType, M: int, efC: int
) -> DataFrame:
    """Per-(shard, cell) exact local KNN with the diversity heuristic
    (:func:`diverse_neighbors`), symmetrized in-kernel: ``(id, __shard,
    cell_id, vec)`` blocks → raw ``(__shard, src, dst, dist, sel_rank)``
    edges, for :func:`prune_edges`."""
    import pyarrow as pa

    edge_pa = pa.schema(
        [("__shard", pa.int32()), ("src", pa.int64()), ("dst", pa.int64()),
         ("dist", pa.float64()), ("sel_rank", pa.int32())]
    )

    def local_knn(key, tbl):
        from knowhere_spark.functions.arrowio import list_matrix, scalar_column

        if tbl.num_rows < 2:
            return edge_pa.empty_table()
        # sort by id FIRST: the heuristic's stable argsort breaks
        # distance TIES by row position, and a grouped batch's row
        # order is shuffle-arrival order (nondeterministic across
        # runs).  On tie-heavy corpora (duplicate cliques) that made
        # the pruned edge set — and beam recall — wiggle run-to-run
        # (r10: ±0.05 measured on the 50×-replica bench corpus); id
        # order pins it.  O(b log b) next to the O(b²) GEMM.
        ids = scalar_column(tbl, "id", np.int64)
        X = list_matrix(tbl, "vec")
        order = np.argsort(ids)   # ids unique within a cell
        ids, X = ids[order], X[order]
        d = pairwise_distances(X, X, metric)
        key_m = -d if metric.is_similarity else d
        np.fill_diagonal(key_m, np.inf)      # no self-edges
        kk = min(M, len(ids) - 1)
        src_pos, dst_pos, sel_rank = diverse_neighbors(
            key_m, kk, cand_cap=max(2 * M, efC)
        )
        # symmetrize IN-KERNEL: emit each selected edge forward AND
        # reversed (reverse at _REV_RANK — incoming-link backfill
        # precedence).  The former plan symmetrized with
        # raw_edges.unionByName(raw_edges.select(swap)): Spark does
        # not deduplicate the common subtree across union branches
        # (no ReusedExchange covers a Python node), so the WHOLE
        # assign+local_knn chain — the build's dominant kernel —
        # executed twice (plans/r12/hnsw_build_edges_batch2_before.txt).
        # Emitting both directions here yields the identical row
        # multiset with one kernel pass (guide §1.2).  Reverse copies
        # of MUTUAL pairs are dominated by the opposite forward edge in
        # the downstream min-agg and drop before the shuffle
        # (_undominated_reverse_mask; guide §2.3).
        dd = d[src_pos, dst_pos]
        keep_rev = _undominated_reverse_mask(src_pos, dst_pos, dd)
        n_rev = int(keep_rev.sum())
        return pa.table(
            {
                "__shard": pa.array(
                    np.full(len(src_pos) + n_rev, int(key[0].as_py()), dtype=np.int32),
                    type=pa.int32(),
                ),
                "src": pa.array(
                    np.concatenate([ids[src_pos], ids[dst_pos[keep_rev]]]),
                    type=pa.int64(),
                ),
                "dst": pa.array(
                    np.concatenate([ids[dst_pos], ids[src_pos[keep_rev]]]),
                    type=pa.int64(),
                ),
                "dist": pa.array(np.concatenate([dd, dd[keep_rev]]), type=pa.float64()),
                "sel_rank": pa.array(
                    np.concatenate(
                        [
                            sel_rank.astype(np.int32, copy=False),
                            np.full(n_rev, _REV_RANK, dtype=np.int32),
                        ]
                    ),
                    type=pa.int32(),
                ),
            }
        )

    return blocks.groupBy("__shard", "cell_id").applyInArrow(
        local_knn, _SHARD_EDGE_SCHEMA
    )


def prune_edges(raw_edges: DataFrame, metric: MetricType, M: int) -> DataFrame:
    """Dedup + prune the raw edge union to ``(__shard, src, dst, dist)``
    with <= M out-edges per node.

    Dedup: a pair can appear in 2 shared blocks, and reverse edges
    duplicate forward ones.  The prune orders by HEURISTIC SELECTION
    RANK, not distance: a distance-ordered prune would re-evict the
    diversity links in favor of clique-mates (from the node's second cell
    or arriving as reverse edges) — the same precedence hnswlib gives a
    node's own heuristic selection over incoming-link backfill.  ``src``
    determines its shard, so the per-src prune is exactly the per-shard
    single-graph prune.

    ONE exchange for dedup-agg AND prune-window (guide §2.4):
    HashPartitioning(src) satisfies both the groupBy(__shard, src, dst)
    clustering and the window's partitionBy(src).  An r13 per-shard
    Arrow prune kernel gave byte-identical output but its timing was a
    wash, and applyInArrow materializes a WHOLE shard's raw edges per
    task where this window spills gracefully — the kernel lives on in
    tests/test_hnsw_sharded.py (test_edge_prune_kernel_equals_sql)."""
    sym = (
        raw_edges.repartition("src")
        .groupBy("__shard", "src", "dst")
        .agg(F.min("dist").alias("dist"), F.min("sel_rank").alias("sel_rank"))
    )
    dist_order = F.col("dist").desc() if metric.is_similarity else F.col("dist").asc()
    w_prune = Window.partitionBy("src").orderBy(
        F.col("sel_rank").asc(), dist_order, F.col("dst").asc()
    )
    return (
        sym.withColumn("__r", F.row_number().over(w_prune))
        .filter(F.col("__r") <= F.lit(M))
        .select("__shard", "src", "dst", "dist")
    )


# ---------------------------------------------------------------------------
# broadcast graph payload + best-first beam kernel (shared by HNSWIndex,
# the one-shard case, the quantized variants in operators/hnsw_quant.py
# and the batched search of operators/hnsw_sharded.py)
# ---------------------------------------------------------------------------

def _collect_column_numpy(df: DataFrame, col: str, dtype) -> np.ndarray:
    """Collect one scalar column to a flat numpy array via Arrow —
    avoids materializing per-row ``Row`` objects (a Row-based collect
    needs ~10× the memory of the resulting array)."""
    try:
        tbl = df.select(col).toArrow()
        return tbl.column(0).combine_chunks().to_numpy(zero_copy_only=False).astype(dtype)
    except Exception:   # Arrow path unavailable (e.g. plan not supported)
        return np.array([r[col] for r in df.select(col).collect()], dtype=dtype)


def _collect_id_matrix(df: DataFrame, id_col: str, vec_col: str, dtype):
    """Collect ``(id, array<…>)`` rows into (ids, matrix) numpy pairs via
    Arrow, keeping the transient driver footprint close to the final
    array size (no boxed Python floats)."""
    try:
        tbl = df.select(id_col, vec_col).toArrow()
        ids = tbl.column(0).combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
        lst = tbl.column(1).combine_chunks()
        flat = lst.flatten().to_numpy(zero_copy_only=False).astype(dtype)
        n = len(ids)
        return ids, flat.reshape(n, -1) if n else flat.reshape(0, 0)
    except Exception:
        rows = df.select(id_col, vec_col).collect()
        return (
            np.array([r[id_col] for r in rows], dtype=np.int64),
            np.array([r[vec_col] for r in rows], dtype=dtype),
        )


def _collect_edge_ids(edges_df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect the edges table's ``(src, dst)`` node ids via Arrow — edge
    Rows are never materialized."""
    pairs = edges_df.select("src", "dst")
    try:
        tbl = pairs.toArrow()
        return tuple(
            tbl.column(i).combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
            for i in (0, 1)
        )
    except Exception:
        e = pairs.collect()
        return (
            np.array([r["src"] for r in e], dtype=np.int64),
            np.array([r["dst"] for r in e], dtype=np.int64),
        )


def _entry_positions(ids_sorted: np.ndarray, entry_ids) -> np.ndarray:
    n = len(ids_sorted)
    if n == 0:
        return np.array([], dtype=np.int64)
    targets = np.array(entry_ids, dtype=np.int64)
    pos = np.searchsorted(ids_sorted, targets)
    ok = (pos < n) & (ids_sorted[np.minimum(pos, n - 1)] == targets)
    entry_pos = pos[ok]
    if len(entry_pos) == 0:
        entry_pos = np.array([0], dtype=np.int64)
    return entry_pos


def graph_payload(ids, X, src, dst, entry_ids, storage) -> tuple:
    """The broadcast graph artifact of one graph (one shard):
    ``(ids_sorted, indptr, indices, entry_pos, storage(X_sorted))`` —
    ascending node ids, int32 CSR adjacency over positions in them, the
    entry points' positions, and the scorer's state built from the
    id-sorted per-node matrix (raw vectors or codes; see
    :func:`_dense_extra`).  ``src``/``dst`` are edge node ids."""
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    eo = np.argsort(s, kind="stable")
    s, d = s[eo], d[eo]
    indptr = np.searchsorted(s, np.arange(len(ids) + 1))
    return (
        ids, indptr, d.astype(np.int32), _entry_positions(ids, entry_ids), storage(X)
    )


def _keys_vs_query(
    Xp: np.ndarray, q: np.ndarray, metric: MetricType, xnorm: np.ndarray | None = None
) -> np.ndarray:
    """Smaller-is-better beam keys for candidate rows ``Xp`` against one
    query: L2 → squared distance; IP/COSINE → negated similarity.  Values
    match ``distance_expr`` after un-negation.  ``xnorm`` supplies
    precomputed row norms for COSINE (kept out of the hot loop)."""
    if metric == MetricType.L2:
        d = Xp - q
        return np.einsum("ij,ij->i", d, d)
    dot = Xp @ q
    if metric == MetricType.IP:
        return -dot
    nx = xnorm if xnorm is not None else np.linalg.norm(Xp, axis=1)
    denom = nx * float(np.linalg.norm(q))
    denom[denom == 0] = 1.0
    return -(dot / denom)


def _dense_extra(X: np.ndarray, metric: MetricType) -> tuple:
    """:func:`_dense_scorer` state: (fp32 matrix, metric value, COSINE
    row norms)."""
    xnorm = np.linalg.norm(X, axis=1) if metric == MetricType.COSINE else None
    return (X, metric.value, xnorm)


def _dense_scorer(extra, qvec):
    """Scorer over raw fp32 vectors: extra = (X, metric_value, norms)."""
    X_, mv, xnorm_ = extra
    mt = MetricType(mv)
    q = np.asarray(qvec, dtype=np.float32)

    def score(pos):
        return _keys_vs_query(
            X_[pos], q, mt, xnorm_[pos] if xnorm_ is not None else None
        )

    return score


def _beam_traverse(
    score, entries, ef, indptr_, indices_, stamp, qno, allowed=None, visits=None
):
    """ONE best-first ef-search — the hnswlib ``searchBaseLayerST``
    algorithm (candidate min-heap + bounded result heap, early exit when
    the nearest open candidate is worse than the worst kept result,
    src/index/hnsw/hnsw.h); neighbor scoring is vectorized numpy per
    adjacency list.  Returns the bounded result max-heap of
    ``(-key, pos)``.

    The traversal lives HERE and only here: the search kernel and the
    feder ``trace_visit`` kernel both call it, so the animation can
    never desynchronize from the answer.  When ``visits`` is a list,
    every scored adjacency batch is appended as ``(parent_pos,
    neighbor_positions, keys)`` — batch-level capture, so the hot inner
    loop carries no per-edge callback."""
    import heapq

    skeys = score(entries)
    stamp[entries] = qno
    cand = [(float(s), int(p)) for s, p in zip(skeys, entries)]
    heapq.heapify(cand)
    # result max-heap of (−key, pos), bounded to ef; a bitset filter
    # gates RESULTS only — blocked nodes still traverse (the reference's
    # filtered-HNSW semantics: the filter functor is checked at result
    # insertion, hnsw.h)
    res = [(-s, p) for s, p in cand if allowed is None or allowed[p]]
    heapq.heapify(res)
    while len(res) > ef:
        heapq.heappop(res)
    while cand:
        key, p = heapq.heappop(cand)
        if len(res) >= ef and key > -res[0][0]:
            break
        nb = indices_[indptr_[p] : indptr_[p + 1]]
        nb = nb[stamp[nb] != qno]
        if len(nb) == 0:
            continue
        stamp[nb] = qno
        nkeys = score(nb)
        if visits is not None:
            visits.append((p, nb, nkeys))
        worst = -res[0][0] if len(res) >= ef else np.inf
        for s, np_ in zip(nkeys, nb):
            s = float(s)
            if len(res) < ef or s < worst:
                heapq.heappush(cand, (s, int(np_)))
                if allowed is None or allowed[np_]:
                    if len(res) < ef:
                        heapq.heappush(res, (-s, int(np_)))
                    else:
                        heapq.heapreplace(res, (-s, int(np_)))
                    worst = -res[0][0] if len(res) >= ef else np.inf
    return res


def _beam_runs(batches, payloads, scorer_factory, k, ef, masks, scored, trace):
    """The beam kernels' one query reader: per non-empty Arrow batch of
    ``(query_id, vec, __shard)`` rows, the list of ``(query_id, ids,
    top, visits)`` — one :func:`_beam_traverse` per row against its
    shard's payload broadcast, ``top`` its best ``k`` ``(key, pos)``
    pairs ascending (== the ``(distance, neighbor_id)`` tie-break of
    ``topk_per_key``).  Query vectors are read as float64, lossless for
    float32 and float64 columns; each scorer casts to its own precision.
    ``scored`` (a one-element list) counts scored candidates."""
    import pyarrow as pa

    from knowhere_spark.functions.arrowio import list_matrix, scalar_column

    stamps: dict[int, np.ndarray] = {}
    qno = 0   # per-task counter: stamps are per-shard, so reuse is safe
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        qids = scalar_column(tbl, "query_id", np.int64)
        shards = scalar_column(tbl, "__shard", np.int64)
        Q = list_matrix(tbl, "vec", np.float64)
        runs = []
        for sh in np.unique(shards):
            ids_, indptr_, indices_, entries, extra = payloads[int(sh)].value
            allowed = masks[int(sh)].value if masks is not None else None
            stamp = stamps.setdefault(int(sh), np.zeros(len(ids_), dtype=np.int64))
            for r in np.flatnonzero(shards == sh):
                score = scorer_factory(extra, Q[r])
                if scored is not None:
                    def score(pos, _s=score):
                        scored[0] += len(pos)
                        return _s(pos)
                qno += 1
                visits = [] if trace else None
                res = _beam_traverse(
                    score, entries, ef, indptr_, indices_, stamp, qno, allowed, visits
                )
                top = sorted((-nk, p) for nk, p in res)[:k]
                runs.append((int(qids[r]), ids_, top, visits))
        yield runs


def beam_search(
    tagged: DataFrame,
    payloads: dict,
    scorer_factory,
    *,
    k: int,
    ef: int,
    is_sim: bool,
    masks: dict | None = None,
    score_acc=None,
) -> DataFrame:
    """Best-first ef-search with the graph artifacts broadcast to
    executors — the HNSW family's one search kernel.

    ``tagged`` holds ``(query_id long, vec array, __shard int)`` rows;
    ``payloads`` maps each shard to the Spark broadcast of its
    :func:`graph_payload`; ``scorer_factory(extra, qvec) -> score(pos)``
    gives per-query smaller-is-better keys (:func:`_dense_scorer`, or
    ``_quant_scorer`` over codes).  ``masks`` optionally maps a shard to
    a broadcast bitset over its positions gating RESULTS (filtered-HNSW
    semantics); ``score_acc`` counts scored candidates.  One
    ``mapInArrow`` over query partitions — zero joins/shuffles — emitting
    ``(query_id, neighbor_id, distance, rank)``, the top ``k`` per
    (query, shard)."""
    from knowhere_spark.session import ensure_parallelism

    def kernel(batches):
        import pyarrow as pa

        scored = [0] if score_acc is not None else None
        for runs in _beam_runs(
            batches, payloads, scorer_factory, k, ef, masks, scored, False
        ):
            q, n, d, r = [], [], [], []
            for qid, ids_, top, _ in runs:
                for rank, (s, p) in enumerate(top, start=1):
                    q.append(qid)
                    n.append(ids_[p])
                    d.append(-s if is_sim else s)
                    r.append(rank)
            if scored is not None and scored[0]:
                score_acc.add(scored[0])
                scored[0] = 0
            yield pa.record_batch(
                [
                    pa.array(np.asarray(q, dtype=np.int64)),
                    pa.array(np.asarray(n, dtype=np.int64)),
                    pa.array(np.asarray(d, dtype=np.float64)),
                    pa.array(np.asarray(r, dtype=np.int32)),
                ],
                names=["query_id", "neighbor_id", "distance", "rank"],
            )

    return ensure_parallelism(tagged).mapInArrow(
        kernel, "query_id long, neighbor_id long, distance double, rank int"
    )


def beam_trace(
    tagged: DataFrame, payloads: dict, scorer_factory, *, k: int, ef: int, is_sim: bool
) -> DataFrame:
    """``trace_visit`` run of :func:`beam_search`: ONE traversal per
    query emitting BOTH the per-edge visit record feder renders
    (feder/HNSW.h:165-198 ``AddVisitRecord(level, id_from, id_to,
    dist)``, ``kind='visit'``) and the top-k answer it produced
    (``kind='result'``, carried in ``id_to``/``rank``) — results and
    animation come from the same traversal by construction, and the
    trace costs one job, not two."""
    from knowhere_spark.session import ensure_parallelism

    def kernel(batches):
        import pyarrow as pa

        for runs in _beam_runs(
            batches, payloads, scorer_factory, k, ef, None, None, True
        ):
            o_q, o_kind, o_from, o_to, o_d, o_r = [], [], [], [], [], []
            for qid, ids_, top, visits in runs:
                for p, nb, nkeys in visits:
                    for s, np_ in zip(nkeys, nb):
                        o_q.append(qid)
                        o_kind.append("visit")
                        o_from.append(int(ids_[p]))
                        o_to.append(int(ids_[np_]))
                        o_d.append(-float(s) if is_sim else float(s))
                        o_r.append(None)
                for rank, (s, p) in enumerate(top, start=1):
                    o_q.append(qid)
                    o_kind.append("result")
                    o_from.append(None)
                    o_to.append(int(ids_[p]))
                    o_d.append(-s if is_sim else s)
                    o_r.append(rank)
            yield pa.record_batch(
                [
                    pa.array(o_q, type=pa.int64()),
                    pa.array(o_kind, type=pa.string()),
                    pa.array(o_from, type=pa.int64()),
                    pa.array(o_to, type=pa.int64()),
                    pa.array(o_d, type=pa.float64()),
                    pa.array(o_r, type=pa.int32()),
                ],
                names=["query_id", "kind", "id_from", "id_to", "distance", "rank"],
            )

    return ensure_parallelism(tagged).mapInArrow(
        kernel,
        "query_id long, kind string, id_from long, id_to long, "
        "distance double, rank int",
    )


def _one_shard(query_df: DataFrame, query_id_col: str, query_vec_col: str) -> DataFrame:
    """Queries as beam-kernel rows of the one-shard case (``__shard`` 0)."""
    return query_df.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).alias("vec"),
        F.lit(0).alias("__shard"),
    )


class HNSWIndex:
    """Graph artifact: (id, vec) vectors + <=M out-edges per node."""

    def __init__(
        self,
        vectors: DataFrame,      # (id, vec)
        edges: DataFrame,        # (src, dst, dist)
        config: HnswConfig,
        entry_ids: list[int],
    ):
        self.vectors = vectors
        self.edges = edges
        self.config = config
        self.entry_ids = entry_ids
        self.index_type = IndexType.HNSW
        self._size: tuple[int, int, int] | None = None   # see _graph_size
        self._grown_from = None                           # see _graph_size
        self._bc_graph = None                             # see _graph_bc
        self._graph_ids = None                            # see _broadcast_graph
        self._edges_resident = False                      # see _bfs_edges

    def count(self) -> int:
        return self.vectors.count()

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
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "HNSWIndex":
        import time as _time

        t_build0 = _time.monotonic()
        metric = MetricType(config.metric_type)
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        n = base.count()
        spark = base.sparkSession
        nlist = max(4, n // _CELL_TARGET_ROWS)

        # coarse cells from a bounded sample (same kernel family as IVF).
        # CONTENT-keyed sampling + id-sorted collection (r10): a
        # partition-seeded .sample() over shuffled/checkpointed input and
        # a position-dependent rng.choice both made the sampled centroids
        # — hence block membership and pruned edges — depend on shuffle
        # arrival order (measured ±0.05 beam recall on tie-heavy data);
        # an id-hash threshold and an id sort pin them to the data alone,
        # below the cap too.
        from knowhere_spark.session import train_sample

        S = train_sample(base, n, _TRAIN_SAMPLE_MAX, seed=42, sort_subcap=True)
        rng = np.random.default_rng(42)
        centroids = S[rng.choice(len(S), size=min(nlist, len(S)), replace=False)]

        # the single graph is the one-shard case of the shared build
        # kernels (the sharded build runs the same three)
        raw_edges = local_knn_edges(
            assign_cells(base.withColumn("__shard", F.lit(0)), {0: centroids}),
            metric, config.M, int(config.efConstruction),
        )
        edges = prune_edges(raw_edges, metric, config.M).drop("__shard")

        # entry points: a small deterministic sample (multi-entry beam
        # replaces the hierarchy's zoom-out layers).  orderBy+limit(8)
        # compiles to TakeOrderedAndProject — per-partition top-8 then a
        # driver merge, never a global sort of the table.
        entry_ids = [
            int(r["id"])
            for r in base.orderBy(F.pmod(F.col("id"), F.lit(997)), "id").limit(8).collect()
        ]
        idx = cls(base, edges, config, entry_ids)
        # the prune caps out-degree at M, so n·M bounds the edge count:
        # the auto-strategy estimate costs no run of the lazy edge chain
        idx._size = (n, S.shape[1] if n else 0, n * config.M)
        # span close (index.cc:131-148 Build span analog)
        from knowhere_spark.tracing import OpMetrics, op_description

        m = OpMetrics(
            op="HNSW.build", n=n, M=config.M, build_cells=nlist,
            n_entry_points=len(entry_ids),
            stages={"build_plan_sec": round(_time.monotonic() - t_build0, 6)},
        )
        m["description"] = op_description(spark.sparkContext, m["op"], n=n, M=config.M)
        idx.last_metrics = m
        return idx

    # -- Add (incremental batch insert) ---------------------------------------
    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "HNSWIndex":
        """Batch insert (``IndexNode::Add``; hnswlib addPoint semantics,
        batched): each new node links to its best ``M-2`` neighbors over
        the grown table (exact candidates — stronger than an insert-time
        beam) PLUS its 2 nearest EXISTING nodes, and reverse edges attach
        it to the old graph.  The guaranteed old-graph links play the role
        of hnswlib's diversity heuristic: when an added batch forms its own
        tight cluster, pure top-M adjacency would be intra-batch only and
        the graph would disconnect.  Cross-side (old↔new) edges are exempt
        from the M-prune — the same laxer budget hnswlib gives layer 0
        (maxM0 = 2M).  Entry points are unchanged.  The candidate search
        uses the GEMM partial-top-k path, so the added batch is the only
        driver-resident piece (same nq contract as search)."""
        from knowhere_spark.operators.brute_force import BruteForce

        metric = MetricType(self.config.metric_type)
        M = self.config.M
        asc = not metric.is_similarity
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        grown = self.vectors.unionByName(new)
        queries = new.select(F.col("id").alias("query_id"), "vec")

        def edges_of(cand):
            return cand.select(
                F.col("query_id").alias("src"),
                F.col("neighbor_id").alias("dst"),
                F.col("distance").alias("dist"),
            )

        near_all = BruteForce.search(
            grown, queries, max(M - 2, 1) + 1, metric, strategy="gemm"
        ).filter(F.col("neighbor_id") != F.col("query_id"))
        bridges = BruteForce.search(
            self.vectors, queries, 2, metric, strategy="gemm"
        )
        # ranks are computed BEFORE the self-match filter, so self (rank 1
        # under distance metrics) shifts real neighbors to ranks 2..k —
        # keep rank <= k, not rank <= k-1, or every node gets one edge
        # fewer than the documented M-2 budget
        new_out = (
            edges_of(near_all.filter(F.col("rank") <= max(M - 2, 1) + 1))
            .unionByName(edges_of(bridges))
            .dropDuplicates(["src", "dst"])
        )
        rev = new_out.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dist"
        )
        merged = (
            self.edges.unionByName(new_out)
            .unionByName(rev)
            .dropDuplicates(["src", "dst"])
        )
        # prune same-side adjacencies to M; old<->new edges are exempt so a
        # boundary node's bridge never loses to its M closer same-side peers
        new_ids = new.select(F.col("id").alias("nid"))
        tagged = (
            merged.join(
                F.broadcast(new_ids.withColumnRenamed("nid", "src")).withColumn(
                    "src_new", F.lit(True)
                ),
                "src",
                "left",
            )
            .join(
                F.broadcast(new_ids.withColumnRenamed("nid", "dst")).withColumn(
                    "dst_new", F.lit(True)
                ),
                "dst",
                "left",
            )
            .select(
                "src", "dst", "dist",
                (
                    F.coalesce(F.col("src_new"), F.lit(False))
                    == F.coalesce(F.col("dst_new"), F.lit(False))
                ).alias("same_side"),
            )
        )
        same = tagged.filter("same_side").drop("same_side")
        cross = tagged.filter(~F.col("same_side")).drop("same_side")
        pruned_same = (
            topk_per_key(
                same.withColumnRenamed("dist", "distance"),
                "src", "distance", M, ascending=asc, tie_breaker="dst",
            )
            .select("src", "dst", F.col("distance").alias("dist"))
        )
        child = HNSWIndex(
            grown, pruned_same.unionByName(cross), self.config, self.entry_ids
        )
        if self._size is not None and self._size[1]:
            child._grown_from = (self._size, new)
        return child

    # -- graph refinement (NN-Descent step) -----------------------------------
    def refine(self, iterations: int = 1) -> "HNSWIndex":
        """NN-Descent-style improvement: each node considers its
        neighbors-of-neighbors as candidates and re-prunes to the best M —
        the distributed stand-in for efConstruction quality (the blocked
        build only sees within-cell candidates; 2-hop expansion recovers
        cross-cell edges).  Pure joins: edges ⋈ edges → score → top-M.

        CAVEAT (r8): the re-prune is distance-ordered, so on
        near-duplicate-heavy data it can re-evict the diversity links
        the build's heuristic selection kept (see
        :func:`diverse_neighbors`) — refine improves *nearest-neighbor*
        edge quality, which is the right trade on de-duplicated corpora
        and the wrong one before dedup.  Run dedup first, or skip
        refine on replica-heavy inputs.
        """
        metric = MetricType(self.config.metric_type)
        M = self.config.M
        from knowhere_spark.functions.distance import distance_expr

        vec_s = self.vectors.select(
            F.col("id").alias("src"), F.col("vec").alias("vec_s")
        )
        vec_d = self.vectors.select(
            F.col("id").alias("dst"), F.col("vec").alias("vec_d")
        )
        edges = self.edges
        for _ in range(iterations):
            e = edges.select("src", "dst")
            hop2 = (
                e.alias("a")
                .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
            )
            cand = e.unionByName(hop2).distinct()
            scored = (
                cand.join(vec_s, "src")
                .join(vec_d, "dst")
                .select(
                    "src",
                    "dst",
                    distance_expr(metric, F.col("vec_s"), F.col("vec_d")).alias(
                        "distance"
                    ),
                )
            )
            edges = (
                topk_per_key(
                    scored, "src", "distance", M,
                    ascending=not metric.is_similarity, tie_breaker="dst",
                )
                .select("src", "dst", F.col("distance").alias("dist"))
            )
        return HNSWIndex(self.vectors, edges, self.config, self.entry_ids)

    # -- Serialize / Deserialize (index_node.h:371-401): the graph is two
    #    plain tables — exactly the artifact role SURVEY.md §2.3 assigns ----
    def range_search(
        self,
        query_df: DataFrame,
        config,
        *,
        ef: int | None = None,
        strategy: str = "auto",
        filter_expr=None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """``RangeSearch`` over the graph — the reference serves it by
        consuming the search iterator until the bound passes
        (index_node.h:169-326); here the beam collects its best-``ef``
        frontier and the half-open range bounds (range_util.h:22-25)
        filter the result.  Breadth is bounded by ``ef`` (the analog of
        the iterator's ``range_search_k`` truncation, applied on top when
        configured); long-form output like every other range search."""
        bounds_ef = ef if ef is not None else max(self.config.ef, 4 * self.config.k)
        out = self.search(
            query_df,
            k=bounds_ef,
            ef=bounds_ef,
            strategy=strategy,
            filter_expr=filter_expr,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        ).drop("rank")
        return apply_range_bounds(out, config)

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` (index_node.h:340-350) — broadcast semi-join
        against the graph's raw vector table."""
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.vectors.select("id", "vec").join(F.broadcast(ids), "id")

    # -- GetIndexMeta (index_node.h:363; feder/HNSW.h:26-120) -----------------
    def get_index_meta(self, *, max_nodes: int | None = None) -> DataFrame:
        """The graph view feder renders (hnsw.h:441-467: per-level
        ``NodeInfo`` = node id + out-neighbor list) as a DataFrame:
        ``(id BIGINT, degree INT, neighbors ARRAY<BIGINT>, is_entry
        BOOLEAN)``.

        The Spark graph is flat (one pruned <=M-degree level; the beam's
        hierarchy shortcut is the ``entry_ids`` set), so the single
        "overview level" is the whole adjacency with the entry points
        flagged — the reference's ``overview_levels`` knob becomes
        ``max_nodes``, a size bound for rendering (lowest ids first,
        deterministic), since a 100 TB graph's full adjacency is not a
        thing a visualizer should collect."""
        adj = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.sort_array(F.collect_list("dst")).alias("neighbors")
        )
        entry = F.col("id").isin([int(i) for i in self.entry_ids])
        out = (
            self.vectors.select("id")
            .join(adj, "id", "left")
            .withColumn(
                "neighbors",
                F.coalesce(F.col("neighbors"), F.array().cast("array<bigint>")),
            )
            .select(
                "id",
                F.size("neighbors").alias("degree"),
                "neighbors",
                entry.alias("is_entry"),
            )
        )
        if max_nodes is not None:
            out = out.orderBy("id").limit(int(max_nodes))
        return out

    def get_index_meta_stats(self) -> dict:
        """The ``HNSWMeta`` scalars (feder/HNSW.h:106-163): build params,
        element count, level count (1 — flat graph) and entry points."""
        return {
            "ef_construction": int(self.config.efConstruction),
            "M": int(self.config.M),
            "num_elem": self.count(),
            "num_levels": 1,
            "entry_point_ids": [int(i) for i in self.entry_ids],
        }

    def save(self, path: str) -> None:
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        store.write_manifest(
            {
                "index_type": self.index_type.value,
                "metric_type": self.config.metric_type.value,
                "M": self.config.M,
                "ef": self.config.ef,
                "count": self.count(),
                "entry_ids": self.entry_ids,
            }
        )
        store.write_table("vectors", self.vectors)
        store.write_table("edges", self.edges)

    @classmethod
    def load(cls, spark, path: str) -> "HNSWIndex":
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        cfg = HnswConfig(
            metric_type=MetricType(m["metric_type"]), M=int(m["M"]), ef=int(m["ef"])
        )
        return cls(
            store.read_table(spark, "vectors"),
            store.read_table(spark, "edges"),
            cfg,
            [int(e) for e in m["entry_ids"]],
        )

    def _graph_size(self) -> tuple[int, int, int]:
        """``(n, dim, n_edges)`` of the graph artifact.  ``build()``
        records it from values it already has, the edge count bounded by
        ``n·M``.  An ``add()`` child of a parent with a recorded size
        counts only the added batch: each new node brings at most ``M+1``
        out-edges (``M-1`` nearest plus 2 bridges) and as many reverse
        edges, so ``parent_edges + 2·n_new·(M+1)`` bounds its edges — an
        upper bound is all the size gates need, and it costs no run of
        the grown edge chain.  Other instances count once and memoize —
        the auto-strategy check must not cost Spark jobs on every
        search."""
        if self._size is None and self._grown_from is not None:
            (n0, dim, e0), batch = self._grown_from
            # counted through the JVM RDD: one job, where count()'s
            # aggregate exchange runs a second under adaptive execution
            n_new = int(batch._jdf.rdd().count())
            self._size = (n0 + n_new, dim, e0 + 2 * n_new * (self.config.M + 1))
        if self._size is None:
            n = self.vectors.count()
            head = self.vectors.select("vec").head() if n else None
            dim = len(head["vec"]) if head else 0
            self._size = (n, dim, self.edges.count() if n else 0)
        return self._size

    def _artifact_bytes(self) -> int:
        """Estimated broadcast footprint: n*dim float32 vectors, the edges
        as int32 CSR, int64 ids + indptr."""
        n, dim, n_edges = self._graph_size()
        return n * dim * 4 + n_edges * 4 + n * 16

    def _filter_mask_bc(self, filter_expr, ids_sorted: np.ndarray):
        """Bitset over graph positions for a DataFrame filter: evaluate
        the predicate once against the raw table (Catalyst-side), collect
        the passing id set, mark positions.  One small broadcast per
        search call (the mask varies with the filter, unlike the memoized
        graph payload)."""
        allowed_ids = _collect_column_numpy(
            self.vectors.filter(filter_expr), "id", np.int64
        )
        mask = np.zeros(len(ids_sorted), dtype=bool)
        pos = np.searchsorted(ids_sorted, allowed_ids)
        ok = (pos < len(ids_sorted)) & (
            ids_sorted[np.minimum(pos, len(ids_sorted) - 1)] == allowed_ids
        )
        mask[pos[ok]] = True
        return self.vectors.sparkSession.sparkContext.broadcast(mask)

    def _graph_bc(self):
        """Collect + broadcast the graph artifact (:func:`graph_payload`
        over the fp32 vectors), memoized: the artifact is immutable per
        index instance (add/refine return new instances), so it ships
        once and every search call reuses it — the serving amortization
        the reference gets from keeping the graph resident in RAM."""
        if self._bc_graph is None:
            self._broadcast_graph(
                *_collect_id_matrix(self.vectors, "id", "vec", np.float32),
                *_collect_edge_ids(self.edges),
            )
        return self._bc_graph

    def _broadcast_graph(self, ids, X, src, dst) -> None:
        """Install the memoized graph broadcast from collected arrays
        (also the sharded search's batched wave prefetch).  The payload's
        sorted id array stays on the index: a filtered search maps ids to
        graph positions with it, and reading ``bc.value`` on the driver
        would unpickle a second copy of the whole payload."""
        metric = MetricType(self.config.metric_type)
        payload = graph_payload(
            ids, X, src, dst, self.entry_ids, lambda Xs: _dense_extra(Xs, metric)
        )
        self._graph_ids = payload[0]
        self._bc_graph = self.vectors.sparkSession.sparkContext.broadcast(payload)

    def _bfs_edges(self) -> DataFrame:
        """The edge table the bfs hops join, persisted (lazily,
        ``MEMORY_AND_DISK``, under the broadcast size gate) on the first
        bfs search: every hop joins it, and an unpersisted table re-runs
        its whole chain (the build kernels, or ``add()``'s searches) per
        hop.  Sized from :meth:`_graph_size` when ``build()`` recorded it,
        else from the optimizer's estimate (unknown → stays lazy).  Freed
        by :meth:`release`."""
        if not self._edges_resident:
            from knowhere_spark.operators.ivf import (
                estimated_bytes,
                persist_gated,
                table_bytes,
            )

            est = (
                table_bytes(self.edges.schema, self._size[2], {})
                if self._size is not None
                else estimated_bytes(self.edges)
            )
            self.edges, self._edges_resident = persist_gated(self.edges, est)
        return self.edges

    def release(self) -> None:
        """Drop the memoized graph broadcast (executor-resident copies
        freed; the next search re-collects and re-broadcasts) and the
        resident bfs edge table (:meth:`_bfs_edges`).  The memoization in
        :meth:`_graph_bc` is the serving amortization — long-lived
        sessions holding many indexes call this to bound total resident
        broadcast bytes."""
        if self._bc_graph is not None:
            self._bc_graph.unpersist()
            self._bc_graph = None
            self._graph_ids = None
        if self._edges_resident:
            self.edges.unpersist()
            self._edges_resident = False

    def search_with_trace(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        ef: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> tuple[DataFrame, DataFrame]:
        """``trace_visit`` search (config.h:679-683; feder/HNSW.h:165-198
        ``HNSWVisitInfo``): returns ``(results, visits)`` where ``visits``
        is the edge-traversal record the feder visualizer animates —
        ``(query_id, level, id_from, id_to, distance)``, one row per
        scored graph edge, in traversal order per query (``level`` is 0:
        the Spark graph is flat, see :meth:`get_index_meta`).

        Mirrors the reference contract (hnsw.h:212-217): the query set
        must hold exactly ONE row — a visit trace over a batch is
        meaningless to render and unbounded to collect.  Both frames come
        out of ONE traversal (one Spark job), split from the combined
        kernel output — the answer and its animation cannot diverge."""
        k = k if k is not None else self.config.k
        ef = max(ef if ef is not None else self.config.ef, k)
        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("vec"),
        )
        if queries.limit(2).count() != 1:
            raise ValueError("trace_visit requires nq == 1 (hnsw.h:213-216)")
        combined = beam_trace(
            _one_shard(queries, "query_id", "vec"),
            {0: self._graph_bc()},
            _dense_scorer,
            k=k,
            ef=ef,
            is_sim=MetricType(self.config.metric_type).is_similarity,
        ).localCheckpoint(eager=True)   # nq == 1 → ef-bounded rows
        results = combined.filter(F.col("kind") == "result").select(
            "query_id",
            F.col("id_to").alias("neighbor_id"),
            "distance",
            "rank",
        )
        visits = combined.filter(F.col("kind") == "visit").select(
            "query_id",
            F.lit(0).alias("level"),   # flat graph, see get_index_meta
            "id_from",
            "id_to",
            "distance",
        )
        return results, visits

    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        ef: int | None = None,
        max_hops: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        score_fn=None,
        strategy: str = "auto",
        filter_expr=None,
    ) -> DataFrame:
        """Batch graph search; two physical strategies.

        ``filter_expr`` (bitset analog) gates RESULTS only — blocked
        nodes still traverse, the reference's filtered-HNSW semantics
        (the filter functor is checked at result insertion).

        - ``"broadcast"`` — the serving shape, mirroring how the reference
          (and Milvus segments) actually run HNSW: the whole graph artifact
          (vectors + CSR adjacency) ships to every executor once, and each
          query partition runs the classic best-first ef-search
          (hnswlib ``searchBaseLayerST``, src/index/hnsw/hnsw.h) in
          :func:`beam_search`, one ``mapInArrow``.  Zero shuffles after the
          query repartition; parallelism = query partitions.  Requires the
          artifact to fit executor memory (the same contract the in-RAM
          reference has); at 100 TB corpus scale you shard the corpus and
          build per-shard graphs, each of which satisfies this bound.
        - ``"bfs"`` — bounded iterative frontier expansion over the edges
          *table*: per hop, frontier ⋈ edges → new candidates → exact
          distance → per-query top-ef frontier; results are the best k
          over everything visited.  No memory bound on the graph; one
          shuffle join per hop.  The fallback when the artifact is too
          large to broadcast, and the quantized variants' bfs path (via
          ``score_fn``).
        - ``"auto"`` — broadcast when the exact-vector scorer is in play
          and the artifact's estimated footprint fits
          ``_BROADCAST_MAX_BYTES``, else bfs.

        ``ef >= k`` enforced as in base_hnsw_config.h:55-79.
        ``score_fn(cand_df, queries_df) -> (query_id, node_id, distance)``
        replaces the exact-vector scorer — the hook the quantized variants
        use to run the bfs beam over a SQ/PQ codes table
        (operators/hnsw_quant.py).
        """
        k = k if k is not None else self.config.k
        ef = max(ef if ef is not None else self.config.ef, k)
        metric = MetricType(self.config.metric_type)
        spark = self.vectors.sparkSession

        if strategy not in ("auto", "broadcast", "bfs"):
            raise ValueError(f"unknown search strategy {strategy!r}")
        # span open (index.cc:149-162 Search span analog); strategy and
        # per-path counters fill in at dispatch below
        from knowhere_spark.tracing import OpMetrics, op_description

        m = OpMetrics(
            op="HNSW.search", k=k, ef=ef,
            nodes_scored=spark.sparkContext.accumulator(0),
        )
        self.last_metrics = m
        if strategy == "broadcast" and score_fn is not None:
            raise ValueError(
                "strategy='broadcast' runs the exact-vector kernel and cannot "
                "honor score_fn; use strategy='bfs' for custom scorers"
            )
        if strategy != "bfs" and score_fn is None:
            use_broadcast = strategy == "broadcast"
            if strategy == "auto":
                use_broadcast = 0 < self._artifact_bytes() <= _BROADCAST_MAX_BYTES
            if use_broadcast:
                m["strategy"] = "broadcast"
                m["description"] = op_description(
                    spark.sparkContext, m["op"], k=k, ef=ef, strategy="broadcast"
                )
                bc = self._graph_bc()
                masks = (
                    {0: self._filter_mask_bc(filter_expr, self._graph_ids)}
                    if filter_expr is not None
                    else None
                )
                return beam_search(
                    _one_shard(query_df, query_id_col, query_vec_col),
                    {0: bc},
                    _dense_scorer,
                    k=k,
                    ef=ef,
                    is_sim=metric.is_similarity,
                    masks=masks,
                    score_acc=m["nodes_scored"],
                )

        m["strategy"] = "bfs"
        m["max_hops"] = max_hops
        m["description"] = op_description(
            spark.sparkContext, m["op"], k=k, ef=ef, strategy="bfs"
        )
        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        ).cache()

        def exact_score(cand: DataFrame, queries: DataFrame) -> DataFrame:
            """(query_id, node_id) -> + exact distance (join vectors ⋈ broadcast queries)."""
            from knowhere_spark.functions.distance import distance_expr

            withvec = cand.join(
                self.vectors, cand["node_id"] == self.vectors["id"]
            ).select("query_id", "node_id", "vec")
            return withvec.join(F.broadcast(queries), "query_id").select(
                "query_id",
                "node_id",
                distance_expr(metric, F.col("vec"), F.col("qvec")).alias("distance"),
            )

        def score(cand: DataFrame) -> DataFrame:
            return (score_fn or exact_score)(cand, queries)

        entry_df = spark.createDataFrame(
            [(e,) for e in self.entry_ids], "node_id long"
        )
        frontier = queries.select("query_id").crossJoin(entry_df)
        # per-hop materialization touches ONLY the hop's newly scored rows:
        # visited is a list of eagerly-checkpointed per-hop frames, and the
        # anti-join reads their union as a view over the stored blocks —
        # re-caching the whole growing union each hop (the old shape) made
        # hop cost proportional to total visited, not to new work.
        # A DECAYING compaction schedule (after hops 1, 3, 7, 15, then every
        # 8 — the window between compactions doubles to a cap of 8) folds
        # the per-hop frames into one, so the live checkpoint
        # count and the anti-join's union fan-in are bounded by the window
        # cap — hop-count-INDEPENDENT — instead of growing one frame per
        # hop: a 50-hop traversal holds <= 9 stored frames, not 50
        visited_parts = [score(frontier).localCheckpoint(eager=True)]
        frontier = visited_parts[0].select("query_id", "node_id")
        compact_window, next_compact = 1, 1

        def visited_ids() -> DataFrame:
            out = visited_parts[0].select("query_id", "node_id")
            for p in visited_parts[1:]:
                out = out.unionByName(p.select("query_id", "node_id"))
            return out

        edges = self._bfs_edges()
        for hop in range(1, max_hops + 1):
            expanded = (
                frontier.join(edges, frontier["node_id"] == edges["src"])
                .select("query_id", F.col("dst").alias("node_id"))
                .distinct()
                .join(visited_ids(), ["query_id", "node_id"], "left_anti")
            )
            scored = score(expanded).localCheckpoint(eager=True)
            visited_parts.append(scored)
            # next frontier: per-query best ef among the newly scored nodes
            frontier = (
                topk_per_key(
                    scored, "query_id", "distance", ef,
                    ascending=not metric.is_similarity, tie_breaker="node_id",
                )
                .select("query_id", "node_id")
            )
            if hop == next_compact and hop < max_hops:
                merged = visited_parts[0]
                for p in visited_parts[1:]:
                    merged = merged.unionByName(p)
                # dropping the part references lets the ContextCleaner
                # release their stored blocks; only the compacted frame
                # (plus at most one window of new parts) stays live
                visited_parts = [merged.localCheckpoint(eager=True)]
                compact_window = min(compact_window * 2, 8)
                next_compact = hop + compact_window

        self._last_bfs_frame_count = len(visited_parts)
        m["bfs_frames"] = len(visited_parts)
        visited = visited_parts[0]
        for p in visited_parts[1:]:
            visited = visited.unionByName(p)
        final = visited.withColumnRenamed("node_id", "neighbor_id")
        if filter_expr is not None:
            # result-gating semi-join: blocked nodes traversed above but
            # excluded from the returned set (filtered-HNSW semantics)
            allowed = self.vectors.filter(filter_expr).select(
                F.col("id").alias("neighbor_id")
            )
            final = final.join(allowed, "neighbor_id", "leftsemi")
        out = topk_per_key(
            final,
            "query_id",
            "distance",
            k,
            ascending=not metric.is_similarity,
            tie_breaker="neighbor_id",
        )
        queries.unpersist()
        return out
