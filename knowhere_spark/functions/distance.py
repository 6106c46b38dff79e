"""Dense-vector distance kernels.

Reference semantics: src/common/comp/brute_force.cc:165-241 —
  L2     = squared euclidean (faiss ``knn_L2sqr``), smaller = closer
  IP     = inner product, larger = closer
  COSINE = IP over normalized vectors, larger = closer (norms precomputed
           for the base side, brute_force.cc:66-101)

Two implementations of the same semantics:

1. **SQL expressions** (this module's ``*_expr``): native higher-order
   functions (``zip_with`` + ``aggregate``) — stay inside whole-stage
   codegen, fully deterministic, used for oracle-checked exact queries.
   All arithmetic is float64 (arrays cast to ``array<double>``) so results
   are engine-comparable.

2. **GEMM kernels** (:func:`pairwise_distances`): numpy batch matrix
   products for the ``mapInPandas`` fast path — the Spark analog of the
   reference's BLAS batching (always-GEMM, knowhere_config.h:54-63).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from knowhere_spark.config import MetricType


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def ip_expr(a: Column, b: Column) -> Column:
    """Inner product via native higher-order fns (brute_force.cc:180-211)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_sqr_expr(a: Column, b: Column) -> Column:
    """Squared euclidean distance (brute_force.cc:166-179)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    """Euclidean norm — ``GetVecNorms`` analog (brute_force.cc:66-101)."""
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def bind1(value: Column, fn) -> Column:
    """Evaluate ``value`` once per row and hand it to ``fn`` as a BOUND
    lambda variable.  Spark's higher-order functions have no common-
    subexpression elimination across lambda scope: an O(n) subexpression
    (a sort, an aggregate) referenced inside a per-element lambda is
    re-evaluated for every element, turning O(n) plans quadratic.  The
    one-element-array transform binds it as a value instead."""
    return F.transform(F.array(value), fn)[0]


def normalize_expr(a: Column) -> Column:
    """Unit-normalize a vector — ``NormalizeVec`` (include/knowhere/utils.h:39-53).

    The norm is bound ONCE per row (:func:`bind1`): inlining the
    aggregate directly into the per-element divide makes Spark's
    interpreted higher-order-function path re-evaluate it per element —
    measured ~40x on a 100k x 64-dim normalize pass.  The arithmetic
    (one sqrt-of-sum, then per-element x/n) is unchanged, so every
    oracle hash stays identical."""
    ad = _as_double(a)
    return bind1(norm_expr(a), lambda n: F.transform(ad, lambda x: x / n))


def cosine_expr(a: Column, b: Column, a_norm: Column | None = None, b_norm: Column | None = None) -> Column:
    """Cosine similarity; accepts precomputed norms (norm-caching analog,
    brute_force.cc:66-101,152)."""
    na = a_norm if a_norm is not None else norm_expr(a)
    nb = b_norm if b_norm is not None else norm_expr(b)
    return ip_expr(a, b) / (na * nb)


def distance_expr(metric: MetricType, a: Column, b: Column) -> Column:
    """Dispatch like ``BruteForce::Search``'s metric switch (brute_force.cc:165-241)."""
    metric = MetricType(metric)
    if metric == MetricType.L2:
        return l2_sqr_expr(a, b)
    if metric == MetricType.IP:
        return ip_expr(a, b)
    if metric == MetricType.COSINE:
        return cosine_expr(a, b)
    raise ValueError(f"dense distance_expr does not support metric {metric}")


# ---------------------------------------------------------------------------
# numpy GEMM kernels (mapInPandas fast path)
# ---------------------------------------------------------------------------

def stable_dot(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """``X @ Q.T`` in which every entry depends on its own row and query
    alone.  BLAS GEMM rounds an entry differently depending on the
    matrix shapes around it (the microkernel and edge path it lands in,
    last-bit differences); ``einsum`` over C-contiguous operands reduces
    each pair over the dimension in one fixed order, at GEMM-like speed
    for the IVF scan shapes.  Kernels that group the same (row, query)
    pairs differently — a cell-table batch against every query, or a
    cell against a query batch — then return bit-identical distances."""
    return np.einsum("ik,jk->ij", np.ascontiguousarray(X), np.ascontiguousarray(Q))


def pairwise_distances(
    base: np.ndarray, queries: np.ndarray, metric: MetricType, *, stable: bool = False
) -> np.ndarray:
    """Return ``(n_base, n_queries)`` float64 distance/score matrix.

    L2 uses the expansion ``|x|^2 + |q|^2 - 2 x·q`` (one GEMM); COSINE
    normalizes both sides first — same normalize-then-IP contract as the
    reference (ivf.cc:462-470).  ``stable=True`` takes the inner
    products from :func:`stable_dot` instead of GEMM, so an entry does
    not depend on which other rows and queries share the call.
    """
    metric = MetricType(metric)
    X = np.asarray(base, dtype=np.float64)
    Q = np.asarray(queries, dtype=np.float64)
    dot = stable_dot if stable else (lambda a, b: a @ b.T)
    if metric == MetricType.IP:
        return dot(X, Q)
    if metric == MetricType.COSINE:
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        xn[xn == 0] = 1.0
        qn[qn == 0] = 1.0
        return dot(X / xn, Q / qn)
    if metric == MetricType.L2:
        # same elementwise expression as the textbook form
        # (|x|²+|q|²) - 2·(x·q), evaluated with in-place ops so only two
        # (n, nq) buffers are live instead of four (guide §4.2; verified
        # bit-identical on 40 random shapes incl. the X-is-Q self case —
        # each element sees the identical op sequence).  Self-distance
        # calls reuse one row-norm reduction.
        xsq = np.sum(X * X, axis=1)
        qsq = xsq if Q is X else np.sum(Q * Q, axis=1)
        d = np.add(xsq[:, None], qsq[None, :])
        G = dot(X, Q)
        G *= 2.0
        d -= G
        np.maximum(d, 0.0, out=d)
        return d
    raise ValueError(f"GEMM kernel does not support metric {metric}")


def local_topk(
    dist: np.ndarray, ids: np.ndarray, k: int, largest: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-query partial top-k over a ``(n_base, n_queries)`` matrix.

    Returns flat ``(query_idx, neighbor_id, distance)`` arrays of size
    ``<= n_queries * k``.  Partial-then-final top-k is how the reference's
    per-query heap (brute_force.cc:149-151) inverts into Spark's
    per-partition data parallelism (SURVEY.md §3.2).
    """
    n_base, n_q = dist.shape
    kk = min(k, n_base)
    if kk <= 0 or n_q == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=ids.dtype),
            np.empty(0, dtype=dist.dtype),
        )
    key = -dist if largest else dist
    # deterministic (distance, neighbor_id) selection in O(n) per query:
    # argpartition picks SOME kk smallest keys per column; ties equal to the
    # per-column boundary value may straddle the cut arbitrarily, so the
    # candidate set is widened to every row tied at the boundary and only
    # that small block is sorted exactly by (key, id).  (A full-column
    # stable argsort gives the same answer at O(n log n) + 2x transient
    # copies; duplicate distances straddling the k boundary are common in
    # dedup corpora, so the tie widening is load-bearing, not paranoia.)
    if kk < n_base:
        part = np.argpartition(key, kk - 1, axis=0)[:kk, :]      # (kk, n_q)
        col = np.arange(n_q)
        bnd = key[part, col[None, :]].max(axis=0)                # (n_q,)
        tied = key == bnd[None, :]                               # (n_base, n_q)
    else:
        part = None
    qidx = np.repeat(np.arange(n_q), kk)
    nid = np.empty(n_q * kk, dtype=ids.dtype)
    dd = np.empty(n_q * kk, dtype=dist.dtype)
    for q in range(n_q):
        if part is None:
            cand = np.arange(n_base)
        else:
            # rows strictly below the boundary are all inside the partition
            # prefix; rows AT the boundary come from the tie mask — the
            # union is the complete (key <= boundary) candidate set
            cand = np.union1d(part[:, q], np.flatnonzero(tied[:, q]))
        ck = key[cand, q]
        sel = cand[np.lexsort((ids[cand], ck))[:kk]]
        nid[q * kk:(q + 1) * kk] = ids[sel]
        dd[q * kk:(q + 1) * kk] = dist[sel, q]
    return qidx, nid, dd


def top_cap_stable(key_m: np.ndarray, cap: int) -> np.ndarray:
    """First ``cap`` columns of a stable per-row argsort — via
    argpartition + a stable sort of only the selected subset, which is
    O(n²) + O(n·cap·log cap) instead of O(n²·log n).  Exactness: the
    subset equals the stable-argsort prefix unless ties straddle the
    per-row boundary value; straddling rows (detected by counting
    ``key <= boundary``) fall back to the full stable argsort, so the
    result is bit-identical by construction (verified on 40 random and
    heavy-exact-tie matrices).  Measured 19.6 → 15.1 ms at the
    1042-row/cap-200 bench cell and 103 → 44 ms at 2000 rows — the win
    grows with cell size, which is where skewed semantic cells hurt."""
    n, m = key_m.shape
    if cap >= m:
        return np.argsort(key_m, axis=1, kind="stable")[:, :cap]
    part = np.argpartition(key_m, cap - 1, axis=1)[:, :cap]
    rows = np.arange(n)[:, None]
    bnd = key_m[rows, part].max(axis=1)
    cnt = (key_m <= bnd[:, None]).sum(axis=1)
    out = np.empty((n, cap), dtype=np.int64)
    ok = cnt == cap
    if ok.any():
        # position-sort first so the stable key-sort tie-breaks by
        # original column position, exactly like the full argsort
        psort = np.sort(part[ok], axis=1)
        keys = key_m[np.flatnonzero(ok)[:, None], psort]
        ordloc = np.argsort(keys, axis=1, kind="stable")
        out[ok] = np.take_along_axis(psort, ordloc, axis=1)
    bad = np.flatnonzero(~ok)
    if len(bad):
        out[bad] = np.argsort(key_m[bad], axis=1, kind="stable")[:, :cap]
    return out


def numpy_kmeans(
    X: np.ndarray,
    k: int,
    *,
    iters: int = 20,
    seed: int = 42,
) -> np.ndarray:
    """Driver-side Lloyd k-means over a bounded training sample.

    The reference trains IVF centroids single-node on a subsample capped at
    256 points/centroid (faiss ``max_points_per_centroid``; ivf.cc:492-512)
    — the identical regime: the sample always fits one machine, so a
    vectorized numpy Lloyd beats a distributed fit by the per-iteration
    job-scheduling constant.  Init = k distinct data rows (faiss-style
    random subset); empty clusters reseed to the points currently farthest
    from their centroid (faiss splits the largest cluster — same effect).
    """
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(n, size=k, replace=False)].copy()
    prev = None
    # loop-invariant |x|² term of the L2 expansion, computed once with the
    # exact expression pairwise_distances uses, so the hoist is bitwise-
    # identical (centroid artifacts are hash-pinned by oracle gates); the
    # gather buffer likewise just avoids a fresh (n, dim) alloc per iter
    xx = np.sum(X * X, axis=1)[:, None]
    rows = np.arange(n)
    Xbuf = np.empty_like(X)
    # preallocated (n, k) buffers: the expression form re-allocated (and
    # page-faulted) two 33 MB matrices per iteration at the 32764×64/k=128
    # bench shape — 7.2 → 2.3 s for the whole fit (min-of-3, idle box).
    # Op sequence identical to (xx + |c|²) - 2·(X@Cᵀ): bitwise-equal
    # centroids verified on 12 random/replica shapes (artifacts are
    # hash-pinned by oracle gates).
    d = np.empty((n, k))
    G = np.empty((n, k))
    for _ in range(iters):
        np.add(xx, np.sum(C * C, axis=1)[None, :], out=d)            # (n, k)
        np.dot(X, C.T, out=G)
        G *= 2.0
        d -= G
        np.maximum(d, 0.0, out=d)
        assign = d.argmin(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        counts = np.bincount(assign, minlength=k)
        # segment-sum via sort + reduceat (np.add.at's unbuffered scatter
        # is ~10x slower at this shape)
        order = np.argsort(assign, kind="stable")
        starts = np.zeros(k, dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        sums = np.zeros_like(C)
        nonempty = counts > 0
        np.take(X, order, axis=0, out=Xbuf)
        seg = np.add.reduceat(Xbuf, starts[nonempty], axis=0)
        # reduceat with strictly-increasing unique starts: one row per
        # nonempty cluster, in cluster order
        sums[nonempty] = seg
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
        empty = np.flatnonzero(~nonempty)
        if len(empty):
            far = np.argsort(-d[rows, assign])[: len(empty)]
            C[empty] = X[far]
    return C
