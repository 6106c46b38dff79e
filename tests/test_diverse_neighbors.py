"""Property tests pinning hnsw.diverse_neighbors and top_cap_stable.

The r12 optimization round rewrote both (vectorized scan, future-only
dmin updates, argpartition-based stable top-cap): these tests compare
against an independent PER-NODE reference implementation of the hnswlib
getNeighborsByHeuristic2 semantics (keep iff at least as close to the
node as to every already-kept neighbor, ties kept; early stop at kk
keeps; nearest-first pruned refill; kept-then-pad emission order) so
any future kernel change that drifts from the contract fails here, not
at the oracle.
"""
import numpy as np
import pytest

from knowhere_spark.functions.distance import top_cap_stable
from knowhere_spark.operators.hnsw import diverse_neighbors


def _reference_diverse(key_m, kk, cand_cap):
    n = key_m.shape[0]
    cap = min(n - 1, cand_cap)
    src, dst, rank = [], [], []
    for i in range(n):
        order = np.argsort(key_m[i], kind="stable")[:cap]
        kept, pruned = [], []
        for pos, j in enumerate(order):
            if len(kept) == kk:
                break
            dq = key_m[i, j]
            if all(key_m[j, c] >= dq for c in kept):
                kept.append(j)
            else:
                pruned.append(j)
        for r, j in enumerate(kept):
            src.append(i); dst.append(j); rank.append(r)
        for p, j in enumerate(pruned[: kk - len(kept)]):
            src.append(i); dst.append(j); rank.append(kk + p)
    return (
        np.array(src, dtype=np.int64),
        np.array(dst, dtype=np.int64),
        np.array(rank, dtype=np.int32),
    )


def _corpora(seed):
    rng = np.random.default_rng(seed)
    for trial in range(24):
        n = int(rng.integers(2, 260))
        dim = int(rng.integers(2, 32))
        kind = trial % 4
        if kind == 1:   # exact-duplicate cliques (the crawl-corpus shape)
            b = rng.standard_normal((max(1, n // 20 + 1), dim))
            X = np.repeat(b, 20, axis=0)[:n]
        elif kind == 2:  # quantized values -> heavy exact distance ties
            X = np.round(rng.standard_normal((n, dim)) * 2) / 2
        elif kind == 3:  # near-duplicates at float noise scale
            b = rng.standard_normal((max(1, n // 8 + 1), dim))
            X = np.repeat(b, 8, axis=0)[:n] + rng.standard_normal((n, dim)) * 1e-9
        else:
            X = rng.standard_normal((n, dim))
        d = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
        np.fill_diagonal(d, np.inf)
        kk = int(rng.integers(1, 20))
        cap = int(rng.integers(1, 120))
        yield d, kk, cap


@pytest.mark.parametrize("seed", [7, 23])
def test_diverse_neighbors_matches_per_node_reference(seed):
    for d, kk, cap in _corpora(seed):
        got = diverse_neighbors(d.copy(), kk, cand_cap=cap)
        want = _reference_diverse(d, kk, cap)
        for g, w in zip(got, want):
            assert g.shape == w.shape
            assert np.array_equal(g, w)


@pytest.mark.parametrize("seed", [11, 37])
def test_top_cap_stable_equals_stable_argsort_prefix(seed):
    rng = np.random.default_rng(seed)
    for trial in range(30):
        n = int(rng.integers(2, 400))
        if trial % 2:   # heavy exact ties straddling every boundary
            km = rng.integers(0, 5, size=(n, n)).astype(np.float64)
        else:
            km = rng.standard_normal((n, n)) ** 2
        np.fill_diagonal(km, np.inf)
        cap = int(rng.integers(1, n + 2))
        want = np.argsort(km, axis=1, kind="stable")[:, :cap]
        got = top_cap_stable(km, cap)
        assert np.array_equal(got, want)
