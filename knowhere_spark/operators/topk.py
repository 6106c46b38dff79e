"""Result-shaping: per-key top-k (the reference's per-query k-heap,
src/common/comp/brute_force.cc:149-151, inverted to Spark data
parallelism).

Scale contract: a naive ``Window.partitionBy(query_id)`` over the full
``nq × nb`` distance set shuffles everything.  The scalable pattern is
partial-then-final: reduce each base partition to ``nq × k`` rows first
(the GEMM path in brute_force.py does this inside ``mapInArrow``), then
apply the final window over the ``num_partitions × nq × k`` remainder —
that final set is tiny at any scale (e.g. 1000 partitions × 100 queries
× 100 k = 10M short rows, one narrow shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame,
    key: str | Column,
    order_by: str | Column,
    k: int,
    *,
    ascending: bool = True,
    tie_breaker: str | Column | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the top-``k`` rows per ``key`` ordered by ``order_by``.

    Ties broken deterministically by ``tie_breaker`` (ascending) —
    matching FIXTURES.md T7 ``(distance, neighbor_id)`` ordering.
    """
    order = F.col(order_by) if isinstance(order_by, str) else order_by
    order = order.asc() if ascending else order.desc()
    cols = [order]
    if tie_breaker is not None:
        tie = F.col(tie_breaker) if isinstance(tie_breaker, str) else tie_breaker
        cols.append(tie.asc())
    w = Window.partitionBy(key).orderBy(*cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= F.lit(k))
    )


def range_search_k(config) -> int:
    """The per-query ``range_search_k`` truncation of ``config``
    (config.h:665-669); 0 when it keeps every in-range row."""
    return max(int(getattr(config, "range_search_k", 0) or 0), 0)


def apply_range_bounds(
    scored, config, *, already_bounded: bool = False,
    dist_col: str = "distance", id_col: str = "neighbor_id",
):
    """Shared RangeSearch result shaping: the half-open distance bounds per
    metric direction (range_util.h:22-25 — ``lo <= d < hi`` for distance
    metrics, ``lo < d <= hi`` for similarities) plus the optional
    ``range_search_k`` per-query truncation (config.h:665-669).

    ``already_bounded=True`` skips the filter for kernels that emit only
    in-range rows (the cogroup range machinery) and applies truncation
    alone.  ``dist_col``/``id_col`` adapt to result shapes like sparse's
    ``(query_id, doc_id, score)``.  One definition keeps every index
    family's RangeSearch semantics in lockstep."""
    lo, hi, sim = config.range_bounds()
    d = F.col(dist_col)
    if not already_bounded:
        if sim:
            cond = (d > F.lit(lo)) & (d <= F.lit(hi))
        else:
            cond = (d >= F.lit(lo)) & (d < F.lit(hi))
        scored = scored.filter(cond)
    rsk = range_search_k(config)
    if rsk:
        scored = topk_per_key(
            scored, "query_id", dist_col, rsk,
            ascending=not sim, tie_breaker=id_col,
        ).drop("rank")
    return scored
