"""Index-less exact search — the reference's ``BruteForce`` statics
(include/knowhere/comp/brute_force.h:26-55,
src/common/comp/brute_force.cc:104-265) and the FLAT index
(src/index/flat/flat.cc), which shares the same kernel.

Also the engine's ground-truth oracle, exactly as in the reference's test
strategy (tests/ut/test_search.cc:144-151).

Result shape (SURVEY.md §1.1): long-form ``(query_id, neighbor_id,
distance, rank)``.  The reference's ``nq × k`` matrix with ``-1`` padding
(dataset.h:353-368) is expressed by absent rows instead.

Two physical strategies for the same logical plan:

- ``sql``: ``crossJoin(broadcast(queries))`` → native higher-order-fn
  distance → window top-k.  Whole-stage-codegen'd, fully deterministic
  float64 — used for oracle-checked queries and small nq·nb.
- ``gemm``: ``mapInArrow`` over base partitions with a broadcast numpy
  query matrix; each partition emits its local top-k (partial reduce),
  then one final window over ``num_partitions · nq · k`` rows.  This is
  the 100TB-scale path: no nq×nb shuffle ever materializes, base scan
  parallelism is Spark's native axis (SURVEY.md §3.2).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from knowhere_spark.config import BaseConfig, MetricType
from knowhere_spark.functions.binary import binary_distance_expr, structure_match_expr
from knowhere_spark.functions.distance import (
    distance_expr,
    local_topk,
    pairwise_distances,
)
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key

RESULT_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("distance", DoubleType()),
    ]
)

def _prep(
    base_df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    filter_expr: Column | str | None,
):
    """Normalize column names → (id, vec) / (query_id, qvec); apply the
    pre-filter (BitsetView analog, include/knowhere/bitsetview.h) on the
    base side so Catalyst pushes it into the scan."""
    if filter_expr is not None:
        base_df = base_df.filter(filter_expr)
    base = base_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    )
    queries = query_df.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    return base, queries


class BruteForce:
    """Static exact-search verbs (brute_force.h:26-55)."""

    @staticmethod
    def search(
        base_df: DataFrame,
        query_df: DataFrame,
        k: int,
        metric: MetricType | str = MetricType.L2,
        *,
        filter_expr: Column | str | None = None,
        id_col: str = "id",
        vec_col: str = "vec",
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Exact top-k — ``BruteForce::Search`` (brute_force.cc:104-265).

        Returns ``(query_id, neighbor_id, distance, rank)``; rank is
        1-based, ties broken by (distance, neighbor_id).
        """
        metric = MetricType(metric)
        base, queries = _prep(
            base_df, query_df, id_col, vec_col, query_id_col, query_vec_col, filter_expr
        )
        if strategy == "auto":
            strategy = "gemm"
        if metric.is_binary:
            # bytes columns ride the partial-then-final binary GEMM (LUT
            # popcount kernel); containment metrics and word-packed columns
            # (ARRAY<BIGINT>) stay on the codegen'd join path
            is_bytes = dict(base.dtypes).get("vec") == "binary"
            if strategy == "gemm" and not (
                is_bytes and metric in (MetricType.HAMMING, MetricType.JACCARD)
            ):
                strategy = "sql"

        if strategy == "sql":
            pairs = base.crossJoin(F.broadcast(queries))
            if metric.is_binary:
                # dispatch on the physical layout: BINARY columns score via
                # the bytes UDFs, word-packed ARRAY<BIGINT> columns via the
                # JVM-codegen'd bit_count expressions
                if dict(base.dtypes).get("vec", "").startswith("array"):
                    from knowhere_spark.functions.binary import (
                        binary_words_distance_expr,
                    )

                    # probe the word width once so the popcount sum
                    # unrolls into flat codegen'd bit_counts — the HOF
                    # aggregate form is a CodegenFallback, 3× slower at
                    # 2M pairs (SCALE.md r11); one tiny head() job is
                    # noise next to the nq×nb scan it speeds up
                    head = base.select(F.size("vec").alias("nw")).head()
                    n_words = int(head["nw"]) if head else None
                    dist = binary_words_distance_expr(
                        metric, F.col("vec"), F.col("qvec"), n_words=n_words
                    )
                else:
                    dist = binary_distance_expr(metric, F.col("vec"), F.col("qvec"))
            else:
                dist = distance_expr(metric, F.col("vec"), F.col("qvec"))
            scored = pairs.select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                dist.alias("distance"),
            )
        elif strategy == "gemm" and metric.is_binary:
            scored = _binary_gemm_partial_topk(base, queries, k, metric)
        elif strategy == "gemm":
            scored = _gemm_partial_topk(base, queries, k, metric)
        else:
            raise ValueError(f"unknown strategy {strategy!r}")

        return topk_per_key(
            scored,
            "query_id",
            "distance",
            k,
            ascending=not metric.is_similarity,
            tie_breaker="neighbor_id",
        )

    @staticmethod
    def search_distributed(
        base_df: DataFrame,
        query_df: DataFrame,
        k: int,
        metric: MetricType | str = MetricType.L2,
        *,
        n_blocks: int | None = None,
        filter_expr: Column | str | None = None,
        id_col: str = "id",
        vec_col: str = "vec",
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """Exact top-k with NO driver collect of either side — the
        corpus-vs-corpus regime where ``nq`` is far past broadcast range
        (the gemm path's ``queries.collect()`` contract is nq<=10k).

        Block nested-loop GEMM: the base is hashed into ``n_blocks``
        blocks, the query set is replicated once per block (a shuffle,
        never a broadcast), and each cogroup runs one float64 GEMM +
        partial top-k; a final window reduces ``n_blocks·k`` candidates
        per query.  Same results as ``search`` (exact, same tie-break).
        """
        metric = MetricType(metric)
        base, queries = _prep(
            base_df, query_df, id_col, vec_col, query_id_col, query_vec_col, filter_expr
        )
        spark = base.sparkSession
        B = n_blocks or spark.sparkContext.defaultParallelism
        base_b = base.withColumn(
            "block_id", F.pmod(F.hash("id"), F.lit(B)).cast("int")
        )
        qrep = queries.withColumn(
            "block_id", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
        ).withColumn("block_id", F.col("block_id").cast("int"))
        largest = metric.is_similarity

        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, scalar_column

        _res_pa = pa.schema(
            [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
             ("distance", pa.float64())]
        )

        def block_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
            if left.num_rows == 0 or right.num_rows == 0:
                return _res_pa.empty_table()
            X = list_matrix(left, "vec")
            ids = scalar_column(left, "id", np.int64)
            Q = list_matrix(right, "qvec")
            qids = scalar_column(right, "query_id", np.int64)
            dist = pairwise_distances(X, Q, metric)
            qidx, nid, dd = local_topk(dist, ids, k, largest)
            return pa.table(
                {
                    "query_id": pa.array(qids[qidx], type=pa.int64()),
                    "neighbor_id": pa.array(
                        nid.astype(np.int64, copy=False), type=pa.int64()
                    ),
                    "distance": pa.array(
                        dd.astype(np.float64, copy=False), type=pa.float64()
                    ),
                }
            )

        scored = (
            base_b.groupby("block_id")
            .cogroup(qrep.groupby("block_id"))
            .applyInArrow(block_kernel, RESULT_SCHEMA)
        )
        return topk_per_key(
            scored,
            "query_id",
            "distance",
            k,
            ascending=not largest,
            tie_breaker="neighbor_id",
        )

    @staticmethod
    def range_search(
        base_df: DataFrame,
        query_df: DataFrame,
        config: BaseConfig,
        *,
        filter_expr: Column | str | None = None,
        id_col: str = "id",
        vec_col: str = "vec",
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """``BruteForce::RangeSearch`` (brute_force.cc + range_util.cc:8-66).

        Half-open range semantics per metric direction
        (include/knowhere/range_util.h:22-25):
        L2-like ``range_filter <= d < radius``; similarity metrics
        ``radius < d <= range_filter``.  The CSR ``lims`` encoding is the
        long-form grouping itself (SURVEY.md §1.1).  ``range_search_k > 0``
        truncates per query by rank (config.h:665-669).
        """
        metric = MetricType(config.metric_type)
        base, queries = _prep(
            base_df, query_df, id_col, vec_col, query_id_col, query_vec_col, filter_expr
        )
        pairs = base.crossJoin(F.broadcast(queries))
        if metric.is_binary:
            dist = binary_distance_expr(metric, F.col("vec"), F.col("qvec"))
        else:
            dist = distance_expr(metric, F.col("vec"), F.col("qvec"))
        scored = pairs.select(
            "query_id", F.col("id").alias("neighbor_id"), dist.alias("distance")
        )
        return apply_range_bounds(scored, config)

    @staticmethod
    def structure_search(
        base_df: DataFrame,
        query_df: DataFrame,
        metric: MetricType | str,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """SUBSTRUCTURE/SUPERSTRUCTURE containment match — returns matching
        pairs only, no heap (``binary_knn_mc``, brute_force.cc:229-236)."""
        metric = MetricType(metric)
        base, queries = _prep(
            base_df, query_df, id_col, vec_col, query_id_col, query_vec_col, None
        )
        pairs = base.crossJoin(F.broadcast(queries))
        match = structure_match_expr(metric, F.col("vec"), F.col("qvec"))
        return pairs.filter(match).select(
            "query_id", F.col("id").alias("neighbor_id")
        )

    @staticmethod
    def search_sparse(
        base_df: DataFrame,
        query_df: DataFrame,
        k: int,
        metric: MetricType | str = MetricType.IP,
        *,
        config=None,
        id_col: str = "id",
        vec_col: str = "vec",
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """``BruteForce::SearchSparse`` (brute_force.h:44-50) — exact
        sparse top-k without a prebuilt index: transient postings, full
        TAAT evaluation (no pruning), so it serves as the sparse oracle."""
        from knowhere_spark.config import SparseConfig
        from knowhere_spark.operators.sparse import SparseInvertedIndex

        cfg = config or SparseConfig(
            metric_type=MetricType(metric), inverted_index_algo="TAAT_NAIVE", k=k
        )
        idx = SparseInvertedIndex.build(base_df, cfg, id_col=id_col, vec_col=vec_col)
        return idx.search(
            query_df, k,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            prune_terms=False, drop_ratio_search=0.0,
        )

    @staticmethod
    def get_vector_by_ids(
        base_df: DataFrame,
        ids_df: DataFrame,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> DataFrame:
        """``GetVectorByIds`` (index_node.h:340-350) — a broadcast semi-join."""
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return base_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        ).join(F.broadcast(ids), "id")


def _binary_gemm_partial_topk(
    base: DataFrame, queries: DataFrame, k: int, metric: MetricType
) -> DataFrame:
    """Partial per-partition top-k over packed-bit BYTES columns: LUT
    popcount kernel (functions/binary.binary_pairwise) + local_topk — the
    binary twin of the float GEMM path, so binary KNN never shuffles the
    nq×nb scored set either."""
    from knowhere_spark.functions.binary import _to_matrix, binary_pairwise

    spark = base.sparkSession
    qrows = queries.collect()   # nq small by contract (same as float gemm)
    if not qrows:   # empty query set => empty result, not a reshape crash
        return spark.createDataFrame([], RESULT_SCHEMA)
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.frombuffer(
        b"".join(r["qvec"] for r in qrows), dtype=np.uint8
    ).reshape(len(qrows), -1)
    bq = spark.sparkContext.broadcast((qids, Q))

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import (
            binary_matrix,
            scalar_column,
        )

        b_qids, b_Q = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            ids = scalar_column(tbl, "id", np.int64)
            X = binary_matrix(tbl, "vec")
            dist = binary_pairwise(X, b_Q, metric)
            qidx, nid, dd = local_topk(dist, ids, k, largest=False)
            yield pa.record_batch(
                [
                    pa.array(b_qids[qidx], type=pa.int64()),
                    pa.array(nid.astype(np.int64, copy=False), type=pa.int64()),
                    pa.array(dd.astype(np.float64, copy=False), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "distance"],
            )

    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(base).mapInArrow(kernel, RESULT_SCHEMA)


def _gemm_partial_topk(
    base: DataFrame, queries: DataFrame, k: int, metric: MetricType
) -> DataFrame:
    """Partial per-partition top-k with a broadcast numpy query matrix.

    Emits ``<= num_partitions * nq * k`` rows; the caller applies the final
    exact top-k.  Arithmetic is float64 GEMM (matches the SQL path to
    ~1e-12, exact after the documented rounding at the API entry layer).
    """
    spark = base.sparkSession
    qrows = queries.collect()   # nq is small by contract (reference nq=10..10k)
    if not qrows:   # empty query set => empty result, not a reshape crash
        return spark.createDataFrame([], RESULT_SCHEMA)
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["qvec"] for r in qrows], dtype=np.float64)
    bq = spark.sparkContext.broadcast((qids, qmat))
    largest = metric.is_similarity

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, scalar_column

        b_qids, b_qmat = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            ids = scalar_column(tbl, "id", np.int64)
            X = list_matrix(tbl, "vec")
            dist = pairwise_distances(X, b_qmat, metric)
            qidx, nid, dd = local_topk(dist, ids, k, largest)
            yield pa.record_batch(
                [
                    pa.array(b_qids[qidx], type=pa.int64()),
                    pa.array(nid.astype(np.int64, copy=False), type=pa.int64()),
                    pa.array(dd.astype(np.float64, copy=False), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "distance"],
            )

    # a small/cached base can arrive as one split; the kernel cost is
    # O(n·nq·dim) per row, so round-robin it across the task slots (no-op
    # when the scan already has enough splits — the 100 TB case)
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(base).mapInArrow(kernel, RESULT_SCHEMA)
