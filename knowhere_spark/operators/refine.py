"""Generic quantize-then-refine — the two-stage pattern shared by SCANN
(``reorder_k`` exact re-rank, src/index/ivf/ivf.cc:778-782), HNSW refine
(``refine_k``, faiss_hnsw_config.h:22-71) and the iterator's
``refine_ratio`` (index_node.h:527-570).

Stage 1 produces approximate candidates (any index's search with
``k = reorder_k``); stage 2 joins the survivors back to raw vectors and
re-ranks by exact distance.  Pure DataFrame composition — the QUERY side
is force-broadcast (nq-bounded); the candidate-vs-raw join carries no
hint because the survivor set is ``nq x reorder_k`` rows — small on the
driver path, potentially corpus-scale for distributed self-search — so
AQE converts it to a broadcast exactly when it is actually small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowhere_spark.config import MetricType
from knowhere_spark.functions.distance import distance_expr
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key


def rescore(
    candidates: DataFrame,
    raw_df: DataFrame,
    query_df: DataFrame,
    metric: MetricType | str,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    query_id_col: str = "query_id",
    query_vec_col: str = "vec",
) -> DataFrame:
    """Exact ``(query_id, neighbor_id, distance)`` of ``candidates
    (query_id, neighbor_id)``: the candidate pairs joined to the raw
    vectors and the (broadcast) queries.  ``raw_df`` must hold the raw
    vectors (``HasRawData`` precondition, flat.cc:257-285)."""
    raw = raw_df.select(
        F.col(id_col).cast("long").alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    queries = query_df.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    return (
        candidates.select("query_id", "neighbor_id")
        .join(raw, "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            distance_expr(MetricType(metric), F.col("vec"), F.col("qvec")).alias(
                "distance"
            ),
        )
    )


def refine(
    candidates: DataFrame,
    raw_df: DataFrame,
    query_df: DataFrame,
    k: int,
    metric: MetricType | str,
    **cols: str,
) -> DataFrame:
    """Exact re-rank of ``candidates (query_id, neighbor_id)`` down to
    top-k; ``cols`` name the input columns as in :func:`rescore`."""
    return topk_per_key(
        rescore(candidates, raw_df, query_df, metric, **cols),
        "query_id", "distance", k,
        ascending=not MetricType(metric).is_similarity, tie_breaker="neighbor_id",
    )


class ScannIndex:
    """SCANN = quantized IVF probe (stage 1, k=reorder_k) + raw-data refine
    (stage 2) — src/index/ivf/ivf.cc:555-586, ivf_config.h:101-162."""

    def __init__(self, sq_index, config):
        self.sq = sq_index
        self.config = config
        self.index_type = "SCANN"

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        scalar_cols: tuple[str, ...] | list[str] = (),
    ):
        """``scalar_cols`` flow into the inner quantized table (the
        materialized_view.h:23-36 hot-scalar layout), so a filtered SCANN
        search filters join-free at the approximate stage and a saved
        layout prunes partitions."""
        from knowhere_spark.config import IndexType, IvfSq8Config
        from knowhere_spark.operators.sq import IVFSq8Index

        sq_cfg = IvfSq8Config(
            metric_type=config.metric_type,
            k=config.k,
            nlist=config.nlist,
            nprobe=config.nprobe,
            seed=config.seed,
            ensure_topk_full=config.ensure_topk_full,
        )
        sq = IVFSq8Index.build(
            base_df, sq_cfg, id_col=id_col, vec_col=vec_col,
            with_raw_data=config.with_raw_data,
            index_type=IndexType.SCANN,
            scalar_cols=scalar_cols,
        )
        return cls(sq, config)

    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist via the inner quantized layout (manifest keeps the
        SCANN index_type + ``reorder_k``); ``scalar_partition_cols``
        follow the IVF/SQ pruning contract."""
        self.sq.save(path, scalar_partition_cols=scalar_partition_cols)
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        m["reorder_k"] = int(self.config.reorder_k)
        m["with_raw_data"] = bool(self.config.with_raw_data)
        store.write_manifest(m)

    @classmethod
    def load(cls, spark, path: str) -> "ScannIndex":
        from knowhere_spark.config import ScannConfig
        from knowhere_spark.operators.sq import IVFSq8Index
        from knowhere_spark.sources.index_store import IndexStore

        sq = IVFSq8Index.load(spark, path)
        m = IndexStore(path).read_manifest()
        cfg = ScannConfig(
            metric_type=sq.config.metric_type,
            nlist=sq.config.nlist,
            nprobe=sq.config.nprobe,
            reorder_k=int(m.get("reorder_k", 256)),
            with_raw_data=bool(m.get("with_raw_data", sq.with_raw_data)),
        )
        return cls(sq, cfg)

    def count(self) -> int:
        return self.sq.count()

    def release(self) -> None:
        """Unpersist the inner quantized index's resident cell table."""
        self.sq.release()

    def dim(self) -> int:
        return self.sq.dim()

    def has_raw_data(self) -> bool:
        return self.sq.with_raw_data

    def get_vector_by_ids(self, ids_df, *, id_col: str = "id"):
        """``GetVectorByIds`` — delegates to the inner SQ index (legal
        only when SCANN kept raw data, ivf_config.h:101-162)."""
        return self.sq.get_vector_by_ids(ids_df, id_col=id_col)

    def add(self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec") -> "ScannIndex":
        """Append with frozen train state (delegates to the inner SQ index;
        raw vectors ride along when ``with_raw_data`` so refine still
        covers added rows) — ``IndexNode::Add``, index_node.h:120-121."""
        return ScannIndex(
            self.sq.add(new_df, id_col=id_col, vec_col=vec_col), self.config
        )

    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        reorder_k: int | None = None,
        nprobe: int | None = None,
        filter_expr=None,
        strategy: str = "auto",
    ) -> DataFrame:
        k = k if k is not None else self.config.k
        reorder_k = max(reorder_k if reorder_k is not None else self.config.reorder_k, k)
        # bitset filter applies at the approximate stage (candidates the
        # refine re-ranks are already filtered, matching the reference's
        # filtered two-stage search); strategy (driver/distributed large-nq
        # switch) passes through to the inner SQ probe
        approx = self.sq.search(
            query_df, k=reorder_k, nprobe=nprobe,
            filter_expr=filter_expr, strategy=strategy,
        )
        return self._finish(approx, query_df, k)

    def range_search(
        self,
        query_df: DataFrame,
        config=None,
        *,
        nprobe: int | None = None,
        filter_expr=None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """``RangeSearch``: candidates come from the quantized scan's
        range pass (coverage bounded by the quantizer, as in the
        reference's fast-scan range path); with raw data the survivors
        are re-scored exactly and the half-open bounds re-applied.
        ``strategy`` passes through to the inner SQ range search, as in
        :meth:`search`."""
        cfg = config or self.config
        approx = self.sq.range_search(
            query_df, cfg, nprobe=nprobe, filter_expr=filter_expr,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            strategy=strategy,
        )
        if not self.sq.with_raw_data:
            return approx
        exact = rescore(
            approx, self.sq.raw_vectors(), query_df, cfg.metric_type,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        return apply_range_bounds(exact, cfg)

    def _finish(self, approx: DataFrame, query_df: DataFrame, k: int) -> DataFrame:
        if not self.sq.with_raw_data:
            # no refine possible — approximate results stand (reference
            # behavior when with_raw_data=false)
            return approx.filter(F.col("rank") <= k)
        return refine(
            approx, self.sq.raw_vectors(), query_df, k, self.config.metric_type
        )
