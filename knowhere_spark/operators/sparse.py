"""Sparse inverted index: top-k by IP or BM25 over MAP<INT,FLOAT> vectors —
the reference's SPARSE_INVERTED_INDEX / SPARSE_WAND family
(src/index/sparse/sparse_inverted_index.h, sparse_index_node.cc; config
sparse_inverted_index_config.h:20-108; BM25 formula sparse_utils.h:60-66).

Spark-first layout (SURVEY.md §2.3): explode sparse vectors into a
``postings(term, doc_id, value)`` table repartitioned by term — the classic
SQL inverted index.  A query is a small term/weight set: broadcast-join on
``term``, weighted ``groupBy(doc).sum()``, top-k.  Partial aggregation
(map-side combine) does the per-term accumulation before the single
shuffle on doc_id.

Pruning parity:

- ``drop_ratio_search`` — drop the lowest-valued fraction of *query* terms
  before the join (sparse_inverted_index_config.h).
- DAAT_WAND/MAXSCORE — the serving-side per-doc early-termination loops
  don't translate to set-based evaluation; their *stats*, the per-term
  ``max_score`` upper bound, become a term-level pre-filter
  (SURVEY.md §4): terms whose best-possible contribution can't affect the
  final top-k are dropped before the join.  Exact evaluation of the kept
  terms keeps results exact for TAAT_NAIVE and recall-bounded for the
  pruned algos, mirroring the reference's contract.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowhere_spark.config import MetricType, SparseConfig
from knowhere_spark.operators.topk import topk_per_key
from knowhere_spark.sources.index_store import IndexStore


def sparse_to_postings(
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    scalar_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode MAP<INT,FLOAT> vectors → long-form postings.  Doc-level
    ``scalar_cols`` are denormalized onto every posting row — the
    hot-scalar filtered-search layout (materialized_view.h:23-36): a
    scalar predicate then evaluates join-free at the postings scan and,
    saved partitioned, prunes whole parquet partitions."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.col(vec_col)).alias("term", "value"),
        *scalar_cols,
    )


_POSTINGS_PARTITION_BYTES = 4 << 20    # target cached-partition size
_POSTING_ROW_BYTES = 48                # term string + doc_id + value + overhead
_DOC_STAT_ROW_BYTES = 24


def _right_size_index_caches(postings, doc_stats, n_docs, avgdl):
    """Shrink the cached postings/doc_stats to a SIZE-derived partition
    count (guide §2.2/§6: partitions sized by bytes, never by the
    session's ``spark.sql.shuffle.partitions``).

    The cached layout otherwise inherits the build's groupBy partition
    count — at high core counts a few-MB index is cached as dozens of
    near-empty partitions and EVERY search pays one scan task per
    partition plus that many map-side shuffle blocks (measured at sf0.1:
    nq=1 BM25 search min 0.86 s → 0.66 s on local[32] with 4+1
    partitions, dropping the 32-core time below the stock 8-core time —
    the inverse-scaling signature).  The 4 MB target keeps a few-way
    scan parallelism for batched (nq≥100) term joins — a partition-count
    sweep at sf0.1 read nq=1 FLAT from 2..32 parts on an idle box but
    2× worse at 32 parts under load, while nq=100 improved steadily
    with width; ~7 parts held both entries at-or-better in every
    regime — while collapsing the near-empty tail.  Only ever SHRINKS:
    corpus-scale postings keep
    their natural partitioning, so this is a no-op at 100 TB where the
    estimate exceeds the current count.  Score sums may reassociate
    (≤1 ulp drift — the same drift a different core count already
    causes; the entry layer's round(4) absorbs it).

    The relayout is LAZY: ``coalesce`` (no shuffle) + cache, with the
    original caches kept alive as the fill source — the build pays no
    extra job (an eager repartition+materialize tripled the measured
    build entry), and the first search fills the right-sized cache by
    reading the old one.  The duplication is bounded by the shrink-only
    trigger (small indexes only) and the old blocks age out with their
    references."""
    est_rows = max(1.0, float(n_docs) * max(float(avgdl), 1.0))
    want_p = max(1, int(est_rows * _POSTING_ROW_BYTES
                        // _POSTINGS_PARTITION_BYTES) + 1)
    if want_p >= postings.rdd.getNumPartitions():
        return postings, doc_stats
    want_d = max(1, int(n_docs * _DOC_STAT_ROW_BYTES
                        // _POSTINGS_PARTITION_BYTES) + 1)
    # doc_stats values are already aggregated — a pure relayout, bit-exact
    return postings.coalesce(want_p).cache(), doc_stats.coalesce(want_d).cache()


def bm25_score_expr(
    tf: Column, doc_len: Column, k1: float, b: float, avgdl: float
) -> Column:
    """Per-term BM25 term weight (sparse_utils.h:60-66):
    ``tf*(k1+1) / (tf + k1*(1 - b + b*doc_len/avgdl))`` — query weight
    multiplies outside; no IDF inside the metric (carried by the query
    weights upstream, as in the reference)."""
    return (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * (doc_len / F.lit(float(avgdl))))
    )


class SparseInvertedIndex:
    """Postings-table index with IP / BM25 scoring."""

    def __init__(
        self,
        postings: DataFrame,          # (term, doc_id, value[, scalars])
        doc_stats: DataFrame,         # (doc_id, doc_len[, scalars])
        term_stats: DataFrame,        # (term, max_score, df)
        config: SparseConfig,
        *,
        n_docs: int | None = None,
        avgdl: float | None = None,
        n_term_buckets: int | None = None,
        scalar_cols: tuple[str, ...] = (),
        n_partitions: int | None = None,
    ):
        self.postings = postings
        self.doc_stats = doc_stats
        self.term_stats = term_stats
        self.config = config
        self._n_docs = n_docs
        self._avgdl = avgdl
        # set on load of a bucket-partitioned index: postings carry a
        # `term_bucket` partition column and search prunes to the query
        # terms' buckets
        self._n_term_buckets = n_term_buckets
        # hot scalar payload denormalized onto postings (and carried on
        # doc_stats): a filter_expr over these evaluates join-free
        self.scalar_cols = tuple(scalar_cols)
        # explicit term-partition count chosen at build; add() keeps it
        self._n_partitions = n_partitions

    # -- Build ---------------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        config: SparseConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        n_partitions: int | None = None,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "SparseInvertedIndex":
        scalar_cols = tuple(scalar_cols)
        clash = {"doc_id", "term", "value", "term_bucket", "doc_len"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        postings = sparse_to_postings(
            df, id_col=id_col, vec_col=vec_col, scalar_cols=scalar_cols
        )
        if n_partitions:
            postings = postings.repartition(n_partitions, "term")
        # cached: doc stats, term stats AND every search read the postings;
        # without this the explode/tokenize lineage recomputes per action
        postings = postings.cache()
        doc_stats = postings.groupBy("doc_id").agg(
            F.sum("value").alias("doc_len"),   # row sum = doc_len (sparse_utils.h:60-66)
            # doc-level scalars are constant per doc — first() is exact
            *(F.first(c).alias(c) for c in scalar_cols),
        ).cache()
        # one action for both build-time statistics
        row = doc_stats.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        if not n_partitions:
            postings, doc_stats = _right_size_index_caches(
                postings, doc_stats, int(row["n"]), float(row["avgdl"])
            )
        # bind to the FINAL postings cache (the right-sized one when it
        # applies) so lazy reads never fall back to the source lineage
        term_stats = postings.groupBy("term").agg(
            F.max("value").alias("max_value"),
            F.count("*").alias("df"),
        )
        return cls(
            postings, doc_stats, term_stats, config,
            n_docs=int(row["n"]), avgdl=float(row["avgdl"]),
            scalar_cols=scalar_cols, n_partitions=n_partitions,
        )

    @classmethod
    def build_from_text(
        cls,
        df: DataFrame,
        config: SparseConfig,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_partitions: int | None = None,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "SparseInvertedIndex":
        """Build straight from a text column: tokenize → term-frequency
        postings in ONE shuffle (`groupBy(doc_id, term)`), skipping the
        MAP<term,tf> vector roundtrip of ``text_to_sparse`` + ``build``
        (which costs two extra shuffles and a map build/explode).  Postings
        and stats are identical to the two-step path.  Doc-level
        ``scalar_cols`` denormalize onto postings (see ``build``)."""
        from knowhere_spark.functions.text import tokens_expr

        scalar_cols = tuple(scalar_cols)
        clash = {"doc_id", "term", "value", "term_bucket", "doc_len"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        toks = df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(tokens_expr(F.col(text_col))).alias("term"),
            *scalar_cols,
        )
        postings = toks.groupBy("doc_id", "term").agg(
            F.count("*").cast("float").alias("value"),
            *(F.first(c).alias(c) for c in scalar_cols),
        )
        if n_partitions:
            postings = postings.repartition(n_partitions, "term")
        postings = postings.select("term", "doc_id", "value", *scalar_cols).cache()
        doc_stats = postings.groupBy("doc_id").agg(
            F.sum("value").alias("doc_len"),
            *(F.first(c).alias(c) for c in scalar_cols),
        ).cache()
        row = doc_stats.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        if not n_partitions:
            postings, doc_stats = _right_size_index_caches(
                postings, doc_stats, int(row["n"]), float(row["avgdl"])
            )
        term_stats = postings.groupBy("term").agg(
            F.max("value").alias("max_value"),
            F.count("*").alias("df"),
        )
        return cls(
            postings, doc_stats, term_stats, config,
            n_docs=int(row["n"]), avgdl=float(row["avgdl"]),
            scalar_cols=scalar_cols, n_partitions=n_partitions,
        )

    # -- Add (index_node.h:120-121; batch form of the CC growing segment) -----
    def add(
        self, df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "SparseInvertedIndex":
        """Append sparse rows: postings/doc_stats grow, ``n_docs``/``avgdl``
        recompute over the grown corpus (batch Add recomputes exactly; the
        streaming CC path pins avgdl until seal — streaming/cc.py,
        sparse_index_node.cc:431-585 contract).  Bucketed (loaded) indexes
        bucket the appended postings with the same term-hash layout.
        Scalar payload columns the index carries must arrive with every
        Add batch."""
        missing = [c for c in self.scalar_cols if c not in df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new_postings = sparse_to_postings(
            df, id_col=id_col, vec_col=vec_col, scalar_cols=self.scalar_cols
        )
        if self._n_term_buckets:
            new_postings = new_postings.withColumn(
                "term_bucket", F.pmod(F.hash("term"), F.lit(self._n_term_buckets))
            )
        postings = self.postings.unionByName(new_postings)
        if self._n_partitions:
            # an explicitly chosen term layout survives the append
            postings = postings.repartition(self._n_partitions, "term")
        postings = postings.cache()
        doc_stats = postings.groupBy("doc_id").agg(
            F.sum("value").alias("doc_len"),
            *(F.first(c).alias(c) for c in self.scalar_cols),
        ).cache()
        row = doc_stats.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        if not self._n_partitions:
            postings, doc_stats = _right_size_index_caches(
                postings, doc_stats, int(row["n"]), float(row["avgdl"])
            )
        term_stats = postings.groupBy("term").agg(
            F.max("value").alias("max_value"),
            F.count("*").alias("df"),
        )
        return SparseInvertedIndex(
            postings, doc_stats, term_stats, self.config,
            n_docs=int(row["n"]), avgdl=float(row["avgdl"]),
            n_term_buckets=self._n_term_buckets,
            scalar_cols=self.scalar_cols,
            n_partitions=self._n_partitions,
        )

    def add_from_text(
        self, df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
    ) -> "SparseInvertedIndex":
        """Text-column form of :meth:`add` (mirrors ``build_from_text``)."""
        from knowhere_spark.operators.sparse import text_to_sparse

        sparse = text_to_sparse(df, text_col=text_col, id_col=id_col)
        if self.scalar_cols:
            # text_to_sparse drops non-text columns; re-attach the index's
            # scalar payload (doc-level, so a doc_id join is exact)
            sparse = sparse.join(
                df.select(
                    F.col(id_col).cast("long").alias("id"), *self.scalar_cols
                ),
                "id",
            )
        return self.add(sparse, id_col="id", vec_col="vec")

    @property
    def avgdl(self) -> float:
        return self._avgdl

    def count(self) -> int:
        if self._n_docs is None:
            # lazy: views built over a snapshot (streaming/cc.py) defer the
            # count so search() never pays an extra eager job for a
            # statistic scoring doesn't use
            self._n_docs = self.doc_stats.count()
        return self._n_docs

    # -- Search ---------------------------------------------------------------
    def _scores(
        self,
        query_df: DataFrame,
        *,
        metric: MetricType,
        drop: float,
        prune_terms: bool,
        k: int,
        query_id_col: str,
        query_vec_col: str,
        filter_expr: Column | str | None,
        candidates: DataFrame | None = None,
        candidates_broadcast: bool = True,
    ) -> DataFrame:
        """Shared scoring pipeline → (query_id, doc_id, score); top-k and
        range search differ only in the final shaping.

        ``candidates``: optional ``(query_id, doc_id)`` set — scoring is
        restricted to these pairs (the refine re-rank pass: postings scan
        pruned to candidate docs, pair filter before the aggregate).
        ``candidates_broadcast=False`` drops the broadcast hint for
        posting-list-sized candidate sets (the exact-MaxScore passes) —
        AQE still broadcasts when the set is actually small.
        """
        cfg = self.config
        if metric == MetricType.BM25:
            avgdl = cfg.bm25_avgdl if cfg.bm25_avgdl else self._avgdl
            if not avgdl or avgdl <= 0:
                raise ValueError("BM25 search requires avgdl (config.h:734-760)")

        qterms = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.explode(F.col(query_vec_col)).alias("term", "qval"),
        )

        postings_src = self.postings
        if self._n_term_buckets:
            # scale path: postings live partitioned by term-hash bucket —
            # a literal bucket filter prunes the scan to the query terms'
            # partitions (the inverted-list seek of sparse_inverted_index.h,
            # expressed as Parquet partition pruning).  Queries are small by
            # contract, so materializing their bucket set is one tiny job.
            buckets = [
                r[0]
                for r in query_df.select(
                    F.explode(F.map_keys(F.col(query_vec_col))).alias("t")
                )
                .select(
                    F.pmod(F.hash("t"), F.lit(self._n_term_buckets)).alias("b")
                )
                .distinct()
                .collect()
            ]
            postings_src = postings_src.filter(F.col("term_bucket").isin(buckets))
        if drop > 0:
            # drop the lowest-valued `drop` fraction of query terms
            from pyspark.sql import Window

            w = Window.partitionBy("query_id").orderBy(F.col("qval").asc(), F.col("term").asc())
            cnt = Window.partitionBy("query_id")
            qterms = (
                qterms.withColumn("__rn", F.row_number().over(w))
                .withColumn("__n", F.count("*").over(cnt))
                .filter(F.col("__rn") > F.floor(F.col("__n") * drop))
                .drop("__rn", "__n")
            )

        postings = postings_src
        if filter_expr is not None:
            applied_direct = False
            if self.scalar_cols:
                # hot-scalar layout: the predicate's columns live ON the
                # postings rows, so the filter evaluates join-free at the
                # scan (and prunes partitions on a saved scalar layout).
                # The probe below analyzes the predicate against a
                # LINEAGE-FREE empty frame holding ONLY (doc_id, scalars):
                # a predicate touching any per-posting column (term/value)
                # — which would silently filter individual postings and
                # return PARTIAL doc scores — fails analysis there and
                # takes the doc-level semi-join instead, as do
                # doc_stats-only predicates (doc_len).  (A projection of a
                # real frame would NOT work: Spark's
                # ResolveMissingReferences resolves dropped columns
                # through a select, so select(...).filter(value) analyzes
                # fine — measured, and it silently corrupted scores.)
                try:
                    spark_ = self.postings.sparkSession
                    probe_schema = self.doc_stats.select(
                        "doc_id", *self.scalar_cols
                    ).schema
                    spark_.createDataFrame([], probe_schema).filter(filter_expr)
                    postings = postings.filter(filter_expr)
                    applied_direct = True
                except Exception:
                    pass  # falls back to the semi-join; postings unchanged
            if not applied_direct:
                # no broadcast hint: a permissive filter keeps most of the
                # corpus, and a forced corpus-sized broadcast would OOM at
                # scale — AQE still picks a broadcast join when it IS small
                allowed = self.doc_stats.filter(filter_expr).select("doc_id")
                postings = postings.join(allowed, "doc_id", "left_semi")
        if candidates is not None:
            cdocs = candidates.select("doc_id").distinct()
            postings = postings.join(
                F.broadcast(cdocs) if candidates_broadcast else cdocs, "doc_id"
            )

        if metric == MetricType.BM25:
            avgdl = cfg.bm25_avgdl if cfg.bm25_avgdl else self._avgdl
            # doc_stats is corpus-sized (one row per doc): never force a
            # broadcast — the scalable form is an ordinary shuffle join
            # (both sides key on doc_id), and AQE broadcasts small corpora
            scored_postings = (
                postings.join(self.doc_stats_small(), "doc_id")
                .withColumn(
                    "__w",
                    bm25_score_expr(
                        F.col("value").cast("double"),
                        F.col("doc_len").cast("double"),
                        cfg.bm25_k1,
                        cfg.bm25_b,
                        avgdl,
                    ),
                )
            )
        else:
            scored_postings = postings.withColumn("__w", F.col("value").cast("double"))

        if prune_terms:
            qterms = self._prune_query_terms(qterms, metric, k)

        joined = scored_postings.join(F.broadcast(qterms), "term")
        if candidates is not None:
            joined = joined.join(
                F.broadcast(candidates) if candidates_broadcast else candidates,
                ["query_id", "doc_id"],
            )
        return joined.groupBy("query_id", "doc_id").agg(
            F.sum(F.col("qval").cast("double") * F.col("__w")).alias("score")
        )

    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        metric: MetricType | str | None = None,
        drop_ratio_search: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        filter_expr: Column | str | None = None,
        prune_terms: bool | None = None,
        refine_factor: int | None = None,
    ) -> DataFrame:
        """Top-k docs per sparse query → (query_id, doc_id, score, rank).

        With ``drop_ratio_search > 0`` and ``refine_factor > 1`` the search
        follows the reference's approximate contract
        (sparse_inverted_index.h:440-459): the pruned query generates
        ``refine_factor·k`` candidates, which are re-scored with the FULL
        query (all terms) and reduced to the final top-k — recovering most
        of the recall the dropped terms cost.
        """
        cfg = self.config
        k = k if k is not None else cfg.k
        metric = MetricType(metric if metric is not None else cfg.metric_type)
        drop = drop_ratio_search if drop_ratio_search is not None else cfg.drop_ratio_search
        rf = refine_factor if refine_factor is not None else cfg.refine_factor
        if prune_terms == "exact":
            if drop > 0 or (rf or 1) > 1:
                # the exact path scores candidates with the FULL query and
                # has no refine stage — silently ignoring the approximate
                # knobs would let a caller believe they were honored
                # (ADVICE r5): conflicting asks are a config error, the
                # same strictness the reference's ConfigCheck applies
                from knowhere_spark.config import ConfigError

                raise ConfigError(
                    "prune_terms='exact' is lossless full-query scoring and "
                    f"cannot honor drop_ratio_search={drop}/refine_factor={rf}; "
                    "drop them or use the default pruned path"
                )
            # opt-in lossless MaxScore pruning (r5).  NOT the default:
            # the relational term-join below already skips every posting
            # of non-query terms — the I/O saving cursor-MaxScore exists
            # to provide — so the exact path's extra passes lost every
            # measured A/B at benchable scales (4-7x slower at 50k docs,
            # even on SPLADE-like 100-term queries and selective rare
            # terms; SCALE.md).  It wins only where per-pair scoring
            # dominates stage overhead (>> 10⁹ matched pairs per query
            # set) — available for that regime, never silently imposed.
            return self.search_maxscore_exact(
                query_df, k, metric=metric,
                query_id_col=query_id_col, query_vec_col=query_vec_col,
                filter_expr=filter_expr,
            )
        if prune_terms is None:
            prune_terms = cfg.inverted_index_algo in ("DAAT_WAND", "DAAT_MAXSCORE")
        # span open (index.cc:149-162 parity — see tracing.py); the term
        # join is JVM-side so the metrics are plan attributes + wall
        from knowhere_spark.tracing import OpMetrics, op_description

        m = OpMetrics(
            op="SPARSE.search", k=k, metric=metric.value, drop_ratio_search=drop,
            refine_factor=rf, prune_terms=prune_terms,
            algo=cfg.inverted_index_algo,
        )
        m["description"] = op_description(
            self.postings.sparkSession.sparkContext, m["op"],
            k=k, metric=metric.value, algo=cfg.inverted_index_algo,
        )
        self.last_metrics = m
        scores = self._scores(
            query_df, metric=metric, drop=drop, prune_terms=prune_terms, k=k,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            filter_expr=filter_expr,
        )
        if drop > 0 and rf > 1:
            cand = topk_per_key(
                scores, "query_id", "score", rf * k,
                ascending=False, tie_breaker="doc_id",
            ).select("query_id", "doc_id")
            scores = self._scores(
                query_df, metric=metric, drop=0.0, prune_terms=False, k=k,
                query_id_col=query_id_col, query_vec_col=query_vec_col,
                filter_expr=filter_expr, candidates=cand,
            )
        return topk_per_key(
            scores, "query_id", "score", k, ascending=False, tie_breaker="doc_id"
        )

    def _term_upper_bounds(self, metric: MetricType) -> DataFrame:
        """(term, max_w): the exact per-term max score contribution per
        unit query weight — the MaxScore bound table
        (sparse_inverted_index.h:38-42's max_score_, computed set-side).
        IP: the stored per-term max value.  BM25: the max of the ACTUAL
        per-posting BM25 weight (depends on tf and doc_len), computed
        once per index and cached — legal because avgdl is pinned per
        index (the CC contract pins it until seal)."""
        if metric == MetricType.BM25:
            if getattr(self, "_bm25_max_w", None) is None:
                cfg = self.config
                avgdl = cfg.bm25_avgdl if cfg.bm25_avgdl else self._avgdl
                if not avgdl or avgdl <= 0:
                    raise ValueError("BM25 bounds require avgdl (config.h:734-760)")
                w = bm25_score_expr(
                    F.col("value").cast("double"),
                    F.col("doc_len").cast("double"),
                    cfg.bm25_k1, cfg.bm25_b, avgdl,
                )
                self._bm25_max_w = (
                    self.postings.join(self.doc_stats_small(), "doc_id")
                    .select("term", w.alias("__w"))
                    .groupBy("term")
                    .agg(F.max("__w").alias("max_w"))
                    .cache()
                )
            return self._bm25_max_w
        return self.term_stats.select(
            "term", F.col("max_value").cast("double").alias("max_w")
        )

    def search_maxscore_exact(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        metric: MetricType | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        filter_expr: Column | str | None = None,
    ) -> DataFrame:
        """EXACT MaxScore execution (Turtle & Flood 1995; the reference's
        DAAT_MAXSCORE cursor algorithm, sparse_inverted_index.h:440-459,
        re-expressed set-based — r5, closing the r2 'serving-side
        cursors don't map' skip with the semantics that DO map):

        1. seed θ: full-score only the docs containing each query's single
           highest-upper-bound term; θ = that pool's k-th true score (a
           valid LOWER bound of the final k-th score — every seed score is
           a real score).
        2. essential terms: ascending-ub cumulative tail < θ marks the
           maximal non-essential suffix; a doc matching ONLY non-essential
           terms scores ≤ that tail < θ, so it can never enter the top-k
           (strict <, so ties are safe under the (score DESC, doc_id)
           break).
        3. full-score the docs containing ≥1 essential term; top-k.

        Lossless by construction — returns EXACTLY the full scoring's
        top-k — while the postings join in step 3 only reads the
        essential terms' lists (plus step 1's single list per query): the
        I/O shape of the reference's MaxScore skipping, as partition
        pruning + a smaller join instead of per-posting cursors.  Fewer
        than k seed candidates → θ=-inf → no pruning (degrades to full
        scoring, never to a wrong answer).

        Soundness precondition: the per-term bound ``qval·max_w`` upper-
        bounds a term's contribution only for ``qval >= 0`` (posting
        weights may be anything — ``w <= max_w`` pointwise suffices).  A
        query with any NEGATIVE weight falls back to single-pass full
        scoring (still exact; the reference's sparse metrics are
        non-negative by construction, so this is the off-contract case)."""
        from pyspark.sql import Window

        cfg = self.config
        k = k if k is not None else cfg.k
        metric = MetricType(metric if metric is not None else cfg.metric_type)
        score_kw = dict(
            metric=metric, drop=0.0, prune_terms=False, k=k,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            filter_expr=filter_expr, candidates_broadcast=False,
        )
        qterms = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.explode(F.col(query_vec_col)).alias("term", "qval"),
        )
        neg = qterms.filter(F.col("qval") < 0).limit(1).count()
        if neg:
            # qval < 0 flips the bound's direction — pruning would be
            # unsound, so take the exact single-pass scan
            scores = self._scores(query_df, **score_kw)
            return topk_per_key(
                scores, "query_id", "score", k,
                ascending=False, tie_breaker="doc_id",
            )
        ubs = qterms.join(
            F.broadcast(self._term_upper_bounds(metric)), "term", "left"
        ).select(
            "query_id", "term",
            (
                F.col("qval").cast("double") * F.coalesce(F.col("max_w"), F.lit(0.0))
            ).alias("__ub"),
        )
        post_td = self.postings.select("term", "doc_id")

        # pass 1 — seed threshold from the top-ub term's posting list
        w_top = Window.partitionBy("query_id").orderBy(
            F.col("__ub").desc(), F.col("term").asc()
        )
        seed_terms = (
            ubs.withColumn("__rn", F.row_number().over(w_top))
            .filter(F.col("__rn") == 1)
            .select("query_id", "term")
        )
        # distinct is load-bearing: the pair filter in _scores joins on
        # (query_id, doc_id), and a duplicated pair would double-count
        # every posting in the sum
        seed_pairs = (
            seed_terms.join(post_td, "term").select("query_id", "doc_id").distinct()
        )
        seed_scores = self._scores(query_df, candidates=seed_pairs, **score_kw)
        w_rank = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        theta = (
            seed_scores.withColumn("__rn", F.row_number().over(w_rank))
            .groupBy("query_id")
            .agg(
                F.max(F.when(F.col("__rn") == k, F.col("score"))).alias("__kth"),
                F.count("*").alias("__n"),
            )
            .select(
                "query_id",
                F.when(F.col("__n") >= k, F.col("__kth"))
                .otherwise(F.lit(float("-inf")))
                .alias("__theta"),
            )
        )

        # pass 2 — essential terms: keep where the ascending-ub running
        # tail reaches θ; everything below is jointly unable to beat it
        w_asc = Window.partitionBy("query_id").orderBy(
            F.col("__ub").asc(), F.col("term").asc()
        ).rowsBetween(Window.unboundedPreceding, 0)
        essential = (
            ubs.join(F.broadcast(theta), "query_id", "left")
            .withColumn("__tail", F.sum("__ub").over(w_asc))
            .filter(
                F.col("__tail")
                >= F.coalesce(F.col("__theta"), F.lit(float("-inf")))
            )
            .select("query_id", "term")
        )
        cand = (
            essential.join(post_td, "term").select("query_id", "doc_id").distinct()
        )
        scores = self._scores(query_df, candidates=cand, **score_kw)
        return topk_per_key(
            scores, "query_id", "score", k, ascending=False, tie_breaker="doc_id"
        )

    def range_search(
        self,
        query_df: DataFrame,
        config: SparseConfig | None = None,
        *,
        drop_ratio_search: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        filter_expr: Column | str | None = None,
    ) -> DataFrame:
        """All docs with score in the similarity range
        ``radius < score <= range_filter`` (include/knowhere/range_util.h:
        22-25 — IP/BM25 are similarity-direction; the reference serves
        sparse range search through the default iterator implementation,
        sparse_index_node.cc:35).  ``range_search_k > 0`` truncates to the
        best ``range_search_k`` hits per query (config.h:665-669).

        Docs sharing no term with the query have implicit score 0 and are
        absent — consistent with ``radius`` defaulting to 0 for
        similarity metrics (config.h:661-673)."""
        cfg = config or self.config
        metric = MetricType(cfg.metric_type)
        drop = drop_ratio_search if drop_ratio_search is not None else cfg.drop_ratio_search
        prune = cfg.inverted_index_algo in ("DAAT_WAND", "DAAT_MAXSCORE")
        scores = self._scores(
            query_df, metric=metric, drop=drop, prune_terms=prune, k=cfg.k,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            filter_expr=filter_expr,
        )
        from knowhere_spark.operators.topk import apply_range_bounds

        hits = apply_range_bounds(scores, cfg, dist_col="score", id_col="doc_id")
        return hits.select("query_id", "doc_id", "score")

    def doc_stats_small(self) -> DataFrame:
        return self.doc_stats.select("doc_id", "doc_len")

    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is not supported for
        sparse indexes (sparse_index_node.cc:253-255)."""
        raise NotImplementedError(
            "GetIndexMeta not supported for current index type"
        )

    #: base fraction of the query's total upper bound that the weakest
    #: terms may jointly hold before they're skipped (scaled below)
    _PRUNE_EPS_BASE = 1e-4

    def _prune_query_terms(self, qterms: DataFrame, metric: MetricType, k: int) -> DataFrame:
        """MaxScore-style stats pre-filter (SURVEY.md §4): skip the maximal
        suffix of weakest query terms whose COMBINED upper bound is a
        negligible share of the query's total upper bound.  The joint
        (tail-cumulative) test is the conservative form — per-term shares
        could drop many small terms whose sum is material.

        Both reference knobs are live (sparse_inverted_index_config.h:54-83):
        ``dim_max_score_ratio`` scales the per-term bounds AND tightens the
        cutoff when > 1 (looser bounds ⇒ prune less), and deeper result
        sets (larger ``k``) prune less — the kth score is closer to the
        bound tail."""
        cfg = self.config
        ub = F.col("qval").cast("double") * F.col("max_value").cast("double") * F.lit(
            cfg.dim_max_score_ratio
        )
        wq = qterms.join(F.broadcast(self.term_stats), "term", "left").withColumn(
            "__ub", F.coalesce(ub, F.lit(0.0))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id")
        worder = Window.partitionBy("query_id").orderBy(
            F.col("__ub").asc(), F.col("term").asc()
        )
        total = F.sum("__ub").over(w)
        # cumulative bound of this term plus every weaker one
        tail = F.sum("__ub").over(
            worder.rowsBetween(Window.unboundedPreceding, 0)
        )
        eps = self._PRUNE_EPS_BASE / (cfg.dim_max_score_ratio * max(k, 1))
        return (
            wq.withColumn("__tail_share", tail / total)
            .filter(F.col("__tail_share") >= F.lit(eps))
            .select("query_id", "term", "qval")
        )

    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(
        self,
        path: str,
        *,
        n_term_buckets: int = 64,
        scalar_partition_cols: list[str] | None = None,
    ) -> None:
        """Persist with postings partitioned by ``pmod(hash(term), n_term_buckets)``
        — the on-disk inverted-list layout: a query touches only its terms'
        buckets (Parquet partition pruning), so search I/O scales with query
        size, not corpus size.  ``n_term_buckets=0`` writes unpartitioned.

        ``scalar_partition_cols`` (must be among the index's
        ``scalar_cols``) layer hot scalar fields ABOVE the term buckets —
        a filtered search on the loaded index then prunes whole scalar
        partitions before it even seeks the query terms' buckets (the
        materialized_view.h:23-36 layout on the inverted side)."""
        scalars = list(scalar_partition_cols or [])
        bad = [c for c in scalars if c not in self.scalar_cols]
        if bad:
            raise ValueError(
                f"scalar_partition_cols must be among the index's scalar_cols"
                f" {list(self.scalar_cols)}: {bad}"
            )
        store = IndexStore(path)
        if n_term_buckets:
            bucketed = self.postings.withColumn(
                "term_bucket", F.pmod(F.hash("term"), F.lit(n_term_buckets))
            )
        else:
            bucketed = self.postings
        store.write_manifest(
            {
                "index_type": "SPARSE_INVERTED_INDEX",
                "metric_type": self.config.metric_type.value,
                "inverted_index_algo": self.config.inverted_index_algo,
                "drop_ratio_search": self.config.drop_ratio_search,
                "bm25_k1": self.config.bm25_k1,
                "bm25_b": self.config.bm25_b,
                "n_docs": self._n_docs,
                "avgdl": self._avgdl,
                "n_term_buckets": n_term_buckets,
                "scalar_cols": list(self.scalar_cols),
                # declared schema pins partition-column types on load
                "postings_schema": bucketed.schema.json(),
            }
        )
        part = [*scalars, *( ["term_bucket"] if n_term_buckets else [] )]
        store.write_table("postings", bucketed, partition_by=part or None)
        store.write_table("doc_stats", self.doc_stats)
        store.write_table("term_stats", self.term_stats)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SparseInvertedIndex":
        store = IndexStore(path)
        m = store.read_manifest()
        cfg = SparseConfig(
            metric_type=MetricType(m["metric_type"]),
            inverted_index_algo=m["inverted_index_algo"],
            drop_ratio_search=float(m.get("drop_ratio_search", 0.0)),
            bm25_k1=float(m["bm25_k1"]),
            bm25_b=float(m["bm25_b"]),
            bm25_avgdl=float(m["avgdl"]) if m.get("avgdl") else None,
        )
        schema = None
        if m.get("postings_schema"):
            import json

            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["postings_schema"]))
        return cls(
            store.read_table(spark, "postings", schema=schema),
            store.read_table(spark, "doc_stats"),
            store.read_table(spark, "term_stats"),
            cfg,
            n_docs=int(m["n_docs"]),
            avgdl=float(m["avgdl"]),
            n_term_buckets=int(m.get("n_term_buckets", 0)) or None,
            scalar_cols=tuple(m.get("scalar_cols", ())),
        )


def text_to_sparse(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """documents → (id, vec MAP<term STRING→tf FLOAT>, doc_len) term-frequency
    vectors.  Terms stay as strings (the string→uint32 dim mapping of the
    reference is an external vocabulary concern; string terms keep the
    postings join semantics identical)."""
    from knowhere_spark.functions.text import tokens_expr

    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").cast("float").alias("tf"))
    return tf.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "tf"))).alias("vec"),
        F.sum("tf").alias("doc_len"),
    )
