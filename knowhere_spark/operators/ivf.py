"""IVF index family — the reference's workhorse ANN structure
(src/index/ivf/ivf.cc: IVF_FLAT train at 492-512, search at 715-800;
configs src/index/ivf/ivf_config.h).

Spark-first design (SURVEY.md §2.3):

- **Train** = kmeans over a sample capped at 256 points/centroid (the
  reference's faiss ``max_points_per_centroid``, ivf.cc:492-512).  The
  capped sample is small by construction, so the default path collects it
  and runs a vectorized numpy Lloyd on the driver — the same single-node
  training regime as faiss, without ~20 distributed-job round-trips; an
  MLlib KMeans fit takes over only when ``nlist`` is so large the sample
  exceeds driver memory.  Either way the driver ends up holding only the
  ``nlist × dim`` centroid matrix.
- **Add** = assign every row to its nearest centroid.  The assignment
  table ``(id, cell_id, vec [, scalars])`` is the index's **resident
  cell table**: ``build()``/``add()`` mark it persisted lazily
  (``MEMORY_AND_DISK``, arrival-order layout, under a size gate — see
  :class:`ResidentCells`), the first search fills it and every later
  search, ``count()`` and ``save()`` read the cache instead of re-running
  the read → round-robin Exchange → assignment GEMM tail.  ``save()``
  writes it **partitioned by cell_id** (Hive-style Parquet), so a loaded
  index probing ``nprobe`` cells prunes to ``nprobe/nlist`` of the bytes
  — the scan-what-you-probe behavior that makes IVF the DiskANN analog
  at 100 TB (index ≫ RAM, SURVEY.md §2.3).  Loaded indexes stay on that
  pruned parquet path and are never made resident.
- **Search** (``driver``) = pick top-``nprobe`` cells per query (a
  driver-side numpy computation over the tiny centroid matrix), prune
  the cell table to the probed cells with a literal IN-list, and score
  them in one ``mapInArrow`` GEMM kernel that reads the query matrix and
  the ``(nlist, nq)`` probe-membership matrix from a broadcast variable
  (no join of the base side), then partial-then-final top-k.
  ``distributed`` cogroups a cell-clustered view with the probe table
  (:func:`clustered_search_view`).
- **ensure_topk_full** (ivf.cc:753-762): queries that got fewer than k
  results re-probe all cells (driver loop, one extra job).

COSINE follows the reference's normalize-at-train contract
(ivf.cc:462-470): vectors are stored normalized and the search metric
becomes IP on normalized queries.  Centroids are kmeans means of the
normalized vectors (not themselves unit-norm), which is why probe
ranking uses the L2 assignment geometry, never raw IP against the
centroids (see probe_pairs).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowhere_spark.config import IndexType, IvfConfig, MetricType
from knowhere_spark.functions.arrowio import list_matrix
from knowhere_spark.functions.distance import (
    distance_expr,
    normalize_expr,
    pairwise_distances,
)
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key
from knowhere_spark.sources.index_store import IndexStore

#: Spark's "no estimate" size (``defaultSizeInBytes`` = Long.MaxValue):
#: what the optimizer reports for Python-row and other RDD-backed frames
_UNKNOWN_SIZE = (1 << 63) - 1


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` — plan statistics only (file
    sizes for a parquet read), no Spark job.  ``None`` when Spark has no
    estimate."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = int(stats.sizeInBytes())
    return size if size < _UNKNOWN_SIZE else None


def table_bytes(schema, n: int, widths: dict[str, int]) -> int:
    """Size of ``n`` rows of ``schema``: ``widths`` gives the element count
    of each array column (the byte length of a binary one); every other
    column counts the width of its type (Spark's default sizes: 8 for
    long/double, 4 for int/float, 20 for a string)."""
    from pyspark.sql.types import ArrayType

    def size(t) -> int:
        return {"bigint": 8, "double": 8, "int": 4, "float": 4, "smallint": 2,
                "tinyint": 1, "boolean": 1, "string": 20}.get(t.simpleString(), 8)

    row = 0
    for f in schema.fields:
        t = f.dataType
        if f.name in widths:
            elem = size(t.elementType) if isinstance(t, ArrayType) else 1
            row += widths[f.name] * elem
        else:
            row += size(t)
    return n * row


def persist_gated(frame: DataFrame, est_bytes: int | None) -> tuple[DataFrame, bool]:
    """Mark ``frame`` persisted (lazily, ``MEMORY_AND_DISK``) when its
    estimated size is known and within ``_BROADCAST_MAX_BYTES`` — the bound
    HNSW applies to its resident graph.  Persisting keeps the frame's
    partitions and row order; nothing runs until the first action fills
    it.  Returns the frame and whether it was persisted."""
    from pyspark import StorageLevel

    from knowhere_spark.operators import hnsw

    if est_bytes is None or est_bytes > hnsw._BROADCAST_MAX_BYTES:
        return frame, False
    return frame.persist(StorageLevel.MEMORY_AND_DISK), True


class ResidentCells:
    """Lifecycle of an IVF-family index's resident cell table.

    ``build()`` marks the whole table resident (estimate: its row count ×
    the row width); ``add()`` keeps the parent's resident segments and
    marks only the new batch (estimate: the optimizer's, so a batch of
    unknown size stays lazy) — no full-corpus copy.  An index derived by
    ``add()`` shares its parent's segments, so ``release()`` on either
    drops them for both; the other keeps answering from lineage.  Nested
    builds (SQ/PQ/SCANN train through IVF_FLAT) make only the outer
    family's encoded table resident."""

    #: ``(frame, estimated bytes)`` per persisted segment this index reads
    _segments: tuple[tuple[DataFrame, int], ...] = ()
    #: every row of the table reads from a resident segment
    resident: bool = False
    _clustered_assign: DataFrame | None = None

    @property
    def resident_bytes_est(self) -> int:
        """Estimated bytes of the segments this index keeps resident."""
        return sum(est for _, est in self._segments)

    def _make_resident(self, table: DataFrame, est_bytes: int | None) -> DataFrame:
        table, ok = persist_gated(table, est_bytes)
        self._segments = ((table, est_bytes),) if ok else ()
        self.resident = ok
        return table

    def _append_resident(self, parent: "ResidentCells", batch: DataFrame) -> DataFrame:
        """Adopt ``parent``'s segments plus ``batch`` (persisted under the
        gate); ``parent``'s superseded clustered view is unpersisted."""
        est = estimated_bytes(batch)
        batch, ok = persist_gated(batch, est)
        self._segments = parent._segments + (((batch, est),) if ok else ())
        self.resident = parent.resident and ok
        parent._drop_clustered_view()
        return batch

    def resident_metrics(self) -> dict:
        return {"resident": self.resident,
                "resident_bytes_est": self.resident_bytes_est}

    def release(self) -> None:
        """Unpersist the resident segments and the clustered search view;
        the index stays usable and recomputes from lineage."""
        for frame, _ in self._segments:
            frame.unpersist()
        self._segments = ()
        self.resident = False
        self._drop_clustered_view()

    def _drop_clustered_view(self) -> None:
        if self._clustered_assign is not None:
            self._clustered_assign.unpersist()
            self._clustered_assign = None


class IVFFlatIndex(ResidentCells):
    """Built IVF_FLAT index: centroid matrix + resident cell table."""

    #: train-sample collect threshold: rows*dim <= 2^25 (~268 MB fp64).
    #: At 256 points/centroid this covers nlist up to ~1024 at dim 128 —
    #: beyond that the distributed MLlib fit takes over.
    _DRIVER_TRAIN_MAX_ELEMS = 1 << 25

    def __init__(
        self,
        centroids: np.ndarray,          # (nlist, dim) float64
        assignments: DataFrame,          # (id, cell_id, vec [, extra cols])
        config: IvfConfig,
        *,
        index_type: IndexType = IndexType.IVF_FLAT,
    ):
        self.centroids = centroids
        self.assignments = assignments
        self.config = config
        self.index_type = index_type
        self._cell_counts: dict[int, int] | None = None   # lazy stats

    # -- introspection verbs (index_node.h:411-434) -------------------------
    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # IVF_FLAT keeps raw codes (flat.cc:257-285 HasRawData rules)
        return True

    # -- Build ---------------------------------------------------------------
    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        index_type: IndexType = IndexType.IVF_FLAT,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "IVFFlatIndex":
        """Train (kmeans) + Add (assign) — ``IndexNode::Build`` (index_node.h:70-74).

        ``scalar_cols``: hot scalar payload columns to carry into the
        assignments table so a ``filter_expr`` over them is evaluated
        join-free at the scan — and, after ``save(path,
        scalar_partition_cols=...)``, prunes parquet partitions outright
        (the reference's scalar-filter-aware MaterializedViewSearchInfo,
        include/knowhere/comp/materialized_view.h:23-36, re-expressed as
        Spark partition layout).

        The assignment table is made resident lazily (no extra job)."""
        idx = cls._train_assign(
            base_df, config, id_col=id_col, vec_col=vec_col,
            index_type=index_type, scalar_cols=scalar_cols,
        )
        m = idx.last_metrics
        idx.assignments = idx._make_resident(
            idx.assignments,
            table_bytes(idx.assignments.schema, m["n"], {"vec": m["dim"]}),
        )
        m.update(idx.resident_metrics())
        return idx

    @classmethod
    def _train_assign(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        index_type: IndexType = IndexType.IVF_FLAT,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "IVFFlatIndex":
        """:meth:`build` without residency: the assignment table stays a
        lazy plan.  The quantized families train through this and make
        only their own encoded table resident."""
        from knowhere_spark.functions.distance import numpy_kmeans
        from knowhere_spark.tracing import OpMetrics, op_description

        t_build0 = time.monotonic()
        scalar_cols = tuple(scalar_cols)
        clash = {"id", "vec", "cell_id"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        metric = MetricType(config.metric_type)
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
            *scalar_cols,
        )
        if metric == MetricType.COSINE:
            # normalize-at-train contract (ivf.cc:462-470)
            base = base.select(
                "id", normalize_expr(F.col("vec")).alias("vec"), *scalar_cols
            )

        n = base.count()
        nlist = config.match_nlist(n)
        # faiss trains on <= 256 points per centroid (its default
        # max_points_per_centroid); the same subsampling bounds the training
        # set regardless of table size
        train_cap = 256 * nlist
        # content-keyed sample + id-sorted collect (r11, closing the r10
        # NOTE here): a partition-seeded .sample() draws a different train
        # set when the same data arrives in a different partition layout,
        # so the trained centroids — and downstream recall — depended on
        # the caller input's shuffle history.  The shared helper keys
        # membership on xxhash64(id) and sorts the over-cap sample, making
        # Train(shuffled input) == Train(stable input); sub-cap trains are
        # untouched (existing artifacts keep their exact centroids).
        from knowhere_spark.session import content_keyed_sample

        train_df = content_keyed_sample(
            base, n, train_cap, seed=config.seed, sort=False
        )
        head = base.select("vec").head()
        dim = len(head["vec"]) if head else 0
        if min(n, train_cap) * max(dim, 1) <= cls._DRIVER_TRAIN_MAX_ELEMS:
            # the capped sample fits the driver comfortably — train exactly
            # where the reference does (single-node over the subsample),
            # skipping ~20 distributed-job round-trips of an MLlib fit
            from knowhere_spark.session import (
                collect_vec_matrix,
                collect_vec_matrix_sorted,
            )

            if n > train_cap:
                # cap binds: the content-keyed contract id-sorts the
                # sample; sort driver-side after the collect instead of
                # paying a distributed total sort (bit-identical matrix,
                # one less exchange — guide §2.4)
                X = collect_vec_matrix_sorted(train_df, "id", "vec")
            else:
                # sub-cap trains keep their exact (arrival-order) train
                # sets — existing artifacts unchanged
                X = collect_vec_matrix(train_df, "vec")
            centroids = numpy_kmeans(X, nlist, iters=20, seed=config.seed)
            nlist = len(centroids)
            assignments = _assign_cells(base, centroids, scalar_cols)
        else:
            # huge nlist (sample beyond driver memory): distributed fit
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            feats = base.withColumn(
                "__features", array_to_vector(F.col("vec").cast("array<double>"))
            )
            # membership is content-keyed here too; the distributed
            # kmeans|| init remains layout-sensitive by nature (MLlib
            # samples per partition internally), so only the driver path
            # above carries the full shuffle-invariance guarantee
            train_feats = content_keyed_sample(
                feats, n, train_cap, seed=config.seed, sort=False
            )
            km = KMeans(
                k=nlist,
                seed=config.seed,
                maxIter=20,
                featuresCol="__features",
                predictionCol="cell_id",
            )
            model = km.fit(train_feats)
            centroids = np.array(
                [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
            )
            assignments = model.transform(feats).select(
                "id", F.col("cell_id").cast("int"), "vec", *scalar_cols
            )
        import dataclasses

        cfg = dataclasses.replace(config, nlist=nlist)
        idx = cls(centroids, assignments, cfg, index_type=index_type)
        # span close (index.cc:131-148 Build span): config attrs + the
        # eager portion's wall (train + assign plan; assignments stay lazy)
        m = OpMetrics(
            op=f"{index_type.value}.build", n=n, dim=dim, nlist=nlist,
            train_backend="driver"
            if min(n, train_cap) * max(dim, 1) <= cls._DRIVER_TRAIN_MAX_ELEMS
            else "mllib",
            stages={"build_plan_sec": round(time.monotonic() - t_build0, 6)},
        )
        m["description"] = op_description(
            base.sparkSession.sparkContext, m["op"], n=n, nlist=nlist
        )
        idx.last_metrics = m
        return idx

    # -- Add (append new rows to a trained index) ----------------------------
    def add(self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec") -> "IVFFlatIndex":
        """Assign new rows to existing centroids and append
        (``IndexNode::Add``, index_node.h:120-121; the *_CC growing-segment
        behavior, ivf.cc:513-534)."""
        metric = MetricType(self.config.metric_type)
        # scalar payload columns the index carries must arrive with every
        # Add batch — a NULL-padded union would silently break the
        # partition-pruned filtered search on the saved layout
        extra = tuple(
            c for c in self.assignments.columns if c not in ("id", "cell_id", "vec")
        )
        missing = [c for c in extra if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"), *extra
        )
        if metric == MetricType.COSINE:
            new = new.select("id", normalize_expr(F.col("vec")).alias("vec"), *extra)
        child = IVFFlatIndex(
            self.centroids, self.assignments, self.config,
            index_type=self.index_type,
        )
        batch = child._append_resident(self, _assign_cells(new, self.centroids, extra))
        child.assignments = self.assignments.unionByName(batch)
        return child

    #: auto-strategy cutover: beyond this many queries the driver no longer
    #: collects the query set; probe assignment and scoring both distribute
    _DRIVER_NQ_MAX = 10_000

    # -- Search ---------------------------------------------------------------
    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        nprobe: int | None = None,
        *,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Top-k over the probed cells (ivf.cc:715-800).

        Returns ``(query_id, neighbor_id, distance, rank)``.  Distances for
        COSINE are true cosine similarities (computed on the normalized
        stored vectors).

        ``strategy``: ``driver`` collects the query set once and broadcasts
        it (the reference's nq<=10k serving regime); ``distributed`` never
        collects — probe assignment runs as ``mapInPandas`` against
        broadcast centroids and scoring cogroups base cells with their
        probing queries (the corpus-vs-corpus regime, e.g. semantic dedup
        of 100 TB against itself).  ``auto`` picks by query count.
        """
        k = k if k is not None else self.config.k
        nprobe = min(nprobe if nprobe is not None else self.config.nprobe, self.config.nlist)
        metric = MetricType(self.config.metric_type)
        spark = self.assignments.sparkSession

        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        if strategy == "auto":
            # peek one row past the cutover: if the query set is small we
            # already hold the rows and reuse them for the driver path
            qrows = queries.limit(self._DRIVER_NQ_MAX + 1).collect()
            if len(qrows) > self._DRIVER_NQ_MAX:
                strategy = "distributed"
            else:
                strategy = "driver"
        elif strategy == "driver":
            qrows = queries.collect()
        if strategy not in ("driver", "distributed"):
            raise ValueError(f"unknown strategy {strategy!r}")
        # span open (index.cc:149-162 Search span): label the consuming
        # jobs + live counters resolved via last_metrics.snapshot()
        from knowhere_spark.tracing import OpMetrics, StageTimer, op_description

        m = OpMetrics(
            op=f"{self.index_type.value}.search", k=k, nprobe=nprobe,
            nlist=self.config.nlist, strategy=strategy,
            rows_scanned=spark.sparkContext.accumulator(0),
            **self.resident_metrics(),
        )
        m["description"] = op_description(
            spark.sparkContext, m["op"], k=k, nprobe=nprobe, strategy=strategy
        )
        timer = StageTimer(m)
        self.last_metrics = m
        if strategy == "distributed":
            return self._search_distributed(
                queries, k, nprobe, filter_expr, rows_acc=m["rows_scanned"]
            )

        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["qvec"] for r in qrows], dtype=np.float64)
        if metric == MetricType.COSINE:
            qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
            qnorm[qnorm == 0] = 1.0
            qmat = qmat / qnorm

        with timer.stage("probe_sec"):
            pairs = probe_pairs(self.centroids, qids, qmat, nprobe)
        m["nq"] = len(qids)
        m["cells_probed"] = len(pairs)
        with timer.stage("scan_plan_sec"):
            out = scan_probed_topk(
                self.assignments, self.config.nlist, pairs, qids, qmat, k,
                metric, filter_expr, rows_acc=m["rows_scanned"],
            )

        if self.config.ensure_topk_full:
            # probe-all fallback for underfilled queries (ivf.cc:753-762)
            if filter_expr is None:
                # cheap path: per-query candidate counts from cell stats —
                # no filter means candidates >= k guarantees k results,
                # so no extra Spark job at all in the common case
                cc = self._get_cell_counts()
                by_q: dict[int, int] = {}
                for qid, cell in pairs:
                    by_q[qid] = by_q.get(qid, 0) + cc.get(cell, 0)
                refill = [i for i, qid in enumerate(qids) if by_q.get(int(qid), 0) < k]
            else:
                out = out.cache()   # the count below must not recompute twice
                counts = {r["query_id"]: r["cnt"] for r in out.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
                refill = [i for i, qid in enumerate(qids) if counts.get(int(qid), 0) < k]
            if refill:
                all_pairs = [
                    (int(qids[i]), int(c))
                    for i in refill
                    for c in range(self.config.nlist)
                ]
                m["cells_probed"] = m.get("cells_probed", 0) + len(all_pairs)
                refill_out = scan_probed_topk(
                    self.assignments, self.config.nlist, all_pairs, qids,
                    qmat, k, metric, filter_expr, rows_acc=m["rows_scanned"],
                )
                kept = out.filter(~F.col("query_id").isin([int(qids[i]) for i in refill]))
                out = kept.unionByName(refill_out)
        return out

    def _get_cell_counts(self) -> dict[int, int]:
        """Rows per cell — computed once, the index's only statistic
        (the reference tracks live counts per segment similarly)."""
        if self._cell_counts is None:
            self._cell_counts = {
                int(r["cell_id"]): int(r["cnt"])
                for r in self.assignments.groupBy("cell_id")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        return self._cell_counts

    def probe_assign(self, queries: DataFrame, nprobe: int) -> DataFrame:
        """Distributed probe assignment — see :func:`probe_assign_df`."""
        return probe_assign_df(
            queries, self.centroids, MetricType(self.config.metric_type), nprobe
        )

    def _search_distributed(self, queries, k, nprobe, filter_expr, rows_acc=None):
        """Corpus-vs-corpus scoring: cogroup base cells with their probing
        queries on ``cell_id`` and GEMM within each cell — one shuffle of
        each side keyed by cell, no driver collect, no broadcast of the
        query set.  ``ensure_topk_full`` refills underfilled queries with
        an all-cells probe, decided distributedly."""
        probes = self.probe_assign(queries, nprobe)
        out = self._cogroup_topk(probes, k, filter_expr, rows_acc=rows_acc)
        if not self.config.ensure_topk_full:
            return out
        spark = self.assignments.sparkSession
        if filter_expr is None:
            # candidate counts >= k guarantee k results when unfiltered
            cc = self._get_cell_counts()
            cc_df = spark.createDataFrame(
                [(int(c), int(n)) for c, n in cc.items()], "cell_id int, cnt long"
            )
            under = (
                probes.join(F.broadcast(cc_df), "cell_id", "left")
                .groupBy("query_id")
                .agg(F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("cand"))
                .filter(F.col("cand") < k)
                .select("query_id")
            )
        else:
            out = out.cache()
            under = (
                out.groupBy("query_id")
                .agg(F.count("*").alias("cnt"))
                .filter(F.col("cnt") < k)
                .select("query_id")
            )
            # queries with zero results never appear in `out` at all
            under = queries.select("query_id").exceptAll(
                out.select("query_id").distinct()
            ).unionByName(under)
        # short-circuit: the common case has NO underfilled query (every
        # probe set covers >= k candidates), and composing the refill
        # anyway costs a second full cogroup subplan + a 1M-row anti-join
        # at action time (~0.9 s measured on the 100k selfsearch).  The
        # emptiness probe itself is cheap: the unfiltered branch reads the
        # cached probe table against a broadcast of per-cell counts; the
        # filtered branch reads the `out` cache the refill path needs
        # materialized anyway.  Results are identical — an empty `under`
        # makes refill_out empty and kept == out by construction.
        if under.isEmpty():
            return out
        all_cells = spark.createDataFrame(
            [(int(c),) for c in range(self.config.nlist)], "cell_id int"
        )
        refill_probes = (
            probes.join(F.broadcast(under), "query_id", "left_semi")
            .select("query_id", "qvec")
            .dropDuplicates(["query_id"])
            .crossJoin(F.broadcast(all_cells))
            .select("query_id", "qvec", "cell_id")
        )
        refill_out = self._cogroup_topk(refill_probes, k, filter_expr, rows_acc=rows_acc)
        kept = out.join(F.broadcast(under), "query_id", "left_anti")
        return kept.unionByName(refill_out)

    def _cogroup_topk(self, probes: DataFrame, k, filter_expr, rows_acc=None):
        metric = MetricType(self.config.metric_type)
        dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
        return cogroup_cells_topk(
            clustered_search_view(self), probes, k, dist_metric,
            filter_expr=filter_expr,
            rows_acc=rows_acc,
        )

    def _range_search_distributed(self, queries, nprobe, filter_expr):
        """Distributed range search: probes assign via ``mapInPandas``,
        in-range pairs stream out of per-cell cogroups; ``range_search_k``
        truncates per query at the end (config.h:665-669)."""
        metric = MetricType(self.config.metric_type)
        dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
        probes = self.probe_assign(queries, nprobe)
        lo, hi, sim = self.config.range_bounds()
        out = cogroup_cells_range(
            clustered_search_view(self), probes, lo, hi, sim, dist_metric,
            filter_expr=filter_expr,
        )
        return apply_range_bounds(out, self.config, already_bounded=True)

    # -- RangeSearch (index_node.h:169-326; ivf.cc range path) ----------------
    def range_search(
        self,
        query_df: DataFrame,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Distance-in-range neighbors within probed cells — the same
        half-open semantics as BruteForce.range_search (range_util.h:22-25);
        probe-limited like the reference's IVF range path.  ``nprobe=nlist``
        makes it exact.  ``strategy`` mirrors :meth:`search`:
        ``distributed`` assigns probes via ``mapInPandas`` and scores in
        per-cell cogroups, never collecting the query set."""
        nprobe = min(
            nprobe if nprobe is not None else self.config.nprobe, self.config.nlist
        )
        metric = MetricType(self.config.metric_type)
        spark = self.assignments.sparkSession

        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        if strategy == "auto":
            qrows = queries.limit(self._DRIVER_NQ_MAX + 1).collect()
            strategy = (
                "distributed" if len(qrows) > self._DRIVER_NQ_MAX else "driver"
            )
        elif strategy == "driver":
            qrows = queries.collect()
        if strategy == "distributed":
            return self._range_search_distributed(queries, nprobe, filter_expr)
        if strategy != "driver":
            raise ValueError(f"unknown strategy {strategy!r}")
        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["qvec"] for r in qrows], dtype=np.float64)
        if metric == MetricType.COSINE:
            qn = np.linalg.norm(qmat, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            qmat = qmat / qn
        qvec_df = spark.createDataFrame(
            [(int(q), [float(x) for x in qmat[i]]) for i, q in enumerate(qids)],
            "query_id long, qvec array<double>",
        )
        pairs = probe_pairs(self.centroids, qids, qmat, nprobe)
        probe_df = spark.createDataFrame(pairs, "query_id long, cell_id int")
        cand = self.assignments
        if filter_expr is not None:
            cand = cand.filter(filter_expr)
        cand = cand.filter(F.col("cell_id").isin(sorted({c for _, c in pairs})))
        dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
        scored = (
            cand.join(F.broadcast(probe_df), "cell_id")
            .join(F.broadcast(qvec_df), "query_id")
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                distance_expr(dist_metric, F.col("vec"), F.col("qvec")).alias("distance"),
            )
        )
        return apply_range_bounds(scored, self.config)

    # -- GetVectorByIds (index_node.h:340-350; HasRawData true for IVF_FLAT) --
    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    # -- GetIndexMeta (index_node.h:363; feder/IVFFlat.h:25-87) ---------------
    def get_index_meta(self, *, with_node_ids: bool = True) -> DataFrame:
        """The index view feder renders (ivf.cc:1066-1100: one ``ClusterInfo``
        per inverted list — cluster id, member node ids, centroid vector) as
        a DataFrame: ``(cluster_id INT, size BIGINT, node_ids ARRAY<BIGINT>,
        centroid ARRAY<FLOAT>)``, one row per centroid — empty cells appear
        with ``size = 0`` exactly like an empty inverted list does.

        ``with_node_ids=False`` keeps only the per-cluster sizes: at corpus
        scale a cluster's id list is ``ntotal/nlist`` rows wide, and a
        visualization that only draws cluster sizes shouldn't pay the
        ``collect_list`` memory (one cell's ids — the same working-set bound
        the per-cell search scan already lives with)."""
        spark = self.assignments.sparkSession
        cents = spark.createDataFrame(
            [
                (int(i), [float(x) for x in row])
                for i, row in enumerate(self.centroids)
            ],
            "cluster_id int, centroid array<float>",
        )
        aggs = [F.count("*").alias("size")]
        if with_node_ids:
            aggs.append(F.sort_array(F.collect_list("id")).alias("node_ids"))
        sizes = self.assignments.groupBy(
            F.col("cell_id").cast("int").alias("cluster_id")
        ).agg(*aggs)
        out = cents.join(sizes, "cluster_id", "left").withColumn(
            "size", F.coalesce(F.col("size"), F.lit(0)).cast("long")
        )
        if with_node_ids:
            empty = F.array().cast("array<bigint>")
            out = out.withColumn("node_ids", F.coalesce(F.col("node_ids"), empty))
            return out.select("cluster_id", "size", "node_ids", "centroid")
        return out.select("cluster_id", "size", "centroid")

    # -- Serialize / Deserialize (index_node.h:371-401) ------------------------
    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist as a cell-partitioned parquet layout.

        ``scalar_partition_cols`` (must be among the index's
        ``scalar_cols``) layer hot scalar fields ABOVE ``cell_id`` in the
        directory tree, so a filtered search on the loaded index prunes
        whole scalar partitions at the scan — the 100 TB shape of the
        reference's scalar-filter-aware search
        (materialized_view.h:23-36): equality/IN predicates on the hot
        field never read a byte of the other partitions."""
        scalars = list(scalar_partition_cols or [])
        payload = [
            c for c in self.assignments.columns if c not in ("id", "cell_id", "vec")
        ]
        bad = [c for c in scalars if c not in payload]
        if bad:
            # 'cell_id' would partitionBy twice, 'id' would write one
            # directory per row, 'vec' fails on the array type — only the
            # scalar payload columns are legal partition levels
            raise ValueError(
                f"scalar_partition_cols must be among the index's scalar_cols"
                f" {payload}: {bad}"
            )
        store = IndexStore(path)
        store.write_manifest(
            {
                "index_type": self.index_type.value,
                "metric_type": self.config.metric_type.value,
                "nlist": self.config.nlist,
                "nprobe": self.config.nprobe,
                "dim": self.dim(),
                "count": self.count(),
                "centroids": self.centroids.tolist(),
                # partition-column types are NOT stored in parquet data
                # files; without the declared schema, read-time inference
                # would coerce a string label '01' to int 1 and merge it
                # with partition '1'
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        # scalar fields coarsest-first, then cell: probe-time pruning on
        # cell_id composes with scalar-predicate pruning
        store.write_table(
            "assignments", self.assignments, partition_by=[*scalars, "cell_id"]
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFFlatIndex":
        store = IndexStore(path)
        m = store.read_manifest()
        centroids = np.array(m["centroids"], dtype=np.float64)
        schema = None
        if m.get("assignments_schema"):
            import json

            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["assignments_schema"]))
        assignments = store.read_table(spark, "assignments", schema=schema)
        cfg = IvfConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
        )
        return cls(centroids, assignments, cfg, index_type=IndexType(m["index_type"]))


def probe_pairs(centroids: np.ndarray, qids: np.ndarray, qmat: np.ndarray, nprobe: int):
    """Driver-side top-nprobe cells per query over the tiny centroid
    matrix → bare (query_id, cell_id) pairs.

    Probe ranking uses **L2 — the assignment geometry** — for every
    float metric: cells are L2-Voronoi regions (_assign_cells), and
    COSINE data/queries are already normalized, so nearest-by-L2 IS
    the cell ordering consistent with where vectors live.  Ranking by
    raw IP against unnormalized centroids would disagree with
    assignment (a query equal to a stored vector could miss its own
    cell).  faiss probes with the quantizer's own metric for the same
    reason; scoring inside cells still uses the true metric."""
    d = pairwise_distances(centroids, qmat, MetricType.L2)   # (nlist, nq)
    order = np.argsort(d, axis=0, kind="stable")[:nprobe, :]  # (nprobe, nq)
    return [
        (int(qids[qi]), int(c)) for qi in range(len(qids)) for c in order[:, qi]
    ]


def scan_probed_topk(
    table: DataFrame,
    nlist: int,
    pairs,
    qids,
    qmat,
    k: int,
    metric: MetricType,
    filter_expr: Column | str | None = None,
    *,
    rows_acc=None,
    row_matrix=None,
) -> DataFrame:
    """Driver-strategy partial-then-final top-k over the probed cells of
    a cell table — shared by IVF_FLAT and the quantized families.

    The scan is a GEMM kernel per partition emitting at most
    ``partitions·nq·k`` rows into the final window — the same
    parallelism inversion as BruteForce's gemm path (SURVEY.md §3.2);
    a naive SQL-distance + global window would shuffle every scored
    candidate instead.  ``row_matrix(tbl) -> (n, dim) float64`` turns a
    batch into the GEMM operand: raw vectors by default, decoded codes
    for the quantized families."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = lambda tbl: list_matrix(tbl, "vec")
    spark = table.sparkSession
    cells = sorted({c for _, c in pairs})
    cand = table
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    # literal IN-list → partition pruning when assignments are read from
    # a cell-partitioned parquet index (see save/load)
    cand = cand.filter(F.col("cell_id").isin(cells))

    dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
    qids_arr = np.asarray(qids, dtype=np.int64)
    qmat = np.asarray(qmat, dtype=np.float64)
    # (nlist, nq) boolean probe-membership matrix: one fancy-index per
    # partition batch replaces the former per-query np.isin over the
    # cell column (O(nq·n) Python-side mask work per batch)
    qcol = {int(q): i for i, q in enumerate(qids_arr)}
    probe_matrix = np.zeros((nlist, len(qids_arr)), dtype=bool)
    for qid, cell in pairs:
        probe_matrix[int(cell), qcol[int(qid)]] = True
    bc = spark.sparkContext.broadcast(
        (qids_arr, qmat, probe_matrix, dist_metric.value)
    )
    largest = dist_metric.is_similarity

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import scalar_column

        b_qids, b_qmat, b_member, dm = bc.value
        dm = MetricType(dm)
        nq = len(b_qids)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = row_matrix(tbl)
            ids = scalar_column(tbl, "id", np.int64)
            cell = scalar_column(tbl, "cell_id", np.int64)
            n = len(ids)
            if rows_acc is not None:
                rows_acc.add(n)
            dist = pairwise_distances(X, b_qmat, dm)      # (n, nq)
            member = b_member[cell]                       # (n, nq)
            key = -dist if largest else dist
            key = np.where(member, key, np.inf)           # mask non-probed
            kk = min(k, n)
            sel = np.zeros((n, nq), dtype=bool)
            if kk < n:
                part = np.argpartition(key, kk - 1, axis=0)[:kk]  # (kk, nq)
                col = np.arange(nq)
                sel[part, col[None, :]] = True
                # widen to rows tied at a FINITE per-query boundary so a
                # smallest-id duplicate can't be dropped at the partial
                # cut (the final window tie-breaks (distance, id))
                bnd = key[part, col[None, :]].max(axis=0)         # (nq,)
                finite_b = np.isfinite(bnd)
                if finite_b.any():
                    sel |= (key == bnd[None, :]) & finite_b[None, :]
            else:
                sel[:] = True
            sel &= member
            rows_f, q_f = np.nonzero(sel)
            if len(rows_f) == 0:
                continue
            yield pa.record_batch(
                [
                    pa.array(b_qids[q_f], type=pa.int64()),
                    pa.array(ids[rows_f], type=pa.int64()),
                    pa.array(dist[rows_f, q_f], type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "distance"],
            )

    scored = cand.mapInArrow(kernel, RESULT_SCHEMA)
    return topk_per_key(
        scored,
        "query_id",
        "distance",
        k,
        ascending=not metric.is_similarity,
        tie_breaker="neighbor_id",
    )


def probe_assign_df(
    queries: DataFrame, centroids: np.ndarray, metric: MetricType, nprobe: int
) -> DataFrame:
    """Distributed probe assignment: ``mapInArrow`` over the query set
    against the broadcast ``nlist × dim`` centroid matrix, emitting one
    ``(query_id, qvec, cell_id)`` row per probed cell.  The query set never
    touches the driver — the large-nq half of the reference's search
    fan-out (ivf.cc:715-800) with Spark's data parallelism on the query
    axis.  COSINE queries come out normalized (ivf.cc:462-470 contract)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    # probe ranking = assignment geometry (L2 — see probe_pairs); only
    # query normalization depends on the true metric
    spark = queries.sparkSession
    normalize = metric == MetricType.COSINE
    bc = spark.sparkContext.broadcast((centroids, MetricType.L2.value, normalize))
    # qvec payload type: COSINE must ship the float64-normalized vectors
    # (ivf.cc:462-470 contract — scorers IP them against normalized rows);
    # every other metric passes the INPUT values through untouched, so the
    # probe table keeps the caller's (usually float32) element type — the
    # scorers' float64 upcast is exact, and the per-probe duplicated qvec
    # payload shuffles at half the bytes (guide §2.3: narrower types,
    # §4.2: no needless float64 list materialization in the kernel)
    qvec_type = (
        ArrayType(DoubleType()) if normalize else queries.schema["qvec"].dataType
    )
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("qvec", qvec_type),
            StructField("cell_id", IntegerType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import (
            list_matrix,
            matrix_to_list_array,
            repeat_list_column,
            scalar_column,
        )

        C, pm, normalize = bc.value
        pm = MetricType(pm)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            Q = list_matrix(tbl, "qvec")
            if normalize:
                qn = np.linalg.norm(Q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                Q = Q / qn
            d = pairwise_distances(C, Q, pm)                  # (nlist, nq)
            key = -d if pm.is_similarity else d
            npb = min(nprobe, len(C))
            order = (
                np.argpartition(key, npb - 1, axis=0)[:npb, :]
                if npb < len(C)
                else np.argsort(key, axis=0)
            )                                                  # (npb, nq)
            qids = scalar_column(tbl, "query_id", np.int64)
            # Arrow-native emission (guide §4.2): COSINE builds ONE values
            # buffer + arithmetic offsets for the normalized float64
            # vectors; every other metric re-emits the INPUT list rows via
            # one vectorized take — the element type (usually float32)
            # passes through untouched, so probe payload bytes stay halved
            out_q = (
                matrix_to_list_array(np.repeat(Q, npb, axis=0), pa.float64())
                if normalize
                else repeat_list_column(tbl, "qvec", npb)
            )
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids, npb), type=pa.int64()),
                    out_q,
                    pa.array(order.T.ravel().astype(np.int32), type=pa.int32()),
                ],
                names=["query_id", "qvec", "cell_id"],
            )

    # a small/cached query side can arrive as one split, which would run
    # the whole assignment kernel on a single core; at real scale (many
    # scan splits) this is a no-op
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(queries).mapInArrow(kernel, schema)


def clustered_search_view(index: ResidentCells, frame: DataFrame | None = None) -> DataFrame:
    """Cell-clustered, SEARCH-ONLY view of an index's cell table.

    Lazily repartitions by ``cell_id`` and, under the same size gate as
    the resident table (:func:`persist_gated`), persists it on the index
    object, so every distributed cogroup search after the first reads a
    corpus side that already satisfies the cogroup's clustering — the
    per-search corpus Exchange disappears (guide §2.4; the serving
    memoization analog of the sharded-HNSW graph-broadcast cache, and of
    ``save()``'s physical cell layout).  The first search pays one
    exchange + persist; repeats skip both.  ``add()`` unpersists the
    parent's view and ``release()`` the index's own.

    CRITICAL: this view must never feed a trainer.  Sub-cap PQ/SQ trains
    are arrival-order-exact ("existing artifacts keep their exact
    centroids"), and re-laying out the frame they consume re-draws their
    codebooks (r12 A/B: pq recall 0.7264 → 0.726).  Only the distributed
    search cogroups read it; ``index.assignments`` keeps the arrival-order
    layout for trainers, save(), metadata and the driver-strategy scan."""
    if index._clustered_assign is None:
        src = frame if frame is not None else index.assignments
        est = index.resident_bytes_est if index.resident else estimated_bytes(src)
        index._clustered_assign, _ = persist_gated(src.repartition("cell_id"), est)
    return index._clustered_assign


def cogroup_cells_topk(
    assignments: DataFrame,
    probes: DataFrame,
    k: int,
    dist_metric: MetricType,
    *,
    filter_expr: Column | str | None = None,
    row_matrix=None,
    rows_acc=None,
) -> DataFrame:
    """Per-cell GEMM top-k via cogrouped ``applyInArrow``: base cells meet
    their probing queries after one shuffle of each side keyed by
    ``cell_id``; a final window reduces <= cells_probed·k candidates per
    query.  ``row_matrix(tbl: pa.Table) -> (n, dim) float64`` turns a
    cell's rows into the GEMM operand — raw vectors for IVF_FLAT, decoded
    codes for the quantized families (decode-then-GEMM is arithmetically
    identical to the reference's ADC/affine scan: the LUT entry IS the
    sub-distance to the decoded centroid).  Shared by every IVF-family
    distributed search.

    Arrow-native kernel (guide §4.2): the ``(n, dim)`` operands come from
    one flatten+reshape+astype over each list column's contiguous values
    buffer.  The former pandas kernel boxed every vector row into a
    Python object and re-stacked with ``np.array(list(...))`` — measured
    1.5-2x the whole cogroup stage at the 100k-selfsearch shape.  Float
    bytes and selection arithmetic are unchanged → results bit-identical."""
    import pyarrow as pa

    from knowhere_spark.functions.arrowio import list_matrix, scalar_column
    from knowhere_spark.functions.distance import local_topk
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = lambda tbl: list_matrix(tbl, "vec")
    largest = dist_metric.is_similarity
    cand = assignments
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    # the probe table feeds two plan branches (cell prune + cogroup) —
    # cache it so the mapInPandas probe assignment runs once
    probes = probes.cache()
    # prune unprobed cells before the shuffle (cheap when nq·nprobe covers
    # most cells, decisive when it doesn't)
    cand = cand.join(probes.select("cell_id").distinct(), "cell_id", "left_semi")
    _empty = pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("distance", pa.float64())]
    )

    def cell_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _empty.empty_table()
        X = row_matrix(left)
        ids = scalar_column(left, "id", np.int64)
        Q = list_matrix(right, "qvec")
        qids = scalar_column(right, "query_id", np.int64)
        if rows_acc is not None:
            rows_acc.add(len(ids))    # rows GEMMed in this probed cell
        dist = pairwise_distances(X, Q, dist_metric)          # (n, nq)
        qidx, nid, dd = local_topk(dist, ids, k, largest)
        return pa.table(
            {
                "query_id": pa.array(qids[qidx], type=pa.int64()),
                "neighbor_id": pa.array(nid.astype(np.int64, copy=False),
                                        type=pa.int64()),
                "distance": pa.array(dd.astype(np.float64, copy=False),
                                     type=pa.float64()),
            }
        )

    scored = (
        cand.groupby("cell_id")
        .cogroup(probes.groupby("cell_id"))
        .applyInArrow(cell_kernel, RESULT_SCHEMA)
    )
    return topk_per_key(
        scored, "query_id", "distance", k,
        ascending=not largest, tie_breaker="neighbor_id",
    )


def cogroup_cells_range(
    assignments: DataFrame,
    probes: DataFrame,
    lo: float,
    hi: float,
    sim: bool,
    dist_metric: MetricType,
    *,
    filter_expr: Column | str | None = None,
    row_matrix=None,
) -> DataFrame:
    """Distributed range scoring: per-cell cogroup emits every in-range
    ``(query_id, neighbor_id, distance)`` pair — half-open semantics per
    metric direction (range_util.h:22-25).  Same shuffle shape as
    :func:`cogroup_cells_topk` (and the same Arrow-native kernel layout)."""
    import pyarrow as pa

    from knowhere_spark.functions.arrowio import list_matrix, scalar_column
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = lambda tbl: list_matrix(tbl, "vec")
    cand = assignments
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    probes = probes.cache()
    cand = cand.join(probes.select("cell_id").distinct(), "cell_id", "left_semi")
    _empty = pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("distance", pa.float64())]
    )

    def cell_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _empty.empty_table()
        X = row_matrix(left)
        ids = scalar_column(left, "id", np.int64)
        Q = list_matrix(right, "qvec")
        qids = scalar_column(right, "query_id", np.int64)
        dist = pairwise_distances(X, Q, dist_metric)          # (n, nq)
        if sim:
            mask = (dist > lo) & (dist <= hi)
        else:
            mask = (dist >= lo) & (dist < hi)
        ri, qi = np.nonzero(mask)
        return pa.table(
            {
                "query_id": pa.array(qids[qi], type=pa.int64()),
                "neighbor_id": pa.array(ids[ri], type=pa.int64()),
                "distance": pa.array(dist[ri, qi], type=pa.float64()),
            }
        )

    return (
        cand.groupby("cell_id")
        .cogroup(probes.groupby("cell_id"))
        .applyInArrow(cell_kernel, RESULT_SCHEMA)
    )


def _assign_cells(
    df: DataFrame, centroids: np.ndarray, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-centroid assignment via a broadcast numpy GEMM kernel —
    ``ClusterNode::Assign`` analog (cluster_node.h:26-50).  ``extra_cols``
    (scalar payload columns already present on ``df``) pass through
    untouched — the hot-scalar-field index layout (SURVEY §4's
    materialized-view analog, include/knowhere/comp/materialized_view.h)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    keep = ["id", "cell_id", "vec", *extra_cols]

    def kernel(batches):
        # Arrow-native (guide §4.2): id/vec/extra columns pass through the
        # output batch untouched (no pandas materialization); only cell_id
        # is computed
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix

        C = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec")
            d = pairwise_distances(X, C, MetricType.L2)
            cell = pa.array(d.argmin(axis=1).astype(np.int32), type=pa.int32())
            cols = [
                cell if c == "cell_id"
                else tbl.column(c).combine_chunks()
                for c in keep
            ]
            cols[0] = cols[0].cast(pa.int64())   # id long per the schema
            yield pa.record_batch(cols, names=keep)

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    vec_type = df.schema["vec"].dataType
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cell_id", IntegerType()),
            StructField("vec", vec_type),
        ]
        + [df.schema[c] for c in extra_cols]
    )
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(df).mapInArrow(kernel, schema)
