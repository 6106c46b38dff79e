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
  exceeds driver memory (``session.train_centroids`` holds the rule for
  every centroid fit).  Either way the driver ends up holding only the
  ``nlist × dim`` centroid matrix, and the cells come from the same
  nearest-centroid kernel ``add()`` uses.
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
- **Search** is written once, in :class:`IVFBaseIndex`, for every IVF
  family (IVF_FLAT here; IVF_SQ8/SCANN, IVF_PQ and BIN_IVF_FLAT in their
  modules) — the reference's single ``IndexNode`` search: coarse
  quantizer → probe ``nprobe`` cells → score with the family's codec.  A
  family supplies only its codec (:class:`FlatCodec` and subclasses: how
  a batch of cell rows scores against a query matrix) and its encode
  kernel.  ``driver`` serves a resident index (unfiltered) from a cell
  payload — the cell table collected once and held by the driver — with
  one kernel that ranks probes, scores the probed cells and keeps each
  query's top-k, the reference's in-memory serving shape
  (:func:`payload_batches`): in the driver process for a small top-k
  batch, else in one ``mapInArrow`` over the query rows against the
  payload's broadcast (:func:`search_cell_payload`); a filtered or
  non-resident search picks the top-``nprobe`` cells per query on the
  driver over the tiny centroid matrix, prunes the cell table to the
  probed cells with a literal IN-list, and scores them in one
  ``mapInArrow`` kernel that reads the query matrix and the ``(nlist,
  nq)`` probe-membership matrix from a broadcast (no join of the base
  side; :func:`scan_probed_cells`).  ``distributed`` assigns probes in a
  ``mapInArrow`` kernel and cogroups a cell-clustered view with the probe
  table (:func:`cogroup_cells`).  Every kernel takes a per-batch
  selection: a partial top-k (search) or a half-open range mask
  (range_search).
- **ensure_topk_full** (ivf.cc:753-762): queries that got fewer than k
  results re-probe all cells.

COSINE follows the reference's normalize-at-train contract
(ivf.cc:462-470): vectors are stored normalized and the search metric
becomes IP on normalized queries.  Centroids are kmeans means of the
normalized vectors (not themselves unit-norm), which is why probe
ranking uses the L2 assignment geometry, never raw IP against the
centroids (see :class:`FlatCodec`).
"""

from __future__ import annotations

import copy
import time

import numpy as np
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowhere_spark.config import IndexType, IvfConfig, MetricType
from knowhere_spark.functions.arrowio import list_matrix, scalar_column
from knowhere_spark.functions.distance import (
    normalize_expr,
    pairwise_distances,
    top_cap_stable,
)
from knowhere_spark.operators.topk import (
    apply_range_bounds,
    range_search_k,
    topk_per_key,
)
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


def vector_rows(
    df: DataFrame, id_col: str, vec_col: str, scalar_cols, metric
) -> DataFrame:
    """``(id, vec[, scalars])`` as the IVF family stores them: long ids and,
    for COSINE, normalized vectors (the normalize-at-train contract,
    ivf.cc:462-470)."""
    rows = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"),
        *scalar_cols,
    )
    if MetricType(metric) == MetricType.COSINE:
        rows = rows.select("id", normalize_expr(F.col("vec")).alias("vec"), *scalar_cols)
    return rows


class ResidentCells:
    """Lifecycle of an IVF-family index's resident cell table and of the
    caches its searches make.

    ``build()`` marks the whole table resident (estimate: its row count ×
    the row width); ``add()`` keeps the parent's resident segments and
    marks only the new batch (estimate: the optimizer's, so a batch of
    unknown size stays lazy) — no full-corpus copy.  An index derived by
    ``add()`` shares its parent's segments, so ``release()`` on either
    drops them for both; the other keeps answering from lineage.  Nested
    builds (SQ/PQ/SCANN train through IVF_FLAT) make only the outer
    family's encoded table resident.  The frames a search caches (the
    distributed probe table, the counted ``ensure_topk_full`` result)
    belong to the index until its next search, ``add()`` or
    ``release()``.  The cell payload (:meth:`IVFBaseIndex._cells_payload`)
    and its broadcast are the index's own, like HNSW's graph broadcast:
    an ``add()`` child builds its own, and ``release()`` drops both."""

    #: ``(frame, estimated bytes)`` per persisted segment this index reads
    _segments: tuple[tuple[DataFrame, int], ...] = ()
    #: every row of the table reads from a resident segment
    resident: bool = False
    _clustered_assign: DataFrame | None = None
    #: frames the latest search cached
    _search_frames: tuple[DataFrame, ...] = ()
    #: cell payload the driver holds, built by the first payload search
    _cells = None
    #: its broadcast, made when a ``mapInArrow`` plan first needs it
    _cells_bc = None

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
        gate); ``parent``'s superseded clustered view and search caches
        are unpersisted."""
        est = estimated_bytes(batch)
        batch, ok = persist_gated(batch, est)
        self._segments = parent._segments + (((batch, est),) if ok else ())
        self.resident = parent.resident and ok
        parent._drop_clustered_view()
        parent._drop_search_frames()
        return batch

    def _cache_for_search(self, frame: DataFrame) -> DataFrame:
        frame = frame.cache()
        self._search_frames += (frame,)
        return frame

    def resident_metrics(self) -> dict:
        return {"resident": self.resident,
                "resident_bytes_est": self.resident_bytes_est}

    def release(self) -> None:
        """Unpersist the resident segments, the clustered search view, the
        latest search's caches and the broadcast cell payload, and drop
        the payload the driver holds; the index stays usable and
        recomputes from lineage (on the scan plan, as it is no longer
        resident)."""
        for frame, _ in self._segments:
            frame.unpersist()
        self._segments = ()
        self.resident = False
        self._drop_clustered_view()
        self._drop_search_frames()
        if self._cells_bc is not None:
            self._cells_bc.unpersist()
            self._cells_bc = None
        self._cells = None

    def _drop_clustered_view(self) -> None:
        if self._clustered_assign is not None:
            self._clustered_assign.unpersist()
            self._clustered_assign = None

    def _drop_search_frames(self) -> None:
        for frame in self._search_frames:
            frame.unpersist()
        self._search_frames = ()


class FlatCodec:
    """IVF_FLAT's codec, and the base of the other families' codecs: how a
    batch of cell rows (an Arrow table) scores against a query matrix.
    Picklable — the scan kernels carry it to the executors.

    Raw float vectors score by GEMM.  COSINE rows and queries are stored
    normalized (ivf.cc:462-470), so the score is IP.  Probe ranking uses
    **L2 — the assignment geometry** — for every float metric: cells are
    L2-Voronoi regions (:func:`_assign_cells`), so nearest-by-L2 IS the
    cell ordering consistent with where vectors live.  Ranking by raw IP
    against the unnormalized kmeans centroids would disagree with
    assignment (a query equal to a stored vector could miss its own
    cell).  faiss probes with the quantizer's own metric for the same
    reason; scoring inside cells uses the true metric.

    The driver plans rank probes and score with ``stable=True``
    (:func:`~knowhere_spark.functions.distance.stable_dot`): the
    broadcast and scan plans batch rows and queries differently and still
    rank the same probes and return the same distances to the last bit.
    The distributed plan keeps BLAS GEMM (the default), its arithmetic
    unchanged."""

    #: the cell-table column :meth:`score` reads
    col = "vec"

    def __init__(self, metric: MetricType | str):
        metric = MetricType(metric)
        self.normalize = metric == MetricType.COSINE
        self.metric = MetricType.IP if self.normalize else metric
        self.largest = self.metric.is_similarity

    def read_queries(self, tbl: pa.Table, col: str) -> np.ndarray:
        return list_matrix(tbl, col)

    def prepare(self, Q: np.ndarray) -> np.ndarray:
        """Queries as the index scores them: unit rows for COSINE."""
        if not self.normalize:
            return Q
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        return Q / qn

    def probe(self, C: np.ndarray, Q: np.ndarray, *, stable: bool = False) -> np.ndarray:
        """``(nlist, nq)`` coarse-quantizer distances that rank the probes."""
        return pairwise_distances(C, Q, MetricType.L2, stable=stable)

    def rows(self, tbl: pa.Table) -> np.ndarray:
        """``(n, dim)`` float64 GEMM operand of a batch of cell rows."""
        return list_matrix(tbl, "vec")

    def score(self, tbl: pa.Table, Q: np.ndarray, *, stable: bool = False) -> np.ndarray:
        """``(n, nq)`` distances of a batch of cell rows to the queries."""
        return pairwise_distances(self.rows(tbl), Q, self.metric, stable=stable)


class IVFBaseIndex(ResidentCells):
    """The IVF family's one search core (ivf.cc:715-800): strategy choice,
    query projection and normalization, probe ranking, the driver scan and
    the distributed cogroup, ``ensure_topk_full`` and the ``OpMetrics``
    span.  A family supplies ``_codec()`` (scoring) and ``_encode()`` (its
    Add kernel) and holds ``centroids``, ``assignments`` (the cell table),
    ``config`` and ``index_type``."""

    #: auto-strategy cutover: beyond this many queries the driver no longer
    #: collects the query set; probe assignment and scoring both distribute
    _DRIVER_NQ_MAX = 10_000
    #: local-plan cap: a ``driver`` top-k search served from the cell
    #: payload scores at most this many queries in the driver process;
    #: a larger batch runs the payload kernel as a ``mapInArrow`` job
    #: (the crossover of a measured nq sweep, ``plans/r18``)
    _LOCAL_NQ_MAX = 2_000
    #: rows per cell — computed once (see _get_cell_counts)
    _cell_counts: dict[int, int] | None = None
    #: IVF_FLAT and BIN_IVF_FLAT store raw vectors; SQ and PQ only when
    #: built ``with_raw_data`` (flat.cc:257-285 HasRawData rules)
    with_raw_data: bool = True

    def _codec(self) -> FlatCodec:
        raise NotImplementedError

    def _encode(self, rows: DataFrame, scalars: tuple[str, ...]) -> DataFrame:
        """``(id, vec[, scalars])`` rows → cell-table rows, encoded with the
        frozen train state (shared by ``add()``)."""
        raise NotImplementedError

    # -- introspection verbs (index_node.h:411-434) -------------------------
    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        return self.with_raw_data

    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is implemented for
        IVF_FLAT only (ivf.cc:291-293 IVFBaseTag -> not_implemented)."""
        raise NotImplementedError("GetIndexMeta not implemented")

    def raw_vectors(self) -> DataFrame:
        if not self.with_raw_data:
            raise ValueError("index built without raw data (with_raw_data=False)")
        return self.assignments.select("id", "vec")

    # -- GetVectorByIds (index_node.h:340-350) --------------------------------
    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """Broadcast semi-join against the cell table's raw vectors — legal
        only when the index keeps them (HasRawData rules)."""
        if not self.with_raw_data:
            raise ValueError(
                f"{self.type()} built without with_raw_data keeps no raw "
                "vectors; GetVectorByIds is unsupported"
            )
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    def _scalar_payload(self) -> list[str]:
        return [
            c for c in self.assignments.columns
            if c not in ("id", "cell_id", "codes", "vec")
        ]

    def _partition_by(self, scalar_partition_cols: list[str] | None) -> list[str]:
        """``save()``'s partition columns: the hot scalar fields (must be
        among the index's ``scalar_cols``) coarsest-first, then
        ``cell_id`` — probe-time pruning on cell_id composes with
        scalar-predicate pruning."""
        scalars = list(scalar_partition_cols or [])
        payload = self._scalar_payload()
        bad = [c for c in scalars if c not in payload]
        if bad:
            # 'cell_id' would partitionBy twice, 'id' would write one
            # directory per row, 'vec' fails on the array type — only the
            # scalar payload columns are legal partition levels
            raise ValueError(
                f"scalar_partition_cols must be among the index's scalar_cols"
                f" {payload}: {bad}"
            )
        return [*scalars, "cell_id"]

    def _build_metrics(self, t0: float, n: int, dim: int, train_backend: str) -> None:
        """Build span close (index.cc:131-148): config attrs + the eager
        portion's wall (train + encode plan; the cell table stays lazy)."""
        from knowhere_spark.tracing import OpMetrics, op_description

        nlist = self.config.nlist
        m = OpMetrics(
            op=f"{self.index_type.value}.build", n=n, dim=dim, nlist=nlist,
            train_backend=train_backend,
            stages={"build_plan_sec": round(time.monotonic() - t0, 6)},
            **self.resident_metrics(),
        )
        m["description"] = op_description(
            self.assignments.sparkSession.sparkContext, m["op"], n=n, nlist=nlist
        )
        self.last_metrics = m

    # -- Add (append new rows to a trained index) ----------------------------
    def add(self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"):
        """Append rows with frozen train state — the existing centroids
        assign the cell, the family's trained codec encodes the row
        (``IndexNode::Add``, index_node.h:120-121; the *_CC growing-segment
        behavior, ivf.cc:513-534).  Scalar payload columns the index
        carries must arrive with every batch — a NULL-padded union would
        silently break the partition-pruned filtered search on the saved
        layout.  Only the new batch is made resident."""
        scalars = tuple(self._scalar_payload())
        missing = [c for c in scalars if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        rows = vector_rows(new_df, id_col, vec_col, scalars, self.config.metric_type)
        # the child shares the train state; per-index state falls back to
        # the class defaults (no metrics, stats, views or search caches)
        child = copy.copy(self)
        for attr in ("last_metrics", "_cell_counts", "_clustered_assign",
                     "_search_frames", "_cells", "_cells_bc"):
            child.__dict__.pop(attr, None)
        batch = child._append_resident(self, self._encode(rows, scalars))
        child.assignments = self.assignments.unionByName(batch)
        return child

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

        ``strategy``:

        - ``driver`` — the reference's nq<=10k serving regime, in one of
          three plans (:meth:`_driver_plan`).  An unfiltered search of a
          resident index whose cell table fits the broadcast bound is
          served from the cell payload (:meth:`_cells_payload`): the cell
          table collected once, held by the driver.  Up to
          ``_LOCAL_NQ_MAX`` queries take the **local plan**: the queries
          are collected once as Arrow, the payload kernel
          (:func:`payload_batches`) ranks the probes, scores them and
          keeps each query's top-k in the driver process, and the result
          is a local frame — no Python job.  A larger batch (seen by
          collecting ``_LOCAL_NQ_MAX + 1`` rows) takes the **broadcast
          plan**: the same kernel in one ``mapInArrow`` over the query
          rows against the payload's broadcast
          (:func:`search_cell_payload`).  Otherwise (a filter, whose
          predicate reads scalar columns the payload does not carry; or
          an index loaded from disk or above the bound) the **scan plan**
          collects the queries as Arrow, ranks the probes on the driver
          and scans the pruned cell table (:func:`scan_probed_cells`).
        - ``distributed`` never collects — probe assignment runs as
          ``mapInArrow`` against broadcast centroids and scoring cogroups
          base cells with their probing queries (the corpus-vs-corpus
          regime, e.g. semantic dedup of 100 TB against itself).
        - ``auto`` takes the broadcast plan, with no query collect,
          whenever ``driver`` would serve from the payload — HNSW's rule
          for its graph, whatever the query count — and otherwise picks
          by query count.

        The local, broadcast and scan plans return the same rows,
        distances to the last bit.  ``last_metrics`` names the driver
        plan that ran (``plan``) and why (``plan_reason``)."""
        k = k if k is not None else self.config.k
        p = self._probe(
            "search", query_df, query_id_col, query_vec_col, strategy,
            nprobe if nprobe is not None else self.config.nprobe, filter_expr, k=k,
        )
        select = topk_selection(k, p.codec.largest)
        if p.payload is not None:
            fill_k = k if self.config.ensure_topk_full else None
            return p.from_payload(select, k, ranked=True, fill_k=fill_k)
        out = _topk(p.scan(select, filter_expr), k, p.codec.largest)
        if self.config.ensure_topk_full:
            out = self._fill_topk(p, out, select, k, filter_expr)
        return out

    # -- RangeSearch (index_node.h:169-326; ivf.cc range path) ----------------
    def range_search(
        self,
        query_df: DataFrame,
        config=None,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Distance-in-range neighbors within the probed cells — the same
        half-open semantics as BruteForce.range_search (range_util.h:22-25),
        bounds from ``config`` (default: the index's); probe-limited like
        the reference's IVF range path, so ``nprobe=nlist`` makes it exact.
        ``range_search_k`` truncates per query (config.h:665-669).
        ``strategy`` and the plans mirror :meth:`search`, except that a
        ``driver`` range search served from the payload always takes the
        broadcast plan: its output has no per-query bound to keep it
        small enough for the driver."""
        cfg = config or self.config
        p = self._probe(
            "range_search", query_df, query_id_col, query_vec_col, strategy,
            nprobe if nprobe is not None else cfg.nprobe, filter_expr,
        )
        select = range_selection(*cfg.range_bounds())
        if p.payload is not None:
            return p.from_payload(select, range_search_k(cfg) or None, ranked=False)
        scored = p.scan(select, filter_expr)
        return apply_range_bounds(scored, cfg, already_bounded=True)

    def _driver_plan(self, filter_expr) -> tuple[str, str]:
        """The driver strategy's plan and why: ``broadcast`` (served from
        the cell payload) for an unfiltered search of a resident index
        whose resident bytes fit HNSW's ``_BROADCAST_MAX_BYTES``, else
        ``scan`` — decided from what the index holds, never from the
        query set.  :meth:`_probe` turns a small ``driver`` top-k search
        of the payload into the ``local`` plan."""
        from knowhere_spark.operators import hnsw

        if filter_expr is not None:
            return "scan", "filtered: the predicate reads scalar columns the payload lacks"
        if not self.resident:
            return "scan", "cell table not resident (loaded, or above the size bound)"
        if self.resident_bytes_est > hnsw._BROADCAST_MAX_BYTES:
            return "scan", "resident cell table above the broadcast bound"
        return "broadcast", "resident cell table within the broadcast bound"

    def _probe(self, verb, query_df, id_col, vec_col, strategy, nprobe, filter_expr, **attrs):
        """Open one search: project the queries, choose the strategy and
        plan, open the metrics span (index.cc:149-162 Search span: labels
        the consuming jobs; counters resolve via ``last_metrics.snapshot()``)
        and prepare the probes — the cell payload (with the collected
        queries on the local plan), probes ranked on the driver, or a
        cached distributed probe table."""
        from knowhere_spark.tracing import OpMetrics, op_description

        self._drop_search_frames()
        nprobe = min(nprobe, self.config.nlist)
        queries = query_df.select(
            F.col(id_col).cast("long").alias("query_id"),
            F.col(vec_col).alias("qvec"),
        )
        if strategy not in ("auto", "driver", "distributed"):
            raise ValueError(f"unknown strategy {strategy!r}")
        plan, reason = self._driver_plan(filter_expr)
        qtbl = None          # the query rows, collected once as Arrow
        if strategy != "distributed" and plan == "broadcast":
            if strategy == "driver" and verb == "search":
                # peek one row past the cap: a small batch is scored here
                qtbl = queries.limit(self._LOCAL_NQ_MAX + 1).toArrow()
                if qtbl.num_rows <= self._LOCAL_NQ_MAX:
                    plan = "local"
                    reason += f"; at most {self._LOCAL_NQ_MAX} queries, scored in the driver"
                else:
                    qtbl = None
                    reason += f"; more than {self._LOCAL_NQ_MAX} queries"
            strategy = "driver"
        elif strategy == "auto":
            # peek one row past the cutover: if the query set is small we
            # already hold the rows and reuse them for the driver path
            qtbl = queries.limit(self._DRIVER_NQ_MAX + 1).toArrow()
            strategy = "distributed" if qtbl.num_rows > self._DRIVER_NQ_MAX else "driver"
        elif strategy == "driver":
            qtbl = queries.toArrow()
        sc = queries.sparkSession.sparkContext
        m = OpMetrics(
            op=f"{self.index_type.value}.{verb}", nprobe=nprobe,
            nlist=self.config.nlist, strategy=strategy,
            rows_scanned=sc.accumulator(0), **attrs, **self.resident_metrics(),
        )
        labels = dict(nprobe=nprobe, strategy=strategy, **attrs)
        if strategy == "driver":
            m["plan"] = labels["plan"] = plan
            m["plan_reason"] = reason
        m["description"] = op_description(sc, m["op"], **labels)
        self.last_metrics = m
        p = _Probe(self, queries, strategy, m)
        codec = p.codec
        if strategy == "distributed":
            # the probe table feeds two plan branches (cell prune +
            # cogroup): cached so the probe assignment runs once
            p.probes = self._cache_for_search(
                probe_assign_df(queries, self.centroids, codec, nprobe)
            )
            return p
        if plan == "local":
            p.payload, p.nprobe, p.qtbl = self._cells_payload(), nprobe, qtbl
            return p
        if plan == "broadcast":
            p.payload, p.nprobe = self._cells_payload(), nprobe
            # the kernels count what the driver no longer sees
            m["nq"] = sc.accumulator(0)
            m["cells_probed"] = sc.accumulator(0)
            m["rows_scanned"] = CellRowsRead(sc, self._get_cell_counts(), self.config.nlist)
            m["stages"]["probe_sec"] = sc.accumulator(0.0)
            return p
        p.qids = scalar_column(qtbl, "query_id", np.int64)
        p.Q = codec.prepare(codec.read_queries(qtbl, "qvec"))
        with p.timer.stage("probe_sec"):
            order = rank_probes(codec.probe(self.centroids, p.Q, stable=True), nprobe)
            p.pairs = [
                (int(q), int(c)) for qi, q in enumerate(p.qids) for c in order[:, qi]
            ]
        m["nq"] = len(p.qids)
        m["cells_probed"] = len(p.pairs)
        return p

    def _cells_payload(self) -> tuple:
        """The cell payload, built on first use and held by the driver:
        the resident cell table collected once (the collect also fills the
        resident cache), sorted by ``(cell_id, id)``, as ``(offsets,
        cells, centroids, codec)`` — CSR cell offsets (``nlist + 1``), an
        Arrow table of ``id`` and the codec's column only, and what the
        kernel needs to rank and score probes.  The cell counts
        (:meth:`_get_cell_counts`) come with it.  Owned like HNSW's graph
        broadcast: :meth:`release` drops it and an ``add()`` child builds
        its own."""
        if self._cells is None:
            codec = self._codec()
            tbl = self.assignments.select("id", "cell_id", codec.col).toArrow()
            tbl = tbl.sort_by([("cell_id", "ascending"), ("id", "ascending")])
            cell = scalar_column(tbl, "cell_id", np.int64)
            offsets = np.searchsorted(cell, np.arange(self.config.nlist + 1))
            if self._cell_counts is None:
                self._cell_counts = {
                    c: int(n) for c, n in enumerate(np.diff(offsets)) if n
                }
            self._cells = (offsets, tbl.select(["id", codec.col]).combine_chunks(),
                           self.centroids, codec)
        return self._cells

    def _cells_broadcast(self):
        """The cell payload's broadcast, made when a ``mapInArrow`` plan
        first needs it and memoized.  The driver never reads its value
        (that would unpickle a second copy of the payload)."""
        if self._cells_bc is None:
            self._cells_bc = self.assignments.sparkSession.sparkContext.broadcast(
                self._cells_payload()
            )
        return self._cells_bc

    def _search_cells(self, codec: FlatCodec) -> DataFrame:
        """The distributed scan's cell table: the clustered view, without
        the raw vectors a quantized codec does not score (refine re-joins
        them)."""
        frame = None
        if codec.col != "vec" and "vec" in self.assignments.columns:
            frame = self.assignments.drop("vec")
        return clustered_search_view(self, frame)

    def _fill_topk(self, p: "_Probe", out, select, k, filter_expr):
        """``ensure_topk_full`` (ivf.cc:753-762): queries left with fewer
        than k results re-probe every cell.  Unfiltered, the per-cell row
        counts decide which queries are short (candidates >= k guarantee k
        results) — no extra Spark job on the driver path."""
        nlist = self.config.nlist
        spark = self.assignments.sparkSession
        if p.strategy == "driver":
            if filter_expr is None:
                cc = self._get_cell_counts()
                cand: dict[int, int] = {}
                for qid, cell in p.pairs:
                    cand[qid] = cand.get(qid, 0) + cc.get(cell, 0)
            else:
                out = self._cache_for_search(out)   # counted, then returned
                cand = {
                    r["query_id"]: r["cnt"]
                    for r in out.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()
                }
            refill = [int(q) for q in p.qids if cand.get(int(q), 0) < k]
            if not refill:
                return out
            pairs = [(q, c) for q in refill for c in range(nlist)]
            p.m["cells_probed"] += len(pairs)
            refilled = _topk(p.scan(select, filter_expr, pairs), k, p.codec.largest)
            return out.filter(~F.col("query_id").isin(refill)).unionByName(refilled)

        # distributed: the short queries are decided without a driver qid list
        if filter_expr is None:
            cc = self._get_cell_counts()
            cc_df = spark.createDataFrame(
                [(int(c), int(n)) for c, n in cc.items()], "cell_id int, cnt long"
            )
            under = (
                p.probes.join(F.broadcast(cc_df), "cell_id", "left")
                .groupBy("query_id")
                .agg(F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("cand"))
                .filter(F.col("cand") < k)
                .select("query_id")
            )
        else:
            out = self._cache_for_search(out)
            under = (
                out.groupBy("query_id")
                .agg(F.count("*").alias("cnt"))
                .filter(F.col("cnt") < k)
                .select("query_id")
            )
            # queries with zero results never appear in `out` at all
            under = p.queries.select("query_id").exceptAll(
                out.select("query_id").distinct()
            ).unionByName(under)
        # short-circuit: the common case has NO underfilled query, and
        # composing the refill anyway costs a second full cogroup subplan +
        # an anti-join at action time (~0.9 s measured on the 100k
        # selfsearch); the emptiness probe reads the cached probe table (or
        # the cached `out` the refill needs anyway)
        if under.isEmpty():
            return out
        all_cells = spark.createDataFrame(
            [(int(c),) for c in range(nlist)], "cell_id int"
        )
        refill_probes = self._cache_for_search(
            p.probes.join(F.broadcast(under), "query_id", "left_semi")
            .select("query_id", "qvec")
            .dropDuplicates(["query_id"])
            .crossJoin(F.broadcast(all_cells))
            .select("query_id", "qvec", "cell_id")
        )
        refilled = _topk(p.scan(select, filter_expr, refill_probes), k, p.codec.largest)
        kept = out.join(F.broadcast(under), "query_id", "left_anti")
        return kept.unionByName(refilled)

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


class _Probe:
    """One open search: its strategy, projected queries, codec, metrics
    span and probes — the cell ``payload`` on the broadcast plan (and
    the collected query table ``qtbl`` on the local plan), ``pairs``
    with ``qids``/``Q`` on the scan plan, or the cached ``probes`` table
    when distributed."""

    def __init__(self, index: IVFBaseIndex, queries: DataFrame, strategy: str, m):
        from knowhere_spark.tracing import StageTimer

        self.index = index
        self.codec = index._codec()
        self.queries = queries
        self.strategy = strategy
        self.m = m
        self.timer = StageTimer(m)
        self.probes = self.pairs = self.qids = self.Q = self.payload = None
        self.qtbl = None
        self.nprobe = 0

    def from_payload(self, select, k, *, ranked, fill_k=None) -> DataFrame:
        """This search's result served from the cell payload by
        :func:`payload_batches`, counting into its metrics: run now in the
        driver process over the collected queries (local plan), or
        returned as one ``mapInArrow`` over the query rows against the
        payload's broadcast (:func:`search_cell_payload`).  The local plan
        serves top-k searches only (``ranked``)."""
        m = self.m
        if self.qtbl is None:
            return search_cell_payload(
                self.queries, self.index._cells_broadcast(), self.nprobe, select,
                k=k, ranked=ranked, fill_k=fill_k,
                counters=(m["nq"], m["cells_probed"], m["rows_scanned"],
                          m["stages"]["probe_sec"]),
            )
        counts = np.diff(self.payload[0])
        counters = (_Tally(0), _Tally(0), _Tally(np.zeros(len(counts), dtype=bool)),
                    _Tally(0.0))
        batches = list(payload_batches(
            self.qtbl.combine_chunks().to_batches(), self.payload, self.nprobe,
            select, k=k, ranked=ranked, fill_k=fill_k, counters=counters,
        ))
        nq, cells, read, probe_sec = (c.value for c in counters)
        m["nq"], m["cells_probed"] = int(nq), int(cells)
        m["rows_scanned"] = int(counts[read].sum())
        m["stages"]["probe_sec"] = probe_sec
        return self.queries.sparkSession.createDataFrame(
            pa.Table.from_batches(batches, schema=_TOPK_ARROW_SCHEMA), _topk_schema()
        )

    def scan(self, select, filter_expr, probed=None) -> DataFrame:
        """``(query_id, neighbor_id, distance)`` rows ``select`` keeps from
        the probed cells — or from ``probed`` (driver pairs, or a probe
        table) instead of the search's own probes."""
        idx = self.index
        acc = self.m["rows_scanned"]
        if self.strategy == "distributed":
            return cogroup_cells(
                idx._search_cells(self.codec),
                self.probes if probed is None else probed,
                self.codec, select, filter_expr, rows_acc=acc,
            )
        with self.timer.stage("scan_plan_sec"):
            return scan_probed_cells(
                idx.assignments, idx.config.nlist,
                self.pairs if probed is None else probed,
                self.qids, self.Q, self.codec, select, filter_expr, rows_acc=acc,
            )


class IVFFlatIndex(IVFBaseIndex):
    """Built IVF_FLAT index: centroid matrix + resident cell table."""

    #: train-sample collect threshold of ``session.train_centroids``:
    #: rows*dim <= 2^25 (~268 MB fp64).  At 256 points/centroid this
    #: covers nlist up to ~1024 at dim 128 — beyond that the distributed
    #: MLlib fit takes over.
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

    def _codec(self) -> FlatCodec:
        return FlatCodec(self.config.metric_type)

    def _encode(self, rows: DataFrame, scalars: tuple[str, ...]) -> DataFrame:
        return _assign_cells(rows, self.centroids, scalars)

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
        from knowhere_spark.session import train_centroids

        t_build0 = time.monotonic()
        scalar_cols = tuple(scalar_cols)
        clash = {"id", "vec", "cell_id"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        base = vector_rows(base_df, id_col, vec_col, scalar_cols, config.metric_type)

        n = base.count()
        head = base.select("vec").head()
        dim = len(head["vec"]) if head else 0
        k = config.match_nlist(n)
        # faiss trains on <= 256 points per centroid (its default
        # max_points_per_centroid)
        centroids, backend = train_centroids(
            base, n, k, 256 * k, dim, seed=config.seed, iters=20
        )
        nlist = len(centroids)
        assignments = _assign_cells(base, centroids, scalar_cols)
        import dataclasses

        cfg = dataclasses.replace(config, nlist=nlist)
        idx = cls(centroids, assignments, cfg, index_type=index_type)
        idx._build_metrics(t_build0, n, dim, backend)
        return idx

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
        partition_by = self._partition_by(scalar_partition_cols)
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
        store.write_table("assignments", self.assignments, partition_by=partition_by)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFFlatIndex":
        store = IndexStore(path)
        m = store.read_manifest()
        centroids = np.array(m["centroids"], dtype=np.float64)
        cfg = IvfConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
        )
        return cls(
            centroids, read_cell_table(spark, store, m), cfg,
            index_type=IndexType(m["index_type"]),
        )


def read_cell_table(spark: SparkSession, store: IndexStore, manifest: dict) -> DataFrame:
    """A saved index's ``assignments`` table, read with the declared schema
    when the manifest has one (it pins partition-column types)."""
    schema = None
    if manifest.get("assignments_schema"):
        import json

        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(manifest["assignments_schema"]))
    return store.read_table(spark, "assignments", schema=schema)


def rank_probes(D: np.ndarray, nprobe: int) -> np.ndarray:
    """Top-``nprobe`` cells per query from ``(nlist, nq)`` coarse-quantizer
    distances → ``(nprobe, nq)`` cell ids, nearest first; the prefix of a
    stable argsort (via a partial selection), so ties go to the lower cell
    id on every path."""
    return top_cap_stable(D.T, nprobe).T


def topk_selection(k: int, largest: bool):
    """Per-batch partial top-k for the scan kernels: ``select(dist,
    member)`` → ``(rows, queries)`` index arrays of the kept pairs, over the
    probed pairs ``member`` (a driver-scan batch against the whole query
    matrix) or over every pair (a cogrouped cell against its probing
    queries).  The final window tie-breaks ``(distance, id)``, so a batch
    must not drop a candidate that window could keep."""

    def select(dist, member=None):
        n, nq = dist.shape
        key = -dist if largest else dist
        if member is not None:
            key = np.where(member, key, np.inf)
        kk = min(k, n)
        sel = np.zeros((n, nq), dtype=bool)
        if kk < n:
            part = np.argpartition(key, kk - 1, axis=0)[:kk]  # (kk, nq)
            col = np.arange(nq)
            sel[part, col[None, :]] = True
            # widen to rows tied at a FINITE per-query boundary so a
            # smallest-id duplicate can't be dropped at the partial cut
            bnd = key[part, col[None, :]].max(axis=0)         # (nq,)
            finite_b = np.isfinite(bnd)
            if finite_b.any():
                sel |= (key == bnd[None, :]) & finite_b[None, :]
        else:
            sel[:] = True
        if member is not None:
            sel &= member
        return np.nonzero(sel)

    return select


def range_selection(lo: float, hi: float, sim: bool):
    """Per-batch half-open range mask for the scan kernels (range_util.h:
    22-25: ``lo < d <= hi`` for similarities, ``lo <= d < hi`` for
    distances) — same ``select`` contract as :func:`topk_selection`."""

    def select(dist, member=None):
        if sim:
            mask = (dist > lo) & (dist <= hi)
        else:
            mask = (dist >= lo) & (dist < hi)
        if member is not None:
            mask &= member
        return np.nonzero(mask)

    return select


def _topk(scored: DataFrame, k: int, largest: bool) -> DataFrame:
    return topk_per_key(
        scored, "query_id", "distance", k,
        ascending=not largest, tie_breaker="neighbor_id",
    )


def _rank_per_query(qids, ids, dist, k: int | None, largest: bool):
    """In-kernel twin of :func:`_topk`'s window: the rows ordered by
    ``(query_id, distance, neighbor_id)`` (distance descending when
    ``largest``) with their 1-based rank within the query, keeping ranks
    ``<= k`` (``None``: every row)."""
    order = np.lexsort((ids, -dist if largest else dist, qids))
    q = qids[order]
    start = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(q)) - np.repeat(start, np.diff(np.r_[start, len(q)])) + 1
    keep = rank <= k if k is not None else np.ones(len(q), dtype=bool)
    return q[keep], ids[order][keep], dist[order][keep], rank[keep]


_RESULT_ARROW_SCHEMA = pa.schema(
    [("query_id", pa.int64()), ("neighbor_id", pa.int64()), ("distance", pa.float64())]
)
_TOPK_ARROW_SCHEMA = _RESULT_ARROW_SCHEMA.append(pa.field("rank", pa.int32()))


def _topk_schema():
    """:func:`_topk`'s Spark schema: the scored columns plus the window's
    non-null int ``rank``."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    return StructType(RESULT_SCHEMA.fields + [StructField("rank", IntegerType(), False)])


def _result_batch(qids, ids, dist) -> pa.RecordBatch:
    return pa.record_batch(
        [
            pa.array(qids, type=pa.int64()),
            pa.array(ids, type=pa.int64()),
            pa.array(dist, type=pa.float64()),
        ],
        names=["query_id", "neighbor_id", "distance"],
    )


def scan_probed_cells(
    table: DataFrame,
    nlist: int,
    pairs,
    qids: np.ndarray,
    Q: np.ndarray,
    codec: FlatCodec,
    select,
    filter_expr: Column | str | None = None,
    *,
    rows_acc=None,
) -> DataFrame:
    """Driver-strategy scan of the probed cells of a cell table:
    ``(query_id, neighbor_id, distance)`` rows that ``select`` keeps.

    One ``mapInArrow`` kernel per partition scores each batch with
    ``codec`` against the broadcast query matrix; a top-k selection emits
    at most ``partitions·nq·k`` rows into the final window — the same
    parallelism inversion as BruteForce's gemm path (SURVEY.md §3.2); a
    naive SQL-distance + global window would shuffle every scored
    candidate instead."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    cells = sorted({c for _, c in pairs})
    cand = table if filter_expr is None else table.filter(filter_expr)
    # literal IN-list → partition pruning when the table is read from a
    # cell-partitioned parquet index (see save/load); only the scored
    # columns cross into Python
    cand = cand.filter(F.col("cell_id").isin(cells)).select("id", "cell_id", codec.col)
    # (nlist, nq) boolean probe-membership matrix: one fancy-index per
    # batch gives the (n, nq) mask of probed pairs
    qcol = {int(q): i for i, q in enumerate(qids)}
    member = np.zeros((nlist, len(qids)), dtype=bool)
    for qid, cell in pairs:
        member[int(cell), qcol[int(qid)]] = True
    bc = table.sparkSession.sparkContext.broadcast((qids, Q, member, codec))

    def kernel(batches):
        b_qids, b_Q, b_member, cd = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            ids = scalar_column(tbl, "id", np.int64)
            cell = scalar_column(tbl, "cell_id", np.int64)
            if rows_acc is not None:
                rows_acc.add(len(ids))
            dist = cd.score(tbl, b_Q, stable=True)        # (n, nq)
            ri, qi = select(dist, b_member[cell])
            if len(ri):
                yield _result_batch(b_qids[qi], ids[ri], dist[ri, qi])

    return cand.mapInArrow(kernel, RESULT_SCHEMA)


def score_cell(cell: pa.Table, qids: np.ndarray, Q: np.ndarray, codec: FlatCodec,
               select, rows_acc=None, *, stable: bool = False):
    """One cell's rows against the queries that probe it: ``(query_ids,
    neighbor_ids, distances)`` of the pairs ``select`` keeps — the body of
    the cogroup kernel (:func:`cogroup_cells`) and of the broadcast kernel
    (:func:`search_cell_payload`, ``stable=True``).  ``rows_acc`` counts
    the cell's rows."""
    ids = scalar_column(cell, "id", np.int64)
    if rows_acc is not None:
        rows_acc.add(len(ids))
    dist = codec.score(cell, Q, stable=stable)        # (n, nq)
    ri, qi = select(dist)
    return qids[qi], ids[ri], dist[ri, qi]


def payload_batches(
    batches,
    payload: tuple,
    nprobe: int,
    select,
    *,
    k: int | None,
    ranked: bool,
    fill_k: int | None = None,
    counters,
):
    """The payload kernel: ``(query_id, qvec)`` record batches scored
    against the cell payload (:meth:`IVFBaseIndex._cells_payload`), one
    result batch per query batch.  Per batch it ranks the probes
    (:func:`rank_probes` over ``codec.probe``), widens a query to every
    cell when its probed cells hold fewer than ``fill_k`` rows
    (``ensure_topk_full``, ivf.cc:753-762), scores each probed cell
    against the queries probing it (:func:`score_cell`) and keeps each
    query's best ``k`` by ``(distance, neighbor_id)`` (``None``: every
    selected row).  Emits :func:`_topk`'s columns when ``ranked``, else
    ``(query_id, neighbor_id, distance)``.  ``counters``: what counts
    the ``nq``, ``cells_probed``, cells-read mask (:class:`CellRowsRead`)
    and probe seconds — accumulators in a ``mapInArrow`` job
    (:func:`search_cell_payload`), plain :class:`_Tally` values on the
    local plan (:meth:`_Probe.from_payload`)."""
    nq_acc, cells_acc, read_acc, probe_acc = counters
    offsets, cells, C, codec = payload
    counts = np.diff(offsets)
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        qids = scalar_column(tbl, "query_id", np.int64)
        nq = len(qids)
        t0 = time.perf_counter()
        Q = codec.prepare(codec.read_queries(tbl, "qvec"))
        order = rank_probes(codec.probe(C, Q, stable=True), nprobe)   # (nprobe, nq)
        probe_acc.add(time.perf_counter() - t0)
        member = np.zeros((len(counts), nq), dtype=bool)       # (nlist, nq)
        member[order, np.arange(nq)[None, :]] = True
        n_probed = order.size
        if fill_k is not None:
            short = counts[order].sum(axis=0) < fill_k
            member[:, short] = True
            n_probed += len(counts) * int(short.sum())
        read = member.any(axis=1)
        nq_acc.add(nq)
        cells_acc.add(n_probed)
        read_acc.add(read)
        parts = []
        for c in np.flatnonzero(read & (counts > 0)):
            qi = np.flatnonzero(member[c])
            parts.append(score_cell(
                cells.slice(offsets[c], counts[c]), qids[qi], Q[qi], codec, select,
                stable=True,
            ))
        if not parts:
            continue
        q, n, d = (np.concatenate(a) for a in zip(*parts))
        if k is not None:
            q, n, d, rank = _rank_per_query(q, n, d, k, codec.largest)
        if len(q) == 0:
            continue
        out = _result_batch(q, n, d)
        if ranked:
            out = out.append_column("rank", pa.array(rank, type=pa.int32()))
        yield out


def search_cell_payload(
    queries: DataFrame,
    payload_bc,
    nprobe: int,
    select,
    *,
    k: int | None,
    ranked: bool,
    fill_k: int | None = None,
    counters,
) -> DataFrame:
    """The driver strategy's broadcast plan: :func:`payload_batches` as
    one ``mapInArrow`` over ``(query_id, qvec)`` rows against the
    broadcast cell payload — no join, no shuffle, no collect.
    ``counters`` are accumulators."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA
    from knowhere_spark.session import ensure_parallelism

    def kernel(batches):
        return payload_batches(
            batches, payload_bc.value, nprobe, select, k=k, ranked=ranked,
            fill_k=fill_k, counters=counters,
        )

    schema = _topk_schema() if ranked else RESULT_SCHEMA
    return ensure_parallelism(queries).mapInArrow(kernel, schema)


class _Tally:
    """A counter with an accumulator's ``add`` over a plain value: the
    local plan runs :func:`payload_batches` in the driver process and
    reads each count once.  Numpy adds boolean masks as an OR, the
    cells-read merge."""

    def __init__(self, zero):
        self.value = zero

    def add(self, v) -> None:
        self.value = self.value + v


class _AnyParam(AccumulatorParam):
    """Accumulator parameter of boolean masks merged by OR: idempotent, so
    a recomputed kernel does not count twice."""

    def zero(self, value):
        return np.zeros_like(value)

    def addInPlace(self, a, b):
        return a | b


class CellRowsRead:
    """``rows_scanned`` of the broadcast plan: the kernels ``add()`` the
    mask of cells they read, OR-ed into one accumulator, and the value is
    those cells' row count — each row counts once per search however the
    queries are batched (the scan plan's meaning), and a recompute does
    not double it."""

    def __init__(self, sc, cell_counts: dict[int, int], nlist: int):
        self.cell_counts = cell_counts
        self.acc = sc.accumulator(np.zeros(nlist, dtype=bool), _AnyParam())

    def add(self, read: np.ndarray) -> None:
        self.acc.add(read)

    @property
    def value(self) -> int:
        return sum(self.cell_counts.get(int(c), 0) for c in np.flatnonzero(self.acc.value))


def probe_assign_df(
    queries: DataFrame, centroids: np.ndarray, codec: FlatCodec, nprobe: int
) -> DataFrame:
    """Distributed probe assignment: ``mapInArrow`` over the query set
    against the broadcast centroid matrix, emitting one ``(query_id, qvec,
    cell_id)`` row per probed cell (ranked by :func:`rank_probes` over
    ``codec.probe``).  The query set never touches the driver — the
    large-nq half of the reference's search fan-out (ivf.cc:715-800) with
    Spark's data parallelism on the query axis.  COSINE queries come out
    normalized (ivf.cc:462-470 contract)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((centroids, codec))
    # qvec payload type: COSINE must ship the float64-normalized vectors
    # (scorers IP them against normalized rows); every other metric passes
    # the INPUT values through untouched, so the probe table keeps the
    # caller's (usually float32) element type — the scorers' float64
    # upcast is exact, and the per-probe duplicated qvec payload shuffles
    # at half the bytes (guide §2.3: narrower types)
    qvec_type = (
        ArrayType(DoubleType()) if codec.normalize else queries.schema["qvec"].dataType
    )
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("qvec", qvec_type),
            StructField("cell_id", IntegerType()),
        ]
    )

    def kernel(batches):
        from knowhere_spark.functions.arrowio import (
            matrix_to_list_array,
            repeat_list_column,
        )

        C, cd = bc.value
        npb = min(nprobe, len(C))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            Q = cd.prepare(cd.read_queries(tbl, "qvec"))
            order = rank_probes(cd.probe(C, Q), npb)        # (npb, nq)
            qids = scalar_column(tbl, "query_id", np.int64)
            # Arrow-native emission (guide §4.2): COSINE builds ONE values
            # buffer + arithmetic offsets for the normalized float64
            # vectors; every other metric re-emits the INPUT rows via one
            # vectorized take — the element type passes through untouched
            out_q = (
                matrix_to_list_array(np.repeat(Q, npb, axis=0), pa.float64())
                if cd.normalize
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


def cogroup_cells(
    cells: DataFrame,
    probes: DataFrame,
    codec: FlatCodec,
    select,
    filter_expr: Column | str | None = None,
    *,
    rows_acc=None,
) -> DataFrame:
    """Distributed scan: ``(query_id, neighbor_id, distance)`` rows that
    ``select`` keeps, per cell, via cogrouped ``applyInArrow`` — base cells
    meet their probing queries after one shuffle of each side keyed by
    ``cell_id`` (none on the base side when ``cells`` is the clustered
    view).  ``probes`` feeds two plan branches (cell prune + cogroup), so
    the caller passes it cached.

    The codec scores a cell's rows against its probing queries — raw
    vectors for IVF_FLAT, decoded codes for the quantized families
    (decode-then-GEMM is arithmetically identical to the reference's
    ADC/affine scan: the LUT entry IS the sub-distance to the decoded
    centroid).  Arrow-native kernel (guide §4.2): the operands come from
    one flatten+reshape+astype over each list column's values buffer."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    cand = cells if filter_expr is None else cells.filter(filter_expr)
    # prune unprobed cells before the shuffle (cheap when nq·nprobe covers
    # most cells, decisive when it doesn't)
    cand = cand.join(probes.select("cell_id").distinct(), "cell_id", "left_semi")

    def cell_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _RESULT_ARROW_SCHEMA.empty_table()
        qids = scalar_column(right, "query_id", np.int64)
        Q = codec.read_queries(right, "qvec")
        return pa.Table.from_batches(
            [_result_batch(*score_cell(left, qids, Q, codec, select, rows_acc))]
        )

    return (
        cand.groupby("cell_id")
        .cogroup(probes.groupby("cell_id"))
        .applyInArrow(cell_kernel, RESULT_SCHEMA)
    )



def _nearest_l2(tbl: pa.Table, C: np.ndarray) -> np.ndarray:
    return pairwise_distances(list_matrix(tbl, "vec"), C, MetricType.L2).argmin(axis=1)


def _assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    extra_cols: tuple[str, ...] = (),
    nearest=_nearest_l2,
) -> DataFrame:
    """Nearest-centroid assignment via a broadcast numpy kernel —
    ``ClusterNode::Assign`` analog (cluster_node.h:26-50).  ``nearest(tbl,
    C)`` gives each row's cell (L2 argmin by default).  ``extra_cols``
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
        C = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            cell = pa.array(nearest(tbl, C).astype(np.int32), type=pa.int32())
            cols = [
                cell if c == "cell_id"
                else tbl.column(c).combine_chunks()
                for c in keep
            ]
            cols[0] = cols[0].cast(pa.int64())   # id long per the schema
            yield pa.record_batch(cols, names=keep)

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cell_id", IntegerType()),
            StructField("vec", df.schema["vec"].dataType),
        ]
        + [df.schema[c] for c in extra_cols]
    )
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(df).mapInArrow(kernel, schema)
