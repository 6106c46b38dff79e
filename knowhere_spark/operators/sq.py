"""IVF_SQ — IVF with scalar-quantized codes (src/index/ivf/ivf.cc:587-606,
faiss QT_8bit semantics: per-dimension min/max affine quantization; the
``code_size`` axis 4/6/8/16 mirrors IVF_SQ_CC, ivf.cc:621-648).

Storage: the cell table keeps ``codes ARRAY<SMALLINT>`` (uint8 range)
instead of raw floats — 4× smaller scans at probe time; the per-dim
``(vmin, vdiff)`` training stats live in the manifest.  The min/max
statistics (run by ``build()``) and the encode pass are ``mapInArrow``
kernels; the encoded table is the index's resident cell table
(operators/ivf.ResidentCells), so the encode runs once, on the first
search that fills the cache.  Decode+distance runs inside
the shared IVF scan kernels (``scan_probed_topk`` / the cogroup), with
the decode as their ``row_matrix`` (the quantized-scan analog of the
reference's SQ distance computers).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from knowhere_spark.config import IndexType, IvfSq8Config, MetricType
from knowhere_spark.functions.distance import normalize_expr, pairwise_distances
from knowhere_spark.operators.ivf import (
    IVFFlatIndex,
    ResidentCells,
    table_bytes,
)
from knowhere_spark.sources.index_store import IndexStore


def array_minmax(df: DataFrame, col: str, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Element-wise min/max over an array column: per-partition numpy
    partials (one Arrow kernel) combined on the driver (no dim×n explode
    shuffle)."""
    schema = StructType(
        [
            StructField("mins", ArrayType(DoubleType())),
            StructField("maxs", ArrayType(DoubleType())),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, matrix_to_list_array

        lo = np.full(dim, np.inf)
        hi = np.full(dim, -np.inf)
        seen = False
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = list_matrix(pa.Table.from_batches([rb]), col)
            lo = np.minimum(lo, X.min(axis=0))
            hi = np.maximum(hi, X.max(axis=0))
            seen = True
        if seen:
            yield pa.record_batch(
                [matrix_to_list_array(lo[None, :], pa.float64()),
                 matrix_to_list_array(hi[None, :], pa.float64())],
                names=["mins", "maxs"],
            )

    parts = df.select(col).mapInArrow(kernel, schema).collect()
    lo = np.min([r["mins"] for r in parts], axis=0)
    hi = np.max([r["maxs"] for r in parts], axis=0)
    return lo, hi


def _levels(code_size: int) -> int:
    """Quantization level count - 1 for a code width: SQ maps each dim to
    ``round((x - vmin)/vdiff * levels)`` in ``[0, levels]`` — the faiss
    QT_{4,6,8}bit / QT_16bit family the reference exposes as IVF_SQ_CC
    ``code_size`` 4/6/8/16 (src/index/ivf/ivf.cc:621-648)."""
    return (1 << code_size) - 1


def _decoder(vmin: np.ndarray, vdiff: np.ndarray, code_size: int):
    """``row_matrix`` for the shared scan kernels: codes → decoded float64
    rows (the per-dim arrays are tiny and ride the task closure)."""
    lv = float(_levels(code_size))

    def decode(tbl):
        from knowhere_spark.functions.arrowio import list_matrix

        codes = list_matrix(tbl, "codes", np.float64)
        return vmin + codes / lv * vdiff

    return decode


def _quantize_df(
    rows: DataFrame,
    centroids: np.ndarray,
    lo: np.ndarray,
    vdiff: np.ndarray,
    with_raw_data: bool,
    code_size: int = 8,
    scalar_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec[, scalars]) → (id, cell_id, codes[, vec][, scalars]): one
    Arrow kernel assigns each row its nearest cell (the same L2 argmin as
    ``ivf._assign_cells``, over the same batches) and quantizes it per dim
    at ``code_size`` bits with a FIXED scale (the trained ``vmin/vdiff``)
    — shared by build, Add and the streaming growing segment, so added
    rows are encoded exactly like the original corpus (faiss QT
    train-once contract).  ``id``, ``vec`` and the ``scalar_cols`` pass
    through as Arrow buffers (the hot-scalar filtered-search layout)."""
    import pyarrow as pa

    from knowhere_spark.session import ensure_parallelism

    spark = rows.sparkSession
    levels = _levels(code_size)
    bc = spark.sparkContext.broadcast((centroids, lo, vdiff, float(levels)))

    # SMALLINT holds codes up to 2^8 (and 2^14); 16-bit codes reach 65535
    # and need INT storage (parquet bit-packs either way on disk)
    small = levels <= 32767
    code_type = ShortType() if small else IntegerType()
    np_type = np.int16 if small else np.int32
    pa_type = pa.int16() if small else pa.int32()
    out_fields = [
        StructField("id", LongType()),
        StructField("cell_id", IntegerType()),
        StructField("codes", ArrayType(code_type)),
    ]
    if with_raw_data:
        out_fields.append(rows.schema["vec"])
    out_fields.extend(rows.schema[c] for c in scalar_cols)
    schema = StructType(out_fields)
    names = [f.name for f in out_fields]

    def quantize(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, matrix_to_list_array

        C, lo_, diff_, lv = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec")
            cell = pairwise_distances(X, C, MetricType.L2).argmin(axis=1)
            codes = np.clip(
                np.round((X - lo_) / diff_ * lv), 0, lv
            ).astype(np_type)
            computed = {
                "id": tbl.column("id").combine_chunks().cast(pa.int64()),
                "cell_id": pa.array(cell.astype(np.int32), type=pa.int32()),
                "codes": matrix_to_list_array(codes, pa_type),
            }
            yield pa.record_batch(
                [computed[c] if c in computed else tbl.column(c).combine_chunks()
                 for c in names],
                names=names,
            )

    return ensure_parallelism(rows).mapInArrow(quantize, schema)


def _vector_rows(
    df: DataFrame, id_col: str, vec_col: str, scalars, metric: MetricType
) -> DataFrame:
    """``(id, vec[, scalars])`` as the index stores them: long ids and,
    for COSINE, normalized vectors (the normalize-at-train contract,
    ivf.cc:462-470) — the same projection IVF_FLAT assigns."""
    rows = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"), *scalars
    )
    if metric == MetricType.COSINE:
        rows = rows.select("id", normalize_expr(F.col("vec")).alias("vec"), *scalars)
    return rows


class IVFSq8Index(ResidentCells):
    """IVF probe plan over quantized codes; optionally keeps raw vectors
    (``with_raw_data``) to serve SCANN-style refine (ivf_config.h:101-162)."""

    def __init__(
        self,
        centroids: np.ndarray,
        assignments: DataFrame,   # (id, cell_id, codes [, vec])
        vmin: np.ndarray,
        vdiff: np.ndarray,
        config: IvfSq8Config,
        *,
        with_raw_data: bool = False,
        index_type: IndexType = IndexType.IVF_SQ8,
    ):
        self.centroids = centroids
        self.assignments = assignments
        self.vmin = vmin
        self.vdiff = vdiff
        self.config = config
        self.with_raw_data = with_raw_data
        self.index_type = index_type

    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # SQ8 drops raw data unless refine keeps it (flat.cc:257-285 rules)
        return self.with_raw_data

    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is implemented for
        IVF_FLAT only (ivf.cc:291-293 IVFBaseTag -> not_implemented)."""
        raise NotImplementedError("GetIndexMeta not implemented")

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` (index_node.h:340-350) — legal only with
        ``with_raw_data`` (HasRawData rules)."""
        if not self.with_raw_data:
            raise ValueError(
                f"{self.type()} built without with_raw_data keeps no raw "
                "vectors; GetVectorByIds is unsupported"
            )
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfSq8Config,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        with_raw_data: bool = False,
        index_type: IndexType = IndexType.IVF_SQ8,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "IVFSq8Index":
        """``scalar_cols``: hot scalar payload carried through assignment
        AND quantization into the codes table (the dense-IVF
        materialized_view.h:23-36 contract) — a ``filter_expr`` over them
        is join-free, and ``save(scalar_partition_cols=...)`` prunes
        parquet partitions on the loaded index.

        Only the codes table is made resident (lazily, no extra job); the
        raw-vector assignment table it encodes stays a plan."""
        from knowhere_spark.tracing import OpMetrics, op_description

        t_build0 = time.monotonic()
        scalar_cols = tuple(scalar_cols)
        clash = {"codes", "qvec"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        flat = IVFFlatIndex._train_assign(
            base_df, config, id_col=id_col, vec_col=vec_col,
            index_type=index_type, scalar_cols=scalar_cols,
        )
        dim = flat.dim()
        # the trained centroids are all SQ takes from the IVF_FLAT build:
        # the per-dim statistics do not depend on the cell, and the encode
        # kernel assigns cells itself
        rows = _vector_rows(
            base_df, id_col, vec_col, scalar_cols, MetricType(config.metric_type)
        )
        lo, hi = array_minmax(rows, "vec", dim)
        vdiff = hi - lo
        vdiff[vdiff == 0] = 1.0

        import dataclasses

        assignments = _quantize_df(
            rows, flat.centroids, lo, vdiff, with_raw_data, config.code_size,
            scalar_cols,
        )
        cfg = dataclasses.replace(config, nlist=flat.config.nlist)
        idx = cls(
            flat.centroids, assignments, lo, vdiff, cfg,
            with_raw_data=with_raw_data, index_type=index_type,
        )
        fm = flat.last_metrics
        idx.assignments = idx._make_resident(
            assignments,
            table_bytes(assignments.schema, fm["n"], {"codes": dim, "vec": dim}),
        )
        m = OpMetrics(
            op=f"{index_type.value}.build", n=fm["n"], dim=dim,
            nlist=cfg.nlist, train_backend=fm["train_backend"],
            stages={"build_plan_sec": round(time.monotonic() - t_build0, 6)},
            **idx.resident_metrics(),
        )
        m["description"] = op_description(
            base_df.sparkSession.sparkContext, m["op"], n=fm["n"], nlist=cfg.nlist
        )
        idx.last_metrics = m
        return idx

    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "IVFSq8Index":
        """Append rows with frozen train state — existing centroids assign
        the cell, the trained ``vmin/vdiff`` scale encodes the codes
        (``IndexNode::Add``, index_node.h:120-121; out-of-range values
        clip exactly as faiss SQ8 does)."""
        scalars = self._scalar_payload()
        missing = [c for c in scalars if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new = _vector_rows(
            new_df, id_col, vec_col, scalars, MetricType(self.config.metric_type)
        )
        quantized = _quantize_df(
            new, self.centroids, self.vmin, self.vdiff, self.with_raw_data,
            self.config.code_size, tuple(scalars),
        )
        child = IVFSq8Index(
            self.centroids, self.assignments, self.vmin, self.vdiff,
            self.config, with_raw_data=self.with_raw_data,
            index_type=self.index_type,
        )
        batch = child._append_resident(self, quantized)
        child.assignments = self.assignments.unionByName(batch)
        return child

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
        """Probe + decode-and-score over quantized codes (ivf.cc:587-606).

        ``strategy`` mirrors :meth:`IVFFlatIndex.search`: ``distributed``
        never collects the query set — probe assignment distributes and
        scoring cogroups cells with their probing queries, decoding codes
        inside the GEMM kernel.  ``last_metrics`` carries the IVF_FLAT
        search schema."""
        from knowhere_spark.tracing import OpMetrics, StageTimer, op_description

        k = k if k is not None else self.config.k
        nprobe = min(nprobe if nprobe is not None else self.config.nprobe, self.config.nlist)
        metric = MetricType(self.config.metric_type)
        spark = self.assignments.sparkSession

        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        if strategy == "auto":
            qrows = queries.limit(IVFFlatIndex._DRIVER_NQ_MAX + 1).collect()
            strategy = (
                "distributed" if len(qrows) > IVFFlatIndex._DRIVER_NQ_MAX else "driver"
            )
        elif strategy == "driver":
            qrows = queries.collect()
        if strategy not in ("driver", "distributed"):
            raise ValueError(f"unknown strategy {strategy!r}")
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
                queries, k, nprobe, metric, filter_expr, rows_acc=m["rows_scanned"]
            )
        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["qvec"] for r in qrows], dtype=np.float64)
        if metric == MetricType.COSINE:
            qn = np.linalg.norm(qmat, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            qmat = qmat / qn

        from knowhere_spark.operators.ivf import probe_pairs, scan_probed_topk

        # probe ranking = assignment geometry (L2, see probe_pairs);
        # scoring inside the probed cells uses the true metric
        with timer.stage("probe_sec"):
            pairs = probe_pairs(self.centroids, qids, qmat, nprobe)
        m["nq"] = len(qids)
        m["cells_probed"] = len(pairs)
        with timer.stage("scan_plan_sec"):
            return scan_probed_topk(
                self.assignments, self.config.nlist, pairs, qids, qmat, k,
                metric, filter_expr, rows_acc=m["rows_scanned"],
                row_matrix=_decoder(self.vmin, self.vdiff, self.config.code_size),
            )

    def _search_distributed(self, queries, k, nprobe, metric, filter_expr,
                            rows_acc=None):
        from knowhere_spark.operators.ivf import (
            clustered_search_view,
            cogroup_cells_topk,
            probe_assign_df,
        )

        probes = probe_assign_df(queries, self.centroids, metric, nprobe)
        dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
        return cogroup_cells_topk(
            clustered_search_view(self), probes, k, dist_metric,
            filter_expr=filter_expr, rows_acc=rows_acc,
            row_matrix=_decoder(self.vmin, self.vdiff, self.config.code_size),
        )

    def range_search(
        self,
        query_df: DataFrame,
        config: IvfSq8Config | None = None,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """Distance-in-range over decoded codes within probed cells —
        the IVF range path on quantized storage (half-open bounds per
        range_util.h:22-25).  Served through the cogroup machinery, which
        is correct at any nq."""
        from knowhere_spark.operators.ivf import (
            clustered_search_view,
            cogroup_cells_range,
            probe_assign_df,
        )
        from knowhere_spark.operators.topk import apply_range_bounds

        cfg = config or self.config
        nprobe = min(
            nprobe if nprobe is not None else cfg.nprobe, self.config.nlist
        )
        metric = MetricType(cfg.metric_type)
        dist_metric = MetricType.IP if metric == MetricType.COSINE else metric
        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )
        probes = probe_assign_df(queries, self.centroids, metric, nprobe)
        lo, hi, sim = cfg.range_bounds()
        out = cogroup_cells_range(
            clustered_search_view(self), probes, lo, hi, sim, dist_metric,
            filter_expr=filter_expr,
            row_matrix=_decoder(self.vmin, self.vdiff, self.config.code_size),
        )
        return apply_range_bounds(out, cfg, already_bounded=True)

    def raw_vectors(self) -> DataFrame:
        if not self.with_raw_data:
            raise ValueError("index built without raw data (with_raw_data=False)")
        return self.assignments.select("id", "vec")

    def _scalar_payload(self) -> list[str]:
        return [
            c
            for c in self.assignments.columns
            if c not in ("id", "cell_id", "codes", "vec")
        ]

    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist the codes table cell-partitioned; ``scalar_partition_cols``
        (must be among the index's ``scalar_cols``) layer hot scalar fields
        ABOVE ``cell_id`` — same pruning contract as ``IVFFlatIndex.save``."""
        scalars = list(scalar_partition_cols or [])
        payload = self._scalar_payload()
        bad = [c for c in scalars if c not in payload]
        if bad:
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
                "code_size": self.config.code_size,
                "dim": self.dim(),
                "count": self.count(),
                "with_raw_data": self.with_raw_data,
                "centroids": self.centroids.tolist(),
                "vmin": self.vmin.tolist(),
                "vdiff": self.vdiff.tolist(),
                # declared schema pins partition-column types on load
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        store.write_table(
            "assignments", self.assignments, partition_by=[*scalars, "cell_id"]
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFSq8Index":
        store = IndexStore(path)
        m = store.read_manifest()
        cfg = IvfSq8Config(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
            code_size=int(m.get("code_size", 8)),
        )
        schema = None
        if m.get("assignments_schema"):
            import json

            schema = StructType.fromJson(json.loads(m["assignments_schema"]))
        return cls(
            np.array(m["centroids"], dtype=np.float64),
            store.read_table(spark, "assignments", schema=schema),
            np.array(m["vmin"], dtype=np.float64),
            np.array(m["vdiff"], dtype=np.float64),
            cfg,
            with_raw_data=bool(m.get("with_raw_data", False)),
            index_type=IndexType(m["index_type"]),
        )
