"""IVF_SQ — IVF with scalar-quantized codes (src/index/ivf/ivf.cc:587-606,
faiss QT_8bit semantics: per-dimension min/max affine quantization; the
``code_size`` axis 4/6/8/16 mirrors IVF_SQ_CC, ivf.cc:621-648).

Storage: the cell table keeps ``codes ARRAY<SMALLINT>`` (uint8 range)
instead of raw floats — 4× smaller scans at probe time; the per-dim
``(vmin, vdiff)`` training stats live in the manifest.  The min/max
statistics (run by ``build()``) and the encode pass are ``mapInArrow``
kernels; the encoded table is the index's resident cell table
(operators/ivf.ResidentCells), so the encode runs once, on the first
search that fills the cache.  Search is the IVF family's shared core
(operators/ivf.IVFBaseIndex); this module supplies only the codec,
:class:`SQCodec` — decode, then GEMM (the quantized-scan analog of the
reference's SQ distance computers).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
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
from knowhere_spark.functions.arrowio import list_matrix
from knowhere_spark.functions.distance import pairwise_distances
from knowhere_spark.operators.ivf import (
    FlatCodec,
    IVFBaseIndex,
    IVFFlatIndex,
    read_cell_table,
    table_bytes,
    vector_rows,
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


class SQCodec(FlatCodec):
    """IVF_SQ's codec: codes decoded per dim (``vmin + code/levels·vdiff``),
    then GEMM."""

    col = "codes"

    def __init__(self, metric, vmin: np.ndarray, vdiff: np.ndarray, code_size: int):
        super().__init__(metric)
        self.vmin = vmin
        self.vdiff = vdiff
        self.levels = float(_levels(code_size))

    def rows(self, tbl):
        return self.vmin + list_matrix(tbl, "codes", np.float64) / self.levels * self.vdiff


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


class IVFSq8Index(IVFBaseIndex):
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

    def _codec(self) -> SQCodec:
        return SQCodec(
            self.config.metric_type, self.vmin, self.vdiff, self.config.code_size
        )

    def _encode(self, rows: DataFrame, scalars: tuple[str, ...]) -> DataFrame:
        return _quantize_df(
            rows, self.centroids, self.vmin, self.vdiff, self.with_raw_data,
            self.config.code_size, scalars,
        )

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
        rows = vector_rows(base_df, id_col, vec_col, scalar_cols, config.metric_type)
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
        idx._build_metrics(t_build0, fm["n"], dim, fm["train_backend"])
        return idx

    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist the codes table cell-partitioned; ``scalar_partition_cols``
        (must be among the index's ``scalar_cols``) layer hot scalar fields
        ABOVE ``cell_id`` — same pruning contract as ``IVFFlatIndex.save``."""
        partition_by = self._partition_by(scalar_partition_cols)
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
        store.write_table("assignments", self.assignments, partition_by=partition_by)

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
        return cls(
            np.array(m["centroids"], dtype=np.float64),
            read_cell_table(spark, store, m),
            np.array(m["vmin"], dtype=np.float64),
            np.array(m["vdiff"], dtype=np.float64),
            cfg,
            with_raw_data=bool(m.get("with_raw_data", False)),
            index_type=IndexType(m["index_type"]),
        )
