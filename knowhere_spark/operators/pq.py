"""IVF_PQ — product quantization over an IVF coarse partition
(reference: src/index/ivf/ivf.cc:535-554; params m / nbits with
``dim % m == 0``, src/index/ivf/ivf_config.h:68-98).

Spark-first split:

- **Train**: IVF coarse centroids shared with IVF_FLAT, then ``m``
  per-subspace codebooks of ``2^nbits`` centroids fit with a small numpy
  Lloyd on a bounded driver-side sample — the codebook tensor is tiny
  (``m × 2^nbits × dim/m`` floats) and rides every scan kernel.
- **Add**: encode every row to ``m`` codes (nearest codebook entry per
  subspace) in a ``mapInArrow`` pass; the cell table stores ONLY
  ``(id, cell_id, codes ARRAY<SMALLINT>)`` — a ~dim/m·4-fold byte
  reduction, which is the whole point at 100 TB: the probe scan reads
  codes, never raw vectors.
- **Search** is the IVF family's shared core (operators/ivf.IVFBaseIndex);
  this module supplies only the codec, :class:`PQCodec` — codes decoded
  to their codewords, then GEMM, which is arithmetically the ADC lookup
  table sum (each LUT entry IS the sub-distance to the decoded
  codeword).  Optional ``refine_k`` re-ranks survivors by exact distance
  against stored raw vectors (``with_raw_data``) — the reference's ADC
  error correction (SCANN ``reorder_k``, ivf_config.h:101-115).

Vectors are encoded directly (no residual subtraction) — the
``by_residual=false`` faiss variant — so one decode serves every probed
cell.  COSINE follows the normalize-at-train contract (ivf.cc:462-470):
encode normalized vectors and score IP.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from knowhere_spark.config import IndexType, IvfPqConfig, MetricType
from knowhere_spark.functions.arrowio import list_matrix
from knowhere_spark.operators.ivf import (
    FlatCodec,
    IVFBaseIndex,
    IVFFlatIndex,
    _assign_cells,
    table_bytes,
)

_TRAIN_SAMPLE_MAX = 100_000


def fit_codebooks(
    X: np.ndarray, m: int, subdim: int, ksub: int, seed: int
) -> np.ndarray:
    """``(m, ksub', subdim)`` codebooks: one Lloyd fit per subspace of the
    ``(n, m·subdim)`` training matrix, subspace ``j`` seeded ``seed + j``
    (``ksub' < ksub`` on samples smaller than ``ksub``)."""
    from knowhere_spark.functions.distance import numpy_kmeans

    return np.stack(
        [
            numpy_kmeans(X[:, j * subdim : (j + 1) * subdim], ksub, iters=15,
                         seed=seed + j)
            for j in range(m)
        ]
    )


def _encode_df(
    assigned: DataFrame, codebooks: np.ndarray, with_raw_data: bool = False
) -> DataFrame:
    """(id, cell_id, vec) → (id, cell_id, codes[, vec]): nearest-codeword
    per subspace against FIXED codebooks — shared by build and Add so
    appended rows encode exactly like the original corpus.  One Arrow
    kernel; ``id``, ``cell_id`` and the raw vectors (only when refine needs
    them, ``with_raw_data``) pass through as Arrow buffers."""
    spark = assigned.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    # codeword ids reach ksub-1 = 2^nbits - 1; nbits=16 (allowed by
    # IvfPqConfig) overflows SMALLINT/int16 — switch to INT exactly like
    # the SQ code_size axis does
    small = codebooks.shape[1] - 1 <= 32767
    np_code = np.int16 if small else np.int32
    fields = [
        StructField("id", LongType()),
        StructField("cell_id", IntegerType()),
        StructField("codes", ArrayType(ShortType() if small else IntegerType())),
    ]
    if with_raw_data:
        fields.append(assigned.schema["vec"])
    names = [f.name for f in fields]

    def encode(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import matrix_to_list_array

        CB = bc.value
        mm, _, sd = CB.shape
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec")
            codes = np.empty((len(X), mm), dtype=np_code)
            for j in range(mm):
                sub = X[:, j * sd : (j + 1) * sd]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * sub @ CB[j].T
                    + (CB[j] * CB[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            cols = [
                tbl.column("id").combine_chunks().cast(pa.int64()),
                tbl.column("cell_id").combine_chunks().cast(pa.int32()),
                matrix_to_list_array(codes, pa.int16() if small else pa.int32()),
            ]
            if with_raw_data:
                cols.append(tbl.column("vec").combine_chunks())
            yield pa.record_batch(cols, names=names)

    return assigned.mapInArrow(encode, StructType(fields))


class PQCodec(FlatCodec):
    """IVF_PQ's codec: codes decoded to their codewords, then GEMM."""

    col = "codes"

    def __init__(self, metric, codebooks: np.ndarray):
        super().__init__(metric)
        self.codebooks = codebooks   # (m, ksub, subdim)

    def rows(self, tbl):
        codes = list_matrix(tbl, "codes", np.int64)   # (n, m)
        CB = self.codebooks
        return np.concatenate([CB[j][codes[:, j]] for j in range(CB.shape[0])], axis=1)


class IVFPqIndex(IVFBaseIndex):
    """Built IVF_PQ: coarse centroids + per-subspace codebooks + codes table."""

    def __init__(
        self,
        centroids: np.ndarray,       # (nlist, dim)
        codebooks: np.ndarray,       # (m, ksub, dim/m) float64
        codes: DataFrame,            # (id, cell_id, codes ARRAY<SMALLINT>[, vec])
        config: IvfPqConfig,
        *,
        with_raw_data: bool = False,
    ):
        self.centroids = centroids
        self.codebooks = codebooks
        self.assignments = codes
        self.config = config
        self.with_raw_data = with_raw_data
        self.index_type = IndexType.IVF_PQ

    @property
    def codes(self) -> DataFrame:
        """The cell table: ``(id, cell_id, codes[, vec])``."""
        return self.assignments

    def _codec(self) -> PQCodec:
        return PQCodec(self.config.metric_type, self.codebooks)

    def _encode(self, rows: DataFrame, scalars: tuple[str, ...]) -> DataFrame:
        return _encode_df(
            _assign_cells(rows, self.centroids), self.codebooks, self.with_raw_data
        )

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfPqConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        codebooks: np.ndarray | None = None,
    ) -> "IVFPqIndex":
        """``codebooks``: pass a pinned ``(m, ksub, dim/m)`` tensor to skip
        the Lloyd fit — makes the whole build/encode/scan pipeline
        deterministic end-to-end (tests / oracle gates), the same pinning
        contract as ``semdedup(centroids=...)``."""
        t_build0 = time.monotonic()
        # coarse quantizer shared with IVF_FLAT (normalizes for COSINE)
        flat = IVFFlatIndex._train_assign(
            base_df, config, id_col=id_col, vec_col=vec_col,
            index_type=IndexType.IVF_PQ,
        )
        dim = flat.dim()
        config.validate_dim(dim)
        m, ksub = config.m, 1 << config.nbits
        subdim = dim // m

        n = flat.last_metrics["n"]
        if codebooks is not None:
            codebooks = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
            if codebooks.shape[0] != m or codebooks.shape[2] != subdim:
                raise ValueError(
                    f"pinned codebooks shape {codebooks.shape} does not match"
                    f" (m={m}, *, subdim={subdim})"
                )
        else:
            # the seeded Lloyd init is position-dependent: the shared
            # sample rule pins membership and row order to the data
            from knowhere_spark.session import train_sample

            S = train_sample(flat.assignments, n, _TRAIN_SAMPLE_MAX, seed=config.seed)
            codebooks = fit_codebooks(S, m, subdim, ksub, config.seed)
        codes_df = _encode_df(flat.assignments, codebooks, config.with_raw_data)
        import dataclasses

        cfg = dataclasses.replace(config, nlist=flat.config.nlist)
        idx = cls(
            flat.centroids, codebooks, codes_df, cfg,
            with_raw_data=config.with_raw_data,
        )
        idx.assignments = idx._make_resident(
            codes_df, table_bytes(codes_df.schema, n, {"codes": m, "vec": dim})
        )
        idx._build_metrics(t_build0, n, dim, flat.last_metrics["train_backend"])
        return idx

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
        refine_k: int | None = None,
    ) -> DataFrame:
        """The shared IVF search (:meth:`IVFBaseIndex.search`), plus
        ``refine_k`` (default ``config.refine_k``): re-rank the ADC
        top-``refine_k`` by exact distance against the stored raw vectors —
        the reference's ADC-error correction (SCANN ``reorder_k``,
        ivf_config.h:101-115; iterator ``refine_ratio``,
        index_node.h:527-570).  Requires ``with_raw_data``."""
        k = k if k is not None else self.config.k
        refine_k = refine_k if refine_k is not None else self.config.refine_k
        if refine_k and not self.with_raw_data:
            raise ValueError("refine_k requires with_raw_data=True at build")
        approx = super().search(
            query_df, max(refine_k, k) if refine_k else k, nprobe,
            filter_expr=filter_expr, query_id_col=query_id_col,
            query_vec_col=query_vec_col, strategy=strategy,
        )
        if not refine_k:
            return approx
        from knowhere_spark.operators.refine import refine

        # materialize the (nq x refine_k)-bounded survivor set before the
        # refine joins: composed lazily, the optimizer's join planning
        # re-executed the whole scan stage (measured ~2.7x on the composed
        # query); eager localCheckpoint (not cache — callers may chain)
        # pins it at its natural size
        approx = approx.localCheckpoint(eager=True)
        # COSINE stores normalized vectors (normalize-at-train contract);
        # the cosine expression is scale-invariant so re-scoring them
        # against the raw query vectors is exact
        return refine(
            approx, self.raw_vectors(), query_df, k, self.config.metric_type,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )

    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(self, path: str) -> None:
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        store.write_manifest(
            {
                "index_type": self.index_type.value,
                "metric_type": self.config.metric_type.value,
                "nlist": self.config.nlist,
                "nprobe": self.config.nprobe,
                "m": self.config.m,
                "nbits": self.config.nbits,
                "k": self.config.k,
                "refine_k": self.config.refine_k,
                "with_raw_data": self.with_raw_data,
                "dim": self.dim(),
                "count": self.count(),
                "centroids": self.centroids.tolist(),
                "codebooks": self.codebooks.tolist(),
            }
        )
        store.write_table("codes", self.assignments, partition_by=["cell_id"])

    @classmethod
    def load(cls, spark, path: str) -> "IVFPqIndex":
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        refine_k = int(m.get("refine_k", 0))
        # the manifest persists build-time k because IvfPqConfig validates
        # refine_k >= k: an index saved with refine_k < default-k (10) would
        # otherwise be unloadable (ConfigError on reconstruction).  Older
        # manifests without "k" fall back to a k the refine_k can satisfy.
        k = int(m.get("k", min(10, refine_k) if refine_k else 10))
        cfg = IvfPqConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
            m=int(m["m"]),
            nbits=int(m["nbits"]),
            k=k,
            refine_k=refine_k,
            with_raw_data=bool(m.get("with_raw_data", False)),
        )
        return cls(
            np.array(m["centroids"], dtype=np.float64),
            np.array(m["codebooks"], dtype=np.float64),
            store.read_table(spark, "codes"),
            cfg,
            with_raw_data=bool(m.get("with_raw_data", False)),
        )
