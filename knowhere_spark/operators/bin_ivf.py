"""BIN_IVF_FLAT — IVF over packed-bit binary vectors with HAMMING/JACCARD
(reference: src/index/ivf/ivf.cc:607-620 `IvfBin`, faiss binary kmeans).

Spark-first split of the reference's binary IVF:

- **Train**: binary k-means (Lloyd iterations with hamming assignment and
  majority-vote centroid update) over a bounded driver-side sample — the
  centroid matrix is tiny (``nlist × dim/8`` bytes); the sample bound keeps
  the driver safe at 100 TB while the full assignment pass stays
  distributed.
- **Add**: hamming argmin against broadcast centroids in the IVF
  family's Arrow assignment kernel (``ivf._assign_cells`` reading the
  packed bytes through ``arrowio.binary_matrix``); the assignment table
  is the index's resident cell table (operators/ivf.ResidentCells) and is
  saved partitioned by ``cell_id``.
- **Search** is the IVF family's shared core (operators/ivf.IVFBaseIndex)
  with the same plan shapes as the dense IVF, so partition pruning on
  ``cell_id`` does the byte-skipping at scale; this module supplies only
  the codec, :class:`BinaryCodec` — popcount scoring
  (``functions/binary.binary_pairwise``) and hamming-to-centroid probe
  ranking (the reference's binary coarse quantizer is hamming-based
  whatever the scan metric).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame

from knowhere_spark.config import IndexType, IvfConfig, MetricType
from knowhere_spark.functions.arrowio import binary_matrix
from knowhere_spark.functions.binary import binary_pairwise
from knowhere_spark.operators.ivf import (
    FlatCodec,
    IVFBaseIndex,
    _assign_cells,
    read_cell_table,
    table_bytes,
    vector_rows,
)

_TRAIN_SAMPLE_MAX = 100_000


def _binary_kmeans(X: np.ndarray, nlist: int, seed: int, n_iter: int = 10) -> np.ndarray:
    """Lloyd with hamming assignment + per-bit majority-vote update — the
    binary analog of faiss kmeans used by the reference's BIN_IVF train."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=nlist, replace=False)].copy()
    for _ in range(n_iter):
        assign = binary_pairwise(X, C, MetricType.HAMMING).argmin(axis=1)
        bits = np.unpackbits(X, axis=1)  # (n, dim)
        newC = np.zeros((nlist, bits.shape[1]), dtype=np.uint8)
        for c in range(nlist):
            members = bits[assign == c]
            if len(members) == 0:
                newC[c] = np.unpackbits(X[rng.integers(len(X))])
            else:
                newC[c] = (members.mean(axis=0) >= 0.5).astype(np.uint8)
        C_next = np.packbits(newC, axis=1)
        if np.array_equal(C_next, C):
            break
        C = C_next
    return C


def _nearest_hamming(tbl, C: np.ndarray) -> np.ndarray:
    return binary_pairwise(binary_matrix(tbl, "vec"), C, MetricType.HAMMING).argmin(axis=1)


class BinaryCodec(FlatCodec):
    """BIN_IVF_FLAT's codec: packed bits scored by popcount, probes ranked
    by hamming to the binary centroids.  Popcount distances are exact, so
    ``stable`` changes nothing."""

    def read_queries(self, tbl, col: str) -> np.ndarray:
        return binary_matrix(tbl, col)

    def probe(self, C: np.ndarray, Q: np.ndarray, *, stable: bool = False) -> np.ndarray:
        return binary_pairwise(C, Q, MetricType.HAMMING)

    def score(self, tbl, Q: np.ndarray, *, stable: bool = False) -> np.ndarray:
        return binary_pairwise(binary_matrix(tbl, "vec"), Q, self.metric)


class BinaryIVFIndex(IVFBaseIndex):
    """Built BIN_IVF_FLAT: packed-byte centroids + cell-partitioned rows."""

    def __init__(self, centroids: np.ndarray, assignments: DataFrame, config: IvfConfig):
        self.centroids = centroids          # (nlist, dim/8) uint8
        self.assignments = assignments      # (id, cell_id, vec binary)
        self.config = config
        self.index_type = IndexType.BIN_IVF_FLAT

    def dim(self) -> int:
        return int(self.centroids.shape[1] * 8)

    def _codec(self) -> BinaryCodec:
        return BinaryCodec(self.config.metric_type)

    def _encode(self, rows: DataFrame, scalars: tuple[str, ...]) -> DataFrame:
        return _assign_cells(rows, self.centroids, scalars, nearest=_nearest_hamming)

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "BinaryIVFIndex":
        """``scalar_cols``: hot scalar payload columns carried into the
        assignments table, same contract as the dense IVF
        (operators/ivf.py — the materialized_view.h:23-36 analog): a
        ``filter_expr`` over them evaluates join-free at the scan, and
        ``save(path, scalar_partition_cols=...)`` prunes whole parquet
        partitions for the loaded index."""
        t_build0 = time.monotonic()
        scalar_cols = tuple(scalar_cols)
        clash = {"id", "vec", "cell_id", "qvec"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        base = vector_rows(base_df, id_col, vec_col, scalar_cols, config.metric_type)
        n = base.count()
        nlist = config.match_nlist(n)
        # _binary_kmeans's seeded init is position-dependent: the shared
        # sample rule pins membership and row order to the data
        from knowhere_spark.session import train_sample

        X = train_sample(base, n, _TRAIN_SAMPLE_MAX, seed=config.seed)
        centroids = _binary_kmeans(X, nlist, config.seed)
        assignments = _assign_cells(base, centroids, scalar_cols, nearest=_nearest_hamming)
        import dataclasses

        cfg = dataclasses.replace(config, nlist=nlist)
        idx = cls(centroids, assignments, cfg)
        idx.assignments = idx._make_resident(
            assignments,
            table_bytes(assignments.schema, n, {"vec": centroids.shape[1]}),
        )
        idx._build_metrics(t_build0, n, idx.dim(), "driver")
        return idx

    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist as a cell-partitioned parquet layout.
        ``scalar_partition_cols`` (must be among the index's
        ``scalar_cols``) layer hot scalar fields ABOVE ``cell_id`` in the
        directory tree — same pruning contract as ``IVFFlatIndex.save``."""
        from knowhere_spark.sources.index_store import IndexStore

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
                "centroids_hex": self.centroids.tobytes().hex(),
                "centroid_bytes": int(self.centroids.shape[1]),
                # declared schema pins partition-column types on load
                # (string label '01' must not merge with int partition 1)
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        store.write_table("assignments", self.assignments, partition_by=partition_by)

    @classmethod
    def load(cls, spark, path: str) -> "BinaryIVFIndex":
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        nbytes = int(m["centroid_bytes"])
        centroids = np.frombuffer(
            bytes.fromhex(m["centroids_hex"]), dtype=np.uint8
        ).reshape(-1, nbytes)
        cfg = IvfConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
        )
        return cls(centroids, read_cell_table(spark, store, m), cfg)
