"""Search-while-insert — the Structured Streaming analog of the
reference's concurrent (``*_CC``) indexes: IVF_FLAT_CC's growing segments
(src/index/ivf/ivf.cc:513-534, segment size ``ssize``) and
SparseInvertedIndexNodeCC (src/index/sparse/sparse_index_node.cc:431-585).

The reference interleaves inserts and searches under a lock over sealed +
growing segments.  In Spark the same contract is a kappa split:

- **sealed** segment: the built IVF index (cell-partitioned Parquet).
- **growing** segment: an append-only Parquet directory fed by
  ``writeStream.foreachBatch`` — each micro-batch is assigned to cells
  with the SAME broadcast-centroid kernel the batch path uses
  (operators/ivf._assign_cells), so a growing row is searchable the
  moment its batch commits.
- **search** runs over ``sealed ∪ growing`` — one DataFrame union, same
  probe plan; Parquet's snapshot isolation gives the consistent view the
  reference takes a lock for.

At 100 TB the growing directory stays small relative to sealed (it's one
ingest window); a periodic ``seal()`` compacts growing into sealed —
the Milvus-side segment-seal lifecycle expressed as one batch job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.utils import AnalysisException

from knowhere_spark.config import IvfConfig
from knowhere_spark.functions.distance import normalize_expr
from knowhere_spark.operators.ivf import IVFFlatIndex, _assign_cells


def _snapshot_files(path: str) -> list[str]:
    """Committed parquet files under ``path`` at this instant.  Reading this
    explicit list (instead of the directory) pins a point-in-time view: a
    micro-batch committing between two actions on the same DataFrame cannot
    change what the lineage re-reads — the consistency the reference takes
    a lock for."""
    if not os.path.isdir(path):
        return []
    out = []
    for root, dirs, fnames in os.walk(path):
        # prune hidden/in-flight DIRECTORIES too (_temporary, _spark_metadata,
        # .staging): files inside them have ordinary names but are not
        # committed — pinning one races with the task-commit rename
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fnames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


class GrowingIVFIndex:
    """IVF_FLAT_CC analog: sealed IVF index + streaming-appended growing
    segment, searched as one."""

    def __init__(self, sealed: IVFFlatIndex, growing_path: str):
        self.sealed = sealed
        self.growing_path = growing_path
        self._spark = sealed.assignments.sparkSession

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        growing_path: str,
        **kw,
    ) -> "GrowingIVFIndex":
        return cls(IVFFlatIndex.build(base_df, config, **kw), growing_path)

    # -- subclass hooks ---------------------------------------------------------
    # the micro-batch loop, snapshot read, union view and seal dance are
    # written ONCE here; a quantized variant only swaps how a batch encodes,
    # which columns an assignment row carries, and how an index is rebuilt
    # from an assignment table.
    def _cols(self) -> list[str]:
        """Columns of one assignment row (sealed and growing agree)."""
        return ["id", "cell_id", "vec"]

    def _encode_batch(self, rows: DataFrame) -> DataFrame:
        """Turn a ``(id, vec)`` micro-batch into assignment rows using ONLY
        frozen sealed train state (``IndexNode::Add``'s contract,
        ivf.cc:513-534): same broadcast-centroid kernel as the batch path."""
        return _assign_cells(rows, self.sealed.centroids)

    def _make_index(self, assignments: DataFrame):
        """Rebuild a searchable index around ``assignments`` with the sealed
        train state."""
        return IVFFlatIndex(
            self.sealed.centroids,
            assignments,
            self.sealed.config,
            index_type=self.sealed.index_type,
        )

    # -- ingest ---------------------------------------------------------------
    def start_ingest(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        trigger: dict | None = None,
    ):
        """Attach a streaming source of ``(id, vec)`` rows; every
        micro-batch is encoded with the FROZEN sealed train state and
        appended (``IndexNode::Add`` under the stream, ivf.cc:513-534).
        Returns the StreamingQuery."""
        from pyspark.sql import functions as F

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            rows = batch_df.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).alias("vec"),
            )
            (
                self._encode_batch(rows).write.mode("append")
                .partitionBy("cell_id")
                .parquet(self.growing_path)
            )

        writer = (
            stream_df.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- search over sealed ∪ growing ----------------------------------------
    def _growing_df(self) -> DataFrame | None:
        files = _snapshot_files(self.growing_path)
        if not files:
            return None
        try:
            # basePath keeps the cell_id partition column when reading an
            # explicit file list out of the partitioned layout
            df = self._spark.read.option("basePath", self.growing_path).parquet(*files)
        except AnalysisException:
            return None   # no committed files yet / racing directory create
        return df.select(*self._cols())

    def searchable(self):
        """A point-in-time view over sealed + growing rows: the growing side
        is pinned to the file list committed at call time, so every action
        on the returned index sees the same rows."""
        growing = self._growing_df()
        assignments = self.sealed.assignments.select(*self._cols())
        if growing is not None:
            assignments = assignments.unionByName(growing)
        return self._make_index(assignments)

    def search(self, query_df: DataFrame, k: int | None = None, **kw) -> DataFrame:
        return self.searchable().search(query_df, k, **kw)

    def count(self) -> int:
        return self.searchable().count()

    # -- seal (compaction) ----------------------------------------------------
    def seal(self, seal_path: str | None = None) -> "GrowingIVFIndex":
        """Fold the growing segment into sealed — the segment-seal step of
        the CC lifecycle; the train state is unchanged (the reference never
        retrains on insert either).

        The compacted assignment table is **materialized durably** (written
        to ``seal_path`` and re-read) so the new sealed index has no lineage
        back to the growing directory: rows appended after this call — e.g.
        by an ingest stream the caller should stop or redirect first — are
        deterministically excluded rather than sometimes recomputed in.
        """
        view = self.searchable()
        seal_path = seal_path or self.growing_path + "_sealed"
        (
            view.assignments.write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(seal_path)
        )
        assignments = self._spark.read.parquet(seal_path).select(*self._cols())
        return type(self)(self._make_index(assignments), self.growing_path + "_next")


class GrowingSQIndex(GrowingIVFIndex):
    """IVF_SQ_CC analog (src/index/ivf/ivf.cc:621-648, code_size 4/6/8/16):
    sealed IVF_SQ index + streaming-appended growing CODES, searched as
    one.  The sealed train state — coarse centroids, the per-dim
    ``vmin/vdiff`` affine scale and ``code_size`` — is FROZEN across
    inserts, exactly the frozen-quantizer ``Add`` contract: a streamed row
    encodes byte-identically to the same row passed to the batch
    ``IVFSq8Index.add``."""

    @classmethod
    def build(cls, base_df, config, growing_path: str, **kw) -> "GrowingSQIndex":
        from knowhere_spark.operators.sq import IVFSq8Index

        return cls(IVFSq8Index.build(base_df, config, **kw), growing_path)

    def _cols(self) -> list[str]:
        cols = ["id", "cell_id", "codes"]
        if self.sealed.with_raw_data:
            cols.append("vec")
        return cols

    def _encode_batch(self, rows: DataFrame) -> DataFrame:
        """Cell-assign with the sealed centroids and quantize with the
        sealed scale — a growing row is searchable (as codes) the moment
        its batch commits, and encodes byte-identically to a batch add."""
        from pyspark.sql import functions as F

        from knowhere_spark.config import MetricType
        from knowhere_spark.operators.sq import _quantize_df

        sealed = self.sealed
        if MetricType(sealed.config.metric_type) == MetricType.COSINE:
            rows = rows.select("id", normalize_expr(F.col("vec")).alias("vec"))
        return _quantize_df(
            rows, sealed.centroids, sealed.vmin, sealed.vdiff,
            sealed.with_raw_data, sealed.config.code_size,
        )

    def _make_index(self, assignments: DataFrame):
        from knowhere_spark.operators.sq import IVFSq8Index

        return IVFSq8Index(
            self.sealed.centroids,
            assignments,
            self.sealed.vmin,
            self.sealed.vdiff,
            self.sealed.config,
            with_raw_data=self.sealed.with_raw_data,
            index_type=self.sealed.index_type,
        )


class GrowingSparseIndex:
    """SparseInvertedIndexNodeCC analog (sparse_index_node.cc:431-585):
    sealed postings + streaming-appended growing postings, searched as one.

    BM25 statistics follow the reference's CC contract: ``avgdl`` is pinned
    at build/load time (the WAND load-time pinning rule, config.h:734-760)
    rather than recomputed per insert — growing rows are scored against the
    sealed corpus statistics until :meth:`seal` recomputes them."""

    def __init__(self, sealed, growing_path: str):
        self.sealed = sealed
        self.growing_path = growing_path
        self._spark = sealed.postings.sparkSession

    @classmethod
    def build(cls, base_df: DataFrame, config, growing_path: str, **kw) -> "GrowingSparseIndex":
        from knowhere_spark.operators.sparse import SparseInvertedIndex

        return cls(SparseInvertedIndex.build(base_df, config, **kw), growing_path)

    # -- ingest ---------------------------------------------------------------
    def start_ingest(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        trigger: dict | None = None,
    ):
        """Attach a streaming source of ``(id, vec MAP)`` rows; every
        micro-batch explodes to postings and appends — a row is searchable
        the moment its batch commits (the CC add-under-search contract)."""
        from knowhere_spark.operators.sparse import sparse_to_postings

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            postings = sparse_to_postings(batch_df, id_col=id_col, vec_col=vec_col)
            postings.select("term", "doc_id", "value").write.mode("append").parquet(
                self.growing_path
            )

        writer = (
            stream_df.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- search over sealed ∪ growing ----------------------------------------
    def _growing_postings(self) -> DataFrame | None:
        files = _snapshot_files(self.growing_path)
        if not files:
            return None
        try:
            df = self._spark.read.parquet(*files)
        except AnalysisException:
            return None   # racing directory create
        return df.select("term", "doc_id", "value")

    def searchable(self):
        """A point-in-time view over sealed ∪ growing postings.

        The growing side is pinned to the file list committed at call time,
        so postings, doc_stats and count all derive from one snapshot — a
        micro-batch landing between two actions cannot make the BM25
        doc_stats join drop a doc.  If a streamed doc_id also exists in
        sealed (a re-add), its doc_len combines across segments — one
        doc_stats row, no posting double-join; n_docs counts it once.
        """
        from pyspark.sql import functions as F

        from knowhere_spark.operators.sparse import SparseInvertedIndex

        sealed = self.sealed
        growing = self._growing_postings()
        if growing is None:
            return sealed
        # sealed may be bucket-partitioned (save(n_term_buckets>0)): project
        # to the bare posting columns; the merged view scores unbucketed and
        # seal() re-buckets on save
        postings = sealed.postings.select("term", "doc_id", "value").unionByName(
            growing
        )
        doc_stats = (
            sealed.doc_stats.unionByName(
                growing.groupBy("doc_id").agg(F.sum("value").alias("doc_len"))
            )
            .groupBy("doc_id")
            .agg(F.sum("doc_len").alias("doc_len"))
        )
        term_stats = postings.groupBy("term").agg(
            F.max("value").alias("max_value"), F.count("*").alias("df")
        )
        return SparseInvertedIndex(
            postings, doc_stats, term_stats, sealed.config,
            n_docs=None,          # lazy: counted from this snapshot on demand
            avgdl=sealed.avgdl,   # pinned (see class docstring)
        )

    def search(self, query_df: DataFrame, k: int | None = None, **kw) -> DataFrame:
        return self.searchable().search(query_df, k, **kw)

    def count(self) -> int:
        return self.searchable().count()

    # -- seal (compaction) ----------------------------------------------------
    def seal(self, seal_path: str | None = None) -> "GrowingSparseIndex":
        """Fold growing into sealed and recompute corpus statistics (the
        segment-seal step; unlike :meth:`searchable`, avgdl/n_docs refresh
        here — the Milvus-side flush-and-reload).

        Compacted postings are **materialized durably** (written to
        ``seal_path`` and re-read), severing all lineage to the growing
        directory: rows appended after this call — stop or redirect the
        ingest stream first — are deterministically excluded, and executor
        loss can never silently resurrect them into a frozen-stats index.
        """
        from pyspark.sql import functions as F

        from knowhere_spark.operators.sparse import SparseInvertedIndex

        view = self.searchable()
        if view is self.sealed:
            return GrowingSparseIndex(self.sealed, self.growing_path + "_next")
        seal_path = seal_path or self.growing_path + "_sealed"
        view.postings.write.mode("overwrite").parquet(seal_path)
        postings = self._spark.read.parquet(seal_path).select(
            "term", "doc_id", "value"
        )
        doc_stats = postings.groupBy("doc_id").agg(F.sum("value").alias("doc_len"))
        term_stats = postings.groupBy("term").agg(
            F.max("value").alias("max_value"), F.count("*").alias("df")
        )
        row = doc_stats.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        sealed = SparseInvertedIndex(
            postings, doc_stats, term_stats, self.sealed.config,
            n_docs=int(row["n"]), avgdl=float(row["avgdl"]),
        )
        return GrowingSparseIndex(sealed, self.growing_path + "_next")
