"""Quantized HNSW variants — HNSW_SQ / HNSW_PQ / HNSW_PRQ.

Reference: faiss-HNSW family registrations (src/index/hnsw/faiss_hnsw.cc:
2918-2939) with configs FaissHnswSqConfig / FaissHnswPqConfig /
FaissHnswPrqConfig (src/index/hnsw/faiss_hnsw_config.h:95-230) and the
shared refine contract (faiss_hnsw_config.h:22-93): search runs over a
compressed representation, then the top ``k * refine_k`` candidates are
re-ranked with the refine index (raw/higher-precision vectors).

Spark shape: the proximity graph is the fp32 artifact from
:class:`~knowhere_spark.operators.hnsw.HNSWIndex` (building the graph on
exact distances is strictly better than on codes, and the build is a batch
job where raw vectors are available anyway).  What quantization changes at
scale is the *beam scoring* I/O: every hop scores ``|frontier| × M``
candidates, so scoring against codes (dim bytes for SQ8, ``m`` bytes for
PQ vs ``4·dim``) cuts the broadcast / shuffled bytes 4-16x.  Only the
storage and the scorer are this module's: the broadcast search is the
shared beam kernel (``hnsw.beam_search``) over a codes payload scored by
:func:`_quant_scorer`, and the bfs path is ``HNSWIndex.search(score_fn=
...)`` scoring a codes table per hop.  Refine is the generic exact
re-rank operator (operators/refine.py), the same SCANN uses.

Quantizers:

- ``SQ`` (sq_type sq6/sq8): global per-dim min/max affine code,
  ``levels = 2^bits - 1`` (reuses the IVF_SQ8 min/max pass).
  fp16/bf16 sq_types store rounded half-precision floats (the reference's
  reduced-precision storage; compute stays fp32, operands.h:180-198).
- ``PQ`` (m, nbits): per-subspace codebooks fit on a driver-side sample
  with the same numpy Lloyd as IVF_PQ; codes = nearest entry per subspace.
- ``PRQ`` (m, nrq, nbits): ``nrq`` product-quantization stages over
  successive residuals; decode sums the stage reconstructions.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from knowhere_spark.config import (
    HnswConfig,
    HnswPqConfig,
    HnswPrqConfig,
    HnswSqConfig,
    IndexType,
    MetricType,
)
from knowhere_spark.operators.hnsw import (
    _BROADCAST_MAX_BYTES,
    HNSWIndex,
    _collect_edge_ids,
    _collect_id_matrix,
    _keys_vs_query,
    _one_shard,
    beam_search,
    graph_payload,
)
from knowhere_spark.operators.refine import refine as exact_refine
from knowhere_spark.sources.index_store import IndexStore
from knowhere_spark.tracing import OpMetrics, op_description

_TRAIN_SAMPLE_MAX = 100_000


def _half_round(X: np.ndarray, kind: str) -> np.ndarray:
    """Round fp64 → fp16/bf16 storage precision (compute stays fp64)."""
    if kind == "fp16":
        return X.astype(np.float16).astype(np.float64)
    # bf16: fp32 with the mantissa truncated to 7 bits
    as32 = X.astype(np.float32)
    u = as32.view(np.uint32) & np.uint32(0xFFFF0000)
    return u.view(np.float32).astype(np.float64)


def _row_distances(X: np.ndarray, Q: np.ndarray, metric: MetricType) -> np.ndarray:
    """Row-wise distance between X[i] and Q[i] (same-length batches)."""
    if metric == MetricType.L2:
        d = X - Q
        return np.einsum("ij,ij->i", d, d)
    dot = np.einsum("ij,ij->i", X, Q)
    if metric == MetricType.IP:
        return dot
    nx = np.linalg.norm(X, axis=1)
    nq = np.linalg.norm(Q, axis=1)
    denom = nx * nq
    denom[denom == 0] = 1.0
    return dot / denom


def _make_quant(base: DataFrame, config: HnswConfig, index_type: IndexType) -> dict:
    """Train the quantizer state (the Train half of Build) from the base
    table: fp16/bf16 rounding, per-dim SQ6/SQ8 affine scale, or nrq
    residual PQ codebook stages (faiss_hnsw_config.h:95-205 families)."""
    if index_type == IndexType.HNSW_SQ:
        assert isinstance(config, HnswSqConfig)
        sq_type = config.sq_type.lower()
        if sq_type in ("fp16", "bf16"):
            return {"mode": "half", "kind": sq_type}
        from knowhere_spark.operators.sq import array_minmax

        dim = len(base.select("vec").first()["vec"])
        lo, hi = array_minmax(base, "vec", dim)
        diff = hi - lo
        diff[diff == 0] = 1.0
        levels = 255 if sq_type == "sq8" else 63
        return {"mode": "sq", "lo": lo, "diff": diff, "levels": levels}
    if index_type in (IndexType.HNSW_PQ, IndexType.HNSW_PRQ):
        assert isinstance(config, HnswPqConfig)
        from knowhere_spark.operators.pq import fit_codebooks
        from knowhere_spark.session import train_sample

        dim = len(base.select("vec").first()["vec"])
        m = config.m
        if dim % m != 0:
            from knowhere_spark.config import ConfigError

            raise ConfigError(
                f"The dimension of the vector (dim) should be a multiple of the "
                f"number of subquantizers (m). Dimension: {dim}, m: {m}"
            )
        nrq = config.nrq if isinstance(config, HnswPrqConfig) else 1
        ksub = 1 << config.nbits
        subdim = dim // m

        n = base.count()
        seed = getattr(config, "seed", 42)
        # the codebook Lloyd init is position-dependent: the shared sample
        # rule pins membership and row order to the data
        S = train_sample(base, n, _TRAIN_SAMPLE_MAX, seed=seed)
        stages = []
        R = S.copy()
        for r in range(nrq):
            cb = fit_codebooks(R, m, subdim, ksub, seed + 97 * r)
            stages.append(cb)
            for j in range(m):
                sub = R[:, j * subdim : (j + 1) * subdim]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * sub @ cb[j].T
                    + (cb[j] * cb[j]).sum(axis=1)[None, :]
                )
                R[:, j * subdim : (j + 1) * subdim] = sub - cb[j][d.argmin(axis=1)]
        return {"mode": "pq", "stages": stages, "m": m, "subdim": subdim}
    raise ValueError(f"not a quantized HNSW type: {index_type}")


def _code_dtype(quant: dict):
    """Storage dtype of one code: fp32 for half-precision rounding, int16
    for SQ and PQ — int32 once a PQ codebook passes 32767 entries (nbits
    can reach 24, the reference range; an int16 code would wrap)."""
    if quant["mode"] == "half":
        return np.float32
    if quant["mode"] == "pq" and any(
        len(cb[j]) > 32767 for cb in quant["stages"] for j in range(quant["m"])
    ):
        return np.int32
    return np.int16


def _encode_with_quant(df: DataFrame, quant: dict) -> DataFrame:
    """(id, vec) → (id, codes) with FIXED quantizer state — the Add half
    of Build, shared with :meth:`QuantizedHNSWIndex.add` so appended rows
    encode exactly like the original corpus.  One Arrow kernel; ``id``
    passes through as an Arrow buffer."""
    from knowhere_spark.session import ensure_parallelism

    bc = df.sparkSession.sparkContext.broadcast(quant)
    code_np = _code_dtype(quant)
    code_sql = {np.float32: FloatType(), np.int16: ShortType(), np.int32: IntegerType()}

    def encode(batches):
        import pyarrow as pa

        from knowhere_spark.functions.arrowio import list_matrix, matrix_to_list_array

        q = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec", np.float64)
            if q["mode"] == "half":
                codes = _half_round(X, q["kind"]).astype(np.float32)
            elif q["mode"] == "sq":
                lv = q["levels"]
                codes = np.clip(
                    np.round((X - q["lo"]) / q["diff"] * lv), 0, lv
                ).astype(np.int16)
            else:  # pq / prq: nrq residual stages
                mm, sd = q["m"], q["subdim"]
                R = X.copy()
                codes = np.empty((len(X), len(q["stages"]) * mm), dtype=code_np)
                for r, cb in enumerate(q["stages"]):
                    for j in range(mm):
                        sub = R[:, j * sd : (j + 1) * sd]
                        d = (
                            (sub * sub).sum(axis=1)[:, None]
                            - 2.0 * sub @ cb[j].T
                            + (cb[j] * cb[j]).sum(axis=1)[None, :]
                        )
                        idx = d.argmin(axis=1)
                        codes[:, r * mm + j] = idx
                        R[:, j * sd : (j + 1) * sd] = sub - cb[j][idx]
            yield pa.record_batch(
                [
                    tbl.column("id").combine_chunks().cast(pa.int64()),
                    matrix_to_list_array(codes, pa.from_numpy_dtype(code_np)),
                ],
                names=["id", "codes"],
            )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("codes", ArrayType(code_sql[code_np])),
        ]
    )
    return ensure_parallelism(df).mapInArrow(encode, schema)


def _quant_scorer(extra, qvec):
    """Beam scorer over quantized codes: decode the adjacency list with
    the frozen quantizer state, score against the raw query
    (extra = (codes_matrix, quant_state, metric_value, decoded_norms))."""
    C_, quant_, mv, xnorm_ = extra
    mt = MetricType(mv)
    q = np.asarray(qvec, dtype=np.float64)

    def score(pos):
        X = QuantizedHNSWIndex._decode(C_[pos], quant_)
        return _keys_vs_query(
            X, q, mt, xnorm_[pos] if xnorm_ is not None else None
        )

    return score


class QuantizedHNSWIndex:
    """HNSW graph + codes table; beam scores codes, refine re-ranks raw."""

    def __init__(
        self,
        graph: HNSWIndex,
        codes: DataFrame,                 # (id, codes)
        quant: dict,                      # driver-side decode params
        config: HnswConfig,
        index_type: IndexType,
    ):
        self.graph = graph
        self.codes = codes
        self.quant = quant
        self.config = config
        self.index_type = index_type
        self._bc_codes = None   # see _codes_bc
        self._codes_ids = None   # see _codes_bc
        self._codes_resident = False   # see _bfs_scorer

    # -- introspection (index_node.h:411-434) ---------------------------------
    def count(self) -> int:
        return self.graph.count()

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # HasRawData rules (flat.cc:257-285 family): quantized storage only
        # serves raw data when refine holds a full-precision table
        return bool(self.config.refine) and (self.config.refine_type or "fp32").lower() in (
            "fp32",
            "flat",
        )

    # -- Build (Train codebooks + Add codes, index_node.h:70-74) --------------
    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: HnswConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        index_type: IndexType = IndexType.HNSW_SQ,
    ) -> "QuantizedHNSWIndex":
        t0 = time.monotonic()
        graph = HNSWIndex.build(base_df, config, id_col=id_col, vec_col=vec_col)
        idx = cls.from_graph(graph, config, index_type=index_type)
        # the graph's build span, re-labelled for this index type
        m = OpMetrics(
            graph.last_metrics,
            op=f"{index_type.value}.build",
            stages={"build_plan_sec": round(time.monotonic() - t0, 6)},
        )
        m["description"] = op_description(
            graph.vectors.sparkSession.sparkContext, m["op"], n=m["n"], M=config.M
        )
        idx.last_metrics = m
        return idx

    @classmethod
    def from_graph(
        cls,
        graph: HNSWIndex,
        config: HnswConfig,
        *,
        index_type: IndexType = IndexType.HNSW_SQ,
    ) -> "QuantizedHNSWIndex":
        """Quantized variant over an EXISTING fp32 graph artifact: the
        proximity graph is quantizer-independent (built on exact
        distances), so SQ/PQ/PRQ variants of one corpus share it — only
        Train(quantizer) + encode run per variant.  This is the batch
        analog of the reference building one faiss-HNSW graph and
        attaching different storage (faiss_hnsw.cc:2918-2939 family)."""
        base = graph.vectors   # (id, vec), already normalized column names
        quant = _make_quant(base, config, index_type)
        codes_df = _encode_with_quant(base, quant)
        return cls(graph, codes_df, quant, config, index_type)

    # -- Add (index_node.h:120-121): graph insert + frozen-quantizer encode ---
    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "QuantizedHNSWIndex":
        """Append rows: the underlying graph takes the batch through
        :meth:`HNSWIndex.add` (bridge-link batch insert) and the new rows
        are encoded with the TRAINED quantizer state — codebooks/scales
        never retrain on Add, so old codes stay byte-identical."""
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        graph2 = self.graph.add(new)
        new_codes = _encode_with_quant(new, self.quant)
        return QuantizedHNSWIndex(
            graph2,
            self.codes.unionByName(new_codes),
            self.quant,
            self.config,
            self.index_type,
        )

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` — only legal when the refine table keeps
        full-precision data (HasRawData rules, flat.cc:257-285)."""
        if not self.has_raw_data():
            raise ValueError(
                f"{self.type()} without fp32 refine does not keep raw data "
                "(HasRawData=false); GetVectorByIds is unsupported"
            )
        return self.graph.get_vector_by_ids(ids_df, id_col=id_col)

    # -- decode (driver-side params, executor-side numpy) ---------------------
    @staticmethod
    def _decode(codes: np.ndarray, quant: dict) -> np.ndarray:
        mode = quant["mode"]
        if mode == "half":
            return codes.astype(np.float64)
        if mode == "sq":
            return quant["lo"] + codes.astype(np.float64) / quant["levels"] * quant["diff"]
        # pq / prq
        stages, m, sd = quant["stages"], quant["m"], quant["subdim"]
        n = len(codes)
        X = np.zeros((n, m * sd), dtype=np.float64)
        for r, cb in enumerate(stages):
            for j in range(m):
                X[:, j * sd : (j + 1) * sd] += cb[j][codes[:, r * m + j].astype(np.int64)]
        return X

    def _artifact_bytes(self) -> int:
        """Broadcast footprint of the *codes* artifact — the quantization
        win at serving time: n×width codes instead of n×dim fp32 raw
        vectors (4-16× smaller), plus int32 CSR adjacency.  Sized from the
        graph's (n, dim, n_edges) (see ``HNSWIndex._graph_size``) — the
        codes table shares the graph's id set, so no Spark job runs on a
        freshly built index."""
        n, dim, n_edges = self.graph._graph_size()
        return n * self._code_bytes(dim) + n_edges * 4 + n * 16

    def _code_bytes(self, dim: int) -> int:
        """Bytes of one row's codes for ``dim``-dimensional vectors."""
        q = self.quant
        width = len(q["stages"]) * q["m"] if q["mode"] == "pq" else dim
        return width * np.dtype(_code_dtype(q)).itemsize

    def _codes_bc(self):
        """Collect + broadcast the codes payload (:func:`graph_payload`
        over the codes, scored by :func:`_quant_scorer`), memoized like
        ``HNSWIndex._graph_bc``: codes + CSR ship once.  The payload's
        sorted id array stays on the index for filtered searches, as in
        ``HNSWIndex._broadcast_graph``."""
        if self._bc_codes is None:
            quant = self.quant
            metric = MetricType(self.config.metric_type)

            def storage(C):
                xnorm = None
                if metric == MetricType.COSINE:
                    # decoded row norms, computed once in 64k-row chunks so
                    # the hot scorer never re-norms an adjacency list and
                    # the transient decode never exceeds one chunk
                    xnorm = np.empty(len(C), dtype=np.float64)
                    for lo in range(0, len(C), 65536):
                        hi = min(lo + 65536, len(C))
                        xnorm[lo:hi] = np.linalg.norm(
                            self._decode(C[lo:hi], quant), axis=1
                        )
                return (C, quant, metric.value, xnorm)

            payload = graph_payload(
                *_collect_id_matrix(self.codes, "id", "codes", _code_dtype(quant)),
                *_collect_edge_ids(self.graph.edges),
                self.graph.entry_ids,
                storage,
            )
            self._codes_ids = payload[0]
            self._bc_codes = self.codes.sparkSession.sparkContext.broadcast(payload)
        return self._bc_codes

    def release(self) -> None:
        """Drop the memoized codes broadcast, the resident bfs codes table
        (see :meth:`_bfs_scorer`) and the graph's own caches (see
        ``HNSWIndex.release``); the next search re-collects."""
        if self._bc_codes is not None:
            self._bc_codes.unpersist()
            self._bc_codes = None
            self._codes_ids = None
        if self._codes_resident:
            self.codes.unpersist()
            self._codes_resident = False
        self.graph.release()

    # -- Search: quantized beam + exact refine --------------------------------
    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        *,
        ef: int | None = None,
        refine_k: float | None = None,
        max_hops: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
        filter_expr=None,
    ) -> DataFrame:
        """Strategies mirror :meth:`HNSWIndex.search`: ``broadcast`` ships
        the codes + CSR adjacency to executors and runs the shared beam
        kernel (``hnsw.beam_search``) with :func:`_quant_scorer`
        (auto-picked when the codes artifact fits
        ``_BROADCAST_MAX_BYTES``); ``bfs`` is the frontier-join table path
        scoring a codes *table* per hop.  ``last_metrics`` carries the
        ``HNSWIndex.search`` schema."""
        k = k if k is not None else self.config.k
        refine_k = refine_k if refine_k is not None else self.config.refine_k
        do_refine = self.config.refine or refine_k > 1.0
        kk = int(math.ceil(k * refine_k)) if do_refine else k
        ef = max(ef if ef is not None else self.config.ef, kk)
        metric = MetricType(self.config.metric_type)
        sc = self.codes.sparkSession.sparkContext

        queries = query_df.select(
            F.col(query_id_col).cast("long").alias("query_id"),
            F.col(query_vec_col).alias("qvec"),
        )

        if strategy not in ("auto", "broadcast", "bfs"):
            raise ValueError(f"unknown search strategy {strategy!r}")
        use_broadcast = strategy == "broadcast" or (
            strategy == "auto" and 0 < self._artifact_bytes() <= _BROADCAST_MAX_BYTES
        )
        m = OpMetrics(
            op=f"{self.index_type.value}.search", k=k, ef=ef,
            strategy="broadcast" if use_broadcast else "bfs",
            nodes_scored=sc.accumulator(0),
        )
        self.last_metrics = m
        if use_broadcast:
            m["description"] = op_description(
                sc, m["op"], k=k, ef=ef, strategy="broadcast"
            )
            bc = self._codes_bc()
            # the codes table shares the graph's id set, so positions in
            # the codes-sorted payload match the raw table's mask positions
            masks = (
                {0: self.graph._filter_mask_bc(filter_expr, self._codes_ids)}
                if filter_expr is not None
                else None
            )
            approx = beam_search(
                _one_shard(queries, "query_id", "qvec"),
                {0: bc},
                _quant_scorer,
                k=kk,
                ef=ef,
                is_sim=metric.is_similarity,
                masks=masks,
                score_acc=m["nodes_scored"],
            )
        else:
            approx = self.graph.search(
                queries,
                kk,
                ef=ef,
                max_hops=max_hops,
                query_id_col="query_id",
                query_vec_col="qvec",
                score_fn=self._bfs_scorer(metric),
                filter_expr=filter_expr,
            )
            m["max_hops"] = max_hops
            m["bfs_frames"] = self.graph.last_metrics["bfs_frames"]
            m["description"] = op_description(sc, m["op"], k=k, ef=ef, strategy="bfs")
        if not do_refine:
            return approx
        # exact re-rank of the widened candidate set (refine contract,
        # faiss_hnsw_config.h:44-48; generic operator shared with SCANN)
        return exact_refine(
            approx.select("query_id", "neighbor_id"),
            self.graph.vectors,
            queries,
            k,
            metric,
            query_vec_col="qvec",
        )

    def _bfs_scorer(self, metric: MetricType):
        """``score_fn`` of the bfs path: one Arrow kernel decodes each
        candidate's codes and scores it against its query.  The codes
        table is persisted (lazily, under the broadcast size gate) on the
        first bfs search — every hop joins it, and an unpersisted one
        re-encodes the corpus per hop; :meth:`release` frees it."""
        from knowhere_spark.operators.ivf import estimated_bytes, persist_gated

        if not self._codes_resident:
            size = self.graph._size
            est = (
                size[0] * (8 + self._code_bytes(size[1]))
                if size is not None
                else estimated_bytes(self.codes)
            )
            self.codes, self._codes_resident = persist_gated(self.codes, est)
        bq = self.codes.sparkSession.sparkContext.broadcast((self.quant, metric.value))
        codes = self.codes

        def kernel(batches):
            import pyarrow as pa

            from knowhere_spark.functions.arrowio import list_matrix

            quant_, mv = bq.value
            mt = MetricType(mv)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                tbl = pa.Table.from_batches([rb])
                X = QuantizedHNSWIndex._decode(
                    list_matrix(tbl, "codes", _code_dtype(quant_)), quant_
                )
                Q = list_matrix(tbl, "qvec", np.float64)
                yield pa.record_batch(
                    [
                        tbl.column("query_id").combine_chunks(),
                        tbl.column("node_id").combine_chunks(),
                        pa.array(_row_distances(X, Q, mt), type=pa.float64()),
                    ],
                    names=["query_id", "node_id", "distance"],
                )

        def quant_score(cand: DataFrame, queries_df: DataFrame) -> DataFrame:
            # query vectors arrive via an in-plan join (Catalyst picks
            # broadcast vs shuffle by size) — the query set is never
            # collected to the driver, so the BFS path survives large nq
            withcodes = (
                cand.join(codes, cand["node_id"] == codes["id"])
                .join(queries_df, "query_id")
                .select("query_id", "node_id", "codes", "qvec")
            )
            return withcodes.mapInArrow(
                kernel, "query_id long, node_id long, distance double"
            )

        return quant_score

    def range_search(
        self,
        query_df: DataFrame,
        config=None,
        *,
        ef: int | None = None,
        filter_expr=None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """``RangeSearch`` over the quantized graph: beam breadth ``ef``
        gathers candidates (exact distances when refine holds raw data,
        quantized otherwise), then the half-open bounds filter
        (range_util.h:22-25), ``range_search_k`` truncation on top."""
        from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key

        cfg = config or self.config
        bounds_ef = ef if ef is not None else max(self.config.ef, 4 * self.config.k)
        out = self.search(
            query_df, k=bounds_ef, ef=bounds_ef, filter_expr=filter_expr,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        ).drop("rank")
        return apply_range_bounds(out, cfg)

    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(self, path: str) -> None:
        store = IndexStore(path)
        q = self.quant
        manifest = {
            "index_type": self.index_type.value,
            "metric_type": self.config.metric_type.value,
            "M": self.config.M,
            "ef": self.config.ef,
            # k and efConstruction must round-trip: load() rebuilds the
            # config, and defaulting k=10 would both reject saved ef<10
            # indexes (ConfigError) and silently reset a non-default k
            "k": self.config.k,
            "efConstruction": self.config.efConstruction,
            "refine": self.config.refine,
            "refine_k": self.config.refine_k,
            "refine_type": self.config.refine_type,
            "entry_ids": self.graph.entry_ids,
            "mode": q["mode"],
        }
        if q["mode"] == "half":
            manifest["kind"] = q["kind"]
        elif q["mode"] == "sq":
            manifest["sq_type"] = getattr(self.config, "sq_type", "SQ8")
            manifest["levels"] = q["levels"]
            manifest["lo"] = [float(x) for x in q["lo"]]
            manifest["diff"] = [float(x) for x in q["diff"]]
        else:
            manifest["m"] = q["m"]
            manifest["subdim"] = q["subdim"]
            manifest["nbits"] = self.config.nbits
            if isinstance(self.config, HnswPrqConfig):
                manifest["nrq"] = self.config.nrq
            spark = self.codes.sparkSession
            rows = [
                (r, j, c, q["stages"][r][j][c].tolist())
                for r in range(len(q["stages"]))
                for j in range(q["m"])
                for c in range(len(q["stages"][r][j]))
            ]
            store.write_table(
                "codebooks",
                spark.createDataFrame(
                    rows, "stage int, sub int, code int, vec array<double>"
                ),
            )
        store.write_manifest(manifest)
        store.write_table("vectors", self.graph.vectors)
        store.write_table("edges", self.graph.edges)
        store.write_table("codes", self.codes)

    @classmethod
    def load(cls, spark, path: str) -> "QuantizedHNSWIndex":
        store = IndexStore(path)
        m = store.read_manifest()
        t = IndexType(m["index_type"])
        common = dict(
            metric_type=MetricType(m["metric_type"]),
            M=int(m["M"]),
            ef=int(m["ef"]),
            refine=bool(m.get("refine", False)),
            refine_k=float(m.get("refine_k", 1.0)),
            refine_type=m.get("refine_type"),
        )
        if "k" in m:
            common["k"] = int(m["k"])
        elif int(m["ef"]) < 10:
            common["k"] = int(m["ef"])   # legacy manifest: keep it loadable
        if "efConstruction" in m:
            common["efConstruction"] = int(m["efConstruction"])
        mode = m["mode"]
        if mode == "half":
            cfg = HnswSqConfig(sq_type=m["kind"], **common)
            quant = {"mode": "half", "kind": m["kind"]}
        elif mode == "sq":
            cfg = HnswSqConfig(sq_type=m.get("sq_type", "SQ8"), **common)
            quant = {
                "mode": "sq",
                "lo": np.array(m["lo"], dtype=np.float64),
                "diff": np.array(m["diff"], dtype=np.float64),
                "levels": int(m["levels"]),
            }
        else:
            mm, subdim = int(m["m"]), int(m["subdim"])
            if "nrq" in m:
                cfg = HnswPrqConfig(m=mm, nbits=int(m["nbits"]), nrq=int(m["nrq"]), **common)
            else:
                cfg = HnswPqConfig(m=mm, nbits=int(m["nbits"]), **common)
            cb_rows = store.read_table(spark, "codebooks").collect()
            n_stages = 1 + max(r["stage"] for r in cb_rows)
            stages = []
            for r in range(n_stages):
                per_sub = []
                for j in range(mm):
                    entries = sorted(
                        ((row["code"], row["vec"]) for row in cb_rows
                         if row["stage"] == r and row["sub"] == j),
                    )
                    per_sub.append(np.array([v for _, v in entries], dtype=np.float64))
                stages.append(np.stack(per_sub))
            quant = {"mode": "pq", "stages": stages, "m": mm, "subdim": subdim}
        graph = HNSWIndex(
            store.read_table(spark, "vectors"),
            store.read_table(spark, "edges"),
            HnswConfig(metric_type=MetricType(m["metric_type"]), M=int(m["M"]), ef=int(m["ef"])),
            [int(e) for e in m["entry_ids"]],
        )
        return cls(graph, store.read_table(spark, "codes"), quant, cfg, t)
