"""Recommended SparkSession configuration for this engine.

One place encoding the scale decisions (SURVEY.md §4 / pyspark guide):
AQE on (runtime re-plan, skew-join splitting), Arrow on (every pandas-UDF
kernel in this engine is Arrow-batched), shuffle partitions sized to the
cluster, generous broadcast threshold (query sets / probe lists / stats
tables are all deliberately-broadcast small sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition *only when* the plan has fewer partitions
    than the cluster has task slots.

    Small parquet files arrive as a single split, which would serialize
    every downstream Arrow kernel onto one core; a 100 TB scan arrives as
    thousands of splits, where this is a no-op (no shuffle added).  Use at
    the entry of per-row Python kernels whose per-row cost dwarfs the
    one-time shuffle of a small input.
    """
    if df.isStreaming:
        # no static partition count to inspect; micro-batch parallelism is
        # the source's concern (maxFilesPerTrigger etc.)
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _vec_matrix(tbl, col: str):
    """The ``col`` column of an Arrow table as one matrix: a fixed-length
    array column as ``(n, dim)`` float64, a fixed-width ``binary`` column
    as ``(n, nbytes)`` uint8 (the packed-bit layout)."""
    import pyarrow as pa

    from knowhere_spark.functions.arrowio import binary_matrix, list_matrix

    if pa.types.is_binary(tbl.schema.field(col).type):
        return binary_matrix(tbl, col)
    return list_matrix(tbl, col)


def collect_vec_matrix(df: DataFrame, col: str = "vec"):
    """Collect a fixed-length array column into one ``(n, dim)`` numpy
    matrix via Arrow, in arrival order (a binary column: see
    :func:`_vec_matrix`).

    Row-based ``collect()`` boxes every float as a Python object (~10×
    the memory of the final matrix) — at the 50-100k-row train-sample
    sizes the index builders use, that transient blow-up matters."""
    return _vec_matrix(df.select(col).toArrow(), col)


def collect_vec_matrix_sorted(df: DataFrame, key: str = "id", col: str = "vec"):
    """Collect ``(key, vec)`` and return the ``(n, dim)`` matrix sorted by
    ``key`` — the driver-side equivalent of ``df.orderBy(key)`` followed
    by :func:`collect_vec_matrix`: a plain ``np.argsort`` over the
    (unique) keys yields the bit-identical matrix without the total
    sort's exchange (guide §2.4: remove shuffles whose only purpose is
    output determinism)."""
    import numpy as np

    from knowhere_spark.functions.arrowio import scalar_column

    tbl = df.select(key, col).toArrow()
    M = _vec_matrix(tbl, col)
    keys = scalar_column(tbl, key, np.int64)
    return M[np.argsort(keys, kind="stable")] if len(keys) else M


def content_keyed_sample(
    df: DataFrame,
    n_rows: int,
    cap: int | None,
    *,
    key_col: str | list[str] = "id",
    seed: int = 42,
) -> DataFrame:
    """Bounded train-time sample whose membership depends only on the KEY
    VALUES: keep rows with ``xxhash64(key, seed) mod 2^20 < cap/n · 2^20``.

    ``key_col`` may list several columns (hashed together) — tables
    without a dedicated id should key on ALL columns, because rows
    sharing one key value are kept or dropped as a bloc (a duplicate-
    heavy corpus keyed on text alone would draw all-or-nothing).

    Spark's ``.sample()`` seeds per PARTITION, so the same data arriving
    in a different partition layout (a shuffled, checkpointed, or
    repartitioned input) draws a DIFFERENT sample — r10 root-caused a
    ±0.05 recall wobble in the sharded-HNSW build to exactly that.

    When the cap does not bind (``n_rows <= cap`` or ``cap is None``) the
    input is returned untouched.  Row order is the consumer's concern:
    the vector trainers read the sample through :func:`train_sample`.

    Expected sample size ≈ ``cap`` (Bernoulli over the hash, matching
    ``.sample()``'s variance profile); trainers only need the bound,
    not exactness.
    """
    from pyspark.sql import functions as F

    import math

    if cap is None or n_rows <= cap:
        return df
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    _SC = 1 << 20
    # ceil, floored at 1: int() truncation would under-draw up to a full
    # 2^-20 of the corpus (~30% at 10^9 rows), and at n > cap·2^20 a
    # floor-to-zero threshold would keep NOTHING and crash the trainer
    # downstream — a tiny over-cap sample is the correct degradation
    threshold = max(1, math.ceil(cap / n_rows * _SC))
    return df.filter(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.lit(seed)), F.lit(_SC))
        < F.lit(threshold)
    )


def train_sample(
    df: DataFrame,
    n: int,
    cap: int | None,
    *,
    seed: int,
    sort_subcap: bool = False,
):
    """The training sample of ``df``'s ``vec`` column (``n`` rows, keyed
    on ``id``) as one matrix — the rule every centroid and codebook fit shares.

    At most ``cap`` rows, drawn by :func:`content_keyed_sample`.  When the
    cap binds, the rows are sorted by id (driver-side argsort), so a
    position-seeded trainer (k-means init) sees the same matrix whatever
    the input's partition layout.  When it does not bind, the rows keep
    their arrival order — existing sub-cap artifacts stay byte-stable —
    unless ``sort_subcap`` asks for the id order there too (the HNSW cell
    sampler and the semantic router, whose contract always was).  A
    ``binary`` column comes back as a uint8 matrix."""
    sample = content_keyed_sample(df, n, cap, seed=seed)
    if sort_subcap or sample is not df:
        return collect_vec_matrix_sorted(sample)
    return collect_vec_matrix(df)


def train_centroids(
    df: DataFrame,
    n: int,
    k: int,
    cap: int,
    dim: int,
    *,
    seed: int,
    iters: int,
    sort_subcap: bool = False,
):
    """``k`` centroids fitted on the capped sample of ``df``'s ``vec``
    column: ``(centroids (k', dim) float64, backend)``.

    The reference trains its quantizer on one node over a sample capped
    at 256 points per centroid (faiss ``max_points_per_centroid``,
    ivf.cc:492-512).  While the sample fits the driver —
    ``min(n, cap) · dim <= IVFFlatIndex._DRIVER_TRAIN_MAX_ELEMS`` — the
    fit is :func:`numpy_kmeans` over :func:`train_sample` (backend
    ``"driver"``).  Beyond that, MLlib KMeans fits the unsorted
    content-keyed sample (``"mllib"``); its kmeans|| init samples per
    partition, so only the driver fit is layout-invariant."""
    import numpy as np

    from knowhere_spark.operators.ivf import IVFFlatIndex

    if min(n, cap) * max(dim, 1) <= IVFFlatIndex._DRIVER_TRAIN_MAX_ELEMS:
        from knowhere_spark.functions.distance import numpy_kmeans

        X = train_sample(df, n, cap, seed=seed, sort_subcap=sort_subcap)
        return numpy_kmeans(X, k, iters=iters, seed=seed), "driver"
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    feats = content_keyed_sample(df, n, cap, seed=seed).select(
        array_to_vector(F.col("vec").cast("array<double>")).alias("__features")
    )
    model = KMeans(k=k, seed=seed, maxIter=iters, featuresCol="__features").fit(feats)
    return (
        np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64),
        "mllib",
    )


_SPILL_ROOT: str | None = None


def session_spill_dir(spark: SparkSession, tag: str = "t") -> str:
    """A fresh scratch directory for materialized intermediate tables —
    partitioned parquet an in-session index writes once and reads back
    partition-pruned (e.g. ShardedHNSW's per-shard vector/edge tables).

    Resolution order: ``spark.knowhere.spill.dir`` (set it to a
    cluster-visible path — HDFS/S3 — on a real deployment, where a
    driver-local tempdir would be unreadable from executors), else a
    process-local tempdir removed at interpreter exit.  Each call returns
    a unique subdirectory, so concurrent builds never collide.
    """
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    global _SPILL_ROOT
    root = None
    try:
        root = spark.conf.get("spark.knowhere.spill.dir", None)
    except Exception:
        root = None
    if not root:
        if _SPILL_ROOT is None:
            _SPILL_ROOT = tempfile.mkdtemp(prefix="knowhere_spark_spill_")
            atexit.register(shutil.rmtree, _SPILL_ROOT, ignore_errors=True)
        root = _SPILL_ROOT
    return os.path.join(root, f"{tag}_{uuid.uuid4().hex[:12]}")


def build_session(
    master: str | None = None,
    *,
    app_name: str = "knowhere-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A SparkSession tuned for this engine's plan shapes.

    ``shuffle_partitions`` should track total executor cores (local runs)
    or 2-3x cores (clusters, letting AQE coalesce); defaults to Spark's
    AQE-managed behavior when unset.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        # runtime re-planning: partition coalescing, skew-join splitting,
        # plan switches at stage boundaries
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # every custom kernel here is an Arrow-batched pandas UDF
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # probe lists / query sets / stats tables are small by contract
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # parquet scans: pushdown + pruning are load-bearing (see
        # tests/test_plan_quality.py)
        "spark.sql.parquet.filterPushdown": "true",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
