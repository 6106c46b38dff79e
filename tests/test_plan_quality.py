"""Physical-plan quality gates — the 100 TB claims, asserted on .explain:

- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning keeps payload columns out of metadata-only plans,
- probe joins are broadcast (no SortMergeJoin / CartesianProduct on the
  base side),
- a saved cell-partitioned IVF index is partition-pruned at probe time.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from knowhere_spark.config import IvfConfig
from knowhere_spark.operators.ivf import IVFFlatIndex
from knowhere_spark.sources.tables import load_table

from conftest import QUERY_SCHEMA, dense_df, gen_dense

TESTDATA = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    emb = load_table(spark, TESTDATA, "embeddings")
    out = emb.filter(F.col("label") % 5 != 0).select("vec_id")
    plan = _plan(out)
    assert "PushedFilters: [" in plan
    assert "label" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning_metadata_only(spark):
    # metadata-only query over a payload-carrying table must not read text
    docs = load_table(spark, TESTDATA, "documents")
    out = docs.select("doc_id").filter(F.col("doc_id") < 10)
    read_schema = _plan(out).split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_brute_force_sql_path_broadcasts_queries(spark):
    from knowhere_spark.operators.brute_force import BruteForce

    emb = load_table(spark, TESTDATA, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    qs = dense_df(spark, gen_dense(3, 64, seed=71), QUERY_SCHEMA)
    out = BruteForce.search(emb, qs, 5, "L2", strategy="sql")
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_probe_plan_shape(spark):
    base = dense_df(spark, gen_dense(400, 16, seed=72))
    qs = dense_df(spark, gen_dense(3, 16, seed=73), QUERY_SCHEMA)
    idx = IVFFlatIndex.build(base, IvfConfig(metric_type="L2", nlist=8, nprobe=4))
    out = idx.search(qs, k=5)
    plan = _plan(out)
    # partial-topk GEMM kernel over probed cells: one Arrow map scan,
    # no join of the base side at all (queries ride a broadcast variable)
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_topk_per_key_has_window_group_limit(spark):
    """The per-key top-k must shuffle only partial winners: Spark's
    WindowGroupLimit (Partial before the exchange, Final after) is the
    free map-side-combine SURVEY.md §7 called for — assert it fires."""
    from knowhere_spark.operators.topk import topk_per_key

    li = load_table(spark, TESTDATA, "lineitem")
    out = topk_per_key(
        li, "l_orderkey", "l_extendedprice", 3,
        ascending=False, tie_breaker="l_linenumber",
    )
    plan = _plan(out)
    assert plan.count("WindowGroupLimit") >= 2   # Partial + Final


def test_saved_ivf_probe_prunes_partitions(spark, tmp_path):
    base = dense_df(spark, gen_dense(400, 16, seed=74))
    qs = dense_df(spark, gen_dense(2, 16, seed=75), QUERY_SCHEMA)
    idx = IVFFlatIndex.build(base, IvfConfig(metric_type="L2", nlist=8, nprobe=2))
    path = str(tmp_path / "ivf_pruned")
    idx.save(path)
    loaded = IVFFlatIndex.load(spark, path)
    out = loaded.search(qs, k=3)
    plan = _plan(out)
    # the cell_id IN-list must land in PartitionFilters of the file scan,
    # i.e. probing reads only nprobe/nlist of the index bytes
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1][:300]
    assert "cell_id" in pf

def test_saved_sparse_postings_prune_term_buckets(spark, tmp_path):
    """A loaded term-bucketed sparse index must scan only the query terms'
    buckets (partition pruning = the on-disk inverted-list seek)."""
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    from conftest import gen_sparse

    rows = gen_sparse(200, 400, 0.9, seed=76)
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "id long, vec map<int,float>"
    )
    qdf = spark.createDataFrame(
        [(0, rows[0])], "query_id long, vec map<int,float>"
    )
    idx = SparseInvertedIndex.build(df, SparseConfig(metric_type="IP"))
    path = str(tmp_path / "sparse_bucketed")
    idx.save(path, n_term_buckets=16)
    loaded = SparseInvertedIndex.load(spark, path)
    out = loaded.search(qdf, k=5)
    plan = _plan(out)
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1][:300]
    assert "term_bucket" in pf
    # and results still match the in-memory index
    a = sorted((r["query_id"], r["doc_id"], round(r["score"], 6)) for r in out.collect())
    b = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 6))
        for r in idx.search(qdf, k=5).collect()
    )
    assert a == b


def test_distributed_search_plan_shape(spark):
    """The corpus-vs-corpus cogroup plan: probe assignment and scoring are
    Arrow cogroups keyed by cell_id — no CartesianProduct, no broadcast of
    the (large) query side, and the unprobed-cell prune is present as a
    semi join."""
    base = dense_df(spark, gen_dense(300, 8, seed=75))
    qs = dense_df(spark, gen_dense(50, 8, seed=76), QUERY_SCHEMA)
    idx = IVFFlatIndex.build(base, IvfConfig(metric_type="L2", nlist=8, nprobe=2))
    out = idx.search(qs, k=5, strategy="distributed")
    plan = _plan(out)
    assert "FlatMapCoGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan          # unprobed-cell prune
    # the query side reaches the cogroup via a shuffle on cell_id, never a
    # driver-side local relation of collected rows
    assert "hashpartitioning(cell_id" in plan


def test_bf_distributed_plan_shape(spark):
    from knowhere_spark.operators.brute_force import BruteForce

    base = dense_df(spark, gen_dense(200, 8, seed=77))
    qs = dense_df(spark, gen_dense(40, 8, seed=78), QUERY_SCHEMA)
    out = BruteForce.search_distributed(base, qs, 5, "L2", n_blocks=4)
    plan = _plan(out)
    assert "FlatMapCoGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(block_id" in plan


def test_decontaminate_broadcasts_benchmark(spark):
    # the eval-set gram side must broadcast STATICALLY (explicit hint —
    # it is bounded by the benchmark, never the corpus): the corpus never
    # shuffles on gram
    from knowhere_spark.operators.decontaminate import contamination_report

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = contamination_report(docs, bench, n=5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_decontaminate_no_corpus_shuffle(spark):
    # end-to-end: the hit/dirty sides carry NO forced broadcast hint (they
    # are sized by contamination, so forcing would OOM on a dirty corpus);
    # instead AQE must convert them to broadcast at runtime when they are
    # actually small — assert the FINAL adaptive plan has no SortMergeJoin
    from knowhere_spark.operators.decontaminate import decontaminate

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = decontaminate(docs, bench, n=5)
    # parquet size stats are enough for Catalyst to pick broadcast joins
    # statically here; at scale AQE re-decides per actual runtime sizes
    plan = _plan(out)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantized_family_search_plans_never_broadcast_corpus(spark):
    """SQ8/PQ/SCANN driver-path searches never broadcast the corpus through
    a SQL join and never run a cartesian product.  The one exception is
    the gated cell payload of a resident index (codes only, under
    ``_BROADCAST_MAX_BYTES``), as HNSW broadcasts its graph; the plans
    below run no join of the corpus at all, and SCANN's refine join takes
    AQE's broadcast of the small candidate side."""
    from knowhere_spark.config import IvfPqConfig, IvfSq8Config, ScannConfig
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.refine import ScannIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    base = dense_df(spark, gen_dense(600, 16, seed=91))
    qs = dense_df(spark, gen_dense(5, 16, seed=92), QUERY_SCHEMA)
    cases = [
        IVFSq8Index.build(base, IvfSq8Config(metric_type="L2", nlist=8, nprobe=4, k=5)),
        IVFPqIndex.build(base, IvfPqConfig(metric_type="L2", nlist=8, nprobe=4, m=8, k=5)),
        ScannIndex.build(
            base,
            ScannConfig(metric_type="L2", nlist=8, nprobe=4, k=5, reorder_k=20),
        ),
    ]
    for idx in cases:
        out = idx.search(qs, k=5)
        out.collect()  # run THIS plan so AQE finalizes its join choices
        plan = _plan(out)
        # AdaptiveSparkPlan prints "== Final Plan ==" then "== Initial
        # Plan ==" — judge only what actually executed
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, type(idx).__name__
        # SCANN's candidate-vs-raw refine join carries no forced hint (the
        # survivor set can be corpus-scale at distributed nq), so the
        # broadcast decision is AQE's — the FINAL plan must have converted
        # the small candidate side to a broadcast here
        assert "SortMergeJoin" not in final, type(idx).__name__


def test_lm_score_plan_is_native_with_aqe_bigram_join(spark):
    """The perplexity scorer must keep the corpus un-broadcast: only the
    vocab-sized unigram projections carry forced broadcast hints; the
    bigram join is AQE's call (forced broadcast would collect a
    training-corpus-sized table)."""
    from knowhere_spark.operators.quality import NgramLM

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    lm = NgramLM.train(docs)
    plan = _plan(lm.score(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    lm.release()


def test_chunk_documents_zero_shuffle(spark):
    """Passage chunking is one projection + generate — scan-speed at
    100 TB, not a shuffle."""
    from knowhere_spark.operators.pipeline import chunk_documents

    docs = load_table(spark, TESTDATA, "documents")
    plan = _plan(chunk_documents(docs, 64))
    assert "Exchange" not in plan
    assert "Generate" in plan           # the posexplode
    assert "SortMergeJoin" not in plan


def test_semdedup_single_shuffle_no_join(spark):
    """SemDeDup's plan is exactly ONE shuffle (groupBy cluster) feeding
    the blocked-GEMM kernel — no join of the corpus against anything."""
    import numpy as np

    from knowhere_spark.operators.semdedup import semdedup

    emb = load_table(spark, TESTDATA, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = np.eye(4, 64)
    plan = _plan(semdedup(emb, 0.9, centroids=cents))
    # exactly one KEYED shuffle (the groupBy(cluster_id)); a round-robin
    # Exchange from ensure_parallelism on a single-file test scan is fine
    # (it disappears on a many-partition corpus)
    assert plan.count("hashpartitioning(cluster_id") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInArrow" in plan or "MapInArrow" in plan


def test_cross_dedup_no_forced_broadcast(spark):
    """minhash_lsh_pairs_cross must not force-broadcast either corpus —
    the candidate join has to survive two crawl-sized sides (AQE may
    still choose broadcast for tiny test frames; assert no Broadcast HINT
    in the optimized logical plan instead of the executed one)."""
    from knowhere_spark.operators.dedup import minhash_lsh_pairs_cross

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = minhash_lsh_pairs_cross(a, b, 0.7)
    logical = str(out._jdf.queryExecution().optimizedPlan())
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_perplexity_buckets_plan(spark):
    """Bucket assignment is a broadcast of the tiny threshold table; no
    Window (an ntile would single-task each language)."""
    from knowhere_spark.operators.quality import perplexity_buckets

    s = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(i)) for i in range(100)],
        "doc_id long, lang string, perplexity double",
    )
    plan = _plan(perplexity_buckets(s, by_col="lang"))
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_maxscore_exact_candidate_joins_not_forced_broadcast(spark):
    """r5 exact MaxScore: the seed/essential candidate sets are
    posting-list-sized (can be corpus-scale on a frequent term), so the
    pair joins in both scoring passes must carry NO forced broadcast hint
    — the optimized plan shows ResolvedHint only on the tiny query-terms
    and theta sides, and the final adaptive plan still avoids a cartesian
    product."""
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    idx = SparseInvertedIndex.build_from_text(
        docs, SparseConfig(metric_type="BM25", k=10)
    )
    q = spark.createDataFrame(
        [(0, {"the": 1.0, "and": 0.5, "data": 2.0})],
        "query_id long, vec map<string,float>",
    )
    out = idx.search_maxscore_exact(q, k=10)
    opt = _optimized(out)
    # hints present (qterms/theta/term-bounds are tiny and forced) but the
    # candidate pair joins must not be among them: every hinted subtree
    # must be query-shaped, never a postings scan.  Cheap proxy: the
    # number of forced hints is bounded by the small-side joins (<= 6),
    # not one per candidate join as well (which would add 4 more).
    assert opt.count("ResolvedHint") <= 6, opt.count("ResolvedHint")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # and the result is non-degenerate (theta pruning ran end-to-end)
    assert out.count() > 0


def test_text_embedding_hashed_plan_native(spark):
    """r5 embedder: fully JVM-side — no BatchEvalPython/ArrowEvalPython
    (UDF) nodes, no cartesian product; the IDF join is the only join and
    carries no forced broadcast (vocab-sized, AQE's call)."""
    from knowhere_spark.functions.embed import text_embedding_hashed

    docs = load_table(spark, TESTDATA, "documents").select("doc_id", "text")
    out = text_embedding_hashed(docs, dim=32)
    plan = _plan(out)
    assert "EvalPython" not in plan          # no Python UDFs anywhere
    assert "CartesianProduct" not in plan
    opt = _optimized(out)
    assert "ResolvedHint" not in opt          # nothing force-broadcast


def test_video_neardup_signature_stage_runs_once(spark):
    """The video near-dup self-join fans the signature table into up to
    8 plan references; without the eager localCheckpoints the
    container-parse + pHash mapInPandas stage re-executes per reference
    (regression guard: the un-checkpointed plan had 16 MapInPandas
    nodes and 0 ReusedExchange).  The checkpointed plan must contain
    ZERO MapInPandas nodes — the decode ran exactly once, eagerly."""
    import numpy as np

    from knowhere_spark.functions.mp4 import encode_mp4
    from knowhere_spark.operators.multimodal import video_neardup_pairs

    rng = np.random.default_rng(17)
    rows = [
        (i, "video",
         bytearray(encode_mp4([rng.bytes(12) for _ in range(3)])),
         {"width": 4, "height": 4, "n_frames": 3, "sample_rate": 0})
        for i in range(12)
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,n_frames:int,sample_rate:int>",
    )
    plan = _plan(video_neardup_pairs(media, min_overlap=0.5))
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "CartesianProduct" not in plan


def test_phash_neardup_signature_stage_runs_once(spark):
    """Same regression for the IMAGE near-dup: the banded Hamming join
    fans the pHash table into several references; un-checkpointed, the
    decode+DCT mapInPandas kernel appeared 4x in the executed plan.
    Checkpointed, it must appear ZERO times (ran exactly once, eagerly)
    and the join must stay banded (no cartesian product)."""
    import numpy as np

    from knowhere_spark.operators.multimodal import phash_neardup_pairs

    rng = np.random.default_rng(18)
    rows = [
        (i, "image",
         bytearray(b"P5\n8 8\n255\n" + rng.bytes(64)),
         {"width": 8, "height": 8, "n_frames": 1, "sample_rate": 0})
        for i in range(12)
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary, "
        "meta struct<width:int,height:int,n_frames:int,sample_rate:int>",
    )
    plan = _plan(phash_neardup_pairs(media, max_hamming=3))
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "CartesianProduct" not in plan


def test_audio_banded_neardup_kernels_run_once(spark):
    """Same regression for the r10 AUDIO banded default: the decode+FFT
    feature kernel AND the SRP hash kernel each feed multiple plan
    references (banded join sides + verify joins); both are eagerly
    checkpointed, so the executed plan must contain ZERO MapInPandas
    nodes and no cartesian product — each Python kernel ran exactly
    once."""
    from knowhere_spark.operators.multimodal import (
        audio_neardup_pairs,
        synthesize_audio_media,
    )
    from pyspark.sql import functions as F

    docs = spark.range(24).select(F.col("id").alias("doc_id"))
    media = synthesize_audio_media(docs, dup_stride=4)
    plan = _plan(audio_neardup_pairs(media, 0.99))
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "CartesianProduct" not in plan


def _outside_cache(plan: str) -> str:
    """The plan text minus every InMemoryRelation subtree: what a search
    runs, not the one-time plan that filled the cache."""
    import re

    kept, skip_below = [], None
    for line in plan.splitlines():
        depth = re.match(r"[\s:|+\-]*", line).end()
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def _parquet_base(spark, tmp_path, n=600, dim=16, seed=93):
    """A single-file parquet corpus: it arrives as one split, so the
    build's assignment pass round-robins it (ensure_parallelism)."""
    path = str(tmp_path / "base.parquet")
    dense_df(spark, gen_dense(n, dim, seed=seed)).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _rows(df):
    return sorted((r["query_id"], r["neighbor_id"], r["distance"]) for r in df.collect())


def test_resident_ivf_search_reads_cache(spark, tmp_path):
    """The first driver search of a resident IVF_FLAT / IVF_SQ8 index fills
    the resident cell table as it collects the cell payload; the next
    search reads no cell table and runs no kernel job — the driver scores
    the collected queries and returns a local frame — with identical
    results."""
    from knowhere_spark.config import IvfSq8Config
    from knowhere_spark.operators.sq import IVFSq8Index

    base = _parquet_base(spark, tmp_path)
    qs = dense_df(spark, gen_dense(5, 16, seed=94), QUERY_SCHEMA)
    cfg = dict(metric_type="L2", nlist=8, nprobe=3)
    for idx in (
        IVFFlatIndex.build(base, IvfConfig(**cfg)),
        IVFSq8Index.build(base, IvfSq8Config(**cfg)),
    ):
        assert idx.resident and idx.last_metrics["resident"]
        assert idx.last_metrics["resident_bytes_est"] > 0
        first = idx.search(qs, k=5, strategy="driver")
        want = _rows(first)
        again = idx.search(qs, k=5, strategy="driver")
        got = _rows(again)
        ran = _outside_cache(_plan(again).split("== Initial Plan ==")[0])
        assert "InMemoryTableScan" not in ran, type(idx).__name__
        assert "Exchange" not in ran, type(idx).__name__
        assert "MapInArrow" not in ran, type(idx).__name__
        assert got == want
        idx.release()


def test_size_gate_leaves_oversized_table_lazy(spark, tmp_path, monkeypatch):
    """An estimate above the resident bound leaves the frame un-persisted,
    and the lazy index answers exactly like the resident one."""
    from knowhere_spark.operators import hnsw
    from knowhere_spark.operators.ivf import estimated_bytes, persist_gated

    base = _parquet_base(spark, tmp_path)
    qs = dense_df(spark, gen_dense(5, 16, seed=95), QUERY_SCHEMA)
    cfg = IvfConfig(metric_type="L2", nlist=8, nprobe=3)
    resident = IVFFlatIndex.build(base, cfg)
    want = _rows(resident.search(qs, k=5))
    resident.release()

    # parquet reads carry a size estimate; Python-row frames do not, and
    # an add() batch of unknown size stays lazy
    assert estimated_bytes(base) > 0
    assert estimated_bytes(qs) is None
    frame = base.select("id")
    out, ok = persist_gated(frame, hnsw._BROADCAST_MAX_BYTES + 1)
    assert not ok and out is frame and not frame.is_cached
    assert persist_gated(frame, None) == (frame, False)

    monkeypatch.setattr(hnsw, "_BROADCAST_MAX_BYTES", 1)
    lazy = IVFFlatIndex.build(base, cfg)
    assert not lazy.resident and lazy.resident_bytes_est == 0
    assert not lazy.assignments.is_cached
    out = lazy.search(qs, k=5)
    assert "InMemoryTableScan" not in _plan(out)
    assert _rows(out) == want
