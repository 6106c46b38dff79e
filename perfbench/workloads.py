"""The three workloads.  Each drives the engine only through its public
Python API, checks every op against a numpy reference, and returns the
end-to-end metrics by name.

A workload function takes a :class:`Ctx` and a sizes object; the sizes
the benchmark runs with are the ``*_SIZES`` constants below, and the
self-tests pass tiny ones.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from statistics import median

import numpy as np

from perfbench import data
from perfbench.harness import (
    Corpus,
    check_knn,
    digest_rows,
    exact_topk,
    expected_found,
    group_knn,
    slowest_median,
    timed,
)


@dataclass
class Ctx:
    spark: object
    rng: np.random.Generator
    run: object          # harness.Run
    ledger: object       # ledger.StageLedger or ledger.NullLedger
    seconds: float
    work: str            # per-run scratch directory


def _collect_knn(df):
    t = df.toArrow()
    return (
        t.column("query_id").to_numpy(),
        t.column("neighbor_id").to_numpy(),
        t.column("distance").to_numpy(),
    )


def _query_df(spark, qids: np.ndarray, Q: np.ndarray):
    return spark.createDataFrame(
        [(int(i), q.tolist()) for i, q in zip(qids, Q)],
        "query_id long, vec array<float>",
    )


def _files_under(path: str) -> int:
    return sum(len(f) for _, _, f in os.walk(path))


def _persist_check(ctx: Ctx, index, query_df, reference: dict, tag: str,
                   search) -> float:
    """Save ``index``, load it back, search ``query_df`` on the loaded copy
    and require the same ids and distances as ``reference`` (the
    in-memory index's answer to the same batch).  Returns seconds for
    save + load + that first search."""
    from knowhere_spark.operators.ivf import IVFFlatIndex

    path = os.path.join(ctx.work, f"{tag}_index")
    shutil.rmtree(path, ignore_errors=True)
    with ctx.ledger.call("index_store.save") as extra:
        _, save_ms = timed(lambda: index.save(path))
        ctx.run.record("index_store.save", save_ms)
        extra["files_written"] = _files_under(path)
    with ctx.ledger.call("index_store.load"):
        def load_and_search():
            loaded = IVFFlatIndex.load(ctx.spark, path)
            return group_knn(*_collect_knn(search(loaded, query_df)))

        got, load_ms = timed(load_and_search)
        ctx.run.record("index_store.load", load_ms)
    same = set(got) == set(reference) and all(
        [n for n, _ in got[q]] == [n for n, _ in reference[q]]
        and np.allclose([d for _, d in got[q]], [d for _, d in reference[q]],
                        rtol=1e-9, atol=1e-9)
        for q in reference
    )
    ctx.run.check(same, "persist", "loaded index answers differ from in-memory")
    return (save_ms + load_ms) / 1000.0


# ---------------------------------------------------------------------------
# ann_serve
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ServeSizes:
    n: int = 5_000
    centres: int = 256
    spread: float = 0.8       # centre spread over the unit noise: sets hardness
    twin_frac: float = 0.01
    jitter: float = 0.02
    pool_batches: int = 4
    nq: int = 100
    twins_per_batch: int = 10
    k: int = 10
    nlist: int = 32
    nprobe: int = 4
    hnsw_m: int = 8
    hnsw_efc: int = 64        # efConstruction; the default 360 adds ~2 s to the graph build
    hnsw_ef: int = 48
    seconds_per_cycle: float = 4.0    # timed cycles per run = seconds / this
    min_cycles: int = 3


SERVE_SIZES = ServeSizes()

#: per-family check tolerances: distance rtol and batch recall floor.
#: IVF_FLAT scores in float64, the HNSW beam in float32, SQ8 on decoded codes
_SERVE_RTOL = {"ivf": 1e-6, "sq": 0.05, "hnsw": 1e-4}
_SERVE_MIN_RECALL = {"ivf": 0.5, "sq": 0.5, "hnsw": 0.5}


def ann_serve_inputs(rng: np.random.Generator, s: ServeSizes, work: str) -> dict:
    centres = data.make_centres(rng, s.centres, s.spread)
    X = data.mixture(rng, s.n, centres, 1.0)
    pairs = data.plant_twins(rng, X, s.twin_frac, s.jitter)
    ids = np.arange(s.n, dtype=np.int64)
    pool = []
    for b in range(s.pool_batches):
        src = pairs[rng.choice(len(pairs), s.twins_per_batch, replace=False)]
        Q = np.concatenate(
            [data.mixture(rng, s.nq - len(src), centres, 1.0), X[src[:, 0]]]
        )
        qids = np.arange(b * s.nq, (b + 1) * s.nq, dtype=np.int64)
        twin_of = {int(q): int(t) for q, t in zip(qids[-len(src):], src[:, 1])}
        pool.append({"qids": qids, "Q": Q, "gt": exact_topk(Q, X, ids, s.k),
                     "twin_of": twin_of})
    return {"X": X, "ids": ids, "pool": pool,
            "path": data.write_vectors(os.path.join(work, "serve.parquet"), ids, X)}


def ann_serve(ctx: Ctx, s: ServeSizes, inp: dict) -> dict:
    from knowhere_spark.config import HnswConfig, IvfConfig, IvfSq8Config
    from knowhere_spark.operators.hnsw import HNSWIndex
    from knowhere_spark.operators.ivf import IVFFlatIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    spark, run, led = ctx.spark, ctx.run, ctx.ledger
    corpus = Corpus(inp["ids"], inp["X"])
    base = spark.read.schema(data.VEC_SCHEMA).parquet(inp["path"])
    pool = inp["pool"]
    for p in pool:
        p["df"] = _query_df(spark, p["qids"], p["Q"])
    ivf_cfg = dict(metric_type="L2", nlist=s.nlist, nprobe=s.nprobe)
    # HNSW first: its build and first search take the JVM's and the Python
    # workers' cold start, so the other first searches measure a fresh index
    builders = {
        "hnsw": lambda: HNSWIndex.build(
            base, HnswConfig(metric_type="L2", M=s.hnsw_m, efConstruction=s.hnsw_efc,
                             ef=s.hnsw_ef)
        ),
        "ivf": lambda: IVFFlatIndex.build(base, IvfConfig(**ivf_cfg)),
        "sq": lambda: IVFSq8Index.build(base, IvfSq8Config(**ivf_cfg)),
    }
    searchers = {
        "ivf": lambda ix, q: ix.search(q, k=s.k, nprobe=s.nprobe, strategy="driver"),
        "sq": lambda ix, q: ix.search(q, k=s.k, nprobe=s.nprobe, strategy="driver"),
        "hnsw": lambda ix, q: ix.search(q, k=s.k, ef=s.hnsw_ef, strategy="broadcast"),
    }
    fams = list(builders)
    digests: list[str] = []
    last_ivf: dict[int, dict] = {}

    def serve(fam: str, b: int, index):
        p = pool[b % len(pool)]
        with led.call(f"{fam}.search"):
            cols, ms = timed(lambda: _collect_knn(searchers[fam](index, p["df"])))
        run.record(f"{fam}.search", ms)
        res = group_knn(*cols)
        ok, recall, why = check_knn(
            res, p["qids"], p["Q"], p["gt"], corpus, s.k,
            rtol=_SERVE_RTOL[fam], min_recall=_SERVE_MIN_RECALL[fam],
        )
        run.check(ok, f"{fam}.search", why)
        digests.append(digest_rows(*cols[:2]))
        if fam == "ivf":
            last_ivf[b % len(pool)] = res
        return res, ms, recall, expected_found(res, p["twin_of"])

    # set-up: build each family and search it once; that first search is
    # the family's warm-up call
    indexes, build_ms, fresh_ms = {}, [], []
    for fam in fams:
        with led.call(f"{fam}.build"):
            indexes[fam], ms = timed(builders[fam])
        run.record(f"{fam}.build", ms)
        build_ms.append(ms)
        fresh_ms.append(serve(fam, 0, indexes[fam])[1])

    # timed phase: one closed-loop client, round-robin over the families
    run.start_timed()
    led.phase = "timed"
    lat, recalls = [], []
    by_fam: dict[str, list[float]] = {f: [] for f in fams}
    twins = twin_total = 0
    cycles_n = max(s.min_cycles, math.ceil(ctx.seconds / s.seconds_per_cycle))
    for b in range(len(fams) * cycles_n):
        fam = fams[b % len(fams)]
        _, ms, recall, (found, total) = serve(fam, b, indexes[fam])
        lat.append(ms)
        by_fam[fam].append(ms)
        recalls.append(recall)
        twins += found
        twin_total += total
    run.info["batches"] = len(lat)
    run.mark("timed")
    led.phase = "end"

    # pool batch 0 was the IVF_FLAT index's first search, so it has an answer
    persist_s = _persist_check(
        ctx, indexes["ivf"], pool[0]["df"], last_ivf[0], "serve", searchers["ivf"]
    )
    run.digests.append(digest_rows(digests))

    batch_tail, slowest = slowest_median(by_fam)
    run.info["batch_tail_kind"] = slowest
    return {
        "qps": s.nq * len(lat) / (sum(lat) / 1000.0),
        "batch_p50_ms": median(lat),
        "batch_tail_ms": batch_tail,
        "recall_at_10": float(np.mean(recalls)),
        "build_s": sum(build_ms) / 1000.0,
        "fresh_search_p50_ms": median(fresh_ms),
        "ingest_rows_per_s": len(fams) * s.n / ((sum(build_ms) + sum(fresh_ms)) / 1000.0),
        "persist_s": persist_s,
        "rows_per_s": s.n / (median(build_ms) / 1000.0),
        "dup_recall": twins / twin_total,
    }


# ---------------------------------------------------------------------------
# ingest_curate
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CurateSizes:
    seed_rows: int = 4_000
    shard_rows: int = 1_000
    n_docs: int = 2_000
    seconds_per_round: float = 4.0    # timed ingest rounds per run = seconds / this
    min_rounds: int = 3
    builds: int = 3             # seed builds; build_s is their median
    centres: int = 256
    spread: float = 0.8
    twin_frac: float = 0.02
    shard_twins: int = 20       # rows of each shard that copy an indexed row
    jitter: float = 0.02
    sample: int = 200           # shard queries checked against numpy top-k
    k: int = 10
    nlist: int = 8
    nprobe: int = 2
    semdedup_eps: float = 0.96
    semdedup_clusters: int = 8
    minhash_threshold: float = 0.7
    bm25_queries: int = 100
    warm_rows: int = 300


CURATE_SIZES = CurateSizes()
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_reference(docs: list[list[str]], queries: list[dict], k: int):
    """Exact BM25 top-``k`` scores per query, as the engine defines them
    (query weight × tf·(k1+1)/(tf + k1·(1−b+b·len/avgdl)))."""
    from collections import Counter

    tfs = [Counter(d) for d in docs]
    lens = np.array([len(d) for d in docs], dtype=np.float64)
    avgdl = lens[lens > 0].mean()
    post: dict[str, list[tuple[int, int]]] = {}
    for i, c in enumerate(tfs):
        for t, f in c.items():
            post.setdefault(t, []).append((i, f))
    out = []
    for q in queries:
        sc: dict[int, float] = {}
        for t, w in q.items():
            for i, f in post.get(t, ()):
                sc[i] = sc.get(i, 0.0) + w * (f * (_BM25_K1 + 1.0)) / (
                    f + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * lens[i] / avgdl)
                )
        out.append(sorted(sc.values(), reverse=True)[:k])
    return out


def ingest_curate_inputs(rng: np.random.Generator, s: CurateSizes, work: str) -> dict:
    from collections import Counter

    centres = data.make_centres(rng, s.centres, s.spread)
    X = data.mixture(rng, s.seed_rows, centres, 1.0)
    vpairs = data.plant_twins(rng, X, s.twin_frac, s.jitter)
    ids = np.arange(s.seed_rows, dtype=np.int64)
    docs, dpairs = data.text_corpus(rng, s.n_docs)
    # BM25 queries: idf-weighted terms drawn from the corpus vocabulary
    df_count = Counter(t for d in docs for t in set(d))
    terms = sorted(df_count)
    queries = []
    for _ in range(s.bm25_queries):
        pick = rng.choice(len(terms), 4, replace=False)
        queries.append({
            terms[i]: float(np.log(1.0 + (s.n_docs - df_count[terms[i]] + 0.5)
                                   / (df_count[terms[i]] + 0.5)))
            for i in pick
        })
    return {
        "centres": centres, "X": X, "ids": ids, "vpairs": vpairs,
        "docs": docs, "dpairs": dpairs,
        "queries": queries, "bm25_ref": _bm25_reference(docs, queries, s.k),
        "vec_path": data.write_vectors(os.path.join(work, "seed.parquet"), ids, X),
        "doc_path": data.write_docs(os.path.join(work, "docs.parquet"), docs),
    }


def ingest_curate(ctx: Ctx, s: CurateSizes, inp: dict) -> dict:
    from pyspark.sql import functions as F

    from knowhere_spark.config import IvfConfig, SparseConfig
    from knowhere_spark.operators.dedup import minhash_lsh_pairs
    from knowhere_spark.operators.ivf import IVFFlatIndex
    from knowhere_spark.operators.semdedup import semdedup
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    spark, rng, run, led = ctx.spark, ctx.rng, ctx.run, ctx.ledger
    docs, bm25_ref = inp["docs"], inp["bm25_ref"]
    corpus = Corpus(inp["ids"], inp["X"])
    vec_paths = [inp["vec_path"]]
    docs_df = spark.read.schema(data.DOC_SCHEMA).parquet(inp["doc_path"])
    bm25_q = spark.createDataFrame(
        [(i, q) for i, q in enumerate(inp["queries"])],
        "query_id long, vec map<string,float>",
    )
    vpairs = {(int(a), int(b)) for a, b in inp["vpairs"]}
    dpairs = {(int(min(a, b)), int(max(a, b))) for a, b in inp["dpairs"]}
    sparse_cfg = SparseConfig(metric_type="BM25", inverted_index_algo="TAAT_NAIVE",
                              k=s.k, bm25_k1=_BM25_K1, bm25_b=_BM25_B)
    search = lambda ix, q: ix.search(
        q.select(F.col("id").alias("query_id"), "vec"),
        k=s.k, nprobe=s.nprobe, strategy="distributed",
    )
    digests: list[str] = []
    index = None
    read_vecs = spark.read.schema(data.VEC_SCHEMA).parquet

    def step_add(r: int):
        """Append a new shard; its first rows copy rows already indexed."""
        nonlocal index
        X = data.mixture(rng, s.shard_rows, inp["centres"], 1.0)
        src = rng.choice(len(corpus.ids), s.shard_twins, replace=False)
        X[: s.shard_twins] = corpus.X[src] + np.float32(s.jitter) * rng.standard_normal(
            (s.shard_twins, X.shape[1]), dtype=np.float32
        )
        first = int(corpus.ids.max()) + 1
        new_ids = np.arange(first, first + s.shard_rows, dtype=np.int64)
        path = data.write_vectors(os.path.join(ctx.work, f"shard_{r}.parquet"), new_ids, X)
        shard = read_vecs(path)
        with led.call("ivf.add"):
            index, ms = timed(lambda: index.add(shard))
        run.record("ivf.add", ms)
        corpus.extend(new_ids, X)
        vec_paths.append(path)
        for i, row in enumerate(src):
            vpairs.add((int(corpus.ids[row]), int(new_ids[i])))
        twin_of = {int(new_ids[i]): int(corpus.ids[row]) for i, row in enumerate(src)}
        return new_ids, X, shard, twin_of, ms

    def step_selfsearch(new_ids, X, shard, twin_of):
        """The new shard searched against everything indexed: every row
        must find itself, a sample must match the exact top-k."""
        with led.call("ivf.selfsearch"):
            cols, ms = timed(lambda: _collect_knn(search(index, shard)))
        run.record("ivf.selfsearch", ms)
        res = group_knn(*cols)
        pick = np.sort(rng.choice(len(new_ids), s.sample, replace=False))
        gt = exact_topk(X[pick], corpus.X, corpus.ids, s.k)
        ok, recall, why = check_knn(
            res, new_ids[pick], X[pick], gt, corpus, s.k, rtol=1e-6,
            min_recall=0.5,
        )
        found_self, _ = expected_found(res, {int(i): int(i) for i in new_ids})
        if ok and found_self < len(new_ids):
            ok, why = False, f"{len(new_ids) - found_self} added rows did not find themselves"
        run.check(ok, "ivf.selfsearch", why)
        digests.append(digest_rows(*cols[:2]))
        found, total = expected_found(res, twin_of)
        return res, ms, recall, found, total

    def step_semdedup(frame, n_expected: int | None):
        with led.call("semdedup.run"):
            t, ms = timed(lambda: semdedup(
                frame, s.semdedup_eps, num_clusters=s.semdedup_clusters, seed=11
            ).select("id", "keep").toArrow())
        run.record("semdedup.run", ms)
        if n_expected is None:
            return 0, ms
        rid = t.column("id").to_numpy()
        keep = t.column("keep").to_numpy(zero_copy_only=False)
        dropped = set(rid[~keep].tolist())
        found = sum(1 for a, b in vpairs if a in dropped or b in dropped)
        ok = len(rid) == n_expected and len(set(rid.tolist())) == n_expected
        # every dropped row must have a kept row within eps (spot check)
        probe = np.array(sorted(dropped))[:200]
        if ok and len(probe):
            Xn = corpus.X / np.linalg.norm(corpus.X, axis=1, keepdims=True)
            kept_rows = [corpus.row[int(i)] for i in rid[keep]]
            cos = Xn[[corpus.row[int(i)] for i in probe]] @ Xn[kept_rows].T
            ok = bool(np.all(cos.max(axis=1) > s.semdedup_eps))
        run.check(ok, "semdedup.run", "rows lost, or a row dropped with no kept duplicate")
        digests.append(digest_rows(rid, keep))
        return found, ms

    def step_minhash(frame, check: bool):
        with led.call("dedup.minhash"):
            t, ms = timed(lambda: minhash_lsh_pairs(
                frame, s.minhash_threshold, num_perm=64, bands=32
            ).toArrow())
        run.record("dedup.minhash", ms)
        if not check:
            return 0, ms
        a = t.column("doc_a").to_numpy()
        b = t.column("doc_b").to_numpy()
        jac = t.column("jaccard").to_numpy()
        found = len(set(zip(a.tolist(), b.tolist())) & dpairs)
        ok = True
        for i in range(min(200, len(a))):
            sa = {tuple(docs[a[i]][j:j + 3]) for j in range(len(docs[a[i]]) - 2)}
            sb = {tuple(docs[b[i]][j:j + 3]) for j in range(len(docs[b[i]]) - 2)}
            ref = len(sa & sb) / max(1, len(sa | sb))
            if ref < s.minhash_threshold or abs(ref - jac[i]) > 1e-9:
                ok = False
                break
        run.check(ok, "dedup.minhash", "reported pair fails exact Jaccard")
        digests.append(digest_rows(a, b))
        return found, ms

    def step_sparse(frame, check: bool):
        with led.call("sparse.build"):
            sidx, b_ms = timed(lambda: SparseInvertedIndex.build_from_text(frame, sparse_cfg))
        with led.call("sparse.search"):
            t, q_ms = timed(lambda: sidx.search(bm25_q, k=s.k).toArrow())
        run.record("sparse.build", b_ms)
        run.record("sparse.search", q_ms)
        if check:
            qid = t.column("query_id").to_numpy()
            score = t.column("score").to_numpy()
            ok = all(
                len(ref) == int((qid == i).sum())
                and np.allclose(np.sort(score[qid == i])[::-1], ref, rtol=1e-5)
                for i, ref in enumerate(bm25_ref)
            )
            run.check(ok, "sparse.search", "BM25 top-k scores differ from numpy")
            digests.append(digest_rows(qid, t.column("doc_id").to_numpy()))
        for df in (sidx.postings, sidx.doc_stats):
            df.unpersist()
        return b_ms, q_ms

    # set-up: every curation op once on a slice of the inputs, the seed
    # build, then the first shard and its search, so each op kind has had
    # a warm-up call
    step_semdedup(read_vecs(inp["vec_path"]).filter(F.col("id") < s.warm_rows), None)
    step_minhash(docs_df.filter(F.col("doc_id") < s.warm_rows), check=False)
    step_sparse(docs_df.filter(F.col("doc_id") < s.warm_rows), check=False)
    # the seed is built several times and the last index kept, so build_s
    # is a median rather than one sample
    builds = []
    for _ in range(s.builds):
        with led.call("ivf.build"):
            index, ms = timed(lambda: IVFFlatIndex.build(
                read_vecs(inp["vec_path"]),
                IvfConfig(metric_type="L2", nlist=s.nlist, nprobe=s.nprobe),
            ))
        builds.append(run.record("ivf.build", ms))
    new_ids, X, shard, twin_of, _ = step_add(0)
    res = step_selfsearch(new_ids, X, shard, twin_of)[0]
    # the index saved at the end: seed + first shard.  Saving the index of
    # the last round as well costs ~4 s more per run, all of it re-running
    # the assignment of every appended shard.
    saved = (index, shard, new_ids[:100], res)

    # timed phase: ingest rounds (append a shard, search it), then one
    # curation pass over everything indexed
    run.start_timed()
    led.phase = "timed"
    rounds_n = max(s.min_rounds, int(round(ctx.seconds / s.seconds_per_round)))
    ingest_ms, fresh_ms, recalls = [], [], []
    found = total = 0
    for r in range(1, rounds_n + 1):
        new_ids, X, shard, twin_of, add_ms = step_add(r)
        _, ms, recall, f, t = step_selfsearch(new_ids, X, shard, twin_of)
        fresh_ms.append(ms)
        ingest_ms.append(add_ms + ms)
        recalls.append(recall)
        found += f
        total += t
    f1, dedup_ms = step_semdedup(read_vecs(*vec_paths), len(corpus.ids))
    f2, minhash_ms = step_minhash(docs_df, check=True)
    b_ms, q_ms = step_sparse(docs_df, check=True)
    found += f1 + f2
    total += len(vpairs) + len(dpairs)
    run.info["rounds"] = rounds_n
    run.mark("timed")
    led.phase = "end"

    index0, shard0, qsel, res0 = saved
    reference = {int(q): res0[int(q)] for q in qsel}
    qdf = shard0.filter(F.col("id").isin([int(i) for i in qsel]))
    persist_s = _persist_check(ctx, index0, qdf, reference, "curate", search)
    run.digests.append(digest_rows(digests))
    # one curation step each: the shard search (median over the rounds),
    # semdedup, minhash, sparse build + BM25 batch
    steps = [median(fresh_ms), dedup_ms, minhash_ms, b_ms + q_ms]
    return {
        "qps": (rounds_n * s.shard_rows + s.bm25_queries) / ((sum(fresh_ms) + q_ms) / 1000.0),
        "batch_p50_ms": median(steps),
        "batch_tail_ms": max(steps[1:]),
        "recall_at_10": float(np.mean(recalls)),
        "build_s": median(builds) / 1000.0,
        "fresh_search_p50_ms": median(fresh_ms),
        "ingest_rows_per_s": s.shard_rows / (median(ingest_ms) / 1000.0),
        "persist_s": persist_s,
        "rows_per_s": (len(corpus.ids) + s.n_docs) / (sum(steps) / 1000.0),
        "dup_recall": found / total,
    }


#: name → (input generator, Spark phase, sizes the benchmark runs with)
WORKLOADS = {
    "ann_serve": (ann_serve_inputs, ann_serve, SERVE_SIZES),
    "ingest_curate": (ingest_curate_inputs, ingest_curate, CURATE_SIZES),
}

#: layers each workload calls, ``<module>.<op>`` as traced
LAYERS = {
    "ann_serve": ["ivf.build", "sq.build", "hnsw.build", "ivf.search", "sq.search",
                  "hnsw.search", "index_store.save", "index_store.load"],
    "ingest_curate": ["ivf.build", "ivf.add", "ivf.selfsearch", "semdedup.run",
                      "dedup.minhash", "sparse.build", "sparse.search",
                      "index_store.save", "index_store.load"],
}
