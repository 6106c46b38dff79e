"""Deduplication operators for large-scale training-data pipelines.

Five dedup modes over the ``documents`` table (and one over embeddings):

- :func:`exact_duplicates` — hash-groupBy on normalized text; one shuffle.
- :func:`ngram_jaccard_pairs` — exact pairwise Jaccard over word-shingle
  sets.  O(n²) — the correctness oracle for the approximate modes; at
  scale use MinHash-LSH below.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — shingle →
  64-perm MinHash → banded LSH bucketing → candidate pairs verified by
  exact Jaccard.  The scale path: candidate generation is a groupBy on
  (band, band-hash), never all-pairs.
- :func:`simhash_signatures` / :func:`simhash_pairs` — 64-bit SimHash,
  near-dup = Hamming distance ≤ t, candidates via 4×16-bit band exact-match.
- :func:`embedding_neardup_pairs` — cosine ≥ threshold over an embedding
  column (semantic near-dup).

Determinism: all hashing is md5-based (engine-portable); the MinHash
permutations are fixed odd multipliers derived from a seeded generator, so
signatures are stable across runs/engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from knowhere_spark.functions.text import shingles_expr, tokens_expr
from knowhere_spark.session import ensure_parallelism

# universal-hash domain sized so a*h+b stays inside int64:
# shingle hashes are 28-bit (7 md5 hex chars), a/b < 2^31-1, so the
# product is < 2^59 — vectorized numpy int64, no object-dtype bigints
_MERSENNE = (1 << 31) - 1


def _perm_constants(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64) | 1
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _minhash_sig(
    a_: np.ndarray, b_: np.ndarray, hv: np.ndarray, uniq_counts: np.ndarray
) -> np.ndarray:
    """(n_docs, num_perm) per-doc minima of ``(a*h + b) mod _MERSENNE``.

    Arithmetic identical to the one-shot
    ``np.minimum.reduceat((a[:,None]*h + b[:,None]) % M, starts, axis=1)``
    but computed over doc-aligned column chunks (~8k shingles) into a
    reused buffer: the one-shot form materializes a (num_perm, total)
    int64 matrix (256 MB at 128x250k shingles) and is memory-bound —
    chunking measured 2.4x at that shape (guide §4.2) and degenerates
    to the same single pass for small batches.  ``hv`` must already be
    masked into the universal-hash domain (int64, < 2^28) so
    ``a*h + b`` stays within int64.
    """
    n_perm = len(a_)
    n_docs = len(uniq_counts)
    starts = np.zeros(n_docs, dtype=np.int64)
    starts[1:] = np.cumsum(uniq_counts)[:-1]
    ends = starts + uniq_counts
    sig = np.empty((n_perm, n_docs), dtype=np.int64)
    a_col, b_col = a_[:, None], b_[:, None]
    target = 8192
    buf = None
    d0 = 0
    while d0 < n_docs:
        d1 = min(
            int(np.searchsorted(ends, starts[d0] + target, side="left")) + 1,
            n_docs,
        )
        s0, s1 = int(starts[d0]), int(ends[d1 - 1])
        w = s1 - s0
        if buf is None or buf.shape[1] < w:
            buf = np.empty((n_perm, max(w, target)), dtype=np.int64)
        t = buf[:, :w]
        np.multiply(a_col, hv[None, s0:s1], out=t)
        t += b_col
        t %= _MERSENNE
        sig[:, d0:d1] = np.minimum.reduceat(t, starts[d0:d1] - s0, axis=1)
        d0 = d1
    return sig.T


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", normalized: bool = True
) -> DataFrame:
    """Exact-duplicate groups: ``(doc_id, group_key, group_size, is_canonical)``.

    ``normalized`` hashes the token stream (case/punct-insensitive);
    otherwise raw text.  One hash-groupBy — the cheapest dedup pass and the
    one to run first at 100 TB.
    """
    key = (
        F.md5(F.concat_ws(" ", tokens_expr(F.col(text_col))))
        if normalized
        else F.md5(F.col(text_col))
    )
    keyed = df.select(F.col(id_col).cast("long").alias("doc_id"), key.alias("group_key"))
    from pyspark.sql import Window

    w = Window.partitionBy("group_key")
    return (
        keyed.withColumn("group_size", F.count("*").over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# exact pairwise n-gram jaccard (oracle / small-scale)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """All-pairs Jaccard over distinct word n-gram shingles →
    ``(doc_a, doc_b, jaccard)`` with ``doc_a < doc_b`` and
    ``jaccard >= threshold``.  O(n²) distance joins — correctness baseline;
    the LSH variant is the scale path."""
    sh = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.array_sort(shingles_expr(F.col(text_col), n)).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    with_shingle_hashes: bool = False,
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_perm]) MinHash signatures.

    Permutation mins are computed in a vectorized Arrow kernel:
    ``min((a*h + b) mod M)`` per permutation over the shingle-hash array.

    ``with_shingle_hashes`` additionally emits ``sh ARRAY<BIGINT>`` — the
    60-bit md5 hash of every distinct shingle.  Jaccard over these equals
    exact string-shingle Jaccard (collision prob < 1e-11 per pair at
    ~2k shingles), which lets :func:`minhash_lsh_pairs` verify candidates
    from the same cached pass instead of re-tokenizing the corpus through
    a second kernel + join.
    """
    a, b = _perm_constants(num_perm, seed)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((a, b))

    fields = [StructField("doc_id", LongType()), StructField("sig", ArrayType(LongType()))]
    if with_shingle_hashes:
        fields.append(StructField("sh", ArrayType(LongType())))
    schema = StructType(fields)
    src = ensure_parallelism(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
        )
    )

    def kernel(batches):
        # single pass text → tokens → shingles → signature inside one
        # Arrow batch.  The expensive digest is paid ONCE PER UNIQUE TOKEN
        # in the batch (the vocabulary, thousands), never per shingle
        # (millions): shingle hashes are a vectorized uint64 FNV-style mix
        # of the windowed token hashes.  The shingle hash only needs to be
        # deterministic and injective-enough that hash-Jaccard equals
        # string-Jaccard — the verification/oracle contract — so a
        # non-cryptographic mix is sound (collision prob ~2^-60/pair).
        import hashlib
        import re

        a_, b_ = bc.value
        tok_re = re.compile(r"[^a-z0-9]+")
        mask28 = np.uint64((1 << 28) - 1)
        mask60 = np.uint64((1 << 60) - 1)
        FNV_OFFSET = np.uint64(0xCBF29CE484222325)
        FNV_PRIME = np.uint64(0x100000001B3)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            docs_toks = [
                [t for t in tok_re.split((text or "").lower()) if t]
                for text in pdf["text"]
            ]
            lens = np.array([len(t) for t in docs_toks], dtype=np.int64)
            flat_toks = np.array(
                [t for toks in docs_toks for t in toks] or [""], dtype=object
            )
            # digest once per unique token in the batch.  pd.factorize is
            # the hash-based unique: np.unique on an OBJECT array sorts
            # 270k Python strings per sf0.1 batch (~0.39 s measured, the
            # kernel's dominant cost) to produce an ordering the hash
            # never uses — th below depends only on each token's own
            # md5, so any vocab order yields bit-identical signatures.
            inverse, vocab = pd.factorize(flat_toks)
            tok_h = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                    for t in vocab
                ),
                dtype=np.uint64,
                count=len(vocab),
            )
            th = tok_h[inverse]
            # shingles_expr semantics: count = max(len-n, 0) + 1 per doc;
            # the final shingle truncates when the doc has < n tokens, and
            # an empty doc yields one sentinel shingle (the FNV offset),
            # matching the {""} edge of the string path.
            n_sh = np.maximum(lens - shingle_n, 0) + 1
            n_docs = len(lens)
            seg_starts = np.zeros(n_docs, dtype=np.int64)
            seg_starts[1:] = np.cumsum(lens)[:-1]
            doc_of_sh = np.repeat(np.arange(n_docs), n_sh)
            sh_offsets = np.cumsum(n_sh) - n_sh
            idx_in_doc = np.arange(n_sh.sum()) - sh_offsets[doc_of_sh]
            start = seg_starts[doc_of_sh] + idx_in_doc
            seg_end = seg_starts[doc_of_sh] + lens[doc_of_sh]
            h = np.full(n_sh.sum(), FNV_OFFSET, dtype=np.uint64)
            for j in range(shingle_n):
                pos = start + j
                valid = pos < seg_end
                h[valid] = (h[valid] ^ th[pos[valid]]) * FNV_PRIME
            h &= mask60  # positive int64 range for Spark ARRAY<BIGINT>
            # distinct shingles per doc: sort by (doc, hash), drop repeats
            order = np.lexsort((h, doc_of_sh))
            hs, ds = h[order], doc_of_sh[order]
            keep = np.ones(len(hs), dtype=bool)
            keep[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
            hs, ds = hs[keep], ds[keep]
            uniq_counts = np.bincount(ds, minlength=n_docs)
            # universal-hash segment-min per doc, computed in doc-aligned
            # cache-sized chunks (int64-safe: see _MERSENNE sizing note)
            sig = _minhash_sig(
                a_, b_, (hs & mask28).astype(np.int64), uniq_counts
            )
            out = {"doc_id": pdf["doc_id"], "sig": list(sig)}
            if with_shingle_hashes:
                h64 = hs.astype(np.int64)
                out["sh"] = np.split(h64, np.cumsum(uniq_counts)[:-1])
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, schema)


def band_hash_explode_expr(num_perm: int, bands: int, sig_col: str = "sig"):
    """``posexplode``-able array of per-band md5 bucket hashes over a
    MinHash signature column — THE banding expression, shared by batch
    self-dedup, cross-corpus dedup, and the streaming near-dup operator
    (three consumers must hash into identical buckets or candidates
    silently stop matching)."""
    rows_per_band = num_perm // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(sig_col)[i].cast("string")
                        for i in range(
                            bnd * rows_per_band, (bnd + 1) * rows_per_band
                        )
                    ],
                )
            )
            for bnd in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs ``(doc_a, doc_b, jaccard)``.

    Banding: ``num_perm`` rows split into ``bands`` bands of
    ``num_perm/bands`` rows; docs sharing any band bucket become candidates
    (a groupBy, not an all-pairs join).  With 32 bands × 2 rows, a pair at
    Jaccard 0.7 is caught with p ≈ 1 − (1−0.49)³² ≈ 1-1e-9.  Candidates are
    then verified with exact shingle Jaccard (false positives removed; this
    keeps output equal to the exact operator whenever band recall holds).
    """
    assert num_perm % bands == 0
    # cached: the band self-join reads signatures from BOTH sides — without
    # this the signature kernel runs twice.  Shingle hashes ride along so
    # verification is an array-intersect on this same cached table.
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col, num_perm=num_perm,
        shingle_n=shingle_n, seed=seed, with_shingle_hashes=verify,
    ).cache()
    banded = sigs.select(
        "doc_id",
        F.posexplode(band_hash_explode_expr(num_perm, bands)).alias(
            "band", "band_hash"
        ),
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    cand = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return cand
    # exact-verify candidates from the cached signature pass: Jaccard over
    # the 60-bit shingle hashes equals string-shingle Jaccard (collision
    # prob < 1e-11/pair), with no second tokenization kernel and no join
    # back to the raw corpus
    sh = sigs.select("doc_id", "sh")
    pairs = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(doc_id, simhash BIGINT): tf-weighted sign aggregation of token
    hash bits — vectorized Arrow kernel."""
    toks = ensure_parallelism(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens_expr(F.col(text_col)).alias("toks"),
        )
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("simhash", LongType())]
    )

    def kernel(batches):
        # md5 once per unique token in the batch (the vocabulary), then
        # fully vectorized tf-weighted ±1 bit aggregation: contributions
        # per flat token occurrence, segment-summed per doc via reduceat.
        import hashlib

        shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tok_lists = [list(t) for t in pdf["toks"]]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            flat = np.array(
                [t for toks in tok_lists for t in toks] or [""], dtype=object
            )
            # hash-based unique (see minhash_signatures): vocab order is
            # free — pm rows key on each token's own md5 only
            inverse, vocab = pd.factorize(flat)
            tok_h = np.fromiter(
                (
                    int(hashlib.md5(str(t).encode()).hexdigest()[:16], 16)
                    for t in vocab
                ),
                dtype=np.uint64,
                count=len(vocab),
            )
            # (vocab, bits) ±1 matrix; per-occurrence contributions summed
            # per doc segment (tf weighting = occurrence repetition)
            pm = (
                ((tok_h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
                * 2 - 1
            )
            # pad one zero row so a trailing empty doc's start index stays a
            # valid reduceat boundary — clipping it instead would shift the
            # PREVIOUS doc's segment end and corrupt its signature
            contrib = np.vstack(
                [pm[inverse], np.zeros((1, bits), dtype=np.int64)]
            )
            n_docs = len(lens)
            starts = np.zeros(n_docs, dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            acc = np.add.reduceat(contrib, starts, axis=0)
            acc[lens == 0] = 0   # empty docs: reduceat grabs a neighbor's row
            sig = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": sig.astype(np.int64)}
            )

    return toks.mapInPandas(kernel, schema)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidates via 4×16-bit band exact match (any pair within Hamming 3 of
    64 bits shares at least one exact 16-bit band — pigeonhole), then the
    true Hamming distance filters."""
    sigs = simhash_signatures(df, id_col=id_col, text_col=text_col)
    return hamming64_pairs(
        sigs, max_hamming, id_col="doc_id", sig_col="simhash",
        out_a="doc_a", out_b="doc_b",
    )


def hamming64_band_exprs(sig_col: str, max_hamming: int) -> list:
    """Pigeonhole band columns for a 64-bit signature: ``max_hamming +
    1`` near-equal-width bit slices — a pair within the Hamming bound
    must agree exactly on at least one band.  Shared by the batch
    banded join (:func:`hamming64_pairs`) and the streaming image
    near-dup operator (streaming/dedup.stream_neardup_images)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming={max_hamming} must be in [0, 63]")
    n_bands = max_hamming + 1
    base, rem = divmod(64, n_bands)
    bands, off = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        if width == 64:   # max_hamming=0: one band = the whole signature
            # ((1<<64)-1 overflows a Spark long literal — no mask needed)
            bands.append(F.col(sig_col))
        else:
            mask = (1 << width) - 1
            bands.append(
                F.shiftrightunsigned(F.col(sig_col), off).bitwiseAND(F.lit(mask))
            )
        off += width
    return bands


def hamming64_pairs(
    sigs: DataFrame,
    max_hamming: int,
    *,
    id_col: str,
    sig_col: str,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """EXACT near-dup pairs over any 64-bit signature column: all pairs
    with Hamming distance ≤ ``max_hamming``, found via pigeonhole banding
    — split the 64 bits into ``max_hamming + 1`` bands; a pair within
    the bound differs in ≤ max_hamming bands, so at least one band
    matches exactly.  One groupBy-shaped shuffle on (band, band_val),
    never all-pairs — shared by SimHash text near-dup and pHash image
    near-dup.  Returns ``(out_a, out_b, hamming)`` with ``out_a <
    out_b``."""
    bands = hamming64_band_exprs(sig_col, max_hamming)
    banded = sigs.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"),
        F.posexplode(F.array(*bands)).alias("band", "band_val"),
    )
    left = banded.select(
        F.col("__id").alias(out_a), F.col("__sig").alias("sig_a"), "band", "band_val"
    )
    right = banded.select(
        F.col("__id").alias(out_b), F.col("__sig").alias("sig_b"), "band", "band_val"
    )
    cand = (
        left.join(right, ["band", "band_val"])
        .filter(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b, "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(out_a, out_b, ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Semantic near-dup: pairs with cosine ≥ threshold, ``id_a < id_b``.

    Implemented as cosine range-search of the table against itself (the
    engine's RangeSearch operator with the similarity-direction bounds).
    At scale, route through an IVF index to prune the candidate space
    (same plan as ANN search)."""
    from knowhere_spark.config import BaseConfig
    from knowhere_spark.operators.brute_force import BruteForce

    queries = df.select(F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("vec"))
    cfg = BaseConfig(metric_type="COSINE", radius=threshold - 1e-12, range_filter=1.0 + 1e-9)
    hits = BruteForce.range_search(
        df, queries, cfg, id_col=id_col, vec_col=vec_col
    )
    return (
        hits.filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("distance").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_ivf(
    df: DataFrame,
    threshold: float,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    k: int = 20,
    nlist: int = 128,
    nprobe: int = 8,
) -> DataFrame:
    """IVF-routed semantic near-dup — the 100 TB shape for
    corpus-vs-corpus dedup: build a COSINE IVF index over the table and
    search it against itself through the **distributed** path
    (operators/ivf: mapInArrow probe assignment + per-cell cogroup GEMM,
    no driver collect of the query side), then keep cosine >= threshold
    pairs with ``id_a < id_b``.

    Approximate in two ways, both standard: probe pruning (a true near-dup
    whose partner falls outside the probed cells is missed — raise
    ``nprobe`` to trade cost for recall) and the per-query candidate cap
    ``k`` (a row with more than k near-dups reports its k best).  Exact
    verification is free: returned cosines are true cosines, so precision
    is 1.0.  Recall against the exact operator is floor-tested in
    tests/test_dedup.py."""
    from knowhere_spark.config import IvfConfig
    from knowhere_spark.operators.ivf import IVFFlatIndex

    idx = IVFFlatIndex.build(
        df,
        IvfConfig(metric_type="COSINE", nlist=nlist, nprobe=nprobe),
        id_col=id_col,
        vec_col=vec_col,
    )
    idx.assignments.cache()
    queries = df.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("vec")
    )
    hits = idx.search(queries, k=k, nprobe=nprobe, strategy="distributed")
    # canonicalize with least/greatest, NOT a query_id < neighbor_id filter:
    # a pair found only from the higher-id side (the lower-id row's own
    # top-k being full of closer neighbors) would otherwise be dropped
    return (
        hits.filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("distance") >= threshold)
        )
        .select(
            F.least("query_id", "neighbor_id").alias("id_a"),
            F.greatest("query_id", "neighbor_id").alias("id_b"),
            F.col("distance").alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs_cross(
    left_df: DataFrame,
    right_df: DataFrame,
    threshold: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora: ``(left_id, right_id,
    jaccard)`` for every left/right pair with shingle Jaccard >=
    ``threshold`` — fuzzy decontamination (train docs paraphrasing eval
    docs slip past exact n-gram overlap) and multi-source merge dedup.

    Same machinery as :func:`minhash_lsh_pairs` (one signature kernel per
    side with SHARED permutations, banded join instead of all-pairs —
    the same ``band_hash_explode_expr`` buckets — and exact hash-Jaccard
    verification), but the band join is left-vs-right only — no
    self-pairs, ids never compared across corpora.  Neither side is
    force-broadcast: a small eval set broadcasts via AQE, two
    crawl-sized corpora shuffle on (band, band_hash)."""
    assert num_perm % bands == 0

    def _banded(df, out_id):
        sigs = minhash_signatures(
            df, id_col=id_col, text_col=text_col, num_perm=num_perm,
            shingle_n=shingle_n, seed=seed, with_shingle_hashes=verify,
        )
        if verify:
            # two readers (band join + shingle-hash verify) — one kernel
            # pass; without verify the banded frame is the only reader and
            # a cache would pin corpus-sized arrays for nothing
            sigs = sigs.cache()
        banded = sigs.select(
            F.col("doc_id").alias(out_id),
            F.posexplode(band_hash_explode_expr(num_perm, bands)).alias(
                "band", "band_hash"
            ),
        )
        return sigs, banded

    sigs_l, band_l = _banded(left_df, "left_id")
    sigs_r, band_r = _banded(right_df, "right_id")
    cand = (
        band_l.join(band_r, ["band", "band_hash"])
        .select("left_id", "right_id")
        .distinct()
    )
    if not verify:
        return cand
    pairs = cand.join(
        sigs_l.select(F.col("doc_id").alias("left_id"), F.col("sh").alias("sh_a")),
        "left_id",
    ).join(
        sigs_r.select(F.col("doc_id").alias("right_id"), F.col("sh").alias("sh_b")),
        "right_id",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select("left_id", "right_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def filter_against(
    corpus: DataFrame,
    reference: DataFrame,
    threshold: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """``corpus`` minus documents near-duplicating ANY reference document
    (fuzzy decontamination; the exact-n-gram tier is
    operators/decontaminate).  Original schema preserved."""
    hits = minhash_lsh_pairs_cross(
        corpus, reference, threshold, id_col=id_col, text_col=text_col, **kw
    ).select(F.col("left_id").alias("__dirty_id")).distinct()
    return corpus.join(
        hits, F.col(id_col).cast("long") == F.col("__dirty_id"), "left_anti"
    )
