"""Real byte-pair encoding over a Spark corpus (Sennrich et al. 2016 —
the standard LLM tokenizer-training algorithm, public literature; the
same greedy-merge procedure HF tokenizers / GPT-2's encoder use).

Spark-first decomposition:

- ``bpe_train``: the corpus collapses to a WORD-FREQUENCY table first
  (one groupBy shuffle — the vocabulary is corpus-bounded, thousands to
  low millions, never corpus-sized), then the classic weighted pair-merge
  loop runs on the driver over that vocabulary.  This is exactly how
  reference trainers work (they train on word counts, not the raw
  stream); the corpus itself is never collected.  The driver-side
  vocabulary is HARD-BOUNDED: ``max_vocab`` (default 1M) keeps only the
  most frequent words via a count-ordered ``limit`` (Spark's
  TakeOrderedAndProject — a per-partition top-k, never a full sort), so
  a 100 TB crawl with 10⁹ distinct "words" (typos, URLs, binary junk)
  costs the driver the same as a curated corpus; the dropped tail is
  exactly what a frequency floor would drop, and production trainers
  (GPT-2/HF) cap vocabulary identically.  ``train_sample_docs``
  additionally caps the counted corpus itself, mirroring the IVF /
  SemDeDup train-on-a-capped-sample contract (operators/ivf.py:127-146).
- ``bpe_encode`` / ``bpe_token_count``: merge ranks broadcast to
  executors; each Arrow batch encodes its UNIQUE words once (the
  per-batch vocabulary, like the MinHash kernel's digest-per-unique-
  token) and scatters the results back to documents.

End-of-word is marked with the suffix ``</w>`` on the last symbol, the
original paper's convention, so "low" as a full word and "low" as a
prefix of "lower" merge independently.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowhere_spark.functions.text import TOKEN_SPLIT_RE

_EOW = "</w>"


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + _EOW,)


def _merge_word(symbols: tuple[str, ...], ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Greedy BPE: repeatedly merge the adjacent pair with the LOWEST
    rank until no mergeable pair remains — the canonical encoder loop."""
    syms = list(symbols)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return tuple(syms)


#: Hard default for the driver-side vocabulary: big enough that no real
#: language's frequent-word table is clipped, small enough that the collect
#: and the O(num_merges × vocab) merge loop are bounded on any corpus.
DEFAULT_MAX_VOCAB = 1_000_000


def bpe_train(
    docs: DataFrame,
    num_merges: int,
    *,
    text_col: str = "text",
    min_word_count: int = 1,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
    train_sample_docs: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from a corpus; returns a merges
    DataFrame ``(rank INT, left STRING, right STRING)`` (rank 0 = first
    merge), suitable for :func:`bpe_encode` and for persisting as the
    tokenizer artifact.

    The distributed part is ONE word-count aggregation (map-side combined
    groupBy) — the classic trainer then iterates over the weighted
    vocabulary on the driver.  ``max_vocab`` bounds that vocabulary to the
    most-frequent words REGARDLESS of corpus cardinality (count-ordered
    ``limit`` → TakeOrderedAndProject, a distributed per-partition top-k;
    ties break lexicographically so the clip is deterministic); pass
    ``max_vocab=None`` only for corpora you know are vocabulary-bounded.
    ``train_sample_docs`` trains on a seeded capped sample of documents
    (the IVF/SemDeDup train contract) — merge quality saturates long
    before the full crawl is counted.  Deterministic: ties between
    equal-count pairs break lexicographically."""
    spark = docs.sparkSession
    if train_sample_docs is not None:
        n = docs.count()
        # content-keyed sample (r11, shared rule): membership keys off
        # ALL column values (doc id + text when present — text alone
        # would draw duplicate-heavy corpora all-or-nothing), so the
        # trained merge list is invariant to input partition layout; the
        # word count downstream is order-free
        from knowhere_spark.session import content_keyed_sample

        docs = content_keyed_sample(
            docs, n, train_sample_docs, key_col=list(docs.columns), seed=seed
        )
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
                    lambda t: t != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") >= min_word_count)
    )
    if max_vocab is not None:
        # keep the count-heavy head; deterministic under count ties.  This
        # is the enforceable scale contract: the driver never materializes
        # more than max_vocab rows no matter how dirty the crawl is.
        words = words.orderBy(F.col("ct").desc(), F.col("w").asc()).limit(max_vocab)
    vocab = {r["w"]: int(r["ct"]) for r in words.collect()}
    seqs: dict[tuple[str, ...], int] = {}
    for w, ct in vocab.items():
        s = _word_symbols(w)
        seqs[s] = seqs.get(s, 0) + ct

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, ct in seqs.items():
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + ct
        if not counts:
            break
        # max count, lexicographic tie-break → deterministic merges
        top = max(counts.values())
        best = min(p for p, c in counts.items() if c == top)
        merges.append(best)
        joined = best[0] + best[1]
        new_seqs: dict[tuple[str, ...], int] = {}
        for s, ct in seqs.items():
            out = []
            i = 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == best[0] and s[i + 1] == best[1]:
                    out.append(joined)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            t = tuple(out)
            new_seqs[t] = new_seqs.get(t, 0) + ct
        seqs = new_seqs

    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank int, left string, right string")


_ENC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bpe_tokens", T.ArrayType(T.StringType())),
        T.StructField("n_bpe_tokens", T.IntegerType()),
    ]
)


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_tokens: bool = True,
) -> DataFrame:
    """Encode documents with a trained merge table:
    ``(doc_id, bpe_tokens, n_bpe_tokens)``.

    Merges are collected once (tokenizer-sized, bounded by num_merges)
    and broadcast; the Arrow kernel encodes each UNIQUE word in the batch
    once and scatters counts/tokens back to documents — encoding cost is
    per-batch-vocabulary, not per-token."""
    rank_rows = merges.select("rank", "left", "right").collect()
    ranks = {(r["left"], r["right"]): int(r["rank"]) for r in rank_rows}
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(ranks)
    keep_tokens = bool(with_tokens)

    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    def kernel(batches):
        ranks_ = bc.value
        tok_re = re.compile(TOKEN_SPLIT_RE)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            docs_toks = [
                [t for t in tok_re.split((tx or "").lower()) if t]
                for tx in pdf["text"]
            ]
            uniq: dict[str, tuple[str, ...]] = {}
            for toks in docs_toks:
                for w in toks:
                    if w not in uniq:
                        uniq[w] = _merge_word(_word_symbols(w), ranks_)
            out_tokens, out_counts = [], []
            for toks in docs_toks:
                n = 0
                pieces: list[str] = []
                for w in toks:
                    enc = uniq[w]
                    n += len(enc)
                    if keep_tokens:
                        pieces.extend(enc)
                out_counts.append(n)
                out_tokens.append(pieces if keep_tokens else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bpe_tokens": out_tokens,
                    "n_bpe_tokens": np.array(out_counts, dtype=np.int32),
                }
            )

    return src.mapInPandas(kernel, _ENC_SCHEMA)


def save_merges(merges: DataFrame, path: str) -> None:
    """Persist the tokenizer artifact — the merges table IS the tokenizer
    (rank order defines the greedy encoder), so one tiny parquet file
    makes the trained tokenizer reusable across jobs/clusters exactly
    like a shipped vocab file."""
    merges.select("rank", "left", "right").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_merges(spark, path: str) -> DataFrame:
    """Reload a tokenizer artifact written by :func:`save_merges`."""
    return spark.read.parquet(path).select("rank", "left", "right")


def bpe_token_count(docs: DataFrame, merges: DataFrame, **kw) -> DataFrame:
    """(doc_id, n_bpe_tokens) — the token-budget column under a REAL
    trained tokenizer (the regex stand-in in functions/text stays for
    engine-portable oracles)."""
    return bpe_encode(docs, merges, with_tokens=False, **kw).select(
        "doc_id", "n_bpe_tokens"
    )
