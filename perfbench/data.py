"""Seeded input generators.  The engine receives only what these return.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always yields the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128


def mixture(rng: np.random.Generator, n: int, centres: np.ndarray,
            sigma: float) -> np.ndarray:
    """``n`` float32 rows, each a random centre plus isotropic noise."""
    lab = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, centres.shape[1]), dtype=np.float32)
    return centres[lab] + np.float32(sigma) * noise


def make_centres(rng: np.random.Generator, count: int, spread: float) -> np.ndarray:
    return (rng.standard_normal((count, DIM)) * spread).astype(np.float32)


def plant_twins(rng: np.random.Generator, X: np.ndarray, frac: float,
                jitter: float) -> np.ndarray:
    """Overwrite ``frac`` of the rows with near-copies of other rows and
    return the planted ``(source_row, twin_row)`` pairs.  Sources and
    twins are disjoint, so every pair is one source and one copy."""
    n = len(X)
    m = max(1, int(n * frac))
    rows = rng.permutation(n)[: 2 * m]
    src, twin = np.sort(rows[:m]), rows[m:]
    X[twin] = X[src] + np.float32(jitter) * rng.standard_normal(
        (m, X.shape[1]), dtype=np.float32
    )
    return np.stack([src, twin], axis=1)


# -- text corpus ------------------------------------------------------------

def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(words))


VOCAB_SIZE = 4000
DOC_TOKENS = (40, 80)      # inclusive range of tokens per document
DOC_DUP_FRAC = 0.02        # share of documents that are planted copies
DOC_EDITS = 2              # tokens a copy substitutes


def text_corpus(rng: np.random.Generator, n_docs: int):
    """Zipf-distributed documents with planted near-duplicate pairs.

    Returns ``(docs, pairs)``: ``docs`` a list of token lists, ``pairs``
    the planted ``(source_doc, copy_doc)`` index pairs; a copy differs
    from its source in ``DOC_EDITS`` substituted tokens, which keeps its
    3-shingle Jaccard near 0.8."""
    vocab_size = VOCAB_SIZE
    vocab = _vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_docs)
    flat = rng.choice(vocab_size, int(lens.sum()), p=p)
    docs, pos = [], 0
    for ln in lens:
        docs.append(list(vocab[flat[pos:pos + ln]]))
        pos += ln
    m = max(1, int(n_docs * DOC_DUP_FRAC))
    rows = rng.permutation(n_docs)[: 2 * m]
    src, copy = np.sort(rows[:m]), rows[m:]
    for s, c in zip(src, copy):
        d = list(docs[s])
        for at in rng.choice(len(d), DOC_EDITS, replace=False):
            d[at] = vocab[int(rng.integers(vocab_size))]
        docs[c] = d
    return docs, np.stack([src, copy], axis=1)


# -- hand-off to Spark --------------------------------------------------------

#: schemas of the files below; reading with them spares Spark a schema job
VEC_SCHEMA = "id long, vec array<float>"
DOC_SCHEMA = "doc_id long, text string"


def write_vectors(path: str, ids: np.ndarray, X: np.ndarray) -> str:
    """Write ``(id long, vec array<float>)`` parquet for ``spark.read``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    vec = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(X, dtype=np.float32).ravel()), X.shape[1]
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"id": pa.array(ids.astype(np.int64)), "vec": vec}), path
    )
    return path


def write_docs(path: str, docs: list[list[str]]) -> str:
    """Write ``(doc_id long, text string)`` parquet."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
            "text": pa.array([" ".join(d) for d in docs]),
        }),
        path,
    )
    return path
