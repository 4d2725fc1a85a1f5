"""Seeded inputs. One seed drives every generated input through
independent streams, so adding a stream never shifts another:

- query texts: 2-4 corpus terms each, drawn by document frequency,
  stopwords and sub-length tokens dropped;
- ivfpq query vectors: a corpus vector plus Gaussian noise;
- appended batches: documents drawn from the corpus term distribution,
  each carrying one unique marker token.

The corpus itself is the fixed sf0.1 table under perfbench/data.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from semantik_spark.config import ENGLISH_STOPWORDS, MIN_TOKEN_LENGTH, TOKEN_PATTERN

_QUERY, _VECTOR, _BATCH = 1, 2, 3
#: appended doc ids start here, far above the corpus's ids
BATCH_ID_BASE = 10_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


class Inputs:
    """Seeded generators over one corpus."""

    def __init__(self, seed: int, texts: list[str], vectors: np.ndarray) -> None:
        self.vectors = vectors
        token = re.compile(TOKEN_PATTERN)
        stop = set(ENGLISH_STOPWORDS)
        df: Counter = Counter()
        tf: Counter = Counter()
        lengths = []
        for text in texts:
            toks = [t for t in token.findall(text.lower())
                    if len(t) >= MIN_TOKEN_LENGTH and t not in stop]
            lengths.append(len(toks))
            tf.update(toks)
            df.update(set(toks))
        self.terms = sorted(df)
        self._df_p = np.array([df[t] for t in self.terms], dtype=float)
        self._df_p /= self._df_p.sum()
        self._tf_p = np.array([tf[t] for t in self.terms], dtype=float)
        self._tf_p /= self._tf_p.sum()
        self._doc_len = int(np.median(lengths))
        self._queries = _rng(seed, _QUERY)
        self._vecs = _rng(seed, _VECTOR)
        self._batches = _rng(seed, _BATCH)
        self._batch_no = 0

    def query_texts(self, n: int) -> list[str]:
        out = []
        for _ in range(n):
            size = int(self._queries.integers(2, 5))
            picks = self._queries.choice(len(self.terms), size=size,
                                         replace=False, p=self._df_p)
            out.append(" ".join(self.terms[i] for i in picks))
        return out

    def query_vectors(self, n: int) -> list[list[float]]:
        rows = self._vecs.integers(0, len(self.vectors), size=n)
        scale = float(self.vectors.std())
        noise = self._vecs.normal(0.0, 0.5 * scale, size=(n, self.vectors.shape[1]))
        return [[float(x) for x in v] for v in self.vectors[rows] + noise]

    def batch(self, size: int) -> tuple[list[int], list[str]]:
        """The next appended batch: (doc ids, texts). Each text ends with
        a marker token no other document contains."""
        first = BATCH_ID_BASE + self._batch_no * size
        self._batch_no += 1
        ids, texts = [], []
        for i in range(size):
            words = self._batches.choice(len(self.terms), size=self._doc_len, p=self._tf_p)
            letters = self._batches.integers(0, 26, size=10)
            marker = "mk" + "".join(chr(97 + int(c)) for c in letters)
            ids.append(first + i)
            texts.append(" ".join(self.terms[w] for w in words) + " " + marker)
        return ids, texts
