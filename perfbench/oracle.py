"""Brute-force BM25 top-k over the generated corpus, independent of the
engine's code.

Semantics follow Lucene's BM25Similarity with k1=1.2, b=0.75:

- analysis: whitespace split, drop the 33 English stopwords (the corpus
  is lowercase letters only, so this equals the standard analyzer);
- norm byte: SmallFloat.floatToByte315(1f / (float) sqrt(len));
- decoded length: 1f / (f * f) with f = byte315ToFloat(norm);
- idf: (float) log(1 + (N - df + 0.5) / (df + 0.5)) in double;
- avgdl: (float) (sumTotalTermFreq / (double) N);
- term score: (idf * (k1 + 1)) * tf / (tf + k1 * ((1 - b) + b * len / avgdl)),
  every step in float32;
- boolean AND / OR: clause scores summed in double, cast to float32.

Ranking is score descending, engine docID ascending, where the docID of
each key comes from the searcher's doc_map.
"""

from __future__ import annotations

import math

import numpy as np

from corpus import STOPWORDS, Corpus

K1 = np.float32(1.2)
B = np.float32(0.75)
_ONE = np.float32(1.0)


def float_to_byte315(f: np.float32) -> int:
    bits = int(np.array([f], np.float32).view(np.int32)[0])
    small = bits >> 21
    fzero = (63 - 15) << 3
    if small <= fzero:
        return 0 if bits <= 0 else 1
    if small >= fzero + 0x100:
        return 255
    return small - fzero


def byte315_to_float(b: int) -> np.float32:
    if b == 0:
        return np.float32(0.0)
    bits = np.array([(b << 21) + ((63 - 15) << 24)], np.int32)
    return bits.view(np.float32)[0]


class Oracle:
    """Exact BM25 over a corpus; docids assigned by `key_to_docid`."""

    def __init__(self, corpus: Corpus, key_to_docid: dict[int, int]):
        n_stop = len(STOPWORDS)
        self.words = corpus.words
        self.index = {w: i for i, w in enumerate(corpus.words)}
        self.max_doc = corpus.n_docs
        docids = np.array([key_to_docid[int(k)] for k in corpus.keys], np.int64)
        # postings: (term id, doc row) pairs with tf, grouped by term
        rows, terms = [], []
        lens = np.empty(corpus.n_docs, np.int64)
        for r, t in enumerate(corpus.token_ids):
            t = t[t >= n_stop]
            lens[r] = len(t)
            rows.append(np.full(len(t), r, np.int64))
            terms.append(t)
        rows_a = np.concatenate(rows)
        terms_a = np.concatenate(terms).astype(np.int64)
        pair = terms_a * corpus.n_docs + docids[rows_a]
        uniq, tf = np.unique(pair, return_counts=True)
        self.p_term = uniq // corpus.n_docs
        self.p_doc = uniq % corpus.n_docs        # engine docID
        self.p_tf = tf.astype(np.float32)
        self._starts = np.searchsorted(self.p_term, np.arange(len(self.words) + 1))
        self.norm_of_doc = np.zeros(corpus.n_docs, np.uint8)
        for r, dl in enumerate(lens):
            if dl > 0:
                f = _ONE / np.float32(math.sqrt(dl))
                self.norm_of_doc[docids[r]] = float_to_byte315(f)
        self.sum_ttf = int(lens.sum())
        avgdl = (np.float32(self.sum_ttf / float(self.max_doc))
                 if self.sum_ttf > 0 else _ONE)
        cache = np.empty(256, np.float32)
        for i in range(256):
            f = byte315_to_float(i)
            dec = _ONE / (f * f) if f != 0 else np.float32(np.inf)
            cache[i] = K1 * ((_ONE - B) + B * dec / avgdl)
        self._cache_of_doc = cache[self.norm_of_doc]

    def _term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(engine docIDs ascending, float32 scores) of one term."""
        i = self.index.get(term)
        if i is None:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        lo, hi = self._starts[i], self._starts[i + 1]
        docs, tf = self.p_doc[lo:hi], self.p_tf[lo:hi]
        order = np.argsort(docs, kind="stable")
        docs, tf = docs[order], tf[order]
        df = len(docs)
        idf = np.float32(math.log(1 + (self.max_doc - df + 0.5) / (df + 0.5)))
        weight = idf * (K1 + _ONE)
        scores = (weight * tf) / (tf + self._cache_of_doc[docs])
        return docs, scores.astype(np.float32)

    def topk(self, kind: str, terms: tuple, must_not: tuple, k: int) -> list[tuple[int, np.float32]]:
        per = [self._term(t) for t in terms]
        if kind == "term":
            docs, scores = per[0]
        elif kind in ("and2", "and3", "not"):
            docs = per[0][0]
            for d, _ in per[1:]:
                docs = np.intersect1d(docs, d)
            for t in must_not:
                docs = np.setdiff1d(docs, self._term(t)[0])
            acc = np.zeros(len(docs), np.float64)
            for d, s in per:
                acc += s[np.searchsorted(d, docs)].astype(np.float64)
            scores = acc.astype(np.float32)
        elif kind in ("or3", "or_msm2"):
            docs = np.unique(np.concatenate([d for d, _ in per]))
            acc = np.zeros(len(docs), np.float64)
            hits = np.zeros(len(docs), np.int64)
            for d, s in per:
                at = np.searchsorted(d, docs)
                found = (at < len(d)) & (d[np.minimum(at, len(d) - 1)] == docs)
                acc[found] += s[at[found]].astype(np.float64)
                hits += found
            keep = hits >= (2 if kind == "or_msm2" else 1)
            docs, scores = docs[keep], acc[keep].astype(np.float32)
        else:
            raise ValueError(kind)
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(docs[i]), scores[i]) for i in order]


def same_hits(got: list[tuple[int, float]], want: list[tuple[int, np.float32]]) -> bool:
    """docIDs in order and float32 scores bit for bit."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd != wd:
            return False
        if np.float32(gs).view(np.uint32) != np.float32(ws).view(np.uint32):
            return False
    return True
