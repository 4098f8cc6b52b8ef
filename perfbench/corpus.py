"""Seeded corpus and query generator for the benchmark.

The corpus is plain lowercase whitespace-separated words so that the
standard analyzer's output is exactly split-and-drop-stopwords (no
punctuation, no digits, no CJK). Word frequencies are Zipf-ranked: the
33 English stopwords take the top ranks, then a synthetic tail of
TAIL_WORDS distinct words. Doc lengths are lognormal with a median of
~120 tokens (mean ~136). Keys are integers 0..n-1 in a seeded shuffle
of generation order.

Query terms are drawn from three document-frequency buckets so that
head (df >= 5% of docs), mid (0.5%-2%) and tail (3 to max(6, 0.2%)
docs) posting lists, and every ratio between them, appear in the mix.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()
TAIL_WORDS = 30_000
ZIPF_S = 1.0
LEN_MEDIAN = 120.0
LEN_SIGMA = 0.5

BUCKETS = ("head", "mid", "tail")
QUERY_KINDS = ("term", "and2", "and3", "or3", "or_msm2", "not")

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr kr pl pr sh sl st th tr".split()
_VOWELS = "a e i o u ai ea ie oo ou".split()
_CODAS = ["", "", "n", "r", "s", "l", "m", "x", "nd", "rt", "st"]


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct synthetic lowercase words, none a stopword."""
    stop = set(STOPWORDS)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        ) + _CODAS[rng.integers(len(_CODAS))]
        if w not in seen and w not in stop:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Corpus:
    keys: np.ndarray          # int64 doc keys, in row order
    texts: list[str]
    words: list[str]          # vocabulary, rank order (stopwords first)
    token_ids: list[np.ndarray]  # per doc, vocabulary ids in text order

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def stats(self) -> dict:
        lens = np.array([len(t) for t in self.token_ids])
        used = np.unique(np.concatenate(self.token_ids))
        return {
            "docs": self.n_docs,
            "tokens": int(lens.sum()),
            "vocabulary": int(len(used)),
            "input_bytes": int(sum(len(t) for t in self.texts)),
        }


class Generator:
    """One seeded stream of documents and queries over a fixed vocabulary."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.words = STOPWORDS + _vocabulary(self.rng, TAIL_WORDS)
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._next_key = 0

    def _doc_tokens(self, n_docs: int) -> list[np.ndarray]:
        lens = np.clip(
            self.rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs), 8, 1200
        ).astype(np.int64)
        ids = np.searchsorted(self._cdf, self.rng.random(int(lens.sum())))
        ids = np.minimum(ids, len(self.words) - 1)
        return np.split(ids, np.cumsum(lens)[:-1])

    def docs(self, n_docs: int) -> Corpus:
        """n_docs fresh documents with fresh keys."""
        toks = self._doc_tokens(n_docs)
        w = np.array(self.words, dtype=object)
        texts = [" ".join(w[t]) for t in toks]
        keys = self._next_key + self.rng.permutation(n_docs).astype(np.int64)
        self._next_key += n_docs
        return Corpus(keys, texts, self.words, toks)

    def rewrite(self, corpus: Corpus, rows: np.ndarray, marker: str) -> Corpus:
        """New versions of corpus rows `rows` (same keys, new text), each
        carrying `marker` once at a random position."""
        toks = self._doc_tokens(len(rows))
        w = np.array(self.words, dtype=object)
        texts = []
        for t in toks:
            words = list(w[t])
            words.insert(int(self.rng.integers(len(words) + 1)), marker)
            texts.append(" ".join(words))
        return Corpus(corpus.keys[rows].copy(), texts, self.words, toks)

    def marker(self) -> str:
        """A fresh word absent from the vocabulary (letters only)."""
        while True:
            w = "zq" + "".join(
                chr(97 + int(c)) for c in self.rng.integers(0, 26, 8)
            )
            if w not in self.words:
                return w

    def queries(self, buckets: dict[str, list[str]], n: int) -> list[tuple]:
        """n (kind, terms, must_not) triples; each term slot draws its
        bucket uniformly, so df ratios inside one query vary."""
        out = []
        for _ in range(n):
            kind = QUERY_KINDS[self.rng.integers(len(QUERY_KINDS))]
            n_terms = {"term": 1, "and2": 2, "and3": 3, "or3": 3,
                       "or_msm2": 3, "not": 2}[kind]
            picked: list[str] = []
            while len(picked) < n_terms:
                b = buckets[BUCKETS[self.rng.integers(len(BUCKETS))]]
                t = b[self.rng.integers(len(b))]
                if t not in picked:
                    picked.append(t)
            if kind == "not":
                out.append((kind, (picked[0],), (picked[1],)))
            else:
                out.append((kind, tuple(picked), ()))
        return out


def doc_freqs(corpus: Corpus) -> np.ndarray:
    """df per vocabulary id."""
    V = len(corpus.words)
    df = np.zeros(V, np.int64)
    for t in corpus.token_ids:
        df[np.unique(t)] += 1
    return df


def term_buckets(corpus: Corpus, per_bucket: int = 40) -> dict[str, list[str]]:
    """Query-term pools by df bucket (stopwords excluded)."""
    df = doc_freqs(corpus)
    n = corpus.n_docs
    ids = np.arange(len(STOPWORDS), len(corpus.words))
    d = df[ids]
    sel = {
        "head": ids[d >= 0.05 * n],
        "mid": ids[(d >= 0.005 * n) & (d <= 0.02 * n)],
        "tail": ids[(d >= 3) & (d <= max(6, 0.002 * n))],
    }
    out = {}
    for name, pool in sel.items():
        pool = pool[:per_bucket] if name == "head" else pool[::max(1, len(pool) // per_bucket)][:per_bucket]
        out[name] = [corpus.words[i] for i in pool]
    return out


def bucket_df_summary(corpus: Corpus, buckets: dict[str, list[str]]) -> dict:
    """min / median / max df of each bucket's terms."""
    df = doc_freqs(corpus)
    index = {w: i for i, w in enumerate(corpus.words)}
    out = {}
    for name, terms in buckets.items():
        v = np.array([df[index[t]] for t in terms])
        out[name] = {"terms": len(v), "df_min": int(v.min()),
                     "df_median": int(np.median(v)), "df_max": int(v.max())}
    return out
