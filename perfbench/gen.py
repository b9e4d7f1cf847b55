"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical arrays and texts, independent of the library under test.
Streams are separated by a tag so that, e.g., the queries of request 7
do not depend on how many requests a run happened to make.

Vector data follows the OOD cross-modal shape of ANN_PROTOCOL.md's
fixture: a base of unit vectors drawn around ``n_clusters`` cluster
centres, and queries drawn from a shifted distribution (a fixed
"modality gap" direction plus a mix of two cluster centres).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# stream tags (the second element of every rng seed sequence)
_CENTRES, _GAP, _BASE, _TRAIN, _QUERY, _VOCAB, _DOCS = range(7)


@dataclass(frozen=True)
class VectorShape:
    n_base: int = 20_000
    dim: int = 64
    n_clusters: int = 64
    sigma_base: float = 0.15
    sigma_query: float = 0.10
    gap: float = 0.8
    mix: float = 0.35
    n_train: int = 20_000
    m: int = 5                      # members per base set / query set


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _centres(seed: int, s: VectorShape) -> tuple[np.ndarray, np.ndarray]:
    c = _unit(np.random.default_rng([seed, _CENTRES]).standard_normal(
        (s.n_clusters, s.dim)))
    g = np.random.default_rng([seed, _GAP]).standard_normal(s.dim)
    return c, g / np.linalg.norm(g)


def base_vectors(seed: int, s: VectorShape) -> np.ndarray:
    """(n_base, dim) float32 unit rows; vector i belongs to set i // m."""
    c, _ = _centres(seed, s)
    rng = np.random.default_rng([seed, _BASE])
    pick = rng.integers(s.n_clusters, size=s.n_base)
    noise = rng.standard_normal((s.n_base, s.dim))
    return _unit(c[pick] + s.sigma_base * noise).astype(np.float32)


def _shifted(rng: np.random.Generator, n: int, seed: int,
             s: VectorShape) -> np.ndarray:
    c, g = _centres(seed, s)
    a = rng.integers(s.n_clusters, size=n)
    b = rng.integers(s.n_clusters, size=n)
    noise = rng.standard_normal((n, s.dim))
    v = (1 - s.mix) * c[a] + s.mix * c[b] + s.gap * g + s.sigma_query * noise
    return _unit(v).astype(np.float32)


def train_queries(seed: int, s: VectorShape) -> np.ndarray:
    """(n_train, dim) float32 queries from the shifted distribution."""
    return _shifted(np.random.default_rng([seed, _TRAIN]), s.n_train,
                    seed, s)


def query_sets(corpus_seed: int, seed: int, request: int, n_sets: int,
               s: VectorShape) -> tuple[np.ndarray, np.ndarray]:
    """Fresh query sets for one request: (set_of_row, rows), drawn with
    ``seed`` from the query distribution of the corpus ``corpus_seed``.

    ``set_of_row[i]`` is the query-set id of row i; ids are unique
    across requests (``request * n_sets + j``); every set has ``s.m``
    rows."""
    rng = np.random.default_rng([seed, _QUERY, request])
    rows = _shifted(rng, n_sets * s.m, corpus_seed, s)
    sid = np.repeat(np.arange(n_sets, dtype=np.int64) + request * n_sets,
                    s.m)
    return sid, rows


# --------------------------------------------------------------- documents

@dataclass(frozen=True)
class DocShape:
    n_docs: int = 4_000
    vocab: int = 4_000
    zipf_a: float = 1.15
    min_len: int = 15
    max_len: int = 140
    stop_frac: float = 0.22         # share of English stopword tokens
    exact_dup_frac: float = 0.01
    near_dup_frac: float = 0.05
    near_dup_cluster: int = 3       # docs per planted near-dup cluster
    foreign_frac: float = 0.12      # docs written mostly in es/de/fr


# words every corpus contains at a fixed Zipf rank, so that a keyword
# query (bm25) and the tf-idf vocabulary always have matches
_PINNED = ("data", "search", "model", "vector", "index", "query")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# the language heuristic's marker words (a copy of the library's lists,
# so that the inputs stay the same if the library's lists change)
_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "los", "que"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "des"),
}
_FOREIGN = ("es", "de", "fr")


def vocabulary(seed: int, d: DocShape) -> list[str]:
    """Distinct lowercase words; the pinned words sit at ranks 5..10."""
    rng = np.random.default_rng([seed, _VOCAB])
    words: list[str] = []
    seen = set(_PINNED) | {w for ws in _MARKERS.values() for w in ws}
    while len(words) < d.vocab - len(_PINNED):
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(_LETTERS, size=n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words[:5] + list(_PINNED) + words[5:]


@dataclass
class Corpus:
    doc_id: np.ndarray              # int64, unique
    text: list[str]
    # planted duplicate groups: lists of doc ids whose texts are exact or
    # near copies of one another (a pair inside a group is a true pair)
    groups: list[list[int]]


def corpus_shard(corpus_seed: int, seed: int, shard: int,
                 d: DocShape) -> Corpus:
    """One shard of ``d.n_docs`` documents with planted duplicates, drawn
    with ``seed`` over the vocabulary of ``corpus_seed``.

    Tokens are Zipf-ranked vocabulary words mixed with English
    stopwords; a ``foreign_frac`` share of documents uses the es/de/fr
    marker words instead, so the language filter drops them. Short
    documents and noise tokens (digits, punctuation) lower the quality
    score of a share of documents below the 0.5 cut."""
    vocab = np.array(vocabulary(corpus_seed, d))
    rng = np.random.default_rng([seed, _DOCS, shard])
    n = d.n_docs
    ranks = np.arange(1, d.vocab + 1, dtype=np.float64)
    p = ranks ** -d.zipf_a
    p /= p.sum()
    lens = rng.integers(d.min_len, d.max_len + 1, size=n)
    foreign = rng.random(n) < d.foreign_frac
    lang_of = rng.integers(len(_FOREIGN), size=n)
    texts: list[str] = []
    for i in range(n):
        L = int(lens[i])
        toks = vocab[rng.choice(d.vocab, size=L, p=p)].astype(object)
        markers = _MARKERS[_FOREIGN[lang_of[i]]] if foreign[i] \
            else _MARKERS["en"]
        stop = rng.random(L) < d.stop_frac
        toks[stop] = np.array(markers, dtype=object)[
            rng.integers(len(markers), size=int(stop.sum()))]
        noisy = rng.random(L) < 0.03
        toks[noisy] = [f"{t}{int(rng.integers(10, 99))}#"
                       for t in toks[noisy]]
        texts.append(" ".join(toks))

    # planted near-duplicate clusters: a source document and
    # ``near_dup_cluster - 1`` variants with ~1 token in 40 replaced
    groups: list[list[int]] = []
    n_clusters = int(n * d.near_dup_frac / d.near_dup_cluster)
    n_exact = int(n * d.exact_dup_frac)
    slots = rng.permutation(n)
    cur = 0
    for _ in range(n_clusters):
        src, *variants = slots[cur:cur + d.near_dup_cluster]
        cur += d.near_dup_cluster
        base = texts[src].split(" ")
        for v in variants:
            toks = list(base)
            for j in rng.choice(len(toks), size=max(1, len(toks) // 40),
                                replace=False):
                toks[j] = str(vocab[rng.integers(d.vocab)])
            texts[v] = " ".join(toks)
        groups.append(sorted(int(x) for x in slots[cur - d.near_dup_cluster:
                                                   cur]))
    for _ in range(n_exact):
        src, dst = slots[cur:cur + 2]
        cur += 2
        texts[dst] = texts[src]
        groups.append(sorted((int(src), int(dst))))
    offset = np.int64(shard) * np.int64(10_000_000)
    ids = offset + np.arange(n, dtype=np.int64)
    return Corpus(ids, texts, [[int(offset + x) for x in g] for g in groups])
