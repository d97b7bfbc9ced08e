"""Answer checking and summary statistics for the benchmark.

Expected top-k lists come from the engine's pure-Python BM25 oracle
(``tse_spark/oracle.py``).  The oracle's tokenization is the slow part,
so it runs once per document in a process pool and the per-document term
counts are assembled into oracle instances for whatever document subset a
check needs (the base table, or the base plus the append batches so far).

Answers compare as ``key:score@4dp``.  Ties at rank k are allowed: any
member of the tie group at the k-th score may fill the last ranks.
"""

from __future__ import annotations

import glob
import hashlib
import copy
import math
import os
from collections import Counter

import pyarrow.parquet as pq

from tse_spark import oracle

ENCODING = "gb2312"


# -- corpus and oracle ---------------------------------------------------


def read_corpus(pages_dir: str) -> list:
    """(url, text bytes) for each distinct url of a pages table, first
    occurrence kept (the generator's duplicate rows repeat the content)."""
    seen, out = set(), []
    for f in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
        t = pq.read_table(f, columns=["url", "text"])
        for url, text in zip(t.column("url").to_pylist(), t.column("text").to_pylist()):
            if url not in seen:
                seen.add(url)
                out.append((url, text.encode(ENCODING)))
    return out


def md5_doc_ids(urls) -> dict:
    """url -> doc id under the engine's id law: dense rank of md5(url)."""
    order = sorted(urls, key=lambda u: hashlib.md5(u.encode()).hexdigest())
    return {u: i for i, u in enumerate(order)}


def _count_terms(task: tuple) -> list:
    texts, dictionary = task
    return [Counter(oracle.index_terms(t, dictionary)) for t in texts]


def term_counts(texts: list, dictionary: frozenset, pool=None) -> list:
    """``oracle.index_terms`` counts per text, in input order."""
    if pool is None:
        return _count_terms((texts, dictionary))
    step = max(1, -(-len(texts) // 16))
    chunks = [(texts[i: i + step], dictionary) for i in range(0, len(texts), step)]
    return [c for part in pool.map(_count_terms, chunks) for c in part]


class Oracle:
    """A ``BM25Oracle`` over pre-tokenized documents (key -> Counter),
    with the fields its constructor derives from raw text, plus each
    term's documents so a query is scored over the documents holding one
    of its terms (the others add nothing to any score)."""

    def __init__(self, counts: dict, dictionary: frozenset):
        o = oracle.BM25Oracle({}, dictionary)
        o.tf = dict(counts)
        o.doclen = {k: sum(c.values()) for k, c in counts.items()}
        holders = {}
        for key, c in counts.items():
            for t in c:
                holders.setdefault(t, []).append(key)
        o.df = {t: len(keys) for t, keys in holders.items()}
        o.n_docs = len(counts)
        o.avgdl = sum(o.doclen.values()) / o.n_docs if o.n_docs else 0.0
        self.full, self.holders = o, holders

    def search(self, query: bytes, k: int, conjunctive: bool) -> list:
        o = copy.copy(self.full)
        keys = {d for t in o.query_terms(query) for d in self.holders.get(t, ())}
        o.tf = {d: self.full.tf[d] for d in keys}
        return o.search(query, k=k, conjunctive=conjunctive)


def expected(o: Oracle, query: str, conjunctive: bool, k: int) -> list:
    """The oracle's top-k as ``[key, score@4dp]``, extended by every
    further document tied with the k-th score."""
    ranked = o.search(query.encode(ENCODING), max(1, o.full.n_docs), conjunctive)
    out = [[d, round(s, 4)] for d, s in ranked[:k]]
    if len(out) == k:
        edge = out[-1][1]
        for d, s in ranked[k:]:
            if round(s, 4) != edge:
                break
            out.append([d, edge])
    return out


def matches(got: list, want: list, k: int) -> bool:
    """True when ``got`` (key, score) pairs are the oracle's top-k: same
    length, the same score at every rank (4 dp), the same keys above the
    k-th score, and keys at the k-th score drawn from its tie group."""
    n = min(k, len(want))
    if len(got) != n:
        return False
    if n == 0:
        return True
    g = [(key, round(s, 4)) for key, s in got]
    if [s for _, s in g] != [s for _, s in want[:n]]:
        return False
    if len({key for key, _ in g}) != n:
        return False
    edge = want[n - 1][1]
    above_g = {(key, s) for key, s in g if s != edge}
    above_w = {(key, s) for key, s in want if s != edge}
    tied_w = {key for key, s in want if s == edge}
    return above_g == above_w and all(key in tied_w for key, s in g if s == edge)


# -- statistics ----------------------------------------------------------

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def percentile(samples: list, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(samples)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(samples: list, min_beyond: int = 10):
    """The highest percentile of ``TAIL_CANDIDATES`` with at least
    ``min_beyond`` samples beyond it, as ``(p, value)``; None when even
    the lowest candidate has fewer."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= min_beyond:
            return p, percentile(samples, p)
    return None


def median(samples: list) -> float:
    s = sorted(samples)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0
