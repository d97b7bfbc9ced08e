"""Top-k BM25 kernels over scored posting runs.

The query-time operators the reference lacks (index/Query.cpp:265-382
scores *every* matching doc, as these kernels do).  Every query path
decodes its posting runs, scores them with :func:`_score_arrays` (or
reads them pre-scored from the engine's cache), then selects with one
of three kernels:

- :func:`topk_from_scored` — disjunctive top-k over scored runs: the
  interactive, facet-filtered and federated paths.
- :func:`boolean_topk_scored` — ``+required`` / optional / excluded
  top-k over scored runs.  With only required runs it is the
  conjunctive AND (reference Query.cpp:349-372); with none it is
  :func:`topk_from_scored` with an exclusion mask, which is how the
  per-shard UDF of every distributed ``SearchEngine`` path selects.
- :func:`synmax_run` — folds a synonym group into one pseudo-run.

Distributed shards cover disjoint doc-id ranges, so global top-k =
top-k of the union of shard top-ks.

Correctness contract: identical (doc_id, score) top-k — including
score-desc/doc-asc tie order — to exhaustive scoring.  Every selection
keeps all ties at the k-th score before the final sort.
"""

from __future__ import annotations

import numpy as np

from tse_spark import oracle


def _score_arrays(idf, tfs, dls, avgdl):
    k1, b = oracle.BM25_K1, oracle.BM25_B
    tfs = tfs.astype(np.float64)
    return idf * tfs * (k1 + 1.0) / (
        tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
    )


def _top_k(
    docs: np.ndarray, scores: np.ndarray, k: int
) -> list[tuple[int, float]]:
    """The k best ``(doc, score)`` of unique ``docs``, score desc / doc
    asc: partition to the k-th score, keep every doc tied with it (the
    doc-asc tie-break decides among them), sort only the survivors."""
    if k <= 0:
        return []
    if len(docs) > k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        sel = scores >= kth
        docs, scores = docs[sel], scores[sel]
    cand = sorted(
        zip(docs.tolist(), scores.tolist()), key=lambda x: (-x[1], x[0])
    )
    return cand[:k]


def topk_from_scored(
    runs: list[tuple[np.ndarray, np.ndarray]],
    k: int,
    n_docs: int | None = None,
    dense_limit: int = 1 << 26,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Top-k BM25 from PRE-SCORED posting arrays ``[(docs, scores)]`` —
    the hot interactive path behind the engine's scored-posting cache.
    A term's per-posting BM25 addend is query-independent (idf and
    avgdl are fixed for an index generation), so the engine caches
    ``(docs int32, scores float64)`` per term and per-query work
    collapses to one concatenate plus one DENSE ``bincount`` over the
    doc-id space (ids are dense by construction,
    index_build.assign_doc_ids): no varint decode, no per-query scoring
    pass, no sort-based aggregation.  On the 2M-doc profile decode +
    np.unique's argsort alone were ~60% of serving latency.

    Falls back to unique-based aggregation when the id space is unknown
    or too large to allocate densely (``dense_limit`` ids = 512 MB of
    float64 accumulator; beyond that a single serving node shouldn't
    hold the corpus driver-local anyway — use the per-shard distributed
    path).  BM25 addends are strictly positive, so zero cells are
    exactly the non-matching docs and are filtered before top-k.
    ``excluded`` (sorted unique tombstoned ids) is masked out before
    selection so a deleted doc can never displace a surviving one."""
    doc_parts = [d for d, s in runs if len(d)]
    score_parts = [s for d, s in runs if len(d)]
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    if (
        n_docs is not None
        and n_docs <= dense_limit
        and (len(docs) == 0 or int(docs.max()) < n_docs)
    ):
        agg = np.bincount(docs, weights=scores, minlength=n_docs)
        if excluded is not None and len(excluded):
            agg[excluded[excluded < n_docs]] = 0.0
        pos = np.flatnonzero(agg > 0.0)
        vals = agg[pos]
    else:
        uniq, inv = np.unique(docs, return_inverse=True)
        vals = np.bincount(inv, weights=scores)
        pos = uniq
        if excluded is not None and len(excluded) and len(pos):
            m = ~_in_sorted(pos, excluded)
            pos, vals = pos[m], vals[m]
    return _top_k(pos, vals, k)


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a`` in SORTED unique array ``b`` — one
    searchsorted instead of np.isin's internal sort (posting doc arrays
    are already doc-ascending by the codec law)."""
    if len(b) == 0:
        return np.zeros(len(a), dtype=bool)
    idx = np.searchsorted(b, a)
    idx[idx == len(b)] = len(b) - 1
    return b[idx] == a


def boolean_topk_scored(
    required: list[tuple[np.ndarray, np.ndarray]],
    optional: list[tuple[np.ndarray, np.ndarray]],
    k: int,
    excluded_docs: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Web-style boolean top-k over pre-scored posting runs: docs must
    match ALL ``required`` runs and NONE of ``excluded_docs``; score is
    the disjunctive BM25 sum over required + optional runs (a required
    term both gates and scores — classic ``+term`` semantics).  With
    ``optional`` empty this is the conjunctive AND.

    Runs are ``(docs asc unique, scores)`` pairs — either the engine's
    scored-posting cache entries or per-shard arrays scored at decode.
    The intersection starts from the shortest required run and keeps
    its survivors by one binary search into each longer run (the
    ``searchsorted`` membership mask of :func:`_in_sorted`), so its cost
    follows the shortest list, not the longest.  Exclusion is applied
    BEFORE top-k selection (an excluded doc must not displace a kept
    one) by the same mask against the sorted excluded doc array.  With
    no required runs this is :func:`topk_from_scored` with an exclusion
    mask.
    """
    if not required:
        return topk_from_scored(optional, k, excluded=excluded_docs)
    runs = sorted(required, key=lambda x: len(x[0]))
    common = runs[0][0]
    if excluded_docs is not None and len(excluded_docs):
        common = common[~_in_sorted(common, excluded_docs)]
    for d, _ in runs[1:]:
        if len(common) == 0:
            break
        common = common[_in_sorted(common, d)]
    if len(common) == 0:
        return []
    total = np.zeros(len(common), dtype=np.float64)
    for d, s in required:
        total += s[np.searchsorted(d, common)]
    for d, s in optional:
        m = _in_sorted(common, d)
        if m.any():
            total[m] += s[np.searchsorted(d, common[m])]
    return _top_k(common, total, k)


def synmax_run(
    runs: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Fold one synonym group's scored runs into a single pseudo-run
    ``(docs asc unique, per-doc MAX addend)`` — the ``#syn`` group-max
    law.  BM25 addends are strictly positive, so seeding the
    accumulator with zeros and taking elementwise maxima is exact."""
    runs = [(d, s) for d, s in runs if len(d)]
    if not runs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if len(runs) == 1:
        return runs[0]
    u = np.unique(np.concatenate([d for d, _ in runs]))
    vals = np.zeros(len(u), dtype=np.float64)
    for d, s in runs:
        pos = np.searchsorted(u, d)
        np.maximum.at(vals, pos, s)
    return u, vals
