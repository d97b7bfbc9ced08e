"""Top-k BM25 kernels over posting runs.

The query-time operators the reference lacks (index/Query.cpp:265-382
scores *every* matching doc).  Four kernels serve every query path:

- :func:`blockmax_topk_local` — block-max pruned, numpy-vectorized
  disjunctive top-k over one doc-range shard's compressed term runs,
  inside the Arrow UDF of distributed ``SearchEngine.search`` (see
  search.py).  Shards cover disjoint doc-id ranges, so global top-k =
  top-k of the union of shard top-ks.
- :func:`topk_from_scored` — disjunctive top-k over pre-scored runs:
  the interactive, expanded, facet-filtered and federated paths.
- :func:`boolean_topk_scored` — ``+required`` / optional / excluded
  top-k over pre-scored runs.  With only required runs it is the
  conjunctive AND (reference Query.cpp:349-372), so every conjunctive
  path, local and distributed, goes through it.
- :func:`synmax_run` — folds a synonym group into one pseudo-run.

Correctness contract: identical (doc_id, score) top-k — including
score-desc/doc-asc tie order — to exhaustive scoring.  Every selection
keeps all ties at the k-th score before the final sort, and pruning
uses strict ``upper bound < threshold`` so equal-score candidates are
never dropped.
"""

from __future__ import annotations

import numpy as np

from tse_spark import oracle
from tse_spark.operators import codec


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
    if len(docs) > k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        sel = scores >= kth
        docs, scores = docs[sel], scores[sel]
    cand = sorted(
        zip(docs.tolist(), scores.tolist()), key=lambda x: (-x[1], x[0])
    )
    return cand[:k]


def blockmax_topk_local(
    term_runs: list[tuple[float, bytes]],
    avgdl: float,
    k: int,
    bound_scale: float = 1.0,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Block-max pruned, numpy-vectorized top-k BM25 over one shard.
    ``term_runs`` = [(idf, blocks)].

    ``excluded`` (sorted unique doc ids — tombstones from
    plans/delete.py) masks decoded postings BEFORE theta seeding and
    final selection, so an excluded doc can neither appear in the
    result nor inflate the pruning threshold past a surviving doc's
    score.  Block max-scores keep covering deleted postings until
    compaction re-encodes — still valid upper bounds for the masked
    set, so pruning stays sound (merely a little conservative).

    Uses the per-block max-score skip metadata of classic block-max
    WAND (Ding & Suel), applied at BLOCK granularity with vectorized
    scoring — on a Python runtime a per-posting cursor loop costs ~1000x
    more per posting than a numpy pass, so decoding whole surviving
    blocks and aggregating with bincount wins unless pruning skips
    >99.9% of postings.

    Soundness of the pruning: theta is seeded with the k-th best
    single-term score of the highest-upper-bound term (every doc's
    total >= its single-term score, so the final k-th best total
    >= theta).  A block of term t is skipped only when
    ``idf_t * block_max + sum(other terms' maxima) < theta``; any doc in
    it has total < theta, so it is outside the true top-k, and its
    partial score (missing t's contribution) is also < theta, so it
    cannot displace a true top-k member either.  With this single-term
    seed the rule never fires, though: each other term's bound includes
    the seed term's maximum, which is >= theta, so every block is
    decoded.  A skip that pays needs a theta from multi-term totals.

    ``bound_scale`` >= 1 corrects stored block max-scores encoded with
    an OLDER, smaller avgdl: appends raise the live avgdl above the
    build's ``enc_avgdl`` (plans/append.py), and a federation avgdl
    override can do the same (plans/federate.py).  The idf-free BM25
    component ``tf(k1+1) / (tf + k1(1 - b + b*dl/avgdl))`` is increasing
    in avgdl, and its ratio between the live and the encoding avgdl is
    at most ``avgdl_now / avgdl_enc``; scaling every stored bound by
    that ratio keeps it an upper bound, so pruning stays sound.
    """
    runs = []
    for idf, blocks in term_runs:
        if not blocks:
            continue
        refs = codec.scan_blocks(blocks)
        if refs:
            tmax = idf * bound_scale * max(r.max_score for r in refs)
            runs.append((idf, blocks, refs, tmax))
    if not runs:
        return []

    # theta seed: fully score the term with the largest upper bound
    # (highest-idf terms give the strongest lower bound, and selective
    # terms are also the cheapest to score fully)
    seed = max(range(len(runs)), key=lambda i: runs[i][3])
    theta = float("-inf")
    seed_idf, seed_blocks, _, _ = runs[seed]
    s_docs, s_tfs, s_dls = codec.decode_all(seed_blocks)
    if excluded is not None and len(excluded) and len(s_docs):
        keep = ~_in_sorted(s_docs, excluded)
        s_docs, s_tfs, s_dls = s_docs[keep], s_tfs[keep], s_dls[keep]
    if len(s_docs) >= k:
        s_scores = _score_arrays(seed_idf, s_tfs, s_dls, avgdl)
        theta = float(np.partition(s_scores, len(s_scores) - k)[len(s_scores) - k])

    sum_tmax = sum(r[3] for r in runs)
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    for i, (idf, blocks, refs, tmax) in enumerate(runs):
        others = sum_tmax - tmax
        if i == seed:
            doc_parts.append(s_docs)
            score_parts.append(_score_arrays(seed_idf, s_tfs, s_dls, avgdl))
            continue
        keep = [
            r
            for r in refs
            if idf * bound_scale * r.max_score + others >= theta
        ]
        if not keep:
            continue
        d, t, dl = codec.decode_blocks(blocks, keep)
        if excluded is not None and len(excluded) and len(d):
            m = ~_in_sorted(d, excluded)
            d, t, dl = d[m], t[m], dl[m]
        doc_parts.append(d)
        score_parts.append(_score_arrays(idf, t, dl, avgdl))
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    uniq, inv = np.unique(docs, return_inverse=True)
    return _top_k(uniq, np.bincount(inv, weights=scores), k)


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
