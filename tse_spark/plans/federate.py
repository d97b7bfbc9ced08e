"""Multi-index federation: serve one query over N independent index
directories with GLOBAL statistics — the shard-of-shards layout a
10^12-document deployment actually runs.

One physical index has practical ceilings (build blast radius, object-
store prefix limits, per-region placement, team ownership); real
deployments run many member indexes — per crawl slice, per region, per
tenant — and need one ranking across them.  Naively unioning each
member's own top-k is WRONG: BM25 idf and length normalization depend
on (df, n_docs, avgdl), so the same (tf, dl) scores differently in
different members and per-member ranks aren't comparable.

The federation law: score every member with the UNION corpus's
statistics —

    n_docs  = sum of member n_docs
    avgdl   = sum of member total_dl / n_docs   (exact integer sums)
    df(t)   = sum of member df(t)

Then a federated query over url-disjoint members returns EXACTLY what
one index built over the union of their pages would return — identical
score sequence, identical urls per score group (pytest pins it); order
WITHIN an exact score tie follows each deployment's own doc-id
assignment, the one degree of freedom different id spaces cannot
share.  Members must be url-disjoint —
the natural sharding — or duplicates count twice, same as they would
in a sloppy union build.

Execution: each member runs its own per-shard top-k job with the
global stats injected (operators/search.py idf_override/avgdl_override),
members' results union (disjoint doc sets, so per-member top-k composes
exactly), one global TakeOrderedAndProject.  Per-member tombstones mask
as usual.  The interactive path merges driver-side over the members'
scored posting caches.  df aggregation costs one footer-pruned read of
each member's posting files (``term`` and ``df`` columns only) for the
terms missing from its blob LRU — at query time, with no Spark job and
never a full-vocabulary join.
"""

from __future__ import annotations

import bisect

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import search as se
from tse_spark.operators import wand as wand_mod
from tse_spark.plans import pipeline as pl

FED_SCHEMA = "member int, doc_id long, score double"


class FederatedIndex:
    def __init__(
        self,
        spark: SparkSession,
        out_dirs: list[str],
        dictionary: frozenset[bytes] = frozenset(),
    ):
        if not out_dirs:
            raise ValueError("FederatedIndex: pass at least one index dir")
        self.spark = spark
        self.handles = [
            pl.load_index(spark, d, dictionary) for d in out_dirs
        ]
        self.n_docs = sum(h.n_docs for h in self.handles)
        # exact integer token totals (meta.total_dl; float fallback for
        # legacy metas) -> the union avgdl a single build would compute
        self.total_dl = 0
        self._bases: list[int] = []
        base = 0
        for h in self.handles:
            import json
            import os

            with open(os.path.join(h.out_dir, "meta.json")) as f:
                m = json.load(f)
            self.total_dl += int(
                m.get("total_dl", round(float(m["avgdl"]) * int(m["n_docs"])))
            )
            self._bases.append(base)
            base += int(m["max_doc_id"]) + 1
        self.avgdl = (
            self.total_dl / self.n_docs if self.n_docs else 0.0
        )

    def _global_idf(self, terms: list[str]) -> dict[str, float]:
        """Union df per term from each member's :meth:`_df_map` (a
        footer-pruned read of the ``term`` and ``df`` columns for the
        terms missing from its blob LRU — never posting blobs; a hot
        term's blob can be megabytes while its df is one integer)."""
        df_g: dict[str, int] = {}
        for h in self.handles:
            for t, df in h.engine._df_map(terms).items():
                df_g[t] = df_g.get(t, 0) + int(df)
        return {
            t: se.bm25_idf(self.n_docs, df)
            for t, df in df_g.items()
            if df > 0
        }

    def search(
        self,
        query: str,
        k: int = 10,
        conjunctive: bool = False,
        members: list[int] | None = None,
    ) -> DataFrame:
        """Distributed federated top-k: per-member per-shard WAND with
        the global stats injected, union, global order.  Returns
        (member, doc_id, score) — doc ids are member-local.
        ``members`` restricts execution to a subset of member indexes
        (resource selection — see :meth:`search_selective`); global
        statistics ALWAYS come from every member, so a restricted run
        scores identically and can only drop candidates."""
        terms = self.handles[0].engine.query_terms(query)
        if not terms:
            return self.spark.createDataFrame([], FED_SCHEMA)
        idf = self._global_idf(terms)
        if not idf or (conjunctive and len(idf) < len(terms)):
            return self.spark.createDataFrame([], FED_SCHEMA)
        picked = (
            range(len(self.handles)) if members is None else members
        )
        out = None
        for mi in picked:
            h = self.handles[mi]
            part = h.engine.search(
                query, k, conjunctive,
                idf_override=idf, avgdl_override=self.avgdl,
            ).select(
                F.lit(mi).cast("int").alias("member"), "doc_id", "score"
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            return self.spark.createDataFrame([], FED_SCHEMA)
        return out.orderBy(
            F.desc("score"), F.asc("member"), F.asc("doc_id")
        ).limit(k)

    def member_scores(self, query: str) -> list[tuple[int, int]]:
        """Resource-selection score per member (ReDDE with full member
        statistics in hand): score(m) = sum over query terms of the
        member's df — the exact count of (term, doc) postings the
        member can contribute, i.e. ReDDE's sample-based relevant-doc
        estimate with the sample == the whole member.  Costs one
        footer-pruned df read per member (never posting blobs).
        Returns [(member, score)] sorted score-desc, ties by member."""
        terms = self.handles[0].engine.query_terms(query)
        out = []
        for mi, h in enumerate(self.handles):
            dfm = h.engine._df_map(terms) if terms else {}
            out.append((mi, sum(int(v) for v in dfm.values())))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    def search_selective(
        self,
        query: str,
        k: int = 10,
        n_members: int | None = None,
        min_score: int = 1,
        conjunctive: bool = False,
    ) -> DataFrame:
        """Shard-selected federated search: rank members by
        :meth:`member_scores`, run the query only on the top
        ``n_members`` (all, if None) whose score >= ``min_score``, with
        GLOBAL statistics still aggregated from every member.

        Scores are therefore identical to the full federation —
        selection drops candidates, never re-scores them — so when the
        skipped members' selection score is 0 (no query-term postings
        at all) the result EQUALS :meth:`search` exactly; with an
        aggressive ``n_members`` cut it is the standard
        selection-recall tradeoff (skipped mass is known: the scores).

        Why at 10^12 docs: a query fans out to every member index
        otherwise; df-mass selection answers 'which members can even
        contribute' from per-member term stats (integers, cached)
        before any posting row is read."""
        ranked = self.member_scores(query)
        cut = ranked if n_members is None else ranked[: int(n_members)]
        picked = sorted(mi for mi, s in cut if s >= int(min_score))
        return self.search(
            query, k, conjunctive=conjunctive, members=picked
        )

    def search_local(
        self, query: str, k: int = 10
    ) -> list[tuple[int, int, float]]:
        """Interactive federated serving over the members' posting
        caches: decode each member's runs once, score with the global
        stats, merge one top-k.  Returns [(member, doc_id, score)].
        Member doc-id spaces may collide, so runs are offset into
        disjoint ranges for the merge and mapped back after."""
        terms = self.handles[0].engine.query_terms(query)
        if not terms:
            return []
        idf = self._global_idf(terms)
        if not idf:
            return []
        runs = []
        for h, base in zip(self.handles, self._bases):
            entries = h.engine._term_entries(sorted(idf))
            tomb = h.engine._tomb
            for t, (df, blob) in entries.items():
                if df <= 0:
                    continue
                d, tf, dl = codec.decode_all(blob)
                if tomb is not None and len(d):
                    m = ~wand_mod._in_sorted(d, tomb)
                    d, tf, dl = d[m], tf[m], dl[m]
                runs.append(
                    (
                        d.astype(np.int64) + np.int64(base),
                        wand_mod._score_arrays(
                            idf[t], tf, dl, self.avgdl
                        ),
                    )
                )
        top = wand_mod.topk_from_scored(runs, k)
        out = []
        for doc, score in top:
            mi = bisect.bisect_right(self._bases, doc) - 1
            out.append((mi, int(doc - self._bases[mi]), score))
        return out
