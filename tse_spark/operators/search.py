"""Distributed BM25 query serving over posting shards.

Topology (replaces reference Query.cpp:59-82's whole-index-in-RAM map):

  1. broadcast the query terms; filter the postings table on term
     (parquet predicate pushdown — only the query's shard rows are read)
  2. groupBy(shard) + applyInPandas: decode every run, score it with
     numpy (wand._score_arrays) and select with
     wand.boolean_topk_scored, per doc-range shard — every term
     optional for disjunctive BM25, required for the conjunctive AND.
     Shards are disjoint doc ranges, so shard-local top-k lists compose
     exactly.  Like the reference, every matching doc is scored.
  3. global ORDER BY score DESC, doc_id LIMIT k (TakeOrderedAndProject)

``search_local`` (and its boolean / expanded twins) is the low-latency
path for interactive serving, and it starts no Spark job.  Posting
files are term-clustered (postings.merge_partials range-partitions by
(term, shard)) and written in row groups capped at ~64 KB
(postings.write_postings), so their parquet footers' term min/max act
as the term dictionary: a cache miss reads, on the driver, only the few
row groups whose range covers a query term (:class:`PostingFiles`),
whatever the index size, and top-k runs in-process over a driver LRU —
the analog of the reference's lookup from the term dictionary straight
into the inverted file, without reloading the index per request.
"""

from __future__ import annotations

import bisect
import itertools
import math
import time
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark import oracle
from tse_spark.operators import codec, postings as postings_mod, wand as wand_mod

RESULT_SCHEMA = "doc_id long, score double"


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def parse_boolean_query(
    query: str,
) -> tuple[list[str], list[str], list[str], list[str]]:
    """Split a web-style boolean query into
    ``(optional, required, excluded, phrases)``.

    Grammar (the classic search-box syntax the reference's CGI parser
    never grew, tse/Search.cpp takes the raw string as one bag of
    words): ``"..."`` spans are phrases (quotes never nest; an unclosed
    quote runs to the end of the string), and of the remaining
    whitespace-separated words a ``+`` prefix marks a required term, a
    ``-`` prefix an excluded term.  Bare ``+``/``-`` tokens are
    dropped.  Words are lowercased; per-bucket dedup/eligibility is the
    consumer's job (the engine routes each bucket through its own
    tokenizer so query and index obey one law)."""
    import re as _re

    phrases = [p.strip().lower() for p in _re.findall(r'"([^"]*)"', query)]
    phrases = [p for p in phrases if p]
    rest = _re.sub(r'"[^"]*"', " ", query)
    tail = rest.rsplit('"', 1)
    if len(tail) == 2:  # unclosed quote: trailing span is a phrase
        rest, p = tail
        p = p.strip().lower()
        if p:
            phrases.append(p)
    optional: list[str] = []
    required: list[str] = []
    excluded: list[str] = []
    for w in rest.split():
        if w.startswith("+"):
            bucket, w = required, w[1:]
        elif w.startswith("-"):
            bucket, w = excluded, w[1:]
        else:
            bucket = optional
        if w:
            bucket.append(w.lower())
    return optional, required, excluded, phrases


class PostingFiles:
    """Driver-side term lookup over an index's posting parquet files:
    the interactive cold fetch, with no Spark job.

    Posting dirs are written term-clustered (postings.merge_partials
    range-partitions by (term, shard)) in row groups capped at ~64 KB
    (postings.write_postings), so each row group's footer term min/max
    is a term-dictionary entry that points at a few dozen KB of blobs.
    The footers are read once, on the first lookup, into one directory
    per dir sorted by term min; a lookup bisects it for the row groups
    whose [min, max] covers a wanted term (a term's shard rows may
    straddle row groups and files), reads just those, and filters them
    in one pass.  A row group without statistics is always read, so a
    dir in the old hash layout (every file spans the whole vocabulary)
    serves the same rows, only slower; so does a dir in the old
    one-row-group-per-file layout, until compaction rewrites it."""

    COLUMNS = ["term", "shard", "df", "blocks"]

    def __init__(self, dirs: "list[str]"):
        self.dirs = list(dirs)
        # [(path, footer)], and per dir (los, reach, ranged, always):
        # ranged = [(term min, term max, file no, row group)] sorted by
        # term min, reach[i] = max term max over ranged[:i + 1], always
        # = [(file no, row group)] without statistics
        self._files: "list[tuple[str, pq.FileMetaData]] | None" = None
        self._index: "list[tuple[list, list, list, list]] | None" = None

    def _directory(self) -> "tuple[list, list]":
        if self._files is None:
            files, index = [], []
            for d in self.dirs:
                ranged, always = [], []
                for path in postings_mod.part_files(d):
                    md = pq.read_metadata(path)
                    col = md.schema.names.index("term")
                    for i in range(md.num_row_groups):
                        rg = md.row_group(i)
                        if rg.num_rows == 0:
                            continue
                        st = rg.column(col).statistics
                        if st is not None and st.has_min_max:
                            ranged.append((st.min, st.max, len(files), i))
                        else:
                            always.append((len(files), i))
                    files.append((path, md))
                ranged.sort()
                index.append(
                    (
                        [g[0] for g in ranged],
                        list(itertools.accumulate((g[1] for g in ranged), max)),
                        ranged,
                        always,
                    )
                )
            self._files, self._index = files, index
        return self._files, self._index

    def row_groups(self, terms: "list[str]") -> "dict[int, list[int]]":
        """file number (into the directory's file list) -> the sorted
        row groups a lookup of ``terms`` reads."""
        _, index = self._directory()
        hit: "set[tuple[int, int]]" = set()
        for los, reach, ranged, always in index:
            hit.update(always)
            for t in terms:
                # groups with term min <= t, walked down while some group
                # at or below may still reach t; in a term-clustered dir
                # that stops after the covering groups
                i = bisect.bisect_right(los, t) - 1
                while i >= 0 and reach[i] >= t:
                    if ranged[i][1] >= t:
                        hit.add(ranged[i][2:])
                    i -= 1
        out: "dict[int, list[int]]" = {}
        for f, i in sorted(hit):
            out.setdefault(f, []).append(i)
        return out

    def _read(self, terms: "list[str]", columns: "list[str]") -> "list[list]":
        """``columns`` (which must include ``term``) of every posting
        row of ``terms``, as one Python list per column: the covering
        row groups are read, concatenated and filtered once."""
        want = sorted(set(terms))
        files, _ = self._directory()
        tables = []
        for f, groups in self.row_groups(want).items():
            path, md = files[f]
            with pq.ParquetFile(path, metadata=md) as pf:
                tables.append(
                    pf.read_row_groups(groups, columns=columns, use_threads=False)
                )
        if not tables:
            return [[] for _ in columns]
        t = pa.concat_tables(tables)
        t = t.filter(pc.is_in(t["term"], value_set=pa.array(want, pa.string())))
        return [t[c].to_pylist() for c in columns]

    def rows(self, terms: "list[str]") -> "list[tuple[str, int, int, bytes]]":
        """(term, shard, df, blocks) of every posting row of ``terms``."""
        return list(zip(*self._read(terms, self.COLUMNS)))

    def dfs(self, terms: "list[str]") -> "dict[str, int]":
        """term -> df summed over its shard rows, for present terms;
        reads only the ``term`` and ``df`` columns, never blob bytes."""
        out: "dict[str, int]" = {}
        for term, df in zip(*self._read(terms, ["term", "df"])):
            out[term] = out.get(term, 0) + df
        return out


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        posting_dirs: "list[str]",
        n_docs: int,
        avgdl: float,
        dictionary: frozenset[bytes] = frozenset(),
        tombstones: "np.ndarray | None" = None,
    ):
        self.spark = spark
        # the Spark relation serves distributed search(); the files
        # under posting_dirs serve the interactive cache misses and
        # every df lookup
        self.postings = postings
        self.posting_files = PostingFiles(posting_dirs)
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.dictionary = dictionary
        # deleted doc ids (plans/delete.py): SORTED unique int64, masked
        # out of every serving path before top-k selection.  Corpus
        # stats stay the full-corpus values until compact_index folds
        # the deletes physically (the documented stale-stats law — the
        # same "filtering narrows the result set, not the statistics"
        # contract as search_filtered).  Held driver-side + broadcast:
        # the live tombstone set is assumed small relative to the
        # corpus; large delete backlogs should be compacted away.
        self._tomb: "np.ndarray | None" = None
        if tombstones is not None and len(tombstones):
            self._tomb = np.unique(
                np.asarray(tombstones, dtype=np.int64)
            )
        self._tomb_bc = None
        # term -> (df, merged doc-ascending posting blob): ONE bounded
        # LRU for the interactive path, filled lazily by one
        # footer-pruned file read per set of missing terms.  df rides
        # along with the shard rows (each shard row carries its df), so
        # the stats lookup costs no extra read.  df = 0 entries are
        # cached negatives (term absent).
        self._term_cache: "OrderedDict[str, tuple[int, bytes]]" = OrderedDict()
        self.posting_cache_max_terms = 65536
        # scored-posting cache: term -> (docs int32, scores float64).
        # A term's per-posting BM25 addend depends only on (idf, avgdl)
        # — fixed for this engine/index generation — so hot terms skip
        # varint decode AND scoring (together ~75% of
        # per-query time at a 2M-doc corpus); entries are ~2-4x the
        # blob size, so this LRU is BYTE-budgeted, not entry-counted —
        # the classic posting-cache-in-RAM design.
        self._decoded_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self._decoded_bytes = 0
        self.decoded_cache_budget = 512 << 20
        # optional SECOND cache tier shared across serving processes
        # (operators/servecache.py): consulted between the in-process
        # LRU and the posting file read, write-through on fills.  One
        # replica's cold miss warms the whole fleet; keyed by the index
        # snapshot so a commit can never serve stale bytes.
        self.shared_cache = None
        # optional THIRD tier: snapshot-keyed top-k RESULT cache
        # (servecache.ResultCache) — the Zipf head of a query log is
        # answered without touching postings at all; keyed like the
        # posting tier, so a commit rotates results out with it
        self.result_cache = None
        # Q13 (reference Query.cpp:233-261 appends a timestamped query
        # line): JSONL query log, enabled by setting a path
        self.query_log_path: str | None = None

    def _tomb_broadcast(self):
        """Lazy one-time broadcast of the tombstone array for the
        per-shard UDF paths (None when the index has no deletes)."""
        if self._tomb is None:
            return None
        if self._tomb_bc is None:
            self._tomb_bc = self.spark.sparkContext.broadcast(self._tomb)
        return self._tomb_bc

    def _log_query(self, query: str, k: int, n: int, t0: float) -> None:
        """Append one JSONL line.  Every ``*_local`` call logs exactly
        one, empty results included (``n_results: 0``): a query whose
        terms are all absent is the log's most useful signal.  ``ms`` is
        the wall time since ``t0``
        (``time.perf_counter()`` at the call's entry, so it covers
        analysis, every cache tier and the posting fetch)."""
        if not self.query_log_path:
            return
        import json

        ms = (time.perf_counter() - t0) * 1000.0
        with open(self.query_log_path, "a", encoding="utf-8") as f:
            f.write(
                json.dumps(
                    {
                        "ts": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                        "query": query,
                        "k": k,
                        "n_results": n,
                        "ms": round(ms, 2),
                    },
                    ensure_ascii=False,
                )
                + "\n"
            )

    def warm(self, preload_terms: list[str] | None = None) -> "SearchEngine":
        """Preload a hot-term list into the driver LRU (one
        footer-pruned posting file read for all of them).  Nothing is
        pinned in cluster memory: distributed :meth:`search` reads the
        term-range posting files with term pushdown, and the
        interactive ``*_local`` paths read cache misses straight from
        them (:class:`PostingFiles`).  The reference reloads the entire
        index from disk on every CGI request (Query.cpp:59-82).

        Deliberately does NOT collect the full term->df map: at
        10^12-doc scale the vocabulary is 10^8+ terms and a full-vocab
        driver collect is the thing that would not survive — df is read
        per set of cache-missing terms instead (:meth:`_df_map`)."""
        if preload_terms:
            self._term_entries(sorted(set(preload_terms)))
        return self

    # -- query analysis (same tokenizer + eligibility as the index side) --
    def query_terms(self, query: str) -> list[str]:
        toks = oracle.tokenize(query.encode("gb2312"), self.dictionary)
        return sorted(
            {t.decode("gb2312") for t in toks if oracle.eligible(t)}
        )

    def _df_map(self, terms: list[str]) -> dict[str, int]:
        """term -> document frequency (present terms only).  A term in
        the blob LRU costs nothing; the rest cost one footer-pruned read
        of the posting files' ``term`` and ``df`` columns
        (:meth:`PostingFiles.dfs`: no Spark job, no blob bytes).  df
        summed over shard rows is what term_stats stores, so every idf
        is the same.  This is also the federation hook: union df across
        member indexes needs stats only, never posting blobs."""
        out: dict[str, int] = {}
        missing: list[str] = []
        for t in terms:
            e = self._term_cache.get(t)
            if e is None:
                missing.append(t)
                continue
            self._term_cache.move_to_end(t)
            if e[0] > 0:
                out[t] = int(e[0])
        if missing:
            out.update(self.posting_files.dfs(missing))
        return out

    def _idf_map(self, terms: list[str]) -> dict[str, float]:
        """term -> idf for present terms (see :meth:`_df_map`)."""
        return {
            t: bm25_idf(self.n_docs, df)
            for t, df in self._df_map(terms).items()
        }

    def _shard_rows(self, terms: list[str]) -> DataFrame:
        return self.postings.filter(F.col("term").isin(terms)).select(
            "shard", "term", "df", "blocks"
        )

    def _shard_topk(
        self,
        k: int,
        idf: dict[str, float],
        required: "list[str]" = (),
        optional: "list[str]" = (),
        excluded: "list[str]" = (),
        groups: "list[list[str]]" = (),
        avgdl: float | None = None,
    ) -> DataFrame:
        """The per-shard scorer behind :meth:`search`,
        :meth:`search_boolean` and :meth:`search_expanded`.

        One pruned posting fetch covers every term with a role; terms
        absent from ``idf`` have no postings and are dropped.  Per
        doc-range shard, each run is decoded and scored with its idf and
        ``avgdl`` (this index's own by default), each synonym group in
        ``groups`` folds to one run by its per-doc MAX addend
        (wand.synmax_run), and wand.boolean_topk_scored selects: a doc
        must match every ``required`` term and no ``excluded`` term or
        tombstone, and scores the sum of its required, optional and
        group addends.  Exclusion is applied before selection, and an
        excluded term's postings can only mask docs of their own shard,
        so the shard top-ks compose exactly under the global
        ORDER BY score DESC, doc_id LIMIT k."""
        scoring = [*required, *optional, *(t for g in groups for t in g)]
        if any(t not in idf for t in required) or not any(
            t in idf for t in scoring
        ):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        # term -> role: a synonym group's ordinal, or req / opt / exc
        roles: dict = {t: i for i, g in enumerate(groups) for t in g}
        roles.update(dict.fromkeys(optional, "opt"))
        roles.update(dict.fromkeys(required, "req"))
        roles.update(dict.fromkeys(excluded, "exc"))
        plan = {t: (idf[t], r) for t, r in roles.items() if t in idf}
        b_plan = self.spark.sparkContext.broadcast(plan)
        b_tomb = self._tomb_broadcast()
        avgdl = self.avgdl if avgdl is None else avgdl
        n_req = len(required)

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            req, opt, grp, exc = [], [], {}, []
            for t, blob in zip(pdf["term"], pdf["blocks"]):
                i, role = b_plan.value[t]
                d, tf, dl = codec.decode_all(bytes(blob))
                if role == "exc":
                    exc.append(d)
                    continue
                run = (d, wand_mod._score_arrays(i, tf, dl, avgdl))
                if role == "req":
                    req.append(run)
                elif role == "opt":
                    opt.append(run)
                else:
                    grp.setdefault(role, []).append(run)
            if len(req) < n_req:
                # a required term has no postings in this doc range
                return pd.DataFrame({"doc_id": [], "score": []})
            opt += [wand_mod.synmax_run(rs) for rs in grp.values()]
            if b_tomb is not None:
                exc.append(b_tomb.value)
            ex = np.unique(np.concatenate(exc)) if exc else None
            res = wand_mod.boolean_topk_scored(req, opt, k, ex)
            return pd.DataFrame(
                {
                    "doc_id": [d for d, _ in res],
                    "score": [s for _, s in res],
                }
            )

        local = self._shard_rows(sorted(plan)).groupBy("shard").applyInPandas(
            per_shard, schema=RESULT_SCHEMA
        )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search(
        self, query: str, k: int = 10, conjunctive: bool = False,
        idf_override: dict | None = None,
        avgdl_override: float | None = None,
    ) -> DataFrame:
        """Distributed BM25 top-k (:meth:`_shard_topk`): every query
        term optional, or every term required when ``conjunctive``.

        ``idf_override``/``avgdl_override`` replace this index's own
        statistics — the federation hook (plans/federate.py): a member
        of a multi-index deployment must score with GLOBAL (df, n_docs,
        avgdl) or per-member rankings aren't comparable."""
        terms = self.query_terms(query)
        if idf_override is not None:
            idf = {t: idf_override[t] for t in terms if t in idf_override}
        else:
            idf = self._idf_map(terms)
        if avgdl_override is not None and avgdl_override <= 0:
            avgdl_override = None
        return self._shard_topk(
            k, idf,
            required=terms if conjunctive else [],
            optional=[] if conjunctive else terms,
            avgdl=avgdl_override,
        )

    def search_filtered(
        self, query: str, facet_rows: DataFrame, k: int = 10
    ) -> DataFrame:
        """Facet-restricted serving (the click on a facet sidebar row):
        BM25 over the query terms with results limited to the doc-id
        sets in ``facet_rows`` — one (shard, df, blocks) row per
        doc-range shard from :func:`tse_spark.operators.facets
        .load_facet_rows`, i.e. a partition-pruned scan of the facet
        sidecar.  The ranking law is identical to :meth:`search`
        (corpus-wide idf/avgdl): filtering narrows the RESULT SET, not
        the statistics, so this path shares ``bm25_filtered``'s oracle.

        The allowed set rides into each shard task as a pseudo-term row
        (:data:`facets.ALLOW_TERM` — '#' can't tokenize), unioned into
        the same pruned posting fetch: facet shards follow the posting
        shards' doc-range law, so the mask and the postings meet in the
        same task with no extra shuffle and no doc-id list ever visits
        the driver.  A shard with no allowed docs simply has no mask
        row and contributes nothing; per-shard top-k still composes
        exactly because shards stay disjoint."""
        from tse_spark.operators.facets import ALLOW_TERM

        terms = self.query_terms(query)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = self._idf_map(terms)
        if not idf:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        avgdl = self.avgdl
        b_idf = self.spark.sparkContext.broadcast(idf)
        b_tomb = self._tomb_broadcast()

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            allow, runs = [], []
            for t, blob in zip(pdf["term"], pdf["blocks"]):
                if t == ALLOW_TERM:
                    allow.append(codec.decode_all(bytes(blob))[0])
                    continue
                i = b_idf.value.get(t)
                if i is None:
                    continue
                d, tf, dl = codec.decode_all(bytes(blob))
                runs.append(
                    (d, wand_mod._score_arrays(i, tf, dl, avgdl))
                )
            if not allow or not runs:
                return pd.DataFrame({"doc_id": [], "score": []})
            al = np.unique(np.concatenate(allow))
            if b_tomb is not None:
                al = al[~wand_mod._in_sorted(al, b_tomb.value)]
            masked = []
            for d, s in runs:
                m = wand_mod._in_sorted(d, al)
                if m.any():
                    masked.append((d[m], s[m]))
            res = wand_mod.topk_from_scored(masked, k)
            return pd.DataFrame(
                {
                    "doc_id": [d for d, _ in res],
                    "score": [s for _, s in res],
                }
            )

        rows = self._shard_rows(sorted(idf)).unionByName(
            facet_rows.select(
                "shard",
                F.lit(ALLOW_TERM).alias("term"),
                "df",
                "blocks",
            )
        )
        local = rows.groupBy("shard").applyInPandas(
            per_shard, schema=RESULT_SCHEMA
        )
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def facet_counts(
        self, query: str, facet_rows: DataFrame
    ) -> DataFrame:
        """Index-only facet sidebar: per-(facet, value) counts of the
        docs matching ANY query term, computed entirely from index
        structures — the union of the query terms' posting doc sets
        intersected with each facet value's doc set inside each
        doc-range shard, partial counts summed across shards (disjoint
        ranges make the sum exact).  The documents table is never
        scanned at serving time; this is how engines keep the sidebar
        as cheap as the ranking.  Shares the declarative
        :func:`tse_spark.operators.textops.facet_counts` oracle.

        ``facet_rows`` is a (facet, value, shard, blocks) relation —
        pass the whole sidecar read (or one facet's directory) from
        :mod:`tse_spark.operators.facets`."""
        from tse_spark.operators.facets import ALLOW_TERM

        out_schema = "facet string, value string, n_docs long"
        terms = self.query_terms(query)
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        b_tomb = self._tomb_broadcast()

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            match_parts, frows = [], []
            for t, fc, v, blob in zip(
                pdf["term"], pdf["facet"], pdf["value"], pdf["blocks"]
            ):
                if t == ALLOW_TERM:
                    frows.append((fc, v, bytes(blob)))
                else:
                    match_parts.append(
                        codec.decode_all(bytes(blob))[0]
                    )
            if not match_parts or not frows:
                return pd.DataFrame(
                    {"facet": [], "value": [], "n_docs": []}
                )
            match = np.unique(np.concatenate(match_parts))
            if b_tomb is not None:
                match = match[~wand_mod._in_sorted(match, b_tomb.value)]
            fs, vs, ns = [], [], []
            for fc, v, blob in frows:
                d = codec.decode_all(blob)[0]
                n = int(wand_mod._in_sorted(d, match).sum())
                if n > 0:
                    fs.append(fc)
                    vs.append(v)
                    ns.append(n)
            return pd.DataFrame(
                {"facet": fs, "value": vs, "n_docs": ns}
            )

        rows = self._shard_rows(sorted(set(terms))).select(
            "shard",
            "term",
            F.lit(None).cast("string").alias("facet"),
            F.lit(None).cast("string").alias("value"),
            "blocks",
        ).unionByName(
            facet_rows.select(
                "shard",
                F.lit(ALLOW_TERM).alias("term"),
                F.col("facet").cast("string"),
                F.col("value").cast("string"),
                "blocks",
            )
        )
        partial = rows.groupBy("shard").applyInPandas(
            per_shard, schema=out_schema
        )
        return partial.groupBy("facet", "value").agg(
            F.sum("n_docs").alias("n_docs")
        )

    def _boolean_buckets(
        self, query: str
    ) -> tuple[list[str], list[str], list[str], bool]:
        """Parse + normalize a boolean query into
        ``(optional, required, excluded, contradiction)`` with every
        bucket routed through the index's own tokenizer (one law for
        query and index).  A term both required and excluded is a
        contradiction (no doc can satisfy it) — flagged so callers
        return empty; an optional term that is also excluded can never
        contribute (its docs are all masked), so it is dropped; an
        optional term that is also required is folded into required."""
        optional, required, excluded, phrases = parse_boolean_query(query)
        if phrases:
            raise ValueError(
                "quoted phrases are served by the positional index "
                "(operators/positions.py phrase_snippet_topk); "
                "search_boolean takes bare/+/- terms only"
            )
        req = self.query_terms(" ".join(required))
        exc = self.query_terms(" ".join(excluded))
        contradiction = bool(set(req) & set(exc))
        drop = set(req) | set(exc)
        opt = [t for t in self.query_terms(" ".join(optional)) if t not in drop]
        return opt, req, exc, contradiction

    def search_boolean(self, query: str, k: int = 10) -> DataFrame:
        """Distributed boolean serving (:meth:`_shard_topk`): ``+term``
        must match, ``-term`` must not, plain terms score optionally
        (disjunctive BM25 over required + optional — a required term
        both gates and scores).  One pruned posting fetch covers the
        scoring AND the excluded terms."""
        opt, req, exc, contradiction = self._boolean_buckets(query)
        if contradiction or not (opt or req):
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        idf = self._idf_map(sorted(set(opt) | set(req) | set(exc)))
        return self._shard_topk(
            k, idf, required=req, optional=opt, excluded=exc
        )

    def _expansion_buckets(
        self, query: str, synonyms: list[list[str]]
    ) -> tuple[list[str], list[list[str]]]:
        """Normalize query + synonym groups through the index tokenizer
        and split into (plain terms, active groups): a group is active
        only when the query matched one of its members; the group then
        replaces that member and scores by its best-matching present
        member (``#syn`` semantics — expansion follows the query, a
        synonym table entry the query never touched adds nothing)."""
        qterms = self.query_terms(query)
        groups = []
        claimed: set[str] = set()
        for g in synonyms:
            gt = self.query_terms(" ".join(g))
            if set(gt) & set(qterms):
                groups.append(gt)
                claimed |= set(gt)
        plain = [t for t in qterms if t not in claimed]
        return plain, groups

    def search_expanded(
        self, query: str, synonyms: list[list[str]], k: int = 10
    ) -> DataFrame:
        """Distributed synonym-expanded serving: each active synonym
        group contributes the MAX of its members' BM25 addends per doc
        (one concept never double-counts; each member scores with its
        own idf), plain terms sum as usual.  One pruned posting fetch
        covers all expanded terms; the group-max fold happens per shard
        on scored runs (:meth:`_shard_topk`) before the usual
        disjunctive top-k, so the expansion adds zero extra scans or
        shuffles.
        Oracle-parity twin: :func:`index_build.bm25_expanded_topk`."""
        plain, groups = self._expansion_buckets(query, synonyms)
        idf = self._idf_map(
            sorted(set(plain) | {t for g in groups for t in g})
        )
        return self._shard_topk(k, idf, optional=plain, groups=groups)

    def search_expanded_local(
        self, query: str, synonyms: list[list[str]], k: int = 10
    ) -> list[tuple[int, float]]:
        """Interactive twin of :meth:`search_expanded` over the
        scored-posting cache."""
        t0 = time.perf_counter()
        plain, groups = self._expansion_buckets(query, synonyms)
        allt = sorted(set(plain) | {t for g in groups for t in g})
        entries = self._term_entries(allt)
        present = [t for t in allt if entries[t][0] > 0]
        if not present:
            self._log_query(query, k, 0, t0)
            return []
        decoded = self._decoded_runs(present, entries)
        pset = set(present)
        runs = [decoded[t] for t in plain if t in pset]
        for g in groups:
            members = [decoded[t] for t in g if t in pset]
            if members:
                runs.append(wand_mod.synmax_run(members))
        out = wand_mod.topk_from_scored(runs, k, n_docs=self.n_docs)
        self._log_query(query, k, len(out), t0)
        return out

    def search_boolean_local(
        self, query: str, k: int = 10
    ) -> list[tuple[int, float]]:
        """Interactive twin of :meth:`search_boolean`, served from the
        scored-posting cache (the excluded terms' cached doc arrays are
        the exclusion mask — their scores are simply unused)."""
        t0 = time.perf_counter()
        opt, req, exc, contradiction = self._boolean_buckets(query)
        scoring = sorted(set(opt) | set(req))
        if contradiction or not scoring:
            self._log_query(query, k, 0, t0)
            return []
        entries = self._term_entries(sorted(set(scoring) | set(exc)))
        present = {t for t, (df, _) in entries.items() if df > 0}
        if any(t not in present for t in req) or not (
            present & set(scoring)
        ):
            self._log_query(query, k, 0, t0)
            return []
        decoded = self._decoded_runs(
            sorted(present & (set(scoring) | set(exc))), entries
        )
        req_runs = [decoded[t] for t in req]
        opt_runs = [decoded[t] for t in opt if t in present]
        exc_arrs = [decoded[t][0] for t in exc if t in present]
        ex = np.unique(np.concatenate(exc_arrs)) if exc_arrs else None
        out = wand_mod.boolean_topk_scored(req_runs, opt_runs, k, ex)
        self._log_query(query, k, len(out), t0)
        return out

    def _term_entries(self, terms: list[str]) -> dict[str, tuple[int, bytes]]:
        """(df, merged doc-ascending posting blob) per term, LRU-cached
        on the driver; ONE footer-pruned posting file read
        (:class:`PostingFiles`, no Spark job) for all cache-missing
        terms.  Shards are ascending disjoint doc-id ranges and runs
        are self-delimiting, so per-term shard blobs concatenate (in
        shard order) into one valid blob — one scoring pass per query
        instead of one per shard, and repeat terms skip the read
        entirely (the reference reloads the WHOLE index per request,
        Query.cpp:59-82; this keeps just the hot working set).  df rides
        along in the same rows, so stats cost no separate read; absent
        terms cache as (0, b'') negatives."""
        out: dict[str, tuple[int, bytes]] = {}
        missing: list[str] = []
        for t in terms:
            e = self._term_cache.get(t)
            if e is not None:
                self._term_cache.move_to_end(t)
                out[t] = e
            else:
                missing.append(t)
        if missing and self.shared_cache is not None:
            # shared tier: another replica's fill (or negative) serves
            # this one without a file read
            still = []
            for t in missing:
                e = self.shared_cache.get(t)
                if e is None:
                    still.append(t)
                    continue
                out[t] = e
                self._term_cache[t] = e
                while len(self._term_cache) > self.posting_cache_max_terms:
                    self._term_cache.popitem(last=False)
            missing = still
        if missing:
            by_term: dict[str, list[tuple[int, bytes]]] = {}
            dfs: dict[str, int] = {}
            for t, shard, df, blob in self.posting_files.rows(missing):
                by_term.setdefault(t, []).append((shard, blob))
                dfs[t] = dfs.get(t, 0) + int(df)
            for t in missing:
                blob = b"".join(b for _, b in sorted(by_term.get(t, [])))
                entry = (dfs.get(t, 0), blob)
                out[t] = entry
                self._term_cache[t] = entry
                if self.shared_cache is not None:
                    # write-through (atomic, immutable per snapshot key)
                    self.shared_cache.put(t, entry[0], entry[1])
                while len(self._term_cache) > self.posting_cache_max_terms:
                    self._term_cache.popitem(last=False)
        return out

    def _decoded_runs(
        self, terms: list[str], entries: dict[str, tuple[int, bytes]]
    ) -> dict[str, tuple]:
        """term -> (docs int32, scores float64) via the byte-budgeted
        LRU; a cache miss decodes the term's merged blob and scores it
        ONCE with this engine's fixed (idf, avgdl).  Tombstoned docs are
        dropped AT CACHE FILL, so every scored-cache consumer
        (search_local, boolean/expanded local, synmax) serves
        only surviving docs with zero per-query masking cost; the
        engine's tombstone set is fixed for its lifetime (delete_docs
        returns a fresh handle), so cached entries never go stale."""
        out: dict[str, tuple] = {}
        for t in terms:
            arrs = self._decoded_cache.get(t)
            if arrs is None:
                docs, tfs, dls = codec.decode_all(entries[t][1])
                if self._tomb is not None and len(docs):
                    m = ~wand_mod._in_sorted(docs, self._tomb)
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
                if len(docs) == 0 or docs.max() < 2**31:
                    docs = docs.astype(np.int32, copy=False)
                scores = wand_mod._score_arrays(
                    bm25_idf(self.n_docs, entries[t][0]), tfs, dls,
                    self.avgdl,
                )
                arrs = (docs, scores)
                self._decoded_cache[t] = arrs
                self._decoded_bytes += sum(a.nbytes for a in arrs)
            else:
                self._decoded_cache.move_to_end(t)
            out[t] = arrs
        # enforce the budget on EVERY access (a lowered budget must take
        # effect on hit-only traffic too); the current query's terms sit
        # at the LRU tail, so they are evicted last
        while (
            self._decoded_bytes > self.decoded_cache_budget
            and len(self._decoded_cache) > 1
        ):
            _, old = self._decoded_cache.popitem(last=False)
            self._decoded_bytes -= sum(a.nbytes for a in old)
        return out

    def search_local(
        self, query: str, k: int = 10, conjunctive: bool = False
    ) -> list[tuple[int, float]]:
        """Low-latency in-process serving: one footer-pruned read of the
        query's shard rows (stats + blobs together) from the posting
        files, then top-k on the driver with shard results merged."""
        t0 = time.perf_counter()
        terms = self.query_terms(query)
        if not terms:
            self._log_query(query, k, 0, t0)
            return []
        rkey = None
        if self.result_cache is not None:
            # canonical form is built AFTER segmentation, so surface
            # variants of the same term sequence share one entry
            mode = "and" if conjunctive else "or"
            rkey = self.result_cache.canonical(terms, k, mode)
            cached = self.result_cache.get(rkey)
            if cached is not None:
                self._log_query(query, k, len(cached), t0)
                return cached
        entries = self._term_entries(terms)
        idf = {
            t: bm25_idf(self.n_docs, df)
            for t, (df, _) in entries.items()
            if df > 0
        }
        if not idf or (conjunctive and len(idf) < len(terms)):
            if rkey is not None:  # negative results are snapshot-stable
                self.result_cache.put(rkey, [])
            self._log_query(query, k, 0, t0)
            return []
        present = sorted(idf)
        decoded = self._decoded_runs(present, entries)
        runs = [decoded[t] for t in present]
        if conjunctive:
            out = wand_mod.boolean_topk_scored(runs, [], k)
        else:
            out = wand_mod.topk_from_scored(runs, k, n_docs=self.n_docs)
        out = out[:k]
        if rkey is not None:
            self.result_cache.put(rkey, out)
        self._log_query(query, k, len(out), t0)
        return out
