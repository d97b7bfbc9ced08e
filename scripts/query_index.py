#!/usr/bin/env python
"""Cluster entry point: serve BM25 top-k queries from a built index.

    spark-submit --py-files /tmp/tse_spark.zip \
        scripts/query_index.py --index /data/tse_index \
        --k 10 "web search" "搜索引擎"

Prints one JSON line per query: {"query", "k", "ms", "results":
[[doc_id, score], ...]}.  --conjunctive requires every term to match
(reference Q7 AND semantics); default is disjunctive BM25.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--index", required=True,
        help="index dir (build_index.py --out); a comma-separated list "
        "serves FEDERATED over the members with union-corpus stats",
    )
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--page", type=int, default=0,
        help="result page (Q9 pagination: rows [page*k, (page+1)*k) of "
        "the top-(page+1)*k)",
    )
    ap.add_argument(
        "--cgi", action="store_true",
        help="treat queries as CGI-encoded (T6: '+' -> space, %%xx decode)",
    )
    ap.add_argument("--conjunctive", action="store_true")
    ap.add_argument(
        "--boolean", action="store_true",
        help="web-box boolean syntax: '+term' must match, '-term' must "
        "not, plain terms score optionally (quoted phrases are NOT "
        "accepted in this mode — drop the quotes or use the phrase "
        "operators)",
    )
    ap.add_argument("--dict", default=None)
    ap.add_argument(
        "--snapshot", type=int, default=None,
        help="serve AS OF this snapshot id (time travel; see "
        "maintain_index.py snapshots for the commit log)",
    )
    ap.add_argument(
        "--distributed", action="store_true",
        help="score with the per-shard Spark job instead of the "
        "low-latency driver path",
    )
    ap.add_argument(
        "--suggest", action="store_true",
        help="when a query returns fewer than k results, add 'did you "
        "mean' spelling suggestions per query term (levenshtein over "
        "the index vocabulary / term_stats)",
    )
    ap.add_argument(
        "--complete", metavar="PREFIX", default=None,
        help="typeahead mode: print the top-k vocabulary completions "
        "for PREFIX (by df, from the index term_stats) instead of "
        "running queries",
    )
    ap.add_argument(
        "--filter", metavar="FACET=VALUE", default=None,
        help="restrict results to one facet value's doc set from the "
        "facet sidecar (facets/ beside the index, see "
        "operators.facets.build_facet_shards) — e.g. --filter lang=en; "
        "scored with the per-shard distributed path",
    )
    ap.add_argument(
        "--facets", action="store_true",
        help="append index-only facet counts for each query's match "
        "set (the whole sidecar) to the output line",
    )
    ap.add_argument(
        "--mlt", type=int, default=None, metavar="DOC_ID",
        help="more-like-this mode: print the top-k documents related "
        "to DOC_ID, served from index artifacts only (tf checkpoint + "
        "term_stats keywords -> WAND), instead of running queries",
    )
    ap.add_argument(
        "--cache-root", default=None, metavar="DIR",
        help="attach the cross-process shared posting cache "
        "(operators.servecache): misses fill DIR, hits skip the "
        "Spark fetch — point every serving replica at one DIR so "
        "they warm each other; entries are snapshot-keyed, so a "
        "newer index commit is never served stale bytes",
    )
    ap.add_argument(
        "--result-cache-root", default=None, metavar="DIR",
        help="attach the snapshot-keyed top-k RESULT cache "
        "(operators.servecache.ResultCache, third serving tier): a "
        "repeated query is answered without touching postings; "
        "entries rotate with every index commit, so stale results "
        "are unreachable",
    )
    ap.add_argument(
        "--queries-file", default=None,
        help="UTF-8 file, one query per line (use for non-ASCII queries: "
        "spark-submit under a C locale mangles non-ASCII argv)",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    if args.k < 1:
        ap.error("--k must be >= 1")
    if args.queries_file:
        with open(args.queries_file, encoding="utf-8") as f:
            args.queries += [q.strip() for q in f if q.strip()]
    if not args.queries and not args.complete and args.mlt is None:
        ap.error(
            "no queries given (positional, --queries-file, --complete, "
            "or --mlt)"
        )

    from tse_spark.plans import pipeline as pl

    from tse_spark.session import tune_runtime

    spark = tune_runtime(
        SparkSession.builder.appName("tse-query").getOrCreate()
    )
    if args.dict:
        with open(args.dict, "rb") as f:
            dictionary = frozenset(
                w.strip() for w in f.read().splitlines() if w.strip()
            )
    else:
        from tse_spark import fixtures

        dictionary = fixtures.mini_dict_bytes()

    members = [d for d in args.index.split(",") if d]
    if len(members) > 1:
        # federated serving over N member indexes (plans/federate.py):
        # one ranking with union-corpus stats; results carry the member
        # ordinal alongside the member-local doc id
        if args.snapshot is not None:
            ap.error("--snapshot applies to a single index dir")
        for flag in ("boolean", "suggest", "complete", "filter", "facets"):
            if getattr(args, flag):
                ap.error(
                    f"--{flag} is not supported in federated "
                    "(multi-index) mode yet"
                )
        from tse_spark.plans import federate as fe

        f = fe.FederatedIndex(spark, members, dictionary)
        for q in args.queries:
            t0 = time.time()
            if args.distributed or args.conjunctive:
                res = [
                    (r.member, r.doc_id, r.score)
                    for r in f.search(
                        q, args.k, conjunctive=args.conjunctive
                    ).collect()
                ]
            else:
                res = f.search_local(q, args.k)
            print(
                json.dumps(
                    {
                        "query": q,
                        "k": args.k,
                        "members": len(members),
                        "ms": round((time.time() - t0) * 1000.0, 2),
                        "results": [
                            [m, d, round(s, 4)] for m, d, s in res
                        ],
                    },
                    ensure_ascii=False,
                )
            )
        return 0
    if args.snapshot is not None:
        from tse_spark.plans import snapshots as sn

        handle = sn.load_index_at(
            spark, args.index, args.snapshot, dictionary
        )
    else:
        handle = pl.load_index(spark, args.index, dictionary)
    if args.cache_root:
        handle.attach_shared_cache(args.cache_root)
    if args.result_cache_root:
        handle.attach_result_cache(args.result_cache_root)
    handle.engine.query_log_path = args.index.rstrip("/") + "/query_log.jsonl"
    if args.complete:
        from tse_spark.operators import textops

        rows = textops.prefix_complete(
            handle.term_stats, args.complete, k=args.k
        ).collect()
        print(
            json.dumps(
                {
                    "prefix": args.complete,
                    "completions": [[r["term"], r["df"]] for r in rows],
                },
                ensure_ascii=False,
            )
        )
    if args.mlt is not None:
        t0 = time.time()
        rows = handle.more_like_this(args.mlt, k=args.k).collect()
        print(
            json.dumps(
                {
                    "mlt": args.mlt,
                    "k": args.k,
                    "ms": round((time.time() - t0) * 1000, 2),
                    "results": [
                        [r["doc_id"], round(r["score"], 4)] for r in rows
                    ],
                },
                ensure_ascii=False,
            )
        )
    for q in args.queries:
        if args.cgi:
            from urllib.parse import unquote_plus

            q = unquote_plus(q)
        t0 = time.time()
        fetch = args.k * (args.page + 1)
        if args.filter:
            from tse_spark.operators import facets as fx

            fc, eq, fv = args.filter.partition("=")
            if not eq or not fc or not fv:
                ap.error("--filter expects FACET=VALUE, e.g. lang=en")
            rows = handle.engine.search_filtered(
                q, fx.load_facet_rows(spark, args.index, fc, fv), fetch
            ).collect()
            res = [[r["doc_id"], round(r["score"], 4)] for r in rows]
        elif args.boolean:
            if args.distributed:
                rows = handle.engine.search_boolean(q, fetch).collect()
                res = [[r["doc_id"], round(r["score"], 4)] for r in rows]
            else:
                res = [
                    [d, round(s, 4)]
                    for d, s in handle.engine.search_boolean_local(q, fetch)
                ]
        elif args.distributed:
            rows = handle.engine.search(
                q, fetch, conjunctive=args.conjunctive
            ).collect()
            res = [[r["doc_id"], round(r["score"], 4)] for r in rows]
        else:
            res = [
                [d, round(s, 4)]
                for d, s in handle.engine.search_local(
                    q, fetch, conjunctive=args.conjunctive
                )
            ]
        res = res[args.page * args.k : (args.page + 1) * args.k]
        out = {
            "query": q,
            "k": args.k,
            "page": args.page,
            "ms": round((time.time() - t0) * 1000, 2),
            "results": res,
        }
        if args.facets:
            from tse_spark.operators import facets as fx

            out["facets"] = {
                f"{r['facet']}={r['value']}": r["n_docs"]
                for r in handle.engine.facet_counts(
                    q, fx.load_facet_index(spark, args.index)
                ).collect()
            }
        if args.suggest and len(res) < args.k:
            from tse_spark.operators import textops

            out["suggestions"] = {
                t: [
                    r["term"]
                    for r in textops.spell_suggest(
                        handle.term_stats, t, k=3
                    ).collect()
                    if r["term"] != t
                ]
                for t in handle.engine.query_terms(q)
            }
        print(json.dumps(out, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
