#!/usr/bin/env python
"""Cluster entry point: batch retrieval — run a TABLE of queries
against an index in one job and write ranked results (plus optional
offline eval metrics) as parquet.

    python -m zipfile -c /tmp/tse_spark.zip tse_spark
    spark-submit --py-files /tmp/tse_spark.zip scripts/batch_search.py \
        --index /data/tse_index \
        --queries /data/queries_parquet \
        --out /data/results_parquet \
        [--k 10] [--require-all] \
        [--qrels /data/qrels_parquet --metrics-out /data/metrics_parquet]

``--queries`` is a parquet table (query_id long, text string); results
land as (query_id, doc_id, score, rank).  With ``--qrels`` (query_id,
doc_id binary relevance) the recall/MRR/NDCG@k per query are written
too.  One pruned index pass serves the whole batch — see
tse_spark/operators/batchsearch.py for the plan.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True, help="index dir")
    ap.add_argument(
        "--queries", required=True,
        help="parquet of (query_id long, text string)",
    )
    ap.add_argument("--out", required=True, help="results parquet path")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--require-all", action="store_true")
    ap.add_argument(
        "--no-broadcast-queries", action="store_true",
        help="shuffle-join the query terms instead of broadcasting "
        "(batches whose term table outgrows broadcast)",
    )
    ap.add_argument("--qrels", default=None, help="(query_id, doc_id) parquet")
    ap.add_argument("--metrics-out", default=None)
    ap.add_argument("--dict", default=None)
    args = ap.parse_args(argv)
    if args.k < 1:
        ap.error("--k must be >= 1")

    from pyspark.sql import SparkSession

    from tse_spark.operators import batchsearch as bs
    from tse_spark.plans import pipeline as pl
    from tse_spark.session import tune_runtime

    spark = tune_runtime(
        SparkSession.builder.appName("tse-batch-search").getOrCreate()
    )
    dictionary = frozenset()
    if args.dict:
        with open(args.dict, "rb") as f:
            dictionary = frozenset(
                w.strip() for w in f.read().splitlines() if w.strip()
            )
    h = pl.load_index(spark, args.index, dictionary)
    with open(f"{args.index}/meta.json") as f:
        meta = json.load(f)
    from tse_spark.plans import delete as dmod

    tomb = (
        dmod.load_tombstones(spark, args.index)
        if meta.get("tombstones_dir")
        else None
    )
    queries = spark.read.parquet(args.queries)
    t0 = time.time()
    results = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, queries,
        k=args.k, require_all=args.require_all,
        broadcast_queries=not args.no_broadcast_queries,
        tombstones=tomb,
        tokenizer=meta.get("tokenizer", "ws"),
        dictionary=dictionary,
    )
    results.write.mode("overwrite").parquet(args.out)
    out = {
        "out": args.out,
        "k": args.k,
        "seconds": round(time.time() - t0, 1),
    }
    if args.qrels and args.metrics_out:
        qrels = spark.read.parquet(args.qrels)
        bs.retrieval_metrics(
            spark.read.parquet(args.out), qrels, k=args.k
        ).write.mode("overwrite").parquet(args.metrics_out)
        out["metrics_out"] = args.metrics_out
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
