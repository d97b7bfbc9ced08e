#!/usr/bin/env python
"""Cluster entry point: build the inverted index from a pages table.

Launch on a cluster (the session/master comes from spark-submit; no
master is hardcoded here):

    python -m zipfile -c /tmp/tse_spark.zip tse_spark
    spark-submit --py-files /tmp/tse_spark.zip \
        --conf spark.speculation=true \
        --conf spark.speculation.quantile=0.75 \
        --conf spark.speculation.multiplier=2 \
        scripts/build_index.py \
        --pages  /data/pages_parquet_or_iceberg_dir \
        --out    /data/tse_index \
        --shards 4096

The spark.speculation flags re-launch straggler tasks on shared
clusters; they belong HERE (cluster mode) because Spark never starts
the speculation scheduler under a local[N] master.

The same invocation at two cluster sizes (N and 4N executors) is the
scaling measurement; in the sandbox, bench.py reproduces it with
local[N] vs local[4N] subprocesses.

Resumable: re-running with the same --pages/--out skips completed
stages via the checkpoint manifest (add --no-resume to force rebuild).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="index output dir")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument(
        "--tokenizer", choices=["tse", "ws"], default="tse",
        help="tse = extraction automaton + FMM (GB2312); ws = whitespace",
    )
    ap.add_argument(
        "--dict", default=None,
        help="optional newline-separated dictionary file (GB2312 words)",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--force-extract", action="store_true",
        help="re-derive text from html even if a text column exists",
    )
    ap.add_argument(
        "--prune-m", type=int, default=None,
        help="impact-ordered static pruning: keep only each term's "
        "top-M postings by BM25 impact (build-only; append refuses "
        "pruned indexes)",
    )
    ap.add_argument(
        "--report", action="store_true",
        help="after the build, print the per-stage lineage/metrics "
        "and on-disk footprint report (one JSON line per row; dir rows "
        "carry files, bytes and parquet row_groups, so a posting dir "
        "with one row group per file, the older layout, shows)",
    )
    args = ap.parse_args(argv)

    from tse_spark.plans import pipeline as pl

    from tse_spark.session import tune_runtime

    spark = tune_runtime(
        SparkSession.builder.appName("tse-index-build").getOrCreate()
    )

    if args.dict:
        with open(args.dict, "rb") as f:
            dictionary = frozenset(
                w.strip() for w in f.read().splitlines() if w.strip()
            )
    else:
        from tse_spark import fixtures

        dictionary = fixtures.mini_dict_bytes()

    pipe = pl.IndexPipeline(
        spark,
        args.out,
        tokenizer=args.tokenizer,
        dictionary=dictionary,
        num_shards=args.shards,
        force_extract=args.force_extract,
        prune_m=args.prune_m,
    )
    t0 = time.time()
    handle = pipe.run_from_pages(args.pages, resume=not args.no_resume)
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "n_docs": handle.n_docs,
                "avgdl": round(handle.avgdl, 4),
                "seconds": round(dt, 3),
                "docs_per_sec": round(handle.n_docs / dt, 1),
                "stages": {
                    k: {
                        "seconds": v.get("seconds"),
                        "rows": v.get("rows"),
                        "resumed": v.get("resumed"),
                    }
                    for k, v in handle.manifest.stages.items()
                },
                "out": args.out,
            }
        )
    )
    if args.report:
        for r in pl.index_report(spark, args.out).collect():
            print(json.dumps(r.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
