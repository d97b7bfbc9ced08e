#!/usr/bin/env python
"""Cluster entry point: append new pages to an EXISTING index.

No existing posting or docs file is read, merged, or rewritten — the
append writes only new parquet files (new doc-range shards) plus a
refreshed term_stats and meta.json, so it costs O(delta), not
O(index).  See tse_spark/plans/append.py for the shard-boundary id
assignment.

    python -m zipfile -c /tmp/tse_spark.zip tse_spark
    spark-submit --py-files /tmp/tse_spark.zip scripts/append_index.py \
        --pages /data/new_pages_parquet \
        --index /data/tse_index
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="new pages parquet path")
    ap.add_argument("--index", required=True, help="existing index dir")
    ap.add_argument(
        "--dict", default=None,
        help="optional newline-separated dictionary file (GB2312 words)",
    )
    ap.add_argument(
        "--force-extract", action="store_true",
        help="re-derive text from html even if a text column exists",
    )
    args = ap.parse_args(argv)

    from tse_spark.plans import append as apnd
    from tse_spark.session import tune_runtime

    spark = tune_runtime(
        SparkSession.builder.appName("tse-index-append").getOrCreate()
    )

    if args.dict:
        with open(args.dict, "rb") as f:
            dictionary = frozenset(
                w.strip() for w in f.read().splitlines() if w.strip()
            )
    else:
        from tse_spark import fixtures

        dictionary = fixtures.mini_dict_bytes()

    t0 = time.time()
    handle = apnd.append_pages(
        spark, args.index, args.pages, dictionary,
        force_extract=args.force_extract,
    )
    print(
        json.dumps(
            {
                "n_docs": handle.n_docs,
                "avgdl": round(handle.avgdl, 4),
                "seconds": round(time.time() - t0, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
