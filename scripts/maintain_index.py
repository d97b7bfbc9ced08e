#!/usr/bin/env python
"""Cluster entry point: index lifecycle maintenance — the operations a
long-lived 10^12-doc index needs between builds.

    python -m zipfile -c /tmp/tse_spark.zip tse_spark
    spark-submit --py-files /tmp/tse_spark.zip scripts/maintain_index.py \
        --index /data/tse_index snapshots
    ... delete --urls-file takedown.txt
    ... delete --doc-ids 17,23,99
    ... compact
    ... vacuum --keep 2 [--dry-run]

Subcommands:
  snapshots  print the commit log (snapshot id, op, n_docs, dirs)
  diff       what changed between two snapshots (ops, doc/dir deltas)
  delete     tombstone urls (newline file) and/or doc ids; O(delta)
  compact    fold append deltas + tombstones into fresh base dirs;
             also rewrites posting dirs of the older layout (one
             snappy row group per part file) into the current one
             (zstd, ~64 KB row groups), which cold lookups read faster
  vacuum     expire old snapshots, remove dirs only they referenced
  vacuum-cache  sweep the shared serving cache (query_index
             --cache-root): drop superseded snapshot keys, keep the
             current key within --budget-mb by recency
  absorb     O(segment) append of a pre-built index into --index
             (no re-tokenization, target bytes untouched)
  merge      fold other independently built segments into a NEW
             index dir without re-tokenizing anything (--with B
             [--with C ...] --out merged — N segments, ONE re-encode
             pass; see tse_spark/plans/merge.py)

Every mutating subcommand commits through the snapshot-stamped atomic
meta publish (tse_spark/plans/snapshots.py), so each run appends one
auditable entry to the index's commit log and `snapshots` shows it.
"""

from __future__ import annotations

import argparse
import json
import sys


def _dictionary(path: str | None) -> frozenset[bytes]:
    if not path:
        return frozenset()
    with open(path, "rb") as f:
        return frozenset(
            w.strip() for w in f.read().splitlines() if w.strip()
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True, help="existing index dir")
    ap.add_argument(
        "--dict", default=None,
        help="dictionary file (needed by compact on FMM-tokenized indexes)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("snapshots")
    d = sub.add_parser("delete")
    d.add_argument(
        "--urls-file", default=None,
        help="newline-separated urls to tombstone",
    )
    d.add_argument(
        "--doc-ids", default=None, help="comma-separated doc ids"
    )
    sub.add_parser(
        "compact",
        help="fold append deltas + tombstones into fresh base dirs; "
        "rewrites older-layout posting dirs (one row group per file) "
        "into zstd ~64 KB row groups",
    )
    df = sub.add_parser("diff")
    df.add_argument("--from", dest="from_id", type=int, required=True)
    df.add_argument("--to", dest="to_id", type=int, required=True)
    v = sub.add_parser("vacuum")
    v.add_argument("--keep", type=int, default=2)
    v.add_argument("--dry-run", action="store_true")
    vc = sub.add_parser("vacuum-cache")
    vc.add_argument(
        "--cache-root", required=True,
        help="shared serving-cache dir (query_index --cache-root)",
    )
    vc.add_argument(
        "--budget-mb", type=int, default=1024,
        help="byte budget for the CURRENT snapshot's entries; "
        "superseded snapshot dirs are always dropped",
    )
    qz_p = sub.add_parser(
        "quantize",
        help="(re)build the impact-quantized serving sidecar "
        "(qpostings/ + qpostings_meta.json, operators.quantize): "
        "8-bit integer impact codes next to the float WAND tier; "
        "snapshot-gated, so rerun after every commit",
    )
    qz_p.add_argument("--bits", type=int, default=8)
    mg_p = sub.add_parser(
        "merge",
        help="fold another independently built segment into a NEW "
        "index dir (plans/merge.py): --index is segment A (ids "
        "survive), --with is segment B (ids lift above A), --out "
        "receives the merged index; no documents are re-tokenized",
    )
    mg_p.add_argument(
        "--with", dest="with_dirs", required=True, action="append",
        help="segment to fold in; repeat for an N-way one-pass merge",
    )
    mg_p.add_argument("--out", required=True)
    mg_p.add_argument("--num-shards", type=int, default=None)
    mg_p.add_argument(
        "--skip-url-check", action="store_true",
        help="caller vouches the segments are url-disjoint",
    )
    mg_p.add_argument(
        "--reconcile", action="store_true",
        help="segments may share urls: latest warc_ts per url wins, "
        "superseded copies drop physically in the same pass",
    )
    ab_p = sub.add_parser(
        "absorb",
        help="O(segment) append of a PRE-BUILT index into --index: "
        "the target's bytes are never rewritten, the segment is "
        "never re-tokenized (plans/merge.absorb_segment)",
    )
    ab_p.add_argument("--segment", required=True)
    args = ap.parse_args(argv)

    from tse_spark.plans import snapshots as sn

    if args.cmd == "snapshots":
        for s in sn.list_snapshots(args.index):
            print(
                json.dumps(
                    {
                        "snapshot_id": s["snapshot_id"],
                        "op": s.get("snapshot_op"),
                        "n_docs": s.get("n_docs"),
                        "n_tombstones": s.get("n_tombstones", 0),
                        "postings_dirs": s.get(
                            "postings_dirs", ["postings"]
                        ),
                    }
                )
            )
        return 0
    if args.cmd == "diff":
        print(json.dumps(sn.snapshot_diff(args.index, args.from_id, args.to_id)))
        return 0
    if args.cmd == "vacuum":
        report = sn.vacuum_index(
            args.index, keep=args.keep, dry_run=args.dry_run
        )
        print(json.dumps({"dry_run": args.dry_run, **report}))
        return 0
    if args.cmd == "vacuum-cache":
        from tse_spark.operators import servecache as sc

        with open(f"{args.index}/meta.json") as f:
            key = sc.cache_key(json.load(f))
        report = sc.vacuum_cache(
            args.cache_root, key, budget_bytes=args.budget_mb << 20
        )
        print(json.dumps({"current_key": key, **report}))
        return 0

    from pyspark.sql import SparkSession

    from tse_spark.session import tune_runtime

    spark = tune_runtime(
        SparkSession.builder.appName(
            f"tse-index-{args.cmd}"
        ).getOrCreate()
    )
    dictionary = _dictionary(args.dict)
    if args.cmd == "quantize":
        from tse_spark.operators import quantize as qz
        from tse_spark.plans import pipeline as pl

        h = pl.load_index(spark, args.index, dictionary)
        e = h.engine
        m = qz.max_impact(e.postings, e.n_docs, e.avgdl)
        qz.write_quantized_index(
            qz.quantize_shards(
                e.postings, e.n_docs, e.avgdl, bits=args.bits, m=m
            ),
            args.index,
            m,
            args.bits,
        )
        _qp, qmeta = qz.load_quantized_index(spark, args.index)
        print(json.dumps({"cmd": "quantize", **qmeta}))
        return 0
    if args.cmd == "absorb":
        from tse_spark.plans import merge as mmod

        h = mmod.absorb_segment(
            spark, args.index, args.segment, dictionary
        )
        print(
            json.dumps(
                {
                    "cmd": "absorb",
                    "n_docs": h.n_docs,
                    "avgdl": h.avgdl,
                    "snapshot_id": h.meta.get("snapshot_id"),
                }
            )
        )
        return 0
    if args.cmd == "merge":
        from tse_spark.plans import merge as mmod

        if args.reconcile:
            h = mmod.reconcile_merge(
                spark, [args.index, *args.with_dirs], args.out,
                dictionary, num_shards=args.num_shards,
            )
        else:
            h = mmod.merge_indexes_many(
                spark, [args.index, *args.with_dirs], args.out,
                dictionary, num_shards=args.num_shards,
                check_url_disjoint=not args.skip_url_check,
            )
        print(
            json.dumps(
                {
                    "cmd": "merge",
                    "out": args.out,
                    "n_docs": h.n_docs,
                    "avgdl": h.avgdl,
                    "snapshot_id": h.meta.get("snapshot_id"),
                }
            )
        )
        return 0
    if args.cmd == "delete":
        from tse_spark.plans import delete as dmod

        urls = None
        if args.urls_file:
            with open(args.urls_file) as f:
                urls = [u.strip() for u in f if u.strip()]
        ids = (
            [int(x) for x in args.doc_ids.split(",") if x.strip()]
            if args.doc_ids
            else None
        )
        dmod.delete_docs(
            spark, args.index, urls=urls, doc_ids=ids,
            dictionary=dictionary,
        )
    elif args.cmd == "compact":
        from tse_spark.plans import compact as cmod

        cmod.compact_index(spark, args.index, dictionary)
    with open(f"{args.index}/meta.json") as f:
        meta = json.load(f)
    print(
        json.dumps(
            {
                "snapshot_id": meta.get("snapshot_id"),
                "op": meta.get("snapshot_op"),
                "n_docs": meta.get("n_docs"),
                "n_tombstones": meta.get("n_tombstones", 0),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
