"""Index integrity audit (fsck): decode everything, verify every
published invariant.

The reference has no checker at all — a corrupted inverted file is
discovered at serving time (tse/SearchCGI.cpp segfaults or returns
garbage).  At 10^12 documents an operator needs a maintenance job that
PROVES an index state is internally consistent after any lifecycle
step (build / append / upsert / delete / compact / GC), before traffic
moves to it.  ``fsck_index`` is that job:

- one full vectorized decode of every published posting shard
  (operators/postings.decode_postings — the documented O(index) audit
  path, embarrassingly parallel over shard files);
- recomputes per-term stats from the decoded shards and compares them
  against the PUBLISHED term_stats dir by full relational equality
  (catches stale sidecars — the failure mode the facet-repair plan
  exists for);
- structural invariants: every meta-listed dir present, decoded doc
  ids within [0, max_doc_id], no duplicate (term, doc_id) posting,
  one consistent dl per doc, tombstones within the id space, the
  snapshot log's archived copy of the CURRENT snapshot byte-equal to
  meta.json (a diverged archive means someone edited state outside
  the commit protocol).

Returns ONE report row; flags are int64 (1 = invariant holds) so the
row is portable across engines.  All heavy work is distributed —
only final scalars reach the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import postings as po

REPORT_SCHEMA = (
    "n_docs long, n_terms long, n_postings long, max_posting_doc_id long,"
    " n_tombstones long, dirs_ok long, stats_ok long, ids_ok long,"
    " pairs_ok long, dl_ok long, n_docs_ok long, tombstones_ok long,"
    " snapshot_ok long"
)


def fsck_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit the index at ``out_dir``; see the module docstring.  Never
    mutates anything."""
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    codec.check_format(meta, out_dir)

    listed = list(meta.get("postings_dirs", ["postings"]))
    listed.append(meta.get("term_stats_dir", "term_stats"))
    listed += meta.get("docs_dirs", [])
    if meta.get("tombstones_dir"):
        listed.append(meta["tombstones_dir"])
    dirs_ok = all(os.path.exists(os.path.join(out_dir, d)) for d in listed)

    postings = spark.read.parquet(
        *[
            os.path.join(out_dir, d)
            for d in meta.get("postings_dirs", ["postings"])
        ]
    )
    dec = po.decode_postings(postings)

    # ONE aggregate over ONE decode pass — the decode is the dominant
    # audit cost, so every invariant that can fold into this job does:
    # dl consistency is distinct (doc, dl) == distinct doc (a doc with
    # two different dls inflates only the pair count)
    row = dec.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_distinct("term").alias("n_terms"),
        F.count(F.lit(1)).alias("n_postings"),
        F.max("doc_id").alias("max_id"),
        F.min("doc_id").alias("min_id"),
        F.count_distinct("term", "doc_id").alias("n_pairs"),
        F.count_distinct("doc_id", "dl").alias("n_doc_dls"),
    ).collect()[0]
    dl_bad = int(row["n_doc_dls"]) - int(row["n_docs"])

    # published stats == stats recomputed from the shards (exact
    # relational equality, both directions)
    published = spark.read.parquet(
        os.path.join(out_dir, meta.get("term_stats_dir", "term_stats"))
    )
    recomputed = po.term_stats(postings)
    cols = sorted(set(published.columns) & set(recomputed.columns))
    a, b = published.select(cols), recomputed.select(cols)
    stats_ok = (
        a.exceptAll(b).limit(1).count() == 0
        and b.exceptAll(a).limit(1).count() == 0
    )

    max_doc_id = int(meta.get("max_doc_id", row["max_id"] or 0))
    ids_ok = row["n_postings"] == 0 or (
        int(row["min_id"]) >= 0 and int(row["max_id"]) <= max_doc_id
    )

    n_tomb = 0
    tombstones_ok = True
    if meta.get("tombstones_dir"):
        tomb = spark.read.parquet(
            os.path.join(out_dir, meta["tombstones_dir"])
        )
        trow = tomb.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        ).collect()[0]
        n_tomb = int(trow["n"])
        tombstones_ok = (
            n_tomb == int(meta.get("n_tombstones", n_tomb))
            and (n_tomb == 0 or (trow["mn"] >= 0 and trow["mx"] <= max_doc_id))
        )

    snapshot_ok = True
    sid = meta.get("snapshot_id")
    if sid is not None:
        arch = os.path.join(out_dir, "snapshots", f"v{sid}.json")
        try:
            with open(arch) as f:
                snapshot_ok = json.load(f) == meta
        except (OSError, ValueError):
            snapshot_ok = False

    report = (
        int(row["n_docs"]),
        int(row["n_terms"]),
        int(row["n_postings"]),
        int(row["max_id"] if row["max_id"] is not None else -1),
        n_tomb,
        int(dirs_ok),
        int(stats_ok),
        int(ids_ok),
        int(row["n_postings"] == row["n_pairs"]),
        int(dl_bad == 0),
        # an impact-pruned index legitimately drops every posting of
        # some docs — decoded coverage can only be bounded above
        int(
            row["n_docs"] <= int(meta["n_docs"])
            if meta.get("prune_m") is not None
            else row["n_docs"] == int(meta["n_docs"])
        ),
        int(tombstones_ok),
        int(snapshot_ok),
    )
    return spark.createDataFrame([report], REPORT_SCHEMA)
