"""Post-append index compaction (the maintenance half of append.py).

Every :func:`tse_spark.plans.append.append_pages` adds ``docs_delta_*``
and ``postings_delta_*`` directories and grows meta.json's dir lists —
after many small appends the postings read fans out over many tiny
files and per-term (term, shard) rows, the delta shards sit above the
base doc range with the original (now too narrow) ``shard_range``.
``compact_index`` merges it all back to the steady state:

1. all docs dirs      -> one ``docs_base_v{N}`` dir;
2. all postings dirs  -> one ``postings_base_v{N}`` dir, re-sharded to
   ``shard_range = ceil((max_doc_id+1)/num_shards)`` and re-encoded
   as one run per (term, shard) (operators/postings.reencode_shards);
3. term_stats recomputed from the new shards -> ``term_stats_base_v{N}``;
4. meta.json atomically republished with the reset dir lists.

Doc ids are NOT renumbered (downstream references survive, same
contract as append); only the doc-id -> shard bucketing changes.

Crash-atomicity and retry-safety: all three output dirs are versioned
by a deterministic ``compact_version`` counter and invisible until the
final atomic meta replace — a crash anywhere before it leaves the
uncompacted index fully intact, and a retry overwrites the same
version dirs.  Old dirs become unreferenced garbage after the publish;
they are left on disk by default (a concurrent reader may hold the old
meta) and removed by ``gc=True`` when the caller knows there are none.

Rankings are invariant: compaction moves postings between shards but
changes no tf/dl/df/n_docs/avgdl, and per-shard WAND composes exactly
over any disjoint doc-range decomposition (pytest: scores identical
before/after, and equal to a from-scratch rebuild).

With live tombstones (plans/delete.py) compaction additionally folds
the deletes physically — postings re-encode without the deleted ids,
the docs table drops them, df/n_docs/avgdl recompute exactly — and the
published index equals a from-scratch rebuild over the SURVIVORS
(rank-identical by url; surviving doc ids are preserved, a rebuild
would renumber).  Masked pre-compact serving uses full-corpus stats
(the documented stale-stats law), so scores move slightly at the fold:
delete -> compact is the moment the statistics catch up.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import postings as po
from tse_spark.plans import pipeline as pl


def compact_index(
    spark: SparkSession,
    out_dir: str,
    dictionary: frozenset[bytes] = frozenset(),
    gc: bool = False,
) -> "pl.IndexHandle":
    """Merge all append deltas back into single base dirs; see module
    docstring for the contract.  No-op (returns a fresh handle) when
    the index has no deltas, no tombstones and its posting dir is in
    the current layout (postings.in_posting_layout): a dir of the older
    layout is rewritten, so compaction also upgrades it."""
    meta_path = os.path.join(out_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    codec.check_format(meta, out_dir)
    docs_dirs = meta.get("docs_dirs", ["docs"])
    postings_dirs = meta.get("postings_dirs", ["postings"])
    avgdl = float(meta["avgdl"])
    tomb_dir = meta.get("tombstones_dir")
    steady = (
        len(docs_dirs) == 1
        and len(postings_dirs) == 1
        and po.in_posting_layout(os.path.join(out_dir, postings_dirs[0]))
    )
    if steady and not tomb_dir:
        return pl.load_index(spark, out_dir, dictionary)

    # fold tombstones physically (plans/delete.py step 3): postings
    # re-encode without the deleted ids, docs drop them, and the corpus
    # stats become exact again.  Tokenizing ONLY the dead docs recovers
    # their exact (doc count, token total) contribution — O(deleted)
    # extra work on top of the O(corpus) re-encode compaction already
    # does — so the published (n_docs, avgdl) equal a from-scratch
    # rebuild over the survivors (exact integer arithmetic throughout:
    # meta.total_dl minus the dead sum, divided as a rebuild would).
    tomb_df = None
    tomb_arr = None
    if tomb_dir:
        import numpy as np

        tomb_df = spark.read.parquet(
            os.path.join(out_dir, tomb_dir)
        ).select("doc_id")
        tomb_arr = np.unique(
            np.array(
                [r["doc_id"] for r in tomb_df.collect()], dtype=np.int64
            )
        )
        if len(tomb_arr) == 0:
            # defensively clear an empty set (delete_docs no longer
            # publishes one): without this, the stale tombstones_dir
            # key would force a full rewrite on EVERY later compact
            tomb_df = None
            tomb_arr = None
            meta.pop("tombstones_dir", None)
            meta.pop("n_tombstones", None)
            if steady:
                # otherwise steady-state: a meta-only commit clears the
                # key without rewriting anything
                from tse_spark.plans import snapshots as sn

                sn.publish_meta(
                    out_dir, meta, op="compact",
                    expect_snapshot_id=meta.get("snapshot_id", 0),
                )
                return pl.load_index(spark, out_dir, dictionary)

    version = int(meta.get("compact_version", 0)) + 1
    num_shards = int(meta.get("num_shards", 32))
    max_doc_id = int(meta["max_doc_id"])
    new_range = max(1, math.ceil((max_doc_id + 1) / num_shards))

    docs_out = f"docs_base_v{version}"
    postings_out = f"postings_base_v{version}"
    stats_out = f"term_stats_base_v{version}"

    all_docs = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in docs_dirs]
    )
    live_docs = all_docs
    if tomb_df is not None:
        live_docs = all_docs.join(tomb_df, "doc_id", "left_anti")
        # exact dead-doc stats via the SAME tokenize + doclen law as
        # the build (pipeline.build_tf_for/dl_per_doc_for): docs with
        # zero eligible tokens never counted toward n_docs/avgdl, so
        # only dead docs WITH tokens subtract
        dead_docs = all_docs.join(tomb_df, "doc_id", "semi")
        b_dict = spark.sparkContext.broadcast(dictionary)
        dead_tf, doc_major = pl.build_tf_for(
            dead_docs, meta.get("tokenizer", "tse"), b_dict
        )
        drow = (
            pl.dl_per_doc_for(dead_tf, doc_major)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dl").alias("sdl"),
            )
            .collect()[0]
        )
        n_dead = int(drow["n"])
        dead_dl = int(drow["sdl"] or 0)
        n0 = int(meta["n_docs"])
        total0 = int(meta.get("total_dl", round(avgdl * n0)))
        n_live = max(0, n0 - n_dead)
        total_live = max(0, total0 - dead_dl)
        meta["n_docs"] = n_live
        meta["total_dl"] = total_live
        avgdl = total_live / n_live if n_live else 0.0
        meta["avgdl"] = avgdl
    live_docs.write.mode("overwrite").parquet(
        os.path.join(out_dir, docs_out)
    )

    old_postings = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in postings_dirs]
    )
    po.write_postings(
        po.reencode_shards(
            old_postings, new_range, excluded=tomb_arr
        ),
        os.path.join(out_dir, postings_out),
    )

    new_postings = spark.read.parquet(os.path.join(out_dir, postings_out))
    po.term_stats(new_postings).write.mode("overwrite").parquet(
        os.path.join(out_dir, stats_out)
    )

    old_dirs = [
        meta.get("term_stats_dir", "term_stats"), *docs_dirs, *postings_dirs
    ]
    meta["docs_dirs"] = [docs_out]
    meta["postings_dirs"] = [postings_out]
    meta["term_stats_dir"] = stats_out
    meta["shard_range"] = new_range
    meta["compact_version"] = version
    entry = {"version": version, "merged_dirs": old_dirs}
    if tomb_arr is not None:
        # tombstones are folded: clear them from the published meta and
        # let the superseded dir join the unreferenced garbage
        old_dirs.append(tomb_dir)
        entry["folded_tombstones"] = int(len(tomb_arr))
        meta.pop("tombstones_dir", None)
        meta.pop("n_tombstones", None)
    meta.setdefault("compactions", []).append(entry)
    # publish LAST: the snapshot-stamped atomic replace
    # (plans/snapshots.py) is the only step that makes the compacted
    # dirs visible (the old ones stay readable via their snapshots
    # until vacuum_index expires them)
    from tse_spark.plans import snapshots as sn

    sn.publish_meta(
        out_dir, meta, op="compact",
        expect_snapshot_id=meta.get("snapshot_id", 0),
    )

    if gc:
        for d in old_dirs:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return pl.load_index(spark, out_dir, dictionary)
