"""Document deletion (takedown) via tombstones — the missing third of
the index's Iceberg-style maintenance triangle (append.py grows it,
compact.py folds it, delete.py shrinks it).

The reference engine has no deletion at all (its index directories are
write-once; tse/DataEngine.cpp rebuilds from scratch) — a takedown /
right-to-be-forgotten request against a trillion-document index cannot
wait for a rebuild, so this is new surface, designed Iceberg-style:

1. ``delete_docs`` resolves urls/doc ids to a tombstone set, writes it
   to a versioned ``tombstones_v{N}`` parquet dir (overwrite mode —
   a retried delete rewrites the same bytes) and republishes meta.json
   atomically: O(tombstones) work, the index data files are untouched.
2. Serving masks tombstoned ids everywhere (operators/search.py):
   distributed per-shard WAND, the local scored-posting cache (masked
   at cache fill — zero per-query cost), boolean, synonym-expanded,
   facet-filtered and facet-count paths.  Corpus stats (n_docs, avgdl,
   df) stay the full-corpus values until compaction — the SAME
   "filtering narrows the result set, not the statistics" law as
   facet-filtered serving, so the masked top-k is exactly the full
   ranking with tombstoned docs removed (oracle-expressible, and an
   excluded doc can never displace a survivor: masks apply before
   every top-k selection in wand.py's serving kernels).
3. ``compact_index`` (plans/compact.py) folds tombstones physically:
   postings re-encode without the deleted ids, the docs table drops
   them, term_stats/df recompute, and n_docs/avgdl become EXACT again
   — equal to a from-scratch rebuild over the survivors (pytest:
   rank-identical by url), because meta tracks the exact integer token
   total ``total_dl`` and compaction tokenizes ONLY the dead docs
   (O(deleted), not O(corpus)) to subtract their contribution.

Contract notes:
- doc ids are never reused; ``max_doc_id`` keeps covering deleted ids
  so append bases stay disjoint forever.
- a deleted url stays excluded until compaction REMOVES its doc row;
  only after that can a re-crawl of the url re-enter via append
  (append's url anti-join sees the live docs dirs).
- the tombstone set rides driver-side + broadcast at serving time:
  keep it small relative to the corpus and compact away large
  backlogs (the same discipline as append deltas).
- phrase/positional serving (operators/positions.py) reads its own
  position table; pass ``excluded=load_tombstones(spark, out_dir)`` to
  its serving functions (they anti-join before any top-k cut) and
  rebuild the position table after compaction to remove docs
  physically.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark.plans import pipeline as pl


def _load_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta.json")) as f:
        return json.load(f)


def _publish_meta(out_dir: str, meta: dict) -> None:
    """Snapshot-stamped atomic commit (plans/snapshots.py) — kept as a
    module-level indirection so tests can simulate a crash here.
    Optimistically guarded: commits only if the snapshot this delete
    loaded is still current (ConcurrentCommit otherwise)."""
    from tse_spark.plans import snapshots as sn

    sn.publish_meta(
        out_dir, meta, op="delete",
        expect_snapshot_id=meta.get("snapshot_id", 0),
    )


def load_tombstones(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live tombstone set as a (doc_id long) relation — empty when
    the index has none."""
    meta = _load_meta(out_dir)
    if not meta.get("tombstones_dir"):
        return spark.createDataFrame([], "doc_id long")
    return spark.read.parquet(
        os.path.join(out_dir, meta["tombstones_dir"])
    ).select("doc_id")


def delete_docs(
    spark: SparkSession,
    out_dir: str,
    urls: list[str] | None = None,
    doc_ids: list[int] | None = None,
    dictionary: frozenset[bytes] = frozenset(),
    gc: bool = False,
) -> "pl.IndexHandle":
    """Tombstone documents by url and/or doc id; see module docstring
    for the full contract.  Returns a fresh handle whose engine masks
    the new set on every serving path.  Idempotent: re-deleting an
    already-tombstoned set is a no-op (no new version is written).
    Crash-atomic: the versioned tombstone dir is invisible until the
    meta.json replace; ``gc=True`` removes the superseded dir (leave
    it for concurrent readers otherwise)."""
    if not urls and not doc_ids:
        raise ValueError("delete_docs: pass urls and/or doc_ids")
    meta = _load_meta(out_dir)
    max_id = int(meta["max_doc_id"])

    parts: list[DataFrame] = []
    if doc_ids:
        ids = sorted({int(i) for i in doc_ids if 0 <= int(i) <= max_id})
        if ids:
            parts.append(
                spark.createDataFrame(
                    [(i,) for i in ids], "doc_id long"
                )
            )
    if urls:
        docs_dirs = meta.get("docs_dirs", ["docs"])
        paths = [os.path.join(out_dir, d) for d in docs_dirs]
        if not all(os.path.exists(p) for p in paths):
            raise ValueError(
                f"delete_docs: index at {out_dir} has no persisted docs "
                f"dirs {docs_dirs} — url resolution needs them; pass "
                "doc_ids instead"
            )
        docs = spark.read.parquet(*paths)
        parts.append(
            docs.join(
                spark.createDataFrame(
                    [(u,) for u in sorted(set(urls))], "url string"
                ),
                "url",
            ).select("doc_id")
        )
    if not parts:
        return pl.load_index(spark, out_dir, dictionary)
    new_ids = parts[0]
    for p in parts[1:]:
        new_ids = new_ids.unionByName(p)
    new_ids = new_ids.distinct()
    if new_ids.limit(1).count() == 0:
        # nothing resolved (e.g. a takedown url not in the corpus):
        # publishing an EMPTY tombstone set would churn a version AND
        # make every later compact_index a full O(corpus) rewrite for
        # nothing — no-op instead
        return pl.load_index(spark, out_dir, dictionary)

    old_dir = meta.get("tombstones_dir")
    if old_dir:
        existing = spark.read.parquet(
            os.path.join(out_dir, old_dir)
        ).select("doc_id")
        # idempotence: nothing genuinely new -> keep the current
        # version (a retried or replayed takedown batch must not churn
        # versions or meta)
        if new_ids.join(existing, "doc_id", "left_anti").limit(1).count() == 0:
            return pl.load_index(spark, out_dir, dictionary)
        new_ids = new_ids.unionByName(existing).distinct()

    version = int(meta.get("tombstone_version", 0)) + 1
    dname = f"tombstones_v{version}"
    new_ids.repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, dname)
    )
    n = spark.read.parquet(os.path.join(out_dir, dname)).count()
    meta["tombstones_dir"] = dname
    meta["n_tombstones"] = int(n)
    meta["tombstone_version"] = version
    # publish LAST (atomic): a crash before this line leaves the old
    # meta pointing at the old (still intact) tombstone dir
    _publish_meta(out_dir, meta)
    if gc and old_dir and old_dir != dname:
        import shutil

        shutil.rmtree(os.path.join(out_dir, old_dir), ignore_errors=True)
    return pl.load_index(spark, out_dir, dictionary)
