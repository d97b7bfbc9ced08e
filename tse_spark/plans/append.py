"""Incremental index append: add new pages WITHOUT rewriting old shards.

The reference rebuilds its index from scratch per crawl (index/readme.txt
pipeline); at 10^12 documents a rebuild is days of work for a 0.1% delta.
This plan appends like an Iceberg table append (north_star S1):

1. new pages are url-deduped against the EXISTING docs table (anti-join)
   and among themselves;
2. appended doc ids start at the next multiple of the original build's
   ``shard_range`` — so every delta (term, shard) row lands in a shard
   strictly ABOVE all existing ones.  Old posting rows are never read,
   merged, or rewritten, and both serving paths already compose disjoint
   shards (the distributed path groups by shard; the driver path
   concatenates blobs in shard order);
3. delta runs carry no corpus statistic (operators/codec.py), so
   scoring uses the live avgdl from meta.json for old and new rows
   alike;
4. term_stats is recomputed from the full postings set (tiny: one row
   per (term, shard)) into a VERSIONED directory, and meta.json gets the
   merged n_docs / weighted avgdl / new max_doc_id / new dir lists.

Crash-atomicity and retry-safety: every delta lands in its own
``*_delta_{base}`` directory and ``term_stats_v{base}``, which readers
only discover through the dir lists in meta.json — replaced atomically
as the LAST step.  A crash anywhere before that leaves the old index
fully intact (orphan delta dirs are invisible), and a retry recomputes
the SAME ``base`` and overwrites the same dirs, so nothing is ever
double-appended.

Scores after an append equal a full rebuild's scores per url **for
url-disjoint deltas** (the common crawl-increment case): tf, dl, df,
n_docs and avgdl are all identical; only doc ids differ (appends keep
old ids stable — itself a feature: downstream references to old doc
ids survive).  When a delta RE-CRAWLS an existing url with different
content, append keeps the EXISTING copy regardless of warc_ts (the
url anti-join drops the delta row) — use :func:`upsert_pages` to
reconcile re-crawls: latest warc_ts per url wins, the superseded
copy is tombstoned and the fresh one appended in ONE snapshot commit,
so upsert + compact equals a rebuild over the latest-per-url corpus.

Appending requires the SAME dictionary as the base build: meta.json
records the build dictionary's fingerprint and append_pages fails
loudly on mismatch (a different dictionary would FMM-tokenize the
delta differently, silently breaking score equivalence).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import index_build as ib
from tse_spark.operators import postings as po
from tse_spark.plans import checkpoint as cp
from tse_spark.plans import pipeline as pl


def _load_validated_meta(
    out_dir: str, dictionary: frozenset[bytes], caller: str
) -> dict:
    """Load meta.json and enforce the append-family preconditions."""
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    codec.check_format(meta, out_dir)
    # the delta MUST tokenize exactly like the base build: a different
    # dictionary segments hanzi differently and silently breaks the
    # append == rebuild score equivalence — fail loudly instead
    if "dict_fp" in meta:
        dict_fp = cp.fingerprint(sorted(dictionary))
        if meta["dict_fp"] != dict_fp:
            raise ValueError(
                f"{caller}: dictionary fingerprint mismatch with the "
                f"base build ({dict_fp} != {meta['dict_fp']}); appending "
                "with a different dictionary would tokenize the delta "
                "differently than the base index"
            )
    if meta.get("prune_m") is not None:
        raise ValueError(
            f"{caller}: the base index was built with impact pruning "
            f"(prune_m={meta['prune_m']}); an unpruned delta would break "
            "the per-term top-m invariant silently — rebuild (or prune "
            "the merged corpus) instead"
        )
    return meta


def _next_base(spark, out_dir: str, meta: dict) -> tuple[int, int]:
    """-> (base, shard_range): first doc id of the delta range (next
    shard_range multiple above every existing id)."""
    n0 = int(meta["n_docs"])
    shard_range = int(
        meta.get(
            "shard_range", max(1, math.ceil(n0 / meta.get("num_shards", 32)))
        )
    )
    if "max_doc_id" in meta:
        max_id = int(meta["max_doc_id"])
    else:
        # legacy meta: n_docs - 1 UNDERCOUNTS when the ws tokenizer
        # dropped termless docs from the tf count while ids stayed
        # dense over all urls — ask the docs table for the true max
        docs_dirs = meta.get("docs_dirs", ["docs"])
        old_docs = spark.read.parquet(
            *[os.path.join(out_dir, d) for d in docs_dirs]
        )
        max_id = int(
            old_docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        )
    base = ((max_id + 1 + shard_range - 1) // shard_range) * shard_range
    return base, shard_range


def append_pages(
    spark: SparkSession,
    out_dir: str,
    pages_path: str,
    dictionary: frozenset[bytes] = frozenset(),
    force_extract: bool = False,
) -> "pl.IndexHandle":
    """Append a pages parquet table to an existing index at ``out_dir``.

    Returns a fresh handle over the merged index.  See the module
    docstring for the crash-atomicity contract.
    """
    meta = _load_validated_meta(out_dir, dictionary, "append_pages")
    docs_dirs = meta.get("docs_dirs", ["docs"])
    old_docs = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in docs_dirs]
    )
    pages = spark.read.parquet(pages_path)

    # dedup: within the batch (build_docs fuses it into id assignment)
    # and against the existing corpus (anti-join on url; AQE picks the
    # broadcast side from sizes — at 10^12 docs the DELTA is the small
    # build side)
    fresh = pages.join(old_docs.select("url"), "url", "left_anti")
    return _append_batch(
        spark, out_dir, meta, fresh, dictionary, force_extract,
        op="append", source=pages_path,
    )


def _append_batch(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    fresh,
    dictionary: frozenset[bytes],
    force_extract: bool,
    op: str,
    source: str,
    n_replaced: int = 0,
) -> "pl.IndexHandle":
    """The shared delta machinery behind append_pages / upsert_pages:
    ``fresh`` is an already-resolved pages relation (url-deduped against
    the live corpus by the caller).  Mutations the caller staged in
    ``meta`` (e.g. upsert's tombstone pointer) ride the same single
    atomic publish — or die with it on a crash."""
    n0 = int(meta["n_docs"])
    avgdl0 = float(meta["avgdl"])
    docs_dirs = meta.get("docs_dirs", ["docs"])
    postings_dirs = meta.get("postings_dirs", ["postings"])
    base, shard_range = _next_base(spark, out_dir, meta)
    delta_docs = ib.build_docs(fresh, force_extract=force_extract)
    delta_docs = delta_docs.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
    )
    # write FIRST (deterministic dir name -> a retry overwrites, never
    # duplicates), then derive everything from the written table so tf
    # and stats see exactly what landed
    docs_delta = f"docs_delta_{base}"
    delta_dir = os.path.join(out_dir, docs_delta)
    delta_docs.write.mode("overwrite").parquet(delta_dir)
    delta_docs = spark.read.parquet(delta_dir)
    n_delta_docs = delta_docs.count()
    if n_delta_docs == 0:
        return pl.load_index(spark, out_dir, dictionary)

    b_dict = spark.sparkContext.broadcast(dictionary)
    tf, doc_major = pl.build_tf_for(
        delta_docs, meta.get("tokenizer", "tse"), b_dict
    )
    # two actions consume tf (stats collect + postings write): persist
    # so the tokenizer UDF — the dominant indexing cost — runs once
    tf = tf.persist()
    row = pl.dl_per_doc_for(tf, doc_major).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    ).collect()[0]
    n_delta = int(row["n"])

    # delta shards: the original shard_range
    postings_delta = f"postings_delta_{base}"
    po.write_postings(
        po.build_posting_shards(
            tf,
            n_docs=n0 + n_delta,
            num_shards=int(meta.get("num_shards", 32)),
            shard_range=shard_range,
        ),
        os.path.join(out_dir, postings_delta),
    )
    tf.unpersist()

    # refresh term_stats from the union of ALL posting dirs (old list
    # from meta + the new delta) into a versioned dir
    stats_dir = f"term_stats_v{base}"
    all_postings = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in postings_dirs + [postings_delta]]
    )
    po.term_stats(all_postings).write.mode("overwrite").parquet(
        os.path.join(out_dir, stats_dir)
    )

    n1 = n0 + n_delta
    meta["avgdl"] = (avgdl0 * n0 + float(row["sdl"] or 0.0)) / max(1, n1)
    meta["n_docs"] = n1
    # exact token total (delete-compaction's avgdl law); legacy metas
    # without it start from the float reconstruction
    meta["total_dl"] = int(
        meta.get("total_dl", round(avgdl0 * n0))
    ) + int(row["sdl"] or 0)
    meta["max_doc_id"] = base + n_delta_docs - 1
    meta["shard_range"] = shard_range
    meta["docs_dirs"] = docs_dirs + [docs_delta]
    meta["postings_dirs"] = postings_dirs + [postings_delta]
    meta["term_stats_dir"] = stats_dir
    rec = {"pages": source, "n_docs": n_delta, "base": base, "op": op}
    if n_replaced:
        rec["n_replaced"] = int(n_replaced)
    meta.setdefault("appends", []).append(rec)
    # the base build's stage checkpoints and cached corpus stats no
    # longer describe the full index: poison the manifest fingerprints
    # AND meta's own stats fingerprint so a later resume=True rerun of
    # the base pipeline rebuilds everything instead of silently mixing
    # stale stages with appended meta.  Poisoning happens BEFORE the
    # meta publish: a crash in between leaves the index still entirely
    # pre-append (consistent; the poisoned checkpoints merely force an
    # unnecessary rebuild), never published-but-unpoisoned.
    fp = meta.get("fingerprint")
    if fp and not str(fp).startswith("appended:"):
        meta["fingerprint"] = f"appended:{fp}"
    man = cp.Manifest(out_dir)
    for st in man.stages.values():
        sfp = st.get("fingerprint")
        if sfp and not str(sfp).startswith("appended:"):
            st["fingerprint"] = f"appended:{sfp}"
    man.save()

    # publish: the snapshot-stamped atomic meta replace
    # (plans/snapshots.py) is the ONLY step that makes any delta file
    # visible to readers — and it archives this append in the commit log
    from tse_spark.plans import snapshots as sn

    sn.publish_meta(
        out_dir, meta, op=op,
        expect_snapshot_id=meta.get("snapshot_id", 0),
    )
    return pl.load_index(spark, out_dir, dictionary)


def upsert_pages(
    spark: SparkSession,
    out_dir: str,
    pages_path: str,
    dictionary: frozenset[bytes] = frozenset(),
    force_extract: bool = False,
) -> "pl.IndexHandle":
    """Reconcile a re-crawl batch into an existing index: LATEST
    ``warc_ts`` per url wins.

    Per batch url (the batch itself is first reduced to its newest row
    per url):

    - url not in the live corpus      -> appended (plain append law);
    - batch row NEWER than the live copy -> the live doc id is
      tombstoned and the fresh content appended under a new id;
    - batch row older or same-aged    -> dropped (existing copy wins —
      replaying a committed upsert batch is therefore a no-op).

    The tombstone pointer and the delta dirs commit in ONE snapshot
    (op="upsert"): a crash anywhere before the publish leaves the old
    index fully intact (orphan delta/tombstone dirs are invisible), and
    a retry recomputes the same base and overwrites the same dirs.

    Serving right after an upsert follows the deletion law
    (plans/delete.py): superseded docs are masked everywhere while
    n_docs/avgdl/df still count them — run ``compact_index`` to fold
    them physically, after which the index equals a full rebuild over
    the latest-per-url corpus (stats exact; surviving ids preserved).

    Requires the base build to have persisted docs dirs carrying
    ``url`` and ``warc_ts`` (run_from_pages does; a bare run_from_docs
    index cannot resolve re-crawls and fails loudly).
    """
    from pyspark.sql.window import Window

    from tse_spark.plans import delete as dmod

    meta = _load_validated_meta(out_dir, dictionary, "upsert_pages")
    docs_dirs = meta.get("docs_dirs", ["docs"])
    paths = [os.path.join(out_dir, d) for d in docs_dirs]
    if not all(os.path.exists(p) for p in paths):
        raise ValueError(
            f"upsert_pages: index at {out_dir} has no persisted docs "
            f"dirs {docs_dirs} — re-crawl resolution needs them"
        )
    old_docs = spark.read.parquet(*paths)
    for c in ("url", "warc_ts"):
        if c not in old_docs.columns:
            raise ValueError(
                f"upsert_pages: the persisted docs table lacks '{c}' — "
                "this index was not built from a pages table, so "
                "re-crawls cannot be resolved; use append_pages"
            )

    pages = spark.read.parquet(pages_path)

    # live corpus view, RESTRICTED to the batch's urls before anything
    # shuffles: the semi-join prunes the corpus scan to O(batch) rows
    # (AQE broadcasts the delta side — at 10^12 docs the batch is the
    # small side, exactly append's assumption), so the newest-copy
    # window below never repartitions the corpus.  Tombstoned ids are
    # excluded; after any committed upsert there is exactly one live
    # row per url, so the window is a cheap invariant guard.
    live = (
        old_docs.join(pages.select("url").distinct(), "url", "left_semi")
        .join(dmod.load_tombstones(spark, out_dir), "doc_id", "left_anti")
    )
    w_live = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("doc_id").desc()
    )
    live_latest = (
        live.withColumn("__rn", F.row_number().over(w_live))
        .filter(F.col("__rn") == 1)
        .select(
            "url",
            F.col("doc_id").alias("__old_id"),
            F.col("warc_ts").alias("__old_ts"),
        )
    )
    # newest row per url WITHIN the batch (content hash breaks exact
    # warc_ts ties deterministically, any engine, any partitioning)
    content = F.md5(
        F.col("html") if "html" in pages.columns else F.col("text")
    )
    w_batch = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), content.asc()
    )
    batch = (
        pages.withColumn("__rn", F.row_number().over(w_batch))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    j = batch.join(live_latest, "url", "left")
    is_new = F.col("__old_id").isNull()
    is_newer = ~is_new & (F.col("warc_ts") > F.col("__old_ts"))
    fresh = j.filter(is_new | is_newer).drop("__old_id", "__old_ts")
    stale = j.filter(is_newer).select(F.col("__old_id").alias("doc_id"))

    # the replaced ids join the tombstone set in a NEW versioned dir —
    # invisible until _append_batch's single publish flips meta.json.
    # (stale non-empty implies fresh non-empty: every replacement
    # contributes a fresh row, so the publish below always runs.)
    n_replaced = 0
    if stale.limit(1).count() > 0:
        # short-circuit above: a pure-append or replayed batch never
        # touches (reads OR rewrites) the existing tombstone set
        import hashlib

        stale_rows = stale.distinct()
        old_tomb_dir = meta.get("tombstones_dir")
        if old_tomb_dir:
            stale_rows = stale_rows.unionByName(
                spark.read.parquet(
                    os.path.join(out_dir, old_tomb_dir)
                ).select("doc_id")
            ).distinct()
        n_before = int(meta.get("n_tombstones", 0))
        version = int(meta.get("tombstone_version", 0)) + 1
        # the dir name carries a (batch, loaded-state) tag: a crashed
        # retry recomputes the SAME name and overwrites harmlessly,
        # while a CONCURRENT writer from the same loaded state (e.g. a
        # takedown delete_docs racing this upsert) targets a different
        # dir — so the CAS loser can never have clobbered the winner's
        # already-committed tombstone files
        tag = hashlib.md5(
            f"{pages_path}@{meta.get('snapshot_id', 0)}".encode()
        ).hexdigest()[:8]
        dname = f"tombstones_v{version}_{tag}"
        stale_rows.repartition(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, dname)
        )
        n_tomb = spark.read.parquet(
            os.path.join(out_dir, dname)
        ).count()
        n_replaced = int(n_tomb) - n_before
        if n_replaced > 0:
            meta["tombstones_dir"] = dname
            meta["n_tombstones"] = int(n_tomb)
            meta["tombstone_version"] = version
        else:
            # every stale id was already tombstoned (e.g. a replayed
            # batch racing its own crash recovery): keep the current
            # version, drop the identical rewrite
            import shutil

            shutil.rmtree(
                os.path.join(out_dir, dname), ignore_errors=True
            )

    return _append_batch(
        spark, out_dir, meta, fresh, dictionary, force_extract,
        op="upsert", source=pages_path, n_replaced=n_replaced,
    )
