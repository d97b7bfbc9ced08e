"""Cross-segment index merge (the Lucene/Anserini segment-merge
capability the reference never had — it rebuilt per crawl,
index/readme.txt pipeline).

N INDEPENDENTLY BUILT indexes — e.g. one per crawl segment, each
indexed close to its fetch fleet — become one serving index without
re-tokenizing a single document:

1. segment 0 keeps its doc ids (the same stability contract as
   append/compact: downstream references into it survive); each later
   segment's id space lifts by the cumulative
   ``shift_i = shift_{i-1} + max_doc_id_{i-1} + 1``;
2. every segment's (term, shard) rows are UNIONED (tagged with an
   ``id_shift`` column) and fed through the SAME sorted-merge
   re-encode kernel compaction uses (postings.reencode_shards): one
   vectorized decode pass re-buckets every posting into a uniform
   merged shard grid, then the shared (term, shard) merge combines
   runs from all segments in ONE pass — an N-way merge costs the
   same single re-encode a pairwise step does, so a crawl wave's
   segments fold together without N-1 intermediate indexes;
3. the merged corpus stats are exact integer arithmetic (total_dl
   and n_docs sum across segments), term_stats recompute from the
   merged shards, so the published index scores
   EXACTLY like a from-scratch build over the union corpus
   (rank-identical by url — pytest-pinned in tests/test_merge.py);
4. the merged index publishes through the snapshot commit log as
   ``op="merge"`` snapshot v1 of the new out_dir.

Preconditions (all fail loudly, same philosophy as append_pages):
segments must share tokenizer + dictionary fingerprint (different
segmentation would break the union-rebuild equivalence silently),
must be unpruned (a per-term top-m invariant does not compose across
segments), must have no live tombstones (compact first — merge folds
bytes, not deletes), must be url-disjoint (checked with one
grouped-count over the union of url projections unless the caller
vouches; overlapping urls need upsert semantics, not a merge), and
``out_dir`` must not already hold a published index.

Sidecars (qpostings / facets / ANN / positional) are per-index
artifacts gated on snapshot_id: rebuild them against the merged dir
(maintain_index `quantize` etc.); the positional table merges in
lockstep via :func:`tse_spark.operators.positions.
merge_position_tables` with the same shift law.

At 10^12 docs this is the map-reduce-free path to a global index:
each crawl wave indexes its own segment near the data, and waves
merge N-at-a-time as pure posting-level work — no HTML, no
tokenizer, no per-document CPU, just one decode+re-encode pass over
compressed bytes with a vocabulary-keyed shuffle (measured 2.7x a
union rebuild even with the cheap ws tokenizer; see BASELINE.md).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import postings as po
from tse_spark.plans import checkpoint as cp
from tse_spark.plans import pipeline as pl


def _load_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    codec.check_format(meta, out_dir)
    return meta


def _validate_segment(m0: dict, m: dict, d0: str, d: str) -> None:
    t0, t = m0.get("tokenizer", "tse"), m.get("tokenizer", "tse")
    if t0 != t:
        raise ValueError(
            f"merge_indexes: tokenizer mismatch ({d0}={t0}, {d}={t}); "
            "segments tokenized differently cannot share one index"
        )
    if m0.get("dict_fp") != m.get("dict_fp"):
        raise ValueError(
            "merge_indexes: dictionary fingerprint mismatch "
            f"({m0.get('dict_fp')} != {m.get('dict_fp')}); different "
            "dictionaries FMM-segment the same text differently, which "
            "would silently break merge == union-rebuild"
        )
    if m.get("prune_m") is not None:
        raise ValueError(
            f"merge_indexes: {d} was built with impact pruning "
            f"(prune_m={m['prune_m']}); per-term top-m does not "
            "compose across segments — merge unpruned segments and "
            "prune the result instead"
        )
    if m.get("tombstones_dir"):
        raise ValueError(
            f"merge_indexes: {d} has live tombstones; run "
            "compact_index on it first (merge folds bytes, not deletes)"
        )


def _max_ids_of(
    spark: SparkSession, dirs: "list[str]", metas: "list[dict]"
) -> "list[int]":
    """Per-segment max doc id, with the same legacy-meta fallback as
    append._next_base (append.py:99): metas written before max_doc_id
    existed undercount via n_docs - 1 when the ws tokenizer dropped
    termless docs, so ask the segment's docs table for the true max."""
    out = []
    for d, m in zip(dirs, metas):
        if "max_doc_id" in m:
            out.append(int(m["max_doc_id"]))
            continue
        ds = [os.path.join(d, x) for x in m.get("docs_dirs", ["docs"])]
        if not all(os.path.exists(p) for p in ds):
            raise ValueError(
                f"merge: {d}'s meta lacks max_doc_id and it has no "
                "docs table to recover it from; rebuild the segment "
                "(or republish its meta) before merging"
            )
        docs = spark.read.parquet(*ds)
        out.append(int(docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]))
    return out


def _shifts_of(max_ids: "list[int]") -> "list[int]":
    """Cumulative id lifts from per-segment max ids: segment 0 keeps
    its ids."""
    shifts = [0]
    for mx in max_ids[:-1]:
        shifts.append(shifts[-1] + int(mx) + 1)
    return shifts


def merge_indexes_many(
    spark: SparkSession,
    dirs: "list[str]",
    out_dir: str,
    dictionary: frozenset[bytes] = frozenset(),
    num_shards: int | None = None,
    check_url_disjoint: bool = True,
    _excluded=None,
    _dead_stats: "tuple[int, int] | None" = None,
) -> "pl.IndexHandle":
    """Merge N (>= 2) independently built indexes into ``out_dir`` in
    ONE re-encode pass; see the module docstring for the contract.
    Returns a handle on the merged index."""
    if len(dirs) < 2:
        raise ValueError("merge_indexes: need at least two segments")
    if os.path.exists(os.path.join(out_dir, "meta.json")):
        raise ValueError(
            f"merge_indexes: {out_dir} already holds a published index; "
            "merging would silently overwrite its artifacts — choose a "
            "fresh out_dir (the merged index is a NEW index with its "
            "own commit log)"
        )
    metas = [_load_meta(d) for d in dirs]
    for d, m in zip(dirs[1:], metas[1:]):
        _validate_segment(metas[0], m, dirs[0], d)
    _validate_segment(metas[0], metas[0], dirs[0], dirs[0])
    if dictionary and metas[0].get("dict_fp") is not None:
        fp = cp.fingerprint(sorted(dictionary))
        if fp != metas[0]["dict_fp"]:
            raise ValueError(
                "merge_indexes: caller dictionary does not match the "
                f"segments' build dictionary ({fp} != {metas[0]['dict_fp']})"
            )

    # run_from_docs builds own no docs dir (the docs table belongs to
    # the caller); merge then produces a postings+stats-only index —
    # the serving paths never touch docs, and the url-disjointness
    # check becomes the caller's responsibility
    def _docs_of(base, m):
        ds = [os.path.join(base, d) for d in m.get("docs_dirs", ["docs"])]
        if not all(os.path.exists(p) for p in ds):
            return None
        return spark.read.parquet(*ds)

    docs = [_docs_of(d, m) for d, m in zip(dirs, metas)]
    have_docs = all(
        d is not None and "url" in d.columns for d in docs
    )
    if check_url_disjoint and not have_docs and any(
        d is not None for d in docs
    ):
        # Some segment HAS a docs table but the check still can't run
        # (another segment lacks docs, or a docs table has no url
        # column).  Silently skipping would read as "checked and
        # disjoint" — say so instead.  (The all-postings-only case is
        # the documented run_from_docs contract: url-disjointness is
        # the caller's responsibility, no warning.)
        import warnings

        warnings.warn(
            "merge_indexes: check_url_disjoint=True but not every "
            "segment can supply a url column — the overlap check was "
            "SKIPPED; verify url-disjointness upstream or pass "
            "check_url_disjoint=False to acknowledge",
            RuntimeWarning,
            stacklevel=2,
        )
    if check_url_disjoint and have_docs:
        # one grouped count over the union of url projections —
        # vocabulary-of-urls work, no posting bytes touched, and O(N)
        # inputs to a single shuffle instead of N^2 pairwise joins
        allu = docs[0].select("url")
        for d in docs[1:]:
            allu = allu.unionByName(d.select("url"))
        n_overlap = (
            allu.groupBy("url").count().filter(F.col("count") > 1).count()
        )
        if n_overlap:
            raise ValueError(
                f"merge_indexes: {n_overlap} urls exist in more than "
                "one segment; merge requires url-disjoint segments "
                "(re-crawls need upsert_pages semantics, not a merge)"
            )

    max_ids = _max_ids_of(spark, dirs, metas)
    shifts = _shifts_of(max_ids)
    max_doc_id = shifts[-1] + max_ids[-1]
    n_docs = sum(int(m["n_docs"]) for m in metas)
    total_dl = sum(
        int(m.get("total_dl", round(float(m["avgdl"]) * int(m["n_docs"]))))
        for m in metas
    )
    if _dead_stats is not None:
        # reconcile_merge: superseded re-crawl copies leave the
        # postings physically during the re-encode below, and their
        # EXACT (doc count, token total) contribution leaves the
        # corpus stats — the published index equals a rebuild over
        # the winners (compact_index's tombstone-fold law)
        n_docs -= int(_dead_stats[0])
        total_dl -= int(_dead_stats[1])
    avgdl = total_dl / n_docs if n_docs else 0.0
    n_sh = num_shards or max(int(m.get("num_shards", 32)) for m in metas)
    shard_range = max(1, math.ceil((max_doc_id + 1) / n_sh))

    posts = None
    for d, m, sh in zip(dirs, metas, shifts):
        p = spark.read.parquet(
            *[os.path.join(d, x) for x in m.get("postings_dirs", ["postings"])]
        ).withColumn("id_shift", F.lit(int(sh)).cast("long"))
        posts = p if posts is None else posts.unionByName(p)

    os.makedirs(out_dir, exist_ok=True)
    po.write_postings(
        po.reencode_shards(
            posts, shard_range, excluded=_excluded
        ),
        os.path.join(out_dir, "postings"),
    )

    merged_postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    po.term_stats(merged_postings).write.mode("overwrite").parquet(
        os.path.join(out_dir, "term_stats")
    )

    if have_docs:
        alld = None
        for df, sh in zip(docs, shifts):
            s = df.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(int(sh))).cast("long")
            )
            alld = s if alld is None else alld.unionByName(s)
        if _excluded is not None and len(_excluded):
            dead = spark.createDataFrame(
                [(int(x),) for x in _excluded], "doc_id long"
            )
            alld = alld.join(F.broadcast(dead), "doc_id", "left_anti")
        alld.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    meta = {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "total_dl": total_dl,
        "shard_range": shard_range,
        "max_doc_id": max_doc_id,
        "dict_fp": metas[0].get("dict_fp"),
        "prune_m": None,
        "tokenizer": metas[0].get("tokenizer", "tse"),
        "num_shards": n_sh,
        "posting_format": codec.POSTING_FORMAT,
        "merged_from": [
            {"dir": d, "snapshot_id": m.get("snapshot_id"), "shift": sh}
            for d, m, sh in zip(dirs, metas, shifts)
        ],
    }
    from tse_spark.plans import snapshots as sn

    sn.publish_meta(out_dir, meta, op="merge")
    return pl.load_index(spark, out_dir, dictionary)


def merge_indexes(
    spark: SparkSession,
    dir_a: str,
    dir_b: str,
    out_dir: str,
    dictionary: frozenset[bytes] = frozenset(),
    num_shards: int | None = None,
    check_url_disjoint: bool = True,
) -> "pl.IndexHandle":
    """Two-segment convenience form of :func:`merge_indexes_many`."""
    return merge_indexes_many(
        spark, [dir_a, dir_b], out_dir, dictionary,
        num_shards=num_shards, check_url_disjoint=check_url_disjoint,
    )


def reconcile_merge(
    spark: SparkSession,
    dirs: "list[str]",
    out_dir: str,
    dictionary: frozenset[bytes] = frozenset(),
    num_shards: int | None = None,
) -> "pl.IndexHandle":
    """Merge segments whose url sets OVERLAP: the latest crawl of each
    url wins (max warc_ts; ties break to the later segment, then the
    higher doc id — fully deterministic), superseded copies leave the
    postings PHYSICALLY during the same single re-encode pass (the
    ``excluded`` drop compaction already uses), and the corpus stats
    subtract the losers' exact token contribution (compact_index's
    tombstone-fold law: tokenize only the dead docs), so the published
    index equals a from-scratch build over the latest-per-url corpus —
    ``upsert_pages`` + ``compact`` semantics, but across independently
    built segments in one shot.

    Requires every segment to carry a docs table with (url, warc_ts)
    — reconciliation is by definition a document-identity decision.
    The loser id set is collected to the driver (np.int64 array, same
    "small by contract" assumption as tombstones: overlap is the
    re-crawled fraction, not the corpus)."""
    import numpy as np

    from pyspark.sql.window import Window

    metas = [_load_meta(d) for d in dirs]
    shifts = _shifts_of(_max_ids_of(spark, dirs, metas))
    union = None
    for i, (d, m, sh) in enumerate(zip(dirs, metas, shifts)):
        ds = [os.path.join(d, x) for x in m.get("docs_dirs", ["docs"])]
        if not all(os.path.exists(p) for p in ds):
            raise ValueError(
                f"reconcile_merge: {d} has no docs table; "
                "latest-per-url reconciliation needs (url, warc_ts)"
            )
        df = spark.read.parquet(*ds)
        if "url" not in df.columns or "warc_ts" not in df.columns:
            raise ValueError(
                f"reconcile_merge: {d}'s docs table lacks url/warc_ts"
            )
        part = df.select(
            (F.col("doc_id") + F.lit(int(sh))).cast("long").alias("gid"),
            "url",
            "warc_ts",
            F.lit(i).alias("seg"),
        )
        union = part if union is None else union.unionByName(part)
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("seg"), F.desc("gid")
    )
    losers = (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select("gid", "seg")
    )
    rows = losers.collect()
    excluded = np.unique(np.array([r["gid"] for r in rows], dtype=np.int64))

    # exact dead stats: tokenize ONLY the losers, per segment, with
    # the segments' own tokenizer (docs with zero eligible tokens
    # never counted toward n_docs/avgdl, so only token-bearing losers
    # subtract) — identical to compact_index's dead-doc law
    n_dead = dead_dl = 0
    if len(excluded):
        b_dict = spark.sparkContext.broadcast(dictionary)
        for i, (d, m, sh) in enumerate(zip(dirs, metas, shifts)):
            local_ids = [
                (int(r["gid"]) - int(sh),) for r in rows if r["seg"] == i
            ]
            if not local_ids:
                continue
            ds = [os.path.join(d, x) for x in m.get("docs_dirs", ["docs"])]
            # broadcast semi-join, never a giant IN literal: the loser
            # set can be crawl-sized in a full re-crawl reconcile
            dead_ids = spark.createDataFrame(local_ids, "doc_id long")
            dead_docs = spark.read.parquet(*ds).join(
                F.broadcast(dead_ids), "doc_id", "semi"
            )
            tf, doc_major = pl.build_tf_for(
                dead_docs, m.get("tokenizer", "tse"), b_dict
            )
            row = (
                pl.dl_per_doc_for(tf, doc_major)
                .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
                .collect()[0]
            )
            n_dead += int(row["n"])
            dead_dl += int(row["s"] or 0)

    return merge_indexes_many(
        spark, dirs, out_dir, dictionary,
        num_shards=num_shards,
        check_url_disjoint=False,
        _excluded=excluded if len(excluded) else None,
        _dead_stats=(n_dead, dead_dl),
    )


def absorb_segment(
    spark: SparkSession,
    out_dir: str,
    seg_dir: str,
    dictionary: frozenset[bytes] = frozenset(),
) -> "pl.IndexHandle":
    """O(segment) append of a PRE-BUILT index into a live one — the
    missing quadrant between append_pages (tokenizes a pages delta)
    and merge_indexes (creates a new index): the target's bytes are
    never rewritten, the segment is never re-tokenized.

    The segment's (term, shard) rows re-encode ONCE — ids lifted to
    the target's next free shard_range multiple (append's base law,
    so every delta row lands in a shard strictly above all existing
    ones and both serving paths compose disjoint shards unchanged) —
    and land in ``postings_delta_{base}``.
    Corpus stats merge from the segment's own EXACT integers
    (n_docs / total_dl from its meta: zero tokenization anywhere),
    term_stats recompute into a versioned dir, and everything becomes
    visible through the single snapshot-stamped meta publish
    (op="absorb") with the same crash-atomicity contract as
    append_pages.

    Preconditions: same tokenizer + dictionary fingerprint, both
    unpruned, segment tombstone-free, url-disjoint from the target
    (checked when both carry docs tables; re-crawl overlap is
    upsert_pages' job), and the segment must carry a docs table if
    the target does (rendering/lifecycle paths read it)."""
    from tse_spark.plans import append as ap

    meta = ap._load_validated_meta(out_dir, dictionary, "absorb_segment")
    seg = _load_meta(seg_dir)
    _validate_segment(meta, seg, out_dir, seg_dir)

    def _docs_of(base, m):
        ds = [os.path.join(base, d) for d in m.get("docs_dirs", ["docs"])]
        if not all(os.path.exists(p) for p in ds):
            return None
        return spark.read.parquet(*ds)

    tgt_docs, seg_docs = _docs_of(out_dir, meta), _docs_of(seg_dir, seg)
    if tgt_docs is not None and seg_docs is None:
        raise ValueError(
            f"absorb_segment: {seg_dir} has no docs table but the "
            "target serves from one; build the segment with docs"
        )
    if (
        tgt_docs is not None
        and seg_docs is not None
        and "url" in tgt_docs.columns
        and "url" in seg_docs.columns
    ):
        n_overlap = (
            tgt_docs.select("url")
            .join(seg_docs.select("url"), "url")
            .count()
        )
        if n_overlap:
            raise ValueError(
                f"absorb_segment: {n_overlap} urls exist in both the "
                "target and the segment; re-crawls need upsert_pages "
                "semantics"
            )

    n0 = int(meta["n_docs"])
    avgdl0 = float(meta["avgdl"])
    docs_dirs = meta.get("docs_dirs", ["docs"])
    postings_dirs = meta.get("postings_dirs", ["postings"])
    base, shard_range = ap._next_base(spark, out_dir, meta)

    seg_posts = spark.read.parquet(
        *[os.path.join(seg_dir, d) for d in seg.get("postings_dirs", ["postings"])]
    ).withColumn("id_shift", F.lit(int(base)).cast("long"))
    postings_delta = f"postings_delta_{base}"
    po.write_postings(
        po.reencode_shards(seg_posts, shard_range),
        os.path.join(out_dir, postings_delta),
    )

    docs_delta = None
    if seg_docs is not None:
        docs_delta = f"docs_delta_{base}"
        seg_docs.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(int(base))).cast("long")
        ).write.mode("overwrite").parquet(os.path.join(out_dir, docs_delta))

    stats_dir = f"term_stats_v{base}"
    all_postings = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in postings_dirs + [postings_delta]]
    )
    po.term_stats(all_postings).write.mode("overwrite").parquet(
        os.path.join(out_dir, stats_dir)
    )

    n_delta = int(seg["n_docs"])
    seg_dl = int(
        seg.get("total_dl", round(float(seg["avgdl"]) * n_delta))
    )
    n1 = n0 + n_delta
    meta["n_docs"] = n1
    meta["total_dl"] = (
        int(meta.get("total_dl", round(avgdl0 * n0))) + seg_dl
    )
    meta["avgdl"] = meta["total_dl"] / max(1, n1)
    meta["max_doc_id"] = base + _max_ids_of(spark, [seg_dir], [seg])[0]
    meta["shard_range"] = shard_range
    if docs_delta is not None:
        meta["docs_dirs"] = docs_dirs + [docs_delta]
    meta["postings_dirs"] = postings_dirs + [postings_delta]
    meta["term_stats_dir"] = stats_dir
    meta.setdefault("appends", []).append(
        {
            "segment": seg_dir,
            "segment_snapshot_id": seg.get("snapshot_id"),
            "n_docs": n_delta,
            "base": base,
            "op": "absorb",
        }
    )
    fp = meta.get("fingerprint")
    if fp and not str(fp).startswith("appended:"):
        meta["fingerprint"] = f"appended:{fp}"
    man = cp.Manifest(out_dir)
    for st in man.stages.values():
        sfp = st.get("fingerprint")
        if sfp and not str(sfp).startswith("appended:"):
            st["fingerprint"] = f"appended:{sfp}"
    man.save()

    from tse_spark.plans import snapshots as sn

    sn.publish_meta(
        out_dir, meta, op="absorb",
        expect_snapshot_id=meta.get("snapshot_id", 0),
    )
    return pl.load_index(spark, out_dir, dictionary)
