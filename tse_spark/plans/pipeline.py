"""End-to-end checkpoint-resumable index build (SURVEY.md §3.1 rebuilt).

Stages (each a resumable checkpoint table under ``out_dir``):

  docs      — dedup(url) + deterministic doc ids (+ text extraction if
              the input has only html)
  tf        — (doc_id, term, tf, dl): Arrow tokenizer UDF with map-side
              per-doc aggregation and inline doc length
  postings  — doc-range-sharded delta-gap varint runs (salted
              range-partition-by-term: term-clustered part files)
  term_stats— global df/cf per term

plus ``meta.json`` (n_docs, avgdl, params).  A re-run with ``resume=True``
skips every stage whose fingerprint matches (see plans/checkpoint.py).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators import index_build as ib
from tse_spark.operators import postings as po
from tse_spark.operators import search as se
from tse_spark.plans import checkpoint as cp


def build_tf_for(docs, tokenizer: str, b_dict):
    """One tokenizer dispatch shared by the build pipeline AND the
    incremental append (plans/append.py) — the two must tokenize and
    measure doc length identically or 'append == rebuild' breaks.
    Returns (tf, doc_major)."""
    if tokenizer == "tse":
        # document-major tf (one row per doc, term/tf arrays):
        # ~avgdl x fewer rows through parquet and Arrow
        return ib.build_doc_terms(docs, b_dict), True
    return po.with_doclen(ib.build_tf_ws(docs)), False


def dl_per_doc_for(tf, doc_major: bool):
    """(doc_id, dl) one row per doc, for corpus stats."""
    if doc_major:
        return tf.select("doc_id", "dl")
    return tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))


class IndexPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        tokenizer: str = "tse",
        dictionary: frozenset[bytes] = frozenset(),
        num_shards: int = 32,
        num_partitions: int | None = None,
        force_extract: bool = False,
        checkpoint_mode: str = "full",
        prune_m: int | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.tokenizer = tokenizer
        self.dictionary = dictionary
        self.num_shards = num_shards
        self.num_partitions = num_partitions
        self.force_extract = force_extract
        # "full": every stage checkpoints to parquet (resumable at stage
        # granularity — the recovery-oriented default).  "final": the tf
        # intermediate stays a persisted in-memory lineage instead of a
        # parquet round-trip; only docs/postings/term_stats (the actual
        # index artifacts) hit storage.  Same artifacts, one fewer
        # write+read barrier — the steady-state production profile where
        # a failed build is simply rerun from docs.
        self.checkpoint_mode = checkpoint_mode
        # Impact-ordered static pruning (operators/index_build.
        # impact_pruned_tf): keep only each term's top-m postings by
        # BM25 impact under the FULL corpus stats, then encode shards
        # from the pruned relation.  dl/avgdl/n_docs stay full-corpus;
        # df is recomputed from the pruned postings (term_stats and the
        # per-shard df rows both come from what was encoded), so both
        # serving paths score with the same — pruned — df.  Build-only:
        # append_pages refuses pruned indexes (an unpruned delta would
        # silently break the per-term top-m invariant).
        self.prune_m = prune_m
        # the posting format rides in every checkpoint fingerprint, so
        # resume=True never reuses postings written by another codec
        self.params = (
            tokenizer, num_shards, codec.POSTING_FORMAT, sorted(dictionary),
            force_extract, prune_m,
        )

    def run_from_pages(
        self, pages_path: str, resume: bool = True
    ) -> "IndexHandle":
        """Full pipeline from a pages parquet table (url, warc_ts, html,
        text?, lang)."""
        man = cp.Manifest(self.out_dir)
        fp0 = cp.fingerprint("pages", pages_path, self.params)
        pages = self.spark.read.parquet(pages_path)
        docs = cp.run_stage(
            self.spark,
            man,
            "docs",
            fp0,
            lambda: ib.build_docs(
                pages, self.num_partitions, self.force_extract
            ),
            resume,
        )
        return self._from_docs(docs, fp0, man, resume)

    def run_from_docs(
        self, docs: DataFrame, input_key: str, resume: bool = True
    ) -> "IndexHandle":
        """Pipeline from an existing docs table with (doc_id, text).
        ``input_key`` identifies the input for checkpoint fingerprints.

        The manifest's "docs" stage rows are NOT trusted here: out_dir
        may hold a stale manifest from an earlier run_from_pages build
        whose row count says nothing about THIS docs table, and an
        undercounted max_doc_id would let a later append_pages pick an
        overlapping doc-id base (duplicate (term, shard) rows that
        double-count in per-shard WAND).  max_doc_id comes from an exact
        max over the input table instead."""
        man = cp.Manifest(self.out_dir)
        fp0 = cp.fingerprint("docs-input", input_key, self.params)
        return self._from_docs(docs, fp0, man, resume, trust_docs_stage=False)

    def _from_docs(
        self, docs, fp0, man, resume, trust_docs_stage: bool = True
    ) -> "IndexHandle":
        b_dict = self.spark.sparkContext.broadcast(self.dictionary)
        doc_major = self.tokenizer == "tse"
        build_tf = lambda: build_tf_for(docs, self.tokenizer, b_dict)[0]
        fp_tf = cp.fingerprint("tf", fp0, "fmt2" if doc_major else "fmt1")
        fused_tf = self.checkpoint_mode == "final"
        if fused_tf:
            t0_tf = time.time()
            tf = build_tf().persist()
            man.stages["tf"] = {"fingerprint": fp_tf, "fused": True}
        else:
            tf = cp.run_stage(self.spark, man, "tf", fp_tf, build_tf, resume)

        # corpus stats (cheap scalar job; cached in meta.json on resume)
        meta_path = os.path.join(self.out_dir, "meta.json")
        meta = None
        if resume and not fused_tf and os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("fingerprint") != fp_tf:
                meta = None
        if meta is None:
            dl_per_doc = dl_per_doc_for(tf, doc_major)
            row = (
                dl_per_doc.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("sdl"),
                    F.max("doc_id").alias("mx"),
                ).collect()[0]
            )
            import math as _math

            _n = int(row["n"])
            # exact max id — append_pages derives its disjoint doc-id
            # base from this, so it must never UNDERCOUNT the live table
            # (overlapping bases double-count docs in per-shard WAND):
            #   from_pages: docs-stage rows - 1 (ids dense over ALL
            #     deduped urls) cross-checked against the tf max (the
            #     tf-derived count misses termless docs the ws tokenizer
            #     drops) — take the larger;
            #   from_docs: exact max over the INPUT table (the manifest
            #     may be stale from an earlier run_from_pages build).
            _mx = int(row["mx"]) if row["mx"] is not None else _n - 1
            if trust_docs_stage and man.stages.get("docs", {}).get("rows"):
                _mx = max(_mx, int(man.stages["docs"]["rows"]) - 1)
            elif not trust_docs_stage:
                _dmx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
                if _dmx is not None:
                    _mx = max(_mx, int(_dmx))
            meta = {
                "n_docs": _n,
                "avgdl": float(row["avgdl"] or 0.0),
                # exact integer token total: lets delete-compaction
                # recompute avgdl EXACTLY as a rebuild would
                # ((total_dl - dead_dl) / n_live, both exact ints) —
                # maintained by append_pages, consumed by compact_index
                "total_dl": int(row["sdl"] or 0),
                # frozen at first build; appends must reuse it (see
                # plans/append.py): the doc-range width of the
                # (term, shard) salt
                "shard_range": max(1, _math.ceil(_n / self.num_shards)),
                "max_doc_id": _mx,
                "fingerprint": fp_tf,
                # appends must tokenize the delta EXACTLY like the base
                # build or scores silently diverge — append_pages asserts
                # this fingerprint before touching anything
                "dict_fp": cp.fingerprint(sorted(self.dictionary)),
                "prune_m": self.prune_m,
                "tokenizer": self.tokenizer,
                "num_shards": self.num_shards,
                "posting_format": codec.POSTING_FORMAT,
                "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            os.makedirs(self.out_dir, exist_ok=True)
            # snapshot-stamped atomic publish (plans/snapshots.py): a
            # crash mid-write must not leave a truncated meta.json, and
            # the build becomes snapshot v1 of the index's commit log
            from tse_spark.plans import snapshots as sn

            meta = sn.publish_meta(self.out_dir, meta, op="build")
        if fused_tf:
            # the stats action above materialized (and cached) tf
            man.stages["tf"]["seconds"] = round(time.time() - t0_tf, 3)
            man.save()

        tf_po = tf
        if self.prune_m is not None:
            # static pruning: rank every posting by its full-stats BM25
            # impact, keep the per-term top-m, and feed the SAME
            # encoder the pruned row-major relation (dl stays the FULL
            # document length — pruning drops postings, not tokens)
            rm = ib.doc_terms_to_tf(tf) if doc_major else tf
            dl_doc = dl_per_doc_for(tf, doc_major)
            full_df = rm.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            pruned = ib.impact_pruned_tf(
                rm.select("doc_id", "term", "tf"),
                dl_doc,
                full_df,
                meta["n_docs"],
                meta["avgdl"],
                self.prune_m,
            )
            tf_po = pruned.join(dl_doc, "doc_id")

        fp_po = cp.fingerprint("postings", fp_tf, meta["n_docs"], meta["avgdl"])
        postings = cp.run_stage(
            self.spark,
            man,
            "postings",
            fp_po,
            lambda: po.build_posting_shards(
                tf_po, meta["n_docs"], self.num_shards
            ),
            resume,
            write=po.write_postings,
        )
        stats = cp.run_stage(
            self.spark,
            man,
            "term_stats",
            cp.fingerprint("term_stats", fp_po),
            lambda: po.term_stats(postings),
            resume,
        )
        if fused_tf:
            tf.unpersist()
        return IndexHandle(
            self.spark, self.out_dir, postings, stats,
            meta["n_docs"], meta["avgdl"], self.dictionary, man,
            meta=meta,
        )


class IndexHandle:
    def __init__(
        self, spark, out_dir, postings, term_stats, n_docs, avgdl,
        dictionary, manifest, tombstones=None, meta: dict | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        # the published meta this handle was opened with (None for
        # in-build handles) — keys the shared serving cache so a
        # time-travel handle never shares entries with the live one
        self.meta = meta
        self.postings = postings
        self.term_stats = term_stats
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.manifest = manifest
        posting_dirs = [
            os.path.join(out_dir, d)
            for d in (meta or {}).get("postings_dirs", ["postings"])
        ]
        self.engine = se.SearchEngine(
            spark, postings, posting_dirs, n_docs, avgdl, dictionary,
            tombstones=tombstones,
        )

    def attach_shared_cache(self, cache_root: str):
        """Attach the cross-process posting cache tier
        (operators/servecache.py) to this handle's engine, keyed by the
        meta this handle was OPENED with (so a time-travel handle gets
        its snapshot's own key) — any commit produces a new key, so
        entries this engine writes can never be read against a
        different snapshot.  Returns the cache for stats/vacuum."""
        from tse_spark.operators import servecache as sc

        if self.meta is not None:
            cache = sc.SharedPostingCache.for_meta(cache_root, self.meta)
        else:
            cache = sc.SharedPostingCache.for_index(
                cache_root, self.out_dir
            )
        self.engine.shared_cache = cache
        return cache

    def attach_result_cache(self, cache_root: str):
        """Attach the snapshot-keyed top-k RESULT cache (third serving
        tier, servecache.ResultCache) — same key law as the posting
        tier: any commit rotates the key, stale results unreachable."""
        from tse_spark.operators import servecache as sc

        if self.meta is not None:
            cache = sc.ResultCache.for_meta(cache_root, self.meta)
        else:
            cache = sc.ResultCache.for_index(cache_root, self.out_dir)
        self.engine.result_cache = cache
        return cache

    def _tf_row_major(self):
        """The tf checkpoint as (doc_id, term, tf): tse-tokenized
        builds persist it document-major (terms/tfs arrays) — explode
        back for per-term joins; ws builds are row-major already."""
        tf = self.spark.read.parquet(os.path.join(self.out_dir, "tf"))
        if "terms" in tf.columns:
            return ib.doc_terms_to_tf(tf).select("doc_id", "term", "tf")
        return tf.select("doc_id", "term", "tf")

    def more_like_this(
        self, doc_id: int, n_terms: int = 5, k: int = 10
    ):
        """Serving-side related docs ("more like this" next to a
        result): the seed's top tf-idf keywords come from the index's
        OWN artifacts — a pushed-down point read of the tf checkpoint
        plus term_stats df — then the standard per-shard WAND search
        runs them with the seed excluded.  Document text is never
        touched.  The keyword law is identical to
        :func:`tse_spark.operators.index_build.more_like_this`
        (rounded tf·ln(n/df), term-asc ties), so the declarative and
        served paths share one oracle.

        The keyword list (``n_terms`` rows) is the only thing that
        visits the driver — the same driver traffic as any typed
        query.  Uses the base build's tf checkpoint; after appends,
        seed docs from a delta batch are not yet visible here."""
        import math

        from pyspark.sql import functions as F

        sid = int(doc_id)
        tf = (
            self._tf_row_major()
            .filter(F.col("doc_id") == sid)
            .join(self.term_stats.select("term", "df"), "term")
            .select("term", "tf", "df")
        )
        n = float(self.n_docs)
        kw = sorted(
            (
                (-round(r["tf"] * math.log(n / r["df"]), 4), r["term"])
                for r in tf.collect()
            )
        )[: int(n_terms)]
        terms = [t for _, t in kw]
        if not terms:
            return self.spark.createDataFrame([], se.RESULT_SCHEMA)
        out = self.engine.search(" ".join(terms), k + 1)
        # re-order after the seed filter: limit() alone on a filtered
        # result gives no order guarantee (tiny k+1-row input)
        return (
            out.filter(F.col("doc_id") != sid)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )


    def rm3_topk(
        self,
        query: str,
        k: int = 10,
        n_fb: int = 3,
        n_terms: int = 5,
        lam: float = 0.5,
    ):
        """Pseudo-relevance feedback (RM3-style) serving: run the
        query, take the top ``n_fb`` documents as implicit relevance
        feedback, extract their best aggregate tf-idf terms from the
        index's OWN artifacts (the tf checkpoint + term_stats — same
        keyword law as :meth:`more_like_this`, with tf SUMMED over the
        feedback docs; original query terms excluded from expansion),
        then rescore with the expanded query: original terms at weight
        1, expansion terms at weight ``lam``, folded into the idf so
        the per-shard WAND machinery serves the weighted query
        unchanged (operators/search.py idf_override).

        Driver traffic: the feedback doc ids (n_fb ints) and the
        keyword rows (bounded by the feedback docs' vocabulary) — the
        same order as any typed query; no corpus data ever collects.

        Same freshness caveat as :meth:`more_like_this`: expansion
        terms come from the BASE build's tf checkpoint, which appends
        do not extend — feedback docs from appended batches contribute
        no expansion terms until a compaction/rebuild refreshes the
        checkpoint (the ranking still degrades gracefully to the
        surviving terms)."""
        import math

        from pyspark.sql import functions as F

        eng = self.engine
        orig = eng.query_terms(query)
        if not orig:
            return self.spark.createDataFrame([], se.RESULT_SCHEMA)
        fb_ids = [int(d) for d, _ in eng.search_local(query, n_fb)]
        if not fb_ids:
            return self.spark.createDataFrame([], se.RESULT_SCHEMA)
        n = float(self.n_docs)
        agg = (
            self._tf_row_major()
            .filter(F.col("doc_id").isin(fb_ids))
            .filter(~F.col("term").isin(orig))
            .groupBy("term")
            .agg(F.sum("tf").alias("tf"))
            .join(self.term_stats.select("term", "df"), "term")
            .collect()
        )
        kw = sorted(
            (
                (-round(r["tf"] * math.log(n / r["df"]), 4), r["term"])
                for r in agg
            )
        )[: int(n_terms)]
        exp = [t for _, t in kw]
        idf = eng._idf_map(sorted(set(orig) | set(exp)))
        override = {t: idf[t] for t in orig if t in idf}
        override.update(
            {t: float(lam) * idf[t] for t in exp if t in idf}
        )
        return eng.search(
            " ".join(orig + exp), k, idf_override=override
        )


def load_index(
    spark: SparkSession, out_dir: str, dictionary: frozenset[bytes] = frozenset()
) -> IndexHandle:
    """Open a previously built index without re-running any stage."""
    with open(os.path.join(out_dir, "meta.json")) as f:
        meta = json.load(f)
    return handle_from_meta(spark, out_dir, meta, dictionary)


def handle_from_meta(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    dictionary: frozenset[bytes] = frozenset(),
) -> IndexHandle:
    """Open the index state one meta describes — the current meta.json
    (load_index) or an archived one (plans/snapshots.load_index_at,
    the time-travel read)."""
    codec.check_format(meta, out_dir)
    # appended indexes list extra delta dirs in meta (Iceberg-style:
    # files become visible only through the atomically-replaced
    # meta.json, never by merely existing in a directory)
    p_dirs = meta.get("postings_dirs", ["postings"])
    postings = spark.read.parquet(
        *[os.path.join(out_dir, d) for d in p_dirs]
    )
    stats = spark.read.parquet(
        os.path.join(out_dir, meta.get("term_stats_dir", "term_stats"))
    )
    # live tombstones (plans/delete.py): small by contract — a large
    # backlog should be folded away by compact_index.  Collected once
    # per open; every serving path of the handle's engine masks them.
    tomb = None
    if meta.get("tombstones_dir"):
        import numpy as _np

        tomb = _np.array(
            [
                r["doc_id"]
                for r in spark.read.parquet(
                    os.path.join(out_dir, meta["tombstones_dir"])
                ).collect()
            ],
            dtype=_np.int64,
        )
    return IndexHandle(
        spark, out_dir, postings, stats,
        meta["n_docs"], meta["avgdl"], dictionary, cp.Manifest(out_dir),
        tombstones=tomb, meta=meta,
    )


def index_report(spark: SparkSession, out_dir: str) -> DataFrame:
    """Index observability: one row per build/append stage recorded in
    the manifest, plus one row per live artifact dir in meta.json —
    the operator's answer to "what did this build do, stage by stage,
    partition by partition, and what is on disk now".

    Columns: (kind, name, fingerprint, rows, seconds, resumed,
    n_partitions, files, bytes, row_groups).  Manifest rows carry the
    build-time metrics (per-partition row counts summarized as
    n_partitions; the raw map lives in _manifest.json); meta rows carry
    the current on-disk footprint of every directory the published
    meta.json references — after appends the delta dirs each get a
    row, so growth and compaction debt are visible at a glance.
    ``row_groups`` (dir rows only, from the parquet footers) shows the
    posting layout: a posting dir with one row group per file is in the
    layout written before postings.write_postings capped row groups,
    and serves cold lookups slower until compaction rewrites it.

    Pure metadata: reads two small json files, stats local files and
    reads their parquet footers; no Spark job over the corpus.  At web scale the same listing runs
    against the table's file index (manifests), never the data."""
    rows: list[tuple] = []
    man = cp.Manifest(out_dir)
    for name, st in sorted(man.stages.items()):
        parts = st.get("partitions") or {}
        rows.append(
            (
                "stage",
                name,
                st.get("fingerprint"),
                st.get("rows"),
                st.get("seconds"),
                bool(st.get("resumed")),
                len(parts) or None,
                None,
                None,
                None,
            )
        )
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        dirs = (
            meta.get("docs_dirs", [])
            + meta.get("postings_dirs", ["postings"])
            + [meta.get("term_stats_dir", "term_stats")]
        )
        for d in dirs:
            p = os.path.join(out_dir, d)
            if not os.path.isdir(p):
                continue
            files = [
                os.path.join(r, fn)
                for r, _, fns in os.walk(p)
                for fn in fns
                if fn.endswith(".parquet")
            ]
            rows.append(
                (
                    "dir",
                    d,
                    meta.get("fingerprint"),
                    None,
                    None,
                    None,
                    None,
                    len(files),
                    sum(os.path.getsize(f) for f in files),
                    sum(pq.read_metadata(f).num_row_groups for f in files),
                )
            )
    return spark.createDataFrame(
        rows,
        "kind string, name string, fingerprint string, rows long, "
        "seconds double, resumed boolean, n_partitions long, "
        "files long, bytes long, row_groups long",
    )
