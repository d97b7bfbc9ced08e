"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: BM25 inverted-index pipeline over the
sf0.001 ``documents`` table, top-10 for a fixed query.

``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data ops); each callable (spark, sf_dir) -> DataFrame.

``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every query.  The
approximate pipelines (MinHash/SimHash/LSH) run in portable-md5 mode so
DuckDB recomputes them end to end; the GB2312/FMM pages pipeline
(``pages_bm25``) is scored by DuckDB from the pure-Python oracle's
expected-tf fixture parquet (no SQL tokenizer exists for FMM — the
fixture table is the independently derived truth the pytest
conformance suite also pins the Arrow tokenizer UDF to).

Column names and value rounding are aligned on both sides (the driver
hash-compares after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# fixed query constants (the "reference query set" heads for the driver gate)
# ---------------------------------------------------------------------------
BM25_QUERY = ["spark", "join", "data"]
BM25_CONJ_QUERY = ["spark", "join"]
# web-style boolean box: "spark data +join -slow"
BOOL_POS = ["spark", "data"]
BOOL_REQ = ["join"]
BOOL_EXC = ["slow"]
# synonym expansion: groups score by their best-matching member
SYN_QUERY = "spark merge fast"
SYN_GROUPS = [["merge", "sort"], ["fast", "quick"]]

# batch retrieval: one index pass serving a whole query table
BATCH_QUERIES = [
    (0, "spark join"),
    (1, "data query"),
    (2, "spark fast scan"),
    (3, "join data slow"),
    (4, "merge sort"),
]
BATCH_K = 5
SCAN_NEEDLE = "merge sort"
SNIPPET_TERM = "spark"
PAGES_QUERY = "搜索引擎"
K = 10
# embeddings fixture width (TESTDATA.md; the ANN oracles hardcode the
# same value via _lsh_plane_sigs_sql(dim=64))
EMB_DIM = 64

# hybrid retrieval (X101): per-leg candidate depth + the SIGIR'09 RRF k0
HYBRID_CAND = 30
RRF_K0 = 60
# impact quantization (X102)
QUANT_BITS = 8
# LRU cache simulation (X103): capacities priced by one distance pass
CACHE_SIZES = [4, 16, 64, 256]
# query-likelihood Dirichlet smoothing mass (X106)
QL_MU = 2000.0
# Jelinek-Mercer mixing weight (X106 sibling; Zhai-Lafferty short-query)
QL_LAMBDA = 0.1
# accumulator limit (X109): sized so the gate BITES on the sf0.01
# fixture (first two terms' entrants pass, the third term's new docs
# are shut out) — the law's discriminating regime, not a no-op
ACC_LIMIT = 400

# Common DuckDB tokenization prelude (must mirror build_tf_ws semantics:
# lowercase, split on \s+, 2..8-byte term filter).
_TOK = """
WITH tok0 AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
  FROM documents
),
tok AS (SELECT doc_id, term FROM tok0 WHERE strlen(term) BETWEEN 2 AND 8),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl)
"""

# token stream WITHOUT the 2..8 filter (textops.tokens semantics)
_TOK_ALL = """
WITH tok0 AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
  FROM documents
),
tok AS (SELECT doc_id, term FROM tok0 WHERE strlen(term) > 0)
"""

_BM25_SQL = """
, perterm AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms})
)
"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tf_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tse_spark.operators import index_build as ib

    return ib.build_tf_ws(_t(spark, sf_dir, "documents"))


_TF_CACHE: dict[str, DataFrame] = {}


def _tf_ws_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cached tf per sf_dir, shared by every bm25 call — bounded
    (max one entry per sf under test) instead of a fresh cached lineage
    per query (the round-1 leak)."""
    if sf_dir not in _TF_CACHE:
        _TF_CACHE[sf_dir] = _tf_ws(spark, sf_dir).cache()
    return _TF_CACHE[sf_dir]


def _bm25(
    spark: SparkSession, sf_dir: str, terms: list[str], conjunctive: bool
) -> DataFrame:
    from tse_spark.operators import index_build as ib

    # tf feeds doclen + dfreq + corpus stats + the scoring join; cache it
    # so the tokenize/aggregate lineage runs once, not once per consumer
    tf = _tf_ws_cached(spark, sf_dir)
    doclen = ib.build_doclen(tf)
    # df is only consumed for the query terms — prune BEFORE the
    # full-vocabulary aggregation shuffle (same df values for those terms)
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(list(set(terms)))))
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, terms, K, conjunctive
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents (rows > 0, schema
    (doc_id long, score double))."""
    return _bm25(spark, "/root/testdata/sf0.001", BM25_QUERY, False)


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------

def _q_tf_table(spark, sf):
    return _tf_ws(spark, sf)


def _q_df_stats(spark, sf):
    from tse_spark.operators import index_build as ib

    return ib.build_df_stats(_tf_ws(spark, sf))


def _q_doclen(spark, sf):
    from tse_spark.operators import index_build as ib

    return ib.build_doclen(_tf_ws(spark, sf))


def _q_corpus_stats(spark, sf):
    from tse_spark.operators import index_build as ib

    doclen = ib.build_doclen(_tf_ws(spark, sf))
    return doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 4).alias("avgdl"),
    )


def _q_bm25_topk(spark, sf):
    return _bm25(spark, sf, BM25_QUERY, False)


def _q_bm25_explain(spark, sf):
    """Score EXPLAIN (index_build.bm25_explain): the per-term BM25
    decomposition — (tf, df, dl, idf, contribution, total) — for
    exactly the docs bm25_topk returns.  The relevance-debugging
    surface; oracle reproduces the decomposition in SQL."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    return ib.bm25_explain(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, K
    )


def _q_index_fsck(spark, sf):
    """Integrity audit (plans/fsck.py) of the serving ws index: full
    shard decode, published-vs-recomputed stats equality, id-space /
    dl / duplicate-pair / snapshot-log invariants.  The numeric columns
    are ground-truth-checked against the corpus (DuckDB recomputes
    docs/terms/postings/max-id from the tokenization law); the flag
    columns must all come back 1."""
    from tse_spark.plans import fsck

    h = _ws_index(spark, sf)
    return fsck.fsck_index(spark, h.out_dir)


def _q_bm25_conjunctive(spark, sf):
    return _bm25(spark, sf, BM25_CONJ_QUERY, True)


def _q_bm25_boolean(spark, sf):
    """Boolean search box: 'spark data +join -slow' — doc must contain
    join, must not contain slow, scored over {spark, data, join}.
    Declarative oracle-parity path (index_build.bm25_boolean_topk)."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    scoring = sorted(set(BOOL_POS) | set(BOOL_REQ))
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(scoring)))
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.bm25_boolean_topk(
        spark, tf, doclen, dfreq, n, avgdl, BOOL_POS, BOOL_REQ, BOOL_EXC, K
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_boolean(spark, sf):
    """Same boolean query served from the compressed posting shards
    (SearchEngine.search_boolean): one pruned fetch for scoring +
    excluded terms, per-shard scored-run masking, global top-k.  Must
    equal the declarative path row-for-row (shared oracle)."""
    h = _ws_index(spark, sf)
    out = h.engine.search_boolean("spark data +join -slow", K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_bm25_synonyms(spark, sf):
    """Synonym-expanded BM25 ('#syn'): 'spark merge fast' with
    merge≈sort, fast≈quick — each group scores by the MAX of its
    members' addends (no double counting), spark sums as usual.
    Declarative oracle-parity path (index_build.bm25_expanded_topk)."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    allt = sorted(
        set(SYN_QUERY.split()) | {t for g in SYN_GROUPS for t in g}
    )
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(allt)))
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.bm25_expanded_topk(
        spark, tf, doclen, dfreq, n, avgdl,
        SYN_QUERY.split(), SYN_GROUPS, K,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_synonyms(spark, sf):
    """Same expansion served from the compressed posting shards
    (SearchEngine.search_expanded): group-max folded on scored runs per
    shard, zero extra scans.  Shares the declarative path's oracle."""
    h = _ws_index(spark, sf)
    out = h.engine.search_expanded(SYN_QUERY, SYN_GROUPS, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_bm25_page2(spark, sf):
    """Q9 pagination (reference TSESearch pages by re-ranking and
    slicing): page 2 of the same ranking = rows 11..20, served with
    offset/limit on the ordered plan — at scale this stays a single
    TakeOrderedAndProject of (page+1)*k rows, never a full sort."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(list(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, K * 2, False
    )
    return (
        out.offset(K)
        .limit(K)
        .select("doc_id", F.round("score", 4).alias("score"))
    )


def _q_bm25_after(spark, sf):
    """Keyset (search_after) pagination (textops.keyset_page): page 2
    of the bm25_topk ranking served by CURSOR, not offset — the page-1
    tail (score, doc_id) broadcasts into the scored set, the resume
    predicate filters before the top-k, and the page is one
    TakeOrderedAndProject of k rows at ANY depth (offset paging — Q9 /
    bm25_page2 — materializes (page+1)*k).  Scores round to 4 decimals
    BEFORE the cut so the cursor's equality leg is engine-portable;
    ordering is (score desc, doc_id asc) throughout."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops as tx

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(list(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    scored = ib.bm25_scores(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY
    ).select("doc_id", F.round("score", 4).alias("score"))
    page1 = tx.keyset_page(scored, K)
    return tx.keyset_page(scored, K, after=tx.page_tail(page1))


def _q_postings_strings(spark, sf):
    tf = _tf_ws(spark, sf)
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("posting"),
    )


def _q_vocab_growth(spark, sf):
    """Heaps-law raw material: cumulative (docs, tokens, vocab) per
    corpus decile (operators/corpuslaws.py).  Decile boundaries use
    integer arithmetic on both engines so there is no float-boundary
    drift; a term counts toward the decile of its FIRST occurrence."""
    from tse_spark.operators import corpuslaws as cl

    n = _n_docs(spark, sf)
    return cl.vocab_growth(_tf_ws_cached(spark, sf), n)


def _q_heaps_fit(spark, sf):
    """V = k * T^beta fitted by ln-ln least squares over the decile
    growth points — the dictionary-size forecast used to size shard
    counts before a corpus-scale jump."""
    from tse_spark.operators import corpuslaws as cl

    n = _n_docs(spark, sf)
    return cl.heaps_fit(cl.vocab_growth(_tf_ws_cached(spark, sf), n))


def _q_zipf_slope(spark, sf):
    """Zipf rank-frequency slope over the top-100 terms (ties broken by
    term) — the posting-skew forecast behind the salted (term, shard)
    shuffle sizing."""
    from tse_spark.operators import corpuslaws as cl

    return cl.zipf_slope(_tf_ws_cached(spark, sf), top_n=100)


def _q_postings_codec(spark, sf):
    """Alternative posting codecs through the driver gate: every
    posting list of the bench vocabulary is re-encoded inside the task
    with Simple8b (on doc-id gaps) AND Elias-Fano (on absolute ids,
    operators/intcodec.py), decoded back, and emitted as the joined id
    string per codec — the oracle recomputes the true posting from the
    tf law, so one wrong id at any position in either codec
    hash-mismatches."""
    from pyspark.sql import types as T

    tf = _tf_ws(spark, sf)
    grouped = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("docs"),
    )

    schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("df", T.LongType()),
            T.StructField("posting_s8b", T.StringType()),
            T.StructField("posting_ef", T.StringType()),
        ]
    )

    def run(batches):
        import numpy as _np
        import pandas as _pd

        from tse_spark.operators import intcodec as ic

        for pdf in batches:
            recs = []
            for r in pdf.itertuples():
                ids = _np.asarray(list(r.docs), dtype=_np.uint64)
                gaps = _np.diff(_np.concatenate([[0], ids]))
                s8b = ic.simple8b_decode_bytes(
                    ic.simple8b_encode_bytes(gaps)
                ).cumsum()
                ef = ic.elias_fano_decode(ic.elias_fano_encode(ids))
                recs.append(
                    (
                        r.term,
                        int(r.df),
                        ",".join(str(int(x)) for x in s8b),
                        ",".join(str(int(x)) for x in ef),
                    )
                )
            yield _pd.DataFrame(
                recs, columns=["term", "df", "posting_s8b", "posting_ef"]
            )

    return grouped.mapInPandas(run, schema=schema)


def _q_top_terms(spark, sf):
    tf = _tf_ws(spark, sf)
    return (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("cf"), F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(20)
    )


def _q_scan_search(spark, sf):
    from tse_spark.operators import textops

    return textops.scan_search(_t(spark, sf, "documents"), SCAN_NEEDLE)


def _q_snippet(spark, sf):
    from tse_spark.operators import textops

    return textops.snippet(_t(spark, sf, "documents"), SNIPPET_TERM)


def _q_replica_groups(spark, sf):
    from tse_spark.operators import dedup

    return dedup.exact_dup_groups(_t(spark, sf, "documents"))


def _q_mirror_hosts(spark, sf):
    """Host-level mirror detection (dedup.mirror_hosts): the synth
    corpus plus a deterministic mirror — every even doc_id is also
    served at host m{doc_id%97}.example.net — so each .cn/.de synth
    host (whose docs are all even: doc_id%4 in {0,2}) is fully
    contained in its m-host twin (overlap 1.0) while .com/.org hosts
    (odd docs) share nothing.  The oracle rebuilds the mirror law and
    the containment-overlap join in SQL."""
    from tse_spark.operators import dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    orig = docs.join(_synth_urls(spark, sf), "doc_id").select("url", "text")
    d = F.col("doc_id")
    mirror = docs.filter(d % 2 == 0).select(
        F.concat(
            F.lit("http://m"),
            (d % 97).cast("string"),
            F.lit(".example.net/p/"),
            d.cast("string"),
        ).alias("url"),
        "text",
    )
    return dedup.mirror_hosts(orig.unionByName(mirror))


def _q_doc_fingerprint(spark, sf):
    from tse_spark.operators import textops

    return textops.doc_fingerprint(_t(spark, sf, "documents"))


def _q_token_count(spark, sf):
    from tse_spark.operators import textops

    return textops.token_count(_t(spark, sf, "documents"))


def _q_quality_score(spark, sf):
    from tse_spark.operators import textops

    return textops.quality_score(_t(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    from tse_spark.operators import textops

    return textops.lang_id(_t(spark, sf, "documents"))


def _q_shingle_count(spark, sf):
    from tse_spark.operators import dedup

    return (
        dedup.shingles(_t(spark, sf, "documents"), 3)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )


def _q_jaccard_top_pairs(spark, sf):
    from tse_spark.operators import dedup

    sh = dedup.shingles(_t(spark, sf, "documents"), 2)
    # hot-shingle cap (df <= 64): drops stopword bigrams before the
    # self-join — the skew control that keeps the pair count linear-ish
    # at web scale (mirrored in the oracle SQL)
    return dedup.jaccard_pairs(sh, top=10, max_shingle_df=64)


def _q_decontaminate(spark, sf):
    """Benchmark decontamination (the 13-gram eval-overlap check from
    LLM training pipelines, at n=5 for the short-doc corpus): docs with
    doc_id % 97 == 0 stand in as the held-out eval suite; every other
    doc is scored for distinct-5-gram overlap against it via a
    broadcast gram-set join (dedup.ngram_contamination)."""
    from tse_spark.operators import dedup

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.ngram_contamination(train, bench, n=5)


def _q_repetition_filter(spark, sf):
    """Gopher-style repetition quality filters: top-bigram token
    coverage + duplicate-trigram fraction per doc, with keep/drop."""
    from tse_spark.operators import textops

    return textops.repetition_stats(_t(spark, sf, "documents"))


def _mix_rates() -> dict[str, float]:
    """The driver mix law: rate(srcN) = ((N % 4) + 1) / 4 — four strata
    at 0.25/0.5/0.75/1.0.  Spelled over range(32) so any sf's source
    set is covered; the oracle derives the identical rate arithmetically
    from the source suffix."""
    return {f"src{i}": ((i % 4) + 1) / 4.0 for i in range(32)}


def _q_mix_sample(spark, sf):
    """Deterministic stratified training-mix audit: per-source totals,
    kept counts and observed vs target rate under the salted-hash keep
    law (sampling.mix_sample / mix_report).  Reproducible bit-for-bit
    at any partitioning — the property DataFrame.sample lacks."""
    from tse_spark.operators import sampling

    return sampling.mix_report(_t(spark, sf, "documents"), _mix_rates())


def _q_doc_chunks(spark, sf):
    """Sliding-window chunker (textops.chunk_documents): 64-token
    windows, 16-token overlap — the pretraining/RAG splitter.  Pure
    per-row codegen (split + sequence + slice), zero shuffles."""
    from tse_spark.operators import textops

    return textops.chunk_documents(_t(spark, sf, "documents"), 64, 16)


def _q_passage_topk(spark, sf):
    """Passage-level BM25 (textops.passage_bm25_topk): the 64/16
    sliding windows of doc_chunks become the RANKED retrieval unit —
    own length norm, passage-frequency df, passage-count N — the
    retrieve-for-rerank / RAG surface (reference twin: promotes
    DisplayRst.cpp's best-window selection from presentation-time to
    retrieval).  Per-window query-term tf runs as array filter/size in
    codegen, so the occurrence stream never shuffles; the oracle
    reproduces the window + stats law with list ops in SQL."""
    from tse_spark.operators import textops

    return textops.passage_bm25_topk(
        _t(spark, sf, "documents"), BM25_QUERY, K
    )


_PASSAGE_STATS_CACHE: dict = {}


def _passage_stats_cached(spark, sf_dir):
    """One cached passage-stats sidecar per sf_dir (a BUILD artifact
    like the positional shards it serves beside)."""
    if sf_dir not in _PASSAGE_STATS_CACHE:
        from tse_spark.operators import textops

        _PASSAGE_STATS_CACHE[sf_dir] = textops.build_passage_stats(
            _t(spark, sf_dir, "documents")
        ).cache()
    return _PASSAGE_STATS_CACHE[sf_dir]


def _q_passage_topk_indexed(spark, sf):
    """Passage-level BM25 served from the POSITIONAL index + the
    passage-stats sidecar (positions.passage_bm25_topk_indexed):
    document text is never fetched or re-tokenized at query time —
    query-term windows come from position lists, dl/validity from the
    sidecar.  Result-identical to passage_topk (shared oracle), the
    same scan-vs-index pairing as phrase_match / phrase_match_pos."""
    from tse_spark.operators import positions as pos

    return pos.passage_bm25_topk_indexed(
        _pos_index_cached(spark, sf),
        _passage_stats_cached(spark, sf),
        BM25_QUERY,
        K,
    )


def _q_passage_render(spark, sf):
    """RAG answer surface (textops.passage_render): passage_topk's
    windows joined back to their text, query terms bracketed [term] —
    the k-row result broadcasts into the chunk relation, so rendering
    adds one scan-speed pass and zero chunk-text shuffles."""
    from tse_spark.operators import textops

    return textops.passage_render(
        _t(spark, sf, "documents"), BM25_QUERY, K
    )


# plural-rich synthesized column for the stemming demo: the fixture
# vocabulary has no inflections, so each doc deterministically appends
# one plural whose S-stem merges with an existing base term
_PLURAL_CASE = {0: "queries", 1: "tables", 2: "keys", 3: "rows"}
STEM_QUERY = ["query", "table", "row"]


def _plural_docs(spark, sf):
    m = F.col("doc_id") % 4
    plural = (
        F.when(m == 0, _PLURAL_CASE[0])
        .when(m == 1, _PLURAL_CASE[1])
        .when(m == 2, _PLURAL_CASE[2])
        .otherwise(_PLURAL_CASE[3])
    )
    return _t(spark, sf, "documents").withColumn(
        "text", F.concat_ws(" ", F.col("text"), plural)
    )


def _q_bm25_stemmed(spark, sf):
    """Stemmed retrieval: the tf relation re-keyed on the S-stem
    (textops.stemmed_tf) feeds the UNCHANGED BM25 scorer, so 'query'
    matches 'queries' etc.; doclen is invariant, df merges across
    inflections.  Runs over the plural-augmented corpus so the merge
    actually changes scores (the fixture vocabulary is plural-free)."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    docs = _plural_docs(spark, sf)
    stf = textops.stemmed_tf(ib.build_tf_ws(docs))
    doclen = ib.build_doclen(stf)
    dfreq = ib.build_df_stats(
        stf.filter(F.col("term").isin(sorted(set(STEM_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.bm25_topk(
        spark, stf, doclen, dfreq, n, avgdl, STEM_QUERY, K, False
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_auto_stopwords(spark, sf):
    """Corpus-mined stopword list: terms in >= 75% of documents
    (textops.auto_stopwords; 0.75 is exactly representable, so the
    threshold is bit-identical in both engines)."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    n, _ = ib.corpus_stats(ib.build_doclen(tf))
    return textops.auto_stopwords(tf, n, 0.75)


CMS_DEPTH = 4
CMS_WIDTH = 256


def _q_cms_heavy_hitters(spark, sf):
    """Count-min sketch accuracy report: the exact top-10 terms vs
    their CMS estimates (depth 4 x width 256 — sketches.cms_sketch /
    cms_estimates).  est >= exact always (the one-sided CMS law);
    overcount shows the collision cost at this width."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import sketches

    toks = ib.ws_token_stream(_t(spark, sf, "documents"))
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("term"))
        .limit(10)
    )
    sk = sketches.cms_sketch(toks, CMS_DEPTH, CMS_WIDTH)
    est = sketches.cms_estimates(sk, exact, CMS_DEPTH, CMS_WIDTH)
    return exact.join(est, "term").select(
        "term",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


PROBE_ITERS = 3
PROBE_LR = 0.25


def _q_quality_probe(spark, sf):
    """Distributed linear-probe training (probe.probe_train): 3 batch
    GD iterations on squared loss over codegen'd quality features —
    one d+1-sum full-scan aggregate per iteration, O(d) driver bytes;
    the fixed-point gradient law makes the weights bit-identical to
    the oracle's unrolled SQL iterations."""
    from tse_spark.operators import probe

    feats = probe.quality_features(_t(spark, sf, "documents"))
    w = probe.probe_train(feats, PROBE_ITERS, PROBE_LR)
    return probe.probe_weights_df(spark, w)


def _q_quality_probe_scores(spark, sf):
    """The trained probe applied back to the corpus: per-doc score,
    keep decision, and label agreement — the filter-audit table."""
    from tse_spark.operators import probe

    feats = probe.quality_features(_t(spark, sf, "documents"))
    w = probe.probe_train(feats, PROBE_ITERS, PROBE_LR)
    return probe.probe_scores(feats, w)


def _q_distinct_estimate(spark, sf):
    """KMV distinct-cardinality sketch (sketches.kmv_distinct): the
    k=128 smallest distinct 60-bit md5 hashes estimate distinct(text)
    without a full dedup; the query doubles as its own accuracy report
    (exact count + relative error alongside the estimate)."""
    from tse_spark.operators import sketches

    return sketches.kmv_distinct(_t(spark, sf, "documents"), "text", 128)


def _q_priority_sample(spark, sf):
    """Priority sampling (Duffield-Lund-Thorup): deterministic
    weighted sample of 20 docs by byte length with Horvitz-Thompson
    weight estimates — reproducible at any parallelism, unlike
    DataFrame.sample (sketches.priority_sample)."""
    from tse_spark.operators import sketches

    return sketches.priority_sample(
        _t(spark, sf, "documents"), "doc_id", F.octet_length("text"), 20
    )


def _q_seq_pack(spark, sf):
    """Fixed-budget sequence packing (256-token sequences, 8 shards):
    docs concatenate in (shard, doc_id) order and split at exact token
    boundaries — every interior sequence carries exactly 256 tokens;
    the per-shard running-offset window keeps shards independent."""
    from tse_spark.operators import sampling

    return sampling.pack_sequences(
        _t(spark, sf, "documents"), budget=256, n_shards=8
    )


def _q_pii_redact(spark, sf):
    """PII scrub over the corpus: email/IPv4/phone counts + redacted
    text per doc, chained regexp_replace in the Java/RE2 common subset
    so DuckDB applies the identical patterns."""
    from tse_spark.operators import textops

    return textops.pii_redact(_t(spark, sf, "documents"))


def _q_cosine_topk(spark, sf):
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    return similarity.cosine_topk(emb, qv, K, exclude_id=0)


def _q_embedding_norms(spark, sf):
    from tse_spark.operators.similarity import _norm

    return _t(spark, sf, "embeddings").select(
        "vec_id", F.round(_norm(F.col("embedding")), 4).alias("l2")
    )


def _q_events_sessionize(spark, sf):
    from tse_spark.operators import events

    return events.sessionize(_t(spark, sf, "events"))


def _q_events_hourly(spark, sf):
    from tse_spark.operators import events

    return events.hourly_window_agg(_t(spark, sf, "events"))


def _q_events_top_users(spark, sf):
    from tse_spark.operators import events

    return events.top_users_by_value(_t(spark, sf, "events"))


def _q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_tpch_q3(spark, sf):
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
    )
    return (
        rev.select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q_search_render(spark, sf):
    """Q10 + T8 full (reference index/DisplayRst.cpp:82-261): BM25 top-k
    joined back to docs with per-term highlighted context windows and
    the (synthesized) url — the row a search user actually sees."""
    from tse_spark.operators import textops

    topk = _bm25(spark, sf, BM25_QUERY, False)
    docs = _t(spark, sf, "documents").withColumn("url", _synth_url_col())
    return textops.render_results(
        topk, docs, BM25_QUERY, width=64, extra_cols=("url",)
    )


def _q_content_type_gate(spark, sf):
    """C9 mime gate (reference tse/Crawl.cpp:439-451) over the media
    table (media_id = doc_id, deterministic kinds/mimes)."""
    from tse_spark.operators import multimodal as mm
    from tse_spark.operators import textops

    media = mm.media_df(spark, _n_docs(spark, sf))
    out = textops.content_type_gate(
        media, allowed=("image/png", "audio/wav")
    )
    return out.select("media_id", "kind", "mime")


def _q_point_lookup(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "lang", "source", "n_chars")
    )


def _q_source_rollup(spark, sf):
    return (
        _t(spark, sf, "documents")
        .rollup("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_INDEX_CACHE: dict[str, object] = {}


def _current_meta(out):
    """The published meta.json of a persistent index dir, or None when
    there is none.  A dir written in an older posting format is
    removed, so the caller rebuilds it from scratch."""
    import json as _json
    import os as _os
    import shutil

    from tse_spark.operators import codec

    path = _os.path.join(out, "meta.json")
    if not _os.path.exists(path):
        return None
    with open(path) as f:
        meta = _json.load(f)
    if meta.get("posting_format") != codec.POSTING_FORMAT:
        shutil.rmtree(out, ignore_errors=True)
        return None
    return meta


def _ws_index(spark, sf):
    """Build (once per sf_dir) a compressed sharded index over the
    documents table with the whitespace tokenizer; serve via WAND."""
    import hashlib

    from tse_spark.plans import pipeline as pl

    key = sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    out = "/tmp/tse_ws_index_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    _current_meta(out)
    pipe = pl.IndexPipeline(spark, out, tokenizer="ws", num_shards=8)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    handle = pipe.run_from_docs(docs, input_key=sf, resume=True)
    _INDEX_CACHE[key] = handle
    return handle


def _merged_index(spark, sf):
    """Cross-segment merge lifecycle (plans/merge.py): the documents
    corpus split url-disjoint by doc-id parity, each half built as an
    INDEPENDENT ws index (different shard grids: 5 vs 3 shards), then
    merge_indexes folds them — segment A's ids survive verbatim,
    segment B's lift by max_doc_id(A)+1.  Idempotent across process
    runs (a published op="merge" snapshot short-circuits)."""
    import hashlib

    from tse_spark.plans import merge as mmod
    from tse_spark.plans import pipeline as pl

    key = "merged:" + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = f"/tmp/tse_ws_merged_{tag}"
    m = _current_meta(out)
    if m is not None and m.get("snapshot_op") == "merge":
        h = pl.load_index(spark, out)
        _INDEX_CACHE[key] = h
        return h
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    ha = pl.IndexPipeline(
        spark, f"/tmp/tse_ws_msega_{tag}", tokenizer="ws", num_shards=5,
    ).run_from_docs(
        docs.filter(F.col("doc_id") % 2 == 0),
        input_key="mseg_a:" + sf, resume=True,
    )
    hb = pl.IndexPipeline(
        spark, f"/tmp/tse_ws_msegb_{tag}", tokenizer="ws", num_shards=3,
    ).run_from_docs(
        docs.filter(F.col("doc_id") % 2 == 1),
        input_key="mseg_b:" + sf, resume=True,
    )
    h = mmod.merge_indexes(spark, ha.out_dir, hb.out_dir, out)
    _INDEX_CACHE[key] = h
    return h


def _absorbed_index(spark, sf):
    """Live-index absorption lifecycle (plans/merge.absorb_segment):
    segment A (even source ids, the same dir _merged_index builds)
    COPIED to a fresh target, then segment B (odds) absorbed into it —
    O(segment) append of a pre-built index, target bytes untouched.
    Ids: evens verbatim; odds lift to the target's next free
    shard_range multiple (append's base law).  Idempotent across
    process runs (a published op="absorb" snapshot short-circuits)."""
    import hashlib
    import os as _os
    import shutil

    from tse_spark.plans import merge as mmod
    from tse_spark.plans import pipeline as pl

    key = "absorbed:" + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = f"/tmp/tse_ws_absorbed_{tag}"
    m = _current_meta(out)
    if m is not None and m.get("snapshot_op") == "absorb":
        h = pl.load_index(spark, out)
    else:
        _merged_index(spark, sf)  # builds the two segment dirs
        seg_a = f"/tmp/tse_ws_msega_{tag}"
        seg_b = f"/tmp/tse_ws_msegb_{tag}"
        if not (
            _os.path.exists(_os.path.join(seg_a, "meta.json"))
            and _os.path.exists(_os.path.join(seg_b, "meta.json"))
        ):
            # _merged_index's op="merge" snapshot short-circuits without
            # touching the segment dirs; a /tmp state with the merged
            # meta present but segments cleaned would crash the
            # copytree below — drop the snapshot + cache entry so the
            # segment builds rerun
            shutil.rmtree(f"/tmp/tse_ws_merged_{tag}", ignore_errors=True)
            _INDEX_CACHE.pop("merged:" + sf, None)
            _merged_index(spark, sf)
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(seg_a, out)
        h = mmod.absorb_segment(spark, out, seg_b)
    _INDEX_CACHE[key] = h
    return h


def _q_wand_absorbed(spark, sf):
    """WAND serving after a live-index absorption: scores are the
    full-corpus exhaustive BM25 (absorb == append == rebuild for
    url-disjoint segments), ids translate by append's base law —
    odds lift to ceil((max_even+1)/R)*R with R = ceil(n_even/5)
    (the segment build's shard_range), which the oracle computes in
    integer SQL."""
    h = _absorbed_index(spark, sf)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_merged(spark, sf):
    """WAND serving over a merged two-segment index (X114): because
    merge == rebuild over the union corpus and the union IS the full
    documents table, the scores are exactly wand_topk's — only the ids
    moved (odd source ids lifted by max-even+1), so the oracle is the
    exhaustive BM25 with the same deterministic id translation."""
    h = _merged_index(spark, sf)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_topk(spark, sf):
    """Distributed per-shard top-k over delta-gap varint posting
    shards; must equal the exhaustive SQL BM25 (same oracle as
    bm25_topk)."""
    h = _ws_index(spark, sf)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_clarity_score(spark, sf):
    """Clarity query-performance prediction (operators/qpp.py): KL
    divergence of the BM25 top-10 set's uniform-mixture language model
    from the corpus model — low clarity routes ambiguous queries to
    expansion/federation.  The oracle recomputes retrieval + both
    models + the KL sum in SQL."""
    from tse_spark.operators import qpp

    tf = _tf_ws_cached(spark, sf)
    top = _bm25(spark, sf, BM25_QUERY, False).select("doc_id")
    return qpp.clarity(tf, top).select(
        F.round("clarity", 4).alias("clarity")
    )


def _q_wand_conjunctive(spark, sf):
    h = _ws_index(spark, sf)
    out = h.engine.search(" ".join(BM25_CONJ_QUERY), K, conjunctive=True)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_sharedcache(spark, sf):
    """Cross-process shared posting cache (operators/servecache.py):
    a COLD serving process (fresh handle, empty in-process LRUs) must
    reproduce the exhaustive SQL BM25 (wand_topk's oracle) purely from
    snapshot-keyed cache entries a SIBLING process wrote — its posting
    file source is poisoned, so any cache miss would crash rather
    than silently fall back.  A vacuum sweep runs between the two so
    the cold read also proves eviction keeps only valid entries."""
    import hashlib as _h

    from tse_spark.operators import servecache as sc
    from tse_spark.plans import pipeline as pl

    h = _ws_index(spark, sf)  # ensures the on-disk index exists
    root = "/tmp/tse_svc_cache_" + _h.md5(sf.encode()).hexdigest()[:8]
    filler = pl.load_index(spark, h.out_dir)
    cache = filler.attach_shared_cache(root)
    filler.engine.search_local(" ".join(BM25_QUERY), K)
    sc.vacuum_cache(root, cache.key, budget_bytes=256 << 20)
    cold = pl.load_index(spark, h.out_dir)
    cold.attach_shared_cache(root)
    cold.engine.posting_files = None  # a posting fetch would throw
    res = cold.engine.search_local(" ".join(BM25_QUERY), K)
    return spark.createDataFrame(
        [(int(d), round(float(s), 4)) for d, s in res],
        "doc_id long, score double",
    )


def _q_wand_result_cached(spark, sf):
    """Result-cache serving tier (X107, servecache.ResultCache): a warm
    engine answers the flagship query once (filling the snapshot-keyed
    result entry), then a COLD engine with its posting file source AND
    posting caches all poisoned must reproduce the exhaustive SQL BM25
    purely from the cached top-k — any miss would crash rather than
    silently recompute."""
    import hashlib as _h

    from tse_spark.plans import pipeline as pl

    h = _ws_index(spark, sf)
    root = "/tmp/tse_rs_cache_" + _h.md5(sf.encode()).hexdigest()[:8]
    warm = pl.load_index(spark, h.out_dir)
    warm.attach_result_cache(root)
    warm.engine.search_local(" ".join(BM25_QUERY), K)
    cold = pl.load_index(spark, h.out_dir)
    cold.attach_result_cache(root)
    cold.engine.posting_files = None  # a posting fetch would throw
    cold.engine.shared_cache = None
    res = cold.engine.search_local(" ".join(BM25_QUERY), K)
    return spark.createDataFrame(
        [(int(d), round(float(s), 4)) for d, s in res],
        "doc_id long, score double",
    )


def _ws_pruned_index(spark, sf):
    """Impact-pruned sibling of _ws_index: same tokenizer/shards, but
    every term keeps only its top-PRUNE_M postings (pipeline prune_m);
    served by the SAME WAND engine."""
    import hashlib

    from tse_spark.plans import pipeline as pl

    key = "pruned:" + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    out = "/tmp/tse_ws_pidx_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    _current_meta(out)
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=8,
        prune_m=PRUNE_M,  # module constant defined below; bound at call
    )
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    handle = pipe.run_from_docs(docs, input_key=sf, resume=True)
    _INDEX_CACHE[key] = handle
    return handle


def _q_wand_pruned_topk(spark, sf):
    """Per-shard top-k over the impact-PRUNED compressed index: per-term
    top-PRUNE_M postings by full-stats BM25 impact, df recomputed from
    what survived (the index's own stats — both serving paths read df
    from the shards/term_stats, so the pruned index is self-consistent),
    dl/avgdl/n_docs full-corpus.  The oracle reproduces prune + rescore
    end to end in SQL."""
    h = _ws_pruned_index(spark, sf)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _tomb_index(spark, sf, compacted: bool):
    """Deletion-law indexes (plans/delete.py): a _ws_index sibling with
    every doc_id % 7 == 3 tombstoned.  ``compacted=False`` serves with
    the live tombstone mask (stale full-corpus stats — the documented
    delete law); ``compacted=True`` runs compact_index so the deletes
    are physically folded and stats are exact over the survivors.  Each
    variant gets its OWN dir: they are different published states of an
    index lifecycle, and the builders are idempotent across process
    runs (a finished state short-circuits to load_index)."""
    import hashlib
    import json as _json
    import os as _os

    from tse_spark.plans import compact as cmod
    from tse_spark.plans import delete as dmod
    from tse_spark.plans import pipeline as pl

    key = ("tombc:" if compacted else "tomb:") + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = "tcidx" if compacted else "tidx"
    out = f"/tmp/tse_ws_{tag}_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    meta_path = _os.path.join(out, "meta.json")
    done = False
    m = _current_meta(out)
    if m is not None:
        done = (
            m.get("compact_version", 0) >= 1
            if compacted
            else bool(m.get("tombstones_dir"))
            # wand_snapshot time-travels to v1 of this lifecycle, so a
            # dir from before the snapshot log existed must rebuild
            and _os.path.exists(
                _os.path.join(out, "snapshots", "v1.json")
            )
        )
    if done:
        handle = pl.load_index(spark, out)
    else:
        pipe = pl.IndexPipeline(spark, out, tokenizer="ws", num_shards=8)
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        pipe.run_from_docs(docs, input_key="tomb:" + sf, resume=False)
        if compacted:
            # compaction folds deletes physically and needs the docs
            # relation (dead-doc stat subtraction); run_from_docs
            # indexes don't persist one, so persist it here
            docs.write.mode("overwrite").parquet(
                _os.path.join(out, "docs")
            )
        with open(meta_path) as f:
            max_id = int(_json.load(f)["max_doc_id"])
        handle = dmod.delete_docs(
            spark, out, doc_ids=list(range(3, max_id + 1, 7))
        )
        if compacted:
            handle = cmod.compact_index(spark, out)
    _INDEX_CACHE[key] = handle
    return handle


def _q_wand_tombstoned(spark, sf):
    """Serving with LIVE tombstones (docs deleted, not yet compacted):
    every path masks doc_id % 7 == 3 while corpus stats stay the
    full-corpus values — so the result is exactly the full BM25 ranking
    with the deleted docs removed, which is what the oracle computes
    (full-stats perterm scores, candidates filtered)."""
    h = _tomb_index(spark, sf, compacted=False)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _batch_queries_df(spark):
    return spark.createDataFrame(
        BATCH_QUERIES, "query_id long, text string"
    )


RELATED_DF_CAP = 400   # hot-term cap for the all-pairs related join
RELATED_TOP = 20


def _q_index_storage(spark, sf):
    """Storage report over the serving index's compressed shards
    (postings.storage_report): per-shard + total term/posting counts —
    the skew/capacity dashboard.  Byte columns are engine-side only
    (the codec's size law has no SQL twin); the oracle recomputes the
    shard occupancy from the tokenization + shard-assignment laws."""
    from tse_spark.operators import postings as po

    h = _ws_index(spark, sf)
    return po.storage_report(h.postings).select(
        "shard", "n_terms", "n_postings"
    )


def _q_related_pairs(spark, sf):
    """All-pairs related documents (dedup.tf_cosine_pairs): the batch
    'related articles' precompute — tf-vector cosine over the
    df-capped term subspace, hot terms dropped BEFORE the self-join
    (jaccard_pairs' quadratic-explosion law).  Integer dot products
    keep the metric bit-identical across engines."""
    from tse_spark.operators import dedup

    out = dedup.tf_cosine_pairs(
        _tf_ws_cached(spark, sf),
        max_term_df=RELATED_DF_CAP,
        top=RELATED_TOP,
    )
    return out.select("doc_a", "doc_b", F.col("dot").cast("long").alias("dot"), "cos")


def _q_vocab_drift(spark, sf):
    """Vocabulary drift across the recrawl lifecycle's commit log
    (plans/snapshots.term_drift): df movers between snapshot v1 (the
    base build) and the current state (upsert + compact folded) — read
    from each PUBLISHED state's term_stats, no corpus rescan.  Oracle
    recomputes both corpora's df from the laws and diffs them."""
    import json as _json
    import os as _os

    from tse_spark.plans import snapshots as snmod

    h = _recrawl_index(spark, sf)
    with open(_os.path.join(h.out_dir, "meta.json")) as f:
        cur = int(_json.load(f)["snapshot_id"])
    return snmod.term_drift(spark, h.out_dir, 1, cur, k=20)


def _q_percolate(spark, sf):
    """Prospective search (operators/percolate.py): the standing-query
    table evaluated against the corpus in ONE tokenize-and-join pass —
    every conjunctive (query, doc) match with its coverage and tf.
    Oracle reproduces the match law in SQL over the same literal query
    table."""
    from tse_spark.operators import percolate as pc

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return pc.percolate(docs, _batch_queries_df(spark), conjunctive=True)


def _q_batch_search(spark, sf):
    """Batch retrieval (operators/batchsearch.py): the whole query
    table served by ONE pruned pass over the compressed shards —
    per-query scores identical to the interactive engine's (same
    idf/avgdl law), so the exhaustive SQL BM25 is the shared oracle."""
    from tse_spark.operators import batchsearch as bs

    h = _ws_index(spark, sf)
    return bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl,
        _batch_queries_df(spark), BATCH_K,
    )


def _q_batch_metrics(spark, sf):
    """Offline eval over the batch results: recall/MRR/NDCG@k per query
    against conjunctive-match relevance sets (docs containing EVERY
    query term — deterministic and SQL-expressible, so the metric math
    itself is value-verified end to end)."""
    from tse_spark.operators import batchsearch as bs
    from tse_spark.operators import index_build as ib2

    h = _ws_index(spark, sf)
    queries = _batch_queries_df(spark)
    results = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, queries, BATCH_K
    )
    qt = bs.tokenize_queries(queries)
    n_terms = qt.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_terms")
    )
    tf = ib2.build_tf_ws(_t(spark, sf, "documents"))
    qrels = (
        tf.join(qt, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(n_terms, "query_id")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    return bs.retrieval_metrics(results, qrels, BATCH_K)


def _q_ltr_features(spark, sf):
    """Learning-to-rank feature export (operators/ltr.py): one row per
    (query, BM25 top-k candidate) with the classic feature block —
    bm25/rank, term-match stats (n_matched, coverage, sum/max tf,
    sum_idf), length norms, the quality_score heuristic, and the
    pagerank prior over the synthetic link graph.  Candidates come
    from ONE batch-retrieval pass; every feature joins against the
    broadcast candidate set, never a corpus rescan.  The oracle
    recomputes the whole matrix (retrieval + features + prior) in
    SQL."""
    from tse_spark.operators import ltr

    h = _ws_index(spark, sf)
    priors = _q_pagerank(spark, sf).select(
        "doc_id", F.col("rank").alias("prior")
    )
    return ltr.ltr_features(
        h.postings, h.term_stats, h.n_docs, h.avgdl,
        _batch_queries_df(spark), _t(spark, sf, "documents"),
        priors=priors, k=BATCH_K,
    )


INCR_MIN_J = 0.2  # incremental dedup: verify threshold


def _incr_split(spark, sf):
    """The incremental-dedup scenario: every 10th doc is 'today's
    crawl batch', the rest is the historical corpus."""
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
    )


def _q_incr_neardup(spark, sf):
    """Incremental near-dup (dedup.neardup_vs_corpus): the new batch's
    banded MinHash signatures BROADCAST against the corpus signature
    table; exact-Jaccard verify recomputes corpus shingle sets only
    for candidate docs.  md5 portable mode — the oracle replays
    signatures, banding, the batch-x-corpus candidate join, and the
    verification."""
    from tse_spark.operators import dedup

    new, corpus = _incr_split(spark, sf)
    return dedup.neardup_vs_corpus(
        new, corpus, min_jaccard=INCR_MIN_J, hash_fn="md5"
    )


def _q_incr_novel(spark, sf):
    """What the pipeline appends: the batch anti-joined against its
    corpus matches."""
    from tse_spark.operators import dedup

    new, corpus = _incr_split(spark, sf)
    m = dedup.neardup_vs_corpus(
        new, corpus, min_jaccard=INCR_MIN_J, hash_fn="md5"
    )
    return dedup.novel_docs(new, m).select("doc_id", "lang", "source")


BPE_MERGES = 20  # tokenizer training: merge budget
_BPE_CACHE: dict[str, object] = {}


def _bpe_learned(spark, sf):
    """(merges, final vocab) for the sf — learned once per sf_dir and
    shared by the bpe_merges / bpe_segment entries."""
    from tse_spark.operators import bpe

    if sf not in _BPE_CACHE:
        _BPE_CACHE[sf] = bpe.learn_bpe(
            spark, _t(spark, sf, "documents"), n_merges=BPE_MERGES
        )
    return _BPE_CACHE[sf]


def _q_bpe_pair_counts(spark, sf):
    """BPE training iteration 0 (operators/bpe.py): adjacent CHARACTER
    pair counts over the corpus word-count table — the statistics the
    first merge decision reads; direct SQL twin."""
    from tse_spark.operators import bpe

    vocab = bpe.word_count_table(
        _t(spark, sf, "documents")
    ).select("word", "count", bpe._syms_col().alias("syms"))
    return bpe.pair_count_table(vocab).select(
        "left", "right", F.col("n").cast("long").alias("n")
    )


def _q_bpe_merges(spark, sf):
    """Full BPE merge learning (Sennrich): BPE_MERGES merges in learn
    order.  The law is iterative (no direct SQL form), so the oracle
    is the pages_bm25 fixture pattern: an INDEPENDENT pure-Python
    implementation (oracle.bpe_learn) recomputes the merge list from
    the same parquet and the SQL reads its fixture."""
    from tse_spark.operators import bpe

    merges, _ = _bpe_learned(spark, sf)
    return bpe.merges_df(spark, merges)


def _q_bpe_segment(spark, sf):
    """The learned segmentation of the corpus vocabulary (what a
    tokenizer export ships) — conformance over every word, fixture
    oracle from oracle.bpe_segment_word."""
    from tse_spark.operators import bpe

    _, vocab = _bpe_learned(spark, sf)
    return bpe.segment_table(vocab)


WINNOW_K = 4       # winnowing: k-gram length (tokens)
WINNOW_W = 5       # winnowing: window length (k-grams)
WINNOW_SHARED = 2  # pair candidates: min shared fingerprints
WINNOW_FP_DF = 200  # hot-fingerprint cap before the pair self-join


def _q_winnow_fingerprints(spark, sf):
    """Winnowing (MOSS) fingerprints (dedup.winnow_fingerprints): the
    window-min sample of the k-gram hash stream, LOCAL by construction
    (any shared run of w+k-1 tokens shares a fingerprint) — the third
    fingerprint family next to MinHash and SimHash.  Portable md5
    hash; the oracle replays kgram-hash -> frame-bounded window min ->
    distinct."""
    from tse_spark.operators import dedup

    return dedup.winnow_fingerprints(
        _t(spark, sf, "documents"), k=WINNOW_K, w=WINNOW_W,
        hash_fn="md5",
    )


def _q_winnow_pairs(spark, sf):
    """Plagiarism-style candidates over the winnowing fingerprints:
    pairs sharing >= WINNOW_SHARED fps, hot-fp capped like
    jaccard_pairs."""
    from tse_spark.operators import dedup

    fps = dedup.winnow_fingerprints(
        _t(spark, sf, "documents"), k=WINNOW_K, w=WINNOW_W,
        hash_fn="md5",
    )
    return dedup.winnow_pairs(
        fps, min_shared=WINNOW_SHARED, max_fp_df=WINNOW_FP_DF
    )


PMI_MIN_COUNT = 5  # collocation mining: bigram count floor


def _q_pmi_collocations(spark, sf):
    """Collocation mining (textops.pmi_collocations): top-20 bigrams
    by PMI over one in-array bigram aggregation, count-floored against
    PMI's rare-pair pathology; rounded-PMI ties break by (w1, w2) so
    the LIMIT boundary is deterministic in both engines."""
    from tse_spark.operators import textops

    return textops.pmi_collocations(
        _t(spark, sf, "documents"), min_count=PMI_MIN_COUNT, k=20
    )


DUP_SPAN_N = 5  # duplicate-span masking: minimum span length (tokens)


def _q_dup_span_mask(spark, sf):
    """ExactSubstr-style duplicate-span removal (dedup.dup_span_mask):
    every token position inside a CROSS-DOC duplicated span of >=
    DUP_SPAN_N tokens is masked and the cleaned text emitted — the
    span-level sibling of document-level near-dup.  md5 gram keys
    (portable mode); the oracle replays grams → cross-doc dup test →
    position coverage → reconstruction on the raw gram strings."""
    from tse_spark.operators import dedup

    return dedup.dup_span_mask(
        _t(spark, sf, "documents"), n=DUP_SPAN_N, hash_fn="md5"
    )


LM_FILTER_Q = 0.5  # perplexity filter: keep the most-fluent half


def _q_lm_perplexity(spark, sf):
    """CCNet-style curation (operators/lm.py): per-doc perplexity
    under an add-k smoothed bigram LM trained on the corpus itself —
    tokens/bigrams/model/score laws all deterministic, so the oracle
    recomputes training AND scoring in SQL."""
    from tse_spark.operators import lm

    return lm.doc_perplexity(_t(spark, sf, "documents"))


def _q_lm_filter(spark, sf):
    """The exact rank form of the perplexity filter: the most-fluent
    floor(q*n_scored) docs by (ppl, doc_id).  The scale path is the
    thresholded map-side variant (perplexity_filter_threshold); this
    ranked law is what the oracle can cut identically."""
    from tse_spark.operators import lm

    return lm.perplexity_filter(
        _t(spark, sf, "documents"), q=LM_FILTER_Q
    )


RM3_FB = 3       # feedback docs
RM3_TERMS = 5    # expansion terms
RM3_LAM = 0.5    # expansion weight


def _q_bm25_rm3(spark, sf):
    """RM3 pseudo-relevance feedback (IndexHandle.rm3_topk): top-RM3_FB
    docs of the base query feed an aggregate tf-idf expansion (same
    keyword law as more_like_this, summed over the feedback docs), and
    the weighted expanded query reranks — original terms weight 1,
    expansion terms weight RM3_LAM folded into idf.  The oracle
    reproduces feedback selection, expansion, and weighted rescoring
    end to end in SQL."""
    h = _ws_index(spark, sf)
    out = h.rm3_topk(
        " ".join(BM25_QUERY), K,
        n_fb=RM3_FB, n_terms=RM3_TERMS, lam=RM3_LAM,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_federated(spark, sf):
    """Multi-index federation (plans/federate.py): the documents table
    split into two url-disjoint member indexes (doc_id parity; ids
    preserved by run_from_docs, so they are globally unique), served
    with GLOBAL (df, n_docs, avgdl) — the ranking must equal the
    single-index full-corpus BM25 (wand_topk's oracle)."""
    import hashlib

    from tse_spark.plans import federate as fe
    from tse_spark.plans import pipeline as pl

    key = "fed:" + sf
    if key not in _INDEX_CACHE:
        outs = []
        for parity in (0, 1):
            out = (
                f"/tmp/tse_ws_fed{parity}_"
                + hashlib.md5(sf.encode()).hexdigest()[:8]
            )
            if _current_meta(out) is None:
                pl.IndexPipeline(
                    spark, out, tokenizer="ws", num_shards=4,
                ).run_from_docs(
                    _t(spark, sf, "documents")
                    .filter(F.col("doc_id") % 2 == parity)
                    .select("doc_id", "text"),
                    input_key=f"fed{parity}:{sf}",
                    resume=True,
                )
            outs.append(out)
        _INDEX_CACHE[key] = fe.FederatedIndex(spark, outs)
    f = _INDEX_CACHE[key]
    out = f.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_selective(spark, sf):
    """Shard-selected federation (FederatedIndex.search_selective):
    documents split 3 ways by doc_id % 3 into url-disjoint members;
    members rank by query-term df mass and zero-mass members are
    skipped before any posting block is read.  Selection only DROPS
    candidates (global stats always span all members), so with the
    min_score=1 cut the ranking must equal the single-index
    full-corpus BM25 — the wand_topk oracle."""
    import hashlib

    from tse_spark.plans import federate as fe
    from tse_spark.plans import pipeline as pl

    key = "fedsel:" + sf
    if key not in _INDEX_CACHE:
        outs = []
        for part in (0, 1, 2):
            out = (
                f"/tmp/tse_ws_fedsel{part}_"
                + hashlib.md5(sf.encode()).hexdigest()[:8]
            )
            if _current_meta(out) is None:
                pl.IndexPipeline(
                    spark, out, tokenizer="ws", num_shards=4,
                ).run_from_docs(
                    _t(spark, sf, "documents")
                    .filter(F.col("doc_id") % 3 == part)
                    .select("doc_id", "text"),
                    input_key=f"fedsel{part}:{sf}",
                    resume=True,
                )
            outs.append(out)
        _INDEX_CACHE[key] = fe.FederatedIndex(spark, outs)
    f = _INDEX_CACHE[key]
    out = f.search_selective(" ".join(BM25_QUERY), K, min_score=1)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_snapshot(spark, sf):
    """Time-travel serving (plans/snapshots.py): the tombstoned index's
    commit log holds v1 = the pre-delete build, and load_index_at
    serves it exactly as it was published — so this query must equal
    the FULL-corpus ranking (wand_topk's oracle) even though the
    index's current state masks the deleted docs."""
    from tse_spark.plans import snapshots as snmod

    h = _tomb_index(spark, sf, compacted=False)
    h1 = snmod.load_index_at(spark, h.out_dir, 1)
    out = h1.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_delete_compacted(spark, sf):
    """After compact_index folds the tombstones: postings re-encoded
    without the deleted ids (surviving doc ids preserved) and
    df/n_docs/avgdl exact over the survivors — the oracle recomputes
    BM25 from scratch over the surviving documents only."""
    h = _tomb_index(spark, sf, compacted=True)
    out = h.engine.search(" ".join(BM25_QUERY), K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


RECRAWL_TS0 = "2024-01-01 00:00:00"   # base crawl
RECRAWL_TS1 = "2024-03-01 00:00:00"   # the newer re-crawl (wins)
RECRAWL_TS_OLD = "2023-06-01 00:00:00"  # a stale duplicate (drops)


def _recrawl_index(spark, sf):
    """Recrawl-reconciliation lifecycle (plans/append.py:upsert_pages):
    a pages-table ws index where doc_id % 9 == 2 urls were re-crawled
    LATER with ' spark spark' appended (replace: old copy tombstoned,
    fresh appended), % 9 == 4 urls re-arrived with an OLDER warc_ts and
    dummy text (must drop), and % 9 == 7 spawned brand-new '?v=new'
    urls with 'join ' prefixed — then compact_index folds the
    tombstones so stats are exact over the latest-per-url corpus.
    Idempotent across process runs (finished state short-circuits)."""
    import hashlib

    from tse_spark.plans import append as amod
    from tse_spark.plans import compact as cmod
    from tse_spark.plans import pipeline as pl

    key = "recrawl:" + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    out = "/tmp/tse_ws_ridx_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    done = False
    m = _current_meta(out)
    if m is not None:
        done = (
            any(a.get("op") == "upsert" for a in m.get("appends", []))
            and m.get("compact_version", 0) >= 1
        )
    if done:
        handle = pl.load_index(spark, out)
    else:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        i = F.col("doc_id")

        def pages_of(df, url_col, ts, text_col):
            return df.select(
                url_col.alias("url"),
                F.lit(ts).cast("timestamp").alias("warc_ts"),
                F.encode(text_col, "utf-8").alias("html"),
                text_col.alias("text"),
                F.lit("en").alias("lang"),
            )

        base_src = out + "_src_base"
        pages_of(
            docs, _synth_url_col(), RECRAWL_TS0, F.col("text")
        ).write.mode("overwrite").parquet(base_src)

        batch_src = out + "_src_batch"
        newer = pages_of(
            docs.filter(i % 9 == 2), _synth_url_col(), RECRAWL_TS1,
            F.concat(F.col("text"), F.lit(" spark spark")),
        )
        stale = pages_of(
            docs.filter(i % 9 == 4), _synth_url_col(), RECRAWL_TS_OLD,
            F.lit("stale stale"),
        )
        new = pages_of(
            docs.filter(i % 9 == 7),
            F.concat(_synth_url_col(), F.lit("?v=new")), RECRAWL_TS1,
            F.concat(F.lit("join "), F.col("text")),
        )
        newer.unionByName(stale).unionByName(new).write.mode(
            "overwrite"
        ).parquet(batch_src)

        pl.IndexPipeline(
            spark, out, tokenizer="ws", num_shards=8
        ).run_from_pages(base_src, resume=False)
        amod.upsert_pages(spark, out, batch_src)
        handle = cmod.compact_index(spark, out)
    _INDEX_CACHE[key] = handle
    return handle


def _q_wand_recrawled(spark, sf):
    """WAND serving after a recrawl upsert + compact: the ranking must
    equal exhaustive BM25 over the latest-per-url corpus (replaced docs
    carry their NEW text, stale re-arrivals never surface, new urls
    joined).  Appended copies get fresh engine ids, so results compare
    by url: top-50 exact-score candidates re-cut to top-K by
    (rounded score, url) — a comparator both engines express
    identically."""
    h = _recrawl_index(spark, sf)
    import json as _json
    import os as _os

    with open(_os.path.join(h.out_dir, "meta.json")) as f:
        meta = _json.load(f)
    urls = spark.read.parquet(
        *[_os.path.join(h.out_dir, d) for d in meta["docs_dirs"]]
    ).select("doc_id", "url")
    top = h.engine.search(" ".join(BM25_QUERY), 50)
    return (
        top.join(urls, "doc_id")
        .select("url", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "url")
        .limit(K)
    )


# ----- rows-only (non-SQL-expressible) engine paths -----

def _q_pages_bm25(spark, sf):
    """TSE pipeline end-to-end on the synthesized GB2312 pages fixture:
    extraction automaton + FMM tokenization + BM25.  Oracle-checked:
    DuckDB scores BM25 from the pure-Python oracle's expected-tf
    fixture (see _pages_bm25_oracle_sql), so doc-id assignment +
    tokenizer UDF + stats + scoring are all value-verified; the same
    truth also pins the UDF in tests/test_index_build.py.  Row count
    scales with the sf under test (documents count / 2, floor 200).
    The fixture is generated through the cached PARALLEL sharded writer
    (mp.Pool) — driver-serial gen_pages inside a timed query would
    dominate the wall clock at larger sf."""
    from tse_spark import fixtures
    from tse_spark.operators import index_build as ib

    n_pages = max(200, _n_docs(spark, sf) // 2)
    pages_dir = fixtures.write_pages_parquet_sharded(
        f"/tmp/tse_entry_pages_{n_pages}", n_pages, n_files=8
    )
    pages = spark.read.parquet(pages_dir)
    docs = ib.build_docs(pages, num_partitions=4)
    d = spark.sparkContext.broadcast(fixtures.mini_dict_bytes())
    tf = ib.build_tf(docs, d)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    from tse_spark import oracle

    terms = [
        t.decode("gb2312")
        for t in oracle.tokenize(
            PAGES_QUERY.encode("gb2312"), fixtures.mini_dict_bytes()
        )
        if oracle.eligible(t)
    ]
    out = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, terms, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_bpe_token_count(spark, sf):
    from tse_spark.operators import textops

    return textops.bpe_token_count(_t(spark, sf, "documents"))


PHRASE_QUERY = "spark join"  # quoted-query phrase over the synth corpus
SPELL_TERM = "sparc"  # misspelling of 'spark' (distance 1)


def _q_phrase_match(spark, sf):
    """Quoted-query serving: docs containing the exact token-adjacent
    phrase, with per-doc hit counts — matched inside the token array
    (codegen), positions never shuffle."""
    from tse_spark.operators import textops

    out = textops.phrase_match(_t(spark, sf, "documents"), PHRASE_QUERY)
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def _q_phrase_match_indexed(spark, sf):
    """The scale path for quoted queries: candidate docs pruned through
    the (term, doc_id) index (pushed-down term IN + contains-all), the
    adjacency check verified only on candidates.  Result-identical to
    phrase_match — the oracle is shared."""
    from tse_spark.operators import textops

    out = textops.phrase_match_indexed(
        _t(spark, sf, "documents"), _tf_ws_cached(spark, sf), PHRASE_QUERY
    )
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


_POS_INDEX_CACHE: dict[str, DataFrame] = {}


def _pos_index_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cached positional shard table per sf_dir (built once,
    reused by every positional query — the serving situation, where the
    index is a prebuilt table, not per-query work)."""
    if sf_dir not in _POS_INDEX_CACHE:
        from tse_spark.operators import positions as pos

        docs = _t(spark, sf_dir, "documents")
        _POS_INDEX_CACHE[sf_dir] = pos.build_position_index(
            docs, docs.count()
        ).cache()
    return _POS_INDEX_CACHE[sf_dir]


PHRASE3_QUERY = "row column sort"  # 3-word quoted query (combined scheme)


def _q_phrase_nextword(spark, sf):
    """Two-word quoted query answered by ONE key lookup in the
    next-word index (X108, textops.nextword_tf) — no scan, no verify,
    no positional decode.  Result-identical to phrase_match (shared
    oracle)."""
    from tse_spark.operators import textops

    nw = textops.nextword_tf(_t(spark, sf, "documents"))
    return textops.phrase_match_nextword(nw, PHRASE_QUERY)


def _q_phrase_nextword3(spark, sf):
    """Three-word quoted query via the combined scheme (Williams et
    al.): intersect consecutive-bigram postings (far rarer keys than
    unigrams), verify adjacency only on the intersection."""
    from tse_spark.operators import textops

    docs = _t(spark, sf, "documents")
    nw = textops.nextword_tf(docs)
    return textops.phrase_match_nextword(nw, PHRASE3_QUERY, docs=docs)


PHRASE_SLOP = 2  # "w1 w2"~N-style window for the sloppy variants


def _q_phrase_slop(spark, sf):
    """Ordered sloppy phrase over the positional index (X110,
    positions.phrase_match_slop): PHRASE_QUERY's words in order with
    up to PHRASE_SLOP interlopers between them; n_hits counts chain
    end positions (distinct completions)."""
    from tse_spark.operators import positions as pos

    out = pos.phrase_match_slop(
        _pos_index_cached(spark, sf), PHRASE_QUERY, slop=PHRASE_SLOP
    )
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def _q_phrase_slop3(spark, sf):
    """Three-word sloppy chain (reachability DP across two gaps)."""
    from tse_spark.operators import positions as pos

    out = pos.phrase_match_slop(
        _pos_index_cached(spark, sf), PHRASE3_QUERY, slop=PHRASE_SLOP
    )
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def _q_phrase_match_pos(spark, sf):
    """Quoted-query serving from the POSITIONAL index: term positions
    are delta-varint-encoded inside the posting blocks, so adjacency is
    answered from position-list intersection alone — document text is
    never fetched or re-tokenized (the true 10^12-doc shape; the
    `_indexed` variant above still re-scans candidate texts).
    Result-identical to phrase_match — the oracle is shared."""
    from tse_spark.operators import positions as pos

    out = pos.phrase_match_positional(
        _pos_index_cached(spark, sf), PHRASE_QUERY
    )
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def _pos_merged_cached(spark, sf):
    """Merged two-segment positional table (X114's positional twin,
    positions.merge_position_tables): the documents corpus parity-
    split, each half built as its own position table (different shard
    grids), folded with the main merge's id-lift law.  Idempotent
    across process runs (a published op="merge" snapshot
    short-circuits)."""
    import hashlib
    import json as _json
    import os as _os

    from tse_spark.operators import positions as pos

    key = "posmerged:" + sf
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = f"/tmp/tse_pos_merged_{tag}"
    meta_path = _os.path.join(out, "meta.json")
    done = False
    if _os.path.exists(meta_path):
        with open(meta_path) as f:
            done = _json.load(f).get("snapshot_op") == "merge"
    if not done:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        even = docs.filter(F.col("doc_id") % 2 == 0)
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        n = docs.count()
        shift = int(
            even.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        ) + 1
        da, db = f"/tmp/tse_pos_msega_{tag}", f"/tmp/tse_pos_msegb_{tag}"
        import shutil

        for d in (da, db, out):
            shutil.rmtree(d, ignore_errors=True)
        pos.build_position_table(even, da, n_docs=n, num_shards=5)
        pos.build_position_table(odd, db, n_docs=n, num_shards=3)
        pos.merge_position_tables(
            spark, da, db, out, shift=shift, max_doc_id=shift + n
        )
    table = pos.load_position_table(spark, out).cache()
    _INDEX_CACHE[key] = table
    return table


def _q_phrase_pos_merged(spark, sf):
    """Phrase serving over a MERGED two-segment positional table: the
    position lists are byte-identical to a union build modulo the
    deterministic id lift, so the oracle is phrase_match with the
    same even/odd id translation wand_merged uses."""
    from tse_spark.operators import positions as pos

    out = pos.phrase_match_positional(
        _pos_merged_cached(spark, sf), PHRASE_QUERY
    )
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def _q_phrase_pos_compacted(spark, sf):
    """Positional-table LIFECYCLE serving (operators/positions.py
    compact_position_table): build over half the corpus, O(delta)
    append the rest, tombstone doc_id % 7 == 3, compact — deltas and
    tombstones fold into ONE re-sharded base dir through the same
    snapshot-stamped commit the main index uses.  The served phrase
    result must equal a from-scratch phrase_match over the SURVIVORS —
    which is exactly what the oracle computes.  The lifecycle dir is
    persistent and idempotent across process runs (a finished state
    short-circuits to the load)."""
    import hashlib
    import json as _json
    import os as _os

    from tse_spark.operators import positions as pos

    out = "/tmp/tse_pos_life_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    meta_path = _os.path.join(out, "meta.json")
    done = False
    if _os.path.exists(meta_path):
        with open(meta_path) as f:
            done = _json.load(f).get("compact_version", 0) >= 1
    if not done:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        split = int(max_id) // 2
        pos.build_position_table(
            docs.filter(F.col("doc_id") <= split), out,
            n_docs=split + 1, num_shards=8,
        )
        pos.append_position_table(docs.filter(F.col("doc_id") > split), out)
        dead = list(range(3, int(max_id) + 1, 7))
        pos.compact_position_table(
            spark, out, max_doc_id=int(max_id), excluded=dead, gc=True
        )
    table = pos.load_position_table(spark, out)
    out_df = pos.phrase_match_positional(table, PHRASE_QUERY)
    return out_df.select(
        "doc_id", F.col("n_hits").cast("long").alias("n_hits")
    )


def _q_phrase_snippet(spark, sf):
    """Quoted-query serving end to end: rank from the positional index
    (n_hits desc, doc_id tiebreak), join text ONLY for the top-10 via
    a broadcast semi-join, snippet = phrase + 2 following tokens at
    the first hit — the docs table is touched for one page of results."""
    from tse_spark.operators import positions as pos

    out = pos.phrase_snippet_topk(
        _pos_index_cached(spark, sf),
        _t(spark, sf, "documents"),
        PHRASE_QUERY,
        k=K,
        context=2,
    )
    return out.select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("first_pos").cast("long").alias("first_pos"),
        "snippet",
    )


PROX_WINDOW = 5  # NEAR/5 for the two phrase-query words


def _q_proximity_count(spark, sf):
    """NEAR-query serving from the positional index: ordered (w0, w1)
    position pairs within a token window, counted per doc by one
    vectorized searchsorted range-subtraction over packed (doc, pos)
    keys — the proximity feature phrase-slop rankers are built on, and
    like phrase_match_pos it never touches document text."""
    from tse_spark.operators import positions as pos

    w0, w1 = PHRASE_QUERY.split()
    out = pos.proximity_count(
        _pos_index_cached(spark, sf), w0, w1, PROX_WINDOW
    )
    return out.select(
        "doc_id", F.col("n_pairs").cast("long").alias("n_pairs")
    )


PROX_BOOST = 0.5  # weight of the ln(1 + NEAR-pairs) proximity feature


def _q_bm25_proximity(spark, sf):
    """Rank fusion: disjunctive BM25 over the two phrase-query words
    plus PROX_BOOST * ln(1 + in-window ordered pair count) from the
    positional index — the phrase-slop ranking feature built from two
    already-verified operators (bm25_scores + proximity_count).  The
    combined score is rounded once at the end and ties break by doc_id
    so the order is engine-reproducible."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import positions as pos

    w0, w1 = PHRASE_QUERY.split()
    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin([w0, w1])))
    n, avgdl = ib.corpus_stats(doclen)
    bm = ib.bm25_scores(spark, tf, doclen, dfreq, n, avgdl, [w0, w1])
    prox = pos.proximity_count(
        _pos_index_cached(spark, sf), w0, w1, PROX_WINDOW
    )
    combined = F.round(
        F.col("score")
        + F.lit(PROX_BOOST)
        * F.log(F.lit(1.0) + F.coalesce(F.col("n_pairs"), F.lit(0)).cast("double")),
        4,
    )
    return (
        bm.join(prox, "doc_id", "left")
        .select("doc_id", combined.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )


def _q_doc_keywords(spark, sf):
    """Top-5 tf-idf keywords per document, extracted from the SAME
    (doc_id, term, tf) relation the index build produces (no second
    tokenization pass): score = tf * ln(n_docs/df) rounded before
    ranking so the order is engine-reproducible, ties by term."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    n_docs, _ = ib.corpus_stats(ib.build_doclen(tf))
    out = textops.doc_keywords(tf, n_docs, k=5)
    return out.select(
        "doc_id", "term", "score", F.col("rank").cast("long").alias("rank")
    )


def _q_spell_suggest(spark, sf):
    """'Did you mean': top-5 vocabulary terms nearest the misspelled
    query term by levenshtein, ties by df then lexicographic; runs over
    the vocabulary-sized df aggregate with a length-window prefilter."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    vocab = ib.build_df_stats(_tf_ws_cached(spark, sf))
    out = textops.spell_suggest(vocab, SPELL_TERM, k=5)
    return out.select(
        "term", F.col("dist").cast("long").alias("dist"), "df"
    )


def _q_bigram_count(spark, sf):
    """Top-20 adjacent token pairs: collocation stats computed inside
    the per-doc token array (zip_with over two slices) — one hash-agg
    shuffle, no positional self-join."""
    from tse_spark.operators import textops

    out = textops.bigram_counts(_t(spark, sf, "documents"))
    return out.orderBy(F.desc("n"), F.asc("bigram")).limit(20)


def _q_doclen_quantiles(spark, sf):
    """Exact p50/p90/p99 of document length (body tokens, 2..8-byte
    index terms) — corpus health stats; `percentile` is the exact
    linearly-interpolated aggregate on both engines."""
    from tse_spark.operators import index_build as ib

    dl = ib.build_doclen(_tf_ws_cached(spark, sf))
    q = F.expr("percentile(dl, array(0.5, 0.9, 0.99))")
    return dl.agg(
        F.round(q[0], 4).alias("p50"),
        F.round(q[1], 4).alias("p90"),
        F.round(q[2], 4).alias("p99"),
    )


def _q_cosine_neardup(spark, sf):
    from tse_spark.operators import similarity

    return similarity.cosine_neardup_pairs(
        _t(spark, sf, "embeddings"), threshold=0.4
    )


def _q_lsh_neardup(spark, sf):
    """Rows-only: LSH-bucketed near-dup candidates (recall vs the exact
    baseline is pytest-pinned; no DuckDB twin for the bucket hash)."""
    from tse_spark.operators import similarity

    return similarity.lsh_neardup_pairs(
        _t(spark, sf, "embeddings"),
        threshold=0.4,
        n_planes=2,
        n_bands=8,
        dim=EMB_DIM,  # from the fixture schema — avoids a probe job
    )


# k-means / SemDeDup parameters (clustering.py laws; oracle unrolls
# the same iteration count)
KMEANS_K = 8
KMEANS_ITERS = 2
SEMDEDUP_TAU = 0.35


_KMEANS_CACHE: dict[str, list] = {}


def _kmeans_cents(spark, sf):
    """One trained quantizer per sf (clustering.kmeans_train):
    `kmeans_clusters`, `kmeans_report` and `semantic_dedup` all
    consume the SAME generation's centroids, so training the
    2-iteration Lloyd loop once per consumer would triple the most
    expensive clustering job for identical k*dim floats — the
    pagerank-prior sharing pattern."""
    if sf not in _KMEANS_CACHE:
        from tse_spark.operators import clustering

        _KMEANS_CACHE[sf] = clustering.kmeans_train(
            _t(spark, sf, "embeddings"), KMEANS_K, KMEANS_ITERS, EMB_DIM
        )
    return _KMEANS_CACHE[sf]


def _q_kmeans_clusters(spark, sf):
    """Trained k-means assignment (Lloyd, 2 iterations from the
    deterministic vec_id<k seeds; fixed-point centroid updates so the
    DuckDB oracle unrolls the identical iteration bit-for-bit) — the
    coarse quantizer a production IVF build trains
    (clustering.kmeans_clusters)."""
    from tse_spark.operators import clustering

    return clustering.kmeans_clusters(
        _t(spark, sf, "embeddings"), KMEANS_K, KMEANS_ITERS, EMB_DIM,
        centroids=_kmeans_cents(spark, sf),
    )


def _q_kmeans_report(spark, sf):
    """Per-cell k-means convergence scoreboard: size + mean intra-cell
    squared distance, through the exact fixed-point mean law."""
    from tse_spark.operators import clustering

    return clustering.kmeans_report(
        _t(spark, sf, "embeddings"), KMEANS_K, KMEANS_ITERS, EMB_DIM,
        centroids=_kmeans_cents(spark, sf),
    )


def _q_semantic_dedup(spark, sf):
    """SemDeDup: drop vectors with a lower-id cosine>=tau neighbor in
    the SAME trained cluster — the cluster partition bounds the pair
    search (one equi-join shuffle on cell, never a corpus cross join)."""
    from tse_spark.operators import clustering

    return clustering.semantic_dedup(
        _t(spark, sf, "embeddings"),
        KMEANS_K,
        KMEANS_ITERS,
        EMB_DIM,
        SEMDEDUP_TAU,
        centroids=_kmeans_cents(spark, sf),
    )


RP_OUT_DIM = 32
RP_SEED = 11
RP_CAND = 50


def _q_rp_ann(spark, sf):
    """Johnson-Lindenstrauss compressed tier, coarse-then-exact: top-50
    candidates by cosine in the 64->32 sign-projected space, exact
    re-rank of the candidates only (similarity.rp_ann_topk_rerank);
    the coarse pass reads vectors 2x smaller.  `rp_recall` monitors
    the recall the projection's distortion allows on this corpus."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    return similarity.rp_ann_topk_rerank(
        emb, qv, K, RP_OUT_DIM, RP_CAND, RP_SEED, EMB_DIM, exclude_id=0
    )


def _q_rp_recall(spark, sf):
    """Recall@10 of the projected-space ranking vs exact cosine — the
    dimensionality/recall tradeoff monitor for the JL tier."""
    hit = (
        _q_rp_ann(spark, sf)
        .select("vec_id")
        .join(_q_cosine_topk(spark, sf).select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return hit.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_hit"),
        F.round(F.col("n_hit") / 10.0, 4).alias("recall"),
    )


SNAPSHOT_URL = "http://site42.example.de/cgi-bin/q42"  # synth url of doc 42


def _q_snapshot_by_url(spark, sf):
    """Q11 md5-keyed page snapshot over the synth-url'd documents table
    (scales with sf; DuckDB oracle mirrors the construction + md5)."""
    from tse_spark.operators import textops

    pages = _t(spark, sf, "documents").withColumn("url", _synth_url_col())
    out = textops.snapshot_by_url(pages, SNAPSHOT_URL)
    return out.select("url", "text", "lang")


_NDOCS_CACHE: dict[str, int] = {}


def _n_docs(spark, sf):
    """documents row count per sf_dir (cached — one tiny count job); the
    media/pages fixtures derive their sizes from it so every driver
    query scales with the sf under test."""
    if sf not in _NDOCS_CACHE:
        _NDOCS_CACHE[sf] = _t(spark, sf, "documents").count()
    return _NDOCS_CACHE[sf]


def _q_media_image_features(spark, sf):
    """Oracle-checked end-to-end: Spark decodes the ACTUAL payload bytes
    (mapInPandas over binary blobs); the DuckDB oracle recomputes the
    expected features from media_id via the arithmetic generation law
    (multimodal._payload_bytes) — verifying generate -> store -> decode
    round-trips exactly."""
    from tse_spark.operators import multimodal as mm

    out = mm.decode_image_features(mm.media_df(spark, _n_docs(spark, sf)))
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_px", 4).alias("mean_px"),
        F.round("std_px", 4).alias("std_px"),
    )


def _q_media_gif_roundtrip(spark, sf):
    """REAL image bytes through the driver gate: deterministic gray
    images are LZW-encoded into actual GIF87a/89a payloads inside the
    task (multimodal.encode_gif), then decode_image_features with the
    stdlib backend LZW-decodes those bytes back — the oracle recomputes
    the expected features from the pixel law, so any bit drift in
    either LZW direction hash-mismatches.  400 rows at every sf.  Both
    timed directions are vectorized: encode is the literal-code LZW
    (numpy bit-packing, no per-pixel Python) and decode's phase-1 code
    extraction + literal fast path are numpy; only genuinely
    compressed foreign streams fall back to the sequential table walk
    (multimodal._lzw_decode_gif)."""
    from tse_spark.operators import multimodal as mm

    out = mm.decode_image_features(
        mm.gif_media_df(spark, 400), decode_backend="stdlib"
    )
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_px", 4).alias("mean_px"),
        F.round("std_px", 4).alias("std_px"),
    )


def _q_media_jpeg_roundtrip(spark, sf):
    """REAL baseline-JPEG bytes through the driver gate: block-aligned
    piecewise-flat gray images are DCT/quantize/Huffman-encoded into
    actual JFIF payloads inside the task (operators/jpeg.encode_jpeg,
    quality 75 — luminance DC quantizer exactly 8, so flat blocks
    survive the lossy codec bit-exactly), then decode_image_features
    with the stdlib backend Huffman-decodes + IDCTs them back.  The
    oracle recomputes the pixel law's exact mean/std, so any drift in
    either codec direction hash-mismatches.  400 rows at every sf
    (coverage, not throughput — same stance as media_gif_roundtrip)."""
    from tse_spark.operators import multimodal as mm

    out = mm.decode_image_features(
        mm.jpeg_media_df(spark, 400), decode_backend="stdlib"
    )
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_px", 4).alias("mean_px"),
        F.round("std_px", 4).alias("std_px"),
    )


def _q_media_mixed_roundtrip(spark, sf):
    """Mixed PNG/GIF/JPEG corpus through ONE decode_image_features
    pass: the stdlib router byte-sniffs each payload (PNG signature,
    GIF8, FFD8FF) and decodes with the matching real codec.  PNG and
    GIF rows carry the gif pixel law (PNG is lossless), JPEG rows the
    flat-halves law; the oracle unions the per-format feature laws."""
    from tse_spark.operators import multimodal as mm

    out = mm.decode_image_features(
        mm.mixed_media_df(spark, 300), decode_backend="stdlib"
    )
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_px", 4).alias("mean_px"),
        F.round("std_px", 4).alias("std_px"),
    )


def _q_media_audio_features(spark, sf):
    from tse_spark.operators import multimodal as mm

    out = mm.audio_features(mm.media_df(spark, _n_docs(spark, sf)))
    return out.select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.round("duration_s", 6).alias("duration_s"),
        F.round(F.element_at("bands", 1), 4).alias("band0"),
    )


def _q_media_frame_sample(spark, sf):
    from tse_spark.operators import multimodal as mm

    out = mm.sample_video_frames(
        mm.media_df(spark, _n_docs(spark, sf)), every_n=4
    )
    return out.select(
        "media_id", F.col("frame_no").cast("long").alias("frame_no")
    )


# ----- crawler set-algebra (SURVEY.md §2.6) over synthesized urls -----

def _synth_url_col(doc=None):
    """Deterministic url column from doc_id (or any integer column
    expression) — the same construction is expressed in the DuckDB
    oracle SQL (_SYNTH_URLS_SQL) so url-bearing results can be
    value-compared."""
    doc = F.col("doc_id") if doc is None else doc
    dom = (
        F.when(doc % 4 == 0, ".example.cn")
        .when(doc % 4 == 1, ".example.com")
        .when(doc % 4 == 2, ".example.de")
        .otherwise(".example.org")
    )
    path = (
        F.when(doc % 5 == 0, F.concat(F.lit("/p/"), doc.cast("string")))
        .when(doc % 5 == 1, F.concat(F.lit("/img"), doc.cast("string"), F.lit(".jpg")))
        .when(doc % 5 == 2, F.concat(F.lit("/cgi-bin/q"), doc.cast("string")))
        .when(doc % 5 == 3, F.concat(F.lit("/a"), doc.cast("string"), F.lit("?b=1&c=2&d=3")))
        .otherwise(F.concat(F.lit("/x-"), doc.cast("string"), F.lit("+z")))
    )
    return F.concat(
        F.lit("http://site"), (doc % 97).cast("string"), dom, path
    )


def _synth_urls(spark, sf):
    """Deterministic url table derived from documents.doc_id."""
    d = _t(spark, sf, "documents").select("doc_id")
    return d.withColumn("url", _synth_url_col())


def _q_url_classify(spark, sf):
    from tse_spark.operators import crawl

    out = crawl.classify_urls(_synth_urls(spark, sf))
    return out.select(
        "doc_id", "url", "host", "is_image", "is_foreign",
        "valid_host", "filtered",
    )


def _q_tianwang_ingest(spark, sf):
    """Raw-page-store roundtrip through REAL Tianwang framing (the
    reference's native record file, tse/TianwangFile.cpp:36-58): docs
    are serialized into multi-record blobs inside the task (one blob
    per 50 docs, the per-thread-file shape), then
    sources/rawfiles.parse_tianwang re-scans them with the reference's
    marker + length framing (index/DocIndex.cpp:53-79).  The oracle
    recomputes every field — url/date/ip laws, the length arithmetic
    (header + body + 1), and the reference's md5-over-length-bytes
    checksum — so a single byte of framing drift hash-mismatches."""
    from tse_spark.sources import rawfiles as rf

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    urls = _synth_urls(spark, sf)
    src = docs.join(urls, "doc_id").withColumn(
        "blob_id", (F.col("doc_id") / 50).cast("long")
    )

    def per_blob(pdf):
        pdf = pdf.sort_values("doc_id")
        blob = b"".join(
            rf.format_tianwang_record(
                r.url,
                rf.rfc1123(rf.synth_date(r.doc_id)),
                rf.synth_ip(r.doc_id),
                rf.HEADER,
                str(r.text).encode("utf-8"),
            )
            for r in pdf.itertuples()
        )
        recs = rf.parse_tianwang(blob)
        import pandas as _pd

        return _pd.DataFrame(
            {
                "url": [r["url"] for r in recs],
                "date": [r["date"] for r in recs],
                "ip": [r["ip"] for r in recs],
                "length": [r["length"] for r in recs],
                "checksum": [r["checksum"] for r in recs],
            }
        )

    return src.groupBy("blob_id").applyInPandas(
        per_blob,
        "url string, date string, ip string, length long, checksum string",
    )


def _q_warc_ingest(spark, sf):
    """Common-Crawl-container roundtrip: the same docs serialized as
    WARC/1.0 response records in per-record gzip members (the CC
    layout), with a request record interleaved per blob that the
    parser must skip, then parse_warc unwraps the members and frames
    by Content-Length.  Oracle recomputes url/date/record-id laws, the
    content length, and md5 of the body bytes."""
    from tse_spark.sources import rawfiles as rf

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    urls = _synth_urls(spark, sf)
    src = docs.join(urls, "doc_id").withColumn(
        "blob_id", (F.col("doc_id") / 50).cast("long")
    )

    def per_blob(pdf):
        import hashlib as _hl

        import pandas as _pd

        pdf = pdf.sort_values("doc_id")
        parts = []
        for k, r in enumerate(pdf.itertuples()):
            if k == 0:  # a non-response record the parser must skip
                import gzip as _gz
                import io as _io

                plain = rf.format_warc_record(
                    r.url,
                    rf.iso8601(rf.synth_date(r.doc_id)),
                    b"GET / HTTP/1.1\r\n\r\n",
                    b"",
                    f"urn:uuid:{int(r.doc_id):032x}",
                    gzip_member=False,
                ).replace(b"WARC-Type: response", b"WARC-Type: request")
                buf = _io.BytesIO()
                with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(plain)
                parts.append(buf.getvalue())
            parts.append(
                rf.format_warc_record(
                    r.url,
                    rf.iso8601(rf.synth_date(r.doc_id)),
                    rf.HEADER,
                    str(r.text).encode("utf-8"),
                    f"urn:uuid:{int(r.doc_id):032x}",
                )
            )
        recs = rf.parse_warc(b"".join(parts))
        return _pd.DataFrame(
            {
                "url": [r["url"] for r in recs],
                "date": [r["date"] for r in recs],
                "record_id": [r["record_id"] for r in recs],
                "content_length": [r["content_length"] for r in recs],
                "body_md5": [
                    _hl.md5(r["body"]).hexdigest() for r in recs
                ],
            }
        )

    return src.groupBy("blob_id").applyInPandas(
        per_blob,
        "url string, date string, record_id string, "
        "content_length long, body_md5 string",
    )


def _q_frontier_wave(spark, sf):
    from tse_spark.operators import crawl

    urls = _synth_urls(spark, sf)
    frontier = urls.select("url")
    visited = urls.filter(F.col("doc_id") % 2 == 0).select("url")
    return crawl.frontier_wave(frontier, visited)


def _synth_html_col():
    """Deterministic html per doc exercising the link-extraction regex:
    double-quoted absolute href, quoted/unquoted root-relative src/href
    (resolved against the page url by the UDF's urljoin), and a
    javascript: link that must be dropped.  The DuckDB oracle constructs
    the EXPECTED edge list from the same law — a known-answer test of
    the real regex + uri-resolution path."""
    doc = F.col("doc_id").cast("string")
    return F.concat(
        F.lit('<html><body><a href="http://peer.example.cn/p/'),
        doc,
        F.lit('">p</a><img src="/img'),
        doc,
        F.lit(".png\"><a href='/rel"),
        doc,
        F.lit("'>r</a><frame src=/f"),
        doc,
        F.lit("><a href=javascript:alert(1)>j</a></body></html>"),
    )


def _q_anchor_text(spark, sf):
    """Incoming anchor-text aggregation: each doc links to two targets
    ((2i+1)%n and (5i+3)%n — the pagerank graph's first two laws) with
    deterministic anchor phrases; extract_anchors parses the REAL html
    through the codegen regex path and anchor_text_agg counts per
    (target url, phrase).  The oracle constructs the expected counts
    from the law — a known-answer test of extraction + resolution +
    aggregation."""
    from tse_spark.operators import crawl

    docs = _t(spark, sf, "documents").select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("__n"))
    base = docs.crossJoin(n_df)
    i, n = F.col("doc_id"), F.col("__n")
    t1, t2 = (i * 2 + 1) % n, (i * 5 + 3) % n
    label = (
        F.when(i % 3 == 0, "review")
        .when(i % 3 == 1, "guide")
        .otherwise("docs")
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        _synth_url_col(t1),
        F.lit('">'),
        label,
        F.lit(" "),
        t1.cast("string"),
        F.lit('</a><p>x</p><a href="'),
        _synth_url_col(t2),
        F.lit('">site '),
        t2.cast("string"),
        F.lit("</a></body></html>"),
    )
    pages = base.select(
        _synth_url_col().alias("url"), html.alias("html")
    )
    return crawl.anchor_text_agg(crawl.extract_anchors(pages))


def _q_search_collapsed(spark, sf):
    """Site-collapsed serving: top-50 BM25 candidates -> at most 2
    results per host (window over parse_url(HOST)) -> global top-10,
    the diversity rule that stops one site from filling the page.
    Oracle: same window law over the synth host construction."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(list(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, 50)
    ranked = top.join(_synth_urls(spark, sf), "doc_id").select(
        "doc_id", "url", "score"
    )
    out = textops.collapse_by_host(ranked, per_host=2, k=K)
    return out.select(
        "doc_id", "url", F.round("score", 4).alias("score")
    )


def _q_ann_recall(spark, sf):
    """Recall@10 of the multi-probe LSH ANN against the exact cosine
    top-10 — the evaluation loop an embedding pipeline runs whenever it
    swaps an index or re-tunes probes; one row (k, n_hit, recall)."""
    hit = (
        _q_lsh_ann(spark, sf)
        .select("vec_id")
        .join(_q_cosine_topk(spark, sf).select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return hit.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_hit"),
        F.round(F.col("n_hit") / 10.0, 4).alias("recall"),
    )


def _q_bm25f_anchor(spark, sf):
    """Fielded web ranking: body BM25 + 0.5 x anchor-field BM25 where
    the anchor evidence comes through the REAL pipeline — law-built html
    → extract_anchors (codegen regex) → join targets back to doc ids →
    per-(doc, term) counts → bm25f_topk.  Each doc links to (2i+1)%n
    with one of the query terms as anchor text (and to (5i+3)%n with a
    non-query phrase that must prune out), so anchor evidence genuinely
    reshuffles the body ranking.  Oracle: same law + the same fielded
    formula in SQL."""
    from tse_spark.operators import crawl
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(list(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)

    docs = _t(spark, sf, "documents").select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("__n"))
    base = docs.crossJoin(n_df)
    i, nn = F.col("doc_id"), F.col("__n")
    t1, t2 = (i * 2 + 1) % nn, (i * 5 + 3) % nn
    label = (
        F.when(i % 3 == 0, BM25_QUERY[0])
        .when(i % 3 == 1, BM25_QUERY[1])
        .otherwise(BM25_QUERY[2])
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        _synth_url_col(t1),
        F.lit('">'),
        label,
        F.lit('</a><a href="'),
        _synth_url_col(t2),
        F.lit('">site</a></body></html>'),
    )
    pages = base.select(_synth_url_col().alias("url"), html.alias("html"))
    anchors = crawl.extract_anchors(pages)
    targets = _synth_urls(spark, sf)
    anchor_tf = (
        anchors.join(targets, anchors.dst_url == targets.url)
        .groupBy("doc_id", F.col("anchor").alias("term"))
        .agg(F.count(F.lit(1)).alias("atf"))
    )
    out = ib.bm25f_topk(
        spark, tf, doclen, dfreq, n, avgdl, anchor_tf, BM25_QUERY, K
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_link_extract(spark, sf):
    """C11 link extraction over documents-derived synthetic html
    (scales with sf; oracle-checked — see _synth_html_col)."""
    from tse_spark.operators import crawl

    pages = (
        _t(spark, sf, "documents")
        .withColumn("url", _synth_url_col())
        .withColumn("html", _synth_html_col())
    )
    return crawl.extract_links(pages)


def _q_link_outdegree(spark, sf):
    """S5 full Link4SE record: (url, outdegree, out_urls) per page over
    the documents-derived synthetic html (oracle-checked)."""
    from tse_spark.operators import crawl

    pages = (
        _t(spark, sf, "documents")
        .withColumn("url", _synth_url_col())
        .withColumn("html", _synth_html_col())
    )
    out = crawl.link_outdegree(pages)
    return out.select(
        "url",
        "outdegree",
        F.array_join("out_urls", ",").alias("out_urls"),
    )


# T1 synth: three header shapes over the documents table — normal (two
# LF-LF blocks), CRLF (reference quirk: \r resets the pair counter ->
# dropped), oversized first block (pair beyond byte 1021 -> dropped).
# CASE order matters for doc_ids divisible by both 13 and 17.
_T1_SYNTH_SPARK = """
  CASE
    WHEN doc_id % 17 = 0 THEN
      'HTTP/1.1 200 OK' || chr(13) || chr(10) || chr(13) || chr(10) || text
    WHEN doc_id % 13 = 0 THEN
      'X-Pad: ' || repeat('h', 1200) || chr(10) || chr(10)
      || 'X-Doc: ' || cast(doc_id AS string) || chr(10) || chr(10) || text
    ELSE
      'HTTP/1.1 200 OK' || chr(10) || 'Server: tse/1.0' || chr(10) || chr(10)
      || 'X-Doc: ' || cast(doc_id AS string) || chr(10) || chr(10) || text
  END
"""


def _q_url_segment(spark, sf):
    """K3 ImgSE URL segmenter (reference index/ChSeg/HzSeg.cpp:207-263)
    over the synthesized url table: host cut, last-dot extension cut,
    per-piece segmentation.  The synth urls are ASCII, so the DuckDB
    oracle derives the expected token string from doc_id directly; the
    FMM/hanzi and %xx paths are pytest-verified (test_oracle.py)."""
    from tse_spark import fixtures
    from tse_spark.functions import extraction

    d = spark.sparkContext.broadcast(fixtures.mini_dict_bytes())
    urls = _synth_urls(spark, sf)
    udf = extraction.make_segment_url_udf(d)
    return urls.select(
        "doc_id", F.array_join(udf(F.col("url")), " ").alias("terms")
    )


def _q_http_header_skip(spark, sf):
    """T1 HTTP-header skip (reference index/DocSegment.cpp:133-156) as a
    pure JVM expression over synthesized raw responses; kept docs return
    the body, dropped docs (CRLF / oversized header) return NULLs."""
    from tse_spark.functions import extraction

    docs = _t(spark, sf, "documents")
    return (
        docs.selectExpr("doc_id", f"({_T1_SYNTH_SPARK}) AS raw")
        .selectExpr(
            "doc_id", f"({extraction.http_body_expr('raw')}) AS body"
        )
        .selectExpr(
            "doc_id",
            "cast(length(body) AS bigint) AS body_len",
            "substring(body, 1, 40) AS body_head",
        )
    )


def _q_minhash_neardup(spark, sf):
    """Full MinHash-LSH near-dup in portable-hash (md5) mode: the DuckDB
    oracle recomputes the identical signatures, band buckets, candidate
    pairs and exact-Jaccard verification — the whole approximate
    pipeline is value-verified.  Production default stays xxhash64
    (same plan, faster hash)."""
    from tse_spark.operators import dedup

    docs = _t(spark, sf, "documents")
    return dedup.minhash_neardup(docs, n=3, min_jaccard=0.2, hash_fn="md5")


def _q_simhash(spark, sf):
    """SimHash in portable-hash (md5) mode — bit-for-bit reproducible by
    the DuckDB oracle (nibble-wise bit extraction from the hex digest)."""
    from tse_spark.operators import dedup

    return dedup.simhash64(_t(spark, sf, "documents"), hash_fn="md5")


def _q_lsh_ann(spark, sf):
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    return similarity.lsh_ann_topk(
        spark, emb, qv, K, n_planes=2, n_bands=8
    )


def _q_ivf_ann(spark, sf):
    """IVF ANN (oracle-checked): deterministic seed centroids let the
    DuckDB oracle re-derive the identical cell assignment + probe set,
    so the whole approximate path is value-verified, not rows-only."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    return similarity.ivf_ann_topk(
        emb, qv, K, n_cells=8, n_probe=2, exclude_id=0
    )


_ANN_INDEX_CACHE: dict[str, str] = {}


def _ann_index_dir(spark, sf, kind: str) -> str:
    """Build (once per sf_dir) the materialized ANN index table under
    /tmp — the serving-side artifact the indexed query paths
    partition-prune (VERDICT r02 'Next round' #1)."""
    import hashlib
    import os

    from tse_spark.operators import similarity

    key = f"{kind}:{sf}"
    if key not in _ANN_INDEX_CACHE:
        out = (
            f"/tmp/tse_{kind}_idx_"
            + hashlib.md5(sf.encode()).hexdigest()[:8]
        )
        if not os.path.exists(os.path.join(out, "meta.json")):
            emb = _t(spark, sf, "embeddings")
            if kind == "lsh":
                similarity.build_lsh_signature_table(
                    emb, out, dim=EMB_DIM, n_planes=2, n_bands=8, seed=7
                )
            elif kind == "lsh_appended":
                # half the corpus at build time, half via the O(delta)
                # append path — must serve identically to a full build
                similarity.build_lsh_signature_table(
                    emb.filter(F.col("vec_id") % 2 == 0),
                    out, dim=EMB_DIM, n_planes=2, n_bands=8, seed=7,
                )
                similarity.append_ann_index(
                    spark,
                    out,
                    emb.filter(F.col("vec_id") % 2 == 1),
                    assume_disjoint=True,
                )
            elif kind == "int8":
                similarity.build_int8_code_table(emb, out, dim=EMB_DIM)
            else:
                similarity.build_ivf_cell_table(emb, out, n_cells=8)
        _ANN_INDEX_CACHE[key] = out
    return _ANN_INDEX_CACHE[key]


def _q_lsh_ann_indexed(spark, sf):
    """Same results as lsh_ann (same probe construction, same oracle),
    but served from the materialized (band, sig)-partitioned signature
    table: the query plan reads only the probed bucket directories —
    at 10^12 vectors this is the difference between a per-query full
    corpus scan and ~24 bucket reads."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    idx = _ann_index_dir(spark, sf, "lsh")
    return similarity.lsh_ann_topk_indexed(spark, idx, qv, K)


def _q_lsh_ann_appended(spark, sf):
    """Serving from an index built on half the vectors with the other
    half added by append_ann_index (O(delta), meta-gated visibility) —
    results must equal lsh_ann / lsh_ann_indexed exactly, which is the
    driver-checked proof that incremental ANN maintenance does not
    change what queries see."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    idx = _ann_index_dir(spark, sf, "lsh_appended")
    return similarity.lsh_ann_topk_indexed(spark, idx, qv, K)


def _q_ann_int8_indexed(spark, sf):
    """Same results as ann_int8 (shared oracle), served from the
    materialized 4x-smaller code table: the coarse scan reads only
    (vec_id, label, qscale, dim-byte code) — the float embeddings are
    never scanned (pytest corrupts them on disk to prove it)."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    idx = _ann_index_dir(spark, sf, "int8")
    return similarity.int8_ann_topk_indexed(spark, idx, qv, K, exclude_id=0)


def _q_ivf_ann_indexed(spark, sf):
    """Same results as ivf_ann, served from the materialized
    cell-partitioned inverted file (reads only the n_probe cells)."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    idx = _ann_index_dir(spark, sf, "ivf")
    return similarity.ivf_ann_topk_indexed(
        spark, idx, qv, K, n_probe=2, exclude_id=0
    )


_PAGERANK_CACHE: dict[str, DataFrame] = {}
_CLICKDIST_CACHE: dict[str, DataFrame] = {}
_TRUSTRANK_CACHE: dict[str, DataFrame] = {}
_GRAPH_CACHE: dict[str, tuple] = {}


def _graph(spark, sf):
    """The synthetic page link graph shared by EVERY link-analysis
    query (pagerank, pagerank_warm, trustrank, hits, click_distance,
    crawl_schedule): doc i links to (2i+1)%n and (5i+3)%n, docs
    divisible by 3 add (11i+7)%n, docs divisible by 11 emit nothing
    (dangling).  Built once per sf and persisted — at 10^12 docs the
    edge relation is the largest input to the authority pipeline, so
    one materialization shared across six consumers is the
    difference between one scan+union and six (this is the
    "share the edge relation between the legs" item from the
    round-4 handoff: crawl_schedule alone runs two graph jobs)."""
    if sf in _GRAPH_CACHE:
        return _GRAPH_CACHE[sf]
    docs = _t(spark, sf, "documents").select("doc_id").persist()
    n_df = docs.agg(F.count(F.lit(1)).alias("__n"))
    base = docs.crossJoin(n_df)
    i, n = F.col("doc_id"), F.col("__n")
    e1 = base.select(i.alias("src"), ((i * 2 + 1) % n).alias("dst"))
    e2 = base.select(i.alias("src"), ((i * 5 + 3) % n).alias("dst"))
    e3 = base.filter(i % 3 == 0).select(
        i.alias("src"), ((i * 11 + 7) % n).alias("dst")
    )
    edges = (
        e1.union(e2).union(e3).filter(F.col("src") % 11 != 0).persist()
    )
    _GRAPH_CACHE[sf] = (docs, edges)
    return docs, edges


def _q_pagerank(spark, sf):
    """PageRank (3 power iterations, damping 0.85) over a deterministic
    synthetic link graph on the documents ids: doc i links to (2i+1)%n
    and (5i+3)%n, docs divisible by 3 add (11i+7)%n, docs divisible by
    11 emit nothing (dangling — exercises the uniform mass
    redistribution).  The operator is fully declarative (vertex count
    and per-iteration dangling mass stay in the plan as 1-row cross
    joins, zero driver collects), so the DuckDB oracle is the same
    unrolled power iteration.

    The result is cached per sf (one generation's authority prior —
    tiny, one row per doc): `bm25_pagerank` and `ltr_features` consume
    the SAME prior, so recomputing the 3-iteration graph job per
    consumer would triple the most expensive headline plan for
    identical bytes."""
    if sf in _PAGERANK_CACHE:
        return _PAGERANK_CACHE[sf]
    from tse_spark.operators import linkrank

    docs, edges = _graph(spark, sf)
    ranks = linkrank.pagerank(
        docs, edges, n_iter=3, damping=0.85, id_col="doc_id"
    )
    out = ranks.select(
        "doc_id", F.round("rank", 6).alias("rank")
    ).cache()
    _PAGERANK_CACHE[sf] = out
    return out


def _q_pagerank_warm(spark, sf):
    """Warm-started PageRank (linkrank.pagerank prior=...): 2 cold
    iterations produce the prior (a previous index generation's
    ranks), then ONE warm iteration continues from it.  Power
    iteration is Markovian, so the warm continuation is exactly the
    3-iteration cold trajectory — the same unrolled-SQL oracle as
    `pagerank` verifies the warm-start plumbing (prior join, uniform
    fill for absent vertices, renormalization) end to end."""
    from tse_spark.operators import linkrank

    docs, edges = _graph(spark, sf)
    prior = linkrank.pagerank(
        docs, edges, n_iter=2, damping=0.85, id_col="doc_id"
    )
    ranks = linkrank.pagerank(
        docs, edges, n_iter=1, damping=0.85, id_col="doc_id", prior=prior
    )
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


def _q_host_pagerank(spark, sf):
    """Host-graph PageRank (linkrank.host_pagerank, 3 iterations):
    the SAME synthetic page link graph as `pagerank` collapsed to the
    synth hosts — intra-host edges vanish, parallel host edges dedupe,
    the vertex set is the full host universe (so linkless hosts keep
    teleport + dangling mass).  Oracle rebuilds the collapse and the
    unrolled power iteration over hosts in SQL."""
    from tse_spark.operators import linkrank

    urls = _synth_urls(spark, sf)
    n_df = urls.agg(F.count(F.lit(1)).alias("__n"))
    base = urls.select("doc_id").crossJoin(n_df)
    i, n = F.col("doc_id"), F.col("__n")
    e1 = base.select(i.alias("s"), ((i * 2 + 1) % n).alias("t"))
    e2 = base.select(i.alias("s"), ((i * 5 + 3) % n).alias("t"))
    e3 = base.filter(i % 3 == 0).select(
        i.alias("s"), ((i * 11 + 7) % n).alias("t")
    )
    ids = e1.union(e2).union(e3).filter(F.col("s") % 11 != 0)
    edges = (
        ids.join(
            urls.select(
                F.col("doc_id").alias("s"), F.col("url").alias("src_url")
            ),
            "s",
        )
        .join(
            urls.select(
                F.col("doc_id").alias("t"), F.col("url").alias("dst_url")
            ),
            "t",
        )
        .select("src_url", "dst_url")
    )
    hosts = urls.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    ).distinct()
    ranks = linkrank.host_pagerank(edges, vertices=hosts, n_iter=3)
    return ranks.select("host", F.round("rank", 6).alias("rank"))


def _q_crawl_budget(spark, sf):
    """Per-host crawl-quota allocation (crawl.crawl_budget): 100k-fetch
    budget split proportional to host PageRank, floor 10, cap 5000 —
    the bandwidth decision a web-scale frontier makes per wave.  The
    oracle applies the identical clamp law over the unrolled
    host-PageRank SQL."""
    from tse_spark.operators import crawl

    ranks = _q_host_pagerank(spark, sf)
    return crawl.crawl_budget(
        ranks, total=100_000, min_quota=10, cap=5000
    )


def _q_hits(spark, sf):
    """HITS hubs & authorities (linkrank.hits, 2 rounds) over the same
    synthetic link graph as pagerank — the mutual-reinforcement link
    signal PageRank conflates.  Fully declarative (L2 norms stay in
    the plan as 1-row cross joins); the oracle is the same unrolled
    iteration in SQL."""
    from tse_spark.operators import linkrank

    docs, edges = _graph(spark, sf)
    out = linkrank.hits(docs, edges, n_iter=2, id_col="doc_id")
    return out.select(
        "doc_id",
        F.round("auth", 6).alias("auth"),
        F.round("hub", 6).alias("hub"),
    )


def _q_click_distance(spark, sf):
    """Click distance (min link hops from any seed page, 4 min-plus
    rounds) over the same synthetic link graph as pagerank, seeds =
    doc_id % 23 == 0 — the query-independent crawl-priority /
    ranking feature next to PageRank.  Integer arithmetic end to
    end, so the DuckDB oracle unrolls the identical recursion;
    vertices unreached within 4 rounds report -1.

    Cached per sf like `pagerank`: `crawl_schedule` consumes the
    SAME distance feature, so the 4-round graph job runs once per
    generation, not once per consumer."""
    if sf in _CLICKDIST_CACHE:
        return _CLICKDIST_CACHE[sf]
    from tse_spark.operators import linkrank

    docs, edges = _graph(spark, sf)
    seeds = docs.filter(F.col("doc_id") % 23 == 0)
    out = linkrank.click_distance(
        docs, edges, seeds, n_iter=4, id_col="doc_id"
    ).cache()
    _CLICKDIST_CACHE[sf] = out
    return out


BP_HEADER = "COOKIE NOTICE ACCEPT ALL"
BP_FOOTER = "SUBSCRIBE TO OUR NEWSLETTER"


def _q_strip_boilerplate(spark, sf):
    """Boilerplate line removal (textops.strip_boilerplate_lines,
    min_df=3) over a deterministically line-ified corpus: each doc's
    tokens wrap into 12-token lines, docs % 3 == 0 gain a cookie-banner
    header line and docs % 5 == 0 a subscribe-footer line — the
    injected lines cross the df threshold and are stripped from every
    doc, the organic 12-token lines survive.  Exact string/integer
    law, so the oracle mirrors synthesis + strip verbatim."""
    from tse_spark.operators import textops

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    body = F.expr(
        "concat_ws('\\n', transform("
        "sequence(0, (size(split(text, ' ')) - 1) div 12), "
        "i -> concat_ws(' ', slice(split(text, ' '), i * 12 + 1, 12))))"
    )
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 3 == 0, F.lit(BP_HEADER)),
            body,
            F.when(F.col("doc_id") % 5 == 0, F.lit(BP_FOOTER)),
        ).alias("text"),
    )
    return textops.strip_boilerplate_lines(synth, min_df=3)


def _q_trustrank(spark, sf):
    """TrustRank (linkrank.trustrank, 3 iterations, damping 0.85,
    trusted seeds doc_id % 31 == 0) over the same synthetic link
    graph as pagerank — teleport AND dangling mass land only on the
    seeds, so link spam unreachable from the seed set scores exactly
    0.  The oracle is the same unrolled iteration with the seeded
    teleport vector.

    Cached per sf like `pagerank`: `spam_mass` consumes the SAME
    trust vector."""
    if sf in _TRUSTRANK_CACHE:
        return _TRUSTRANK_CACHE[sf]
    from tse_spark.operators import linkrank

    docs, edges = _graph(spark, sf)
    seeds = docs.filter(F.col("doc_id") % 31 == 0)
    ranks = linkrank.trustrank(
        docs, edges, seeds, n_iter=3, damping=0.85, id_col="doc_id"
    )
    out = ranks.select(
        "doc_id", F.round("rank", 6).alias("trust")
    ).cache()
    _TRUSTRANK_CACHE[sf] = out
    return out


def _q_spam_mass(spark, sf):
    """Relative spam mass (X117 — Gyongyi, Garcia-Molina & Pedersen,
    VLDB'06 "Link spam detection based on mass estimation"):
    (pagerank - trustrank) / pagerank per page, both probability
    vectors from the SAME cached graph priors — pages whose authority
    arrives mostly from outside the trusted seed neighborhood score
    toward 1 (pure link spam scores exactly 1: trust is 0 there).
    Top-50 most-spammy pages, the demotion/review queue."""
    pr = _q_pagerank(spark, sf)
    tr = _q_trustrank(spark, sf)
    return (
        pr.join(tr, "doc_id")
        .select(
            "doc_id",
            "rank",
            "trust",
            # the denominator is the ROUNDED 6-dp rank; at web scale
            # (n ~ 10^6+) the smallest ranks round to exactly 0 and
            # x/0 is NULL in Spark but inf-ish in DuckDB — floor the
            # denominator IDENTICALLY in both engines (oracle uses the
            # same greatest(rank, 1e-12)) so neither emits NULL rows
            F.round(
                (F.col("rank") - F.col("trust"))
                / F.greatest(F.col("rank"), F.lit(1e-12)),
                6,
            ).alias("spam_mass"),
        )
        .orderBy(F.desc("spam_mass"), "doc_id")
        .limit(50)
    )


def _q_crawl_schedule(spark, sf):
    """Crawl-wave scheduling (crawl.crawl_schedule): the frontier
    decision composed from three verified operators — click distance
    (seeds % 23, 4 rounds) gates reachability and orders first,
    PageRank (3 iterations, rounded once to 6dp so the cut is
    engine-reproducible) breaks ties, one url per host per wave
    (politeness), global top-50.  Oracle: the pagerank and
    click-distance unrolled CTEs share the graph law, then the same
    window + cut in SQL."""
    from tse_spark.operators import crawl

    dist = _q_click_distance(spark, sf)
    ranks = _q_pagerank(spark, sf)
    d = _t(spark, sf, "documents").select("doc_id")
    doc = F.col("doc_id")
    dom = (
        F.when(doc % 4 == 0, ".example.cn")
        .when(doc % 4 == 1, ".example.com")
        .when(doc % 4 == 2, ".example.de")
        .otherwise(".example.org")
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("site"), (doc % 97).cast("string"), dom
        ).alias("host"),
    )
    return crawl.crawl_schedule(urls, dist, ranks, per_host=1, k=50)


_RECRAWL_NOW = 1136073600 + 120 * 3600  # fixed 'now' for the synth history
_SITEMAP_FREQS = ["always", "hourly", "daily", "weekly", "monthly", "yearly"]
_SITEMAP_NOW_DATE = "2006-05-01"  # fixed 'today' for hint staleness


def _synth_sitemaps(spark, sf):
    """One sitemap.xml per synth host: each url contributes a <url>
    block with lastmod 2006-01-(1+doc_id%28), changefreq by doc_id%6,
    priority 0.(doc_id%10); blocks concatenate in doc_id order inside
    the host's <urlset>.  The oracle never re-parses — it derives the
    expected parse output straight from this law, so the query proves
    the generate->parse round trip."""
    d = F.col("doc_id")
    entries = _synth_urls(spark, sf).select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.concat(
            F.lit("<url><loc>"),
            F.col("url"),
            F.lit("</loc><lastmod>2006-01-"),
            F.lpad((d % 28 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod><changefreq>"),
            F.element_at(
                F.array(*[F.lit(x) for x in _SITEMAP_FREQS]),
                (d % 6 + 1).cast("int"),
            ),
            F.lit("</changefreq><priority>0."),
            (d % 10).cast("string"),
            F.lit("</priority></url>"),
        ).alias("entry"),
    )
    return (
        entries.groupBy("host")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "entry"))
            ).alias("es")
        )
        .select(
            F.concat(
                F.lit("http://"), F.col("host"), F.lit("/sitemap.xml")
            ).alias("sitemap_url"),
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.expr("transform(es, x -> x.entry)"), ""
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )


def _q_sitemap_entries(spark, sf):
    """Sitemap ingestion (crawl.parse_sitemaps): per-host <urlset>
    documents built from the synth-url law, parsed back into (loc,
    lastmod, changefreq, priority) rows by the JVM regexp pipeline —
    zero shuffle, zero Python.  Oracle derives the expected rows
    directly from the synthesis law (round-trip proof)."""
    from tse_spark.operators import crawl

    return crawl.parse_sitemaps(_synth_sitemaps(spark, sf))


def _q_recrawl_hinted(spark, sf):
    """Cold-start-complete recrawl schedule
    (crawl.recrawl_priority_with_hints): even-doc_id urls carry crawl
    history and score by the observed Cho & Garcia-Molina rate; odd
    urls have only sitemap changefreq/lastmod hints and score by the
    publisher prior — one rate*staleness scale, one ordered list."""
    from tse_spark.operators import crawl

    d = F.col("doc_id")
    hist = (
        _synth_urls(spark, sf)
        .filter(d % 2 == 0)
        .withColumn(
            "i",
            F.explode(F.sequence(F.lit(0), (d % 4 + 1).cast("int"))),
        )
        .select(
            "url",
            (
                F.lit(1136073600)
                + F.col("i") * (d % 7 + 6) * F.lit(3600)
            ).cast("long").alias("ts_s"),
            F.concat(
                F.lit("v"),
                F.floor(F.col("i") / (d % 3 + 1)).cast("string"),
            ).alias("fingerprint"),
        )
    )
    hints = crawl.sitemap_recrawl_hints(
        crawl.parse_sitemaps(_synth_sitemaps(spark, sf)),
        _SITEMAP_NOW_DATE,
    )
    return crawl.recrawl_priority_with_hints(hist, hints, _RECRAWL_NOW)


def _q_recrawl_priority(spark, sf):
    """Change-rate recrawl scheduling (crawl.recrawl_priority): Cho &
    Garcia-Molina Poisson-rate estimate over a deterministic synthetic
    crawl history — per url, n_obs = 2 + doc_id%4 observations spaced
    6+doc_id%7 hours, content version rolling every 1+doc_id%3
    observations — then priority = lambda_hat * staleness (expected
    changes missed since the last crawl).  Oracle rebuilds the
    identical history and estimator in SQL."""
    from tse_spark.operators import crawl

    d = F.col("doc_id")
    hist = (
        _synth_urls(spark, sf)
        .withColumn(
            "i",
            F.explode(F.sequence(F.lit(0), (d % 4 + 1).cast("int"))),
        )
        .select(
            "url",
            (
                F.lit(1136073600)
                + F.col("i") * (d % 7 + 6) * F.lit(3600)
            ).cast("long").alias("ts_s"),
            F.concat(
                F.lit("v"),
                F.floor(F.col("i") / (d % 3 + 1)).cast("string"),
            ).alias("fingerprint"),
        )
    )
    return crawl.recrawl_priority(hist, _RECRAWL_NOW)


def _q_bloom_seen(spark, sf):
    """URL-seen bloom filter (sketches.bloom_build/bloom_contains,
    m=4096 bits, k=4): even doc_ids' urls are inserted, every url is
    probed — one-sided membership (inserted urls always answer 1;
    novel urls answer 1 only on a hash collision, and the oracle
    rebuilds the identical words so even false positives match).
    The `seen` ground-truth column makes the fp rate auditable in
    the result itself."""
    from tse_spark.operators import sketches as sk

    urls = _synth_urls(spark, sf)
    seen = urls.filter(F.col("doc_id") % 2 == 0).select("url")
    bloom = sk.bloom_build(seen, m_bits=4096, k_hashes=4)
    out = sk.bloom_contains(
        urls.select("doc_id", "url"), bloom, m_bits=4096, k_hashes=4
    )
    return out.select(
        "doc_id",
        "url",
        "in_bloom",
        (F.col("doc_id") % 2 == 0).cast("long").alias("seen"),
    )


def _q_url_canonical(spark, sf):
    """Canonical-URL dedup (crawl.canonical_dedup) over deterministic
    messy variants: four decorations of the same base url per (doc_id
    % 7, doc_id % 11) — uppercase authority, default :80 port,
    fragment, tracking params (utm_*, gclid), shuffled param order —
    all of which must fold into one canonical group.  Exact string
    law in the Java-regex ∩ RE2 subset, mirrored in the oracle."""
    from tse_spark.operators import crawl

    docs = _t(spark, sf, "documents").select("doc_id")
    h = (F.col("doc_id") % 7).cast("string")
    p = (F.col("doc_id") % 11).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("http://site"), h, F.lit(".example.com/p/"), p,
                F.lit("?b=2&a=1"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HTTP://SITE"), h, F.lit(".EXAMPLE.COM:80/p/"), p,
                F.lit("?a=1&b=2&utm_source=news"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://site"), h, F.lit(".example.com/p/"), p,
                F.lit("?a=1&utm_campaign=x&b=2#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), h, F.lit(".example.com:80/p/"), p,
                F.lit("?gclid=xyz&b=2&a=1"),
            )
        )
    )
    urls = docs.select("doc_id", url.alias("url"))
    return crawl.canonical_dedup(urls).select(
        "doc_id", "url", "canon_url", "group_size", "keep"
    )


def _q_dedup_components(spark, sf):
    """Near-dup clusters: the exact-cosine pairs (cosine_neardup query)
    closed into connected components via min-label propagation —
    component = min vec_id reachable.  Oracle: recursive-CTE transitive
    closure over the same pair law."""
    from tse_spark.operators import linkrank

    pairs = _q_cosine_neardup(spark, sf)
    comp = linkrank.connected_components(pairs)
    return comp.select(F.col("id").alias("vec_id"), "component")


def _q_dedup_components_lsh(spark, sf):
    """Same min-label components, but over the banded sign-LSH near-dup
    candidate pairs instead of the exact O(n²) self-join — the pair
    source a 100 TB corpus would actually use (bucket equi-join +
    candidate-only cosine verify; one shuffle, never all-pairs).  This
    is the headline-bench variant: at sf0.1 the exact-pair version
    spends >2 min in the quadratic join while this one closes the same
    kind of clusters in seconds.  Oracle: recursive-CTE transitive
    closure over the LSH pair law (hyperplane literals re-derived in
    SQL, as in lsh_neardup)."""
    from tse_spark.operators import linkrank

    pairs = _q_lsh_neardup(spark, sf)
    comp = linkrank.connected_components(pairs)
    return comp.select(F.col("id").alias("vec_id"), "component")


def _q_dedup_keep_one(spark, sf):
    """Canonical corpus after near-dup dedup: one survivor (min id) per
    cosine near-dup component; untouched vectors pass through."""
    from tse_spark.operators import linkrank

    emb = _t(spark, sf, "embeddings").select("vec_id")
    pairs = _q_cosine_neardup(spark, sf)
    return linkrank.dedup_keep_one(emb, pairs, doc_id="vec_id")


# C13 robots.txt synth: five per-host templates covering every ParseRobot
# branch (CRLF value retention, foreign-agent skip, TSE/1.0 reset,
# comment/empty-value, MAXDIR cap).  Spark PARSES these with the real
# operator; the DuckDB oracle states the expected rules directly from the
# template law — an independent known-answer check (the general parser is
# additionally conformance-tested against the pure-Python ParseRobot port
# on a 300-file random corpus in tests/test_robots.py).
_ROBOTS_SYNTH_SPARK = """
  CASE cast(doc_id % 5 AS int)
    WHEN 0 THEN concat('User-agent: *', char(13), char(10),
                       'Disallow: /a', cast(doc_id AS string), char(13), char(10),
                       'Disallow: /b', cast(doc_id AS string), ' junk', char(13), char(10))
    WHEN 1 THEN concat('User-agent: Googlebot', char(10),
                       'Disallow: /x', char(10),
                       'User-agent: *', char(10),
                       'Disallow: /y', cast(doc_id AS string), char(10))
    WHEN 2 THEN concat('User-agent: *', char(10),
                       'Disallow: /z', cast(doc_id AS string), char(10),
                       'User-agent: TSE/1.0', char(10),
                       'Disallow: /t', cast(doc_id AS string), char(10))
    WHEN 3 THEN concat('# robots for h', cast(doc_id AS string), char(10), char(10),
                       'User-agent: *', char(10),
                       'Disallow:', char(10),
                       'Disallow: /c', cast(doc_id AS string), char(10))
    ELSE concat('User-agent: *', char(10),
                concat_ws('', transform(sequence(0, 44),
                  j -> concat('Disallow: /r', cast(doc_id AS string), 'x',
                              cast(j AS string), char(10)))))
  END
"""


def _robots_rules_df(spark, sf):
    from tse_spark.operators import robots as rb

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    synth = docs.selectExpr(
        "concat('h', cast(doc_id AS string), '.test') AS host",
        f"({_ROBOTS_SYNTH_SPARK}) AS robots_txt",
    )
    return rb.parse_robots(synth)


def _q_robots_rules(spark, sf):
    """C13 ParseRobot (reference tse/Res.cpp:16-75) over synthesized
    per-host robots.txt files; output is the surviving Disallow-prefix
    array per host in collection order."""
    return _robots_rules_df(spark, sf).select(
        "host", F.col("rn").cast("long").alias("rn"), "prefix"
    )


def _q_robots_frontier(spark, sf):
    """Frontier filtering against the parsed robots rules: three URLs
    per host (one matching the m0 '/a<id>' prefix, one safe, one
    matching the m2 '/t<id>' prefix via startswith, no path separator
    needed) plus 20 hosts with no robots file at all (allowed).  The
    rules side is the REAL parse output of _ROBOTS_SYNTH_SPARK — the
    filter consumes what the parser produced, end to end."""
    from tse_spark.operators import robots as rb

    rules = _robots_rules_df(spark, sf)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 120)
    frontier = docs.selectExpr(
        """explode(array(
             concat('http://h', cast(doc_id AS string), '.test/a',
                    cast(doc_id AS string), '/page'),
             concat('http://h', cast(doc_id AS string), '.test/safe/page'),
             concat('http://h', cast(doc_id AS string), '.test/t',
                    cast(doc_id AS string), 'abc')
           )) AS url"""
    )
    return rb.robots_frontier_filter(frontier, rules).select("url")


def _q_gzip_decode(spark, sf):
    """C10 gzip body decode (reference tse/Crawl.cpp:462-493), verified
    as a compress->store->decode round trip: four content modes per
    doc_id exercise the inflate path (gzip+text/html), the identity
    passthrough, the bug-faithful gate (gzip bytes under text/plain stay
    compressed — md5 masked, DuckDB cannot gunzip), and gzread's
    transparent copy of non-gzip bytes; doc 0 carries a 1.15 MB ASCII
    payload proving the 1,024,000-byte single-gzread truncation.  The
    oracle recomputes every unmasked md5/length from the payload law."""
    from tse_spark.operators import crawl

    gz = crawl.gzip_compress_udf()
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    payload = F.when(
        F.col("doc_id") == 0, F.expr("repeat('ab12 ', 230000)")
    ).otherwise(F.col("text"))
    mode = (F.col("doc_id") % 4).cast("int")
    raw = F.encode(payload, "UTF-8")
    pages = docs.select(
        "doc_id",
        F.when(mode.isin(0, 2), gz(raw)).otherwise(raw).alias("content"),
        F.when(mode == 1, F.lit("identity"))
        .otherwise(F.lit("gzip"))
        .alias("content_encoding"),
        F.when(mode == 2, F.lit("text/plain"))
        .otherwise(F.lit("text/html"))
        .alias("content_type"),
    )
    out = crawl.gunzip_content(pages)
    mask = (F.col("doc_id") % 4) != 2
    return out.select(
        "doc_id",
        "gunzipped",
        F.when(mask, F.md5("content")).alias("body_md5"),
        F.when(mask, F.octet_length("content").cast("long")).alias(
            "body_len"
        ),
    )


# ----- round-3b additions: quantized ANN tier, static index pruning,
# typeahead completion, time-travel snapshots, per-domain curation -----

PREFIX_QUERY = "s"  # query-box prefix (scan/sort/slow/stream/spark/small)
PRUNE_M = 200  # postings kept per term by the static pruner
ASOF_CUTOFF = "2024-02-20 00:00:00"  # time-travel point for pages_asof


def _q_ann_int8(spark, sf):
    """Compressed ANN tier: top-10 by cosine over int8-quantized codes
    (per-vector scale = max|x|/127, half-up rounding via floor(x+0.5)).
    The DuckDB oracle recomputes quantization end to end, so the scale
    law, the rounding law and the quantized ranking are all
    value-verified; the exact-rerank recovery path is pytest-pinned."""
    from tse_spark.operators import similarity

    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    return similarity.int8_ann_topk(emb, qv, K, exclude_id=0)


def _q_prefix_complete(spark, sf):
    """Typeahead: top-5 vocabulary completions for a query-box prefix
    by df, over the same (term, df) relation spell_suggest serves
    from."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    vocab = ib.build_df_stats(_tf_ws_cached(spark, sf))
    return textops.prefix_complete(vocab, PREFIX_QUERY, k=5)


WILDCARD_TERMS_PAT = "s*"   # prefix wildcard over the synth vocabulary
WILDCARD_SEARCH_PAT = "*or*"  # floating infix: {order, sort, vector}
WILDCARD_K = 2  # the synth vocabulary's words are short; k=2 grams
                # keep the gram path (not the fallback) exercised


def _q_wildcard_terms(spark, sf):
    """Wildcard term lookup via the k-gram index (operators/kgram.py):
    the pattern's fixed segments become a gram conjunction over the
    vocabulary-inverted (gram, term) table, candidates regex
    post-filtered — the IR-textbook scale path for query-box
    wildcards.  Oracle: plain LIKE over the df aggregate."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import kgram as kg

    vocab = ib.build_df_stats(_tf_ws_cached(spark, sf))
    return kg.wildcard_terms(vocab, WILDCARD_TERMS_PAT, k=WILDCARD_K)


def _q_wildcard_search(spark, sf):
    """Documents matching any wildcard-matched term (analysis form:
    one corpus token scan, matched terms broadcast): per doc the
    distinct matched terms and their total occurrences."""
    from tse_spark.operators import kgram as kg

    out = kg.wildcard_search(
        _t(spark, sf, "documents"), WILDCARD_SEARCH_PAT, k=WILDCARD_K
    )
    return out.select("doc_id", "n_terms", "tf")


def _q_wildcard_search_indexed(spark, sf):
    """The serving form: answered entirely from the (term, doc_id, tf)
    index — the documents table is never scanned.  Result-identical to
    wildcard_search (shared oracle); every matched term here is
    index-eligible (2..8 bytes)."""
    from tse_spark.operators import kgram as kg

    out = kg.wildcard_search_indexed(
        _tf_ws_cached(spark, sf), WILDCARD_SEARCH_PAT, k=WILDCARD_K
    )
    return out.select("doc_id", "n_terms", "tf")


def _q_static_prune_topk(spark, sf):
    """BM25 top-10 served from an impact-pruned index (top-PRUNE_M
    postings per term by BM25 impact, full-corpus stats) — the static
    pruning tier that bounds posting-list length at web scale.  The
    oracle reproduces the per-term impact window row-for-row."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq_all = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    pruned = ib.impact_pruned_tf(tf, doclen, dfreq_all, n, avgdl, PRUNE_M)
    dfreq_q = dfreq_all.filter(F.col("term").isin(list(set(BM25_QUERY))))
    out = ib.bm25_topk(
        spark, pruned, doclen, dfreq_q, n, avgdl, BM25_QUERY, K
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_prune_recall(spark, sf):
    """Overlap@10 of the pruned-index ranking vs the exhaustive one —
    the quality eval that decides how small PRUNE_M can go; one row
    (k, n_hit, overlap)."""
    hit = (
        _q_static_prune_topk(spark, sf)
        .select("doc_id")
        .join(
            _q_bm25_topk(spark, sf).select("doc_id"), "doc_id"
        )
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return hit.select(
        F.lit(K).cast("long").alias("k"),
        F.col("n_hit"),
        F.round(F.col("n_hit") / float(K), 4).alias("overlap"),
    )


def _synth_history(spark, sf):
    """Deterministic multi-version crawl history over the synth urls:
    doc_id gets versions 0..(doc_id % 3), version v fetched at
    2024-01-01 + (30*v + doc_id % 29) days — so as-of ASOF_CUTOFF some
    urls resolve to v=1 (iff doc_id % 29 <= 20) and the rest to v=0."""
    d = _t(spark, sf, "documents").select("doc_id")
    h = d.withColumn(
        "ver", F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 3)))
    )
    return h.select(
        "doc_id",
        _synth_url_col().alias("url"),
        F.col("ver").cast("long").alias("ver"),
        F.expr(
            "timestampadd(DAY, cast(ver * 30 + doc_id % 29 AS int),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("warc_ts"),
    )


def _q_pages_asof(spark, sf):
    """Time-travel snapshot: latest version per url as of ASOF_CUTOFF
    over the synthesized recrawl history (argmax warc_ts per url under
    the cutoff — one window shuffle)."""
    from tse_spark.operators import textops

    out = textops.snapshot_asof(_synth_history(spark, sf), ASOF_CUTOFF)
    return out.select("url", "ver", "warc_ts")


def _q_domain_stats(spark, sf):
    """Per-host curation scoreboard: doc counts, exact-dup rate (md5
    distinct), mean length, language spread — grouped on the synth host
    law so DuckDB reproduces every row."""
    from tse_spark.operators import textops

    docs = _t(spark, sf, "documents").withColumn(
        "host", F.parse_url(_synth_url_col(), F.lit("HOST"))
    )
    return textops.domain_stats(docs)


MLT_DOC = 42  # seed document for the more-like-this query
FACET_LANG = "en"  # facet value the filtered-search query clicks


def _q_bm25_filtered(spark, sf):
    """Facet-filtered serving: the flagship BM25 query restricted to
    lang='en' docs (the click on a facet_counts row).  Stats stay
    corpus-wide; the filter semi-joins the score aggregate
    (index_build.bm25_filtered_topk)."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    allowed = _t(spark, sf, "documents").filter(
        F.col("lang") == FACET_LANG
    )
    out = ib.bm25_filtered_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, allowed, K
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_more_like_this(spark, sf):
    """Related docs for seed doc 42: its top-5 tf-idf keywords (same
    law as doc_keywords) run as a BM25 query, seed excluded — one plan,
    keyword list stays cluster-side (index_build.more_like_this)."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    n, avgdl = ib.corpus_stats(doclen)
    out = ib.more_like_this(spark, tf, doclen, n, avgdl, MLT_DOC, 5, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _facet_sidecar(spark, sf):
    """Ensure the (lang, source) facet sidecar exists beside the ws
    index; returns the index handle (sidecar at handle.out_dir)."""
    import json
    import os

    from tse_spark.operators import facets as fx

    h = _ws_index(spark, sf)
    fdir = os.path.join(h.out_dir, "facets")
    if not os.path.exists(os.path.join(fdir, "_SUCCESS")):
        with open(os.path.join(h.out_dir, "meta.json")) as f:
            meta = json.load(f)
        docs = _t(spark, sf, "documents").select(
            "doc_id", "lang", "source"
        )
        fx.write_facet_index(
            fx.build_facet_shards(
                docs, ["lang", "source"], meta["shard_range"]
            ),
            h.out_dir,
            facets=["lang", "source"],
            max_doc_id=meta["max_doc_id"],
        )
    return h


def _q_wand_filtered(spark, sf):
    """bm25_filtered served from the compressed index: the lang=en
    doc sets come from the facet sidecar (partition-pruned read of one
    (facet, value) directory) and mask the scored posting runs inside
    the same doc-range shard tasks (SearchEngine.search_filtered).
    Must equal the declarative path row-for-row (shared oracle)."""
    from tse_spark.operators import facets as fx

    h = _facet_sidecar(spark, sf)
    rows = fx.load_facet_rows(spark, h.out_dir, "lang", FACET_LANG)
    out = h.engine.search_filtered(" ".join(BM25_QUERY), rows, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_wand_facets(spark, sf):
    """facet_counts served index-only: posting doc sets ∩ facet doc
    sets per shard, partial counts summed across disjoint shards —
    the documents table is never scanned (SearchEngine.facet_counts).
    Shares facet_counts' oracle."""
    from tse_spark.operators import facets as fx

    h = _facet_sidecar(spark, sf)
    rows = fx.load_facet_index(spark, h.out_dir)
    return h.engine.facet_counts(" ".join(BM25_QUERY), rows)


def _q_wand_mlt(spark, sf):
    """more_like_this served from index artifacts only: tf-checkpoint
    point read + term_stats df pick the seed's keywords, WAND runs
    them with the seed excluded (IndexHandle.more_like_this) — shares
    the declarative path's oracle."""
    h = _ws_index(spark, sf)
    out = h.more_like_this(MLT_DOC, 5, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_bm25_fresh(spark, sf):
    """Recency-fused ranking: top-50 BM25 candidates reranked by a
    rational freshness decay (halflife 30 days over the deterministic
    age law doc_id % 365) — the rerank-window fusion a news vertical
    applies (textops.recency_boost); exp-free so DuckDB reproduces the
    boosted doubles exactly."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, 50)
    cand = top.withColumn(
        "age_days", (F.col("doc_id") % 365).cast("double")
    )
    return textops.recency_boost(cand, K, 30.0)


def _q_bm25_pagerank(spark, sf):
    """Authority-fused ranking: top-50 BM25 candidates multiplied by
    the PageRank prior (linkrank.authority_boost) — the classic web
    combine (relevance x link authority) the reference never had.
    The prior is the `pagerank` query's own rounded output, so both
    engines fuse bit-identical inputs."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import linkrank

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, 50)
    n_total = _t(spark, sf, "documents").count()
    return linkrank.authority_boost(
        top, _q_pagerank(spark, sf), n_total, K, weight=1.0
    )


def _q_bm25_urlprior(spark, sf):
    """Entry-page prior fusion (X118, textops.url_prior_boost —
    Kraaij/Westerveld/Hiemstra SIGIR'02): top-50 BM25 candidates
    rescored by the URL-depth document prior over the synthesized
    urls — the navigational-query combine next to freshness
    (bm25_fresh) and authority (bm25_pagerank)."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, 50)
    urls = _t(spark, sf, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return textops.url_prior_boost(top, urls, K)


MMR_LAM = 0.75
MMR_CAND = 20


def _q_search_mmr(spark, sf):
    """MMR-diversified serving: greedy maximal-marginal-relevance over
    the top-20 BM25 page, penalizing tf-cosine similarity to already
    picked results (textops.mmr_diversify) — the anti-redundancy
    rerank next to host-collapse (X23) and duplicate-collapse (X45).
    Heavy work (ranking + candidate-pair sims) stays in Spark; the
    greedy sweep is O(k*N) on the one collected page."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, MMR_CAND
    ).select("doc_id", F.round("score", 4).alias("score"))
    sims = textops.candidate_tf_sims(tf, top)
    return textops.mmr_diversify(spark, top, sims, K, MMR_LAM)


def _q_search_dedup(spark, sf):
    """Duplicate-collapsed serving: top-50 BM25 candidates → best
    result per content fingerprint (md5 of the first 16 chars — a
    deliberately coarse near-mirror law so the collapse bites on the
    fixtures; production plugs SimHash) → global top-10
    (textops.collapse_duplicates).  The fingerprint join broadcasts
    the candidate list into the docs scan."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    top = ib.bm25_topk(spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, 50)
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.md5(F.substring("text", 1, 16)).alias("fp")
    )
    cand = docs.join(F.broadcast(top), "doc_id")
    out = textops.collapse_duplicates(cand, K)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_related_terms(spark, sf):
    """'Searches related to spark join data': top-10 co-occurring
    terms in the match set by within-match df, query terms excluded
    (textops.related_terms — one semi-join + one hash agg)."""
    from tse_spark.operators import textops

    return textops.related_terms(
        _tf_ws_cached(spark, sf), BM25_QUERY, K
    )


def _q_facet_counts(spark, sf):
    """Facet sidebar for the flagship query: every doc matching ANY of
    the BM25 terms, counted per lang and per source value — one
    semi-join + one stacked hash-agg for all facets (textops
    .facet_counts).  Oracle: same match set + UNION ALL of the two
    grouped counts."""
    from tse_spark.operators import textops

    tf = _tf_ws_cached(spark, sf)
    matches = tf.filter(
        F.col("term").isin(sorted(set(BM25_QUERY)))
    ).select("doc_id")
    docs = _t(spark, sf, "documents")
    return textops.facet_counts(matches, docs, ["lang", "source"])


def _q_taat_quit_topk(spark, sf):
    """Accumulator-limited ranking (X109,
    index_build.accumulator_limited_topk): Moffat-Zobel quit/continue
    with a 400-doc accumulator budget — bounded serving memory, terms
    rarest-first, late common terms update but cannot create."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    return ib.accumulator_limited_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, K, ACC_LIMIT
    )


RBO_K = 20
RBO_P = 0.9

_QIDX_CACHE: dict = {}


def _quantized_shards_cached(spark, sf):
    """One quantized-shard table per sf (operators/quantize.py): the
    ws serving index's OWN (term, shard) rows re-encoded to 8-bit
    impact codes, PUBLISHED as a snapshot-gated sidecar beside the
    index (qpostings/ + qpostings_meta.json) and served from the
    loaded parquet — the full build/publish/load/serve lifecycle, not
    an in-memory shortcut."""
    if sf not in _QIDX_CACHE:
        from tse_spark.operators import quantize as qz

        h = _ws_index(spark, sf)
        e = h.engine
        try:
            qp, _meta = qz.load_quantized_index(spark, h.out_dir)
        except (OSError, ValueError):
            m = qz.max_impact(e.postings, e.n_docs, e.avgdl)
            qz.write_quantized_index(
                qz.quantize_shards(
                    e.postings, e.n_docs, e.avgdl, bits=QUANT_BITS, m=m
                ),
                h.out_dir,
                m,
                QUANT_BITS,
            )
            qp, _meta = qz.load_quantized_index(spark, h.out_dir)
        _QIDX_CACHE[sf] = qp
    return _QIDX_CACHE[sf]


def _q_wand_quantized(spark, sf):
    """Integer serving from impact-quantized posting SHARDS (X102's
    serving tier, operators/quantize.py): the same compressed rows the
    WAND engine reads, re-encoded as delta-gap + varint q-blocks with
    integer block-max metadata, served by a per-shard Arrow UDF that
    sums 8-bit codes — no float kernel, no doclen section, no idf at
    query time.  Result-identical to the declarative
    index_build.quantized_topk (shared oracle)."""
    from tse_spark.operators import quantize as qz

    return qz.quantized_search(
        _quantized_shards_cached(spark, sf), BM25_QUERY, K
    )


def _q_quant_rbo(spark, sf):
    """Ranking-level fidelity of the 8-bit impact index (X102 + X111,
    fusion.rank_overlap_rbo): truncated RBO@20 (p=0.9) between exact
    BM25 and quantized-integer rankings of the flagship query — the
    release-gate number before flipping serving to the integer tier."""
    from tse_spark.operators import fusion
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq_all = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    exact = ib.bm25_topk(
        spark, tf, doclen,
        dfreq_all.filter(F.col("term").isin(sorted(set(BM25_QUERY)))),
        n, avgdl, BM25_QUERY, RBO_K,
    )
    qi = ib.quantized_impacts(tf, doclen, dfreq_all, n, avgdl, QUANT_BITS)
    quant = ib.quantized_topk(spark, qi, BM25_QUERY, RBO_K)
    return fusion.rank_overlap_rbo(
        fusion.rank_leg(exact, "score"),
        fusion.rank_leg(quant, "qscore"),
        RBO_K,
        RBO_P,
    )


def _q_codec_advisor(spark, sf):
    """Per-term codec choice (X113, intcodec.codec_advisor): exact
    varint-gap vs Elias-Fano byte costs as closed-form columns (laws
    pytest-pinned byte-exact against the real encoders), winner per
    posting list — the capacity report behind a mixed-codec tier."""
    from tse_spark.operators import intcodec

    return intcodec.codec_advisor(_tf_ws_cached(spark, sf))


def _q_hybrid_rrf(spark, sf):
    """Hybrid retrieval (X101, operators/fusion.py): reciprocal-rank
    fusion of the lexical BM25 top-30 and the dense cosine top-30
    (query = embedding 0, excluded from its own dense leg), k0=60.
    Rank laws match each leg's own serving order (BM25: exact score
    desc, doc_id asc; dense: round-4 cos desc, id asc)."""
    from tse_spark.operators import fusion, similarity
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    sparse = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, HYBRID_CAND
    )
    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    dense = similarity.cosine_topk(
        emb, qv, HYBRID_CAND, exclude_id=0
    ).withColumnRenamed("vec_id", "doc_id")
    legs = [
        fusion.rank_leg(sparse, "score"),
        fusion.rank_leg(dense, "cos"),
    ]
    return fusion.rrf_fuse(legs, K, RRF_K0)


def _q_hybrid_rrf3(spark, sf):
    """Three-leg RRF (X101's N-leg form): lexical BM25 + dense cosine
    + Dirichlet query likelihood, same rank laws per leg, one
    union+agg fusion — no pairwise join chain."""
    from tse_spark.operators import fusion, similarity
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(
        tf.filter(F.col("term").isin(sorted(set(BM25_QUERY))))
    )
    n, avgdl = ib.corpus_stats(doclen)
    sparse = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, BM25_QUERY, HYBRID_CAND
    )
    emb = _t(spark, sf, "embeddings")
    qv = similarity.get_query_vec(emb, 0)
    dense = similarity.cosine_topk(
        emb, qv, HYBRID_CAND, exclude_id=0
    ).withColumnRenamed("vec_id", "doc_id")
    ql = ib.ql_dirichlet_topk(
        spark, tf, doclen, BM25_QUERY, HYBRID_CAND, QL_MU
    )
    legs = [
        fusion.rank_leg(sparse, "score"),
        fusion.rank_leg(dense, "cos"),
        fusion.rank_leg(ql, "score"),
    ]
    return fusion.rrf_fuse(legs, K, RRF_K0)


def _q_quantized_topk(spark, sf):
    """Serving over the 8-bit impact-quantized index (X102,
    index_build.quantized_impacts): integer adds replace the BM25
    float kernel at query time — the precomputed-impact tradeoff the
    reference never had (it re-scores floats per query,
    index/Query.cpp:59-82)."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    qi = ib.quantized_impacts(
        tf, doclen, dfreq, n, avgdl, bits=QUANT_BITS
    )
    return ib.quantized_topk(spark, qi, BM25_QUERY, K)


ANYTIME_RHO = 300


def _q_anytime_topk(spark, sf):
    """Anytime ranking with a strict posting budget (X116,
    index_build.anytime_topk — Lin & Trotman ICTIR'15 / JASS): only
    the first ANYTIME_RHO postings of the query's lists in global
    (q DESC, term, doc_id) impact order are scored, capping per-query
    work at any corpus size.  The oracle reproduces the identical
    admitted set with one row_number over the same total order."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    qi = ib.quantized_impacts(
        tf, doclen, dfreq, n, avgdl, bits=QUANT_BITS
    )
    return ib.anytime_topk(spark, qi, BM25_QUERY, ANYTIME_RHO, K)


ANYTIME_RHOS = [50, 150, 300, 600]


def _q_anytime_tradeoff(spark, sf):
    """Anytime quality-vs-budget curve (X116): overlap@K of the
    rho-budgeted ranking with the exhaustive quantized ranking at four
    budgets — the number that picks rho for a latency SLO."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    # cache the code relation: the 4 budget legs + the exhaustive leg
    # each embed this subtree, and union branches do not share
    # subplans — without the cache the quantization recomputes 5x
    qi = ib.quantized_impacts(
        tf, doclen, dfreq, n, avgdl, bits=QUANT_BITS
    ).cache()
    return ib.anytime_tradeoff(spark, qi, BM25_QUERY, ANYTIME_RHOS, K)


def _q_quant_error(spark, sf):
    """Quantizer fidelity report (X102): max/mean absolute error of
    midpoint dequantization vs exact impacts over every posting."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    return ib.quantization_error(
        tf, doclen, dfreq, n, avgdl, bits=QUANT_BITS
    )


def _q_ql_topk(spark, sf):
    """Query-likelihood Dirichlet top-10 (X106,
    index_build.ql_dirichlet_topk) — the second ranking family (Zhai
    & Lafferty) next to BM25, same flagship query."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    return ib.ql_dirichlet_topk(spark, tf, doclen, BM25_QUERY, K, QL_MU)


def _q_ql_jm_topk(spark, sf):
    """Jelinek-Mercer query likelihood (index_build.ql_jm_topk) — the
    LM family's second classic smoothing next to Dirichlet."""
    from tse_spark.operators import index_build as ib

    tf = _tf_ws_cached(spark, sf)
    doclen = ib.build_doclen(tf)
    return ib.ql_jm_topk(spark, tf, doclen, BM25_QUERY, K, QL_LAMBDA)


def _q_cache_hit_rates(spark, sf):
    """Exact LRU hit rates from one reuse-distance pass (X103,
    operators/cachesim.py) over the events log (key=user_id,
    pos=event_id) — the sizing law for the serving caches
    (search.py stats LRU / servecache.py byte budget)."""
    from tse_spark.operators import cachesim

    log = cachesim.access_log(_t(spark, sf, "events"), "user_id", "event_id")
    return cachesim.lru_hit_rates(log, CACHE_SIZES)


def _q_docid_reorder_gain(spark, sf):
    """Posting compression under crawl-order vs content-sorted doc ids
    (X104, operators/reorder.py): varint byte law on per-term delta
    gaps for both id assignments."""
    from tse_spark.operators import reorder

    tf = _tf_ws_cached(spark, sf)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return reorder.reorder_gain(tf, docs, "text")


def _q_docid_reorder_codecs(spark, sf):
    """X104 x X113 (reorder.reorder_gain_codecs): the id-reassignment
    gain priced under BOTH codecs — EF depends only on (n, last id)
    per list, so the report shows which codec the content sort
    actually pays for."""
    from tse_spark.operators import reorder

    tf = _tf_ws_cached(spark, sf)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return reorder.reorder_gain_codecs(tf, docs, "text")


def _q_query_bursts(spark, sf):
    """Traffic bursts per event type (X105, events.burst_windows):
    hourly z-score vs a trailing-24h moving baseline, flag z > 2."""
    from tse_spark.operators import events

    return events.burst_windows(_t(spark, sf, "events"))


CACHE_ADMIT_FRAC = 0.25  # dyadic: the cut compares exactly cross-engine


def _q_cache_admission(spark, sf):
    """Static posting-cache admission (X115, cachesim.
    static_cache_admission): Baeza-Yates QtfDf — admit terms by
    query-popularity / posting-cost ratio until the byte budget (25%
    of the candidate byte mass, so the report stays meaningful at any
    corpus size).  The query log is synthesized as the term stream of
    doc_id % 7 == 0 documents (qtf = their tf mass); cost is the X113
    varint byte law, df the posting count, so the oracle reproduces
    ratio, the running-byte scan and the cut exactly."""
    from tse_spark.operators import cachesim

    tf = _tf_ws_cached(spark, sf)
    qtf = (
        tf.filter(F.col("doc_id") % 7 == 0)
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("qtf"))
    )
    return cachesim.static_cache_admission(
        qtf, tf.select("term", "doc_id"), budget_frac=CACHE_ADMIT_FRAC
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: each round's correctness check samples the FIRST
    # 50 entries (CORRECTNESS_r01..r05 keys are exactly the head of this
    # dict at the time of each round), so the head is ordered by
    # verification age.  First the 33 entries with no green CORRECTNESS
    # row: the 32 listed in VERDICT.md "What's missing" #1 (passage
    # retrieval, anchors, winnowing, crawl scheduling, facets,
    # filtered/fresh/MLT serving), then heaps_fit (red in r05 until its slope fit became
    # partition-order deterministic).  Then every verified entry by the
    # round of its LAST green row, oldest first (registry order within a
    # round), so the 17 head slots left over re-check the r02 entries.
    # tests/test_entry_contract.py hash-checks every entry locally,
    # whatever its position.
    return {
        # -- no green CORRECTNESS row (VERDICT "What's missing" #1;
        #    heaps_fit last, red in r05 before its determinism fix) --
        "passage_topk": _q_passage_topk,
        "passage_topk_indexed": _q_passage_topk_indexed,
        "passage_render": _q_passage_render,
        "rp_ann": _q_rp_ann,
        "rp_recall": _q_rp_recall,
        "anchor_text": _q_anchor_text,
        "bm25f_anchor": _q_bm25f_anchor,
        "search_collapsed": _q_search_collapsed,
        "related_pairs": _q_related_pairs,
        "dup_span_mask": _q_dup_span_mask,
        "pmi_collocations": _q_pmi_collocations,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_pairs": _q_winnow_pairs,
        "strip_boilerplate": _q_strip_boilerplate,
        "url_canonical": _q_url_canonical,
        "crawl_schedule": _q_crawl_schedule,
        "bloom_seen": _q_bloom_seen,
        "recrawl_priority": _q_recrawl_priority,
        "sitemap_entries": _q_sitemap_entries,
        "recrawl_hinted": _q_recrawl_hinted,
        "pages_asof": _q_pages_asof,
        "domain_stats": _q_domain_stats,
        "facet_counts": _q_facet_counts,
        "more_like_this": _q_more_like_this,
        "bm25_filtered": _q_bm25_filtered,
        "wand_filtered": _q_wand_filtered,
        "wand_facets": _q_wand_facets,
        "related_terms": _q_related_terms,
        "bm25_fresh": _q_bm25_fresh,
        "search_mmr": _q_search_mmr,
        "search_dedup": _q_search_dedup,
        "wand_mlt": _q_wand_mlt,
        "heaps_fit": _q_heaps_fit,
        # -- last green row: CORRECTNESS_r02 --
        "point_lookup": _q_point_lookup,
        "source_rollup": _q_source_rollup,
        "search_render": _q_search_render,
        "content_type_gate": _q_content_type_gate,
        "url_classify": _q_url_classify,
        "frontier_wave": _q_frontier_wave,
        "bpe_token_count": _q_bpe_token_count,
        "cosine_neardup": _q_cosine_neardup,
        "snapshot_by_url": _q_snapshot_by_url,
        "media_image_features": _q_media_image_features,
        "media_audio_features": _q_media_audio_features,
        "media_frame_sample": _q_media_frame_sample,
        "link_extract": _q_link_extract,
        "link_outdegree": _q_link_outdegree,
        "http_header_skip": _q_http_header_skip,
        "url_segment": _q_url_segment,
        "minhash_neardup": _q_minhash_neardup,
        "simhash": _q_simhash,
        "lsh_ann": _q_lsh_ann,
        "lsh_neardup": _q_lsh_neardup,
        # -- last green row: CORRECTNESS_r03 --
        "tf_table": _q_tf_table,
        "df_stats": _q_df_stats,
        "doclen": _q_doclen,
        "corpus_stats": _q_corpus_stats,
        "bm25_topk": _q_bm25_topk,
        "bm25_explain": _q_bm25_explain,
        "index_fsck": _q_index_fsck,
        "bm25_conjunctive": _q_bm25_conjunctive,
        "bm25_boolean": _q_bm25_boolean,
        "wand_boolean": _q_wand_boolean,
        "bm25_synonyms": _q_bm25_synonyms,
        "wand_synonyms": _q_wand_synonyms,
        "bm25_page2": _q_bm25_page2,
        "bm25_after": _q_bm25_after,
        "wand_topk": _q_wand_topk,
        "wand_conjunctive": _q_wand_conjunctive,
        "wand_sharedcache": _q_wand_sharedcache,
        "postings_strings": _q_postings_strings,
        "top_terms": _q_top_terms,
        "scan_search": _q_scan_search,
        "snippet": _q_snippet,
        "replica_groups": _q_replica_groups,
        "mirror_hosts": _q_mirror_hosts,
        "doc_fingerprint": _q_doc_fingerprint,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "shingle_count": _q_shingle_count,
        "jaccard_top_pairs": _q_jaccard_top_pairs,
        "decontaminate": _q_decontaminate,
        "repetition_filter": _q_repetition_filter,
        "mix_sample": _q_mix_sample,
        "distinct_estimate": _q_distinct_estimate,
        "priority_sample": _q_priority_sample,
        "quality_probe": _q_quality_probe,
        "quality_probe_scores": _q_quality_probe_scores,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "doc_chunks": _q_doc_chunks,
        "bm25_stemmed": _q_bm25_stemmed,
        "auto_stopwords": _q_auto_stopwords,
        "seq_pack": _q_seq_pack,
        "pii_redact": _q_pii_redact,
        "cosine_topk": _q_cosine_topk,
        "ivf_ann": _q_ivf_ann,
        "embedding_norms": _q_embedding_norms,
        "events_sessionize": _q_events_sessionize,
        "events_hourly": _q_events_hourly,
        "events_top_users": _q_events_top_users,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        # -- last green row: CORRECTNESS_r04 --
        "wand_tombstoned": _q_wand_tombstoned,
        "wand_delete_compacted": _q_wand_delete_compacted,
        "wand_recrawled": _q_wand_recrawled,
        "wand_snapshot": _q_wand_snapshot,
        "wand_pruned_topk": _q_wand_pruned_topk,
        "static_prune_topk": _q_static_prune_topk,
        "prune_recall": _q_prune_recall,
        "wand_federated": _q_wand_federated,
        "wand_selective": _q_wand_selective,
        "index_storage": _q_index_storage,
        "vocab_drift": _q_vocab_drift,
        "phrase_match": _q_phrase_match,
        "phrase_match_indexed": _q_phrase_match_indexed,
        "phrase_match_pos": _q_phrase_match_pos,
        "phrase_pos_compacted": _q_phrase_pos_compacted,
        "proximity_count": _q_proximity_count,
        "bm25_proximity": _q_bm25_proximity,
        "phrase_snippet": _q_phrase_snippet,
        "doc_keywords": _q_doc_keywords,
        "wildcard_terms": _q_wildcard_terms,
        "wildcard_search": _q_wildcard_search,
        "wildcard_search_indexed": _q_wildcard_search_indexed,
        "spell_suggest": _q_spell_suggest,
        "prefix_complete": _q_prefix_complete,
        "pagerank": _q_pagerank,
        "host_pagerank": _q_host_pagerank,
        "trustrank": _q_trustrank,
        "hits_scores": _q_hits,
        "click_distance": _q_click_distance,
        "bm25_pagerank": _q_bm25_pagerank,
        "kmeans_clusters": _q_kmeans_clusters,
        "kmeans_report": _q_kmeans_report,
        "semantic_dedup": _q_semantic_dedup,
        "percolate_matches": _q_percolate,
        "incr_neardup": _q_incr_neardup,
        "incr_novel": _q_incr_novel,
        "gzip_decode": _q_gzip_decode,
        "robots_rules": _q_robots_rules,
        "robots_frontier": _q_robots_frontier,
        "bm25_rm3": _q_bm25_rm3,
        "batch_search": _q_batch_search,
        "batch_metrics": _q_batch_metrics,
        "ltr_features": _q_ltr_features,
        "dedup_components": _q_dedup_components,
        "dedup_components_lsh": _q_dedup_components_lsh,
        "dedup_keep_one": _q_dedup_keep_one,
        "lsh_ann_indexed": _q_lsh_ann_indexed,
        "ivf_ann_indexed": _q_ivf_ann_indexed,
        "ann_recall": _q_ann_recall,
        "hybrid_rrf": _q_hybrid_rrf,
        # -- last green row: CORRECTNESS_r05 --
        "wand_merged": _q_wand_merged,
        "wand_absorbed": _q_wand_absorbed,
        "wand_quantized": _q_wand_quantized,
        "wand_result_cached": _q_wand_result_cached,
        "cache_admission": _q_cache_admission,
        "anytime_topk": _q_anytime_topk,
        "anytime_tradeoff": _q_anytime_tradeoff,
        "taat_quit_topk": _q_taat_quit_topk,
        "ql_topk": _q_ql_topk,
        "ql_jm_topk": _q_ql_jm_topk,
        "phrase_nextword": _q_phrase_nextword,
        "phrase_nextword3": _q_phrase_nextword3,
        "phrase_slop": _q_phrase_slop,
        "phrase_slop3": _q_phrase_slop3,
        "phrase_pos_merged": _q_phrase_pos_merged,
        "quant_rbo": _q_quant_rbo,
        "quantized_topk": _q_quantized_topk,
        "quant_error": _q_quant_error,
        "codec_advisor": _q_codec_advisor,
        "cache_hit_rates": _q_cache_hit_rates,
        "hybrid_rrf3": _q_hybrid_rrf3,
        "spam_mass": _q_spam_mass,
        "bm25_urlprior": _q_bm25_urlprior,
        "pages_bm25": _q_pages_bm25,
        "tianwang_ingest": _q_tianwang_ingest,
        "warc_ingest": _q_warc_ingest,
        "postings_codec": _q_postings_codec,
        "docid_reorder_gain": _q_docid_reorder_gain,
        "docid_reorder_codecs": _q_docid_reorder_codecs,
        "media_jpeg_roundtrip": _q_media_jpeg_roundtrip,
        "media_gif_roundtrip": _q_media_gif_roundtrip,
        "media_mixed_roundtrip": _q_media_mixed_roundtrip,
        "vocab_growth": _q_vocab_growth,
        "zipf_slope": _q_zipf_slope,
        "doclen_quantiles": _q_doclen_quantiles,
        "bigram_count": _q_bigram_count,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bpe_merges": _q_bpe_merges,
        "bpe_segment": _q_bpe_segment,
        "lm_perplexity": _q_lm_perplexity,
        "lm_filter": _q_lm_filter,
        "pagerank_warm": _q_pagerank_warm,
        "query_bursts": _q_query_bursts,
        "clarity_score": _q_clarity_score,
        "crawl_budget": _q_crawl_budget,
        "ann_int8": _q_ann_int8,
        "ann_int8_indexed": _q_ann_int8_indexed,
        "lsh_ann_appended": _q_lsh_ann_appended,
    }


_SYNTH_URLS_SQL = """
WITH synth AS (
  SELECT doc_id,
         'http://site' || (doc_id % 97)::VARCHAR
         || CASE doc_id % 4 WHEN 0 THEN '.example.cn'
                            WHEN 1 THEN '.example.com'
                            WHEN 2 THEN '.example.de'
                            ELSE '.example.org' END
         || CASE doc_id % 5
              WHEN 0 THEN '/p/' || doc_id::VARCHAR
              WHEN 1 THEN '/img' || doc_id::VARCHAR || '.jpg'
              WHEN 2 THEN '/cgi-bin/q' || doc_id::VARCHAR
              WHEN 3 THEN '/a' || doc_id::VARCHAR || '?b=1&c=2&d=3'
              ELSE '/x-' || doc_id::VARCHAR || '+z' END AS url,
         'site' || (doc_id % 97)::VARCHAR
         || CASE doc_id % 4 WHEN 0 THEN '.example.cn'
                            WHEN 1 THEN '.example.com'
                            WHEN 2 THEN '.example.de'
                            ELSE '.example.org' END AS host
  FROM documents
)
"""


# the synth url / host constructions as standalone SQL expressions
# (over a ``doc_id`` column), reused by the snapshot / link / render
# oracles; must stay in lockstep with _synth_url_col()
_ANCHOR_TEXT_SQL = (
    _SYNTH_URLS_SQL.rstrip()
    + """,
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
e AS (
  SELECT (d.doc_id * 2 + 1) % nn.n AS t,
         (CASE d.doc_id % 3 WHEN 0 THEN 'review' WHEN 1 THEN 'guide'
               ELSE 'docs' END)
           || ' ' || ((d.doc_id * 2 + 1) % nn.n)::VARCHAR AS anchor
  FROM documents d, nn
  UNION ALL
  SELECT (d.doc_id * 5 + 3) % nn.n,
         'site ' || ((d.doc_id * 5 + 3) % nn.n)::VARCHAR
  FROM documents d, nn)
SELECT s.url AS dst_url, e.anchor, count(*)::BIGINT AS n_refs
FROM e JOIN synth s ON s.doc_id = e.t
GROUP BY 1, 2"""
)


_SYNTH_HOST_EXPR = """'site' || (doc_id % 97)::VARCHAR
  || CASE doc_id % 4 WHEN 0 THEN '.example.cn' WHEN 1 THEN '.example.com'
                     WHEN 2 THEN '.example.de' ELSE '.example.org' END"""
_SYNTH_URL_EXPR = f"""'http://' || {_SYNTH_HOST_EXPR}
  || CASE doc_id % 5
       WHEN 0 THEN '/p/' || doc_id::VARCHAR
       WHEN 1 THEN '/img' || doc_id::VARCHAR || '.jpg'
       WHEN 2 THEN '/cgi-bin/q' || doc_id::VARCHAR
       WHEN 3 THEN '/a' || doc_id::VARCHAR || '?b=1&c=2&d=3'
       ELSE '/x-' || doc_id::VARCHAR || '+z' END"""


def _render_sql() -> str:
    """search_render oracle: BM25 top-10 + per-term context windows +
    <font> highlight, mirroring textops.render_results exactly (same
    window width/length arithmetic, same replace order)."""
    width = 64
    parts = []
    for t in BM25_QUERY:
        tl = t.lower()
        length = 2 * width + len(tl)
        parts.append(
            f"CASE WHEN strpos(lower(text), '{tl}') > 0 THEN "
            f"substr(lower(text), "
            f"greatest(strpos(lower(text), '{tl}') - {width}, 1), {length})"
            f" END"
        )
    snip = f"concat_ws(' ... ', {', '.join(parts)})"
    for t in BM25_QUERY:
        tl = t.lower()
        snip = f"replace({snip}, '{tl}', '<font>{tl}</font>')"
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return (
        _TOK
        + _BM25_SQL.format(terms=terms)
        + f"""
        , topk AS (
          SELECT doc_id, round(sum(s), 4) AS score
          FROM perterm GROUP BY doc_id
          ORDER BY sum(s) DESC, doc_id LIMIT 10),
        rend AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url, text FROM documents)
        SELECT r.doc_id, t.score, r.url, {snip} AS snippet
        FROM topk t JOIN rend r ON r.doc_id = t.doc_id"""
    )


# media generation law in SQL (lockstep with multimodal._payload_bytes
# / _meta_for): payload byte j of media_id i is (i*131 + j*7) % 256
_MEDIA_IMAGE_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         64 + ((doc_id * 131) % 64) * 4 AS sz,
         16 + (doc_id * 37) % 64 AS w,
         16 + (doc_id * 53) % 64 AS h
  FROM documents WHERE doc_id % 3 IN (0, 2)),
px AS (
  SELECT media_id, w, h,
         list_transform(range(w * h),
           p -> CAST((media_id * 131 + (p % sz) * 7) % 256 AS DOUBLE)) AS l
  FROM m)
SELECT media_id, w AS width, h AS height,
       round(list_avg(l), 4) AS mean_px,
       round(sqrt(greatest(
         list_avg(list_transform(l, x -> x * x))
           - list_avg(l) * list_avg(l), 0)), 4) AS std_px
FROM px"""

_MEDIA_AUDIO_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         64 + ((doc_id * 131) % 64) * 4 AS sz,
         8000 + 100 * ((doc_id * 29) % 9) AS sr
  FROM documents WHERE doc_id % 3 = 1),
d AS (SELECT media_id, sr, sz, sz + ((8 - (sz % 8)) % 8) AS padded FROM m)
SELECT media_id, sr AS sample_rate,
       round(padded * 1.0 / sr, 6) AS duration_s,
       round(list_avg(list_transform(range(padded // 8),
         j -> abs(CAST((media_id * 131 + j * 7) % 256 AS DOUBLE) - 128.0))),
         4) AS band0
FROM d"""

_MEDIA_FRAMES_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, 1 + (doc_id * 17) % 32 AS nf
  FROM documents WHERE doc_id % 3 = 2)
SELECT media_id, unnest(range(0, nf, 4)) AS frame_no FROM m"""

_CONTENT_TYPE_GATE_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image'
                       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime
FROM documents WHERE doc_id % 3 IN (0, 1)"""


def _url_classify_sql() -> str:
    from tse_spark.operators import crawl

    deny = crawl._deny_regex().replace("'", "''")
    doubled = crawl._DOUBLED_REGEX.replace("'", "''")
    img = ", ".join(f"'{e}'" for e in crawl.IMAGE_EXTS)
    tlds = ", ".join(f"'{t}'" for t in crawl.HOME_TLDS)
    return _SYNTH_URLS_SQL + f"""
    SELECT doc_id, url, host,
      (strlen(url) <= 256 AND contains(url, '.')
       AND lower(regexp_extract(url, '\\.([^.]*)$', 1)) IN ({img}))
        AS is_image,
      (NOT regexp_full_match(host, '\\d{{1,3}}(\\.\\d{{1,3}}){{3}}')
       AND lower(regexp_extract(host, '([^.]*)$', 1)) NOT IN ({tlds}))
        AS is_foreign,
      (strlen(host) >= 6
       AND regexp_full_match(host, '[A-Za-z0-9.:_\\-]+')) AS valid_host,
      (strlen(url) > 256 OR strlen(url) = 0
       OR regexp_matches(lower(url), '{doubled}')
       OR regexp_matches(lower(url), '{deny}')) AS filtered
    FROM synth"""


def _bpe_count_sql() -> str:
    from tse_spark.operators import textops

    pat = textops.BPE_ISH_RE.replace("'", "''")
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{pat}'))::BIGINT
             AS n_bpe_tokens
    FROM documents"""


# 32-bit md5-prefix base hash — the portable twin of
# tse_spark.operators.dedup._base_hash32(hash_fn="md5")
_MD5_H32 = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
_MH_PRIME = (1 << 61) - 1


def _minhash_oracle_sql(
    num_hashes: int = 16, bands: int = 4, min_jaccard: float = 0.2
) -> str:
    """Recomputes dedup.minhash_neardup(hash_fn='md5') end to end:
    3-gram shingles -> md5-affine signatures -> band buckets ->
    candidate pairs -> exact-Jaccard verify of candidates only."""
    sig_cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = (0x9E3779B9 * (i + 1)) & 0xFFFFF
        sig_cols.append(
            f"min(({_MD5_H32} * {a} + {b}) % {_MH_PRIME}) AS mh_{i}"
        )
    rpb = num_hashes // bands
    band_selects = []
    for bnd in range(bands):
        key = " || ',' || ".join(
            f"mh_{bnd * rpb + r}::VARCHAR" for r in range(rpb)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band, {key} AS bucket FROM sig"
        )
    return f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(arr) - 1),
                    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
             AS shingle
      FROM arrs WHERE len(arr) >= 3),
    sig AS (SELECT doc_id, {', '.join(sig_cols)} FROM sh GROUP BY doc_id),
    banded AS ({' UNION ALL '.join(band_selects)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_a
      JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2)
    SELECT it.doc_a, it.doc_b,
           round(it.i / (za.n + zb.n - it.i), 6) AS jaccard
    FROM inter it
    JOIN sz za ON za.doc_id = it.doc_a
    JOIN sz zb ON zb.doc_id = it.doc_b
    WHERE round(it.i / (za.n + zb.n - it.i), 6) >= {min_jaccard}"""


def _simhash_oracle_sql() -> str:
    """Recomputes dedup.simhash64(hash_fn='md5') bit for bit: bit i of
    a term's hash is bit i%4 of hex nibble i//4 of md5(term)."""
    bit_sums = []
    for i in range(64):
        bit = (
            f"((strpos('0123456789abcdef', substr(h, {i // 4 + 1}, 1))"
            f" - 1) >> {i % 4}) & 1"
        )
        bit_sums.append(
            f"sum(CASE WHEN ({bit}) = 1 THEN tf ELSE -tf END) AS b{i}"
        )
    packed = []
    for i in range(64):
        val = (1 << i) if i < 63 else -(1 << 63)
        packed.append(f"CASE WHEN b{i} >= 0 THEN {val} ELSE 0 END")
    return f"""
    WITH tok0 AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+'))
             AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM tok0 WHERE strlen(term) > 0 GROUP BY 1, 2),
    h AS (SELECT doc_id, tf, md5(term) AS h FROM tf),
    bits AS (SELECT doc_id, {', '.join(bit_sums)} FROM h GROUP BY doc_id)
    SELECT doc_id, ({' + '.join(packed)})::BIGINT AS simhash FROM bits"""


def _lsh_plane_sigs_sql(n_planes: int = 2, n_bands: int = 8,
                        seed: int = 7, dim: int = 64) -> str:
    """``sigs(vec_id, label, band, sig)`` CTE body with the SAME
    hyperplane literals the Spark operator compiles into its plan
    (similarity._hyperplanes is seed-deterministic), so DuckDB
    re-derives identical band signatures from the table alone."""
    from tse_spark.operators import similarity

    selects = []
    for bi in range(n_bands):
        planes = similarity._hyperplanes(dim, n_planes, seed + 101 * bi)
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(float(c)) for c in p) + "]"
            terms.append(
                f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit})"
                f" >= 0 THEN {1 << i} ELSE 0 END"
            )
        selects.append(
            f"SELECT vec_id, label, {bi} AS band, "
            f"({' + '.join(terms)})::BIGINT AS sig FROM embeddings"
        )
    return " UNION ALL ".join(selects)


_COS_PAIR = (
    "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))"
    " * "
    "sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))"
)


def _lsh_neardup_oracle_sql(threshold: float = 0.4) -> str:
    """Recomputes similarity.lsh_neardup_pairs: banded sign-LSH
    candidates (OR over bands) + exact-cosine verify."""
    return f"""
    WITH sigs AS ({_lsh_plane_sigs_sql()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b, round({_COS_PAIR}, 4) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round({_COS_PAIR}, 4) >= {threshold}"""


def _lsh_ann_oracle_sql(k: int = 10, n_planes: int = 2) -> str:
    """Recomputes similarity.lsh_ann_topk for the vec_id=0 query:
    multi-probe (query signature + all Hamming-1 flips) per band,
    exact-cosine re-rank of the candidate union."""
    probe_flips = ["sig"] + [f"xor(sig, {1 << i})" for i in range(n_planes)]
    probes = " UNION ".join(
        f"SELECT band, {f} AS sig FROM qsig" for f in probe_flips
    )
    cos_q = (
        "list_dot_product(e.embedding::DOUBLE[], q.qv) / "
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], "
        "e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
    WITH sigs AS ({_lsh_plane_sigs_sql()}),
    qsig AS (SELECT band, sig FROM sigs WHERE vec_id = 0),
    probes AS ({probes}),
    cand AS (
      SELECT DISTINCT s.vec_id FROM sigs s
      JOIN probes p ON p.band = s.band AND p.sig = s.sig),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0)
    SELECT e.vec_id, e.label, round({cos_q}, 4) AS cos
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY cos DESC, vec_id LIMIT {k}"""


def _pages_bm25_oracle_sql() -> str | None:
    """DuckDB twin for the GB2312/FMM pages pipeline: the tokenization
    itself has no SQL equivalent, so the pure-Python oracle's expected
    tf table is materialized as a fixture parquet
    (fixtures.write_expected_tf_parquet — the same truth the pytest
    conformance suite pins the Arrow tokenizer to) and the SQL scores
    BM25 from it.  This verifies the whole Spark pipeline — doc-id
    assignment, tokenizer UDF, stats, scoring — against an
    independently derived table, converting the last rows-only
    correctness entry into a hash-match row.

    The driver compares at sf0.01 (its documented gate); the fixture
    size is derived from that table's row count, mirroring
    _q_pages_bm25's n_pages law.  Returns None (entry omitted,
    rows-only fallback) if sf0.01 is unavailable."""
    import os

    docs_file = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(docs_file):
        return None
    try:
        import pyarrow.parquet as pq

        from tse_spark import fixtures, oracle

        n_docs = pq.ParquetFile(docs_file).metadata.num_rows
        n_pages = max(200, n_docs // 2)
        pages_dir = fixtures.write_pages_parquet_sharded(
            f"/tmp/tse_entry_pages_{n_pages}", n_pages, n_files=8
        )
        tf_path = fixtures.write_expected_tf_parquet(pages_dir)
        terms = sorted(
            {
                t.decode("gb2312")
                for t in oracle.tokenize(
                    PAGES_QUERY.encode("gb2312"), fixtures.mini_dict_bytes()
                )
                if oracle.eligible(t)
            }
        )
    except Exception:
        return None
    if not terms:
        return None
    in_list = ", ".join("'" + t + "'" for t in terms)
    return f"""
    WITH tf AS (SELECT doc_id, term, tf FROM read_parquet('{tf_path}')),
    dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
    perterm AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      WHERE tf.term IN ({in_list}))
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT 10"""


def _hits_oracle_sql(n_iter: int = 2) -> str:
    """Unrolled HITS — the same graph law as the pagerank oracle and
    the same per-round update as linkrank.hits (authority sum ->
    L2-normalize -> hub sum -> L2-normalize)."""
    head = """
    WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 2 + 1) % nn.n AS dst
      FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 11 + 7) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0),
    e AS (SELECT src, dst FROM e0 WHERE src % 11 <> 0),
    v AS (SELECT doc_id AS id FROM documents),
    s0 AS (SELECT id, 1.0 AS auth, 1.0 AS hub FROM v)"""
    its = []
    for k in range(1, n_iter + 1):
        j = k - 1
        its.append(
            f""",
    ar{k} AS (
      SELECT e.dst AS id, sum(p.hub) AS a
      FROM e JOIN s{j} p ON e.src = p.id GROUP BY e.dst),
    t{k} AS (
      SELECT v.id, coalesce(ar{k}.a, 0.0) AS auth, p.hub
      FROM v JOIN s{j} p ON v.id = p.id
      LEFT JOIN ar{k} ON v.id = ar{k}.id),
    an{k} AS (SELECT sqrt(sum(auth * auth)) AS nrm FROM t{k}),
    u{k} AS (
      SELECT id,
             CASE WHEN an{k}.nrm > 0 THEN auth / an{k}.nrm
                  ELSE 0.0 END AS auth,
             hub
      FROM t{k} CROSS JOIN an{k}),
    hr{k} AS (
      SELECT e.src AS id, sum(q.auth) AS h
      FROM e JOIN u{k} q ON e.dst = q.id GROUP BY e.src),
    w{k} AS (
      SELECT u{k}.id, u{k}.auth, coalesce(hr{k}.h, 0.0) AS hub
      FROM u{k} LEFT JOIN hr{k} ON u{k}.id = hr{k}.id),
    hn{k} AS (SELECT sqrt(sum(hub * hub)) AS nrm FROM w{k}),
    s{k} AS (
      SELECT id, auth,
             CASE WHEN hn{k}.nrm > 0 THEN hub / hn{k}.nrm
                  ELSE 0.0 END AS hub
      FROM w{k} CROSS JOIN hn{k})"""
        )
    return (
        head
        + "".join(its)
        + f"""
    SELECT id AS doc_id, round(auth, 6) AS auth, round(hub, 6) AS hub
    FROM s{n_iter}"""
    )


def _click_distance_oracle_sql(n_iter: int = 4) -> str:
    """Unrolled min-plus label propagation — the same graph and seed
    law as _q_click_distance (seeds doc_id % 23 == 0), one (relax,
    least) CTE pair per round.  Pure BIGINT arithmetic, so the twin
    is exact by construction."""
    inf = 1 << 30
    head = f"""
    WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 2 + 1) % nn.n AS dst
      FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 11 + 7) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0),
    e AS (SELECT src, dst FROM e0 WHERE src % 11 <> 0),
    v AS (SELECT doc_id AS id FROM documents),
    d0 AS (
      SELECT id,
             CASE WHEN id % 23 = 0 THEN 0
                  ELSE {inf} END::BIGINT AS d
      FROM v)"""
    its = []
    for k in range(1, n_iter + 1):
        j = k - 1
        its.append(
            f""",
    nd{k} AS (
      SELECT e.dst AS id, min(d{j}.d) + 1 AS nd
      FROM e JOIN d{j} ON e.src = d{j}.id GROUP BY e.dst),
    d{k} AS (
      SELECT d{j}.id,
             least(d{j}.d, coalesce(nd{k}.nd, {inf})) AS d
      FROM d{j} LEFT JOIN nd{k} ON d{j}.id = nd{k}.id)"""
        )
    return (
        head
        + "".join(its)
        + f"""
    SELECT id AS doc_id,
           (CASE WHEN d >= {inf} THEN -1 ELSE d END)::BIGINT AS dist
    FROM d{n_iter}"""
    )


def _trustrank_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled TrustRank — the pagerank oracle's graph law with the
    teleport vector restricted to the seed set (doc_id % 31 == 0):
    reset AND dangling mass scale by t(v) instead of 1/n."""
    head = """
    WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 2 + 1) % nn.n AS dst
      FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 11 + 7) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0),
    e AS (SELECT src, dst FROM e0 WHERE src % 11 <> 0),
    deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    v AS (SELECT doc_id AS id FROM documents),
    ns AS (SELECT count(*)::DOUBLE AS ns FROM documents
           WHERE doc_id % 31 = 0),
    tl AS (SELECT v.id,
                  CASE WHEN v.id % 31 = 0 THEN 1.0 / ns.ns
                       ELSE 0.0 END AS t
           FROM v CROSS JOIN ns),
    r0 AS (SELECT id, t AS r FROM tl)"""
    its = []
    for k in range(1, n_iter + 1):
        j = k - 1
        its.append(
            f""",
    c{k} AS (
      SELECT e.dst AS id, sum(r{j}.r / deg.deg) AS c
      FROM e JOIN r{j} ON e.src = r{j}.id JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    d{k} AS (
      SELECT coalesce(sum(r), 0.0) AS dm FROM r{j}
      WHERE id NOT IN (SELECT src FROM deg)),
    r{k} AS (
      SELECT tl.id,
             0.15 * tl.t
               + 0.85 * (coalesce(c{k}.c, 0.0) + d{k}.dm * tl.t) AS r
      FROM tl CROSS JOIN d{k}
      LEFT JOIN c{k} ON tl.id = c{k}.id)"""
        )
    return (
        head
        + "".join(its)
        + f"""
    SELECT id AS doc_id, round(r, 6) AS trust FROM r{n_iter}"""
    )


def _incr_oracle_sqls(
    num_hashes: int = 16, bands: int = 4
) -> "tuple[str, str]":
    """(matches_sql, novel_sql) for the incremental-dedup entries:
    dedup.neardup_vs_corpus(hash_fn='md5') replayed — per-doc md5
    MinHash signatures, banding, batch-x-corpus candidate join, exact
    Jaccard — over the doc_id%10 batch/corpus split."""
    sig_cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = (0x9E3779B9 * (i + 1)) & 0xFFFFF
        sig_cols.append(
            f"min(({_MD5_H32} * {a} + {b}) % {_MH_PRIME}) AS mh_{i}"
        )
    rpb = num_hashes // bands
    band_selects = []
    for bnd in range(bands):
        key = " || ',' || ".join(
            f"mh_{bnd * rpb + r}::VARCHAR" for r in range(rpb)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band, {key} AS bucket FROM sig"
        )
    core = f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(arr) - 1),
                    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
             AS shingle
      FROM arrs WHERE len(arr) >= 3),
    sig AS (SELECT doc_id, {', '.join(sig_cols)} FROM sh GROUP BY doc_id),
    banded AS ({' UNION ALL '.join(band_selects)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.corpus_id, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.new_id
      JOIN sh s2 ON s2.doc_id = c.corpus_id AND s2.shingle = s1.shingle
      GROUP BY 1, 2),
    matches AS (
      SELECT it.new_id, it.corpus_id,
             round(it.i / (za.n + zb.n - it.i), 6) AS jaccard
      FROM inter it
      JOIN sz za ON za.doc_id = it.new_id
      JOIN sz zb ON zb.doc_id = it.corpus_id
      WHERE round(it.i / (za.n + zb.n - it.i), 6) >= {INCR_MIN_J})"""
    return (
        core + """
    SELECT new_id, corpus_id, jaccard FROM matches""",
        core + """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 = 0
      AND doc_id NOT IN (SELECT new_id FROM matches)""",
    )


def _bpe_oracle_fixtures() -> "tuple[str, str] | None":
    """Fixture parquets for the iterative BPE oracles (pages_bm25
    pattern): the pure-Python twin (oracle.bpe_learn /
    bpe_segment_word) recomputes the merge list and the vocabulary
    segmentation straight from the sf0.01 documents parquet —
    no Spark involved — and the driver's SQL just reads the files.
    Returns (merges_path, segments_path), cached on disk per corpus
    row count + merge budget; None if sf0.01 is unavailable."""
    import os

    docs_file = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(docs_file):
        return None
    try:
        import pandas as _pd
        import pyarrow.parquet as _pq

        from tse_spark import oracle as _o

        n_rows = _pq.ParquetFile(docs_file).metadata.num_rows
        mp = f"/tmp/tse_bpe_merges_{n_rows}_{BPE_MERGES}.parquet"
        sp = f"/tmp/tse_bpe_segs_{n_rows}_{BPE_MERGES}.parquet"
        if not (os.path.exists(mp) and os.path.exists(sp)):
            texts = _pq.read_table(
                docs_file, columns=["text"]
            ).column("text").to_pylist()
            wc = _o.bpe_word_counts([t or "" for t in texts])
            merges = _o.bpe_learn(wc, BPE_MERGES)
            _pd.DataFrame(
                {
                    "rank": range(1, len(merges) + 1),
                    "left": [a for a, _, _ in merges],
                    "right": [b for _, b, _ in merges],
                    "pair": [a + b for a, b, _ in merges],
                    "count": [n for _, _, n in merges],
                }
            ).to_parquet(mp)
            segs = [
                (w, c, _o.bpe_segment_word(w, merges))
                for w, c in wc.items()
            ]
            _pd.DataFrame(
                {
                    "word": [w for w, _, _ in segs],
                    "count": [c for _, c, _ in segs],
                    "n_pieces": [len(s) for _, _, s in segs],
                    "pieces": [" ".join(s) for _, _, s in segs],
                }
            ).to_parquet(sp)
        return mp, sp
    except Exception:
        return None


def _pagerank_oracle_sql(n_iter: int = 3, as_cte: bool = False) -> str:
    """Unrolled power iteration — the same graph law and rank update as
    _q_pagerank, one CTE pair (contrib, dangling) + rank CTE per
    iteration.  All rank math in DOUBLE (0.15/0.85 literals promote via
    the DOUBLE n), matching Spark's float64.

    ``as_cte=True`` emits just the CTE list (no WITH, no final
    SELECT), ending with ``r{n_iter}`` — for embedding the prior into
    a larger oracle (ltr_features)."""
    head = """
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    e0 AS (
      SELECT doc_id AS src, (doc_id * 2 + 1) % nn.n AS dst
      FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 11 + 7) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0),
    e AS (SELECT src, dst FROM e0 WHERE src % 11 <> 0),
    deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    v AS (SELECT doc_id AS id FROM documents),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents),
    r0 AS (SELECT v.id, 1.0 / n.n AS r FROM v CROSS JOIN n)"""
    its = []
    for k in range(1, n_iter + 1):
        j = k - 1
        its.append(
            f""",
    c{k} AS (
      SELECT e.dst AS id, sum(r{j}.r / deg.deg) AS c
      FROM e JOIN r{j} ON e.src = r{j}.id JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    d{k} AS (
      SELECT coalesce(sum(r), 0.0) AS dm FROM r{j}
      WHERE id NOT IN (SELECT src FROM deg)),
    r{k} AS (
      SELECT v.id,
             0.15 / n.n + 0.85 * (coalesce(c{k}.c, 0.0) + d{k}.dm / n.n)
               AS r
      FROM v CROSS JOIN n CROSS JOIN d{k}
      LEFT JOIN c{k} ON v.id = c{k}.id)"""
        )
    body = head + "".join(its)
    if as_cte:
        return body
    return (
        "\n    WITH "
        + body.lstrip()
        + f"""
    SELECT id AS doc_id, round(r, 6) AS rank FROM r{n_iter}"""
    )


def _host_pagerank_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled host-graph power iteration: the pagerank oracle's page
    law collapsed to synth hosts (intra-host edges dropped, distinct),
    vertex universe = every synth host, then the identical rank update
    per iteration."""
    head = (
        _SYNTH_URLS_SQL.rstrip()
        + """,
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    pe0 AS (
      SELECT doc_id AS s, (doc_id * 2 + 1) % nn.n AS t
      FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      UNION
      SELECT doc_id, (doc_id * 11 + 7) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0),
    pe AS (SELECT s, t FROM pe0 WHERE s % 11 <> 0),
    e AS (
      SELECT DISTINCT a.host AS src, b.host AS dst
      FROM pe JOIN synth a ON pe.s = a.doc_id
              JOIN synth b ON pe.t = b.doc_id
      WHERE a.host <> b.host),
    deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    v AS (SELECT DISTINCT host AS id FROM synth),
    n AS (SELECT count(DISTINCT host)::DOUBLE AS n FROM synth),
    r0 AS (SELECT v.id, 1.0 / n.n AS r FROM v CROSS JOIN n)"""
    )
    its = []
    for k in range(1, n_iter + 1):
        j = k - 1
        its.append(
            f""",
    c{k} AS (
      SELECT e.dst AS id, sum(r{j}.r / deg.deg) AS c
      FROM e JOIN r{j} ON e.src = r{j}.id JOIN deg ON e.src = deg.src
      GROUP BY e.dst),
    d{k} AS (
      SELECT coalesce(sum(r), 0.0) AS dm FROM r{j}
      WHERE id NOT IN (SELECT src FROM deg)),
    r{k} AS (
      SELECT v.id,
             0.15 / n.n + 0.85 * (coalesce(c{k}.c, 0.0) + d{k}.dm / n.n)
               AS r
      FROM v CROSS JOIN n CROSS JOIN d{k}
      LEFT JOIN c{k} ON v.id = c{k}.id)"""
        )
    return (
        head
        + "".join(its)
        + f"""
    SELECT id AS host, round(r, 6) AS rank FROM r{n_iter}"""
    )


def _probe_cte_sql(iters: int = PROBE_ITERS, lr: float = PROBE_LR) -> str:
    """Unrolled batch-GD mirroring probe.probe_train: feature CTE
    (same folds as probe.quality_features), then per iteration a
    residual scan, fixed-point BIGINT gradient sums, and an exact
    weight-update CTE.  Ends with weights ``w{iters}`` and the
    feature CTE ``f`` in scope."""
    step = float(lr) * 2.0
    fp = 1048576.0
    parts = [
        """
    f AS (
      SELECT doc_id,
             len(toks) / 100.0 AS x1,
             len(list_distinct(toks))::DOUBLE / len(toks) AS x2,
             (list_sum(list_transform(toks, t -> strlen(t)))::DOUBLE
              / len(toks)) / 10.0 AS x3,
             CASE WHEN list_contains(toks, 'spark') THEN 1.0
                  ELSE 0.0 END AS y
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               t -> strlen(t) > 0) AS toks
            FROM documents)
      WHERE len(toks) > 0),
    w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(
            f"""
    r{t} AS (
      SELECT f.*,
             (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3) - f.y AS r
      FROM f CROSS JOIN w{p} w),
    g{t} AS (
      SELECT count(*) AS n,
             sum(CAST(floor(1.0 * r * {fp} + 0.5) AS BIGINT)) AS g0,
             sum(CAST(floor(x1 * r * {fp} + 0.5) AS BIGINT)) AS g1,
             sum(CAST(floor(x2 * r * {fp} + 0.5) AS BIGINT)) AS g2,
             sum(CAST(floor(x3 * r * {fp} + 0.5) AS BIGINT)) AS g3
      FROM r{t}),
    w{t} AS (
      SELECT w.w0 - {step} * (CAST(g.g0 AS DOUBLE) / ({fp} * g.n)) AS w0,
             w.w1 - {step} * (CAST(g.g1 AS DOUBLE) / ({fp} * g.n)) AS w1,
             w.w2 - {step} * (CAST(g.g2 AS DOUBLE) / ({fp} * g.n)) AS w2,
             w.w3 - {step} * (CAST(g.g3 AS DOUBLE) / ({fp} * g.n)) AS w3
      FROM w{p} w CROSS JOIN g{t} g)"""
        )
    return ",".join(parts)


def _quality_probe_oracle_sql() -> str:
    return (
        "WITH "
        + _probe_cte_sql().lstrip()
        + f"""
    SELECT * FROM (
      SELECT 0::BIGINT AS feature, round(w0, 6) AS weight
        FROM w{PROBE_ITERS}
      UNION ALL
      SELECT 1, round(w1, 6) FROM w{PROBE_ITERS}
      UNION ALL
      SELECT 2, round(w2, 6) FROM w{PROBE_ITERS}
      UNION ALL
      SELECT 3, round(w3, 6) FROM w{PROBE_ITERS})"""
    )


def _quality_probe_scores_oracle_sql() -> str:
    return (
        "WITH "
        + _probe_cte_sql().lstrip()
        + f"""
    SELECT f.doc_id,
           round(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3, 4)
             AS score,
           round(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3, 4)
             >= 0.5 AS keep,
           (round(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3, 4)
             >= 0.5) = (f.y >= 0.5) AS correct
    FROM f CROSS JOIN w{PROBE_ITERS} w"""
    )


def _rp_ann_oracle_sql() -> str:
    """JL projected-space top-k: the sign-plane literals re-derived
    into SQL (same seed law as similarity.rp_planes); the query's
    projection is computed by the SAME sequential fold in both
    engines, so the rounded cosines agree."""
    from tse_spark.operators.similarity import rp_planes

    planes = rp_planes(EMB_DIM, RP_OUT_DIM, RP_SEED)

    def lit(p):
        return "[" + ",".join(repr(float(x)) for x in p) + "]"

    proj = ",".join(f"list_dot_product(v, {lit(p)})" for p in planes)
    qproj = ",".join(f"list_dot_product(qv, {lit(p)})" for p in planes)
    cos_exact = (
        "list_dot_product(e.v, q.qv) / "
        "(sqrt(list_dot_product(e.v, e.v)) "
        "* sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0),
    p AS (SELECT vec_id, [{proj}] AS proj FROM e),
    qp AS (SELECT [{qproj}] AS qproj FROM q),
    cand AS (
      SELECT vec_id,
             round(list_dot_product(p.proj, qp.qproj)
                   / (sqrt(list_dot_product(p.proj, p.proj))
                      * sqrt(list_dot_product(qp.qproj, qp.qproj))), 4)
               AS pcos
      FROM p CROSS JOIN qp
      WHERE vec_id <> 0
      ORDER BY pcos DESC, vec_id
      LIMIT {RP_CAND})
    SELECT e.vec_id, e.label, round({cos_exact}, 4) AS cos
    FROM e JOIN cand USING (vec_id), q
    ORDER BY cos DESC, vec_id
    LIMIT {K}"""


def _kmeans_cte_sql(
    k: int = KMEANS_K, iters: int = KMEANS_ITERS, dim: int = EMB_DIM
) -> str:
    """Unrolled Lloyd iteration mirroring clustering.kmeans_train:
    seeds = embeddings of vec_id < k; assignment = argmin of
    dot(v,v) - 2 dot(v,c) + dot(c,c) with ties to the lowest cell;
    update = per-dim fixed-point means (floor(x*2^20+0.5) summed as
    BIGINT — exact in any order, so engine and oracle centroids are
    bit-identical).  Emits CTEs ending with the final assignment
    ``a{iters+1}`` and final centroids ``c{iters}``."""
    from tse_spark.operators.clustering import FP_SCALE

    fp = float(FP_SCALE)
    d2 = (
        "list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, cc.c)"
        " + list_dot_product(cc.c, cc.c)"
    )
    parts = [
        f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT unnest(range(1, {dim + 1})) AS i),
    c0 AS (SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS c
           FROM embeddings WHERE vec_id < {k})"""
    ]
    for it in range(1, iters + 2):
        prev = f"c{it - 1}"
        parts.append(
            f"""
    a{it} AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cc.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2}, cc.cell) AS rn
        FROM e CROSS JOIN {prev} cc) WHERE rn = 1)"""
        )
        if it == iters + 1:
            break
        parts.append(
            f"""
    s{it} AS (
      SELECT a.cell, d.i,
             sum(CAST(floor(e.v[d.i] * {fp} + 0.5) AS BIGINT)) AS sq,
             count(*) AS n
      FROM a{it} a JOIN e USING (vec_id) CROSS JOIN dims d
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"""
    c{it} AS (
      SELECT cell, list(CAST(sq AS DOUBLE) / ({fp} * n) ORDER BY i) AS c
      FROM s{it} GROUP BY cell
      UNION ALL
      SELECT cell, c FROM {prev}
      WHERE cell NOT IN (SELECT cell FROM a{it}))"""
        )
    return ",".join(parts)


def _kmeans_clusters_oracle_sql() -> str:
    fin = KMEANS_ITERS + 1
    return (
        "WITH "
        + _kmeans_cte_sql().lstrip()
        + f"\n    SELECT vec_id, cell::BIGINT AS cell FROM a{fin}"
    )


def _kmeans_report_oracle_sql() -> str:
    fin = KMEANS_ITERS + 1
    return (
        "WITH "
        + _kmeans_cte_sql().lstrip()
        + f""",
    d2 AS (
      SELECT a.cell,
             CAST(floor((list_dot_product(e.v, e.v)
                   - 2*list_dot_product(e.v, cc.c)
                   + list_dot_product(cc.c, cc.c)) * 1000000.0 + 0.5)
                  AS BIGINT) AS q
      FROM a{fin} a JOIN e USING (vec_id)
      JOIN c{KMEANS_ITERS} cc USING (cell))
    SELECT cell::BIGINT AS cell, count(*)::BIGINT AS n_vectors,
           round(CAST(sum(q) AS DOUBLE) / (1000000.0 * count(*)), 4)
             AS mean_sq_dist
    FROM d2 GROUP BY cell"""
    )


def _semantic_dedup_oracle_sql() -> str:
    fin = KMEANS_ITERS + 1
    return (
        "WITH "
        + _kmeans_cte_sql().lstrip()
        + f""",
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM a{fin} a JOIN a{fin} b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.v, eb.v)
                  / sqrt(list_dot_product(ea.v, ea.v)
                         * list_dot_product(eb.v, eb.v)), 4)
            >= {SEMDEDUP_TAU})
    SELECT af.vec_id, af.cell::BIGINT AS cell,
           af.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
    FROM a{fin} af"""
    )


# cosine near-dup pair law (the cosine_neardup oracle's WHERE) shared by
# the component/keep-one oracles
_COS_PAIRS_CTE = """
    pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(
              list_dot_product(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[])
              / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                       a.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]))),
              4) >= 0.4),
    ed AS (SELECT id_a AS s, id_b AS d FROM pr
           UNION SELECT id_b, id_a FROM pr),
    reach(id, r) AS (
      SELECT s, s FROM ed
      UNION
      SELECT reach.id, ed.d FROM reach JOIN ed ON reach.r = ed.s),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""

_DEDUP_COMPONENTS_SQL = (
    "WITH RECURSIVE"
    + _COS_PAIRS_CTE
    + """
    SELECT id AS vec_id, component FROM comp"""
)

_DEDUP_KEEP_ONE_SQL = (
    "WITH RECURSIVE"
    + _COS_PAIRS_CTE
    + """
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> component)"""
)


def _dedup_components_lsh_oracle_sql() -> str:
    """Transitive closure over the LSH near-dup pair law (the
    lsh_neardup oracle verbatim as a nested CTE), then min-label
    components — the SQL twin of _q_dedup_components_lsh."""
    return (
        "WITH RECURSIVE pr AS ("
        + _lsh_neardup_oracle_sql()
        + """),
    ed AS (SELECT id_a AS s, id_b AS d FROM pr
           UNION SELECT id_b, id_a FROM pr),
    reach(id, r) AS (
      SELECT s, s FROM ed
      UNION
      SELECT reach.id, ed.d FROM reach JOIN ed ON reach.r = ed.s),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT id AS vec_id, component FROM comp"""
    )


# X119 passage oracle core (shared by passage_topk / passage_render /
# passage_topk_indexed): the doc_chunks window law + passage-local
# BM25 stats as DuckDB list ops
_PASSAGE_TERMS_SQL = ", ".join(
    "'" + t + "'" for t in sorted(set(BM25_QUERY))
)
_PASSAGE_CORE_SQL = f"""WITH d AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             t -> strlen(t) > 0) AS arr
          FROM documents),
        d2 AS (SELECT doc_id, arr, len(arr) AS n FROM d
               WHERE len(arr) > 0),
        st AS (SELECT doc_id, arr, n, unnest(range(0, n, 48)) AS s
               FROM d2),
        f AS (SELECT * FROM st WHERE s = 0 OR s < n - 16),
        win2 AS (
          SELECT doc_id, (s // 48)::BIGINT AS chunk_id,
                 s::BIGINT AS start_tok,
                 arr[s + 1 : least(s + 64, n)] AS full_w,
                 list_filter(arr[s + 1 : least(s + 64, n)],
                             t -> strlen(t) BETWEEN 2 AND 8) AS w
          FROM f),
        pw AS (SELECT doc_id, chunk_id, start_tok, w,
                      len(w)::BIGINT AS dl
               FROM win2 WHERE len(w) > 0),
        pstats AS (SELECT count(*)::BIGINT AS n_p, avg(dl) AS avgdl
                   FROM pw),
        ptf AS (
          SELECT doc_id, chunk_id, start_tok, dl, q.term,
                 len(list_filter(w, t -> t = q.term))::BIGINT AS tf
          FROM pw,
               (SELECT unnest([{_PASSAGE_TERMS_SQL}]) AS term) q),
        nz AS (SELECT * FROM ptf WHERE tf > 0),
        dfr AS (SELECT term, count(*)::BIGINT AS df FROM nz GROUP BY 1),
        per AS (
          SELECT nz.doc_id, nz.chunk_id, nz.start_tok,
                 ln(1 + (pstats.n_p - dfr.df + 0.5) / (dfr.df + 0.5))
                   * nz.tf * 2.2
                   / (nz.tf + 1.2 * (0.25 + 0.75 * nz.dl / pstats.avgdl))
                   AS s
          FROM nz JOIN dfr USING (term) CROSS JOIN pstats)"""


def oracle_sql() -> dict[str, str]:
    terms3 = ", ".join(f"'{t}'" for t in BM25_QUERY)
    terms2 = ", ".join(f"'{t}'" for t in BM25_CONJ_QUERY)
    bm25_3 = _BM25_SQL.format(terms=terms3)
    bm25_2 = _BM25_SQL.format(terms=terms2)
    # boolean box: score over positive+required, gate on required,
    # anti-join the excluded term's docs (one SQL for both the
    # declarative and the shard-served paths)
    bool_scoring = ", ".join(
        f"'{t}'" for t in sorted(set(BOOL_POS) | set(BOOL_REQ))
    )
    bool_req = ", ".join(f"'{t}'" for t in sorted(set(BOOL_REQ)))
    bool_exc = ", ".join(f"'{t}'" for t in sorted(set(BOOL_EXC)))
    bool_sql = (
        _TOK
        + _BM25_SQL.format(terms=bool_scoring)
        + f"""
        , req AS (
          SELECT doc_id FROM tf WHERE term IN ({bool_req})
          GROUP BY doc_id
          HAVING count(DISTINCT term) = {len(set(BOOL_REQ))}),
        ex AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({bool_exc}))
        SELECT p.doc_id AS doc_id, round(sum(s), 4) AS score
        FROM perterm p JOIN req USING (doc_id)
        WHERE p.doc_id NOT IN (SELECT doc_id FROM ex)
        GROUP BY p.doc_id
        ORDER BY sum(s) DESC, p.doc_id LIMIT 10"""
    )
    # synonym expansion: group-max per (doc, group), then per-doc sum —
    # the perterm CTE keeps the term column so the CASE can bucket it
    syn_all = ", ".join(
        f"'{t}'"
        for t in sorted(
            set(SYN_QUERY.split()) | {t for g in SYN_GROUPS for t in g}
        )
    )
    syn_cases = " ".join(
        "WHEN term IN ({}) THEN '#g{}'".format(
            ", ".join(f"'{t}'" for t in sorted(set(g))), i
        )
        for i, g in enumerate(SYN_GROUPS)
    )
    syn_sql = (
        _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
          WHERE tf.term IN ({syn_all})
        ),
        g AS (
          SELECT doc_id,
                 CASE {syn_cases} ELSE term END AS grp,
                 max(s) AS gs
          FROM perterm GROUP BY 1, 2)
        SELECT doc_id, round(sum(gs), 4) AS score
        FROM g GROUP BY doc_id
        ORDER BY sum(gs) DESC, doc_id LIMIT 10"""
    )
    out = {
        "tf_table": _TOK + "SELECT doc_id, term, tf FROM tf",
        "df_stats": _TOK + "SELECT term, df FROM dfreq",
        "doclen": _TOK + "SELECT doc_id, dl FROM dl",
        "corpus_stats": _TOK
        + "SELECT n_docs, round(avgdl, 4) AS avgdl FROM stats",
        "bm25_topk": _TOK
        + bm25_3
        + """
        SELECT doc_id, round(sum(s), 4) AS score
        FROM perterm GROUP BY doc_id
        ORDER BY sum(s) DESC, doc_id LIMIT 10""",
        # X114 segment merge: merge == rebuild over the union corpus,
        # and the union IS the documents table, so scores are
        # bm25_topk's; only ids moved — segment A (even source ids)
        # keeps them, segment B (odd) lifts by max-even+1, and the
        # engine tie-breaks on the MERGED id
        # absorb: same scores as wand_merged, but the odd-id lift uses
        # append's base law (next shard_range multiple above max even)
        "wand_absorbed": _TOK
        + bm25_3
        + """
        , bmscore AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id),
        seg AS (
          -- n mirrors the segment build's meta n_docs: TOKEN-BEARING
          -- docs only (pipeline drops termless docs from the dl/stats
          -- count while max_doc_id spans the whole docs input), so the
          -- shard_range R = ceil(n/5) must come from tf, not documents
          SELECT count(DISTINCT doc_id)::BIGINT AS n
          FROM tf WHERE doc_id % 2 = 0),
        segmx AS (
          SELECT max(doc_id)::BIGINT AS mx
          FROM documents WHERE doc_id % 2 = 0),
        mshift AS (
          SELECT (((mx + ((n + 4) // 5)) // ((n + 4) // 5))
                   * ((n + 4) // 5))::BIGINT AS sh
          FROM seg CROSS JOIN segmx)
        SELECT CASE WHEN b.doc_id % 2 = 0 THEN b.doc_id
                    ELSE b.doc_id + m.sh END AS doc_id,
               round(b.score, 4) AS score
        FROM bmscore b CROSS JOIN mshift m
        ORDER BY b.score DESC, 1 LIMIT 10""",
        "wand_merged": _TOK
        + bm25_3
        + """
        , bmscore AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id),
        mshift AS (
          SELECT max(doc_id) + 1 AS sh FROM documents
          WHERE doc_id % 2 = 0)
        SELECT CASE WHEN b.doc_id % 2 = 0 THEN b.doc_id
                    ELSE b.doc_id + m.sh END AS doc_id,
               round(b.score, 4) AS score
        FROM bmscore b CROSS JOIN mshift m
        ORDER BY b.score DESC, 1 LIMIT 10""",
        # X101 hybrid RRF: rank each leg by its own serving order
        # (BM25 exact score / round-4 cosine, id-asc ties), fuse with
        # 1/(60+rank), round-6
        "hybrid_rrf": _TOK
        + bm25_3
        + f"""
        , bmscore AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id),
        sparse AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM bmscore QUALIFY r <= {HYBRID_CAND}),
        q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        cosd AS (
          SELECT vec_id AS doc_id,
                 round(
                   list_dot_product(embedding::DOUBLE[],
                                    (SELECT e FROM q)::DOUBLE[])
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product((SELECT e FROM q)::DOUBLE[],
                                              (SELECT e FROM q)::DOUBLE[]))),
                   4) AS cos
          FROM embeddings WHERE vec_id <> 0),
        dense AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY cos DESC, doc_id) AS r
          FROM cosd QUALIFY r <= {HYBRID_CAND}),
        fused AS (
          SELECT doc_id,
                 coalesce(1.0::DOUBLE / ({RRF_K0} + s.r), 0.0)
                 + coalesce(1.0::DOUBLE / ({RRF_K0} + d.r), 0.0) AS rrf
          FROM sparse s FULL OUTER JOIN dense d USING (doc_id))
        SELECT doc_id, round(rrf, 6) AS rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT {K}""",
        # X113 codec advisor: exact varint vs Elias-Fano byte laws
        "codec_advisor": _TOK
        + """
        , g AS (
          SELECT term,
                 doc_id - coalesce(
                   lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
                   -1) AS gap
          FROM tf),
        vsum AS (
          SELECT term,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4
                          ELSE 5 END)::BIGINT AS varint_bytes
          FROM g GROUP BY 1),
        st AS (
          SELECT term, count(*)::BIGINT AS n_postings,
                 max(doc_id)::BIGINT AS lastd
          FROM tf GROUP BY 1),
        law AS (
          SELECT term, n_postings, lastd,
                 CASE WHEN lastd + 1 > n_postings THEN greatest(0,
                   floor(log2((lastd + 1)::DOUBLE / n_postings))::BIGINT)
                 ELSE 0 END AS l
          FROM st),
        ef AS (
          SELECT term, n_postings,
                 (17
                  + CASE WHEN l > 0
                         THEN (n_postings * l + 7) // 8 ELSE 0 END
                  + ((lastd // (1::BIGINT << l)) + n_postings + 1 + 7)
                    // 8)::BIGINT AS ef_bytes
          FROM law)
        SELECT ef.term, ef.n_postings, vsum.varint_bytes, ef.ef_bytes,
               CASE WHEN ef.ef_bytes < vsum.varint_bytes
                    THEN 'elias_fano' ELSE 'varint' END AS winner
        FROM ef JOIN vsum USING (term)""",
        # X115 QtfDf static cache admission: qtf from the % 7 == 0
        # query-log law, cost = the X113 varint byte law, greedy
        # running-byte scan over (ratio DESC, term) cut at the budget
        "cache_admission": _TOK
        + f"""
        , g AS (
          SELECT term,
                 doc_id - coalesce(
                   lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
                   -1) AS gap
          FROM tf),
        vsum AS (
          SELECT term,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4
                          ELSE 5 END)::BIGINT AS bytes
          FROM g GROUP BY 1),
        qt AS (
          SELECT term, sum(tf)::BIGINT AS qtf FROM tf
          WHERE doc_id % 7 = 0 GROUP BY 1),
        base AS (
          SELECT qt.term, qt.qtf, dfreq.df, vsum.bytes,
                 qt.qtf::DOUBLE / dfreq.df AS ratio
          FROM qt JOIN dfreq USING (term) JOIN vsum USING (term)),
        scan AS (
          SELECT *, sum(bytes) OVER (
                   ORDER BY ratio DESC, term
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )::BIGINT AS cum_bytes
          FROM base),
        tot AS (SELECT sum(bytes)::BIGINT AS t FROM base)
        SELECT term, qtf, df, round(ratio, 6) AS ratio, bytes, cum_bytes
        FROM scan CROSS JOIN tot
        WHERE cum_bytes <= tot.t * {CACHE_ADMIT_FRAC}
        ORDER BY ratio DESC, term""",
        # X109 Moffat-Zobel quit/continue, term-granular: a doc is a
        # candidate iff docs first reached by EARLIER (rarer) terms
        # number < the accumulator limit; candidates score in full
        "taat_quit_topk": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
          WHERE tf.term IN ({terms3})),
        tord AS (
          SELECT term, row_number() OVER (ORDER BY df, term) - 1 AS ord
          FROM dfreq WHERE term IN ({terms3})),
        firstt AS (
          SELECT p.doc_id, min(t.ord) AS j
          FROM perterm p JOIN tord t USING (term) GROUP BY 1),
        steps AS (SELECT j, count(*) AS n FROM firstt GROUP BY 1),
        cum AS (
          SELECT j, coalesce(sum(n) OVER (ORDER BY j
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS before
          FROM steps),
        cand AS (
          SELECT f.doc_id FROM firstt f
          JOIN cum USING (j) WHERE cum.before < {ACC_LIMIT}),
        scored AS (
          SELECT p.doc_id, sum(p.s) AS score
          FROM perterm p JOIN cand USING (doc_id) GROUP BY 1)
        SELECT doc_id, round(score, 4) AS score FROM scored
        ORDER BY score DESC, doc_id LIMIT {K}""",
        # X101 N-leg form: + a Dirichlet-QL leg (selected top-30 on the
        # unrounded score, ranked on the returned round-4 values — the
        # exact law of rank_leg over ql_dirichlet_topk's output)
        "hybrid_rrf3": _TOK
        + bm25_3
        + f"""
        , bmscore AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id),
        sparse AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM bmscore QUALIFY r <= {HYBRID_CAND}),
        q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        cosd AS (
          SELECT vec_id AS doc_id,
                 round(
                   list_dot_product(embedding::DOUBLE[],
                                    (SELECT e FROM q)::DOUBLE[])
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product((SELECT e FROM q)::DOUBLE[],
                                              (SELECT e FROM q)::DOUBLE[]))),
                   4) AS cos
          FROM embeddings WHERE vec_id <> 0),
        dense AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY cos DESC, doc_id) AS r
          FROM cosd QUALIFY r <= {HYBRID_CAND}),
        tot AS (SELECT sum(dl)::DOUBLE AS T FROM dl),
        cfq AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
                WHERE term IN ({terms3}) GROUP BY term),
        candq AS (SELECT DISTINCT doc_id FROM tf
                  WHERE term IN ({terms3})),
        gridq AS (SELECT candq.doc_id, cfq.term, cfq.cf
                  FROM candq CROSS JOIN cfq),
        scoredq AS (
          SELECT g.doc_id,
                 sum(ln((coalesce(tf.tf, 0) + {QL_MU} * g.cf / tot.T)
                        / (dl.dl + {QL_MU}))) AS score
          FROM gridq g
          LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
          JOIN dl ON dl.doc_id = g.doc_id
          CROSS JOIN tot
          GROUP BY g.doc_id),
        qlsel AS (
          SELECT doc_id, round(score, 4) AS rs,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS sel
          FROM scoredq QUALIFY sel <= {HYBRID_CAND}),
        qlleg AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY rs DESC, doc_id) AS r
          FROM qlsel),
        contribs AS (
          SELECT doc_id, 1.0::DOUBLE / ({RRF_K0} + r) AS c FROM sparse
          UNION ALL
          SELECT doc_id, 1.0::DOUBLE / ({RRF_K0} + r) AS c FROM dense
          UNION ALL
          SELECT doc_id, 1.0::DOUBLE / ({RRF_K0} + r) AS c FROM qlleg)
        SELECT doc_id, round(sum(c), 6) AS rrf FROM contribs
        GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT {K}""",
        # X102: global 8-bit linear impact quantization, integer serving
        "quantized_topk": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        mx AS (SELECT max(s) AS m FROM perterm),
        qq AS (
          SELECT doc_id, term,
                 least(255, floor(s / mx.m * 256.0))::BIGINT AS q
          FROM perterm CROSS JOIN mx)
        SELECT doc_id, sum(q)::BIGINT AS qscore FROM qq
        WHERE term IN ({terms3})
        GROUP BY doc_id ORDER BY qscore DESC, doc_id LIMIT {K}""",
        # X116 anytime / JASS: the SAME quantization law, but only the
        # first ANYTIME_RHO postings in (q DESC, term, doc_id) order
        # are allowed to contribute
        "anytime_topk": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        mx AS (SELECT max(s) AS m FROM perterm),
        qq AS (
          SELECT doc_id, term,
                 least(255, floor(s / mx.m * 256.0))::BIGINT AS q
          FROM perterm CROSS JOIN mx),
        ordered AS (
          SELECT doc_id, q,
                 row_number() OVER (ORDER BY q DESC, term, doc_id) AS rn
          FROM qq WHERE term IN ({terms3}))
        SELECT doc_id, sum(q)::BIGINT AS qscore FROM ordered
        WHERE rn <= {ANYTIME_RHO}
        GROUP BY doc_id ORDER BY qscore DESC, doc_id LIMIT {K}""",
        # X116 quality-vs-budget curve: overlap@K with the exhaustive
        # quantized top-K at each rho
        "anytime_tradeoff": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        mx AS (SELECT max(s) AS m FROM perterm),
        qq AS (
          SELECT doc_id, term,
                 least(255, floor(s / mx.m * 256.0))::BIGINT AS q
          FROM perterm CROSS JOIN mx
          WHERE term IN ({terms3})),
        ordered AS (
          SELECT doc_id, q,
                 row_number() OVER (ORDER BY q DESC, term, doc_id) AS rn
          FROM qq),
        exact AS (
          SELECT doc_id FROM (
            SELECT doc_id, sum(q) AS qs FROM qq GROUP BY doc_id
            ORDER BY qs DESC, doc_id LIMIT {K})),
        legs AS (
          SELECT rho FROM (VALUES {", ".join(f"({r})" for r in sorted(ANYTIME_RHOS))}) v(rho)),
        curve AS (
          SELECT legs.rho::BIGINT AS rho,
                 (SELECT count(*) FROM (
                    SELECT doc_id FROM (
                      SELECT doc_id, sum(q) AS qs FROM ordered
                      WHERE rn <= legs.rho GROUP BY doc_id
                      ORDER BY qs DESC, doc_id LIMIT {K}) a
                    JOIN exact USING (doc_id)))::BIGINT AS n_hit
          FROM legs)
        SELECT rho, n_hit, round(n_hit / {K}.0, 4) AS overlap
        FROM curve ORDER BY rho""",
        # X111 truncated RBO@20 between exact BM25 and the quantized
        # integer ranking — both rankings recomputed in SQL
        "quant_rbo": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        mx AS (SELECT max(s) AS m FROM perterm),
        qq AS (
          SELECT doc_id, term,
                 least(255, floor(s / mx.m * 256.0))::BIGINT AS q
          FROM perterm CROSS JOIN mx),
        exact AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS ra
          FROM (SELECT doc_id, sum(s) AS score FROM perterm
                WHERE term IN ({terms3}) GROUP BY 1)
          QUALIFY ra <= {RBO_K}),
        quant AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY qscore DESC, doc_id) AS rb
          FROM (SELECT doc_id, sum(q) AS qscore FROM qq
                WHERE term IN ({terms3}) GROUP BY 1)
          QUALIFY rb <= {RBO_K}),
        dd AS (SELECT unnest(generate_series(1, {RBO_K})) AS d),
        jj AS (SELECT e.doc_id, e.ra, q.rb
               FROM exact e JOIN quant q USING (doc_id)),
        ov AS (
          SELECT dd.d, count(jj.doc_id) AS ov
          FROM dd LEFT JOIN jj ON jj.ra <= dd.d AND jj.rb <= dd.d
          GROUP BY 1)
        SELECT {RBO_K}::BIGINT AS k, round(0.9::DOUBLE, 4) AS p,
               round(sum((1 - 0.9::DOUBLE) * pow(0.9::DOUBLE, d - 1)
                         * ov / d), 6) AS rbo
        FROM ov""",
        "quant_error": _TOK
        + """
        , perterm AS (
          SELECT tf.doc_id, tf.term,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        mx AS (SELECT max(s) AS m FROM perterm),
        e AS (
          SELECT abs(s - (least(255, floor(s / mx.m * 256.0)) + 0.5)
                       * mx.m / 256.0) AS err
          FROM perterm CROSS JOIN mx)
        SELECT count(*)::BIGINT AS n_postings,
               round(max(err), 6) AS max_err,
               round(avg(err), 6) AS mean_err
        FROM e""",
        # X106 query-likelihood Dirichlet: candidates = any-term match,
        # every query term contributes its smoothing mass
        "ql_topk": _TOK
        + f"""
        , tot AS (SELECT sum(dl)::DOUBLE AS T FROM dl),
        cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
               WHERE term IN ({terms3}) GROUP BY term),
        cand AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({terms3})),
        grid AS (SELECT cand.doc_id, cf.term, cf.cf
                 FROM cand CROSS JOIN cf),
        scored AS (
          SELECT g.doc_id,
                 sum(ln((coalesce(tf.tf, 0) + {QL_MU} * g.cf / tot.T)
                        / (dl.dl + {QL_MU}))) AS score
          FROM grid g
          LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
          JOIN dl ON dl.doc_id = g.doc_id
          CROSS JOIN tot
          GROUP BY g.doc_id)
        SELECT doc_id, round(score, 4) AS score FROM scored
        ORDER BY score DESC, doc_id LIMIT {K}""",
        "ql_jm_topk": _TOK
        + f"""
        , tot AS (SELECT sum(dl)::DOUBLE AS T FROM dl),
        cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
               WHERE term IN ({terms3}) GROUP BY term),
        cand AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({terms3})),
        grid AS (SELECT cand.doc_id, cf.term, cf.cf
                 FROM cand CROSS JOIN cf),
        scored AS (
          SELECT g.doc_id,
                 sum(ln(0.9::DOUBLE * coalesce(tf.tf, 0) / dl.dl
                        + 0.1::DOUBLE * g.cf / tot.T)) AS score
          FROM grid g
          LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
          JOIN dl ON dl.doc_id = g.doc_id
          CROSS JOIN tot
          GROUP BY g.doc_id)
        SELECT doc_id, round(score, 4) AS score FROM scored
        ORDER BY score DESC, doc_id LIMIT {K}""",
        # X103 LRU reuse distances: d = rows in the gap that are the
        # last occurrence of their key before the probe; hit iff d < C
        "cache_hit_rates": f"""
        WITH log AS (
          SELECT event_id AS pos, CAST(user_id AS VARCHAR) AS key
          FROM events),
        linked AS (
          SELECT pos, key,
                 lag(pos) OVER (PARTITION BY key ORDER BY pos) AS prev,
                 lead(pos) OVER (PARTITION BY key ORDER BY pos) AS nxt
          FROM log),
        mx AS (SELECT max(pos) + 1 AS fin FROM log),
        probes AS (SELECT pos, prev FROM linked WHERE prev IS NOT NULL),
        cover AS (SELECT l.pos AS lo, coalesce(l.nxt, mx.fin) AS hi
                  FROM linked l CROSS JOIN mx),
        pairs AS (
          SELECT p.pos, count(*) AS d
          FROM probes p JOIN cover r
            ON r.lo > p.prev AND r.lo < p.pos AND r.hi >= p.pos
          GROUP BY p.pos),
        dists AS (
          SELECT coalesce(pr.d, 0) AS d
          FROM probes p LEFT JOIN pairs pr ON pr.pos = p.pos
          UNION ALL
          SELECT NULL::BIGINT AS d FROM linked WHERE prev IS NULL),
        tot AS (
          SELECT count(*)::BIGINT AS accesses,
                 {", ".join(
                     f"sum(CASE WHEN d < {c} THEN 1 ELSE 0 END)::BIGINT"
                     f" AS h{c}"
                     for c in CACHE_SIZES
                 )}
          FROM dists)
        {" UNION ALL ".join(
            f"SELECT {c}::BIGINT AS cache_size, h{c} AS hits, accesses,"
            f" round(h{c}::DOUBLE / accesses, 4) AS hit_rate FROM tot"
            for c in CACHE_SIZES
        )}""",
        # X104 doc-id reorder gain: varint byte law on per-term gaps
        # under crawl-order ids vs (text, doc_id)-ranked ids
        "docid_reorder_gain": _TOK
        + """
        , ranked AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY text, doc_id) - 1 AS new_id
          FROM documents),
        base_g AS (
          SELECT doc_id - coalesce(
                   lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id),
                   -1) AS gap
          FROM tf),
        alt AS (SELECT tf.term, r.new_id FROM tf
                JOIN ranked r USING (doc_id)),
        alt_g AS (
          SELECT new_id - coalesce(
                   lag(new_id) OVER (PARTITION BY term ORDER BY new_id),
                   -1) AS gap
          FROM alt),
        law_a AS (
          SELECT count(*)::BIGINT AS n_postings,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4
                          ELSE 5 END)::BIGINT AS total_bytes
          FROM base_g),
        law_b AS (
          SELECT count(*)::BIGINT AS n_postings,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4
                          ELSE 5 END)::BIGINT AS total_bytes
          FROM alt_g)
        SELECT 'crawl_order' AS ordering, n_postings, total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4)
                 AS bytes_per_posting
        FROM law_a
        UNION ALL
        SELECT 'content_sort', n_postings, total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4)
        FROM law_b""",
        # X104 x X113: both codecs under both orderings (EF law is the
        # codec_advisor closed form, per term, totalled)
        "docid_reorder_codecs": _TOK
        + """
        , ranked AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY text, doc_id) - 1 AS new_id
          FROM documents),
        alt AS (SELECT tf.term, r.new_id AS doc_id FROM tf
                JOIN ranked r USING (doc_id)),
        base AS (SELECT term, doc_id FROM tf),
        vb_base AS (
          SELECT count(*)::BIGINT AS n_postings,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4 ELSE 5
                     END)::BIGINT AS total_bytes
          FROM (SELECT doc_id - coalesce(lag(doc_id) OVER
                  (PARTITION BY term ORDER BY doc_id), -1) AS gap
                FROM base)),
        vb_alt AS (
          SELECT count(*)::BIGINT AS n_postings,
                 sum(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
                          WHEN gap < 2097152 THEN 3
                          WHEN gap < 268435456 THEN 4 ELSE 5
                     END)::BIGINT AS total_bytes
          FROM (SELECT doc_id - coalesce(lag(doc_id) OVER
                  (PARTITION BY term ORDER BY doc_id), -1) AS gap
                FROM alt)),
        ef_base AS (
          SELECT sum(n)::BIGINT AS n_postings, sum(b)::BIGINT AS total_bytes
          FROM (
            SELECT n,
                   17 + CASE WHEN l > 0 THEN (n * l + 7) // 8 ELSE 0 END
                      + ((lastd // (1::BIGINT << l)) + n + 1 + 7) // 8 AS b
            FROM (
              SELECT n, lastd,
                     CASE WHEN lastd + 1 > n THEN greatest(0,
                       floor(log2((lastd + 1)::DOUBLE / n))::BIGINT)
                     ELSE 0 END AS l
              FROM (SELECT count(*)::BIGINT AS n,
                           max(doc_id)::BIGINT AS lastd
                    FROM base GROUP BY term)))),
        ef_alt AS (
          SELECT sum(n)::BIGINT AS n_postings, sum(b)::BIGINT AS total_bytes
          FROM (
            SELECT n,
                   17 + CASE WHEN l > 0 THEN (n * l + 7) // 8 ELSE 0 END
                      + ((lastd // (1::BIGINT << l)) + n + 1 + 7) // 8 AS b
            FROM (
              SELECT n, lastd,
                     CASE WHEN lastd + 1 > n THEN greatest(0,
                       floor(log2((lastd + 1)::DOUBLE / n))::BIGINT)
                     ELSE 0 END AS l
              FROM (SELECT count(*)::BIGINT AS n,
                           max(doc_id)::BIGINT AS lastd
                    FROM alt GROUP BY term))))
        SELECT 'crawl_order' AS ordering, 'varint' AS codec, n_postings,
               total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4)
                 AS bytes_per_posting
        FROM vb_base
        UNION ALL SELECT 'content_sort', 'varint', n_postings, total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4) FROM vb_alt
        UNION ALL SELECT 'crawl_order', 'elias_fano', n_postings,
               total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4) FROM ef_base
        UNION ALL SELECT 'content_sort', 'elias_fano', n_postings,
               total_bytes,
               round(total_bytes::DOUBLE / n_postings, 4) FROM ef_alt""",
        # X105 bursts: hourly counts, trailing-24h z-score, flag z > 2
        "query_bursts": """
        WITH hourly AS (
          SELECT ((epoch_ms(ts) // 1000) // 3600) * 3600 AS hour_start,
                 event_type, count(*)::BIGINT AS n
          FROM events GROUP BY 1, 2),
        scored AS (
          SELECT event_type, hour_start, n,
                 avg(n) OVER w AS mu,
                 stddev_samp(n) OVER w AS sd,
                 count(*) OVER w AS hist
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT event_type, hour_start::BIGINT AS hour_start,
               n::BIGINT AS n,
               round((n - mu) / greatest(sd, 1.0), 2) AS z
        FROM scored
        WHERE hist >= 12 AND sd IS NOT NULL
          AND (n - mu) / greatest(sd, 1.0) > 2.0""",
        # score explain: bm25_topk's winners with the per-term formula
        # decomposition (same cut law, so the doc set is identical)
        "bm25_explain": _TOK
        + f"""
        , perterm AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5)
                        / (dfreq.df + 0.5)) AS idf,
                 ln(1 + (stats.n_docs - dfreq.df + 0.5)
                        / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
                   AS s
          FROM tf
          JOIN dfreq USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
          WHERE tf.term IN ({", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))})
        ),
        top AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id
          ORDER BY sum(s) DESC, doc_id LIMIT {K}
        )
        SELECT p.doc_id, p.term, p.tf, p.df, p.dl,
               round(p.idf, 6) AS idf, round(p.s, 4) AS contrib,
               round(t.score, 4) AS score
        FROM perterm p JOIN top t USING (doc_id)""",
        # fsck: the numeric audit columns recomputed from the corpus
        # law; every invariant flag must come back 1
        "index_fsck": _TOK
        + """
        SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
               (SELECT count(*) FROM dfreq)::BIGINT AS n_terms,
               (SELECT count(*) FROM tf)::BIGINT AS n_postings,
               (SELECT max(doc_id) FROM dl)::BIGINT AS max_posting_doc_id,
               0::BIGINT AS n_tombstones,
               1::BIGINT AS dirs_ok, 1::BIGINT AS stats_ok,
               1::BIGINT AS ids_ok, 1::BIGINT AS pairs_ok,
               1::BIGINT AS dl_ok, 1::BIGINT AS n_docs_ok,
               1::BIGINT AS tombstones_ok, 1::BIGINT AS snapshot_ok""",
        "bm25_page2": _TOK
        + bm25_3
        + """
        SELECT doc_id, round(sum(s), 4) AS score
        FROM perterm GROUP BY doc_id
        ORDER BY sum(s) DESC, doc_id LIMIT 10 OFFSET 10""",
        # keyset pagination: rounded-score law, cursor = page-1 tail,
        # resume predicate mirrors textops.keyset_page exactly
        "bm25_after": _TOK
        + bm25_3
        + f"""
        , scored AS (
          SELECT doc_id, round(sum(s), 4) AS score
          FROM perterm GROUP BY doc_id
        ),
        p1 AS (SELECT * FROM scored
               ORDER BY score DESC, doc_id LIMIT {K}),
        cur AS (SELECT score AS cs, doc_id AS cd FROM p1
                ORDER BY score ASC, doc_id DESC LIMIT 1)
        SELECT s.doc_id, s.score
        FROM scored s, cur
        WHERE s.score < cur.cs
           OR (s.score = cur.cs AND s.doc_id > cur.cd)
        ORDER BY s.score DESC, s.doc_id LIMIT {K}""",
        "bm25_boolean": bool_sql,
        "wand_boolean": bool_sql,
        "bm25_synonyms": syn_sql,
        "wand_synonyms": syn_sql,
        "bm25_conjunctive": _TOK
        + bm25_2
        + f"""
        SELECT doc_id, round(sum(s), 4) AS score
        FROM perterm GROUP BY doc_id
        HAVING count(*) = {len(BM25_CONJ_QUERY)}
        ORDER BY sum(s) DESC, doc_id LIMIT 10""",
        # body BM25 + 0.5 x anchor-field BM25 (b=0, anchor-df idf, full
        # outer combine) — anchor counts re-derived from the link law
        "bm25f_anchor": _TOK
        + bm25_3
        + f"""
        , nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        ae AS (
          SELECT (d.doc_id * 2 + 1) % nn.n AS doc_id,
                 CASE d.doc_id % 3 WHEN 0 THEN '{BM25_QUERY[0]}'
                      WHEN 1 THEN '{BM25_QUERY[1]}'
                      ELSE '{BM25_QUERY[2]}' END AS term
          FROM documents d, nn),
        atf AS (SELECT doc_id, term, count(*)::BIGINT AS atf
                FROM ae GROUP BY 1, 2),
        adf AS (SELECT term, count(*)::BIGINT AS adf FROM atf
                WHERE term IN ({terms3}) GROUP BY 1),
        aper AS (
          SELECT atf.doc_id,
                 ln(1 + (stats.n_docs - adf.adf + 0.5) / (adf.adf + 0.5))
                   * atf.atf * 2.2 / (atf.atf + 1.2) AS s
          FROM atf JOIN adf USING (term) CROSS JOIN stats
          WHERE atf.term IN ({terms3})),
        bsum AS (SELECT doc_id, sum(s) AS b FROM perterm GROUP BY 1),
        asum AS (SELECT doc_id, sum(s) AS a FROM aper GROUP BY 1)
        SELECT coalesce(bsum.doc_id, asum.doc_id) AS doc_id,
               round(coalesce(b, 0) + 0.5 * coalesce(a, 0), 4) AS score
        FROM bsum FULL OUTER JOIN asum ON bsum.doc_id = asum.doc_id
        ORDER BY 2 DESC, 1 LIMIT 10""",
        # site-collapsed ranking: top-50 candidates, <= 2 per host,
        # global top-10 (host from the synth url law)
        "search_collapsed": _TOK
        + bm25_3
        + f"""
        , r AS (
          SELECT doc_id, sum(s) AS score FROM perterm GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT 50),
        u AS (SELECT doc_id, {_SYNTH_URL_EXPR} AS url,
                     {_SYNTH_HOST_EXPR} AS host
              FROM documents),
        rr AS (
          SELECT r.doc_id, u.url, r.score,
                 row_number() OVER (PARTITION BY u.host
                                    ORDER BY r.score DESC, r.doc_id) AS rn
          FROM r JOIN u USING (doc_id))
        SELECT doc_id, url, round(score, 4) AS score FROM rr
        WHERE rn <= 2 ORDER BY score DESC, doc_id LIMIT 10""",
        # WAND over compressed shards must reproduce exhaustive BM25
        "wand_topk": _TOK
        + bm25_3
        + """
        SELECT doc_id, round(sum(s), 4) AS score
        FROM perterm GROUP BY doc_id
        ORDER BY sum(s) DESC, doc_id LIMIT 10""",
        # Clarity QPP: retrieval + relevance/corpus language models +
        # KL sum, all from the same tf law
        "clarity_score": _TOK
        + bm25_3
        + """,
        topk AS (
          SELECT doc_id FROM perterm GROUP BY doc_id
          ORDER BY sum(s) DESC, doc_id LIMIT 10),
        kk AS (SELECT count(*)::DOUBLE AS k FROM topk),
        cm AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
        tot AS (SELECT sum(tf)::DOUBLE AS t FROM tf),
        rel AS (
          SELECT tf.term, sum(tf.tf::DOUBLE / dl.dl) AS s
          FROM tf JOIN topk USING (doc_id) JOIN dl USING (doc_id)
          GROUP BY tf.term),
        pr AS (SELECT term, s / kk.k AS pwr FROM rel, kk)
        SELECT round(sum(pwr * ln(pwr / (cf / tot.t))), 4) AS clarity
        FROM pr JOIN cm USING (term), tot""",
        "wand_conjunctive": _TOK
        + bm25_2
        + f"""
        SELECT doc_id, round(sum(s), 4) AS score
        FROM perterm GROUP BY doc_id
        HAVING count(*) = {len(BM25_CONJ_QUERY)}
        ORDER BY sum(s) DESC, doc_id LIMIT 10""",
        "postings_strings": _TOK
        + """
        SELECT term, count(*)::BIGINT AS df,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS posting
        FROM tf GROUP BY term""",
        # corpus laws: integer decile arithmetic + closed-form ln-ln
        # least squares, identical aggregates on both engines; the four
        # fit sums use the fixed-point BIGINT law (2^20 scale, as in
        # corpuslaws.FP_SCALE) so neither engine's order can move them
        "vocab_growth": _TOK
        + """,
        n AS (SELECT count(*)::BIGINT AS n FROM documents),
        first AS (SELECT term, min(doc_id) AS fd FROM tf GROUP BY term),
        ks AS (SELECT unnest(range(1, 11)) AS decile),
        vper AS (
          SELECT (fd * 10 // n.n) + 1 AS d, count(*)::BIGINT AS c
          FROM first, n GROUP BY 1),
        tper AS (
          SELECT (doc_id * 10 // n.n) + 1 AS d, sum(tf)::BIGINT AS c
          FROM tf, n GROUP BY 1)
        SELECT ks.decile,
          (ks.decile * n.n + 9) // 10 AS docs_prefix,
          (SELECT coalesce(sum(c), 0) FROM tper
           WHERE d <= ks.decile)::BIGINT AS tokens_prefix,
          (SELECT coalesce(sum(c), 0) FROM vper
           WHERE d <= ks.decile)::BIGINT AS vocab_prefix
        FROM ks, n""",
        "heaps_fit": _TOK
        + """,
        n AS (SELECT count(*)::BIGINT AS n FROM documents),
        first AS (SELECT term, min(doc_id) AS fd FROM tf GROUP BY term),
        ks AS (SELECT unnest(range(1, 11)) AS decile),
        vper AS (
          SELECT (fd * 10 // n.n) + 1 AS d, count(*)::BIGINT AS c
          FROM first, n GROUP BY 1),
        tper AS (
          SELECT (doc_id * 10 // n.n) + 1 AS d, sum(tf)::BIGINT AS c
          FROM tf, n GROUP BY 1),
        g AS (
          SELECT
            (SELECT coalesce(sum(c), 0) FROM tper WHERE d <= ks.decile)
              AS t,
            (SELECT coalesce(sum(c), 0) FROM vper WHERE d <= ks.decile)
              AS v
          FROM ks),
        pts AS (
          SELECT ln(t::DOUBLE) AS lx, ln(v::DOUBLE) AS ly
          FROM g WHERE t > 0 AND v > 0),
        a AS (
          SELECT count(*)::DOUBLE AS m,
            sum(floor(lx * 1048576.0 + 0.5)::BIGINT)::DOUBLE / 1048576.0
              AS sx,
            sum(floor(ly * 1048576.0 + 0.5)::BIGINT)::DOUBLE / 1048576.0
              AS sy,
            sum(floor(lx * ly * 1048576.0 + 0.5)::BIGINT)::DOUBLE
              / 1048576.0 AS sxy,
            sum(floor(lx * lx * 1048576.0 + 0.5)::BIGINT)::DOUBLE
              / 1048576.0 AS sxx
          FROM pts)
        SELECT
          round((m * sxy - sx * sy) / (m * sxx - sx * sx), 4)
            AS heaps_beta,
          round(exp((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx)
                     * sx) / m), 4) AS heaps_k
        FROM a""",
        "zipf_slope": _TOK
        + """,
        cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
        rk AS (
          SELECT cf, row_number() OVER (ORDER BY cf DESC, term) AS rank
          FROM cf QUALIFY rank <= 100),
        pts AS (
          SELECT ln(rank::DOUBLE) AS lx, ln(cf::DOUBLE) AS ly FROM rk),
        a AS (
          SELECT count(*)::DOUBLE AS m,
            sum(floor(lx * 1048576.0 + 0.5)::BIGINT)::DOUBLE / 1048576.0
              AS sx,
            sum(floor(ly * 1048576.0 + 0.5)::BIGINT)::DOUBLE / 1048576.0
              AS sy,
            sum(floor(lx * ly * 1048576.0 + 0.5)::BIGINT)::DOUBLE
              / 1048576.0 AS sxy,
            sum(floor(lx * lx * 1048576.0 + 0.5)::BIGINT)::DOUBLE
              / 1048576.0 AS sxx
          FROM pts)
        SELECT round((m * sxy - sx * sy) / (m * sxx - sx * sx), 4)
          AS zipf_slope
        FROM a""",
        # both codec columns must equal the true posting list
        "postings_codec": _TOK
        + """
        SELECT term, count(*)::BIGINT AS df,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                 AS posting_s8b,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                 AS posting_ef
        FROM tf GROUP BY term""",
        "top_terms": _TOK
        + """
        SELECT term, sum(tf)::BIGINT AS cf, count(*)::BIGINT AS df
        FROM tf GROUP BY term ORDER BY cf DESC, term LIMIT 20""",
        "scan_search": f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE contains(text, '{SCAN_NEEDLE}')""",
        "snippet": f"""
        SELECT doc_id,
               substr(text, greatest(strpos(text, '{SNIPPET_TERM}') - 40, 1),
                      80) AS snip
        FROM documents WHERE strpos(text, '{SNIPPET_TERM}') > 0""",
        "replica_groups": """
        SELECT md5(text) AS fp, count(*)::BIGINT AS n_docs,
               min(doc_id) AS keeper
        FROM documents GROUP BY 1 HAVING count(*) > 1""",
        # mirror hosts: mirror-law synthesis + the Bharat-Broder
        # containment join (distinct per-host fingerprints, hot-fp cap
        # 256, overlap = shared/min sizes) mirrored exactly
        "mirror_hosts": (
            _SYNTH_URLS_SQL.rstrip()
            + """,
        pages AS (
          SELECT s.url, d.text
          FROM synth s JOIN documents d USING (doc_id)
          UNION ALL
          SELECT 'http://m' || (doc_id % 97)::VARCHAR
                 || '.example.net/p/' || doc_id::VARCHAR, text
          FROM documents WHERE doc_id % 2 = 0),
        hf AS (
          SELECT DISTINCT
                 regexp_extract(url, 'http://([^/]+)/', 1) AS h,
                 md5(text) AS fp
          FROM pages),
        sizes AS (SELECT h, count(*)::BIGINT AS n_fp FROM hf GROUP BY h),
        hfc AS (
          SELECT * FROM hf
          WHERE fp IN (SELECT fp FROM hf GROUP BY fp
                       HAVING count(*) <= 256)),
        pairs AS (
          SELECT a.h AS host_a, b.h AS host_b, count(*)::BIGINT AS shared
          FROM hfc a JOIN hfc b ON a.fp = b.fp AND a.h < b.h
          GROUP BY 1, 2),
        j AS (
          SELECT host_a, host_b, shared,
                 sa.n_fp AS size_a, sb.n_fp AS size_b,
                 round(shared / least(sa.n_fp, sb.n_fp), 6) AS overlap
          FROM pairs
          JOIN sizes sa ON sa.h = pairs.host_a
          JOIN sizes sb ON sb.h = pairs.host_b)
        SELECT host_a, host_b, shared, size_a, size_b, overlap
        FROM j WHERE shared >= 1 AND overlap >= 0.5"""
        ),
        "doc_fingerprint": """
        SELECT doc_id, md5(lower(text)) AS fp FROM documents""",
        "token_count": _TOK_ALL
        + """
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               count(DISTINCT term)::BIGINT AS n_distinct
        FROM tok GROUP BY doc_id""",
        "quality_score": _TOK_ALL
        + """
        , agg AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 avg(CASE WHEN term IN ('the','a','of','and','to')
                     THEN 1 ELSE 0 END) AS sr,
                 avg(strlen(term)) AS al
          FROM tok GROUP BY doc_id)
        SELECT doc_id, n_tokens, round(sr, 4) AS stop_ratio,
               round(al, 4) AS avg_token_len,
               round(least(n_tokens / 100.0, 1.0) * (0.5 + sr), 4) AS quality
        FROM agg""",
        "lang_id": _TOK_ALL
        + """
        , hits AS (
          SELECT doc_id,
            sum(CASE WHEN term IN ('der','die','und','das','ein')
                THEN 1 ELSE 0 END)::BIGINT AS h_de,
            sum(CASE WHEN term IN ('the','a','of','and','to')
                THEN 1 ELSE 0 END)::BIGINT AS h_en,
            sum(CASE WHEN term IN ('el','la','de','que','los')
                THEN 1 ELSE 0 END)::BIGINT AS h_es
          FROM tok GROUP BY doc_id)
        SELECT doc_id,
          CASE WHEN greatest(h_de, h_en, h_es) = 0 THEN 'unknown'
               WHEN h_de = greatest(h_de, h_en, h_es) THEN 'de'
               WHEN h_en = greatest(h_de, h_en, h_es) THEN 'en'
               ELSE 'es' END AS lang_guess
        FROM hits""",
        "shingle_count": """
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(arr) - 1),
                        i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
                 AS shingle
          FROM arrs WHERE len(arr) >= 3)
        SELECT doc_id, count(*)::BIGINT AS n_shingles
        FROM sh GROUP BY doc_id""",
        "decontaminate": """
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(arr) - 3),
                        i -> arr[i] || ' ' || arr[i+1] || ' ' ||
                             arr[i+2] || ' ' || arr[i+3] || ' ' ||
                             arr[i+4])) AS g
          FROM arrs WHERE len(arr) >= 5),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        train AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
        per_doc AS (
          SELECT doc_id, count(*)::BIGINT AS n_grams
          FROM train GROUP BY 1),
        hits AS (
          SELECT t.doc_id, count(*)::BIGINT AS n_contaminated
          FROM train t JOIN bench b ON t.g = b.g GROUP BY 1)
        SELECT h.doc_id, p.n_grams, h.n_contaminated,
               round(h.n_contaminated / p.n_grams::DOUBLE, 6)
                 AS contam_frac
        FROM hits h JOIN per_doc p USING (doc_id)""",
        "mix_sample": """
        WITH t AS (
          SELECT source,
                 ('0x' || substr(md5('mix_v1:' || doc_id::VARCHAR), 1, 8))
                   ::BIGINT AS u,
                 ((CAST(substr(source, 4) AS INT) % 4) + 1) / 4.0 AS rate
          FROM documents)
        SELECT source, count(*)::BIGINT AS n_total,
               sum(CASE WHEN u < rate * 4294967296.0 THEN 1 ELSE 0 END)
                 ::BIGINT AS n_kept,
               round(max(rate), 6) AS target_rate,
               round(sum(CASE WHEN u < rate * 4294967296.0
                              THEN 1 ELSE 0 END)
                     / count(*)::DOUBLE, 6) AS observed_rate
        FROM t GROUP BY source""",
        # count-min sketch accuracy report: exact top-10 vs min-over-
        # rows bucket counts; same salted md5 bucket law both engines
        "cms_heavy_hitters": """
        WITH tok0 AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
          FROM documents),
        tok AS (SELECT doc_id, term FROM tok0
                WHERE strlen(term) BETWEEN 2 AND 8),
        ex AS (
          SELECT term, count(*)::BIGINT AS exact_n
          FROM tok GROUP BY 1
          ORDER BY exact_n DESC, term LIMIT 10),
        d AS (SELECT unnest(range(0, 4)) AS j),
        sk AS (
          SELECT d.j,
                 ('0x' || substr(md5('cms' || d.j::VARCHAR || ':'
                                     || tok.term), 1, 8))::BIGINT % 256
                   AS bucket,
                 count(*)::BIGINT AS n
          FROM tok CROSS JOIN d
          GROUP BY 1, 2),
        est AS (
          SELECT ex.term, min(sk.n) AS est_n
          FROM ex CROSS JOIN d
          JOIN sk ON sk.j = d.j
                 AND sk.bucket = ('0x' || substr(md5('cms'
                       || d.j::VARCHAR || ':' || ex.term), 1, 8))
                       ::BIGINT % 256
          GROUP BY 1)
        SELECT ex.term, ex.exact_n, est.est_n,
               (est.est_n - ex.exact_n)::BIGINT AS overcount
        FROM ex JOIN est USING (term)""",
        # KMV sketch: k smallest distinct 60-bit hashes; est =
        # (k-1) * 2^60 / h_k, half-up — sketches.kmv_distinct verbatim
        "distinct_estimate": """
        WITH hs AS (
          SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
          FROM documents),
        sm AS (SELECT h FROM hs ORDER BY h LIMIT 128),
        sk AS (
          SELECT count(*)::BIGINT AS k_used, max(h) AS kth_hash,
                 CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
                      ELSE floor(127.0 * 1152921504606846976.0 / max(h)
                                 + 0.5) END AS est
          FROM sm),
        ex AS (
          SELECT count(DISTINCT text)::BIGINT AS exact_distinct
          FROM documents)
        SELECT k_used, kth_hash, CAST(est AS BIGINT) AS est_distinct,
               exact_distinct,
               round((est - exact_distinct) / exact_distinct, 4) AS rel_err
        FROM sk CROSS JOIN ex""",
        # sliding-window chunker: starts = 0,48,96,... kept while the
        # window adds new tokens; chunk = 64-token slice
        "doc_chunks": """
        WITH d AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             t -> strlen(t) > 0) AS toks
          FROM documents),
        d2 AS (SELECT doc_id, toks, len(toks) AS n FROM d
               WHERE len(toks) > 0),
        st AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS s
               FROM d2),
        f AS (SELECT * FROM st WHERE s = 0 OR s < n - 16)
        SELECT doc_id, (s // 48)::BIGINT AS chunk_id, s::BIGINT AS start_tok,
               len(toks[s + 1 : least(s + 64, n)])::BIGINT AS n_tok,
               array_to_string(toks[s + 1 : least(s + 64, n)], ' ')
                 AS chunk_text
        FROM f""",
        # passage-level BM25: the doc_chunks window law, scored with
        # passage-local stats (dl = eligible tokens in the window,
        # df = windows containing the term, N = windows with dl > 0)
        "passage_topk": f"""
        {_PASSAGE_CORE_SQL}
        SELECT doc_id, chunk_id, start_tok, round(sum(s), 4) AS score
        FROM per GROUP BY 1, 2, 3
        ORDER BY sum(s) DESC, doc_id, chunk_id LIMIT {K}""",
        # X119 render: top passages joined back to their text, query
        # terms bracketed [term] (token-exact highlight law)
        "passage_render": f"""
        {_PASSAGE_CORE_SQL},
        top AS (
          SELECT doc_id, chunk_id, round(sum(s), 4) AS score
          FROM per GROUP BY 1, 2
          ORDER BY sum(s) DESC, doc_id, chunk_id LIMIT {K}),
        txt AS (
          SELECT w2.doc_id, w2.chunk_id,
                 array_to_string(list_transform(w2.full_w,
                   t -> CASE WHEN t IN ({_PASSAGE_TERMS_SQL})
                             THEN '[' || t || ']' ELSE t END), ' ')
                   AS passage
          FROM win2 w2)
        SELECT t.doc_id, t.chunk_id, t.score, x.passage
        FROM top t JOIN txt x USING (doc_id, chunk_id)
        ORDER BY t.score DESC, t.doc_id, t.chunk_id""",
        # priority sampling: q = w / u with u = (h+1)/2^60 from the
        # row's own md5; top-20 by (q desc, id), est_w = max(w, tau)
        # with tau = the 21st priority — sketches.priority_sample
        "priority_sample": """
        WITH p AS (
          SELECT doc_id AS id, strlen(text)::DOUBLE AS w,
                 strlen(text)::DOUBLE
                   / ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                       ::BIGINT + 1) / 1152921504606846976.0) AS q
          FROM documents),
        top AS (SELECT * FROM p ORDER BY q DESC, id LIMIT 21),
        st AS (SELECT count(*) AS n_top, min(q) AS q_min FROM top),
        r AS (
          SELECT t.*, row_number() OVER (ORDER BY q DESC, id) AS rn
          FROM top t)
        SELECT id, w,
               round(greatest(w, CASE WHEN st.n_top > 20 THEN st.q_min
                                      ELSE 0.0 END), 4) AS est_w
        FROM r CROSS JOIN st WHERE rn <= 20""",
        "seq_pack": """
        WITH d AS (
          SELECT doc_id % 8 AS shard, doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 t -> t <> ''))::BIGINT AS n_tok
          FROM documents),
        d2 AS (SELECT * FROM d WHERE n_tok > 0),
        c AS (
          SELECT shard, n_tok,
                 sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS tok_end
          FROM d2),
        e AS (SELECT shard, tok_end - n_tok AS tok_start, tok_end FROM c),
        pb AS (
          SELECT shard, tok_start, tok_end,
                 unnest(range(tok_start // 256,
                              (tok_end - 1) // 256 + 1)) AS seq_id
          FROM e)
        SELECT shard, seq_id, count(*)::BIGINT AS n_docs,
               sum(least(tok_end, (seq_id + 1) * 256) -
                   greatest(tok_start, seq_id * 256))::BIGINT AS n_tokens
        FROM pb GROUP BY 1, 2""",
        "pii_redact": """
        WITH s1 AS (
          SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
               AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS r
          FROM documents),
        s2 AS (
          SELECT doc_id, n_email,
             len(regexp_extract_all(r,
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))::INT AS n_ip,
             regexp_replace(r, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b',
               '<IP>', 'g') AS r
          FROM s1),
        s3 AS (
          SELECT doc_id, n_email, n_ip,
             len(regexp_extract_all(r,
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))::INT AS n_phone,
             regexp_replace(r, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b',
               '<PHONE>', 'g') AS r
          FROM s2)
        SELECT doc_id, n_email, n_ip, n_phone, r AS redacted FROM s3""",
        "repetition_filter": """
        WITH arrs AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             t -> t <> '') AS arr
          FROM documents),
        d AS (SELECT * FROM arrs WHERE len(arr) >= 3),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(arr)),
                        i -> arr[i] || ' ' || arr[i+1])) AS bigram
          FROM d),
        top_bi AS (
          SELECT doc_id, max(n)::BIGINT AS top_bigram_n FROM (
            SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY 1, 2)
          GROUP BY 1),
        tri AS (
          SELECT doc_id, len(arr)::BIGINT AS n_tokens,
                 (len(arr) - 2)::BIGINT AS n_tri,
                 len(list_distinct(list_transform(range(1, len(arr) - 1),
                      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])))
                   ::BIGINT AS n_tri_distinct
          FROM d)
        SELECT t.doc_id, t.n_tokens,
               round(2.0 * b.top_bigram_n / t.n_tokens, 6)
                 AS top_bigram_frac,
               round((t.n_tri - t.n_tri_distinct) / t.n_tri::DOUBLE, 6)
                 AS dup_trigram_frac,
               CAST(round(2.0 * b.top_bigram_n / t.n_tokens, 6) <= 0.18
                    AND round((t.n_tri - t.n_tri_distinct)
                              / t.n_tri::DOUBLE, 6) <= 0.60
                    AS INT) AS keep
        FROM tri t JOIN top_bi b USING (doc_id)""",
        "jaccard_top_pairs": """
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(arr)),
                        i -> arr[i] || ' ' || arr[i+1])) AS shingle
          FROM arrs WHERE len(arr) >= 2),
        cool AS (
          SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 64),
        shc AS (SELECT sh.* FROM sh JOIN cool USING (shingle)),
        -- sizes over the CAPPED sets: the metric is exact Jaccard of
        -- the hot-shingle-capped sets (self-consistent; see
        -- dedup.jaccard_pairs docstring)
        sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shc GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*)::BIGINT AS inter
          FROM shc a JOIN shc b ON a.shingle = b.shingle
                            AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        ORDER BY jaccard DESC, doc_a, doc_b LIMIT 10""",
        "cosine_topk": """
        WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, label,
               round(
                 list_dot_product(embedding::DOUBLE[],
                                  (SELECT e FROM q)::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * sqrt(list_dot_product((SELECT e FROM q)::DOUBLE[],
                                            (SELECT e FROM q)::DOUBLE[]))),
                 4) AS cos
        FROM embeddings WHERE vec_id <> 0
        ORDER BY cos DESC, vec_id LIMIT 10""",
        # IVF ANN: same deterministic centroids (vec_id < 8), same
        # argmax-cell assignment (ties to lowest cid), same 2-cell probe
        # set, same rounded-cosine re-rank as similarity.ivf_ann_topk
        "ivf_ann": """
        WITH cent AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 8),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        qprobe AS (
          SELECT cid FROM cent, q
          ORDER BY list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))) DESC, cid ASC
          LIMIT 2),
        assign AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                            / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                     e.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(c.cv, c.cv)))
                            DESC, c.cid ASC) AS rn
          FROM embeddings e CROSS JOIN cent c),
        cand AS (
          SELECT e.vec_id, e.label, e.embedding
          FROM embeddings e
          JOIN assign a ON a.vec_id = e.vec_id AND a.rn = 1
          WHERE a.cid IN (SELECT cid FROM qprobe) AND e.vec_id <> 0)
        SELECT vec_id, label,
               round(
                 list_dot_product(embedding::DOUBLE[],
                                  (SELECT qv FROM q))
                 / (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * sqrt(list_dot_product((SELECT qv FROM q),
                                            (SELECT qv FROM q)))),
                 4) AS cos
        FROM cand
        ORDER BY cos DESC, vec_id LIMIT 10""",
        "embedding_norms": """
        SELECT vec_id,
               round(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])), 4) AS l2
        FROM embeddings""",
        "events_sessionize": """
        WITH marked AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR (epoch_ms(ts) // 1000) - (epoch_ms(lag(ts) OVER w) // 1000)
                         > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts,
                 -- ::BIGINT: DuckDB window sum yields HUGEINT, which
                 -- pandas materializes as float64 and the driver's
                 -- value hash then sees 3.0 vs Spark's int64 3
                 (sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_id
          FROM marked)
        SELECT user_id, session_id, count(*)::BIGINT AS n_events,
               min(epoch_ms(ts) // 1000) AS t_start,
               max(epoch_ms(ts) // 1000) AS t_end
        FROM sess GROUP BY user_id, session_id""",
        "events_hourly": """
        SELECT ((epoch_ms(ts) // 1000) // 3600) * 3600 AS hour_start, event_type,
               count(*)::BIGINT AS n, round(sum(value), 4) AS total
        FROM events GROUP BY 1, 2""",
        "events_top_users": """
        SELECT user_id, count(*)::BIGINT AS n,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY user_id
        ORDER BY total_value DESC, user_id LIMIT 10""",
        "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                 AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""",
        "tpch_q3": """
        SELECT o_orderkey, o_orderdate::VARCHAR AS o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "point_lookup": """
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id = 42""",
        "url_classify": _url_classify_sql(),
        "bpe_token_count": _bpe_count_sql(),
        "bigram_count": r"""
        WITH t AS (
          SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        bg AS (
          SELECT arr[i] || ' ' || arr[i + 1] AS bigram
          FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
                FROM t))
        SELECT bigram, count(*)::BIGINT AS n FROM bg GROUP BY 1
        ORDER BY n DESC, bigram LIMIT 20""",
        "doclen_quantiles": _TOK
        + """
        SELECT round(quantile_cont(dl, 0.5), 4) AS p50,
               round(quantile_cont(dl, 0.9), 4) AS p90,
               round(quantile_cont(dl, 0.99), 4) AS p99
        FROM dl""",
        "phrase_match": rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        pos AS (
          SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 1)) AS i
          FROM t)
        SELECT doc_id, count(*)::BIGINT AS n_hits FROM pos
        WHERE arr[i] = '{PHRASE_QUERY.split()[0]}'
          AND arr[i + 1] = '{PHRASE_QUERY.split()[1]}'
        GROUP BY 1""",
        # wildcard queries: the engine routes through the k-gram index
        # + regex post-filter; the oracle is the ground-truth LIKE scan
        "wildcard_terms": _TOK
        + """
        SELECT term, df FROM dfreq WHERE term LIKE 's%'""",
        "wildcard_search": _TOK
        + """
        SELECT doc_id, count(DISTINCT term)::BIGINT AS n_terms,
               sum(tf)::BIGINT AS tf
        FROM tf WHERE term LIKE '%or%' GROUP BY 1""",
        "spell_suggest": _TOK
        + f"""
        SELECT term, levenshtein(term, '{SPELL_TERM}')::BIGINT AS dist, df
        FROM dfreq
        WHERE abs(strlen(term) - strlen('{SPELL_TERM}')) <= 2
          AND levenshtein(term, '{SPELL_TERM}') <= 2
        ORDER BY dist, df DESC, term LIMIT 5""",
        "cosine_neardup": """
        WITH p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(
                   list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                            a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]))),
                   4) AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4""",
        "frontier_wave": _SYNTH_URLS_SQL
        + """
        SELECT DISTINCT url FROM synth WHERE doc_id % 2 = 1""",
        "source_rollup": """
        SELECT source, lang, count(*)::BIGINT AS n_docs
        FROM documents GROUP BY ROLLUP (source, lang)""",
        "search_render": _render_sql(),
        "content_type_gate": _CONTENT_TYPE_GATE_SQL,
        "media_image_features": _MEDIA_IMAGE_SQL,
        # real-GIF round trip: the oracle recomputes the deterministic
        # pixel law (multimodal.gif_media_df); Spark's answer passed
        # through an actual LZW encode + decode of the payload bytes
        "media_gif_roundtrip": """
        WITH m AS (
          SELECT media_id, 4 + (media_id * 7) % 13 AS w,
                 3 + (media_id * 11) % 9 AS h
          FROM range(400) t(media_id)),
        px AS (
          SELECT media_id, w, h,
                 list_transform(range(w * h),
                   p -> CAST((media_id * 131 + p * 7) % 256 AS DOUBLE)) AS l
          FROM m)
        SELECT media_id, w AS width, h AS height,
               round(list_avg(l), 4) AS mean_px,
               round(sqrt(greatest(
                 list_avg(list_transform(l, x -> x * x))
                   - list_avg(l) * list_avg(l), 0)), 4) AS std_px
        FROM px""",
        # real-JPEG round trip: the flat-halves law is exactly
        # preserved by the quality-75 codec (DC quantizer 8, flat
        # 8x8 blocks), so mean = (v1+v2)/2 and std = |v1-v2|/2 exactly
        "media_jpeg_roundtrip": """
        WITH m AS (
          SELECT media_id,
                 16 * (1 + (media_id // 3) % 3) AS w,
                 5 + (media_id * 11) % 12 AS h,
                 CAST((media_id * 37 + 11) % 256 AS DOUBLE) AS v1,
                 CAST((media_id * 73 + 97) % 256 AS DOUBLE) AS v2
          FROM range(400) t(media_id))
        SELECT media_id, w AS width, h AS height,
               round((v1 + v2) / 2, 4) AS mean_px,
               round(abs(v1 - v2) / 2, 4) AS std_px
        FROM m""",
        # mixed-format router: PNG/GIF rows reuse the gif pixel law
        # (PNG lossless), JPEG rows the flat-halves law
        "media_mixed_roundtrip": """
        WITH ids AS (SELECT media_id FROM range(300) t(media_id)),
        pg AS (
          SELECT media_id, 4 + (media_id * 7) % 13 AS w,
                 3 + (media_id * 11) % 9 AS h
          FROM ids WHERE media_id % 3 <> 2),
        pgf AS (
          SELECT media_id, w, h,
                 list_transform(range(w * h),
                   p -> CAST((media_id * 131 + p * 7) % 256 AS DOUBLE)) AS l
          FROM pg),
        pngif AS (
          SELECT media_id, w AS width, h AS height,
                 round(list_avg(l), 4) AS mean_px,
                 round(sqrt(greatest(
                   list_avg(list_transform(l, x -> x * x))
                     - list_avg(l) * list_avg(l), 0)), 4) AS std_px
          FROM pgf),
        jp AS (
          SELECT media_id,
                 16 * (1 + (media_id // 3) % 3) AS width,
                 5 + (media_id * 11) % 12 AS height,
                 CAST((media_id * 37 + 11) % 256 AS DOUBLE) AS v1,
                 CAST((media_id * 73 + 97) % 256 AS DOUBLE) AS v2
          FROM ids WHERE media_id % 3 = 2)
        SELECT media_id, width, height, mean_px, std_px FROM pngif
        UNION ALL
        SELECT media_id, width, height,
               round((v1 + v2) / 2, 4) AS mean_px,
               round(abs(v1 - v2) / 2, 4) AS std_px
        FROM jp""",
        # raw crawl-file ingest roundtrips: every field recomputed from
        # the deterministic laws (sources/rawfiles.py), incl. the
        # reference's length arithmetic (header+body+1) and its
        # md5-over-length-bytes checksum (index/DocIndex.cpp:76-79)
        "tianwang_ingest": f"""
        WITH p AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url, text FROM documents)
        SELECT url,
          strftime(TIMESTAMP '2004-06-01 00:00:00'
                     + doc_id * 7 * (INTERVAL 1 SECOND),
                   '%a, %d %b %Y %H:%M:%S GMT') AS date,
          '10.0.' || (doc_id % 250)::VARCHAR || '.1' AS ip,
          45 + octet_length(encode(text)) AS length,
          md5('HTTP/1.1 200 OK' || chr(13) || chr(10)
              || 'Content-Type: text/html' || chr(13) || chr(10)
              || chr(13) || chr(10) || chr(10) || text) AS checksum
        FROM p""",
        "warc_ingest": f"""
        WITH p AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url, text FROM documents)
        SELECT url,
          strftime(TIMESTAMP '2004-06-01 00:00:00'
                     + doc_id * 7 * (INTERVAL 1 SECOND),
                   '%Y-%m-%dT%H:%M:%SZ') AS date,
          printf('urn:uuid:%032x', doc_id) AS record_id,
          44 + octet_length(encode(text)) AS content_length,
          md5(text) AS body_md5
        FROM p""",
        "media_audio_features": _MEDIA_AUDIO_SQL,
        "media_frame_sample": _MEDIA_FRAMES_SQL,
        "snapshot_by_url": f"""
        WITH p AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url, text, lang
          FROM documents)
        SELECT url, text, lang FROM p
        WHERE md5(url) = md5('{SNAPSHOT_URL}')""",
        "link_extract": f"""
        WITH synth AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url,
                 {_SYNTH_HOST_EXPR} AS host
          FROM documents)
        SELECT url, unnest(list_value(
          'http://peer.example.cn/p/' || doc_id::VARCHAR,
          'http://' || host || '/img' || doc_id::VARCHAR || '.png',
          'http://' || host || '/rel' || doc_id::VARCHAR,
          'http://' || host || '/f' || doc_id::VARCHAR)) AS out_url
        FROM synth""",
        "link_outdegree": f"""
        WITH synth AS (
          SELECT doc_id, {_SYNTH_URL_EXPR} AS url,
                 {_SYNTH_HOST_EXPR} AS host
          FROM documents)
        SELECT url, 4 AS outdegree,
               'http://peer.example.cn/p/' || doc_id::VARCHAR || ','
               || 'http://' || host || '/img' || doc_id::VARCHAR || '.png,'
               || 'http://' || host || '/rel' || doc_id::VARCHAR || ','
               || 'http://' || host || '/f' || doc_id::VARCHAR AS out_urls
        FROM synth""",
        "anchor_text": _ANCHOR_TEXT_SQL,
        "http_header_skip": """
        WITH raws AS (
          SELECT doc_id,
            CASE
              WHEN doc_id % 17 = 0 THEN
                'HTTP/1.1 200 OK' || chr(13) || chr(10) || chr(13)
                || chr(10) || text
              WHEN doc_id % 13 = 0 THEN
                'X-Pad: ' || repeat('h', 1200) || chr(10) || chr(10)
                || 'X-Doc: ' || doc_id::VARCHAR || chr(10) || chr(10)
                || text
              ELSE
                'HTTP/1.1 200 OK' || chr(10) || 'Server: tse/1.0'
                || chr(10) || chr(10)
                || 'X-Doc: ' || doc_id::VARCHAR || chr(10) || chr(10)
                || text
            END AS raw
          FROM documents),
        s1 AS (
          SELECT doc_id, raw,
                 strpos(raw, chr(10) || chr(10)) AS p1
          FROM raws),
        s2 AS (
          SELECT doc_id, p1, substring(raw, p1 + 2) AS rest1 FROM s1),
        s3 AS (
          SELECT doc_id, p1, rest1,
                 strpos(rest1, chr(10) || chr(10)) AS p2
          FROM s2),
        b AS (
          SELECT doc_id,
                 CASE WHEN p1 BETWEEN 1 AND 1021
                       AND p2 BETWEEN 1 AND 1021
                      THEN substring(rest1, p2 + 2) END AS body
          FROM s3)
        SELECT doc_id, strlen(body)::BIGINT AS body_len,
               substring(body, 1, 40) AS body_head
        FROM b""",
        "url_segment": """
        SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN 'p ' || doc_id::VARCHAR
            WHEN 1 THEN 'img' || doc_id::VARCHAR
            WHEN 2 THEN 'cgi-bin q' || doc_id::VARCHAR
            WHEN 3 THEN 'a' || doc_id::VARCHAR || '?b=1&c=2&d=3'
            ELSE 'x-' || doc_id::VARCHAR || '+z'
          END AS terms
        FROM documents""",
        "minhash_neardup": _minhash_oracle_sql(),
        "pagerank": _pagerank_oracle_sql(),
        # warm start continues the cold trajectory exactly (Markovian
        # power iteration), so 2 cold + 1 warm == the 3-iteration oracle
        "pagerank_warm": _pagerank_oracle_sql(),
        "host_pagerank": _host_pagerank_oracle_sql(),
        # the same clamp law over the unrolled host-PageRank oracle
        "crawl_budget": f"""
        SELECT host,
               greatest(10, least(5000,
                 CAST(floor(100000 * rank) AS BIGINT))) AS quota
        FROM ({_host_pagerank_oracle_sql()})""",
        "dedup_components": _DEDUP_COMPONENTS_SQL,
        "dedup_components_lsh": _dedup_components_lsh_oracle_sql(),
        "dedup_keep_one": _DEDUP_KEEP_ONE_SQL,
        "simhash": _simhash_oracle_sql(),
        "lsh_neardup": _lsh_neardup_oracle_sql(),
        "lsh_ann": _lsh_ann_oracle_sql(),
        "rp_ann": _rp_ann_oracle_sql(),
        "quality_probe": _quality_probe_oracle_sql(),
        "quality_probe_scores": _quality_probe_scores_oracle_sql(),
        "kmeans_clusters": _kmeans_clusters_oracle_sql(),
        "kmeans_report": _kmeans_report_oracle_sql(),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
    }
    # the materialized-index serving paths return IDENTICAL results to
    # the on-the-fly ones (same probe construction, pytest-enforced) —
    # the oracle is shared
    out["lsh_ann_indexed"] = out["lsh_ann"]
    out["ivf_ann_indexed"] = out["ivf_ann"]
    # ...and the O(delta)-appended index must serve the same results as
    # a one-shot build (append buckets with the pinned params)
    out["lsh_ann_appended"] = out["lsh_ann"]
    # recall@10 of the approximate path vs the exact one — composed
    # from the two oracles so the eval law is shared verbatim
    out["ann_recall"] = f"""
    WITH a AS ({out['lsh_ann']}),
    e AS ({out['cosine_topk']})
    SELECT 10::BIGINT AS k, count(*)::BIGINT AS n_hit,
           round(count(*) / 10.0, 4) AS recall
    FROM a JOIN e USING (vec_id)"""
    # the JL tier's recall monitor — same composition over its oracle
    out["rp_recall"] = f"""
    WITH a AS ({out['rp_ann']}),
    e AS ({out['cosine_topk']})
    SELECT 10::BIGINT AS k, count(*)::BIGINT AS n_hit,
           round(count(*) / 10.0, 4) AS recall
    FROM a JOIN e USING (vec_id)"""
    # robots known-answer oracles: expected rules/allow-set stated
    # directly from the _ROBOTS_SYNTH_SPARK template law (the Spark side
    # runs the real parser; general-parser conformance is pinned against
    # the pure-Python ParseRobot port in tests/test_robots.py)
    out["robots_rules"] = """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    exp AS (
      SELECT 'h'||doc_id::VARCHAR||'.test' AS host, 1 AS rn,
             '/a'||doc_id::VARCHAR||chr(13) AS prefix
        FROM ids WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', 2, '/b'||doc_id::VARCHAR
        FROM ids WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', 1, '/y'||doc_id::VARCHAR
        FROM ids WHERE doc_id % 5 = 1
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', 1, '/t'||doc_id::VARCHAR
        FROM ids WHERE doc_id % 5 = 2
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', 1, ''
        FROM ids WHERE doc_id % 5 = 3
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', 2, '/c'||doc_id::VARCHAR
        FROM ids WHERE doc_id % 5 = 3
      UNION ALL
      SELECT 'h'||doc_id::VARCHAR||'.test', j + 1,
             '/r'||doc_id::VARCHAR||'x'||j::VARCHAR
        FROM ids, range(0, 39) t(j) WHERE doc_id % 5 = 4
    )
    SELECT host, rn::BIGINT AS rn, prefix FROM exp"""
    out["robots_frontier"] = """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
    urls AS (
      SELECT doc_id, 1 AS k,
             'http://h'||doc_id::VARCHAR||'.test/a'||doc_id::VARCHAR||'/page' AS url
        FROM ids
      UNION ALL
      SELECT doc_id, 2, 'http://h'||doc_id::VARCHAR||'.test/safe/page' FROM ids
      UNION ALL
      SELECT doc_id, 3,
             'http://h'||doc_id::VARCHAR||'.test/t'||doc_id::VARCHAR||'abc'
        FROM ids
    )
    SELECT url FROM urls
    WHERE NOT (doc_id < 100 AND doc_id % 5 = 0 AND k = 1)
      AND NOT (doc_id < 100 AND doc_id % 5 = 2 AND k = 3)"""
    # the index-pruned quoted-query path returns IDENTICAL results to
    # the full-scan phrase matcher — the oracle is shared
    out["phrase_match_indexed"] = out["phrase_match"]
    out["phrase_match_pos"] = out["phrase_match"]
    # X119 indexed twin: positional serving must reproduce the
    # scan-side passage law exactly
    out["passage_topk_indexed"] = out["passage_topk"]
    # X114 positional twin: phrase_match law + the wand_merged id lift
    out["phrase_pos_merged"] = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> strlen(x) > 0) AS arr
      FROM documents),
    pos AS (
      SELECT doc_id, arr,
             unnest(generate_series(1, len(arr) - 1)) AS i
      FROM t),
    hits AS (
      SELECT doc_id, count(*)::BIGINT AS n_hits FROM pos
      WHERE arr[i] = '{PHRASE_QUERY.split()[0]}'
        AND arr[i + 1] = '{PHRASE_QUERY.split()[1]}'
      GROUP BY 1),
    mshift AS (
      SELECT max(doc_id) + 1 AS sh FROM documents WHERE doc_id % 2 = 0)
    SELECT CASE WHEN h.doc_id % 2 = 0 THEN h.doc_id
                ELSE h.doc_id + m.sh END AS doc_id,
           h.n_hits
    FROM hits h CROSS JOIN mshift m"""
    # X108: the next-word index must reproduce the scan law exactly
    out["phrase_nextword"] = out["phrase_match"]
    p3 = PHRASE3_QUERY.split()
    out["phrase_nextword3"] = f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        pos AS (
          SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 2)) AS i
          FROM t)
        SELECT doc_id, count(*)::BIGINT AS n_hits FROM pos
        WHERE arr[i] = '{p3[0]}'
          AND arr[i + 1] = '{p3[1]}'
          AND arr[i + 2] = '{p3[2]}'
        GROUP BY 1"""
    # X110 sloppy chains: reachability (exists-a-chain), ends counted
    pw = PHRASE_QUERY.split()
    _pos_base = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        pos AS (
          SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
          FROM t)"""
    out["phrase_slop"] = _pos_base + f"""
        , p0 AS (SELECT doc_id, i FROM pos WHERE arr[i] = '{pw[0]}'),
        p1 AS (SELECT doc_id, i FROM pos WHERE arr[i] = '{pw[1]}'),
        r1 AS (
          SELECT DISTINCT p1.doc_id, p1.i FROM p1
          JOIN p0 ON p0.doc_id = p1.doc_id
                 AND p1.i > p0.i AND p1.i <= p0.i + {1 + PHRASE_SLOP})
        SELECT doc_id, count(*)::BIGINT AS n_hits FROM r1 GROUP BY 1"""
    out["phrase_slop3"] = _pos_base + f"""
        , p0 AS (SELECT doc_id, i FROM pos WHERE arr[i] = '{p3[0]}'),
        p1 AS (SELECT doc_id, i FROM pos WHERE arr[i] = '{p3[1]}'),
        p2 AS (SELECT doc_id, i FROM pos WHERE arr[i] = '{p3[2]}'),
        r1 AS (
          SELECT DISTINCT p1.doc_id, p1.i FROM p1
          JOIN p0 ON p0.doc_id = p1.doc_id
                 AND p1.i > p0.i AND p1.i <= p0.i + {1 + PHRASE_SLOP}),
        r2 AS (
          SELECT DISTINCT p2.doc_id, p2.i FROM p2
          JOIN r1 ON r1.doc_id = p2.doc_id
                 AND p2.i > r1.i AND p2.i <= r1.i + {1 + PHRASE_SLOP})
        SELECT doc_id, count(*)::BIGINT AS n_hits FROM r2 GROUP BY 1"""
    # the index-served wildcard returns IDENTICAL results to the
    # token-scan form (every matched term is index-eligible)
    out["wildcard_search_indexed"] = out["wildcard_search"]
    # positional-table lifecycle (append + tombstone fold + compact):
    # the served result equals a from-scratch phrase match over the
    # surviving documents (doc_id % 7 == 3 deleted)
    out["phrase_pos_compacted"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents WHERE doc_id % 7 != 3),
        pos AS (
          SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr) - 1)) AS i
          FROM t)
        SELECT doc_id, count(*)::BIGINT AS n_hits FROM pos
        WHERE arr[i] = '{PHRASE_QUERY.split()[0]}'
          AND arr[i + 1] = '{PHRASE_QUERY.split()[1]}'
        GROUP BY 1"""
    # quoted-query serving: rank by hit count from token positions,
    # snippet = phrase + 2 following tokens at the first hit (fi is
    # 1-based in SQL, first_pos 0-based in the engine)
    _pw2 = PHRASE_QUERY.split()
    out["phrase_snippet"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        p AS (
          SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
          FROM t),
        m AS (SELECT doc_id, i FROM p
              WHERE arr[i] = '{_pw2[0]}' AND arr[i + 1] = '{_pw2[1]}'),
        agg AS (SELECT doc_id, count(*)::BIGINT AS n_hits,
                       min(i)::BIGINT AS fi
                FROM m GROUP BY 1),
        top AS (SELECT * FROM agg ORDER BY n_hits DESC, doc_id LIMIT {K})
        SELECT top.doc_id, top.n_hits, (top.fi - 1)::BIGINT AS first_pos,
               array_to_string(t.arr[top.fi : top.fi + 3], ' ') AS snippet
        FROM top JOIN t ON t.doc_id = top.doc_id"""
    # proximity-boosted BM25: the bm25 perterm CTE over the two phrase
    # words + PROX_BOOST * ln(1 + ordered in-window pair count)
    _pw = PHRASE_QUERY.split()
    out["bm25_proximity"] = (
        _TOK
        + _BM25_SQL.format(terms=", ".join(f"'{t}'" for t in _pw))
        + rf"""
        , bm AS (SELECT doc_id, sum(s) AS score FROM perterm GROUP BY 1),
        t2 AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        a2 AS (
          SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
          FROM t2),
        i0 AS (SELECT doc_id, i FROM a2 WHERE arr[i] = '{_pw[0]}'),
        j0 AS (SELECT doc_id, i AS j FROM a2 WHERE arr[i] = '{_pw[1]}'),
        prox AS (
          SELECT i0.doc_id, count(*)::BIGINT AS n_pairs
          FROM i0 JOIN j0 ON i0.doc_id = j0.doc_id
          WHERE j0.j > i0.i AND j0.j - i0.i <= {PROX_WINDOW}
          GROUP BY 1)
        SELECT bm.doc_id,
               round(bm.score + {PROX_BOOST} * ln(1 + coalesce(prox.n_pairs, 0)),
                     4) AS score
        FROM bm LEFT JOIN prox ON bm.doc_id = prox.doc_id
        ORDER BY score DESC, bm.doc_id LIMIT {K}"""
    )
    # top-5 tf-idf keywords per doc; rank on the ROUNDED score so the
    # order is engine-reproducible, ties by term ascending
    out["doc_keywords"] = _TOK + """
        SELECT doc_id, term, score, rank FROM (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * ln(stats.n_docs / dfreq.df), 4) AS score,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln(stats.n_docs / dfreq.df), 4)
                            DESC, tf.term) AS rank
          FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        ) WHERE rank <= 5"""
    # NEAR/5: ordered (i, j) position pairs, 0 < j - i <= window
    out["proximity_count"] = rf"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\s+'),
                             x -> strlen(x) > 0) AS arr
          FROM documents),
        a AS (
          SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
          FROM t),
        i0 AS (SELECT doc_id, i FROM a
               WHERE arr[i] = '{PHRASE_QUERY.split()[0]}'),
        j0 AS (SELECT doc_id, i AS j FROM a
               WHERE arr[i] = '{PHRASE_QUERY.split()[1]}')
        SELECT i0.doc_id, count(*)::BIGINT AS n_pairs
        FROM i0 JOIN j0 ON i0.doc_id = j0.doc_id
        WHERE j0.j > i0.i AND j0.j - i0.i <= {PROX_WINDOW}
        GROUP BY 1"""
    # gzip round-trip: expected md5/length restated from the payload law
    # (mode 2 — gzip bytes gated out by text/plain — is masked to NULL:
    # the bytes stay compressed and SQL cannot gunzip them)
    out["gzip_decode"] = """
    WITH ids AS (
      SELECT doc_id,
             CASE WHEN doc_id = 0 THEN repeat('ab12 ', 230000)
                  ELSE text END AS payload
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           (doc_id % 4 = 0) AS gunzipped,
           CASE WHEN doc_id % 4 = 2 THEN NULL
                WHEN doc_id = 0 THEN md5(substring(payload, 1, 1024000))
                ELSE md5(payload) END AS body_md5,
           CASE WHEN doc_id % 4 = 2 THEN NULL
                WHEN doc_id = 0 THEN 1024000
                ELSE strlen(payload) END::BIGINT AS body_len
    FROM ids"""
    # int8-quantized ANN: DuckDB recomputes the quantization law end to
    # end (scale = max|x|/127 guarded, codes = floor(x/s + 0.5)) — the
    # scales cancel in cosine, so qcos is the cosine of the codes
    out["ann_int8"] = f"""
    WITH base AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    sc AS (
      SELECT vec_id, label, e,
             greatest(list_aggregate(list_transform(e, x -> abs(x)),
                                     'max'), 1e-30) / 127.0 AS s
      FROM base),
    qv AS (
      SELECT vec_id, label, s,
             list_transform(e, x -> floor(x / s + 0.5)) AS q
      FROM sc),
    qq AS (SELECT q FROM qv WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_dot_product(q, (SELECT q FROM qq))
                 / (sqrt(list_dot_product(q, q))
                    * sqrt(list_dot_product((SELECT q FROM qq),
                                            (SELECT q FROM qq)))),
                 4) AS qcos,
           round(s, 6) AS qscale
    FROM qv WHERE vec_id <> 0
    ORDER BY qcos DESC, vec_id LIMIT {K}"""
    # the materialized code-table path returns IDENTICAL results (int8
    # products and partial sums are exact integers in float64, so BLAS
    # and the JVM fold agree bit-for-bit) — the oracle is shared
    out["ann_int8_indexed"] = out["ann_int8"]
    # typeahead completion over the index vocabulary
    out["prefix_complete"] = _TOK + f"""
    SELECT term, df FROM dfreq
    WHERE term LIKE '{PREFIX_QUERY}%'
    ORDER BY df DESC, term LIMIT 5"""
    # impact-ordered static pruning: per-term top-M postings by the
    # exact bm25 per-posting score (full-corpus stats), then the normal
    # ranked sum over the pruned relation
    _prune_terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))
    out["static_prune_topk"] = _TOK + f"""
    , imp AS (
      SELECT tf.doc_id, tf.term,
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    pruned AS (
      SELECT doc_id, term, s,
             row_number() OVER (PARTITION BY term
                                ORDER BY s DESC, doc_id) AS rn
      FROM imp)
    SELECT doc_id, round(sum(s), 4) AS score
    FROM pruned
    WHERE rn <= {PRUNE_M} AND term IN ({_prune_terms})
    GROUP BY 1 ORDER BY score DESC, doc_id LIMIT {K}"""
    # the PRUNED COMPRESSED INDEX serving path: prune by full-stats
    # impact (same window as static_prune_topk), then score with the
    # pruned index's OWN df (both engine serving paths read df from the
    # shards), full dl/avgdl/n_docs
    out["wand_pruned_topk"] = _TOK + f"""
    , imp AS (
      SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    kept AS (
      SELECT doc_id, term, tf, dl FROM (
        SELECT *, row_number() OVER (PARTITION BY term
                                     ORDER BY s DESC, doc_id) AS rn
        FROM imp)
      WHERE rn <= {PRUNE_M}),
    pdf AS (SELECT term, count(*)::BIGINT AS dfp FROM kept GROUP BY 1),
    sc AS (
      SELECT kept.doc_id,
             ln(1 + (stats.n_docs - pdf.dfp + 0.5) / (pdf.dfp + 0.5))
               * kept.tf * 2.2
               / (kept.tf + 1.2 * (0.25 + 0.75 * kept.dl / stats.avgdl))
               AS s
      FROM kept JOIN pdf USING (term) CROSS JOIN stats
      WHERE kept.term IN ({_prune_terms}))
    SELECT doc_id, round(sum(s), 4) AS score
    FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT {K}"""
    # LIVE tombstones (plans/delete.py): full-corpus stats, deleted
    # candidates (doc_id % 7 == 3) masked before top-k — the documented
    # stale-stats delete law
    out["wand_tombstoned"] = _TOK + bm25_3 + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm WHERE doc_id % 7 <> 3
    GROUP BY doc_id ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    # after compact_index folds the deletes: stats recomputed from
    # scratch over the SURVIVING documents only (ids preserved)
    out["wand_delete_compacted"] = (
        _TOK.replace(
            "FROM documents",
            "FROM documents WHERE doc_id % 7 <> 3",
        )
        + bm25_3
        + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    )
    # recrawl upsert + compact: exhaustive BM25 over the reconciled
    # latest-per-url corpus (replaced docs carry their new text, stale
    # re-arrivals drop, new urls join), keyed by URL because appended
    # copies legitimately hold fresh engine doc ids; both engines cut
    # top-K by the identical (rounded score, url) comparator
    _q_terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))
    out["wand_recrawled"] = f"""
    WITH corpus AS (
      SELECT {_SYNTH_URL_EXPR} AS url,
             CASE WHEN doc_id % 9 = 2 THEN text || ' spark spark'
                  ELSE text END AS text
      FROM documents
      UNION ALL
      SELECT {_SYNTH_URL_EXPR} || '?v=new' AS url, 'join ' || text
      FROM documents WHERE doc_id % 9 = 7
    ),
    tok0 AS (
      SELECT url, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
      FROM corpus
    ),
    tok AS (SELECT url, term FROM tok0 WHERE strlen(term) BETWEEN 2 AND 8),
    tf AS (SELECT url, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT url, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
    perterm AS (
      SELECT tf.url,
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON dl.url = tf.url
      CROSS JOIN stats
      WHERE tf.term IN ({_q_terms})
    )
    SELECT url, round(sum(s), 4) AS score
    FROM perterm GROUP BY url
    ORDER BY round(sum(s), 4) DESC, url LIMIT {K}"""
    # index storage occupancy: shard = doc_id // ceil(n_docs/8) (the
    # _ws_index builder's shard_range law); -1 = the TOTAL row
    out["index_storage"] = _TOK + """
    , sr AS (
      SELECT cast(ceil(count(*) / 8.0) AS BIGINT) AS r FROM dl),
    assign AS (
      SELECT cast(floor(tf.doc_id / sr.r) AS BIGINT) AS shard,
             tf.term, tf.doc_id
      FROM tf CROSS JOIN sr)
    SELECT shard, count(DISTINCT term)::BIGINT AS n_terms,
           count(*)::BIGINT AS n_postings
    FROM assign GROUP BY 1
    UNION ALL
    SELECT -1::BIGINT, count(DISTINCT term)::BIGINT, count(*)::BIGINT
    FROM assign"""
    # all-pairs related docs: tf cosine over the df-capped subspace —
    # integer dots and squared norms are exact in float64, so the
    # cosine is bit-identical cross-engine before the display round
    out["related_pairs"] = _TOK + f"""
    , cold AS (
      SELECT term FROM dfreq WHERE df <= {RELATED_DF_CAP}),
    t AS (SELECT tf.* FROM tf JOIN cold USING (term)),
    norms AS (
      SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM t GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.tf * b.tf)::BIGINT AS dot
      FROM t a JOIN t b USING (term)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, dot,
           round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) DESC,
             doc_a, doc_b LIMIT {RELATED_TOP}"""
    # vocabulary drift across the recrawl lifecycle: df(base corpus)
    # vs df(reconciled corpus), top movers by |delta| with a term
    # tiebreak — the same total order the engine's cut uses
    out["vocab_drift"] = f"""
    WITH corpus_b AS (
      SELECT {_SYNTH_URL_EXPR} AS url,
             CASE WHEN doc_id % 9 = 2 THEN text || ' spark spark'
                  ELSE text END AS text
      FROM documents
      UNION ALL
      SELECT {_SYNTH_URL_EXPR} || '?v=new' AS url, 'join ' || text
      FROM documents WHERE doc_id % 9 = 7
    ),
    ta AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df_a FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM documents)
      WHERE strlen(term) BETWEEN 2 AND 8 GROUP BY 1),
    tb AS (
      SELECT term, count(DISTINCT url)::BIGINT AS df_b FROM (
        SELECT url,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM corpus_b)
      WHERE strlen(term) BETWEEN 2 AND 8 GROUP BY 1)
    SELECT coalesce(ta.term, tb.term) AS term,
           coalesce(df_a, 0)::BIGINT AS df_a,
           coalesce(df_b, 0)::BIGINT AS df_b,
           (coalesce(df_b, 0) - coalesce(df_a, 0))::BIGINT AS delta
    FROM ta FULL OUTER JOIN tb USING (term)
    ORDER BY abs(coalesce(df_b, 0) - coalesce(df_a, 0)) DESC,
             coalesce(ta.term, tb.term) LIMIT 20"""
    # batch retrieval: per-query exhaustive BM25 over a literal query
    # table, window-ranked — one oracle covers the single-pass batch
    # plan because its scores share the engine's idf/avgdl law
    _bq_values = ", ".join(
        f"({qid}, '{text}')" for qid, text in BATCH_QUERIES
    )
    # percolation: conjunctive (query, doc) matches with coverage + tf
    out["percolate_matches"] = _TOK + f"""
    , q AS (SELECT * FROM (VALUES {_bq_values}) t(query_id, text)),
    qt AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT query_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM q)
      WHERE strlen(term) BETWEEN 2 AND 8),
    nt AS (SELECT query_id, count(*)::BIGINT AS n FROM qt GROUP BY 1),
    m AS (
      SELECT qt.query_id, tf.doc_id,
             count(*)::BIGINT AS n_matched, sum(tf.tf)::BIGINT AS tf
      FROM tf JOIN qt USING (term)
      GROUP BY 1, 2)
    SELECT m.query_id, m.doc_id, m.n_matched, m.tf
    FROM m JOIN nt USING (query_id)
    WHERE m.n_matched = nt.n"""
    _batch_core = _TOK + f"""
    , q AS (SELECT * FROM (VALUES {_bq_values}) t(query_id, text)),
    qt AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT query_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM q)
      WHERE strlen(term) BETWEEN 2 AND 8),
    perqd AS (
      SELECT qt.query_id, tf.doc_id,
             sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS score
      FROM tf
      JOIN qt USING (term)
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM perqd)
    """
    out["batch_search"] = _batch_core + f"""
    SELECT query_id, doc_id, round(score, 4) AS score, rank::BIGINT AS rank
    FROM ranked WHERE rank <= {BATCH_K}
    ORDER BY query_id, rank"""
    # offline eval of the batch results against conjunctive-match qrels
    out["batch_metrics"] = _batch_core + f"""
    , results AS (
      SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {BATCH_K}),
    nq AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY 1),
    qrels AS (
      SELECT qt.query_id, tf.doc_id
      FROM tf JOIN qt USING (term)
      GROUP BY qt.query_id, tf.doc_id
      HAVING count(*) = (SELECT n_terms FROM nq
                         WHERE nq.query_id = qt.query_id)),
    reln AS (SELECT query_id, count(*)::BIGINT AS n_rel
             FROM qrels GROUP BY 1),
    hits AS (
      SELECT r.query_id, count(*)::BIGINT AS n_hit,
             min(r.rank) AS first_rank,
             sum(1.0 / (ln(r.rank + 1.0) / ln(2.0))) AS dcg
      FROM results r JOIN qrels USING (query_id, doc_id)
      GROUP BY 1),
    ideal AS (
      SELECT query_id, n_rel,
             (SELECT sum(1.0 / (ln(i + 1.0) / ln(2.0)))
              FROM unnest(range(1, least(n_rel, {BATCH_K})::BIGINT + 1))
                   t(i)) AS idcg
      FROM reln)
    SELECT ideal.query_id, ideal.n_rel,
           coalesce(hits.n_hit, 0)::BIGINT AS n_hit,
           round(coalesce(hits.n_hit, 0) / ideal.n_rel::DOUBLE, 6)
             AS recall_at_k,
           round(coalesce(1.0 / hits.first_rank, 0.0), 6) AS mrr,
           round(coalesce(hits.dcg / ideal.idcg, 0.0), 6) AS ndcg_at_k
    FROM ideal LEFT JOIN hits USING (query_id)
    ORDER BY query_id"""
    # LTR feature matrix: batch retrieval (feature aggregates fused
    # into the scoring aggregation) + quality heuristic (all-token
    # law) + pagerank prior (unrolled power iteration as CTEs)
    out["ltr_features"] = _TOK + f"""
    , q AS (SELECT * FROM (VALUES {_bq_values}) t(query_id, text)),
    qt AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT query_id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM q)
      WHERE strlen(term) BETWEEN 2 AND 8),
    nt AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt
           GROUP BY 1),
    perqd AS (
      SELECT qt.query_id, tf.doc_id,
             sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS score,
             count(*)::BIGINT AS n_matched,
             sum(tf.tf)::BIGINT AS sum_tf,
             max(tf.tf)::BIGINT AS max_tf,
             sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)))
               AS sum_idf,
             max(dl.dl)::BIGINT AS dl
      FROM tf
      JOIN qt USING (term)
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
      FROM perqd),
    cand AS (SELECT * FROM ranked WHERE rank <= {BATCH_K}),
    tokq AS (SELECT doc_id, term FROM tok0 WHERE strlen(term) > 0),
    qual AS (
      SELECT doc_id,
             round(least(count(*) / 100.0, 1.0)
                   * (0.5 + avg(CASE WHEN term IN
                                ('the','a','of','and','to')
                                THEN 1 ELSE 0 END)), 4) AS quality
      FROM tokq GROUP BY doc_id),
    {_pagerank_oracle_sql(as_cte=True)},
    pri AS (SELECT id AS doc_id, round(r, 6) AS prior FROM r3)
    SELECT cand.query_id, cand.doc_id, cand.rank::BIGINT AS rank,
           round(cand.score, 4) AS bm25, cand.n_matched,
           round(cand.n_matched / nt.n_terms::DOUBLE, 4) AS coverage,
           cand.sum_tf, cand.max_tf,
           round(cand.sum_idf, 4) AS sum_idf,
           cand.dl, round(cand.dl / stats.avgdl, 4) AS dl_norm,
           coalesce(qual.quality, 0.0) AS quality,
           coalesce(pri.prior, 0.0) AS prior
    FROM cand JOIN nt USING (query_id) CROSS JOIN stats
    LEFT JOIN qual ON qual.doc_id = cand.doc_id
    LEFT JOIN pri ON pri.doc_id = cand.doc_id"""
    # bigram LM training + perplexity scoring (operators/lm.py laws)
    _lm_core = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> strlen(x) > 0) AS arr
      FROM documents),
    bg0 AS (
      SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
      FROM (SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - 1)) AS i
            FROM t)),
    bg AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS tf
           FROM bg0 GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, sum(tf)::BIGINT AS n12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(n12)::BIGINT AS n1 FROM c12 GROUP BY 1),
    voc AS (SELECT count(DISTINCT tok)::BIGINT AS v
            FROM (SELECT unnest(arr) AS tok FROM t)),
    lm AS (SELECT c12.w1, c12.w2,
                  ln((n12 + 0.5) / (n1 + 0.5 * voc.v)) AS logprob
           FROM c12 JOIN c1 USING (w1) CROSS JOIN voc),
    per AS (
      SELECT bg.doc_id, sum(bg.tf)::BIGINT AS n_bigrams,
             sum(bg.tf * lm.logprob) / sum(bg.tf) AS avg_lp
      FROM bg JOIN lm USING (w1, w2)
      GROUP BY 1)"""
    out["lm_perplexity"] = _lm_core + """
    SELECT doc_id, n_bigrams, round(avg_lp, 6) AS avg_logprob,
           round(exp(-avg_lp), 4) AS ppl
    FROM per"""
    out["lm_filter"] = _lm_core + f"""
    , scored AS (SELECT doc_id, round(exp(-avg_lp), 4) AS ppl FROM per),
    nsc AS (SELECT count(*)::BIGINT AS n FROM scored),
    rk AS (SELECT doc_id, ppl,
                  row_number() OVER (ORDER BY ppl, doc_id) AS rank
           FROM scored)
    SELECT doc_id, ppl, rank::BIGINT AS rank
    FROM rk CROSS JOIN nsc
    WHERE rank <= floor({LM_FILTER_Q} * n)"""
    # duplicate-span masking: gram -> cross-doc dup -> coverage ->
    # per-doc reconstruction (dedup.dup_span_mask laws; the oracle
    # groups by the raw gram string — hashing is only a shuffle-size
    # optimization, the partition it induces is identical)
    out["dup_span_mask"] = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> strlen(x) > 0) AS arr
      FROM documents),
    occ AS (
      SELECT doc_id, i AS pos,
             array_to_string(arr[i:i + {DUP_SPAN_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - {DUP_SPAN_N - 1}))
                     AS i
            FROM t)),
    dup AS (SELECT gram FROM occ GROUP BY gram
            HAVING min(doc_id) <> max(doc_id)),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS p
      FROM (SELECT o.doc_id, o.pos,
                   unnest(generate_series(0, {DUP_SPAN_N - 1})) AS j
            FROM occ o JOIN dup USING (gram))),
    tok AS (SELECT doc_id, i AS p, arr[i] AS tokn
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr))) AS i
                  FROM t)),
    surv AS (
      SELECT tok.doc_id, tok.p, tok.tokn
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
                            AND tok.p = cov.p
      WHERE cov.p IS NULL),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                   string_agg(tokn, ' ' ORDER BY p) AS clean_text
            FROM surv GROUP BY doc_id),
    base AS (SELECT doc_id, len(arr)::BIGINT AS n_tokens FROM t)
    SELECT base.doc_id, base.n_tokens,
           (base.n_tokens - coalesce(agg.n_kept, 0))::BIGINT AS n_masked,
           CASE WHEN base.n_tokens > 0
                THEN round((base.n_tokens - coalesce(agg.n_kept, 0))
                           / base.n_tokens::DOUBLE, 4)
                ELSE 0.0 END AS dup_ratio,
           coalesce(agg.clean_text, '') AS clean_text
    FROM base LEFT JOIN agg USING (doc_id)"""
    # PMI collocations over the same in-array bigram law
    out["pmi_collocations"] = rf"""
    WITH t AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> strlen(x) > 0) AS arr
      FROM documents),
    bg0 AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2
      FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
            FROM t)),
    bg AS (SELECT w1, w2, count(*)::BIGINT AS n12 FROM bg0 GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(n12)::BIGINT AS n1 FROM bg GROUP BY 1),
    c2 AS (SELECT w2, sum(n12)::BIGINT AS n2 FROM bg GROUP BY 1),
    tot AS (SELECT sum(n12)::BIGINT AS nn FROM bg)
    SELECT bg.w1, bg.w2, bg.n12,
           round(ln(bg.n12::DOUBLE * tot.nn::DOUBLE
                    / (c1.n1::DOUBLE * c2.n2::DOUBLE)), 4) AS pmi
    FROM bg JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
    WHERE bg.n12 >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2 LIMIT 20"""
    # winnowing: kgram md5-32 hashes -> frame-bounded window min ->
    # distinct fingerprints; pairs via capped self-join
    _winnow_core = rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> strlen(x) > 0) AS arr
      FROM documents),
    g AS (
      SELECT doc_id, len(arr) - {WINNOW_K - 1} AS nk, i AS pos,
             ('0x' || substr(md5(
                array_to_string(arr[i:i + {WINNOW_K - 1}], ' ')
              ), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - {WINNOW_K - 1}))
                     AS i
            FROM t
            WHERE len(arr) >= {WINNOW_K})),
    wm AS (
      SELECT doc_id, pos, nk,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM g),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wm
      WHERE pos <= greatest(nk - {WINNOW_W - 1}, 1))"""
    out["winnow_fingerprints"] = _winnow_core + """
    SELECT doc_id, fp FROM fps"""
    out["winnow_pairs"] = _winnow_core + f"""
    , cold AS (SELECT fp FROM fps GROUP BY fp
               HAVING count(*) <= {WINNOW_FP_DF}),
    cf AS (SELECT fps.doc_id, fps.fp FROM fps JOIN cold USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*)::BIGINT AS n_shared
    FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_SHARED}"""
    # BPE iteration-0 statistics: direct SQL twin (character pairs of
    # the word-count table, weighted; unicode substr on both sides)
    out["bpe_pair_counts"] = r"""
    WITH tok AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '\s+'),
               x -> strlen(x) > 0)) AS word
      FROM documents),
    wc AS (SELECT word, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
    pr AS (
      SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, cnt
      FROM (SELECT word, cnt,
                   unnest(generate_series(1, strlen(word) - 1)) AS i
            FROM wc))
    SELECT l AS "left", r AS "right", sum(cnt)::BIGINT AS n
    FROM pr GROUP BY 1, 2"""
    # full BPE learning + segmentation: iterative law -> fixture
    # parquet written by the pure-Python twin (pages_bm25 pattern)
    out["incr_neardup"], out["incr_novel"] = _incr_oracle_sqls()
    out["hits_scores"] = _hits_oracle_sql()
    out["click_distance"] = _click_distance_oracle_sql()
    out["trustrank"] = _trustrank_oracle_sql()
    # X117 relative spam mass: both priors' full unrolled oracles
    # nested as derived CTEs, fused from the same ROUNDED vectors the
    # engine caches
    out["spam_mass"] = f"""
    WITH pr AS ({_pagerank_oracle_sql()}),
         tr AS ({_trustrank_oracle_sql()})
    SELECT pr.doc_id, pr.rank, tr.trust,
           round((pr.rank - tr.trust) / greatest(pr.rank, 1e-12), 6)
             AS spam_mass
    FROM pr JOIN tr USING (doc_id)
    ORDER BY round((pr.rank - tr.trust) / greatest(pr.rank, 1e-12), 6)
             DESC, doc_id
    LIMIT 50"""
    # crawl scheduling: pagerank + click-distance unrolled CTEs share
    # one graph law (cd*/cnd* names keep the click recursion clear of
    # the pagerank CTEs), then the politeness window + ordered cut
    _inf = 1 << 30
    _cd = ""
    for _k in range(1, 5):
        _j = _k - 1
        _cd += f""",
    cnd{_k} AS (
      SELECT e.dst AS id, min(cd{_j}.d) + 1 AS nd
      FROM e JOIN cd{_j} ON e.src = cd{_j}.id GROUP BY e.dst),
    cd{_k} AS (
      SELECT cd{_j}.id,
             least(cd{_j}.d, coalesce(cnd{_k}.nd, {_inf})) AS d
      FROM cd{_j} LEFT JOIN cnd{_k} ON cd{_j}.id = cnd{_k}.id)"""
    out["crawl_schedule"] = f"""
    WITH {_pagerank_oracle_sql(as_cte=True).lstrip()},
    cd0 AS (
      SELECT id, CASE WHEN id % 23 = 0 THEN 0
                      ELSE {_inf} END::BIGINT AS d
      FROM v){_cd},
    u AS (
      SELECT doc_id,
             'site' || (doc_id % 97)::VARCHAR
             || CASE doc_id % 4 WHEN 0 THEN '.example.cn'
                                WHEN 1 THEN '.example.com'
                                WHEN 2 THEN '.example.de'
                                ELSE '.example.org' END AS host
      FROM documents),
    jj AS (
      SELECT u.doc_id, u.host, cd4.d AS dist, round(r3.r, 6) AS rank
      FROM u JOIN cd4 ON u.doc_id = cd4.id JOIN r3 ON u.doc_id = r3.id
      WHERE cd4.d < {_inf}),
    s AS (
      SELECT *, row_number() OVER (
        PARTITION BY host ORDER BY dist, rank DESC, doc_id) AS slot
      FROM jj)
    SELECT doc_id, host, dist, rank, slot FROM s
    WHERE slot <= 1
    ORDER BY dist, rank DESC, doc_id LIMIT 50"""
    # bloom filter: identical hash law (md5('bloom{i}:'||url) 60-bit
    # prefix mod m), 32-bit words via bit_or, all-k-bits membership
    out["bloom_seen"] = (
        _SYNTH_URLS_SQL.rstrip()
        + """,
    pe AS (SELECT url, unnest([0, 1, 2, 3]) AS i FROM synth
           WHERE doc_id % 2 = 0),
    pos AS (
      SELECT ('0x' || substr(md5('bloom' || i::VARCHAR || ':' || url),
                             1, 15))::BIGINT % 4096 AS p
      FROM pe),
    words AS (
      SELECT p // 32 AS word_idx,
             bit_or((1::BIGINT << (p % 32))::BIGINT) AS bits
      FROM pos GROUP BY 1),
    qe AS (SELECT doc_id, url, unnest([0, 1, 2, 3]) AS i FROM synth),
    qp AS (
      SELECT doc_id, url,
             ('0x' || substr(md5('bloom' || i::VARCHAR || ':' || url),
                             1, 15))::BIGINT % 4096 AS p
      FROM qe),
    hit AS (
      SELECT qp.doc_id, qp.url,
             (sum(CASE WHEN (coalesce(w.bits, 0)
                             & (1::BIGINT << (qp.p % 32))) <> 0
                       THEN 1 ELSE 0 END) = 4)::BIGINT AS in_bloom
      FROM qp LEFT JOIN words w ON qp.p // 32 = w.word_idx
      GROUP BY qp.doc_id, qp.url)
    SELECT doc_id, url, in_bloom, (doc_id % 2 = 0)::BIGINT AS seen
    FROM hit"""
    )
    # recrawl scheduling: identical synthetic history + the Cho &
    # Garcia-Molina estimator re-derived in SQL (window lag -> change
    # flags -> per-url aggregate -> smoothed -ln rate)
    out["recrawl_priority"] = (
        _SYNTH_URLS_SQL.rstrip()
        + f""",
    h AS (SELECT url, doc_id, unnest(range(0, 2 + doc_id % 4)) AS i
          FROM synth),
    obs AS (
      SELECT url,
             (1136073600 + i * (6 + doc_id % 7) * 3600)::BIGINT AS ts_s,
             'v' || (i // (1 + doc_id % 3))::VARCHAR AS fp
      FROM h),
    fl AS (
      SELECT url, ts_s, fp,
             CASE WHEN fp <> lag(fp) OVER
                       (PARTITION BY url ORDER BY ts_s)
                  THEN 1 ELSE 0 END AS chg
      FROM obs),
    agg AS (
      SELECT url, count(*)::BIGINT AS n_obs,
             sum(chg)::BIGINT AS n_changes,
             min(ts_s) AS f, max(ts_s) AS l
      FROM fl GROUP BY url),
    calc AS (
      SELECT url, n_obs, n_changes,
             -ln((n_obs - 1 - n_changes + 0.5) / (n_obs - 1 + 0.5))
               / ((l - f) / 3600.0 / (n_obs - 1)) AS lam,
             ({_RECRAWL_NOW} - l) / 3600.0 AS stale
      FROM agg)
    SELECT url, n_obs, n_changes, round(lam, 6) AS change_rate,
           round(stale, 4) AS staleness_h,
           round(lam * stale, 4) AS priority
    FROM calc"""
    )
    # sitemap parse: the oracle never re-parses XML — it derives the
    # expected (loc, lastmod, changefreq, priority) rows straight from
    # the synthesis law, so a hash match proves the generate->parse
    # round trip through the JVM regexp pipeline
    out["sitemap_entries"] = (
        _SYNTH_URLS_SQL.rstrip()
        + """
    SELECT 'http://' || host || '/sitemap.xml' AS sitemap_url,
           url,
           '2006-01-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
             AS lastmod,
           CASE doc_id % 6
             WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
             WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly'
             WHEN 4 THEN 'monthly' ELSE 'yearly' END AS changefreq,
           ('0.' || (doc_id % 10)::VARCHAR)::DOUBLE AS priority
    FROM synth"""
    )
    # hinted recrawl: observed urls (even doc_ids) re-derive the Cho &
    # Garcia-Molina estimate; hint-only urls score by the sitemap
    # changefreq->rate prior aged by lastmod; full outer join merges
    # both onto one rate*staleness scale (mirrors
    # crawl.recrawl_priority_with_hints rounding exactly: rate
    # pre-rounded to 6, staleness to 4 on the observed side only,
    # priority = round(rate*stale, 4) over the rounded inputs)
    out["recrawl_hinted"] = (
        _SYNTH_URLS_SQL.rstrip()
        + f""",
    h AS (SELECT url, doc_id, unnest(range(0, 2 + doc_id % 4)) AS i
          FROM synth WHERE doc_id % 2 = 0),
    obs0 AS (
      SELECT url,
             (1136073600 + i * (6 + doc_id % 7) * 3600)::BIGINT AS ts_s,
             'v' || (i // (1 + doc_id % 3))::VARCHAR AS fp
      FROM h),
    fl AS (
      SELECT url, ts_s, fp,
             CASE WHEN fp <> lag(fp) OVER
                       (PARTITION BY url ORDER BY ts_s)
                  THEN 1 ELSE 0 END AS chg
      FROM obs0),
    agg AS (
      SELECT url, count(*)::BIGINT AS n_obs,
             sum(chg)::BIGINT AS n_changes,
             min(ts_s) AS f, max(ts_s) AS l
      FROM fl GROUP BY url),
    obs AS (
      SELECT url,
             round(-ln((n_obs - 1 - n_changes + 0.5) / (n_obs - 1 + 0.5))
                   / ((l - f) / 3600.0 / (n_obs - 1)), 6) AS change_rate,
             round(({_RECRAWL_NOW} - l) / 3600.0, 4) AS staleness_h
      FROM agg),
    hint AS (
      SELECT url,
             round(CASE doc_id % 6
               WHEN 0 THEN 1.0 WHEN 1 THEN 1.0
               WHEN 2 THEN 1.0/24 WHEN 3 THEN 1.0/168
               WHEN 4 THEN 1.0/720 ELSE 1.0/8760 END, 6) AS hint_rate,
             (DATE '2006-05-01'
              - ('2006-01-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
                )::DATE) * 24.0 AS hint_age_h
      FROM synth),
    j AS (
      SELECT coalesce(obs.url, hint.url) AS url,
             CASE WHEN obs.change_rate IS NOT NULL THEN 'observed'
                  WHEN hint.hint_rate IS NOT NULL THEN 'hint'
                  ELSE 'none' END AS source,
             coalesce(obs.change_rate, hint.hint_rate) AS rate,
             CASE WHEN obs.change_rate IS NOT NULL THEN obs.staleness_h
                  ELSE hint.hint_age_h END AS staleness_h
      FROM obs FULL OUTER JOIN hint ON obs.url = hint.url)
    SELECT url, source, rate, staleness_h,
           round(rate * staleness_h, 4) AS priority
    FROM j"""
    )
    # boilerplate strip: synthesis (12-token lines + injected
    # header/footer) and the df>=3 line-strip law mirrored verbatim
    out["strip_boilerplate"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    body AS (
      SELECT doc_id,
             array_to_string(
               list_transform(range(0, ((len(toks) - 1) // 12) + 1),
                 i -> array_to_string(toks[i * 12 + 1 : i * 12 + 12],
                                      ' ')),
               chr(10)) AS b
      FROM w),
    synth AS (
      SELECT doc_id,
             concat_ws(chr(10),
               CASE WHEN doc_id % 3 = 0 THEN '{BP_HEADER}' END,
               b,
               CASE WHEN doc_id % 5 = 0 THEN '{BP_FOOTER}' END) AS t
      FROM body),
    lx AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM synth),
    li AS (
      SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos
      FROM lx),
    l2 AS (SELECT doc_id, pos, ls[pos] AS line FROM li),
    bp AS (
      SELECT line FROM l2 GROUP BY line
      HAVING count(DISTINCT doc_id) >= 3),
    kept AS (
      SELECT doc_id, pos, line FROM l2
      WHERE line NOT IN (SELECT line FROM bp)),
    tot AS (SELECT doc_id, count(*) AS n_lines FROM l2 GROUP BY doc_id),
    rec AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT tot.doc_id,
           coalesce(rec.clean_text, '') AS clean_text,
           (tot.n_lines - coalesce(rec.n_kept, 0))::BIGINT AS n_removed
    FROM tot LEFT JOIN rec ON tot.doc_id = rec.doc_id"""
    # canonical-URL dedup: variant synthesis + the canon law
    # (fragment drop, authority lowercase, :80 strip, tracking-param
    # filter, param sort) mirrored step for step
    out["url_canonical"] = """
    WITH s AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'http://site' || (doc_id % 7)::VARCHAR
                 || '.example.com/p/' || (doc_id % 11)::VARCHAR
                 || '?b=2&a=1'
               WHEN 1 THEN 'HTTP://SITE' || (doc_id % 7)::VARCHAR
                 || '.EXAMPLE.COM:80/p/' || (doc_id % 11)::VARCHAR
                 || '?a=1&b=2&utm_source=news'
               WHEN 2 THEN 'http://site' || (doc_id % 7)::VARCHAR
                 || '.example.com/p/' || (doc_id % 11)::VARCHAR
                 || '?a=1&utm_campaign=x&b=2#frag'
               ELSE 'http://site' || (doc_id % 7)::VARCHAR
                 || '.example.com:80/p/' || (doc_id % 11)::VARCHAR
                 || '?gclid=xyz&b=2&a=1'
             END AS url
      FROM documents),
    c1 AS (SELECT doc_id, url,
                  regexp_replace(url, '#.*$', '') AS u FROM s),
    c2 AS (SELECT *, regexp_extract(u, '^([^/]*//[^/]*)', 1) AS pre
           FROM c1),
    c3 AS (SELECT *, substr(u, length(pre) + 1) AS rest FROM c2),
    c4 AS (SELECT *,
                  regexp_replace(lower(pre), ':80$', '')
                    || regexp_replace(rest, '\\?.*$', '') AS base,
                  regexp_extract(rest, '\\?(.*)$', 1) AS qs
           FROM c3),
    c5 AS (SELECT *,
                  list_sort(list_filter(string_split(qs, '&'),
                    p -> p <> '' AND NOT (
                      substr(p, 1, 4) IN ('utm_', 'ref=')
                      OR substr(p, 1, 7) = 'fbclid='
                      OR substr(p, 1, 6) = 'gclid='))) AS ps
           FROM c4),
    c6 AS (SELECT doc_id, url,
                  CASE WHEN len(ps) > 0
                       THEN base || '?' || array_to_string(ps, '&')
                       ELSE base END AS canon_url
           FROM c5),
    g AS (SELECT canon_url, count(*)::BIGINT AS group_size,
                 min(url) AS rep
          FROM c6 GROUP BY canon_url)
    SELECT c6.doc_id, c6.url, c6.canon_url, g.group_size,
           (c6.url = g.rep)::BIGINT AS keep
    FROM c6 JOIN g USING (canon_url)"""
    _bpe_fx = _bpe_oracle_fixtures()
    if _bpe_fx:
        out["bpe_merges"] = f"""
        SELECT rank::BIGINT AS rank, "left", "right", pair,
               count::BIGINT AS count
        FROM read_parquet('{_bpe_fx[0]}')"""
        out["bpe_segment"] = f"""
        SELECT word, count::BIGINT AS count,
               n_pieces::BIGINT AS n_pieces, pieces
        FROM read_parquet('{_bpe_fx[1]}')"""
    # RM3 pseudo-relevance feedback: feedback-doc selection (base
    # BM25 top-n), aggregate tf-idf expansion (more_like_this's rounded
    # keyword law, tf summed over the feedback docs, query terms
    # excluded), weighted rescore (1.0 / lam folded into idf)
    out["bm25_rm3"] = _TOK + bm25_3 + f"""
    , fb AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
                 ORDER BY sum(s) DESC, doc_id) AS rn
        FROM perterm GROUP BY doc_id) WHERE rn <= {RM3_FB}),
    kw AS (
      SELECT term, df FROM (
        SELECT t2.term, t2.df,
               row_number() OVER (
                 ORDER BY round(t2.stf * ln(t2.n_docs / t2.df), 4)
                          DESC, t2.term) AS rank
        FROM (
          SELECT tf.term, dfreq.df, stats.n_docs,
                 sum(tf.tf) AS stf
          FROM tf JOIN fb USING (doc_id)
          JOIN dfreq USING (term) CROSS JOIN stats
          WHERE tf.term NOT IN ({terms3})
          GROUP BY tf.term, dfreq.df, stats.n_docs) t2
      ) WHERE rank <= {RM3_TERMS}),
    wts AS (
      SELECT term, 1.0 AS w FROM dfreq WHERE term IN ({terms3})
      UNION ALL SELECT term, {RM3_LAM} AS w FROM kw),
    perterm2 AS (
      SELECT tf.doc_id,
             wts.w * ln(1 + (stats.n_docs - dfreq.df + 0.5)
                            / (dfreq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               AS s
      FROM tf
      JOIN wts USING (term)
      JOIN dfreq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats)
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm2 GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    # federation over url-disjoint members with global stats must
    # equal the single-index full-corpus ranking
    out["wand_federated"] = _TOK + bm25_3 + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    # shard-selected federation with the zero-mass-only cut equals the
    # full federation, which equals the full-corpus ranking
    out["wand_selective"] = out["wand_federated"]
    # time-travel read of the tombstoned index's v1 (pre-delete) state:
    # must equal the full-corpus ranking exactly
    out["wand_snapshot"] = _TOK + bm25_3 + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    # overlap@10 pruned vs exhaustive — composed from the two oracles
    out["prune_recall"] = f"""
    WITH p AS ({out['static_prune_topk']}),
    f AS ({out['bm25_topk']})
    SELECT {K}::BIGINT AS k, count(*)::BIGINT AS n_hit,
           round(count(*) / {K}.0, 4) AS overlap
    FROM p JOIN f USING (doc_id)"""
    # time-travel as-of snapshot over the synthesized recrawl history
    out["pages_asof"] = f"""
    WITH v AS (
      SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS ver
      FROM documents),
    h AS (
      SELECT {_SYNTH_URL_EXPR} AS url, ver::BIGINT AS ver,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL 1 DAY * (ver * 30 + doc_id % 29) AS warc_ts
      FROM v),
    r AS (
      SELECT url, ver, warc_ts,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC) AS rn
      FROM h WHERE warc_ts <= TIMESTAMP '{ASOF_CUTOFF}')
    SELECT url, ver, warc_ts FROM r WHERE rn = 1"""
    # per-host curation scoreboard over the synth host law
    out["domain_stats"] = f"""
    WITH d AS (SELECT {_SYNTH_HOST_EXPR} AS host, lang, text, n_chars
               FROM documents)
    SELECT host, count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(text))::BIGINT AS n_unique,
           round(avg(n_chars), 4) AS mean_chars,
           count(DISTINCT lang)::BIGINT AS n_langs
    FROM d GROUP BY 1"""
    # facet sidebar: match set of the flagship terms, counts per facet
    out["facet_counts"] = _TOK + """
    , m AS (SELECT DISTINCT doc_id FROM tf
            WHERE term IN ('data', 'join', 'spark')),
    hit AS (SELECT d.lang, d.source FROM documents d JOIN m USING (doc_id))
    SELECT 'lang' AS facet, lang AS value, count(*)::BIGINT AS n_docs
    FROM hit GROUP BY 2
    UNION ALL
    SELECT 'source' AS facet, source AS value, count(*)::BIGINT AS n_docs
    FROM hit GROUP BY 2"""
    # index-only sidebar twin shares the declarative oracle
    out["wand_facets"] = out["facet_counts"]
    # recency fusion: top-50 candidates, rational decay, round-then-order
    # stemmed retrieval over the plural-augmented corpus: eligibility
    # filter, THEN the S-stem CASE (textops.s_stem_expr twin), then the
    # standard BM25 CTE chain under the same names so _BM25_SQL reuses
    def _stem(c: str) -> str:
        return f"""CASE
          WHEN length({c}) > 3 AND {c} LIKE '%ies' THEN
            CASE WHEN {c} LIKE '%eies' OR {c} LIKE '%aies' THEN {c}
                 ELSE substr({c}, 1, length({c}) - 3) || 'y' END
          WHEN length({c}) > 3 AND {c} LIKE '%es' THEN
            CASE WHEN {c} LIKE '%aes' OR {c} LIKE '%ees'
                      OR {c} LIKE '%oes' THEN {c}
                 ELSE substr({c}, 1, length({c}) - 1) END
          WHEN length({c}) > 3 AND {c} LIKE '%s' THEN
            CASE WHEN {c} LIKE '%us' OR {c} LIKE '%ss' THEN {c}
                 ELSE substr({c}, 1, length({c}) - 1) END
          ELSE {c} END"""

    stem_terms = ", ".join(f"'{t}'" for t in sorted(set(STEM_QUERY)))
    out["bm25_stemmed"] = (
        """
    WITH docs2 AS (
      SELECT doc_id,
             text || ' ' || CASE doc_id % 4
               WHEN 0 THEN 'queries' WHEN 1 THEN 'tables'
               WHEN 2 THEN 'keys' ELSE 'rows' END AS text
      FROM documents),
    tok0 AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+'))
               AS term
      FROM docs2),
    tokf AS (SELECT doc_id, term FROM tok0
             WHERE strlen(term) BETWEEN 2 AND 8),
    tok AS (SELECT doc_id, """
        + _stem("term")
        + """ AS term FROM tokf),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl)
    """
        + _BM25_SQL.format(terms=stem_terms)
        + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT {K}"""
    )
    # corpus-mined stopwords: df >= 0.75 * n_docs (0.75 exact in
    # binary, so the threshold is bit-identical in both engines)
    out["auto_stopwords"] = _TOK + """
    SELECT term, df,
           round(df::DOUBLE / stats.n_docs, 4) AS doc_frac
    FROM dfreq CROSS JOIN stats
    WHERE df::DOUBLE >= 0.75 * stats.n_docs"""
    # authority fusion: top-50 BM25 x PageRank prior (the prior CTEs
    # are the pagerank oracle verbatim; both engines fuse the rounded
    # prior, so the inputs are bit-identical)
    out["bm25_pagerank"] = (
        _TOK
        + bm25_3
        + """
    , cand AS (
      SELECT doc_id, sum(s) AS score
      FROM perterm GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id LIMIT 50),"""
        + _pagerank_oracle_sql(as_cte=True)
        + f"""
    SELECT c.doc_id,
           round(c.score * (1.0 + n.n * round(r.r, 6)), 4) AS score
    FROM cand c JOIN r3 r ON r.id = c.doc_id CROSS JOIN n
    ORDER BY round(c.score * (1.0 + n.n * round(r.r, 6)), 4) DESC,
             c.doc_id
    LIMIT {K}"""
    )
    # X118 entry-page prior: same candidate window, url-depth law
    out["bm25_urlprior"] = (
        _TOK
        + bm25_3
        + f"""
    , cand AS (
      SELECT doc_id, sum(s) AS score
      FROM perterm GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id LIMIT 50),
    u AS (SELECT doc_id, {_SYNTH_URL_EXPR} AS url FROM documents),
    pri AS (
      SELECT doc_id,
             (CASE WHEN url LIKE '%?%' THEN 0.5 ELSE 1.0 END)
               / (1.0 + (len(regexp_split_to_array(url, '/')) - 3))
               AS p
      FROM u)
    SELECT c.doc_id, round(c.score * pri.p, 4) AS score
    FROM cand c JOIN pri USING (doc_id)
    ORDER BY round(c.score * pri.p, 4) DESC, c.doc_id
    LIMIT {K}"""
    )
    # MMR diversified page: candidates + candidate-pair tf cosines,
    # then the greedy sweep unrolled one (pick, selected-set) CTE pair
    # per rank — the same first-match law as textops.mmr_rerank_py
    mmr_steps = []
    for t in range(1, K + 1):
        p = t - 1
        mmr_steps.append(
            f"""
    p{t} AS (
      SELECT c.doc_id, c.rel,
             {MMR_LAM} * c.rel - {1.0 - MMR_LAM} * coalesce((
               SELECT max(s.sim) FROM sims s JOIN sel{p} q
                 ON (s.doc_a = c.doc_id AND s.doc_b = q.doc_id)
                 OR (s.doc_b = c.doc_id AND s.doc_a = q.doc_id)),
               0.0) AS m
      FROM cand c
      WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{p})),
    pick{t} AS (SELECT doc_id, m FROM p{t}
                ORDER BY m DESC, doc_id LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT doc_id, rank, mmr FROM sel{p}
      UNION ALL
      SELECT doc_id, {t}::BIGINT, round(m, 4) FROM pick{t})"""
        )
    out["search_mmr"] = (
        _TOK
        + bm25_3
        + f"""
    , cand AS MATERIALIZED (
      SELECT doc_id, round(sum(s), 4) AS rel
      FROM perterm GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id LIMIT {MMR_CAND}),
    ptf AS (SELECT tf.* FROM tf JOIN cand USING (doc_id)),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.tf * b.tf)::BIGINT AS dot
      FROM ptf a JOIN ptf b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    n2 AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2
           FROM ptf GROUP BY 1),
    sims AS MATERIALIZED (
      SELECT d.doc_a, d.doc_b,
             round(d.dot::DOUBLE
                   / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 4)
               AS sim
      FROM dots d
      JOIN n2 na ON na.doc_id = d.doc_a
      JOIN n2 nb ON nb.doc_id = d.doc_b),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id,
                    CAST(0 AS BIGINT) AS rank, 0.0 AS mmr
             WHERE false),"""
        + ",".join(mmr_steps)
        + f"""
    SELECT rank, doc_id, mmr FROM sel{K}"""
    )
    out["bm25_fresh"] = _TOK + bm25_3 + """
    , cand AS (
      SELECT doc_id, sum(s) AS score
      FROM perterm GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id LIMIT 50)
    SELECT doc_id,
           round(score * 30.0 / (30.0 + (doc_id % 365)), 4) AS score
    FROM cand
    ORDER BY round(score * 30.0 / (30.0 + (doc_id % 365)), 4) DESC,
             doc_id
    LIMIT 10"""
    # duplicate-collapsed serving: best per fingerprint over top-50
    out["search_dedup"] = _TOK + bm25_3 + """
    , cand AS (
      SELECT doc_id, sum(s) AS score
      FROM perterm GROUP BY doc_id
      ORDER BY sum(s) DESC, doc_id LIMIT 50),
    fp AS (
      SELECT c.doc_id, c.score, md5(substr(d.text, 1, 16)) AS f,
             row_number() OVER (
               PARTITION BY md5(substr(d.text, 1, 16))
               ORDER BY c.score DESC, c.doc_id) AS rn
      FROM cand c JOIN documents d USING (doc_id))
    SELECT doc_id, round(score, 4) AS score FROM (
      SELECT doc_id, score FROM fp WHERE rn = 1
      ORDER BY score DESC, doc_id LIMIT 10)"""
    # related searches: within-match df over the same match set
    out["related_terms"] = _TOK + """
    , m AS (SELECT DISTINCT doc_id FROM tf
            WHERE term IN ('data', 'join', 'spark'))
    SELECT term, count(*)::BIGINT AS n_docs
    FROM tf JOIN m USING (doc_id)
    WHERE term NOT IN ('data', 'join', 'spark')
    GROUP BY term
    ORDER BY n_docs DESC, term LIMIT 10"""
    # facet-filtered BM25: corpus-wide stats, result set gated on lang
    out["bm25_filtered"] = _TOK + bm25_3 + f"""
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm
    WHERE doc_id IN (SELECT doc_id FROM documents
                     WHERE lang = '{FACET_LANG}')
    GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT 10"""
    # the facet-sidecar-served twin shares the declarative oracle
    out["wand_filtered"] = out["bm25_filtered"]
    # more-like-this: doc_keywords law picks the seed's top-5 terms,
    # then the standard BM25 law scores them with the seed excluded
    out["more_like_this"] = _TOK + f"""
    , kw AS (
      SELECT term, df FROM (
        SELECT tf.term, dfreq.df,
               row_number() OVER (
                 ORDER BY round(tf.tf * ln(stats.n_docs / dfreq.df), 4)
                          DESC, tf.term) AS rank
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        WHERE tf.doc_id = {MLT_DOC}
      ) WHERE rank <= 5),
    perterm AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n_docs - kw.df + 0.5) / (kw.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN kw USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      WHERE tf.doc_id <> {MLT_DOC})
    SELECT doc_id, round(sum(s), 4) AS score
    FROM perterm GROUP BY doc_id
    ORDER BY sum(s) DESC, doc_id LIMIT 10"""
    # the index-served MLT twin shares the declarative oracle
    out["wand_mlt"] = out["more_like_this"]
    # cold shared-cache serving must equal the exhaustive BM25
    out["wand_sharedcache"] = out["wand_topk"]
    # X107: the result-cache tier must answer with the exhaustive law
    out["wand_result_cached"] = out["wand_topk"]
    # X102 serving tier: the quantized SHARDS answer with the same law
    # as the declarative quantized ranking
    out["wand_quantized"] = out["quantized_topk"]
    pages_sql = _pages_bm25_oracle_sql()
    if pages_sql:
        out["pages_bm25"] = pages_sql
    return out
