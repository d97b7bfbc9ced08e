"""Plan-shape assertions for the training-pipeline operators added in
round 3: the scale claims in their docstrings (no shuffle / broadcast
join / per-shard windows) checked against the physical plan Catalyst
actually produces, so a refactor that silently regresses the plan
fails here before it costs anything at 100 TB."""

from pyspark.sql import functions as F

from tse_spark.operators import dedup, sampling, textops


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=64):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 7).cast("string")).alias(
            "text"
        ),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )


def test_mix_sample_is_shuffle_free(spark):
    plan = _plan(sampling.mix_sample(_docs(spark), {"src0": 0.5}))
    assert "Exchange" not in plan  # pure map-side filter over the scan


def test_pii_redact_is_shuffle_free(spark):
    plan = _plan(textops.pii_redact(_docs(spark)))
    assert "Exchange" not in plan


def test_mix_report_is_one_hash_agg(spark):
    plan = _plan(sampling.mix_report(_docs(spark), {"src0": 0.5}))
    # partial agg -> single key exchange -> final agg; never a sort-agg
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortAggregate" not in plan


def test_contamination_broadcasts_bench_grams(spark):
    d = _docs(spark)
    bench = d.filter(F.col("doc_id") % 16 == 0)
    train = d.filter(F.col("doc_id") % 16 != 0)
    plan = _plan(dedup.ngram_contamination(train, bench, n=2))
    # the corpus side must stream through a broadcast join — a
    # sort-merge join here would shuffle every training gram
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_never_sorts_globally(spark):
    plan = _plan(sampling.pack_sequences(_docs(spark), budget=16,
                                         n_shards=4))
    # the running-offset window partitions by shard: shards stay
    # independent, so no single-partition exchange (a global sort
    # would serialize the whole corpus through one task)
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_facet_counts_is_one_agg_all_facets(spark):
    d = _docs(spark).withColumn(
        "lang", F.concat(F.lit("l"), (F.col("doc_id") % 2).cast("string"))
    )
    matches = d.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    out = textops.facet_counts(matches, d, ["lang", "source"])
    plan = _plan(out)  # before execution: single (non-AQE-final) section
    rows = {(r.facet, r.value): r.n_docs for r in out.collect()}
    # 64 docs, every 3rd matches -> 22 hits; lang = doc_id%2 over
    # multiples of 3 alternates, source = doc_id%3 == 0 -> all src0
    assert rows[("source", "src0")] == 22
    assert rows[("lang", "l0")] + rows[("lang", "l1")] == 22
    # ONE hash aggregate over the stacked (facet, value) pairs — never
    # one job/exchange per facet column
    assert plan.count("Exchange hashpartitioning(facet") == 1


def test_facet_counts_rejects_injection(spark):
    d = _docs(spark)
    import pytest

    with pytest.raises(ValueError):
        textops.facet_counts(d.select("doc_id"), d, ["lang, text"])


def test_batch_search_never_shuffles_the_index_side(spark, tmp_path):
    """batch_search_topk's scale claim: the posting scan and the
    decoded relation are filtered/joined via BROADCAST builds of the
    query-side relations — no SortMergeJoin anywhere, so the only
    full-relation exchanges are the per-(query_id, doc_id) aggregation
    and the per-query window (plus tiny query-side dedup aggs)."""
    from tse_spark.operators import batchsearch as bs
    from tse_spark.plans import pipeline as pl

    out = str(tmp_path / "bidx")
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=2
    )
    h = pipe.run_from_docs(_docs(spark), input_key="plan", resume=False)
    q = spark.createDataFrame(
        [(0, "tok1 tok2"), (1, "tok3")], "query_id long, text string"
    )
    df = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, q, 5
    )
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # the decoded index relation feeds the partial aggregate directly:
    # no exchange may sit between the decode and the first HashAggregate
    decode_at = plan.index("MapInPandas")
    first_agg_above = plan.rindex("HashAggregate", 0, decode_at)
    seg = plan[first_agg_above:decode_at]
    assert "Exchange" not in seg.split("BroadcastHashJoin")[0]


def test_ltr_features_no_corpus_rescan_for_features(spark, tmp_path):
    """ltr_features' scale claims: (a) like batch retrieval, the index
    side never SortMergeJoins — query relations ride in as broadcast
    builds; (b) the quality/prior feature joins run against the
    BROADCAST candidate set (docs semi-joined, priors inner-joined),
    so after the top-k window no full-corpus relation is exchanged."""
    from tse_spark.operators import ltr
    from tse_spark.plans import pipeline as pl

    out = str(tmp_path / "lidx")
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=2
    )
    d = _docs(spark)
    h = pipe.run_from_docs(d, input_key="ltrplan", resume=False)
    q = spark.createDataFrame(
        [(0, "tok1 tok2"), (1, "tok3")], "query_id long, text string"
    )
    priors = d.select("doc_id", (F.col("doc_id") * 0.001).alias("prior"))
    df = ltr.ltr_features(
        h.postings, h.term_stats, h.n_docs, h.avgdl, q, d,
        priors=priors, k=5,
    )
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    # docs->quality and priors join through broadcast candidate ids
    assert "BroadcastHashJoin" in plan
    assert plan.count("LeftSemi, BuildRight") >= 1
    # and the result is actually right: every candidate has features
    rows = df.collect()
    assert rows and all(r["n_matched"] >= 1 for r in rows)
    assert all(0 < r["coverage"] <= 1.0 for r in rows)
    assert all(r["quality"] > 0 for r in rows)


def test_crawl_budget_adds_no_shuffle(spark):
    from tse_spark.operators import crawl

    ranks = spark.range(32).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.col("id").cast("double") / 496.0).alias("rank"),
    )
    plan = _plan(crawl.crawl_budget(ranks, 100_000, 10, 5000))
    # pure per-row arithmetic over the rank table
    assert "Exchange" not in plan


def test_clarity_broadcasts_topk_into_tf(spark):
    from tse_spark.operators import qpp

    tf = spark.range(256).select(
        (F.col("id") % 64).alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 17).cast("string")).alias(
            "term"
        ),
        F.lit(2).alias("tf"),
    )
    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    plan = _plan(qpp.clarity(tf, ids))
    # the k-row retrieved set must broadcast into the corpus-sized tf
    # probe — a sort-merge join here would shuffle the whole tf table
    assert "BroadcastHashJoin" in plan


def test_vocab_growth_two_aggs_no_sort_agg(spark):
    from tse_spark.operators import corpuslaws as cl

    tf = spark.range(256).select(
        (F.col("id") % 64).alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 17).cast("string")).alias(
            "term"
        ),
        F.lit(1).alias("tf"),
    )
    plan = _plan(cl.vocab_growth(tf, 64))
    # corpus-sized aggregations (token-per-decile, first-doc-per-term,
    # decile rollups) stay hash-based, the tiny decile frame broadcasts
    # into both join legs, and the only single-partition exchange is
    # the 10-row cumulative window — never a corpus-sized sort
    assert "SortAggregate" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("SinglePartition") == 1


# ---------------------------------------------------------------------------
# round-4 continuation operators (X101-X113)
# ---------------------------------------------------------------------------

def test_codec_advisor_is_pure_codegen(spark):
    """X113: the advisor's byte laws are closed-form columns — no
    Python UDF may appear in the plan (a UDF here would put the whole
    vocabulary through Arrow for arithmetic codegen does for free)."""
    from tse_spark.operators import index_build as ib
    from tse_spark.operators import intcodec as ic

    tf = ib.build_tf_ws(_docs(spark))
    plan = _plan(ic.codec_advisor(tf))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_ql_topk_broadcasts_stats_and_prunes_tf(spark):
    """X106: collection stats join in as broadcasts; the tf scan
    carries the pushed-down query-term IN filter."""
    from tse_spark.operators import index_build as ib

    tf = ib.build_tf_ws(_docs(spark))
    doclen = ib.build_doclen(tf)
    plan = _plan(
        ib.ql_dirichlet_topk(spark, tf, doclen, ["tok1", "tok2"], 5)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "tok1" in plan  # IN filter reached the plan


def test_taat_quit_no_extra_shuffle_class(spark):
    """X109: the accumulator gate adds only broadcast joins on top of
    the per-term scoring aggregation — the step/eligibility relations
    (<= #terms rows) must never arrive via SortMergeJoin."""
    from tse_spark.operators import index_build as ib

    tf = ib.build_tf_ws(_docs(spark))
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    plan = _plan(
        ib.accumulator_limited_topk(
            spark, tf, doclen, dfreq, n, avgdl, ["tok1", "tok2"], 5, 10
        )
    )
    assert "SortMergeJoin" not in plan


def test_quantized_search_pushes_term_filter(spark):
    """X112: the pushed-down term IN must gate the shard rows BEFORE
    the per-shard Arrow UDF (the UDF then only ever decodes the query
    terms' blobs)."""
    from tse_spark.operators import quantize as qz

    qp = spark.createDataFrame(
        [("tok1", 0, 1, bytearray(b""))],
        "term string, shard long, df long, qblocks binary",
    )
    plan = _plan(qz.quantized_search(qp, ["tok1"], 5))
    assert "FlatMapGroupsInPandas" in plan
    i_filter = plan.find("tok1")
    i_udf = plan.find("FlatMapGroupsInPandas")
    assert 0 <= i_filter, "term filter missing from the plan"
    # executedPlan prints top-down: the UDF node appears before (above)
    # its filter child, so the filter index must be GREATER (deeper)
    assert i_filter > i_udf


def test_rrf_fuse_is_union_plus_one_agg(spark):
    """X101: fusion is a union of the legs into ONE hash aggregation —
    no join of any kind (a full outer would force a sort-merge even on
    k-row legs, which is why the operator avoids the textbook form)."""
    from tse_spark.operators import fusion

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    plan = _plan(fusion.rrf_fuse([a, b], k=5))
    assert "Join" not in plan
    assert "Union" in plan


def test_reuse_distances_interval_join_is_hash_equi(spark):
    """X103: the bucketed interval join must plan as an EQUI join on
    the bucket key (hash or broadcast), never a nested-loop inequality
    join over the whole log."""
    from tse_spark.operators import cachesim

    log = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(64)], "pos long, key string"
    )
    plan = _plan(cachesim.reuse_distances(log, bucket=8))
    assert (
        "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cache_admission_no_global_window_on_terms(spark):
    """X115: the running byte sum must be bucket-partitioned — the
    only unpartitioned window allowed is the tiny per-bucket offset
    subplan (num_buckets rows), never the vocabulary relation."""
    from tse_spark.operators import cachesim

    tf = spark.createDataFrame(
        [(f"t{i % 9}", i) for i in range(64)], "term string, doc_id long"
    )
    q = spark.createDataFrame(
        [(f"t{i}", i + 1) for i in range(9)], "term string, qtf long"
    )
    plan = _plan(cachesim.static_cache_admission(q, tf, 10**6))
    # within-bucket scan: a Window whose partition spec includes the
    # bucket column must exist
    assert "__bucket" in plan and "Window" in plan
    # offsets join back as a broadcast (never reshuffle the vocabulary
    # by bucket twice)
    assert "BroadcastHashJoin" in plan


def test_anytime_histogram_is_broadcast_and_rank_is_per_code(spark):
    """X116: the <=2^bits-row code histogram joins back broadcast, and
    the boundary rank windows WITHIN a code stratum (partitionBy q) —
    no global row_number over the posting relation."""
    from tse_spark.operators import index_build as ib

    qi = spark.createDataFrame(
        [(f"t{i % 3}", i, (i * 7) % 11) for i in range(64)],
        "term string, doc_id long, q long",
    )
    plan = _plan(ib.anytime_topk(spark, qi, ["t0", "t1"], 10))
    assert "BroadcastHashJoin" in plan
    # the boundary rank partitions by the code column (q): its
    # windowspecdefinition must lead with q, never an empty partition
    rank_lines = [
        ln for ln in plan.splitlines() if "row_number()" in ln
    ]
    assert rank_lines and all(
        "windowspecdefinition(q#" in ln for ln in rank_lines
    )
    # the only SinglePartition exchange feeds the <=2^bits-row
    # histogram window, which then broadcasts back
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_passage_bm25_never_shuffles_occurrences(spark):
    """passage_bm25_topk's scale claim: per-window query-term tf stays
    in codegen array ops, the stats/df live in ONE broadcast 1-row
    aggregate, and the only hash exchange is the final per-window
    score agg — the occurrence stream never crosses the wire."""
    plan = _plan(
        textops.passage_bm25_topk(_docs(spark), ["tok1", "tok2"], k=5)
    )
    assert "TakeOrderedAndProject" in plan
    # no per-term hash exchange (the df agg is folded into the 1-row
    # stats broadcast): every hashpartitioning exchange keys on the
    # window identity, none on `term`
    assert "hashpartitioning(term" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row stats


def test_passage_render_broadcasts_topk(spark):
    """passage_render's scale claim: the k-row result set broadcasts
    into the chunk relation — chunk text never shuffles."""
    plan = _plan(textops.passage_render(_docs(spark), ["tok1"], k=5))
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: that would shuffle the chunk text
    assert "SortMergeJoin" not in plan


def test_merge_partials_range_partitions_by_term_shard(spark):
    """Every posting writer merges through merge_partials; range (not
    hash) partitioning on (term, shard) is what makes each part file one
    contiguous term range, which the interactive fetch prunes by."""
    import re

    from tse_spark.operators import postings as po

    partials = spark.createDataFrame(
        [("tok1", 0, 1, 0, b"")], po.PARTIAL_SCHEMA
    )
    out = po.merge_partials(partials, 4)
    plan = _plan(out)
    out._partials.unpersist()
    assert re.search(
        r"Exchange rangepartitioning\(term#\d+ ASC NULLS FIRST, "
        r"shard#\d+L ASC NULLS FIRST, 4\)",
        plan,
    ), plan
    assert "hashpartitioning" not in plan
