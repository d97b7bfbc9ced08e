"""Batch retrieval (operators/batchsearch.py): one-pass batch results
equal the interactive engine's per-query rankings, the conjunctive
variant equals the engine's conjunctive mode, metrics match a
hand-computed case, and the plan prunes the decode to the batch
vocabulary."""

import pytest
from pyspark.sql import functions as F

from tse_spark.operators import batchsearch as bs
from tse_spark.plans import pipeline as pl

QUERIES = [
    (0, "spark join"),
    (1, "data query scan"),
    (2, "fast spark"),
    (3, "absentterm"),
]


@pytest.fixture(scope="module")
def idx(tmp_path_factory, spark):
    rows = []
    vocab = ["spark", "join", "data", "fast", "query", "scan", "slow"]
    for i in range(160):
        words = [vocab[(i * 3 + j) % len(vocab)] for j in range(3 + i % 6)]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("batch_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4
    )
    return pipe.run_from_docs(docs, input_key="batch", resume=False)


@pytest.fixture(scope="module")
def qdf(spark):
    return spark.createDataFrame(QUERIES, "query_id long, text string")


def _batch(h, qdf, k=10, require_all=False):
    out = {}
    rows = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, qdf, k,
        require_all=require_all,
    ).collect()
    for r in rows:
        out.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, r.score)
        )
    return {q: sorted(v) for q, v in out.items()}


def test_batch_equals_interactive_engine(spark, idx, qdf):
    got = _batch(idx, qdf)
    for qid, text in QUERIES:
        want = [
            (i + 1, doc, round(s, 4))
            for i, (doc, s) in enumerate(
                idx.engine.search_local(text, 10)
            )
        ]
        assert got.get(qid, []) == want, f"query {qid} diverged"
    assert 3 not in got  # absent term: no rows, not a crash


def test_batch_conjunctive_equals_engine(spark, idx, qdf):
    got = _batch(idx, qdf, require_all=True)
    for qid, text in QUERIES:
        want = [
            (i + 1, doc, round(s, 4))
            for i, (doc, s) in enumerate(
                idx.engine.search_local(text, 10, conjunctive=True)
            )
        ]
        assert got.get(qid, []) == want, f"query {qid} diverged"


def test_metrics_hand_case(spark):
    # query 0: rel docs {1, 2, 9}; results ranks 1..3 = docs 1, 5, 2
    #   -> n_hit 2, recall 2/3, mrr 1.0, dcg = 1 + 1/log2(4),
    #      idcg = 1 + 1/log2(3) + 1/log2(4)
    # query 1: rel {7}; results never hit -> zeros, n_rel row kept
    import math

    results = spark.createDataFrame(
        [(0, 1, 1), (0, 5, 2), (0, 2, 3), (1, 3, 1)],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 9), (1, 7)],
        "query_id long, doc_id long",
    )
    rows = {
        r.query_id: r
        for r in bs.retrieval_metrics(results, qrels, k=3).collect()
    }
    r0 = rows[0]
    lg2 = lambda x: math.log(x) / math.log(2.0)
    dcg = 1.0 + 1.0 / lg2(4.0)
    idcg = 1.0 + 1.0 / lg2(3.0) + 1.0 / lg2(4.0)
    assert (r0.n_rel, r0.n_hit) == (3, 2)
    assert r0.recall_at_k == round(2 / 3, 6)
    assert r0.mrr == 1.0
    assert r0.ndcg_at_k == round(dcg / idcg, 6)
    r1 = rows[1]
    assert (r1.n_rel, r1.n_hit, r1.recall_at_k, r1.mrr, r1.ndcg_at_k) == (
        1, 0, 0.0, 0.0, 0.0,
    )


def test_decode_pruned_to_batch_vocabulary(spark, idx, qdf):
    """The posting semi-join keeps decode cost proportional to the
    batch's vocabulary: terms outside it never reach the decoder."""
    qt = bs.tokenize_queries(qdf)
    vocab = {r.term for r in qt.select("term").distinct().collect()}
    pruned = idx.postings.join(
        qt.select("term").distinct(), "term", "semi"
    )
    terms_seen = {r.term for r in pruned.select("term").distinct().collect()}
    assert terms_seen <= vocab
    assert "slow" not in terms_seen  # in the index, not in any query


def test_batch_masks_tombstones_and_speaks_the_index_tokenizer(
    spark, tmp_path
):
    """The takedown contract holds on the batch path (deleted docs
    never ranked), and a tse/FMM index's queries tokenize through the
    same dictionary law instead of silently missing CJK terms."""
    from tse_spark import fixtures
    from tse_spark.plans import delete as dl
    from tse_spark.plans import pipeline as pl

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        fixtures.gen_pages(120)
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "idx")
    h = pl.IndexPipeline(
        spark, out, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=3,
    ).run_from_pages(src, resume=False)
    q = spark.createDataFrame(
        [(0, "web search"), (1, "搜索引擎")], "query_id long, text string"
    )
    kw = dict(tokenizer="tse", dictionary=fixtures.mini_dict_bytes())
    full = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, q, 5, **kw
    ).collect()
    cjk = [r for r in full if r.query_id == 1]
    assert cjk  # the FMM law found the hanzi terms
    # engine parity per query (same stale-free base state)
    h.engine.warm()
    for qid, text in [(0, "web search"), (1, "搜索引擎")]:
        want = [
            (i + 1, d, round(s, 4))
            for i, (d, s) in enumerate(h.engine.search_local(text, 5))
        ]
        got = sorted(
            (r.rank, r.doc_id, r.score) for r in full if r.query_id == qid
        )
        assert got == want
    # tombstones: the batch must never rank a deleted doc
    dead = [full[0].doc_id]
    dl.delete_docs(
        spark, out, doc_ids=[int(dead[0])],
        dictionary=fixtures.mini_dict_bytes(),
    )
    from tse_spark.plans import delete as dmod

    masked = bs.batch_search_topk(
        h.postings, h.term_stats, h.n_docs, h.avgdl, q, 5,
        tombstones=dmod.load_tombstones(spark, out), **kw
    ).collect()
    assert masked and all(r.doc_id != dead[0] for r in masked)
