"""Impact-pruned index builds (pipeline prune_m): every posting list is
bounded at m, the WAND engine over the pruned shards equals the
relation-path BM25 over the pruned tf with the index's own (pruned) df,
and append refuses pruned bases.  Driver-level SQL parity lives in
test_entry_contract (wand_pruned_topk)."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tse_spark.operators import index_build as ib
from tse_spark.plans import append as ap
from tse_spark.plans import pipeline as pl

SF = "/root/testdata/sf0.001"
M = 50
QUERY = ["spark", "join", "data"]


@pytest.fixture(scope="module")
def pruned_handle(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pruned_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4, prune_m=M
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    return pipe.run_from_docs(docs, input_key="prune-test", resume=True)


def test_posting_lists_bounded_at_m(pruned_handle):
    over = (
        pruned_handle.term_stats.filter(F.col("df") > M).count()
    )
    assert over == 0
    # and the pruning actually bit: this corpus has terms with df >> M
    assert (
        pruned_handle.term_stats.filter(F.col("df") == M).count() > 0
    )


def test_engine_matches_relation_path(spark, pruned_handle):
    """WAND over pruned shards == declarative BM25 over the pruned tf
    relation scored with the pruned df (the index's own stats) and the
    full dl/avgdl/n_docs."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    full_df = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    pruned = ib.impact_pruned_tf(tf, doclen, full_df, n, avgdl, M)
    pruned_df = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    want = [
        (r["doc_id"], round(r["score"], 4))
        for r in ib.bm25_topk(
            spark, pruned, doclen, pruned_df, n, avgdl, QUERY, 10
        ).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 4))
        for r in pruned_handle.engine.search(" ".join(QUERY), 10).collect()
    ]
    assert got == want


def test_meta_records_prune_m(pruned_handle):
    with open(os.path.join(pruned_handle.out_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["prune_m"] == M


def test_append_refuses_pruned_base(spark, pruned_handle, tmp_path):
    from tse_spark import fixtures

    delta = fixtures.write_pages_parquet(
        str(tmp_path / "delta.parquet"), 20
    )
    with pytest.raises(ValueError, match="prune"):
        ap.append_pages(spark, pruned_handle.out_dir, delta)


def test_index_report(spark, pruned_handle):
    rep = pl.index_report(spark, pruned_handle.out_dir)
    rows = {(r["kind"], r["name"]): r for r in rep.collect()}
    # every pipeline stage is reported with its lineage metrics
    for stage in ("tf", "postings", "term_stats"):
        r = rows[("stage", stage)]
        assert r["rows"] > 0 and r["seconds"] is not None
        assert r["n_partitions"] and r["n_partitions"] > 0
        assert r["row_groups"] is None
    # every live artifact dir is reported with its on-disk footprint and
    # the row groups its footers list
    dir_rows = [r for (k, _), r in rows.items() if k == "dir"]
    assert dir_rows and all(
        r["files"] > 0 and r["bytes"] > 0 and r["row_groups"] > 0
        for r in dir_rows
    )
    d = os.path.join(pruned_handle.out_dir, "postings")
    assert rows[("dir", "postings")]["row_groups"] == sum(
        pq.read_metadata(os.path.join(d, fn)).num_row_groups
        for fn in os.listdir(d)
        if fn.endswith(".parquet")
    )
