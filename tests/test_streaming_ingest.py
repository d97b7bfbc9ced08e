"""Streaming ingest: pages stream → per-batch incremental appends.

availableNow drains a 2-file backlog as 2 micro-batches (one append
each, then a compaction), and the result must rank identically to one
batch rebuild over the union — the same equivalence contract as
tests/test_append.py, now through the foreachBatch sink.  A restarted
stream over the same checkpoint must be a no-op (no re-appends).
"""

import json
import os

import pytest

from tse_spark import fixtures
from tse_spark.plans import pipeline as pl
from tse_spark.streaming import ingest


@pytest.fixture(scope="module")
def dirs(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("ingest")
    base_dir = str(d / "base")
    stream_dir = str(d / "stream")
    all_dir = str(d / "all")
    os.makedirs(stream_dir, exist_ok=True)
    base = fixtures.gen_pages(200, start=0)
    d1 = fixtures.gen_pages(100, start=200, length_scale=2)
    d2 = fixtures.gen_pages(100, start=300)
    import pandas as pd

    spark.createDataFrame(base).write.mode("overwrite").parquet(base_dir)
    # one file per micro-batch (maxFilesPerTrigger=1)
    # coerce to TIMESTAMP_MICROS — Spark cannot read pandas' nanos
    d1.to_parquet(
        os.path.join(stream_dir, "delta1.parquet"),
        index=False,
        coerce_timestamps="us",
    )
    d2.to_parquet(
        os.path.join(stream_dir, "delta2.parquet"),
        index=False,
        coerce_timestamps="us",
    )
    spark.createDataFrame(pd.concat([base, d1, d2])).write.mode(
        "overwrite"
    ).parquet(all_dir)
    return str(d), base_dir, stream_dir, all_dir


@pytest.fixture(scope="module")
def ingested(dirs, spark):
    root, base_dir, stream_dir, _ = dirs
    idx = os.path.join(root, "idx_stream")
    pipe = pl.IndexPipeline(
        spark, idx, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7, num_partitions=4,
    )
    pipe.run_from_pages(base_dir, resume=False)
    # facet sidecar over the base build: the ingest sink must keep it
    # trailing the index O(delta) per batch (sync_facet_index)
    from tse_spark.operators import facets as fx

    with open(os.path.join(idx, "meta.json")) as f:
        m = json.load(f)
    docs0 = spark.read.parquet(os.path.join(idx, "docs"))
    fx.write_facet_index(
        fx.build_facet_shards(
            docs0.select("doc_id", "lang"), ["lang"], m["shard_range"]
        ),
        idx, facets=["lang"], max_doc_id=m["max_doc_id"],
    )
    pages = ingest.read_pages_stream(spark, stream_dir, max_files_per_trigger=1)
    q = ingest.append_stream(
        pages,
        idx,
        staging_dir=os.path.join(root, "staging"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        dictionary=fixtures.mini_dict_bytes(),
        compact_every=2,
    )
    q.awaitTermination(600)
    return idx


@pytest.fixture(scope="module")
def rebuilt(dirs, spark):
    root, _, _, all_dir = dirs
    idx = os.path.join(root, "idx_full")
    pipe = pl.IndexPipeline(
        spark, idx, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7, num_partitions=4,
    )
    return pipe.run_from_pages(all_dir, resume=False)


def _url_map(spark, idx):
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    dirs_ = [os.path.join(idx, d) for d in meta.get("docs_dirs", ["docs"])]
    return {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(*dirs_).select("doc_id", "url").collect()
    }


def test_stream_appends_then_compacts(spark, ingested, rebuilt):
    with open(os.path.join(ingested, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(rebuilt.out_dir, "meta.json")) as f:
        meta_full = json.load(f)
    # same corpus as one batch rebuild over the union (the pipeline
    # drops url/content dups, so parity — not the raw 400 — is the law)
    assert meta["n_docs"] == meta_full["n_docs"]
    # compact_every=2 fired after the second batch: single dirs again
    assert len(meta["docs_dirs"]) == 1
    assert len(meta["postings_dirs"]) == 1


def test_stream_ranking_equals_rebuild(spark, ingested, rebuilt):
    h = pl.load_index(spark, ingested, fixtures.mini_dict_bytes())
    m_s, m_f = _url_map(spark, ingested), _url_map(spark, rebuilt.out_dir)
    h.engine.warm()
    rebuilt.engine.warm()
    for _qid, query, _k in fixtures.gen_queries()[::5]:
        got = [
            (m_s[d], round(s, 9))
            for d, s in h.engine.search_local(query, 500)
        ]
        want = [
            (m_f[d], round(s, 9))
            for d, s in rebuilt.engine.search_local(query, 500)
        ]
        assert sorted(got) == sorted(want), query


def test_stream_restart_is_noop(dirs, spark, ingested):
    root, _, stream_dir, _ = dirs
    with open(os.path.join(ingested, "meta.json")) as f:
        before = json.load(f)
    pages = ingest.read_pages_stream(spark, stream_dir, max_files_per_trigger=1)
    q = ingest.append_stream(
        pages,
        ingested,
        staging_dir=os.path.join(root, "staging"),
        checkpoint_dir=os.path.join(root, "ckpt"),  # same checkpoint
        dictionary=fixtures.mini_dict_bytes(),
    )
    q.awaitTermination(300)
    with open(os.path.join(ingested, "meta.json")) as f:
        after = json.load(f)
    assert after["n_docs"] == before["n_docs"]
    assert after["docs_dirs"] == before["docs_dirs"]


def test_facet_sidecar_trails_ingest(dirs, spark, ingested):
    """After the stream drains, the sidecar's high-water mark equals
    the index's and per-language doc-set sizes match the docs table —
    the per-batch sync kept the sidebar consistent with serving."""
    from pyspark.sql import functions as F

    from tse_spark.operators import facets as fx

    idx = ingested
    with open(os.path.join(idx, "meta.json")) as f:
        m = json.load(f)
    with open(os.path.join(idx, fx.META_NAME)) as f:
        fmeta = json.load(f)
    assert fmeta["max_doc_id"] == m["max_doc_id"]
    # compact_every=2 fired on the final batch and re-sharded the
    # corpus; the same-batch sync must have REBUILT the sidecar against
    # the new law (single base dir, shard_range matching the index) —
    # a stale multi-dir sidecar here would mean filtered serving reads
    # old-shard encodings against re-sharded postings
    assert fmeta["shard_range"] == m["shard_range"]
    assert len(fmeta["dirs"]) == 1 and "facets_base_v" in fmeta["dirs"][0]
    docs = spark.read.parquet(
        *[os.path.join(idx, d) for d in m.get("docs_dirs", ["docs"])]
    )
    per_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got: dict = {}
    for r in fx.load_facet_index(spark, idx).collect():
        got[r["value"]] = got.get(r["value"], 0) + r["df"]
    assert got == per_lang
