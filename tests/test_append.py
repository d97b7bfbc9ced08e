"""Incremental append == full rebuild (by url), old shards untouched."""

import os

import pytest

from tse_spark import fixtures
from tse_spark.plans import append as ap
from tse_spark.plans import pipeline as pl

GB = "gb2312"


@pytest.fixture(scope="module")
def corpora(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("append_data")
    a = fixtures.gen_pages(300, start=0)
    # longer docs in the delta RAISE the corpus avgdl, so scores must
    # follow the live avgdl, not the one the base blocks were encoded with
    b = fixtures.gen_pages(200, start=300, length_scale=3)
    import pandas as pd

    a_dir, b_dir, ab_dir = str(d / "a"), str(d / "b"), str(d / "ab")
    for path, pdf in ((a_dir, a), (b_dir, b), (ab_dir, pd.concat([a, b]))):
        os.makedirs(path, exist_ok=True)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return a_dir, b_dir, ab_dir


@pytest.fixture(scope="module")
def appended(tmp_path_factory, spark, corpora):
    a_dir, b_dir, _ = corpora
    idx = str(tmp_path_factory.mktemp("idx_app"))
    pipe = pl.IndexPipeline(
        spark, idx, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7, num_partitions=4,
    )
    h0 = pipe.run_from_pages(a_dir, resume=False)
    old_rows = {
        (r["term"], r["shard"], bytes(r["blocks"]))
        for r in h0.postings.collect()
    }
    h1 = ap.append_pages(
        spark, idx, b_dir, fixtures.mini_dict_bytes()
    )
    return h0, h1, old_rows, idx


@pytest.fixture(scope="module")
def rebuilt(tmp_path_factory, spark, corpora):
    _, _, ab_dir = corpora
    idx = str(tmp_path_factory.mktemp("idx_full"))
    pipe = pl.IndexPipeline(
        spark, idx, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7, num_partitions=4,
    )
    return pipe.run_from_pages(ab_dir, resume=False)


def _url_map(spark, idx):
    import json

    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    dirs = [os.path.join(idx, d) for d in meta.get("docs_dirs", ["docs"])]
    return {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(*dirs)
        .select("doc_id", "url").collect()
    }


def test_append_stats_match_rebuild(appended, rebuilt):
    _, h1, _, _ = appended
    assert h1.n_docs == rebuilt.n_docs
    assert h1.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-9)


def test_append_leaves_old_shards_untouched(appended):
    h0, h1, old_rows, _ = appended
    new_rows = {
        (r["term"], r["shard"], bytes(r["blocks"]))
        for r in h1.postings.collect()
    }
    assert old_rows <= new_rows  # every old row survives byte-identical
    max_old_shard = max(s for _, s, _ in old_rows)
    delta = new_rows - old_rows
    assert delta and min(s for _, s, _ in delta) > max_old_shard


def test_append_ranking_equals_rebuild(spark, appended, rebuilt):
    _, h1, _, idx_app = appended
    m_app = _url_map(spark, idx_app)
    m_full = _url_map(spark, rebuilt.out_dir)
    h1.engine.warm()
    rebuilt.engine.warm()
    for qid, query, _k in fixtures.gen_queries()[::3]:
        # k >> matches: the full ranking must agree (url, score),
        # independent of doc-id tie-breaks
        got = [
            (m_app[d], round(s, 9))
            for d, s in h1.engine.search_local(query, 500)
        ]
        want = [
            (m_full[d], round(s, 9))
            for d, s in rebuilt.engine.search_local(query, 500)
        ]
        assert sorted(got) == sorted(want), query


def test_append_conjunctive_and_distributed(spark, appended, rebuilt):
    _, h1, _, idx_app = appended
    m_app = _url_map(spark, idx_app)
    m_full = _url_map(spark, rebuilt.out_dir)
    q = "web search"
    got = [
        (m_app[r["doc_id"]], round(r["score"], 9))
        for r in h1.engine.search(q, 500).collect()
    ]
    want = [
        (m_full[r["doc_id"]], round(r["score"], 9))
        for r in rebuilt.engine.search(q, 500).collect()
    ]
    assert sorted(got) == sorted(want)
    gotc = [
        (m_app[d], round(s, 9))
        for d, s in h1.engine.search_local(q, 500, conjunctive=True)
    ]
    wantc = [
        (m_full[d], round(s, 9))
        for d, s in rebuilt.engine.search_local(q, 500, conjunctive=True)
    ]
    assert sorted(gotc) == sorted(wantc)


def test_append_poisons_stage_resume(appended, spark, corpora):
    """After an append the base pipeline's checkpoints must not resume
    (they describe only the pre-append corpus)."""
    from tse_spark.plans import checkpoint as cp

    *_, idx = appended
    man = cp.Manifest(idx)
    assert all(
        str(st.get("fingerprint", "")).startswith("appended:")
        for st in man.stages.values()
    )
    # meta's own cached-stats fingerprint must be poisoned too, or a
    # resume rerun reuses appended n_docs/avgdl over base-only stages
    import json

    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    assert str(meta.get("fingerprint", "")).startswith("appended:")


def test_append_same_batch_twice_is_noop(spark, appended, corpora):
    """Retry safety: re-appending an already-appended batch dedups to
    zero fresh urls and changes nothing."""
    _, h1, _, idx = appended
    _, b_dir, _ = corpora
    h2 = ap.append_pages(spark, idx, b_dir, fixtures.mini_dict_bytes())
    assert h2.n_docs == h1.n_docs
    assert h2.avgdl == pytest.approx(h1.avgdl, rel=1e-12)
    assert h2.postings.count() == h1.postings.count()


def test_orphan_delta_dirs_are_invisible(spark, appended):
    """A crash before the meta.json replace leaves delta dirs on disk;
    readers must not see them (visibility is meta-gated)."""
    _, h1, _, idx = appended
    orphan = os.path.join(idx, "postings_delta_999999")
    h1.postings.limit(1).write.mode("overwrite").parquet(orphan)
    h2 = pl.load_index(spark, idx, fixtures.mini_dict_bytes())
    assert h2.postings.count() == h1.postings.count()


def test_append_rejects_different_dictionary(spark, appended, corpora):
    """A delta appended with a different dictionary would tokenize
    differently than the base build — must fail loudly, not silently
    diverge (ADVICE r02, medium)."""
    *_, idx = appended
    _, b_dir, _ = corpora
    wrong = frozenset({"中国".encode(GB)})  # subset of the base dict
    with pytest.raises(ValueError, match="dictionary fingerprint"):
        ap.append_pages(spark, idx, b_dir, wrong)


def test_second_append_chains(spark, appended, tmp_path_factory):
    """Append onto an already-appended index: dir lists chain and the
    shard floors keep rising."""
    _, h1, _, idx = appended
    d = tmp_path_factory.mktemp("append2")
    c = fixtures.gen_pages(80, start=700)
    src = str(d / "c")
    spark.createDataFrame(c).write.mode("overwrite").parquet(src)
    before = {(r["term"], r["shard"]) for r in h1.postings.collect()}
    h2 = ap.append_pages(spark, idx, src, fixtures.mini_dict_bytes())
    assert h2.n_docs > h1.n_docs
    after = {(r["term"], r["shard"]) for r in h2.postings.collect()}
    new = after - before
    assert new and min(s for _, s in new) > max(s for _, s in before)
