"""Document deletion (plans/delete.py): tombstoned docs vanish from
every serving path immediately (stale-stats law), redeletes are no-ops,
the tombstone publish is crash-atomic, appends preserve live
tombstones, and delete + compact equals a from-scratch rebuild over the
survivors (rank-identical by url)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tse_spark import fixtures
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cm
from tse_spark.plans import delete as dl
from tse_spark.plans import pipeline as pl

Q = "web search"
QUERIES = ["web search", "搜索引擎", "spark data query", "数据 query"]


@pytest.fixture(scope="module")
def base(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("del_data")
    src = str(d / "pages")
    spark.createDataFrame(
        fixtures.gen_pages(200, start=0)
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path_factory.mktemp("del_idx") / "base")
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=5, num_partitions=4,
    )
    pipe.run_from_pages(src, resume=False)
    return src, out


def _clone(base_out: str, tmp_path) -> str:
    out = str(tmp_path / "idx")
    shutil.copytree(base_out, out)
    return out


@pytest.fixture(scope="module")
def deleted(base, tmp_path_factory, spark):
    """A clone of the base index with the top-3 'web search' docs
    tombstoned by url."""
    src, base_out = base
    out = _clone(base_out, tmp_path_factory.mktemp("del_live"))
    h0 = pl.load_index(spark, out, fixtures.mini_dict_bytes())
    h0.engine.warm()
    dead = [doc for doc, _ in h0.engine.search_local(Q, 3)]
    docs = spark.read.parquet(os.path.join(out, "docs"))
    urls = [
        r["url"]
        for r in docs.filter(F.col("doc_id").isin(dead)).collect()
    ]
    h = dl.delete_docs(
        spark, out, urls=urls, dictionary=fixtures.mini_dict_bytes()
    )
    h.engine.warm()
    return src, out, h, sorted(dead), urls


def test_masked_serving_is_full_ranking_minus_deleted(
    spark, base, deleted
):
    _, base_out = base
    _, _, h, dead, _ = deleted
    h0 = pl.load_index(spark, base_out, fixtures.mini_dict_bytes())
    h0.engine.warm()
    for q in QUERIES:
        got = h.engine.search_local(q, 10)
        assert not set(d for d, _ in got) & set(dead)
        # stale-stats law: scores unchanged, deleted rows removed
        want = [
            (d, s)
            for d, s in h0.engine.search_local(q, 10 + len(dead))
            if d not in dead
        ][:10]
        assert got == want
        # distributed path agrees with the local path
        dist = [
            (r.doc_id, r.score) for r in h.engine.search(q, 10).collect()
        ]
        assert [(d, round(s, 9)) for d, s in dist] == [
            (d, round(s, 9)) for d, s in got
        ]


def test_masked_boolean_and_conjunctive(spark, deleted):
    _, _, h, dead, _ = deleted
    got = h.engine.search_boolean_local(f"+web search", 10)
    assert got and not set(d for d, _ in got) & set(dead)
    conj = h.engine.search_local(Q, 10, conjunctive=True)
    assert not set(d for d, _ in conj) & set(dead)
    dist = [
        (r.doc_id, r.score)
        for r in h.engine.search(Q, 10, conjunctive=True).collect()
    ]
    assert [(d, round(s, 9)) for d, s in dist] == [
        (d, round(s, 9)) for d, s in conj
    ]
    # the distributed boolean and expanded paths mask tombstones like
    # their interactive twins
    for dist_df, local in (
        (h.engine.search_boolean("+web search", 10), got),
        (
            h.engine.search_expanded(Q, [], 10),
            h.engine.search_expanded_local(Q, [], 10),
        ),
    ):
        rows = dist_df.collect()
        assert [r.doc_id for r in rows] == [d for d, _ in local]
        for r, (_, s) in zip(rows, local):
            assert r.score == pytest.approx(s, abs=1e-9)


def test_facet_counts_exclude_deleted(spark, deleted):
    from tse_spark.operators import facets as fx

    _, out, h, dead, _ = deleted
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    fx.write_facet_index(
        fx.build_facet_shards(docs, ["lang"], meta["shard_range"]),
        out, facets=["lang"], max_doc_id=meta["max_doc_id"],
    )
    rows = fx.load_facet_index(spark, out)
    got = {
        r.value: r.n_docs
        for r in h.engine.facet_counts(Q, rows).collect()
    }
    # declarative truth: matching docs minus tombstones, per lang
    from tse_spark.operators import index_build as ib

    b_dict = spark.sparkContext.broadcast(fixtures.mini_dict_bytes())
    tf = ib.doc_terms_to_tf(ib.build_doc_terms(docs, b_dict))
    terms = h.engine.query_terms(Q)
    match = (
        tf.filter(F.col("term").isin(terms))
        .select("doc_id").distinct()
        .filter(~F.col("doc_id").isin([int(d) for d in dead]))
    )
    want = {
        r["lang"]: r["n"]
        for r in match.join(docs, "doc_id")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got
    # the facet-filtered serving path masks too
    frows = fx.load_facet_rows(spark, out, "lang", "zh")
    served = h.engine.search_filtered(Q, frows, 10).collect()
    assert served and not {r.doc_id for r in served} & set(dead)


def test_redelete_is_noop(spark, deleted):
    _, out, _, _, urls = deleted
    with open(os.path.join(out, "meta.json")) as f:
        before = json.load(f)
    dl.delete_docs(
        spark, out, urls=urls, dictionary=fixtures.mini_dict_bytes()
    )
    with open(os.path.join(out, "meta.json")) as f:
        after = json.load(f)
    assert after["tombstone_version"] == before["tombstone_version"]
    assert after["n_tombstones"] == before["n_tombstones"]


def test_delete_by_doc_ids_and_out_of_range(spark, base, tmp_path):
    _, base_out = base
    out = _clone(base_out, tmp_path)
    h = dl.delete_docs(
        spark, out, doc_ids=[0, 1, 10**9],
        dictionary=fixtures.mini_dict_bytes(),
    )
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n_tombstones"] == 2  # out-of-range id ignored
    h.engine.warm()
    assert not {0, 1} & {d for d, _ in h.engine.search_local(Q, 50)}


def test_crash_before_publish_leaves_index_intact(
    spark, base, tmp_path, monkeypatch
):
    _, base_out = base
    out = _clone(base_out, tmp_path)
    import tse_spark.plans.delete as dmod

    def boom(out_dir, meta):
        raise RuntimeError("crash before meta publish")

    monkeypatch.setattr(dmod, "_publish_meta", boom)
    with pytest.raises(RuntimeError):
        dl.delete_docs(
            spark, out, doc_ids=[5], dictionary=fixtures.mini_dict_bytes()
        )
    monkeypatch.undo()
    # torn delete: tombstone files may exist on disk but the meta never
    # pointed at them — the index serves exactly as before
    with open(os.path.join(out, "meta.json")) as f:
        assert "tombstones_dir" not in json.load(f)
    # retry succeeds and lands the same version dir
    h2 = dl.delete_docs(
        spark, out, doc_ids=[5], dictionary=fixtures.mini_dict_bytes()
    )
    h2.engine.warm()
    assert 5 not in {d for d, _ in h2.engine.search_local(Q, 200)}


def test_append_preserves_tombstones(spark, deleted, tmp_path):
    src, out0, _, dead, urls = deleted
    out = _clone(out0, tmp_path)
    delta = str(tmp_path / "delta")
    spark.createDataFrame(
        fixtures.gen_pages(60, start=500)
    ).write.mode("overwrite").parquet(delta)
    h = ap.append_pages(spark, out, delta, fixtures.mini_dict_bytes())
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert meta.get("tombstones_dir")  # survived the append
    h.engine.warm()
    assert not set(dead) & {d for d, _ in h.engine.search_local(Q, 20)}


def test_delete_compact_equals_rebuild(
    spark, deleted, tmp_path_factory
):
    src, out0, _, dead, urls = deleted
    tmp = tmp_path_factory.mktemp("del_cmp")
    out = _clone(out0, tmp)
    h = cm.compact_index(spark, out, fixtures.mini_dict_bytes())
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert "tombstones_dir" not in meta  # folded
    # rebuild from scratch over the surviving pages
    surv = str(tmp / "surv")
    spark.read.parquet(src).join(
        spark.createDataFrame([(u,) for u in urls], "url string"),
        "url", "left_anti",
    ).write.mode("overwrite").parquet(surv)
    out_r = str(tmp / "rebuilt")
    pl.IndexPipeline(
        spark, out_r, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=5, num_partitions=4,
    ).run_from_pages(surv, resume=False)
    with open(os.path.join(out_r, "meta.json")) as f:
        meta_r = json.load(f)
    # EXACT corpus stats: the tokenize-the-dead subtraction equals the
    # rebuild's own aggregate, bit for bit
    assert meta["n_docs"] == meta_r["n_docs"]
    assert meta["avgdl"] == meta_r["avgdl"]
    h_r = pl.load_index(spark, out_r, fixtures.mini_dict_bytes())
    h.engine.warm()
    h_r.engine.warm()
    u = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(
            os.path.join(out, meta["docs_dirs"][0])
        ).select("doc_id", "url").collect()
    }
    u_r = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(out_r, "docs"))
        .select("doc_id", "url").collect()
    }
    for q in QUERIES:
        a = [(u[d], round(s, 9)) for d, s in h.engine.search_local(q, 10)]
        b = [
            (u_r[d], round(s, 9))
            for d, s in h_r.engine.search_local(q, 10)
        ]
        assert a == b  # rank-identical by url, scores equal


def test_unresolved_delete_is_noop(spark, base, tmp_path):
    """A takedown url not in the corpus must publish NOTHING: an empty
    tombstone set would churn a snapshot and (worse) make every later
    compact_index a full rewrite."""
    _, base_out = base
    out = _clone(base_out, tmp_path)
    with open(os.path.join(out, "meta.json")) as f:
        before = json.load(f)
    dl.delete_docs(
        spark, out, urls=["http://nowhere.example/x"],
        dictionary=fixtures.mini_dict_bytes(),
    )
    with open(os.path.join(out, "meta.json")) as f:
        after = json.load(f)
    assert "tombstones_dir" not in after
    assert after.get("snapshot_id") == before.get("snapshot_id")


def test_tombstone_fold_without_reshard_invalidates_sidecar(
    spark, base, tmp_path
):
    """Deletes never lower max_doc_id, so a tombstone-folding
    compaction can leave shard_range unchanged — the sidecar must
    STILL be detected stale (compact_version pin) or sidebar counts
    silently keep the deleted docs forever."""
    from tse_spark.operators import facets as fx

    _, base_out = base
    out = _clone(base_out, tmp_path)
    with open(os.path.join(out, "meta.json")) as f:
        m = json.load(f)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    fx.write_facet_index(
        fx.build_facet_shards(docs, ["lang"], m["shard_range"]),
        out, facets=["lang"], max_doc_id=m["max_doc_id"],
    )
    dead = [int(r["doc_id"]) for r in docs.limit(4).collect()]
    dl.delete_docs(
        spark, out, doc_ids=dead, dictionary=fixtures.mini_dict_bytes()
    )
    cm.compact_index(spark, out, fixtures.mini_dict_bytes())
    with open(os.path.join(out, "meta.json")) as f:
        m2 = json.load(f)
    assert m2["shard_range"] == m["shard_range"]  # the dangerous case
    with pytest.raises(ValueError, match="compact_version"):
        fx.load_facet_index(spark, out)
    rebuilt = fx.sync_facet_index(spark, out)
    assert rebuilt and "facets_base_v" in rebuilt
    total = sum(
        r.df for r in fx.load_facet_index(spark, out).collect()
    )
    assert total == m2["n_docs"]  # deleted docs gone from the sidebar
