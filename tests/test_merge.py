"""merge_indexes: two independently built segments fold into one index
that scores exactly like a from-scratch build over the union corpus
(plans/merge.py — the segment-merge path the reference's per-crawl
rebuild never had, index/readme.txt pipeline)."""

import json
import os

import pytest

from tse_spark import fixtures
from tse_spark.plans import compact as cm
from tse_spark.plans import delete as dl
from tse_spark.plans import merge as mg
from tse_spark.plans import pipeline as pl

QUERIES = ["web search", "搜索引擎", "spark data query", "w0001", "数据 query"]


def _build(spark, out, src, **kw):
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="tse", dictionary=fixtures.mini_dict_bytes(),
        num_partitions=4, **kw,
    )
    return pipe.run_from_pages(src, resume=False)


@pytest.fixture(scope="module")
def segs(tmp_path_factory, spark):
    """Two url-disjoint segments with DIFFERENT shard grids and doc-len
    scales (so df/avgdl/shard_range all genuinely differ), plus their
    union pages source for the rebuild twin."""
    d = tmp_path_factory.mktemp("mg_data")
    pa = str(d / "a")
    pb = str(d / "b")
    spark.createDataFrame(
        fixtures.gen_pages(180, start=0, length_scale=1)
    ).write.mode("overwrite").parquet(pa)
    spark.createDataFrame(
        fixtures.gen_pages(120, start=180, length_scale=2)
    ).write.mode("overwrite").parquet(pb)
    pu = str(d / "u")
    spark.read.parquet(pa).unionByName(
        spark.read.parquet(pb)
    ).write.mode("overwrite").parquet(pu)
    base = tmp_path_factory.mktemp("mg_idx")
    ha = _build(spark, str(base / "ia"), pa, num_shards=5)
    hb = _build(spark, str(base / "ib"), pb, num_shards=3)
    return str(base), pa, pb, pu, ha, hb


def _by_url(spark, h, k=500):
    """{query: [(url, score)]} — segments and the rebuild number doc
    ids differently, so equivalence compares by url."""
    urls = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(
            *[
                os.path.join(h.out_dir, d)
                for d in h.meta.get("docs_dirs", ["docs"])
            ]
        ).select("doc_id", "url").collect()
    }
    h.engine.warm()
    out = {}
    for q in QUERIES:
        rows = [(urls[d], round(s, 9)) for d, s in h.engine.search_local(q, k)]
        out[q] = sorted(rows, key=lambda t: (-t[1], t[0]))
    return out


def test_merge_equals_union_rebuild(spark, segs, tmp_path):
    base, pa, pb, pu, ha, hb = segs
    hm = mg.merge_indexes(
        spark, ha.out_dir, hb.out_dir, str(tmp_path / "merged"),
        fixtures.mini_dict_bytes(),
    )
    hr = _build(
        spark, str(tmp_path / "rebuild"), pu, num_shards=5
    )
    assert hm.n_docs == hr.n_docs == ha.n_docs + hb.n_docs
    assert hm.avgdl == pytest.approx(hr.avgdl, rel=1e-12)
    assert _by_url(spark, hm) == _by_url(spark, hr)
    # stats algebra: df/cf sum exactly across segments
    sa = {r["term"]: (r["df"], r["cf"]) for r in ha.term_stats.collect()}
    sb = {r["term"]: (r["df"], r["cf"]) for r in hb.term_stats.collect()}
    sm = {r["term"]: (r["df"], r["cf"]) for r in hm.term_stats.collect()}
    want = dict(sa)
    for t, (df, cf) in sb.items():
        d0, c0 = want.get(t, (0, 0))
        want[t] = (d0 + df, c0 + cf)
    assert sm == want
    # merged grid is uniform: one row per (term, shard)
    dup = (
        hm.postings.groupBy("term", "shard").count().filter("count > 1")
    ).count()
    assert dup == 0
    # A's ids survive verbatim (reference-stability contract)
    with open(os.path.join(hm.out_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["snapshot_op"] == "merge"
    assert meta["merged_from"][0]["shift"] == 0
    assert meta["merged_from"][1]["shift"] == ha.meta["max_doc_id"] + 1


def test_merge_rejects_bad_pairs(spark, segs, tmp_path):
    base, pa, pb, pu, ha, hb = segs
    # overlapping urls (A merged with itself) must refuse
    with pytest.raises(ValueError, match="urls exist in more than"):
        mg.merge_indexes(
            spark, ha.out_dir, ha.out_dir, str(tmp_path / "m_dup"),
            fixtures.mini_dict_bytes(),
        )
    # merging INTO an existing index dir must refuse (destructive)
    with pytest.raises(ValueError, match="already holds"):
        mg.merge_indexes(
            spark, ha.out_dir, hb.out_dir, hb.out_dir,
            fixtures.mini_dict_bytes(),
        )
    # tokenizer mismatch must refuse
    ws = str(tmp_path / "ws")
    pl.IndexPipeline(
        spark, ws, tokenizer="ws", num_shards=3, num_partitions=4
    ).run_from_pages(pb, resume=False)
    with pytest.raises(ValueError, match="tokenizer mismatch"):
        mg.merge_indexes(
            spark, ha.out_dir, ws, str(tmp_path / "m_tok"),
            fixtures.mini_dict_bytes(),
        )
    # live tombstones must refuse (compact first), then merge cleanly
    victim = str(tmp_path / "victim")
    pl.IndexPipeline(
        spark, victim, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=3, num_partitions=4,
    ).run_from_pages(pb, resume=False)
    dl.delete_docs(spark, victim, doc_ids=[0, 1])
    with pytest.raises(ValueError, match="tombstones"):
        mg.merge_indexes(
            spark, ha.out_dir, victim, str(tmp_path / "m_tmb"),
            fixtures.mini_dict_bytes(),
        )
    hv = cm.compact_index(spark, victim, fixtures.mini_dict_bytes())
    hm = mg.merge_indexes(
        spark, ha.out_dir, victim, str(tmp_path / "m_ok"),
        fixtures.mini_dict_bytes(),
    )
    assert hm.n_docs == ha.n_docs + hv.n_docs


def test_merged_index_supports_full_lifecycle(spark, segs, tmp_path):
    """The merged index is a first-class lifecycle citizen: append,
    delete, compact all compose on top of an op=merge snapshot, and
    the final state scores like a from-scratch build over
    (union + delta - deleted)."""
    import pyspark.sql.functions as F

    from tse_spark.plans import append as ap

    base, pa, pb, pu, ha, hb = segs
    out = str(tmp_path / "m_life")
    hm = mg.merge_indexes(
        spark, ha.out_dir, hb.out_dir, out, fixtures.mini_dict_bytes()
    )

    # append a url-disjoint delta on top of the merge
    pc = str(tmp_path / "pages_c")
    spark.createDataFrame(
        fixtures.gen_pages(60, start=300, length_scale=2)
    ).write.mode("overwrite").parquet(pc)
    ap.append_pages(spark, out, pc, fixtures.mini_dict_bytes())

    # tombstone a few docs, then fold everything
    dl.delete_docs(spark, out, doc_ids=[1, 3, 5])
    h = cm.compact_index(spark, out, fixtures.mini_dict_bytes())

    # rebuild twin over the surviving corpus (delete_docs ids 1/3/5
    # are segment-A ids, which the merge preserved verbatim)
    dead_urls = {
        r["url"]
        for r in spark.read.parquet(
            os.path.join(ha.out_dir, "docs")
        ).filter(F.col("doc_id").isin([1, 3, 5])).collect()
    }
    pr = str(tmp_path / "pages_survivors")
    spark.read.parquet(pu).unionByName(
        spark.read.parquet(pc)
    ).filter(~F.col("url").isin(list(dead_urls))).write.mode(
        "overwrite"
    ).parquet(pr)
    hr = _build(
        spark, str(tmp_path / "rebuild_life"), pr,
        num_shards=5,
    )
    assert h.n_docs == hr.n_docs
    assert h.avgdl == pytest.approx(hr.avgdl, rel=1e-12)
    assert _by_url(spark, h) == _by_url(spark, hr)
    # the commit log tells the whole story
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    assert meta["snapshot_id"] == 4  # merge, append, delete, compact


def test_three_way_merge_equals_union_rebuild(spark, segs, tmp_path):
    """N-way merge in ONE re-encode pass (merge_indexes_many): three
    segments fold together with cumulative id lifts and score exactly
    like the union rebuild."""
    base, pa, pb, pu, ha, hb = segs
    d = str(tmp_path / "c")
    spark.createDataFrame(
        fixtures.gen_pages(90, start=300, length_scale=3)
    ).write.mode("overwrite").parquet(d)
    hc = _build(spark, str(tmp_path / "ic"), d, num_shards=2)
    hm = mg.merge_indexes_many(
        spark, [ha.out_dir, hb.out_dir, hc.out_dir],
        str(tmp_path / "m3"), fixtures.mini_dict_bytes(),
    )
    pall = str(tmp_path / "pall")
    spark.read.parquet(pu).unionByName(
        spark.read.parquet(d)
    ).write.mode("overwrite").parquet(pall)
    hr = _build(
        spark, str(tmp_path / "r3"), pall, num_shards=5
    )
    assert hm.n_docs == hr.n_docs == ha.n_docs + hb.n_docs + hc.n_docs
    assert hm.avgdl == pytest.approx(hr.avgdl, rel=1e-12)
    assert _by_url(spark, hm) == _by_url(spark, hr)
    with open(os.path.join(hm.out_dir, "meta.json")) as f:
        mf = json.load(f)["merged_from"]
    assert [e["shift"] for e in mf] == [
        0,
        ha.meta["max_doc_id"] + 1,
        ha.meta["max_doc_id"] + 1 + hb.meta["max_doc_id"] + 1,
    ]


def test_reconcile_merge_latest_per_url_wins(spark, segs, tmp_path):
    """reconcile_merge over OVERLAPPING segments: segment B re-crawls
    a third of segment A's urls later with changed text (and one url
    earlier — must lose); the one-shot merge equals a from-scratch
    build over the latest-per-url corpus."""
    import pyspark.sql.functions as F

    base, pa, pb, pu, ha, hb = segs
    pages_a = spark.read.parquet(pa)

    # segment C: re-crawl of A's doc_id%3==0 urls, two months later,
    # text gains ' spark spark'; A's doc_id%3==1 urls re-arrive STALE
    # (older ts, junk text — must lose); plus fresh urls
    # build_docs passes a provided text column through untouched, so
    # the re-crawl variants only need text+warc_ts changed
    h = F.abs(F.hash("url")) % 3
    newer = pages_a.filter(h == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 60 DAYS")
    ).withColumn("text", F.concat(F.col("text"), F.lit(" spark spark")))
    stale = pages_a.filter(h == 1).withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 60 DAYS")
    ).withColumn("text", F.lit("stale stale"))
    fresh = spark.createDataFrame(
        fixtures.gen_pages(50, start=600, length_scale=1)
    )
    pc = str(tmp_path / "pages_c")
    newer.unionByName(stale).unionByName(
        fresh.select(*newer.columns)
    ).write.mode("overwrite").parquet(pc)
    hc = _build(spark, str(tmp_path / "ic"), pc, num_shards=4)

    hm = mg.reconcile_merge(
        spark, [ha.out_dir, hc.out_dir], str(tmp_path / "rm"),
        fixtures.mini_dict_bytes(),
    )

    # rebuild twin: latest copy per url across both page sets
    from pyspark.sql.window import Window

    allp = pages_a.unionByName(spark.read.parquet(pc))
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    latest = (
        allp.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    pl_dir = str(tmp_path / "pages_latest")
    latest.write.mode("overwrite").parquet(pl_dir)
    hr = _build(
        spark, str(tmp_path / "rr"), pl_dir, num_shards=5
    )
    assert hm.n_docs == hr.n_docs
    assert hm.avgdl == pytest.approx(hr.avgdl, rel=1e-12)
    assert _by_url(spark, hm) == _by_url(spark, hr)


def test_absorb_segment_equals_append_pages(spark, segs, tmp_path):
    """absorb_segment (O(segment) append of a PRE-BUILT index) must
    publish the same index state append_pages reaches from the
    segment's raw pages: same n_docs/total_dl/avgdl, same term_stats,
    same by-url serving — with zero tokenization and the target's
    old bytes untouched."""
    import shutil

    from pyspark.sql import functions as F

    from tse_spark.plans import append as ap

    base, pa, pb, pu, ha, hb = segs
    t_abs = str(tmp_path / "t_abs")
    t_app = str(tmp_path / "t_app")
    shutil.copytree(ha.out_dir, t_abs)
    shutil.copytree(ha.out_dir, t_app)

    old_postings = sorted(
        os.listdir(os.path.join(t_abs, "postings"))
    )
    h1 = mg.absorb_segment(spark, t_abs, hb.out_dir, fixtures.mini_dict_bytes())
    h2 = ap.append_pages(spark, t_app, pb, fixtures.mini_dict_bytes())

    assert h1.n_docs == h2.n_docs
    assert h1.avgdl == pytest.approx(h2.avgdl, rel=1e-12)
    assert h1.meta["total_dl"] == h2.meta["total_dl"]
    s1 = {r["term"]: (r["df"], r["cf"]) for r in h1.term_stats.collect()}
    s2 = {r["term"]: (r["df"], r["cf"]) for r in h2.term_stats.collect()}
    assert s1 == s2
    assert _by_url(spark, h1) == _by_url(spark, h2)
    # the target's original posting files were never rewritten
    assert sorted(os.listdir(os.path.join(t_abs, "postings"))) == old_postings
    with open(os.path.join(t_abs, "meta.json")) as f:
        m = json.load(f)
    assert m["snapshot_op"] == "absorb"
    assert any(a.get("op") == "absorb" for a in m["appends"])
    # overlap refuses (absorbing the same segment again)
    with pytest.raises(ValueError, match="urls exist in both"):
        mg.absorb_segment(
            spark, t_abs, hb.out_dir, fixtures.mini_dict_bytes()
        )
    # lifecycle continues: compacting the absorbed index folds the
    # delta dirs and preserves rankings
    hc = cm.compact_index(spark, t_abs, fixtures.mini_dict_bytes())
    assert _by_url(spark, hc) == _by_url(spark, h2)
