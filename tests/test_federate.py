"""Multi-index federation (plans/federate.py): global-stat scoring over
url-disjoint members equals ONE index built over the union of their
pages — score equality per url — and the distributed path, the local
path, conjunctive mode, and member tombstones all agree."""

import os

import pytest
from pyspark.sql import functions as F

from tse_spark import fixtures
from tse_spark.plans import delete as dl
from tse_spark.plans import federate as fed
from tse_spark.plans import pipeline as pl

QUERIES = ["web search", "搜索引擎", "spark data query", "数据 query"]


@pytest.fixture(scope="module")
def setup(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("fed_data")
    srcs = {}
    for name, (n, start) in {"a": (140, 0), "b": (90, 140)}.items():
        p = str(d / name)
        spark.createDataFrame(
            fixtures.gen_pages(n, start=start)
        ).write.mode("overwrite").parquet(p)
        srcs[name] = p
    union = str(d / "union")
    spark.read.parquet(srcs["a"]).unionByName(
        spark.read.parquet(srcs["b"])
    ).write.mode("overwrite").parquet(union)
    outs = []
    for name in ("a", "b"):
        out = str(tmp_path_factory.mktemp(f"fed_{name}"))
        pl.IndexPipeline(
            spark, out, tokenizer="tse",
            dictionary=fixtures.mini_dict_bytes(),
            num_shards=3, num_partitions=4,
        ).run_from_pages(srcs[name], resume=False)
        outs.append(out)
    out_u = str(tmp_path_factory.mktemp("fed_union"))
    pl.IndexPipeline(
        spark, out_u, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=5, num_partitions=4,
    ).run_from_pages(union, resume=False)
    f = fed.FederatedIndex(spark, outs, fixtures.mini_dict_bytes())
    hu = pl.load_index(spark, out_u, fixtures.mini_dict_bytes())
    hu.engine.warm()
    url_maps = []
    for out in outs:
        url_maps.append(
            {
                r["doc_id"]: r["url"]
                for r in spark.read.parquet(os.path.join(out, "docs"))
                .select("doc_id", "url").collect()
            }
        )
    u_map = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(out_u, "docs"))
        .select("doc_id", "url").collect()
    }
    return f, hu, url_maps, u_map


def test_global_stats_equal_union_build(setup):
    f, hu, _, _ = setup
    assert f.n_docs == hu.n_docs
    assert f.avgdl == hu.avgdl  # exact integer total_dl sums


def _tie_tolerant_equal(got, want):
    """Rank lists agree up to order WITHIN exact score ties: the score
    sequences are identical, and each score group's url set matches —
    except the k-boundary group, where both sides legitimately pick
    different members of the tie (tie order follows each deployment's
    id assignment; url sets can only be compared for complete groups)."""
    if [s for _, s in got] != [s for _, s in want]:
        return False
    boundary = got[-1][1] if got else None
    by_score_g: dict = {}
    by_score_w: dict = {}
    for u, s in got:
        by_score_g.setdefault(s, set()).add(u)
    for u, s in want:
        by_score_w.setdefault(s, set()).add(u)
    for s, urls in by_score_g.items():
        if s == boundary:
            continue  # possibly truncated tie group
        if urls != by_score_w.get(s):
            return False
    return True


def test_federated_equals_union_index(setup):
    f, hu, url_maps, u_map = setup
    for q in QUERIES:
        got = [
            (url_maps[m][d], round(s, 9))
            for m, d, s in f.search_local(q, 10)
        ]
        want = [
            (u_map[d], round(s, 9))
            for d, s in hu.engine.search_local(q, 10)
        ]
        assert got and _tie_tolerant_equal(got, want), (q, got, want)


def test_distributed_equals_local(setup, spark):
    f, _, _, _ = setup
    for q in QUERIES[:2]:
        dist = [
            (r.member, r.doc_id, round(r.score, 9))
            for r in f.search(q, 10).collect()
        ]
        loc = [(m, d, round(s, 9)) for m, d, s in f.search_local(q, 10)]
        assert dist == loc


def test_federated_conjunctive(setup):
    f, hu, url_maps, u_map = setup
    q = "web search"
    dist = [
        (url_maps[r.member][r.doc_id], round(r.score, 9))
        for r in f.search(q, 10, conjunctive=True).collect()
    ]
    want = [
        (u_map[d], round(s, 9))
        for d, s in hu.engine.search_local(q, 10, conjunctive=True)
    ]
    assert dist and _tie_tolerant_equal(dist, want)


def test_member_tombstones_respected(setup, spark):
    f, _, url_maps, _ = setup
    top = f.search_local("web search", 5)
    m0, d0, _ = top[0]
    dl.delete_docs(
        spark, f.handles[m0].out_dir, doc_ids=[d0],
        dictionary=fixtures.mini_dict_bytes(),
    )
    f2 = fed.FederatedIndex(
        spark,
        [h.out_dir for h in f.handles],
        fixtures.mini_dict_bytes(),
    )
    after = f2.search_local("web search", 5)
    assert (m0, d0) not in {(m, d) for m, d, _ in after}
    dist = [
        (r.member, r.doc_id) for r in f2.search("web search", 5).collect()
    ]
    assert (m0, d0) not in set(dist)


def test_rm3_expansion_changes_and_stays_sound(setup, spark):
    """RM3 (IndexHandle.rm3_topk) on a member index: the expanded
    ranking differs from the base ranking (expansion really fired) and
    equals a hand-computed weighted rescore over the same artifacts."""
    import math

    from pyspark.sql import functions as F

    f, hu, _, _ = setup
    h = hu
    q = "web search"
    base = [(d, round(s, 6)) for d, s in h.engine.search_local(q, 10)]
    out = [
        (r.doc_id, round(r.score, 6))
        for r in h.rm3_topk(q, 10, n_fb=3, n_terms=5, lam=0.5).collect()
    ]
    assert out and out != base  # expansion fired
    # hand recompute: weighted disjunctive BM25 over orig + expansion
    orig = h.engine.query_terms(q)
    fb = [d for d, _ in h.engine.search_local(q, 3)]
    tf = (
        h._tf_row_major()
        .filter(F.col("doc_id").isin(fb))
        .filter(~F.col("term").isin(orig))
        .groupBy("term").agg(F.sum("tf").alias("tf"))
        .join(h.term_stats.select("term", "df"), "term")
        .collect()
    )
    n = float(h.n_docs)
    kw = sorted(
        ((-round(r["tf"] * math.log(n / r["df"]), 4), r["term"])
         for r in tf)
    )[:5]
    exp = [t for _, t in kw]
    idf = h.engine._idf_map(sorted(set(orig) | set(exp)))
    runs = []
    entries = h.engine._term_entries(sorted(set(orig) | set(exp)))
    from tse_spark.operators import codec, wand as wand_mod

    for t, (df, blob) in entries.items():
        if df <= 0:
            continue
        w = 1.0 if t in orig else 0.5
        d, tfv, dlv = codec.decode_all(blob)
        runs.append(
            (d, wand_mod._score_arrays(w * idf[t], tfv, dlv, h.avgdl))
        )
    want = [
        (d, round(s, 6)) for d, s in wand_mod.topk_from_scored(runs, 10)
    ]
    assert out == want


@pytest.fixture(scope="module")
def sel_setup(tmp_path_factory, spark):
    """Three members: two carrying the corpus, one whose docs share NO
    terms with the probe query — the shard selection must skip it."""
    outs = []
    rows_sets = [
        [(0, "alpha beta gamma web search"), (1, "web search spark")],
        [(10, "spark data web"), (11, "beta data search")],
        [(20, "zzz yyy xxx"), (21, "qqq rrr sss")],
    ]
    for i, rows in enumerate(rows_sets):
        out = str(tmp_path_factory.mktemp(f"sel_{i}"))
        pl.IndexPipeline(
            spark, out, tokenizer="ws", num_shards=2,
        ).run_from_docs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            input_key=f"sel{i}", resume=False,
        )
        outs.append(out)
    return fed.FederatedIndex(spark, outs)


def test_member_scores_df_mass(sel_setup):
    """score(m) = sum of the member's df over query terms; the no-term
    member scores 0; ordering is score desc, member asc."""
    got = sel_setup.member_scores("web search")
    # member 0: web df 2 + search df 2 = 4; member 1: 1 + 1 = 2
    assert got == [(0, 4), (1, 2), (2, 0)]


def test_search_selective_skips_zero_mass_exactly(sel_setup):
    """min_score=1 drops only the zero-df member, and the ranking is
    row-identical to the full federation (selection never re-scores:
    global stats still span all three members)."""
    full = [
        (r.member, r.doc_id, r.score)
        for r in sel_setup.search("web search", 10).collect()
    ]
    sel = [
        (r.member, r.doc_id, r.score)
        for r in sel_setup.search_selective("web search", 10).collect()
    ]
    assert sel == full and len(full) == 4


def test_search_selective_top1_subset(sel_setup):
    """An aggressive n_members=1 cut serves only the highest-mass
    member; its rows appear with UNCHANGED scores (a subset of the
    full ranking, the documented recall tradeoff)."""
    full = {
        (r.member, r.doc_id): r.score
        for r in sel_setup.search("web search", 10).collect()
    }
    sel = [
        (r.member, r.doc_id, r.score)
        for r in sel_setup.search_selective(
            "web search", 10, n_members=1
        ).collect()
    ]
    assert sel and all(m == 0 for m, _, _ in sel)
    for m, d, s in sel:
        assert full[(m, d)] == s
