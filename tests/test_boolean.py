"""Boolean query serving: ``term +required -excluded`` (+ quoted
phrases in the parser).  The declarative path
(index_build.bm25_boolean_topk) is the oracle; the shard-served engine
paths (search_boolean / search_boolean_local) must match it exactly,
and the numpy kernel (wand.boolean_topk_scored) is checked against a
brute-force dict scorer on synthetic runs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tse_spark.operators import index_build as ib, search as search_mod
from tse_spark.operators import wand
from tse_spark.plans import pipeline as pl

SF = "/root/testdata/sf0.001"
K = 10


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def test_parse_plain_terms():
    assert search_mod.parse_boolean_query("Spark JOIN data") == (
        ["spark", "join", "data"], [], [], []
    )


def test_parse_required_excluded_phrases():
    opt, req, exc, phr = search_mod.parse_boolean_query(
        'spark +join -slow "merge sort" -Big +FAST'
    )
    assert opt == ["spark"]
    assert req == ["join", "fast"]
    assert exc == ["slow", "big"]
    assert phr == ["merge sort"]


def test_parse_bare_signs_and_empty_phrase_dropped():
    assert search_mod.parse_boolean_query('+ - "" spark') == (
        ["spark"], [], [], []
    )


def test_parse_unclosed_quote_runs_to_end():
    opt, req, exc, phr = search_mod.parse_boolean_query('spark "fast scan')
    assert opt == ["spark"]
    assert phr == ["fast scan"]


# ---------------------------------------------------------------------------
# numpy kernel vs brute force
# ---------------------------------------------------------------------------

def _brute(required, optional, k, excluded):
    ex = set() if excluded is None else set(excluded.tolist())
    score: dict[int, float] = {}
    member: dict[int, int] = {}
    for d, s in required:
        for doc, sc in zip(d.tolist(), s.tolist()):
            member[doc] = member.get(doc, 0) + 1
            score[doc] = score.get(doc, 0.0) + sc
    for d, s in optional:
        for doc, sc in zip(d.tolist(), s.tolist()):
            score[doc] = score.get(doc, 0.0) + sc
    out = [
        (doc, sc)
        for doc, sc in score.items()
        if doc not in ex
        and (not required or member.get(doc, 0) == len(required))
    ]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _mk_runs(rng, n_runs, n_docs):
    runs = []
    for _ in range(n_runs):
        m = int(rng.integers(1, n_docs))
        docs = np.sort(rng.choice(n_docs, size=m, replace=False)).astype(
            np.int64
        )
        scores = rng.uniform(0.1, 3.0, size=m)
        runs.append((docs, scores))
    return runs


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_boolean_kernel_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    for trial in range(20):
        n_docs = int(rng.integers(5, 120))
        req = _mk_runs(rng, int(rng.integers(0, 3)), n_docs)
        opt = _mk_runs(rng, int(rng.integers(0, 4)), n_docs)
        if not req and not opt:
            continue
        if rng.integers(0, 2):
            m = int(rng.integers(1, n_docs + 1))
            exc = np.sort(
                rng.choice(n_docs, size=m, replace=False)
            ).astype(np.int64)
        else:
            exc = None
        got = wand.boolean_topk_scored(req, opt, 5, exc)
        want = _brute(req, opt, 5, exc)
        assert len(got) == len(want)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12)


def test_boolean_kernel_empty_cases():
    d = np.array([1, 2, 3], dtype=np.int64)
    s = np.array([1.0, 2.0, 3.0])
    assert wand.boolean_topk_scored([], [], 5) == []
    # every candidate excluded
    assert wand.boolean_topk_scored([(d, s)], [], 5, d) == []
    # disjoint required runs
    d2 = np.array([7, 9], dtype=np.int64)
    assert (
        wand.boolean_topk_scored([(d, s), (d2, s[:2])], [], 5) == []
    )


# ---------------------------------------------------------------------------
# engine vs declarative path over the sf0.001 documents corpus
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def ws_handle(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("bool_ws_idx"))
    pipe = pl.IndexPipeline(
        spark, idx_dir, tokenizer="ws", num_shards=5
    )
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
    )
    return pipe.run_from_docs(docs, input_key="bool_sf0001", resume=False)


def _declarative(spark, positive, required, excluded, k=K):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
    )
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    scoring = sorted(set(positive) | set(required))
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(scoring)))
    n, avgdl = ib.corpus_stats(doclen)
    return ib.bm25_boolean_topk(
        spark, tf, doclen, dfreq, n, avgdl, positive, required, excluded, k
    ).collect()


@pytest.mark.parametrize(
    "query,positive,required,excluded",
    [
        ("spark data +join -slow", ["spark", "data"], ["join"], ["slow"]),
        ("spark -slow -big", ["spark"], [], ["slow", "big"]),
        ("+scan +merge value", ["value"], ["scan", "merge"], []),
    ],
)
def test_engine_matches_declarative(
    spark, ws_handle, query, positive, required, excluded
):
    want = _declarative(spark, positive, required, excluded)
    got = ws_handle.engine.search_boolean(query, K).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (r["doc_id"], round(r["score"], 6)) for r in want
    ]
    loc = ws_handle.engine.search_boolean_local(query, K)
    assert [(d, round(s, 6)) for d, s in loc] == [
        (r["doc_id"], round(r["score"], 6)) for r in want
    ]


def test_cli_boolean_mode(spark, ws_handle, capsys):
    """scripts/query_index.py --boolean serves the same ranking as the
    engine (in-process: getOrCreate reuses the test session)."""
    import json
    import sys

    sys.path.insert(0, "scripts")
    try:
        import query_index
    finally:
        sys.path.pop(0)
    idx_dir = ws_handle.out_dir
    rc = query_index.main(
        ["--index", idx_dir, "--boolean", "--k", "5",
         "spark data +join -slow"]
    )
    assert rc == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    res = json.loads(lines[-1])
    want = ws_handle.engine.search_boolean_local("spark data +join -slow", 5)
    assert res["results"] == [[d, round(s, 4)] for d, s in want]
    # a non-positive k is an argument error, not a kernel crash
    with pytest.raises(SystemExit):
        query_index.main(["--index", idx_dir, "--k", "0", "spark"])
    # --suggest on a query with fewer than k results: "did you mean"
    # terms from the handle's term_stats
    from tse_spark.operators import textops

    rc = query_index.main(
        ["--index", idx_dir, "--suggest", "--k", "5", "sparkk"]
    )
    assert rc == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    out = json.loads(lines[-1])
    assert len(out["results"]) < 5
    want = [
        r["term"]
        for r in textops.spell_suggest(
            ws_handle.term_stats, "sparkk", k=3
        ).collect()
    ]
    assert "spark" in want
    assert out["suggestions"] == {"sparkk": want}


# ---------------------------------------------------------------------------
# synonym expansion (#syn group-max)
# ---------------------------------------------------------------------------

def test_synmax_run_matches_brute_force():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n_docs = int(rng.integers(5, 80))
        runs = _mk_runs(rng, int(rng.integers(1, 4)), n_docs)
        u, vals = wand.synmax_run(runs)
        want: dict[int, float] = {}
        for d, s in runs:
            for doc, sc in zip(d.tolist(), s.tolist()):
                want[doc] = max(want.get(doc, 0.0), sc)
        assert u.tolist() == sorted(want)
        for doc, v in zip(u.tolist(), vals.tolist()):
            assert v == pytest.approx(want[doc], rel=1e-12)
    assert wand.synmax_run([])[0].size == 0


def _declarative_syn(spark, terms, groups, k=K):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
    )
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    allt = sorted(set(terms) | {t for g in groups for t in g})
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(allt)))
    n, avgdl = ib.corpus_stats(doclen)
    return ib.bm25_expanded_topk(
        spark, tf, doclen, dfreq, n, avgdl, terms, groups, k
    ).collect()


def test_expanded_engine_matches_declarative(spark, ws_handle):
    groups = [["merge", "sort"], ["fast", "quick"]]  # quick: absent term
    want = _declarative_syn(spark, ["spark", "merge", "fast"], groups)
    got = ws_handle.engine.search_expanded("spark merge fast", groups, K)
    got = got.collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (r["doc_id"], round(r["score"], 6)) for r in want
    ]
    loc = ws_handle.engine.search_expanded_local(
        "spark merge fast", groups, K
    )
    assert [(d, round(s, 6)) for d, s in loc] == [
        (r["doc_id"], round(r["score"], 6)) for r in want
    ]


def test_expansion_only_follows_the_query(spark, ws_handle):
    """A synonym-table group the query never touched adds nothing."""
    eng = ws_handle.engine
    groups = [["scan", "filter"]]  # query below matches neither
    want = _declarative_syn(spark, ["spark", "data"], [])
    got = eng.search_expanded("spark data", groups, K).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (r["doc_id"], round(r["score"], 6)) for r in want
    ]


def test_expansion_without_groups_equals_plain_search(ws_handle):
    eng = ws_handle.engine
    a = eng.search("spark data", K).collect()
    b = eng.search_expanded("spark data", [], K).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_engine_boolean_edge_cases(ws_handle):
    eng = ws_handle.engine
    # contradiction: required and excluded
    assert eng.search_boolean("+spark -spark data", K).collect() == []
    assert eng.search_boolean_local("+spark -spark data", K) == []
    # required term absent from the corpus
    assert eng.search_boolean("data +zzzznope", K).collect() == []
    assert eng.search_boolean_local("data +zzzznope", K) == []
    # pure-negative query is unanswerable
    assert eng.search_boolean("-spark", K).collect() == []
    # excluded term that never occurs changes nothing
    a = eng.search_boolean("spark data", K).collect()
    b = eng.search_boolean("spark data -zzzznope", K).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # phrases route to the positional operators
    with pytest.raises(ValueError):
        eng.search_boolean('spark "merge sort"', K)
