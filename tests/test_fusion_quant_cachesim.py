"""Independent (non-oracle) verification of the round-4 additions:
RRF fusion (X101), impact quantization (X102), LRU cache simulation
(X103), doc-id reorder gain (X104), burst detection (X105), and
query-likelihood ranking (X106).  Each law is re-derived with plain
Python/numpy on small inputs — a second, SQL-free truth next to the
entry-contract DuckDB oracles."""

import math
import random
from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

from tse_spark.operators import cachesim, fusion, reorder
from tse_spark.operators import index_build as ib


# ---------------------------------------------------------------------------
# X101 RRF
# ---------------------------------------------------------------------------

def test_rrf_hand_example(spark):
    # leg A ranks: d1=1 d2=2 d3=3 ; leg B: d3=1 d4=2
    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id long, rank int")
    got = {
        r["doc_id"]: r["rrf"]
        for r in fusion.rrf_fuse([a, b], k=10, k0=60).collect()
    }
    want = {
        1: 1 / 61,
        2: 1 / 62,
        3: 1 / 63 + 1 / 61,
        4: 1 / 62,
    }
    assert set(got) == set(want)
    for d, v in want.items():
        assert got[d] == pytest.approx(round(v, 6), abs=1e-9)


def test_rank_leg_tie_break(spark):
    leg = spark.createDataFrame(
        [(5, 2.0), (3, 2.0), (9, 1.0)], "doc_id long, score double"
    )
    ranks = {
        r["doc_id"]: r["rank"]
        for r in fusion.rank_leg(leg, "score").collect()
    }
    assert ranks == {3: 1, 5: 2, 9: 3}


# ---------------------------------------------------------------------------
# X102 quantization
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_tf(spark):
    docs = spark.createDataFrame(
        [
            (0, "aa bb aa cc"),
            (1, "aa bb"),
            (2, "cc cc cc dd"),
            (3, "aa dd dd bb"),
        ],
        "doc_id long, text string",
    )
    return ib.build_tf_ws(docs)


def test_quantization_law(spark, tiny_tf):
    tf = tiny_tf
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    exact = {
        (r["term"], r["doc_id"]): r["s"]
        for r in ib.impact_scores(tf, doclen, dfreq, n, avgdl).collect()
    }
    m = max(exact.values())
    q = {
        (r["term"], r["doc_id"]): r["q"]
        for r in ib.quantized_impacts(
            tf, doclen, dfreq, n, avgdl, bits=8
        ).collect()
    }
    assert set(q) == set(exact)
    for key, s in exact.items():
        assert q[key] == min(255, math.floor(s / m * 256.0))
    # the max-impact posting saturates the top code
    assert max(q.values()) == 255
    assert min(q.values()) >= 0


def test_quantized_topk_monotone_vs_exact(spark, tiny_tf):
    """8-bit codes keep the coarse order: the exact-BM25 winner for a
    single-term query stays the quantized winner (single term => the
    quantizer is monotone in the impact)."""
    tf = tiny_tf
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    exact = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, ["cc"], 1
    ).collect()
    qi = ib.quantized_impacts(tf, doclen, dfreq, n, avgdl)
    quant = ib.quantized_topk(spark, qi, ["cc"], 1).collect()
    assert exact[0]["doc_id"] == quant[0]["doc_id"]


def test_quantization_error_bound(spark, tiny_tf):
    """Midpoint dequantization error is bounded by one half-step of
    the 8-bit grid (except the saturated top code, whose error stays
    below a full step)."""
    tf = tiny_tf
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    row = ib.quantization_error(
        tf, doclen, dfreq, n, avgdl, bits=8
    ).collect()[0]
    exact = [
        r["s"]
        for r in ib.impact_scores(tf, doclen, dfreq, n, avgdl).collect()
    ]
    step = max(exact) / 256.0
    assert row["n_postings"] == len(exact)
    assert row["max_err"] <= step + 1e-9
    assert 0 <= row["mean_err"] <= row["max_err"]


# ---------------------------------------------------------------------------
# X103 LRU cache simulation vs a literal LRU replay
# ---------------------------------------------------------------------------

def _lru_replay(keys, size):
    cache = OrderedDict()
    hits = 0
    for k in keys:
        if k in cache:
            hits += 1
            cache.move_to_end(k)
        else:
            if len(cache) >= size:
                cache.popitem(last=False)
            cache[k] = True
    return hits


def test_reuse_distance_hand_example(spark):
    # a b a c b a : distances  a:-, b:-, a:1(b), c:-, b:2(a,c), a:2(c,b)
    keys = ["a", "b", "a", "c", "b", "a"]
    log = spark.createDataFrame(
        list(enumerate(keys)), "pos long, key string"
    )
    d = {
        r["pos"]: r["d"]
        for r in cachesim.reuse_distances(log, bucket=2).collect()
    }
    assert d == {0: None, 1: None, 2: 1, 3: None, 4: 2, 5: 2}


@pytest.mark.parametrize("bucket", [4, 64, 1024])
def test_lru_hit_rates_match_replay(spark, bucket):
    rng = random.Random(42)
    keys = [f"k{rng.randint(0, 30)}" for _ in range(600)]
    log = spark.createDataFrame(
        list(enumerate(keys)), "pos long, key string"
    )
    sizes = [2, 8, 32]
    got = {
        r["cache_size"]: (r["hits"], r["accesses"], r["hit_rate"])
        for r in cachesim.lru_hit_rates(log, sizes, bucket=bucket).collect()
    }
    for c in sizes:
        hits = _lru_replay(keys, c)
        assert got[c][0] == hits, f"size {c}"
        assert got[c][1] == len(keys)
        assert got[c][2] == pytest.approx(round(hits / len(keys), 4))


# ---------------------------------------------------------------------------
# X104 doc-id reorder
# ---------------------------------------------------------------------------

def test_rank_by_key_matches_sort(spark):
    rows = [(i, t) for i, t in enumerate(["pear", "apple", "apple", "fig"])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["new_id"]
        for r in reorder.rank_by_key(docs, "text").collect()
    }
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {doc_id: i for i, (doc_id, _) in enumerate(order)}
    assert got == want


def test_varint_gap_law(spark):
    # one term, ids 0, 127, 128+127=255? craft gaps 1,127,128,16384
    ids = [0, 127, 255, 16639]
    postings = spark.createDataFrame(
        [("t", i) for i in ids], "term string, doc_id long"
    )
    row = reorder.gap_byte_cost(postings, "doc_id").collect()[0]
    # gaps: 0+1=1 (1B), 127 (1B), 128 (2B), 16384 (3B)
    assert row["n_postings"] == 4
    assert row["total_bytes"] == 1 + 1 + 2 + 3


def test_reorder_gain_never_hurts_on_clustered_corpus(spark):
    """Docs whose content clusters by template compress strictly
    better once ids follow the content sort."""
    rows = []
    for i in range(120):
        rows.append((i, f"template{'ab'[i % 2]} common tokens here v{i}"))
    # crawl order interleaves the two templates -> big gaps
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tf = ib.build_tf_ws(docs)
    out = {
        r["ordering"]: r["total_bytes"]
        for r in reorder.reorder_gain(tf, docs, "text").collect()
    }
    assert out["content_sort"] <= out["crawl_order"]


# ---------------------------------------------------------------------------
# X105 bursts
# ---------------------------------------------------------------------------

def test_burst_windows_flags_injected_spike(spark):
    from tse_spark.operators import events as ev
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(40):
        n = 5 if h != 30 else 80  # hour 30 bursts
        for _ in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h), 1, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = ev.burst_windows(df).collect()
    flagged = {(r["event_type"], r["hour_start"]) for r in out}
    spike_epoch = int((base + dt.timedelta(hours=30)).timestamp())
    assert ("click", spike_epoch) in flagged
    # constant-rate hours never flag
    assert len(flagged) == 1


# ---------------------------------------------------------------------------
# X106 query likelihood
# ---------------------------------------------------------------------------

def test_ql_dirichlet_matches_numpy(spark, tiny_tf):
    tf_rows = tiny_tf.collect()
    doclen = ib.build_doclen(tiny_tf)
    terms = ["aa", "cc"]
    mu = 50.0
    got = {
        r["doc_id"]: r["score"]
        for r in ib.ql_dirichlet_topk(
            spark, tiny_tf, doclen, terms, k=10, mu=mu
        ).collect()
    }
    tfmap = {(r["term"], r["doc_id"]): r["tf"] for r in tf_rows}
    dl = {}
    for r in tf_rows:
        dl[r["doc_id"]] = dl.get(r["doc_id"], 0) + r["tf"]
    total = sum(dl.values())
    cf = {
        t: sum(v for (tt, _), v in tfmap.items() if tt == t) for t in terms
    }
    cands = sorted({d for (t, d) in tfmap if t in terms})
    for d in cands:
        want = sum(
            math.log(
                (tfmap.get((t, d), 0) + mu * cf[t] / total) / (dl[d] + mu)
            )
            for t in terms
        )
        assert got[d] == pytest.approx(round(want, 4), abs=1e-6)
    assert set(got) == set(cands)


# ---------------------------------------------------------------------------
# X109 accumulator-limited (quit/continue) evaluation
# ---------------------------------------------------------------------------

def _acc_corpus(spark):
    # rare term "rr" in docs 0,1; mid "mm" in 2,3,4; common "cc" in all
    rows = [
        (0, "rr cc"),
        (1, "rr mm cc"),   # wait: keep mm out of 1 to control firsts
        (2, "mm cc"),
        (3, "mm cc"),
        (4, "mm cc"),
        (5, "cc cc"),
        (6, "cc"),
    ]
    rows[1] = (1, "rr cc")
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_acc_limit_gate_semantics(spark):
    from tse_spark.operators import index_build as ib

    docs = _acc_corpus(spark)
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    terms = ["rr", "mm", "cc"]
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(terms)))
    n, avgdl = ib.corpus_stats(doclen)

    def run(limit):
        return {
            r["doc_id"]
            for r in ib.accumulator_limited_topk(
                spark, tf, doclen, dfreq, n, avgdl, terms, 10, limit
            ).collect()
        }

    # term order by df asc: rr(2) -> mm(3) -> cc(7)
    # L=4: rr enters {0,1} (before=0), mm enters {2,3,4} (before=2<4),
    #      cc blocked (before=5>=4) -> docs 5,6 never become candidates
    assert run(4) == {0, 1, 2, 3, 4}
    # L=2: rr enters, mm blocked (before=2>=2), cc blocked
    assert run(2) == {0, 1}
    # huge L == exhaustive BM25 candidate set
    full = {
        r["doc_id"]
        for r in ib.bm25_topk(
            spark, tf, doclen, dfreq, n, avgdl, terms, 10
        ).collect()
    }
    assert run(10_000) == full


def test_acc_limit_scores_are_full_bm25(spark):
    """Continue semantics: a surviving candidate's score includes ALL
    its query terms, so it equals the exhaustive BM25 score."""
    from tse_spark.operators import index_build as ib

    docs = _acc_corpus(spark)
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    terms = ["rr", "mm", "cc"]
    dfreq = ib.build_df_stats(tf.filter(F.col("term").isin(terms)))
    n, avgdl = ib.corpus_stats(doclen)
    lim = {
        r["doc_id"]: r["score"]
        for r in ib.accumulator_limited_topk(
            spark, tf, doclen, dfreq, n, avgdl, terms, 10, 4
        ).collect()
    }
    full = {
        r["doc_id"]: round(r["score"], 4)
        for r in ib.bm25_topk(
            spark, tf, doclen, dfreq, n, avgdl, terms, 10
        ).collect()
    }
    for d, s in lim.items():
        assert s == pytest.approx(full[d], abs=1e-4)


# ---------------------------------------------------------------------------
# X111 rank-biased overlap
# ---------------------------------------------------------------------------

def test_rbo_identical_and_disjoint(spark):
    a = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(i + 100, i + 1) for i in range(5)], "doc_id long, rank int"
    )
    p = 0.9
    same = fusion.rank_overlap_rbo(a, a, 5, p).collect()[0]
    # identical prefixes: overlap@d = d, so RBO = (1-p) sum p^(d-1)
    want = (1 - p) * sum(p ** (d - 1) for d in range(1, 6))
    assert same["rbo"] == pytest.approx(round(want, 6), abs=1e-9)
    none = fusion.rank_overlap_rbo(a, b, 5, p).collect()[0]
    assert none["rbo"] == 0.0


def test_rbo_hand_overlap(spark):
    # A = [1,2,3], B = [2,1,4]: overlap@1=0, @2=2, @3=2
    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(2, 1), (1, 2), (4, 3)], "doc_id long, rank int"
    )
    p = 0.9
    got = fusion.rank_overlap_rbo(a, b, 3, p).collect()[0]
    want = (1 - p) * (p ** 0 * 0 / 1 + p ** 1 * 2 / 2 + p ** 2 * 2 / 3)
    assert got["rbo"] == pytest.approx(round(want, 6), abs=1e-9)
    assert got["k"] == 3 and got["p"] == pytest.approx(0.9)


# ----- X115 static cache admission (cachesim.static_cache_admission) -----


def _admission_fixture(spark, n_terms=40, seed=7):
    """Deterministic (qtf, tf) pair with byte/df variety: term t
    appears in df=t+1 docs spaced t apart, qtf = (t*13) % 29 + 1."""
    rows = []
    for t in range(n_terms):
        for j in range(t + 1):
            rows.append((f"t{t:03d}", j * (t + 1)))
    tf = spark.createDataFrame(rows, "term string, doc_id long")
    q = spark.createDataFrame(
        [(f"t{t:03d}", (t * 13) % 29 + 1) for t in range(n_terms)],
        "term string, qtf long",
    )
    return q, tf


def _greedy_reference(q, tf_rows, budget):
    """Literal QtfDf greedy in pure Python."""
    import collections

    per = collections.defaultdict(list)
    for t, d in tf_rows:
        per[t].append(d)

    def vbytes(ids):
        ids = sorted(ids)
        prev, tot = -1, 0
        for i in ids:
            gap = i - prev
            tot += 1 if gap < 128 else 2 if gap < 16384 else 3
            prev = i
        return tot

    cand = []
    for t, qtf in q:
        df = len(per[t])
        cand.append((qtf / df, t, qtf, df, vbytes(per[t])))
    cand.sort(key=lambda x: (-x[0], x[1]))
    out, cum = [], 0
    for ratio, t, qtf, df, b in cand:
        cum += b
        if cum > budget:
            # greedy-by-prefix (the paper's scan): stop admitting but
            # keep scanning is NOT what the operator does — it cuts
            # every term past the budget point, so mirror that
            continue
        out.append((t, qtf, df, round(ratio, 6), b, cum))
    return out


@pytest.mark.parametrize("num_buckets", [1, 7, 1024])
def test_admission_matches_greedy_reference(spark, num_buckets):
    q, tf = _admission_fixture(spark)
    budget = 700
    got = [
        (r["term"], r["qtf"], r["df"], r["ratio"], r["bytes"],
         r["cum_bytes"])
        for r in cachesim.static_cache_admission(
            q, tf, budget, num_buckets=num_buckets
        ).collect()
    ]
    want = _greedy_reference(
        [(r["term"], r["qtf"]) for r in q.collect()],
        [(r["term"], r["doc_id"]) for r in tf.collect()],
        budget,
    )
    assert got == want


def test_admission_budget_edges(spark):
    q, tf = _admission_fixture(spark, n_terms=10)
    nothing = cachesim.static_cache_admission(q, tf, 0).collect()
    assert nothing == []
    everything = cachesim.static_cache_admission(q, tf, 10**9)
    assert everything.count() == 10
    # cum_bytes of the full admission equals the total byte mass
    rows = everything.collect()
    assert rows[-1]["cum_bytes"] == sum(r["bytes"] for r in rows)


def test_admission_parallelism_independent(spark):
    q, tf = _admission_fixture(spark)
    a = cachesim.static_cache_admission(
        q.repartition(1), tf.repartition(1), 700
    ).collect()
    b = cachesim.static_cache_admission(
        q.repartition(13), tf.repartition(29), 700
    ).collect()
    assert a == b


# ----- X116 anytime / JASS posting-budget ranking (ib.anytime_topk) -----


def _anytime_replay(qrows, terms, rho, k):
    """Literal anytime traversal in Python: global (q DESC, term,
    doc_id) order, first rho postings accumulate."""
    cand = sorted(
        (r for r in qrows if r[0] in terms),
        key=lambda r: (-r[2], r[0], r[1]),
    )[:rho]
    acc = {}
    for t, d, q in cand:
        acc[d] = acc.get(d, 0) + q
    return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _qimpacts(spark, tf):
    doclen = ib.build_doclen(tf)
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    return ib.quantized_impacts(tf, doclen, dfreq, n, avgdl, bits=8)


@pytest.mark.parametrize("rho", [1, 3, 5, 9])
def test_anytime_matches_replay(spark, tiny_tf, rho):
    qi = _qimpacts(spark, tiny_tf)
    rows = [(r["term"], r["doc_id"], r["q"]) for r in qi.collect()]
    got = [
        (r["doc_id"], r["qscore"])
        for r in ib.anytime_topk(
            spark, qi, ["aa", "dd"], rho, k=10
        ).collect()
    ]
    assert got == _anytime_replay(rows, {"aa", "dd"}, rho, 10)


def test_anytime_full_budget_is_exhaustive(spark, tiny_tf):
    qi = _qimpacts(spark, tiny_tf)
    full = ib.quantized_topk(spark, qi, ["aa", "cc"], k=10).collect()
    any_ = ib.anytime_topk(spark, qi, ["aa", "cc"], 10**6, k=10).collect()
    assert [tuple(r) for r in any_] == [tuple(r) for r in full]


def test_anytime_empty_and_parallelism(spark, tiny_tf):
    qi = _qimpacts(spark, tiny_tf)
    assert ib.anytime_topk(spark, qi, [], 5).collect() == []
    assert ib.anytime_topk(spark, qi, ["aa"], 0).collect() == []
    a = ib.anytime_topk(spark, qi.repartition(1), ["aa", "bb"], 4).collect()
    b = ib.anytime_topk(spark, qi.repartition(16), ["aa", "bb"], 4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_admission_budget_frac(spark):
    q, tf = _admission_fixture(spark, n_terms=12)
    full = cachesim.static_cache_admission(q, tf, budget_frac=1.0)
    rows = full.collect()
    assert len(rows) == 12  # frac 1.0 admits the whole candidate set
    tot = sum(r["bytes"] for r in rows)
    half = cachesim.static_cache_admission(q, tf, budget_frac=0.5).collect()
    # the relative cut equals the absolute cut at tot/2 (dyadic frac)
    abs_half = cachesim.static_cache_admission(q, tf, tot // 2).collect()
    if tot % 2 == 0:
        assert [tuple(r) for r in half] == [tuple(r) for r in abs_half]
    assert all(r["cum_bytes"] <= tot * 0.5 for r in half)
    with pytest.raises(ValueError, match="exactly one"):
        cachesim.static_cache_admission(q, tf)
    with pytest.raises(ValueError, match="exactly one"):
        cachesim.static_cache_admission(q, tf, 100, budget_frac=0.5)


def test_admission_plan_warms_the_serving_tier(spark, tmp_path):
    """X115 -> serving integration: the admitted term set feeds
    SearchEngine.warm(preload_terms=...), after which queries over
    admitted terms serve from the driver LRU with the Spark posting
    path POISONED — the static cache is real, not just a report."""
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    docs = spark.createDataFrame(
        [
            (i, " ".join(
                ["alpha"] * (1 + i % 3)
                + (["bravo"] if i % 2 == 0 else ["charlie"])
                + (["delta"] if i % 5 == 0 else [])
            ))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    h = pl.IndexPipeline(
        spark, str(tmp_path / "idx"), tokenizer="ws",
        num_shards=3, num_partitions=2,
    ).run_from_docs(docs, input_key="adm", resume=False)

    tf = ib.build_tf_ws(docs)
    qtf = spark.createDataFrame(
        [("alpha", 30), ("bravo", 8), ("delta", 5)],
        "term string, qtf long",
    )
    plan = cachesim.static_cache_admission(qtf, tf, budget_frac=1.0)
    admitted = [r["term"] for r in plan.collect()]
    assert set(admitted) == {"alpha", "bravo", "delta"}

    h.engine.warm(preload_terms=admitted)
    h.engine.posting_files = None  # any posting fetch would now throw
    res = h.engine.search_local("alpha bravo", 5)
    assert len(res) == 5 and all(s > 0 for _, s in res)
    # an unadmitted term forces a fetch against the poisoned path
    with pytest.raises(Exception):
        h.engine.search_local("alpha charlie", 5)
