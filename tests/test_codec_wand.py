"""Codec roundtrip, sharded posting build, top-k kernels vs exhaustive
scoring, and checkpoint-resume semantics."""

import numpy as np
import pytest

from tse_spark import fixtures, oracle
from tse_spark.operators import codec, postings as po, wand
from tse_spark.plans import pipeline as pl

GB = "gb2312"


# ---------------------------------------------------------------------------
# varint codec (pure python/numpy); posting runs: tests/test_codec_runs.py
# ---------------------------------------------------------------------------

def _pure_varint(vals):
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_varint_roundtrip(seed):
    rng = np.random.RandomState(seed)
    vals = np.concatenate(
        [
            rng.randint(0, 128, 50),
            rng.randint(0, 1 << 20, 50),
            rng.randint(0, 1 << 40, 20),
            np.array([0, 1, 127, 128, 16383, 16384, (1 << 62) - 1]),
        ]
    ).astype(np.int64)
    enc = codec.varint_encode(vals)
    assert enc == _pure_varint(vals)
    dec = codec.varint_decode(enc, len(vals))
    assert (dec == vals).all()


# ---------------------------------------------------------------------------
# top-k kernels == exhaustive on a pure-python corpus
# ---------------------------------------------------------------------------

def _mk_runs(eng: oracle.BM25Oracle, terms):
    """Build single-shard posting runs straight from the oracle's tf."""
    runs = []
    for t in terms:
        if t not in eng.df:
            continue
        docs, tfs, dls = [], [], []
        for d in sorted(eng.tf):
            c = eng.tf[d].get(t)
            if c:
                docs.append(d)
                tfs.append(c)
                dls.append(eng.doclen[d])
        blocks = codec.encode_postings(
            np.array(docs, dtype=np.int64),
            np.array(tfs, dtype=np.int64),
            np.array(dls, dtype=np.int64),
        )
        runs.append((oracle.bm25_idf(eng.n_docs, eng.df[t]), blocks))
    return runs


@pytest.fixture(scope="module")
def py_engine():
    pdf = fixtures.gen_pages(400)
    by_url = {}
    for url, text in zip(pdf["url"], pdf["text"]):
        by_url.setdefault(url, text)
    # doc_id = rank over md5(url) — matches ib.assign_doc_ids
    import hashlib

    docs = {
        i: by_url[u].encode(GB)
        for i, u in enumerate(
            sorted(by_url, key=lambda u: hashlib.md5(u.encode()).hexdigest())
        )
    }
    return oracle.BM25Oracle(docs, fixtures.mini_dict_bytes())


def _scored_runs(runs, avgdl):
    """Decode and score every posting of ``[(idf, blocks)]``."""
    out = []
    for idf, blocks in runs:
        d, t, dl = codec.decode_all(blocks)
        out.append((d, wand._score_arrays(idf, t, dl, avgdl)))
    return out


@pytest.mark.parametrize("k", [1, 5, 10, 50])
def test_blockmax_vectorized_equals_exhaustive(py_engine, k):
    """The per-shard disjunctive law of distributed ``search()``: decode
    every run, score with numpy, select with ``topk_from_scored`` —
    must reproduce exhaustive BM25 exactly."""
    for qid, query, _ in fixtures.gen_queries():
        qb = query.encode(GB)
        terms = sorted(set(py_engine.query_terms(qb)))
        scored = _scored_runs(_mk_runs(py_engine, terms), py_engine.avgdl)
        got = wand.topk_from_scored(scored, k)
        want = py_engine.search(qb, k)
        assert [d for d, _ in got] == [d for d, _ in want], f"q={query!r} k={k}"
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def _reference_topk(required, optional, k, excluded):
    """Pure-Python top-k: per-doc dict sum over all runs in run order,
    docs outside any required run or inside ``excluded`` dropped,
    sorted by (-score, doc)."""
    acc = {}
    for d, s in required + optional:
        for doc, score in zip(d.tolist(), s.tolist()):
            acc[doc] = acc.get(doc, 0.0) + score
    keep = set(acc)
    for d, _ in required:
        keep &= set(d.tolist())
    keep -= set(excluded.tolist()) if excluded is not None else set()
    ranked = sorted(
        ((doc, acc[doc]) for doc in keep), key=lambda x: (-x[1], x[0])
    )
    return ranked[: max(k, 0)]


@pytest.mark.parametrize("avgdl_scale", [1.0, 1.6])
def test_blockmax_equals_exhaustive_random_postings(avgdl_scale):
    """Adversarial synthetic runs against a pure-Python reference:
    uniform doc lengths in even trials force tie-heavy top-ks, so
    selection must keep every tie at the k-th score and the doc-asc
    order.  Pins ``topk_from_scored`` on its unique-based branch (the
    per-shard path) and its dense ``n_docs`` branch, and
    ``boolean_topk_scored`` with and without a required run.  Excluded
    ids (tombstones) never appear and never suppress a surviving doc;
    ``k = 0`` selects nothing.  Runs carry no corpus statistic, so the
    same encoded runs are scored under two avgdls (``avgdl_scale`` x
    20, as after appends move it); decoded scores must depend on the
    scoring avgdl only."""
    rng = np.random.RandomState(5)
    avgdl = 20.0 * avgdl_scale
    for trial in range(40):
        n_terms = rng.randint(1, 5)
        runs, raw = [], []
        for _ in range(n_terms):
            nd = rng.randint(1, 120)
            docs = np.unique(rng.randint(0, 400, nd)).astype(np.int64)
            tfs = rng.randint(1, 4, len(docs)).astype(np.int64)
            if trial % 2:
                dls = rng.randint(2, 80, len(docs)).astype(np.int64)
            else:
                dls = np.full(len(docs), 20, dtype=np.int64)  # ties
            blocks = codec.encode_postings(docs, tfs, dls)
            idf = float(rng.uniform(0.1, 6.0))
            runs.append((idf, blocks))
            raw.append((docs, wand._score_arrays(idf, tfs, dls, avgdl)))
        scored = _scored_runs(runs, avgdl)
        for (d, s), (rd, rs) in zip(scored, raw):
            assert (d == rd).all() and (s == rs).all(), trial
        ex = np.unique(rng.randint(0, 400, 60)).astype(np.int64)
        for k in (0, 1, 3, 10, 100):
            for excluded in (None, ex):
                want = _reference_topk([], scored, k, excluded)
                assert wand.topk_from_scored(
                    scored, k, excluded=excluded
                ) == want, (trial, k)
                assert wand.topk_from_scored(
                    scored, k, n_docs=400, excluded=excluded
                ) == want, (trial, k)
                assert wand.boolean_topk_scored(
                    [], scored, k, excluded
                ) == want, (trial, k)
                want_req = _reference_topk(
                    scored[:1], scored[1:], k, excluded
                )
                assert wand.boolean_topk_scored(
                    scored[:1], scored[1:], k, excluded
                ) == want_req, (trial, k)


def test_intersect_vec_equals_conjunctive(py_engine):
    """The conjunctive kernel (boolean_topk_scored with only required
    runs, as the distributed per-shard path calls it) equals the
    oracle's AND."""
    for qid, query, _ in fixtures.gen_queries():
        qb = query.encode(GB)
        terms = sorted(set(py_engine.query_terms(qb)))
        runs = _mk_runs(py_engine, terms)
        if len(runs) < len(terms):
            continue  # engine-level handling tested in search tests
        scored = _scored_runs(runs, py_engine.avgdl)
        got = wand.boolean_topk_scored(scored, [], 10)
        want = py_engine.search(qb, 10, conjunctive=True)
        assert [d for d, _ in got] == [d for d, _ in want], f"q={query!r}"
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


# ---------------------------------------------------------------------------
# Spark pipeline: shards, distributed WAND, resume
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("pages"))
    idx_dir = str(tmp_path_factory.mktemp("index"))
    fixtures.write_pages_parquet(data_dir, 400)
    pipe = pl.IndexPipeline(
        spark,
        idx_dir,
        tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7,
        num_partitions=4,
    )
    handle = pipe.run_from_pages(f"{data_dir}/pages.parquet", resume=False)
    return pipe, handle, data_dir


def test_shards_decode_to_tf(built, spark, py_engine):
    _, handle, _ = built
    assert handle.n_docs == py_engine.n_docs
    assert handle.avgdl == pytest.approx(py_engine.avgdl, rel=1e-9)
    rows = handle.postings.collect()
    got = {}
    for r in rows:
        docs, tfs, dls = codec.decode_all(bytes(r["blocks"]))
        for d, t, l in zip(docs, tfs, dls):
            got[(r["term"].encode(GB), int(d))] = (int(t), int(l))
    want = {}
    for d, counter in py_engine.tf.items():
        for t, c in counter.items():
            want[(t, d)] = (c, py_engine.doclen[d])
    assert got == want


def test_distributed_search_matches_oracle(built, py_engine):
    _, handle, _ = built
    for qid, query, k in fixtures.gen_queries()[::4]:
        want = py_engine.search(query.encode(GB), k)
        got = handle.engine.search(query, k).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], query
        loc = handle.engine.search_local(query, k)
        assert [d for d, _ in loc] == [d for d, _ in want], query
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, abs=1e-6)


def test_conjunctive_search(built, py_engine):
    _, handle, _ = built
    for query in ["web search", "数据 信息", "web zzzz"]:
        want = py_engine.search(query.encode(GB), 10, conjunctive=True)
        got = handle.engine.search(query, 10, conjunctive=True).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], query


def test_resume_skips_stages(built, spark):
    pipe, first, data_dir = built
    h2 = pipe.run_from_pages(f"{data_dir}/pages.parquet", resume=True)
    for name in ["docs", "tf", "postings", "term_stats"]:
        assert h2.manifest.stages[name]["resumed"] is True, name
    # and a param change invalidates downstream stages
    pipe2 = pl.IndexPipeline(
        spark,
        pipe.out_dir,
        tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=3,          # changed
        num_partitions=4,
    )
    h3 = pipe2.run_from_pages(f"{data_dir}/pages.parquet", resume=True)
    assert h3.manifest.stages["postings"]["resumed"] is False
    assert h3.postings.select("shard").distinct().count() <= 3


def test_load_index_roundtrip(built, spark, py_engine):
    pipe, handle, _ = built
    # NOTE: `built` may have been rebuilt with 3 shards by the resume
    # test; load whatever is on disk and check search still matches.
    h = pl.load_index(spark, pipe.out_dir, fixtures.mini_dict_bytes())
    want = py_engine.search("搜索引擎".encode(GB), 10)
    got = h.engine.search_local("搜索引擎", 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_hot_term_salted_across_shards(spark):
    """Skew control: a term present in EVERY doc must spread across the
    (term, shard) salt — no single reducer sees the whole posting list —
    and still decode back exactly."""
    import pandas as pd

    n_docs, n_shards = 5_000, 8
    rows = []
    for d in range(n_docs):
        rows.append((d, "hot", 3, 5))        # the skewed key
        rows.append((d, f"tail{d % 97}", 2, 5))
    tf_dl = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "term", "tf", "dl"])
    )
    shards = po.build_posting_shards(
        tf_dl, n_docs=n_docs, num_shards=n_shards
    ).collect()

    hot = [r for r in shards if r["term"] == "hot"]
    # salt engaged: the hot posting list is n_shards physical rows, one
    # per doc-range shard, each holding ~1/n_shards of the docs
    assert len(hot) == n_shards
    assert sum(r["df"] for r in hot) == n_docs
    assert max(r["df"] for r in hot) <= -(-n_docs // n_shards)

    got = {}
    for r in shards:
        docs, tfs, dls = codec.decode_all(bytes(r["blocks"]))
        for d, t, l in zip(docs, tfs, dls):
            got[(r["term"], int(d))] = (int(t), int(l))
    want = {(t, d): (tf, dl) for d, t, tf, dl in rows}
    assert got == want


def test_posting_build_survives_zero_term_docs(spark):
    """A chunk of only zero-term docs (junk/empty pages) must produce no
    posting rows, not an encoder crash."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "dl": [0, 0, 0],
                "terms": [[], [], []],
                "tfs": [[], [], []],
            }
        ),
        "doc_id long, dl long, terms array<string>, tfs array<long>",
    )
    assert po.build_posting_shards(df, 3, num_shards=2).count() == 0

    mixed = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "dl": [0, 2],
                "terms": [[], ["ab", "cd"]],
                "tfs": [[], [1, 1]],
            }
        ),
        "doc_id long, dl long, terms array<string>, tfs array<long>",
    )
    rows = po.build_posting_shards(mixed, 2, num_shards=2).collect()
    assert sorted(r["term"] for r in rows) == ["ab", "cd"]


def test_scored_cache_budget_and_eviction(built, spark, py_engine):
    """The scored-posting LRU respects its byte budget, evicts oldest
    terms first, and results are identical through fills/evictions.

    Loads a FRESH handle from the index dir: an earlier test re-runs
    the pipeline into the same out_dir (resume semantics), so the
    module fixture's cached postings DataFrame points at replaced
    files — evicted-term refetches here need the live listing."""
    pipe, _, _ = built
    eng = pl.load_index(
        spark, pipe.out_dir, fixtures.mini_dict_bytes()
    ).engine
    qs = fixtures.gen_queries()
    baseline = {q: eng.search_local(q, 10) for _qid, q, _k in qs}
    filled = eng._decoded_bytes
    assert filled > 0 and len(eng._decoded_cache) > 0
    # shrink the budget below the working set: refills must evict
    eng.decoded_cache_budget = max(1, filled // 3)
    for _qid, q, _k in qs:
        assert eng.search_local(q, 10) == baseline[q], q
    assert eng._decoded_bytes <= max(
        eng.decoded_cache_budget,
        # a single entry may exceed a tiny budget; the LRU keeps >= 1
        max(sum(a.nbytes for a in v) for v in eng._decoded_cache.values()),
    )
    # accounting stays exact: recompute from the live entries
    assert eng._decoded_bytes == sum(
        sum(a.nbytes for a in v) for v in eng._decoded_cache.values()
    )
    # restore and confirm identical results once more
    eng.decoded_cache_budget = 512 << 20
    for _qid, q, _k in qs[::5]:
        assert eng.search_local(q, 10) == baseline[q], q
