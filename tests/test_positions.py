"""Positional posting index: codec roundtrip, build, and index-only
phrase serving — result-identical to the scan-side phrase_match."""

import numpy as np
import pytest

from tse_spark.operators import positions as P
from tse_spark.operators import textops


def test_positional_codec_roundtrip_randomized():
    rng = np.random.default_rng(7)
    for _ in range(40):
        n = int(rng.integers(1, 400))
        docs = np.unique(rng.integers(0, 10_000, size=n).astype(np.int64))
        cnts = rng.integers(1, 6, size=docs.size).astype(np.int64)
        posflat = np.concatenate(
            [
                np.sort(
                    rng.choice(100_000, size=c, replace=False)
                ).astype(np.int64)
                for c in cnts
            ]
        )
        blob = P.encode_positions_run(docs, cnts, posflat, block_size=32)
        d2, c2, p2 = P.decode_positions(blob)
        assert np.array_equal(docs, d2)
        assert np.array_equal(cnts, c2)
        assert np.array_equal(posflat, p2)


def test_positional_codec_interleaved_partials_resort():
    # partial runs from different input partitions may interleave doc
    # ranges; the decoder must re-sort postings (with their ragged
    # position slices) by doc id
    b1 = P.encode_positions_run(
        np.array([1, 5], np.int64),
        np.array([1, 1], np.int64),
        np.array([0, 3], np.int64),
    )
    b2 = P.encode_positions_run(
        np.array([2, 4], np.int64),
        np.array([2, 1], np.int64),
        np.array([1, 7, 2], np.int64),
    )
    d, c, p = P.decode_positions(b1 + b2)
    assert d.tolist() == [1, 2, 4, 5]
    assert c.tolist() == [1, 2, 1, 1]
    assert p.tolist() == [0, 1, 7, 2, 3]


def test_positional_codec_empty():
    d, c, p = P.decode_positions(b"")
    assert d.size == 0 and c.size == 0 and p.size == 0


@pytest.fixture(scope="module")
def pos_docs(spark):
    rows = [
        (1, "big data big data big"),
        (2, "Big\t DATA\nrocks big data"),
        (3, ""),  # empty doc drops out of the index entirely
        (4, "data big"),  # wrong order
        (5, "a a a a"),
        (6, "a a b a a a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def pos_index(spark, pos_docs):
    idx = P.build_position_index(pos_docs, n_docs=6, num_shards=3).cache()
    idx.count()
    yield idx
    idx.unpersist()


def _collect(df):
    return {(r["doc_id"], r["n_hits"]) for r in df.collect()}


@pytest.mark.parametrize(
    "phrase",
    [
        "Big Data",      # case/whitespace folding, multiple hits
        "big data big",  # overlapping starts
        "a a a",         # duplicate-word phrase, overlapping runs
        "data rocks",
        "big",           # single word: n_hits == tf
        "zzz missing",   # absent word -> empty
    ],
)
def test_phrase_positional_matches_scan(pos_docs, pos_index, phrase):
    got = _collect(P.phrase_match_positional(pos_index, phrase))
    want = _collect(textops.phrase_match(pos_docs, phrase))
    assert got == want


def test_phrase_positional_on_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = P.build_position_index(docs, docs.count(), num_shards=4).cache()
    try:
        for phrase in ["spark join", "the the"]:
            got = _collect(P.phrase_match_positional(idx, phrase))
            want = _collect(textops.phrase_match(docs, phrase))
            assert got == want and got
    finally:
        idx.unpersist()


def _brute_proximity(rows, w0, w1, window):
    want = {}
    for doc_id, text in rows:
        toks = text.lower().split()
        n = sum(
            1
            for i, a in enumerate(toks)
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1)
            if a == w0 and toks[j] == w1
        )
        if n:
            want[doc_id] = n
    return want


@pytest.mark.parametrize(
    "w0,w1,window",
    [
        ("big", "data", 1),   # == exact bigram adjacency
        ("big", "data", 3),
        ("data", "big", 2),   # order matters
        ("a", "a", 2),        # same-word pairs
        ("big", "zzz", 4),    # absent second word -> empty
    ],
)
def test_proximity_count(pos_docs, pos_index, w0, w1, window):
    got = {
        r["doc_id"]: r["n_pairs"]
        for r in P.proximity_count(pos_index, w0, w1, window).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in pos_docs.collect()]
    assert got == _brute_proximity(rows, w0, w1, window)


def test_position_shards_pushdown(spark, pos_docs, tmp_path):
    # stored as parquet, the serving-side term IN filter must reach the
    # scan (PushedFilters) so only the phrase terms' rows are read
    path = str(tmp_path / "pos_shards")
    P.build_position_index(pos_docs, 6, num_shards=3).write.parquet(path)
    stored = spark.read.parquet(path)
    plan = (
        P.phrase_match_positional(stored, "big data")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "In(term" in plan


def test_position_table_build_append_load(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id < 250")
    delta = docs.filter("doc_id >= 250")
    out = str(tmp_path / "pos_table")
    P.build_position_table(base, out, n_docs=500, num_shards=4)
    P.append_position_table(delta, out)
    merged = P.load_position_table(spark, out)
    for phrase in ["spark join", "the the"]:
        got = _collect(P.phrase_match_positional(merged, phrase))
        want = _collect(textops.phrase_match(docs, phrase))
        assert got == want and got


def test_position_table_append_crash_leaves_old_visible(spark, tmp_path):
    import json
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter("doc_id < 250")
    out = str(tmp_path / "pos_table")
    P.build_position_table(base, out, n_docs=500, num_shards=4)
    before = _collect(
        P.phrase_match_positional(
            P.load_position_table(spark, out), "spark join"
        )
    )
    # simulate a crash AFTER the delta dir write but BEFORE the meta
    # republish: write garbage delta dir by hand; meta still lists only
    # the base dir, so the load must not see it
    os.makedirs(os.path.join(out, "data_1"), exist_ok=True)
    after = _collect(
        P.phrase_match_positional(
            P.load_position_table(spark, out), "spark join"
        )
    )
    assert after == before
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert meta["data_dirs"] == ["data"]


def test_phrase_first_hit_and_snippet(spark, pos_docs, pos_index):
    got = {
        r["doc_id"]: (r["n_hits"], r["first_pos"])
        for r in P.phrase_first_hit(pos_index, "big data").collect()
    }
    # doc1: "big data big data big" -> hits at 0,2; doc2 hit at 0 and 3;
    # doc4 is "data big" (wrong order)
    assert got[1] == (2, 0)
    assert got[2] == (2, 0)
    assert 4 not in got

    snips = {
        r["doc_id"]: r["snippet"]
        for r in P.phrase_snippet_topk(
            pos_index, pos_docs, "big data", k=2, context=2
        ).collect()
    }
    assert len(snips) == 2
    assert snips[1] == "big data big data"
    assert snips[2] == "big data rocks big"


def test_phrase_serving_masks_deleted_docs(spark, pos_docs, pos_index):
    """Deletion masking at the positional serving edge: a tombstoned
    doc disappears from phrase matches, proximity counts, and the
    snippet top-k — and the top-k REFILLS with the next survivor
    rather than just shrinking."""
    excluded = spark.createDataFrame([(1,)], "doc_id long")
    got = {
        r["doc_id"]
        for r in P.phrase_match_positional(
            pos_index, "big data", excluded=excluded
        ).collect()
    }
    assert got == {2}  # doc 1 masked, doc 2 survives
    prox = {
        r["doc_id"]
        for r in P.proximity_count(
            pos_index, "big", "data", 2, excluded=excluded
        ).collect()
    }
    assert 1 not in prox and 2 in prox
    snips = {
        r["doc_id"]: r["snippet"]
        for r in P.phrase_snippet_topk(
            pos_index, pos_docs, "big data", k=2,
            context=2, excluded=excluded,
        ).collect()
    }
    # k=2 requested; doc 1 (the best hit) is deleted, so the page is
    # doc 2 alone — and doc 1 never appears
    assert 1 not in snips and 2 in snips


def test_position_table_compact_folds_deltas_and_tombstones(
    spark, tmp_path
):
    """build + 2 appends + excluded ids -> compact: ONE base dir,
    re-sharded to the live doc range, phrase/proximity results
    identical to a from-scratch rebuild over the survivors, and the
    pre-compact state still time-travelable via its snapshot."""
    import json
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "pos_table")
    P.build_position_table(
        docs.filter("doc_id < 200"), out, n_docs=200, num_shards=4
    )
    P.append_position_table(
        docs.filter("doc_id >= 200 and doc_id < 350"), out
    )
    P.append_position_table(docs.filter("doc_id >= 350"), out)
    dead = [d for d in range(500) if d % 7 == 3]
    pre = _collect(
        P.phrase_match_positional(
            P.load_position_table(spark, out), "spark join"
        )
    )
    pre_meta = json.load(open(os.path.join(out, "meta.json")))
    pre_snap = pre_meta["snapshot_id"]
    assert len(pre_meta["data_dirs"]) == 3

    P.compact_position_table(
        spark, out, max_doc_id=499, excluded=dead
    )
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert meta["data_dirs"] == ["data_base_v1"]
    assert meta["shard_range"] == 125  # ceil(500/4): re-sharded
    assert meta["snapshot_id"] == pre_snap + 1
    assert meta["compactions"][0]["folded_tombstones"] == len(dead)

    survivors = docs.filter("doc_id % 7 != 3")
    compacted = P.load_position_table(spark, out)
    for phrase in ["spark join", "the the"]:
        got = _collect(P.phrase_match_positional(compacted, phrase))
        want = _collect(textops.phrase_match(survivors, phrase))
        assert got == want and got
        assert not any(d % 7 == 3 for d, _ in got)

    # time travel: the pre-compact snapshot still serves the full state
    old = P.load_position_table(spark, out, snapshot_id=pre_snap)
    assert _collect(P.phrase_match_positional(old, "spark join")) == pre

    # term IN pushdown survives compaction (file-skip layout kept)
    plan = (
        P.phrase_match_positional(compacted, "spark join")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "In(term" in plan


def test_position_table_compact_crash_before_publish(
    spark, tmp_path, monkeypatch
):
    """A crash after the versioned dir write but BEFORE the snapshot
    publish leaves the uncompacted table fully intact; the retry
    overwrites the same version dir and succeeds."""
    import json
    import os

    from tse_spark.plans import snapshots as sn

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "pos_table")
    P.build_position_table(
        docs.filter("doc_id < 250"), out, n_docs=500, num_shards=4
    )
    P.append_position_table(docs.filter("doc_id >= 250"), out)
    before = _collect(
        P.phrase_match_positional(
            P.load_position_table(spark, out), "spark join"
        )
    )

    real = sn.publish_meta

    def boom(*a, **k):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(sn, "publish_meta", boom)
    with pytest.raises(RuntimeError, match="injected"):
        P.compact_position_table(spark, out, max_doc_id=499)
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert len(meta["data_dirs"]) == 2  # old state intact
    assert (
        _collect(
            P.phrase_match_positional(
                P.load_position_table(spark, out), "spark join"
            )
        )
        == before
    )

    monkeypatch.setattr(sn, "publish_meta", real)
    P.compact_position_table(spark, out, max_doc_id=499, gc=True)
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert meta["data_dirs"] == ["data_base_v1"]
    assert not os.path.exists(os.path.join(out, "data"))  # gc'd
    assert (
        _collect(
            P.phrase_match_positional(
                P.load_position_table(spark, out), "spark join"
            )
        )
        == before
    )


def test_position_table_compact_noop_on_steady_state(spark, tmp_path):
    import json
    import os

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 100")
    out = str(tmp_path / "pos_table")
    P.build_position_table(docs, out, n_docs=100, num_shards=4)
    before = json.load(open(os.path.join(out, "meta.json")))
    P.compact_position_table(spark, out)
    assert json.load(open(os.path.join(out, "meta.json"))) == before


# ---------------------------------------------------------------------------
# X110 sloppy ordered phrase (reachability DP)
# ---------------------------------------------------------------------------

def _slop_truth(texts, words, slop):
    """Literal reachability reference: R_i = positions of word_i with
    some reachable predecessor within the window; returns
    {doc_id: n_chain_ends}."""
    out = {}
    for doc_id, text in texts:
        toks = [t for t in text.lower().split() if t]
        reach = [i for i, t in enumerate(toks) if t == words[0]]
        for w in words[1:]:
            nxt = [
                j
                for j, t in enumerate(toks)
                if t == w
                and any(j - 1 - slop <= q <= j - 1 for q in reach)
            ]
            reach = nxt
        if reach:
            out[doc_id] = len(reach)
    return out


def test_phrase_slop_zero_equals_exact(spark, pos_docs, pos_index):
    for phrase in ["big data", "data big", "big data rocks"]:
        exact = {
            (r["doc_id"], r["n_hits"])
            for r in P.phrase_match_positional(pos_index, phrase).collect()
        }
        slop0 = {
            (r["doc_id"], r["n_hits"])
            for r in P.phrase_match_slop(pos_index, phrase, 0).collect()
        }
        assert slop0 == exact, phrase
        assert exact, phrase  # the fixture must actually match


def test_phrase_slop_non_greedy_chain(spark):
    """The chain p0=0 -> p1=2 -> p2=4 requires choosing the LARGER p1
    (greedy-min p1=1 cannot reach p2=4 at slop=1): the reachability DP
    must find it."""
    docs = spark.createDataFrame(
        [(0, "aa bb bb xx cc"), (1, "aa bb xx xx cc")],
        "doc_id long, text string",
    )
    idx = P.build_position_index(docs, 2, num_shards=2)
    got = {
        r["doc_id"]: r["n_hits"]
        for r in P.phrase_match_slop(idx, "aa bb cc", 1).collect()
    }
    # doc 0: aa@0 -> bb@{1,2} -> cc@4 reachable via bb@2 (gap 1)
    # doc 1: aa@0 -> bb@1 -> cc@4 gap 2 > slop: no chain
    assert got == {0: 1}


def test_phrase_slop_matches_literal_truth(spark, pos_docs, pos_index):
    texts = [(r["doc_id"], r["text"]) for r in pos_docs.collect()]
    for phrase, slop in [
        ("big data", 1),
        ("big rocks", 2),
        ("data rocks", 3),
        ("big data big", 1),
        ("a a", 1),
        ("a b a", 2),
    ]:
        words = phrase.split()
        want = _slop_truth(texts, words, slop)
        got = {
            r["doc_id"]: r["n_hits"]
            for r in P.phrase_match_slop(pos_index, phrase, slop).collect()
        }
        assert got == want, (phrase, slop)


def test_position_table_merge_equals_union_build(spark, tmp_path):
    """X114's positional twin (P.merge_position_tables): two
    independently built position tables fold into one; phrase and
    proximity serving over the merged table equals a from-scratch
    build over the union corpus, modulo the deterministic id lift of
    segment B."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    even = docs.filter("doc_id % 2 = 0")
    odd = docs.filter("doc_id % 2 = 1")
    da, db = str(tmp_path / "pa"), str(tmp_path / "pb")
    P.build_position_table(even, da, n_docs=250, num_shards=4)
    P.build_position_table(odd, db, n_docs=250, num_shards=3)
    shift = even.agg(F.max("doc_id")).collect()[0][0] + 1
    out = str(tmp_path / "pm")
    P.merge_position_tables(
        spark, da, db, out, shift=shift, max_doc_id=shift + 499
    )
    merged = P.load_position_table(spark, out)
    remapped = docs.withColumn(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")).otherwise(
            F.col("doc_id") + shift
        ),
    )
    for phrase in ["spark join", "the the"]:
        got = _collect(P.phrase_match_positional(merged, phrase))
        want = _collect(textops.phrase_match(remapped, phrase))
        assert got == want and got
    gotp = {
        (r["doc_id"], r["n_pairs"])
        for r in P.proximity_count(merged, "spark", "join", 4).collect()
    }
    wantp = {
        (r["doc_id"], r["n_pairs"])
        for r in P.proximity_count(
            P.build_position_index(remapped, 1000), "spark", "join", 4
        ).collect()
    }
    assert gotp == wantp and gotp
    # one row per (term, shard) in the merged grid
    dup = merged.groupBy("term", "shard").count().filter("count > 1")
    assert dup.count() == 0
    # merging into a populated dir refuses
    with pytest.raises(ValueError, match="already holds"):
        P.merge_position_tables(
            spark, da, db, out, shift=shift, max_doc_id=shift + 499
        )


def test_passage_indexed_equals_scan_scorer(spark):
    """The positional passage scorer must reproduce the scan-side
    passage_bm25_topk exactly — including multi-window membership
    (overlap region), tail-window validity (the sidecar join) and
    score ties — on a corpus crafted to hit those edges."""
    import pandas as pd

    from tse_spark.operators import positions as pos
    from tse_spark.operators import textops

    rows = []
    # "frameworks" (10 bytes) is outside the 2..8-byte eligibility law:
    # the position index holds it, but neither scorer may score it
    words = ["alpha", "beta", "gamma", "delta", "pad", "frameworks"]
    for d in range(30):
        n = 3 + (d * 37) % 150  # spans sub-window to 3-window docs
        toks = [words[(d + i) % len(words)] for i in range(n)]
        if d % 4 == 0:
            toks[-1] = "alpha"  # tail-window occupancy
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    terms = ["alpha", "gamma", "frameworks"]
    want = textops.passage_bm25_topk(docs, terms, k=25).toPandas()
    shards = pos.build_position_index(docs, 30, num_shards=3)
    pstats = textops.build_passage_stats(docs)
    got = pos.passage_bm25_topk_indexed(
        shards, pstats, terms, k=25
    ).toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )


def test_passage_stats_sidecar_appends_like_rebuild(spark):
    """Lifecycle law for the passage sidecar: window stats are a pure
    per-document function, so maintaining the sidecar under an index
    append is build(delta) unioned onto the existing rows — exactly
    equal to a rebuild over the full corpus.  (N/avgdl recompute from
    the union at query time, so no meta reconciliation exists to get
    wrong.)"""
    import pandas as pd

    from tse_spark.operators import textops

    rows = [
        (d, " ".join(f"w{(d + i) % 9}" for i in range(5 + (d * 13) % 120)))
        for d in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    base = docs.filter("doc_id < 25")
    delta = docs.filter("doc_id >= 25")
    full = textops.build_passage_stats(docs).toPandas()
    merged = (
        textops.build_passage_stats(base)
        .unionByName(textops.build_passage_stats(delta))
        .toPandas()
    )
    key = ["doc_id", "start_tok"]
    pd.testing.assert_frame_equal(
        full.sort_values(key).reset_index(drop=True),
        merged.sort_values(key).reset_index(drop=True),
    )
