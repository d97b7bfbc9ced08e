"""Shared (cross-process) posting cache tier (operators/servecache.py):

- a second engine opened on the same index serves byte-identical
  results from the shared dir with ZERO posting reads (poisoned posting
  files prove it);
- commits (appends) change the cache key, so stale entries can never
  be read against the new snapshot;
- torn / corrupt / colliding entry files read as misses, never as
  wrong bytes;
- vacuum drops superseded key dirs and enforces the byte budget in
  recency order.
"""

import os
import struct

import pytest

from tse_spark import fixtures
from tse_spark.operators import servecache as sc
from tse_spark.plans import append as ap
from tse_spark.plans import pipeline as pl

QUERIES = ["web search", "spark data query", "w0001 search engine"]


@pytest.fixture(scope="module")
def idx(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("svc_data")
    p = str(d / "pages")
    spark.createDataFrame(fixtures.gen_pages(250)).write.mode(
        "overwrite"
    ).parquet(p)
    out = str(tmp_path_factory.mktemp("svc_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4,
        num_partitions=4,
    )
    pipe.run_from_pages(p, resume=False)
    return out, p


class _Poisoned:
    """Stands in for the posting file source: any read = test
    failure."""

    def rows(self, *a, **k):  # pragma: no cover - the assertion
        raise AssertionError(
            "engine fetched postings despite a warm shared cache"
        )

    dfs = rows


def test_second_process_serves_from_shared_cache(spark, idx, tmp_path):
    out, _ = idx
    root = str(tmp_path / "cache")

    h1 = pl.load_index(spark, out)
    c1 = h1.attach_shared_cache(root)
    expected = {
        q: h1.engine.search_local(q, 10) for q in QUERIES
    }
    assert c1.fills > 0 and c1.hits == 0

    # "another process": a fresh handle, cold LRUs, same cache root
    h2 = pl.load_index(spark, out)
    c2 = h2.attach_shared_cache(root)
    assert c2.key == c1.key
    # poison the posting files: every lookup must come from the shared dir
    h2.engine.posting_files = _Poisoned()
    for q in QUERIES:
        assert h2.engine.search_local(q, 10) == expected[q]
    assert c2.hits > 0 and c2.fills == 0 and c2.misses == 0

    # negative entries are shared too: an absent term costs one fill
    # in process 1 and zero Spark jobs in process 2
    assert h1.engine.search_local("zzznotaterm", 10) == []
    assert h2.engine.search_local("zzznotaterm", 10) == []


def test_commit_changes_key(spark, idx, tmp_path_factory):
    out, _ = idx
    with open(os.path.join(out, "meta.json")) as f:
        import json

        key_before = sc.cache_key(json.load(f))
    d = tmp_path_factory.mktemp("svc_delta")
    p2 = str(d / "pages2")
    spark.createDataFrame(
        fixtures.gen_pages(60, start=250)
    ).write.mode("overwrite").parquet(p2)
    ap.append_pages(spark, out, p2)
    with open(os.path.join(out, "meta.json")) as f:
        import json

        key_after = sc.cache_key(json.load(f))
    assert key_after != key_before
    # and the engine attaches to the NEW key
    root = str(tmp_path_factory.mktemp("svc_root"))
    h = pl.load_index(spark, out)
    c = h.attach_shared_cache(root)
    assert c.key == key_after


def test_corrupt_and_colliding_entries_read_as_miss(tmp_path):
    root, key = str(tmp_path), "k" * 40
    c = sc.SharedPostingCache(root, key)
    c.put("hello", 3, b"\x01\x02\x03")
    assert c.get("hello") == (3, b"\x01\x02\x03")

    p = c._path("hello")
    # torn file (truncated payload)
    raw = open(p, "rb").read()
    with open(p, "wb") as f:
        f.write(raw[:-1])
    assert c.get("hello") is None  # miss + self-repair unlink
    assert not os.path.exists(p)

    # a forged collision: right path, wrong embedded term
    c.put("hello", 3, b"\x01\x02\x03")
    forged = raw[: sc._HDR.size] + b"HELLO" + raw[sc._HDR.size + 5 :]
    with open(p, "wb") as f:
        f.write(forged)
    assert c.get("hello") is None
    # bad magic
    c.put("hello", 3, b"\x01\x02\x03")
    with open(p, "r+b") as f:
        f.write(b"XXXX")
    assert c.get("hello") is None


def test_vacuum_budget_and_stale_keys(tmp_path):
    root = str(tmp_path)
    old = sc.SharedPostingCache(root, "a" * 40)
    old.put("t", 1, b"x" * 10)
    cur = sc.SharedPostingCache(root, "b" * 40)
    for i in range(10):
        cur.put(f"t{i}", 1, bytes(100))
    # mark t9..t5 recent, t0..t4 old
    for i in range(5):
        os.utime(cur._path(f"t{i}"), (1, 1))
    size = os.path.getsize(cur._path("t9"))
    rep = sc.vacuum_cache(root, cur.key, budget_bytes=5 * size)
    assert rep["dropped_keys"] == ["a" * 40]
    assert not os.path.isdir(old.dir)
    assert rep["dropped_entries"] == 5
    kept = {i for i in range(10) if os.path.exists(cur._path(f"t{i}"))}
    assert kept == {5, 6, 7, 8, 9}
    # surviving entries still read clean
    assert cur.get("t9") == (1, bytes(100))


# ---------------------------------------------------------------------------
# X107 result-cache tier
# ---------------------------------------------------------------------------

def test_result_cache_serves_cold_engine(spark, idx, tmp_path):
    out, _ = idx
    root = str(tmp_path / "rcache")
    warm = pl.load_index(spark, out)
    warm.attach_result_cache(root)
    expected = warm.engine.search_local("web search", 10)
    assert expected  # fixture must match something

    cold = pl.load_index(spark, out)
    rc = cold.attach_result_cache(root)
    cold.engine.posting_files = _Poisoned()
    cold.engine.shared_cache = None
    got = cold.engine.search_local("web search", 10)
    assert got == expected
    assert rc.stats()["hits"] == 1

    # different k / different mode = different entries (no aliasing)
    warm.engine.search_local("web search", 5)
    cold2 = pl.load_index(spark, out)
    cold2.attach_result_cache(root)
    cold2.engine.posting_files = _Poisoned()
    cold2.engine.shared_cache = None
    assert cold2.engine.search_local("web search", 5) == expected[:5]
    with pytest.raises(AssertionError):
        # conjunctive was never warmed -> falls through to postings
        cold2.engine.search_local("web search", 10, conjunctive=True)


def test_result_cache_negative_and_empty(spark, idx, tmp_path):
    out, _ = idx
    root = str(tmp_path / "rcache")
    warm = pl.load_index(spark, out)
    warm.attach_result_cache(root)
    assert warm.engine.search_local("zzzznotaterm", 10) == []
    cold = pl.load_index(spark, out)
    cold.attach_result_cache(root)
    cold.engine.posting_files = _Poisoned()
    # negative entry is snapshot-stable: served without postings
    assert cold.engine.search_local("zzzznotaterm", 10) == []


def test_result_cache_corruption_and_collision(tmp_path):
    rc = sc.ResultCache(str(tmp_path), "k" * 40)
    qk = rc.canonical(["web", "search"], 10, "or")
    rows = [(3, 1.25), (9, 0.5)]
    rc.put(qk, rows)
    assert rc.get(qk) == rows

    p = rc._path(qk)
    raw = open(p, "rb").read()
    # torn file
    with open(p, "wb") as f:
        f.write(raw[:-3])
    assert rc.get(qk) is None and not os.path.exists(p)
    # forged collision: right filename, wrong embedded query
    rc.put(qk, rows)
    other = rc.canonical(["web", "serch"], 10, "or").encode()
    pad = other + b" " * (len(qk.encode()) - len(other))
    with open(p, "wb") as f:
        f.write(raw[: sc._RHDR.size] + pad + raw[sc._RHDR.size + len(pad):])
    assert rc.get(qk) is None
    # bad magic
    rc.put(qk, rows)
    with open(p, "r+b") as f:
        f.write(b"XXXX")
    assert rc.get(qk) is None


def test_vacuum_covers_result_entries(tmp_path):
    root = str(tmp_path)
    old_r = sc.ResultCache(root, "a" * 40)
    old_r.put("or|10|stale", [(1, 1.0)])
    cur_p = sc.SharedPostingCache(root, "b" * 40)
    cur_p.put("t", 1, bytes(50))
    cur_r = sc.ResultCache(root, "b" * 40)
    cur_r.put("or|10|fresh", [(2, 2.0)])
    rep = sc.vacuum_cache(root, "b" * 40, budget_bytes=10 << 20)
    assert rep["dropped_keys"] == ["a" * 40]
    assert old_r.get("or|10|stale") is None
    # both live tiers survive and stay readable
    assert cur_p.get("t") == (1, bytes(50))
    assert cur_r.get("or|10|fresh") == [(2, 2.0)]
    # byte budget counts .r files too: zero budget clears them
    rep2 = sc.vacuum_cache(root, "b" * 40, budget_bytes=0)
    assert rep2["dropped_entries"] >= 2
    assert cur_r.get("or|10|fresh") is None
