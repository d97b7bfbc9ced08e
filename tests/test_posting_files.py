"""Interactive posting fetch from term-clustered posting files
(operators/search.PostingFiles, postings.merge_partials):

- the footer-pruned driver read returns, per term, exactly the bytes the
  Spark relation holds (``_shard_rows(terms).collect()`` merged in shard
  order) on every lifecycle state: fresh build, two appends, tombstones,
  compaction, and time-travel opens;
- df lookups (``_df_map``) read the files' ``term`` and ``df`` columns
  and equal term_stats' df on every lifecycle state;
- a posting dir in the old hash layout still serves identically;
- a cold ``search_local``, a df lookup and ``warm()`` start no Spark
  job, and ``warm()`` pins nothing;
- the posting writers leave no persisted RDD behind;
- the query log's ``ms`` covers the posting fetch.
"""

import json
import os
import time

import pytest

from tse_spark import fixtures
from tse_spark.operators import search as se
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cm
from tse_spark.plans import delete as dl
from tse_spark.plans import pipeline as pl
from tse_spark.plans import snapshots as sn

ABSENT = "zzznotaterm"
QUERIES = ["web search", "spark data query", "w0001 search engine", ABSENT]


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="module")
def lifecycle(tmp_path_factory, spark):
    """build -> append -> append -> delete -> compact; snapshot ids
    1..5, with the persisted-RDD ids after each posting write."""
    d = tmp_path_factory.mktemp("pf_data")
    srcs = {}
    for name, n, start in [("a", 250, 0), ("b", 60, 250), ("c", 60, 310)]:
        srcs[name] = str(d / name)
        spark.createDataFrame(
            fixtures.gen_pages(n, start=start)
        ).write.mode("overwrite").parquet(srcs[name])
    out = str(tmp_path_factory.mktemp("pf_idx"))
    before = _persisted(spark)
    leaked = {}
    handles = {}
    handles["build"] = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4,
        num_partitions=4,
    ).run_from_pages(srcs["a"], resume=False)
    leaked["build"] = _persisted(spark) - before
    for name in ("b", "c"):
        handles[f"append_{name}"] = ap.append_pages(spark, out, srcs[name])
        leaked[f"append_{name}"] = _persisted(spark) - before
    handles["delete"] = dl.delete_docs(spark, out, doc_ids=[0, 7, 300])
    handles["compact"] = cm.compact_index(spark, out)
    leaked["compact"] = _persisted(spark) - before
    return out, handles, leaked


def _spark_entries(eng, terms):
    """The Spark-side truth: the pruned relation's rows merged exactly
    like the interactive fetch (shard order, df summed)."""
    by_term, dfs = {}, {}
    for r in eng._shard_rows(terms).collect():
        by_term.setdefault(r["term"], []).append(
            (r["shard"], bytes(r["blocks"]))
        )
        dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
    return {
        t: (dfs.get(t, 0), b"".join(b for _, b in sorted(by_term.get(t, []))))
        for t in terms
    }


def _probe_terms(h) -> list[str]:
    """An absent term, a term in every doc, the head term, tail terms."""
    rows = h.term_stats.select("term", "df").collect()
    dfs = {r["term"]: int(r["df"]) for r in rows}
    everywhere = [t for t, df in dfs.items() if df >= h.n_docs]
    head = max(dfs, key=lambda t: (dfs[t], t))
    tail = sorted(t for t, df in dfs.items() if df == 1)
    assert everywhere and len(tail) >= 3
    # first, middle and last tail terms: both ends of the term range
    picks = [tail[0], tail[len(tail) // 2], tail[-1]]
    return sorted({ABSENT, everywhere[0], head, *picks})


def _opened(spark, out, handles):
    yield from handles.items()
    for sid in range(1, 6):
        yield f"v{sid}", sn.load_index_at(spark, out, sid)
    yield "current", pl.load_index(spark, out)


def test_file_entries_equal_spark_rows(spark, lifecycle):
    """Blobs and df from the files equal the Spark relation's rows, and
    df (from the files on a fresh engine, then from its blob LRU) equals
    term_stats' df, the absent term left out."""
    out, handles, _ = lifecycle
    for name, h in _opened(spark, out, handles):
        terms = _probe_terms(h)
        got = h.engine._term_entries(terms)
        want = _spark_entries(h.engine, terms)
        assert got == want, name
        assert got[ABSENT] == (0, b"")
        stats = {
            r["term"]: int(r["df"])
            for r in h.term_stats.filter(h.term_stats.term.isin(terms))
            .select("term", "df").collect()
        }
        assert ABSENT not in stats and len(stats) == len(terms) - 1
        fresh = se.SearchEngine(
            spark, h.postings, h.engine.posting_files.dirs,
            h.n_docs, h.avgdl,
        )
        assert fresh._df_map(terms) == stats, name
        fresh._term_entries(terms)
        assert fresh._df_map(terms) == stats, name


def test_lifecycle_states_read_term_clustered_files(spark, lifecycle):
    """Each posting dir of each state prunes: a term lands in at most
    two row groups per dir (one range boundary may split a term's
    shard rows) rather than in every file."""
    out, handles, _ = lifecycle
    for name, h in _opened(spark, out, handles):
        pf = h.engine.posting_files
        files = pf._footers()
        assert files and all(
            lo is not None for _, _, g in files for _, lo, _ in g
        )
        for t in _probe_terms(h):
            for d in pf.dirs:
                hits = sum(
                    lo <= t <= hi
                    for path, _, g in files
                    if os.path.dirname(path) == d
                    for _, lo, hi in g
                )
                assert hits <= 2, (name, t, d)


def test_hash_layout_dir_serves_identically(spark, lifecycle, tmp_path):
    out, _, _ = lifecycle
    h = pl.load_index(spark, out)
    legacy = str(tmp_path / "postings_hash")
    h.postings.repartition(8, "term", "shard").sortWithinPartitions(
        "term", "shard"
    ).write.mode("overwrite").parquet(legacy)
    old = se.SearchEngine(
        spark, spark.read.parquet(legacy), [legacy], h.n_docs, h.avgdl,
    )
    terms = _probe_terms(h)
    # the old layout really is unpruned: some probe term falls inside
    # the footer range of more than one file
    files = old.posting_files._footers()
    assert max(
        sum(lo <= t <= hi for _, _, g in files for _, lo, hi in g)
        for t in terms
    ) > 1
    assert old._term_entries(terms) == h.engine._term_entries(terms)
    for q in QUERIES:
        assert old.search_local(q, 10) == h.engine.search_local(q, 10)
        assert old.search_local(q, 10, conjunctive=True) == (
            h.engine.search_local(q, 10, conjunctive=True)
        )


def test_cold_search_local_starts_no_spark_job(spark, lifecycle):
    out, _, _ = lifecycle
    h = pl.load_index(spark, out)
    terms = _probe_terms(h)
    pinned = _persisted(spark)
    sc = spark.sparkContext
    group = "tse-cold-fetch-check"
    sc.setJobGroup(group, "cold interactive fetch")

    def jobs():
        return list(sc.statusTracker().getJobIdsForGroup(group))

    try:
        # df of cache-missing terms, then warm() without and with a
        # preload: no job, nothing pinned
        assert len(h.engine._df_map(terms)) == len(terms) - 1
        assert jobs() == []
        h.engine.warm()
        h.engine.warm(preload_terms=terms)
        assert jobs() == [] and _persisted(spark) == pinned
        res = [h.engine.search_local(q, 10) for q in QUERIES]
        res.append(h.engine.search_boolean_local("+web -spark", 10))
        res.append(
            h.engine.search_expanded_local("web", [["web", "search"]], 10)
        )
        assert any(res)
        assert jobs() == []
        # the tracker does see jobs in this group: distributed search
        h.engine.search(QUERIES[0], 10).collect()
        assert jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_posting_writers_leave_nothing_persisted(lifecycle):
    _, _, leaked = lifecycle
    assert leaked == {
        "build": set(), "append_b": set(), "append_c": set(),
        "compact": set(),
    }


def test_query_log_ms_covers_the_fetch(spark, lifecycle, tmp_path):
    out, _, _ = lifecycle
    log = str(tmp_path / "query_log.jsonl")
    calls = [
        lambda e: e.search_local("web search", 10),
        lambda e: e.search_boolean_local("+web search -spark", 10),
        lambda e: e.search_expanded_local("web", [["web", "search"]], 10),
    ]
    for call in calls:
        eng = pl.load_index(spark, out).engine
        eng.query_log_path = log
        fetch = []
        inner = eng._term_entries

        def timed(terms, inner=inner, fetch=fetch):
            t0 = time.perf_counter()
            r = inner(terms)
            fetch.append(time.perf_counter() - t0)
            return r

        eng._term_entries = timed
        assert call(eng)
        with open(log) as f:
            logged = json.loads(f.read().splitlines()[-1])["ms"]
        # the log rounds to 0.01 ms
        assert fetch and logged >= sum(fetch) * 1000.0 - 0.01

    # a result-cache hit logs its real (non-zero) time
    h = pl.load_index(spark, out)
    h.attach_result_cache(str(tmp_path / "rcache"))
    h.engine.query_log_path = log
    h.engine.search_local("web search", 10)
    h.engine.search_local("web search", 10)
    with open(log) as f:
        assert json.loads(f.read().splitlines()[-1])["ms"] > 0.0
