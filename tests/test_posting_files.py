"""Interactive posting fetch from term-clustered posting files
(operators/search.PostingFiles, postings.merge_partials,
postings.write_postings):

- the lifecycle fixture writes with the row-group cap lowered to
  ``SMALL_CAP``, so every part file of any size holds several row
  groups, and the row-group directory is exercised at many groups per
  file;
- the footer-pruned driver read returns, per term, exactly the bytes the
  Spark relation holds (``_shard_rows(terms).collect()`` merged in shard
  order) on every lifecycle state: fresh build, two appends, tombstones,
  compaction, a merge, and time-travel opens;
- df lookups (``_df_map``) read the files' ``term`` and ``df`` columns
  and equal term_stats' df on every lifecycle state;
- every posting column chunk those states write is zstd, and a part
  file larger than twice the cap holds more than one row group;
- the directory's edge cases on hand-written files: a term straddling
  row groups and files, terms outside every range, absent and
  duplicated terms, row groups without statistics;
- a posting dir in the old hash layout, or in the older one-snappy-row-
  group-per-file layout, still serves identically, and compaction
  rewrites the latter into the current layout;
- a cold ``search_local``, a df lookup and ``warm()`` start no Spark
  job, and ``warm()`` pins nothing;
- the posting writers leave no persisted RDD behind;
- the query log's ``ms`` covers the posting fetch, and every
  interactive call logs exactly one line, empty results included.
"""

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tse_spark import fixtures
from tse_spark.operators import codec
from tse_spark.operators import postings as po
from tse_spark.operators import search as se
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cm
from tse_spark.plans import delete as dl
from tse_spark.plans import merge as mg
from tse_spark.plans import pipeline as pl
from tse_spark.plans import snapshots as sn

ABSENT = "zzznotaterm"
QUERIES = ["web search", "spark data query", "w0001 search engine", ABSENT]
# eligible (2..8 bytes) but in no document
ABSENT_SHORT = "qqzz"
SMALL_CAP = 2 << 10


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _build(spark, out, src):
    return pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4, num_partitions=4,
    ).run_from_pages(src, resume=False)


@pytest.fixture(scope="module")
def lifecycle(tmp_path_factory, spark):
    """build -> append -> append -> delete -> compact (snapshot ids
    1..5), then a merge with a separately built segment into a new
    dir; every posting write at ``SMALL_CAP``.  Also returns the
    persisted-RDD ids after each posting write and the pages dirs."""
    d = tmp_path_factory.mktemp("pf_data")
    srcs = {}
    for name, n, start in [
        ("a", 250, 0), ("b", 60, 250), ("c", 60, 310), ("d", 60, 370),
    ]:
        srcs[name] = str(d / name)
        spark.createDataFrame(
            fixtures.gen_pages(n, start=start)
        ).write.mode("overwrite").parquet(srcs[name])
    out = str(tmp_path_factory.mktemp("pf_idx"))
    before = _persisted(spark)
    leaked = {}
    handles = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(po, "POSTING_ROW_GROUP_BYTES", SMALL_CAP)
        handles["build"] = _build(spark, out, srcs["a"])
        leaked["build"] = _persisted(spark) - before
        for name in ("b", "c"):
            handles[f"append_{name}"] = ap.append_pages(
                spark, out, srcs[name]
            )
            leaked[f"append_{name}"] = _persisted(spark) - before
        handles["delete"] = dl.delete_docs(spark, out, doc_ids=[0, 7, 300])
        handles["compact"] = cm.compact_index(spark, out)
        leaked["compact"] = _persisted(spark) - before
        seg = _build(spark, str(tmp_path_factory.mktemp("pf_seg")), srcs["d"])
        handles["merge"] = mg.merge_indexes(
            spark, out, seg.out_dir, str(tmp_path_factory.mktemp("pf_merged")),
        )
    return out, handles, leaked, srcs


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
    out, handles, _, _ = lifecycle
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
    """Every posting column chunk of every state is zstd, every row
    group carries term statistics, a part file over twice the cap holds
    more than one row group (the writer first checks the cap after 100
    rows and then only every so many rows, so files of <= 100 rows are
    left out and no exact size is asserted), and a lookup prunes: each row
    group it reads in a dir holds one of the term's shard rows, and an
    absent term reads at most one."""
    out, handles, _, _ = lifecycle
    big = 0
    for name, h in _opened(spark, out, handles):
        for d in h.engine.posting_files.dirs:
            for path in po.part_files(d):
                md = pq.read_metadata(path)
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        assert c.compression == "ZSTD", (name, path)
                        if c.path_in_schema == "term":
                            assert c.statistics.has_min_max, (name, path)
                if os.path.getsize(path) > 2 * SMALL_CAP and md.num_rows > 100:
                    big += 1
                    assert md.num_row_groups > 1, (name, path)
            pf = se.PostingFiles([d])
            for t in _probe_terms(h):
                read = sum(map(len, pf.row_groups([t]).values()))
                assert read <= max(1, len(pf.rows([t]))), (name, t, d)
    assert big


def test_directory_edge_cases(tmp_path):
    """The row-group directory on hand-written files: term "c" straddles
    two row groups of two files and "b" two row groups of one file;
    terms below the first min, above the last max, absent between
    ranges and duplicated; a dir whose row groups carry no statistics is
    always read.  Every answer equals a brute-force scan."""
    schema = pa.schema(
        [("term", pa.string()), ("shard", pa.int64()),
         ("df", pa.int64()), ("blocks", pa.binary())]
    )

    def write(path, rows, row_group_size, stats=True):
        t = pa.Table.from_pylist(
            [
                {"term": t, "shard": s, "df": s + 1, "blocks": f"{t}{s}".encode()}
                for t, s in rows
            ],
            schema=schema,
        )
        pq.write_table(
            t, path, row_group_size=row_group_size, write_statistics=stats,
        )

    ranged, bare = tmp_path / "ranged", tmp_path / "bare"
    ranged.mkdir()
    bare.mkdir()
    # part-0: [a, b] [b, c]   part-1: [c, e]   part-2: [x, y]
    write(ranged / "part-0.parquet", [("a", 0), ("b", 0), ("b", 1), ("c", 0)], 2)
    write(ranged / "part-1.parquet", [("c", 1), ("e", 0)], 2)
    write(ranged / "part-2.parquet", [("x", 0), ("y", 0)], 2)
    (ranged / "_SUCCESS").write_bytes(b"")
    write(bare / "part-0.parquet", [("c", 2), ("z", 0)], 1, stats=False)

    pf = se.PostingFiles([str(ranged)])
    both = se.PostingFiles([str(ranged), str(bare)])
    files = [p for p, _ in pf._directory()[0]]
    assert [os.path.basename(p) for p in files] == [
        "part-0.parquet", "part-1.parquet", "part-2.parquet",
    ]
    assert pf.row_groups(["b"]) == {0: [0, 1]}
    assert pf.row_groups(["c"]) == {0: [1], 1: [0]}
    assert pf.row_groups(["c", "c", "b"]) == {0: [0, 1], 1: [0]}
    for outside in ("0", "A", "zz", "m"):
        assert pf.row_groups([outside]) == {}
    assert pf.row_groups(["d"]) == {1: [0]}  # inside [c, e], absent
    assert pf.row_groups(["y"]) == {2: [0]}
    # the stats-free dir's two row groups are read for any lookup
    assert both.row_groups(["m"]) == {3: [0, 1]}

    def brute(engine, terms):
        out = []
        for d in engine.dirs:
            for p in po.part_files(d):
                out += [
                    (r["term"], r["shard"], r["df"], r["blocks"])
                    for r in pq.read_table(p).to_pylist()
                    if r["term"] in terms
                ]
        return sorted(out)

    probes = [
        [], ["a"], ["b"], ["c"], ["c", "c"], ["d"], ["0", "zz"], ["m"],
        ["a", "c", "e", "y", "z"], ["b", "b", "x", "q"],
    ]
    for engine in (pf, both):
        for terms in probes:
            want = brute(engine, set(terms))
            assert sorted(engine.rows(terms)) == want, terms
            dfs = {}
            for t, _, df, _ in want:
                dfs[t] = dfs.get(t, 0) + df
            assert engine.dfs(terms) == dfs, terms
    assert sorted(t for t, *_ in both.rows(["c"])) == ["c", "c", "c"]


def test_hash_layout_dir_serves_identically(spark, lifecycle, tmp_path):
    out, _, _, _ = lifecycle
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
    assert max(len(old.posting_files.row_groups([t])) for t in terms) > 1
    assert old._term_entries(terms) == h.engine._term_entries(terms)
    for q in QUERIES:
        assert old.search_local(q, 10) == h.engine.search_local(q, 10)
        assert old.search_local(q, 10, conjunctive=True) == (
            h.engine.search_local(q, 10, conjunctive=True)
        )


def test_old_layout_serves_identically_and_compaction_upgrades_it(
    spark, lifecycle, tmp_path
):
    """An index written in the older layout (one snappy row group per
    part file) serves the same entries as the current layout; compaction,
    a no-op on a steady index otherwise, rewrites it into zstd with
    capped row groups, and ``index_report`` shows the difference."""
    out, handles, _, srcs = lifecycle
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(po, "POSTING_COMPRESSION", "snappy")
        mp.setattr(po, "POSTING_ROW_GROUP_BYTES", 128 << 20)
        old = _build(spark, str(tmp_path / "old"), srcs["a"])
    (old_dir,) = old.engine.posting_files.dirs
    assert not po.in_posting_layout(old_dir)
    for path in po.part_files(old_dir):
        md = pq.read_metadata(path)
        assert md.num_row_groups == 1
        assert md.row_group(0).column(0).compression == "SNAPPY"

    new = handles["build"]
    terms = _probe_terms(new)
    fresh = se.SearchEngine(
        spark, new.postings, new.engine.posting_files.dirs,
        new.n_docs, new.avgdl,
    )
    assert old.engine._term_entries(terms) == _spark_entries(old.engine, terms)
    assert old.engine._term_entries(terms) == fresh._term_entries(terms)
    for q in QUERIES:
        assert old.engine.search_local(q, 10) == fresh.search_local(q, 10)

    def report(h):
        (r,) = [
            r for r in pl.index_report(spark, h.out_dir).collect()
            if r["kind"] == "dir"
            and r["name"] == os.path.basename(h.engine.posting_files.dirs[0])
        ]
        return r

    r = report(old)
    assert r["row_groups"] == r["files"]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(po, "POSTING_ROW_GROUP_BYTES", SMALL_CAP)
        up = cm.compact_index(spark, old.out_dir)
    (up_dir,) = up.engine.posting_files.dirs
    assert up_dir != old_dir and po.in_posting_layout(up_dir)
    assert report(up)["row_groups"] > report(up)["files"]
    # compaction re-shards, so compare decoded postings, not blob bytes
    got = up.engine._term_entries(terms)
    want = old.engine._term_entries(terms)
    for t in terms:
        assert got[t][0] == want[t][0], t
        assert all(
            np.array_equal(a, b)
            for a, b in zip(
                codec.decode_all(got[t][1]), codec.decode_all(want[t][1])
            )
        ), t
    for q in QUERIES:
        assert up.engine.search_local(q, 10) == old.engine.search_local(q, 10)
    # the upgraded index is steady: a second compaction is a no-op
    assert cm.compact_index(spark, old.out_dir).meta == up.meta


def test_cold_search_local_starts_no_spark_job(spark, lifecycle):
    out, _, _, _ = lifecycle
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
    _, _, leaked, _ = lifecycle
    assert leaked == {
        "build": set(), "append_b": set(), "append_c": set(),
        "compact": set(),
    }


def test_query_log_ms_covers_the_fetch(spark, lifecycle, tmp_path):
    out, _, _, _ = lifecycle
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


def test_query_log_one_line_per_call(spark, lifecycle, tmp_path):
    """Every interactive call appends exactly one line, empty results
    included: no term survives analysis, no term is in the index (and
    its negative result-cache hit), a conjunctive miss, a boolean
    contradiction, a missing required term, an expansion of absent
    terms."""
    out, _, _, _ = lifecycle
    h = pl.load_index(spark, out)
    h.attach_result_cache(str(tmp_path / "rcache"))
    eng = h.engine
    eng.query_log_path = log = str(tmp_path / "one_line.jsonl")
    local, boolean, expanded = (
        eng.search_local, eng.search_boolean_local, eng.search_expanded_local
    )
    calls = [
        ("web search", lambda q: local(q, 10), False),
        (ABSENT_SHORT, lambda q: local(q, 10), True),
        (ABSENT_SHORT, lambda q: local(q, 10), True),
        ("x", lambda q: local(q, 10), True),
        (f"web {ABSENT_SHORT}", lambda q: local(q, 10, conjunctive=True), True),
        ("+web -spark", lambda q: boolean(q, 10), False),
        ("+web -web", lambda q: boolean(q, 10), True),
        ("-web", lambda q: boolean(q, 10), True),
        (f"+{ABSENT_SHORT} web", lambda q: boolean(q, 10), True),
        ("web", lambda q: expanded(q, [["web", "search"]], 10), False),
        (ABSENT_SHORT, lambda q: expanded(q, [], 10), True),
        ("x", lambda q: expanded(q, [], 10), True),
    ]
    results = [call(q) for q, call, _ in calls]
    with open(log) as f:
        lines = [json.loads(x) for x in f.read().splitlines()]
    assert len(lines) == len(calls)
    for (q, _, empty), res, line in zip(calls, results, lines):
        assert line["query"] == q and line["n_results"] == len(res), q
        assert (res == []) == empty, q
