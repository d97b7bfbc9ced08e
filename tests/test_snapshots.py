"""Snapshots / time travel / vacuum (plans/snapshots.py): every
maintenance op archives a numbered snapshot, load_index_at serves any
retained state exactly as it was published, and vacuum_index expires
old snapshots plus the artifact dirs only they referenced — without
ever touching a retained state's files."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tse_spark import fixtures
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cm
from tse_spark.plans import delete as dl
from tse_spark.plans import pipeline as pl
from tse_spark.plans import snapshots as sn

Q = "web search"


@pytest.fixture(scope="module")
def lifecycle(tmp_path_factory, spark):
    """build (v1) -> append (v2) -> delete (v3) -> compact (v4), with
    the serving truth recorded at each state as it was current."""
    d = tmp_path_factory.mktemp("snap_data")
    srcs = {}
    for name, (n, start) in {"a": (150, 0), "b": (80, 150)}.items():
        p = str(d / name)
        spark.createDataFrame(
            fixtures.gen_pages(n, start=start)
        ).write.mode("overwrite").parquet(p)
        srcs[name] = p
    out = str(tmp_path_factory.mktemp("snap_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=4, num_partitions=4,
    )
    truths = {}

    def top(h, k=10):
        h.engine.warm()
        return [(doc, round(s, 9)) for doc, s in h.engine.search_local(Q, k)]

    h = pipe.run_from_pages(srcs["a"], resume=False)
    truths[1] = top(h)
    h = ap.append_pages(spark, out, srcs["b"], fixtures.mini_dict_bytes())
    truths[2] = top(h)
    dead = [doc for doc, _ in truths[2][:2]]
    h = dl.delete_docs(
        spark, out, doc_ids=dead, dictionary=fixtures.mini_dict_bytes()
    )
    truths[3] = top(h)
    h = cm.compact_index(spark, out, fixtures.mini_dict_bytes())
    truths[4] = top(h)
    return out, truths, dead


def test_commit_log_records_every_op(lifecycle):
    out, truths, _ = lifecycle
    snaps = sn.list_snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3, 4]
    assert [s["snapshot_op"] for s in snaps] == [
        "build", "append", "delete", "compact",
    ]
    with open(os.path.join(out, "meta.json")) as f:
        assert json.load(f)["snapshot_id"] == 4


def test_time_travel_serves_each_state_exactly(spark, lifecycle):
    out, truths, dead = lifecycle
    for sid, want in truths.items():
        h = sn.load_index_at(
            spark, out, sid, fixtures.mini_dict_bytes()
        )
        h.engine.warm()
        got = [
            (doc, round(s, 9)) for doc, s in h.engine.search_local(Q, 10)
        ]
        assert got == want, f"snapshot v{sid} drifted"
    # the deleted docs are visible at v2, masked at v3
    assert set(dead) & {d for d, _ in truths[2]}
    assert not set(dead) & {d for d, _ in truths[3]}


def test_unknown_snapshot_raises(spark, lifecycle):
    out, _, _ = lifecycle
    with pytest.raises(ValueError, match="no snapshot v99"):
        sn.load_index_at(spark, out, 99)


def test_vacuum_dry_run_touches_nothing(spark, lifecycle):
    out, truths, _ = lifecycle
    report = sn.vacuum_index(out, keep=0, dry_run=True)
    assert report["removed_dirs"] and report["expired_snapshots"]
    # everything still loads
    for sid in truths:
        sn.load_index_at(spark, out, sid, fixtures.mini_dict_bytes())


def test_concurrent_commit_detected(tmp_path, spark):
    """Optimistic concurrency: a maintenance op that loaded snapshot N
    must fail its commit when another writer moved the index past N —
    last-writer-wins would silently drop the first writer's dir lists
    from meta."""
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        fixtures.gen_pages(60)
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "idx")
    pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=2
    ).run_from_pages(src, resume=False)
    with open(os.path.join(out, "meta.json")) as f:
        stale = json.load(f)  # writer B loads v1
    dl.delete_docs(spark, out, doc_ids=[0])  # writer A commits v2
    with pytest.raises(sn.ConcurrentCommit, match="v2"):
        sn.publish_meta(
            out, stale, op="compact",
            expect_snapshot_id=stale.get("snapshot_id", 0),
        )
    # writer B reloads and retries: now against v2, succeeds as v3
    with open(os.path.join(out, "meta.json")) as f:
        fresh = json.load(f)
    stamped = sn.publish_meta(
        out, fresh, op="compact",
        expect_snapshot_id=fresh["snapshot_id"],
    )
    assert stamped["snapshot_id"] == 3


def test_snapshot_diff_reports_the_op_chain(lifecycle):
    out, _, dead = lifecycle
    d = sn.snapshot_diff(out, 1, 4)
    assert d["ops"] == ["append", "delete", "compact"]
    assert d["n_tombstones"] == {"from": 0, "to": 0}  # folded by v4
    assert d["dirs_added"] and d["dirs_removed"]
    d23 = sn.snapshot_diff(out, 2, 3)
    assert d23["ops"] == ["delete"]
    assert d23["n_tombstones"]["to"] == len(dead)
    assert d23["n_docs_delta"] == 0  # stale-stats law until compact
    with pytest.raises(ValueError, match="no snapshot v9"):
        sn.snapshot_diff(out, 1, 9)


def test_term_drift_tracks_the_lifecycle(spark, lifecycle):
    """Content-level drift across published states: identity is
    all-zero, an append only raises df, a compacted delete only
    lowers it (v3's stats are v2's by the stale-stats law, so the
    drop shows against v2 exactly as against v3)."""
    out, _, _ = lifecycle
    same = sn.term_drift(spark, out, 2, 2, k=1000).collect()
    assert same and all(r["delta"] == 0 for r in same)
    up = sn.term_drift(spark, out, 1, 2, k=1000).collect()
    assert all(r["delta"] >= 0 for r in up)
    assert any(r["delta"] > 0 for r in up)
    down = sn.term_drift(spark, out, 2, 4, k=1000).collect()
    assert all(r["delta"] <= 0 for r in down)
    assert any(r["delta"] < 0 for r in down)
    # the cut is (|delta| desc, term): top-1 must hold the max |delta|
    top1 = sn.term_drift(spark, out, 1, 2, k=1).collect()[0]
    assert abs(top1["delta"]) == max(abs(r["delta"]) for r in up)


# NOTE: keep last in the module — vacuums the shared lifecycle index.
def test_vacuum_expires_old_states_keeps_retained(spark, lifecycle):
    out, truths, _ = lifecycle
    # plant a facet sidecar and supersede its base dir via a rebuild:
    # vacuum must GC the orphan against facets_meta.json, not the
    # index snapshots
    from tse_spark.operators import facets as fx

    with open(os.path.join(out, "meta.json")) as f:
        m = json.load(f)
    docs = spark.read.parquet(
        *[os.path.join(out, dd) for dd in m["docs_dirs"]]
    )
    fx.write_facet_index(
        fx.build_facet_shards(docs, ["lang"], m["shard_range"]),
        out, facets=["lang"], max_doc_id=m["max_doc_id"],
    )
    fx.rebuild_facet_index(spark, out)  # leaves the old 'facets' dir
    assert os.path.isdir(os.path.join(out, "facets"))

    report = sn.vacuum_index(out, keep=1)
    assert "facets" in report["removed_dirs"]
    assert not os.path.isdir(os.path.join(out, "facets"))
    live = fx.load_facet_index(spark, out)  # rebuilt sidecar still reads
    assert live.count() > 0
    assert report["expired_snapshots"] == [1, 2]
    assert report["removed_dirs"]  # pre-compact artifact dirs gone
    # current + the one retained snapshot still serve exactly
    for sid in (3, 4):
        h = sn.load_index_at(
            spark, out, sid, fixtures.mini_dict_bytes()
        )
        h.engine.warm()
        got = [
            (doc, round(s, 9)) for doc, s in h.engine.search_local(Q, 10)
        ]
        assert got == truths[sid]
    h = pl.load_index(spark, out, fixtures.mini_dict_bytes())
    h.engine.warm()
    assert [
        (doc, round(s, 9)) for doc, s in h.engine.search_local(Q, 10)
    ] == truths[4]
    # expired snapshots now fail loudly (archive removed)
    with pytest.raises(ValueError, match="no snapshot v1"):
        sn.load_index_at(spark, out, 1)
    # idempotent: a second vacuum finds nothing more to do
    again = sn.vacuum_index(out, keep=1)
    assert again == {"removed_dirs": [], "expired_snapshots": []}
