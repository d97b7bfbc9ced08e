"""Recrawl reconciliation: upsert_pages latest-per-url law.

Pins the contract from plans/append.py:upsert_pages:
- newer re-crawls replace (old id tombstoned, fresh content appended),
  older/equal ones drop, new urls append — all in ONE snapshot commit;
- upsert + compact equals a full rebuild over the latest-per-url
  corpus (compared by (url, score) — doc ids legitimately differ);
- replaying a committed batch is a no-op; a crash before the publish
  leaves the old index fully intact.
"""

import hashlib
import json
import os

import pandas as pd
import pytest

from tse_spark import fixtures
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cmod
from tse_spark.plans import pipeline as pl


def _write(spark, d, name, pdf):
    path = str(d / name)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def data(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("upsert_data")
    base = fixtures.gen_pages(300, start=0)
    # re-crawls of rows 0..99: same urls, different content (seed+1),
    # one year LATER -> must replace the base copies
    newer = fixtures.gen_pages(100, seed=fixtures.SEED + 1, start=0)
    newer["warc_ts"] = newer["warc_ts"] + pd.Timedelta(days=365)
    # re-crawls of rows 100..149: different content, one year EARLIER
    # -> must drop (existing copy wins)
    older = fixtures.gen_pages(150, seed=fixtures.SEED + 2, start=0).iloc[
        100:150
    ].copy()
    older["warc_ts"] = older["warc_ts"] - pd.Timedelta(days=365)
    # genuinely new urls
    new = fixtures.gen_pages(50, start=300)
    batch = pd.concat([newer, older, new], ignore_index=True)

    # expected reconciled corpus, by the engine's own laws:
    # base dedup keeps the EARLIEST warc_ts per url (build_docs w_first),
    # the upsert batch reduces to the NEWEST per url (md5 tie-break),
    # and a strictly-newer batch row replaces the base copy
    def dedup(pdf, newest):
        key = pdf["html"].map(lambda b: hashlib.md5(b).hexdigest())
        srt = pdf.assign(__md5=key).sort_values(
            ["url", "warc_ts", "__md5"],
            ascending=[True, not newest, True],
        )
        return srt.drop_duplicates("url", keep="first").drop(
            columns="__md5"
        )

    base_kept = dedup(base, newest=False)
    batch_kept = dedup(batch, newest=True)
    merged = base_kept.merge(
        batch_kept[["url", "warc_ts"]], on="url", how="left",
        suffixes=("", "_b"),
    )
    replaced_urls = set(
        merged.loc[
            merged["warc_ts_b"].notna()
            & (merged["warc_ts_b"] > merged["warc_ts"]),
            "url",
        ]
    )
    batch_used = batch_kept[
        ~batch_kept["url"].isin(set(base_kept["url"]) - replaced_urls)
    ]
    reconciled = pd.concat(
        [base_kept[~base_kept["url"].isin(replaced_urls)], batch_used],
        ignore_index=True,
    )
    return {
        "base": _write(spark, d, "base", base),
        "batch": _write(spark, d, "batch", batch),
        "reconciled": _write(spark, d, "reconciled", reconciled),
        "n_replaced": len(replaced_urls),
        "n_new": len(batch_used) - len(replaced_urls),
    }


def _build(spark, idx, src):
    pipe = pl.IndexPipeline(
        spark, idx, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=7, num_partitions=4,
    )
    return pipe.run_from_pages(src, resume=False)


@pytest.fixture(scope="module")
def upserted(tmp_path_factory, spark, data):
    idx = str(tmp_path_factory.mktemp("idx_upsert"))
    h0 = _build(spark, idx, data["base"])
    h1 = ap.upsert_pages(
        spark, idx, data["batch"], fixtures.mini_dict_bytes()
    )
    return h0, h1, idx


@pytest.fixture(scope="module")
def rebuilt(tmp_path_factory, spark, data):
    idx = str(tmp_path_factory.mktemp("idx_rebuild"))
    return _build(spark, idx, data["reconciled"])


def _meta(idx):
    with open(os.path.join(idx, "meta.json")) as f:
        return json.load(f)


def test_upsert_classifies_the_batch(spark, upserted, data):
    _, h1, idx = upserted
    meta = _meta(idx)
    assert meta["n_tombstones"] == data["n_replaced"]
    assert meta["appends"][-1]["op"] == "upsert"
    assert meta["appends"][-1]["n_replaced"] == data["n_replaced"]
    # every replaced url serves its NEW copy: the live docs table has
    # exactly one row per url, at the batch's later warc_ts
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        *[os.path.join(idx, d) for d in meta["docs_dirs"]]
    )
    tombs = spark.read.parquet(
        os.path.join(idx, meta["tombstones_dir"])
    )
    live = docs.join(tombs, "doc_id", "left_anti")
    assert live.groupBy("url").count().filter("count > 1").count() == 0
    recon = spark.read.parquet(data["reconciled"])
    got = {
        (r["url"], r["warc_ts"])
        for r in live.select("url", "warc_ts").collect()
    }
    want = {
        (r["url"], r["warc_ts"])
        for r in recon.select("url", "warc_ts").collect()
    }
    assert got == want


def test_upsert_compact_equals_rebuild(spark, upserted, rebuilt, data):
    _, h1, idx = upserted
    h2 = cmod.compact_index(spark, idx, fixtures.mini_dict_bytes())
    assert h2.n_docs == rebuilt.n_docs
    assert h2.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-9)
    m_ups = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(
            *[
                os.path.join(idx, d)
                for d in _meta(idx).get("docs_dirs", ["docs"])
            ]
        ).select("doc_id", "url").collect()
    }
    m_full = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(
            *[
                os.path.join(rebuilt.out_dir, d)
                for d in _meta(rebuilt.out_dir).get("docs_dirs", ["docs"])
            ]
        ).select("doc_id", "url").collect()
    }
    h2.engine.warm()
    rebuilt.engine.warm()
    for qid, query, _k in fixtures.gen_queries()[::4]:
        got = sorted(
            (m_ups[d], round(s, 9))
            for d, s in h2.engine.search_local(query, 500)
        )
        want = sorted(
            (m_full[d], round(s, 9))
            for d, s in rebuilt.engine.search_local(query, 500)
        )
        assert got == want, query


def test_upsert_replay_is_noop(spark, upserted, data):
    _, h1, idx = upserted
    before = _meta(idx)
    h2 = ap.upsert_pages(
        spark, idx, data["batch"], fixtures.mini_dict_bytes()
    )
    after = _meta(idx)
    assert after["snapshot_id"] == before["snapshot_id"]
    assert after["tombstone_version"] == before["tombstone_version"]
    # (the index may have been compacted by an earlier test — the
    # current meta, not the pre-compact handle, is the reference)
    assert h2.n_docs == int(before["n_docs"])


def test_upsert_crash_before_publish_is_invisible(
    spark, tmp_path_factory, data, monkeypatch
):
    idx = str(tmp_path_factory.mktemp("idx_crash"))
    h0 = _build(spark, idx, data["base"])
    before = _meta(idx)
    from tse_spark.plans import snapshots as sn

    def boom(*a, **kw):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(sn, "publish_meta", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ap.upsert_pages(
            spark, idx, data["batch"], fixtures.mini_dict_bytes()
        )
    monkeypatch.undo()
    after = _meta(idx)
    assert after == before  # published state byte-identical
    h = pl.load_index(spark, idx, fixtures.mini_dict_bytes())
    assert h.n_docs == h0.n_docs
    assert not _meta(idx).get("tombstones_dir")


def test_upsert_requires_pages_docs(spark, tmp_path_factory, data):
    """A run_from_docs index has no url/warc_ts to reconcile against."""
    idx = str(tmp_path_factory.mktemp("idx_docsonly"))
    pdf = fixtures.gen_pages(50, start=0)[["text"]].reset_index()
    docs = spark.createDataFrame(
        pdf.rename(columns={"index": "doc_id"})[["doc_id", "text"]]
    )
    pl.IndexPipeline(
        spark, idx, tokenizer="ws", num_shards=4
    ).run_from_docs(docs, input_key="upsert-docsonly", resume=False)
    with pytest.raises(ValueError):
        ap.upsert_pages(
            spark, idx, data["batch"], frozenset()
        )
