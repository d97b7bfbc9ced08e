"""Facet sidecar: build -> partition-pruned load -> filtered serving
equality with the declarative path, plus a physical proof that a
clicked facet reads ONLY its own (facet, value) directory."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tse_spark.operators import facets as fx
from tse_spark.plans import pipeline as pl

TERMS = ["spark", "join", "data"]


@pytest.fixture(scope="module")
def docs(spark):
    # 120 docs over a tiny vocab; lang cycles 3 values, source cycles 2
    rows = []
    vocab = ["spark", "join", "data", "fast", "query", "scan"]
    for i in range(120):
        words = [vocab[(i + j) % len(vocab)] for j in range(3 + i % 5)]
        rows.append(
            (i, " ".join(words), ["en", "de", "es"][i % 3], f"s{i % 2}")
        )
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


@pytest.fixture(scope="module")
def handle(tmp_path_factory, spark, docs):
    out = str(tmp_path_factory.mktemp("facet_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=5
    )
    h = pipe.run_from_docs(
        docs.select("doc_id", "text"), input_key="facets", resume=False
    )
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    fx.write_facet_index(
        fx.build_facet_shards(docs, ["lang", "source"],
                              meta["shard_range"]),
        out,
    )
    return h


def _declarative(spark, docs, lang, k=10):
    from tse_spark.operators import index_build as ib2

    tf = ib2.build_tf_ws(docs)
    doclen = ib2.build_doclen(tf)
    dfreq = ib2.build_df_stats(tf.filter(F.col("term").isin(TERMS)))
    n, avgdl = ib2.corpus_stats(doclen)
    allowed = docs.filter(F.col("lang") == lang)
    return ib2.bm25_filtered_topk(
        spark, tf, doclen, dfreq, n, avgdl, TERMS, allowed, k
    )


def test_filtered_serving_equals_declarative(spark, docs, handle):
    rows = fx.load_facet_rows(spark, handle.out_dir, "lang", "de")
    got = [
        (r.doc_id, round(r.score, 6))
        for r in handle.engine.search_filtered(" ".join(TERMS), rows, 10)
        .collect()
    ]
    want = [
        (r.doc_id, round(r.score, 6))
        for r in _declarative(spark, docs, "de").collect()
    ]
    assert got == want and len(got) == 10
    # every served doc really is lang=de (doc_id % 3 == 1)
    assert all(d % 3 == 1 for d, _ in got)


def test_missing_facet_value_serves_empty(spark, handle):
    rows = fx.load_facet_rows(spark, handle.out_dir, "lang", "fr")
    out = handle.engine.search_filtered(" ".join(TERMS), rows, 10)
    assert out.count() == 0


def test_engine_facet_counts_equal_declarative(spark, docs, handle):
    from tse_spark.operators import index_build as ib2
    from tse_spark.operators import textops

    rows = fx.load_facet_index(spark, handle.out_dir)
    got = {
        (r.facet, r.value): r.n_docs
        for r in handle.engine.facet_counts(
            " ".join(TERMS), rows
        ).collect()
    }
    tf = ib2.build_tf_ws(docs)
    matches = tf.filter(F.col("term").isin(TERMS)).select("doc_id")
    want = {
        (r.facet, r.value): r.n_docs
        for r in textops.facet_counts(
            matches, docs, ["lang", "source"]
        ).collect()
    }
    assert got == want and len(got) > 0


def test_facet_shards_follow_posting_shard_law(spark, docs, handle):
    with open(os.path.join(handle.out_dir, "meta.json")) as f:
        meta = json.load(f)
    rows = fx.load_facet_rows(spark, handle.out_dir, "lang", "en")
    from tse_spark.operators import codec

    for r in rows.collect():
        d, tf, dl = codec.decode_all(bytes(r.blocks))
        assert (d // meta["shard_range"] == r.shard).all()
        assert (tf == 1).all() and (dl == 1).all()
        assert r.df == len(d)


def test_append_facet_shards_equals_rebuild(
    tmp_path, spark, docs, handle
):
    """base(docs<80) + O(delta) append(docs>=80) serves identically to
    a full rebuild over all 120 docs — filtered results AND sidebar."""
    import shutil

    out = str(tmp_path / "sidecar_append")
    os.makedirs(out)
    shutil.copy(
        os.path.join(handle.out_dir, "meta.json"),
        os.path.join(out, "meta.json"),
    )
    with open(os.path.join(out, "meta.json")) as f:
        shard_range = json.load(f)["shard_range"]
    fx.write_facet_index(
        fx.build_facet_shards(
            docs.filter(F.col("doc_id") < 80), ["lang", "source"],
            shard_range,
        ),
        out,
    )
    fx.append_facet_shards(
        spark, out, docs.filter(F.col("doc_id") >= 80),
        ["lang", "source"],
    )
    q = " ".join(TERMS)
    base_rows = fx.load_facet_rows(spark, handle.out_dir, "lang", "de")
    app_rows = fx.load_facet_rows(spark, out, "lang", "de")
    want = [
        (r.doc_id, round(r.score, 6))
        for r in handle.engine.search_filtered(q, base_rows, 10)
        .collect()
    ]
    got = [
        (r.doc_id, round(r.score, 6))
        for r in handle.engine.search_filtered(q, app_rows, 10).collect()
    ]
    assert got == want
    counts_full = {
        (r.facet, r.value): r.n_docs
        for r in handle.engine.facet_counts(
            q, fx.load_facet_index(spark, handle.out_dir)
        ).collect()
    }
    counts_app = {
        (r.facet, r.value): r.n_docs
        for r in handle.engine.facet_counts(
            q, fx.load_facet_index(spark, out)
        ).collect()
    }
    assert counts_app == counts_full
    # replay safety: re-appending the same docs is a no-op (all ids are
    # at or under the published high-water mark)
    meta_before = json.load(open(os.path.join(out, fx.META_NAME)))
    fx.append_facet_shards(
        spark, out, docs.filter(F.col("doc_id") >= 80)
    )
    assert json.load(open(os.path.join(out, fx.META_NAME))) == meta_before
    counts_replay = {
        (r.facet, r.value): r.n_docs
        for r in handle.engine.facet_counts(
            q, fx.load_facet_index(spark, out)
        ).collect()
    }
    assert counts_replay == counts_full


def test_facet_delta_invisible_until_meta_publish(
    tmp_path, spark, docs, handle
):
    """Crash-atomicity: a delta dir that landed on disk WITHOUT the
    facets_meta.json republish (crash between the two steps) must stay
    invisible to every loader."""
    import shutil

    out = str(tmp_path / "sidecar_crash")
    os.makedirs(out)
    shutil.copy(
        os.path.join(handle.out_dir, "meta.json"),
        os.path.join(out, "meta.json"),
    )
    with open(os.path.join(out, "meta.json")) as f:
        shard_range = json.load(f)["shard_range"]
    base = docs.filter(F.col("doc_id") < 80)
    fx.write_facet_index(
        fx.build_facet_shards(base, ["lang"], shard_range), out,
        facets=["lang"], max_doc_id=79,
    )
    before = {
        r.shard: r.df
        for r in fx.load_facet_rows(spark, out, "lang", "de").collect()
    }
    # simulate the crash: delta files exist, meta was never replaced
    fx.build_facet_shards(
        docs.filter(F.col("doc_id") >= 80), ["lang"], shard_range
    ).write.mode("overwrite").partitionBy("facet", "value").parquet(
        os.path.join(out, "facets_delta_80")
    )
    after = {
        r.shard: r.df
        for r in fx.load_facet_rows(spark, out, "lang", "de").collect()
    }
    assert after == before  # torn append: previous sidecar fully intact
    # recovery: the real append overwrites the torn dir and publishes
    fx.append_facet_shards(
        spark, out, docs.filter(F.col("doc_id") >= 80)
    )
    rebuilt = {}
    for r in fx.load_facet_rows(spark, out, "lang", "de").collect():
        rebuilt[r.shard] = rebuilt.get(r.shard, 0) + r.df
    full = {
        r.shard: r.df
        for r in fx.build_facet_shards(docs, ["lang"], shard_range)
        .filter((F.col("facet") == "lang") & (F.col("value") == "de"))
        .collect()
    }
    assert rebuilt == full


def test_compaction_reshard_detected_and_repaired(spark, tmp_path_factory):
    """compact_index re-shards the corpus (shard_range grows), which
    invalidates every facet-shard encoding.  The loaders and the append
    path must fail LOUDLY on the stale sidecar, and sync_facet_index
    must repair it with a full rebuild whose filtered serving matches
    the pre-compaction results (compaction never changes rankings or
    the facet doc-sets)."""
    from tse_spark import fixtures
    from tse_spark.operators import codec
    from tse_spark.plans import append as ap
    from tse_spark.plans import compact as cm

    d = tmp_path_factory.mktemp("fcmp_data")
    srcs = []
    for name, (n, start) in {"a": (120, 0), "b": (90, 120)}.items():
        p = str(d / name)
        spark.createDataFrame(
            fixtures.gen_pages(n, start=start)
        ).write.mode("overwrite").parquet(p)
        srcs.append(p)
    out = str(tmp_path_factory.mktemp("fcmp_idx"))
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=4, num_partitions=4,
    )
    pipe.run_from_pages(srcs[0], resume=False)
    ap.append_pages(spark, out, srcs[1], fixtures.mini_dict_bytes())
    with open(os.path.join(out, "meta.json")) as f:
        imeta = json.load(f)
    docs_all = spark.read.parquet(
        *[os.path.join(out, dd) for dd in imeta["docs_dirs"]]
    )
    fx.write_facet_index(
        fx.build_facet_shards(docs_all, ["lang"], imeta["shard_range"]),
        out,
    )
    h0 = pl.load_index(spark, out, fixtures.mini_dict_bytes())
    rows0 = fx.load_facet_rows(spark, out, "lang", "en")
    pre = [
        (r.doc_id, round(r.score, 9))
        for r in h0.engine.search_filtered("web search", rows0, 10)
        .collect()
    ]
    assert pre

    h1 = cm.compact_index(spark, out, fixtures.mini_dict_bytes())
    with open(os.path.join(out, "meta.json")) as f:
        new_range = json.load(f)["shard_range"]
    assert new_range != imeta["shard_range"]  # really re-sharded

    # stale sidecar: every consumer fails loudly, none serves wrong data
    with pytest.raises(ValueError, match="shard_range"):
        fx.load_facet_index(spark, out)
    with pytest.raises(ValueError, match="shard_range"):
        fx.append_facet_shards(
            spark, out, docs_all.filter(F.col("doc_id") < 0)
        )

    # sync falls through to the rebuild and repairs against the new law
    rebuilt = fx.sync_facet_index(spark, out)
    assert rebuilt is not None and "facets_base_v" in rebuilt
    rows1 = fx.load_facet_rows(spark, out, "lang", "en")
    for r in rows1.collect():
        ids, _, _ = codec.decode_all(bytes(r.blocks))
        assert (ids // new_range == r.shard).all()
    post = [
        (r.doc_id, round(r.score, 9))
        for r in h1.engine.search_filtered("web search", rows1, 10)
        .collect()
    ]
    assert post == pre
    # a second sync with nothing new is a no-op
    assert fx.sync_facet_index(spark, out) is None


# NOTE: keep this test LAST in the module — it corrupts the shared
# module-scoped sidecar's non-probed directories on purpose.
def test_facet_read_partition_prunes(spark, handle):
    rows = fx.load_facet_rows(spark, handle.out_dir, "lang", "de")
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "facet" in plan
    # physical proof: poison every OTHER (facet, value) directory; a
    # pruned read never opens them
    base = os.path.join(handle.out_dir, "facets")
    poisoned = 0
    for fdir in os.listdir(base):
        full = os.path.join(base, fdir)
        if not os.path.isdir(full) or fdir == "facet=lang":
            continue
        for vdir in os.listdir(full):
            for name in os.listdir(os.path.join(full, vdir)):
                if name.endswith(".parquet"):
                    with open(os.path.join(full, vdir, name), "wb") as f:
                        f.write(b"not parquet")
                    poisoned += 1
    for vdir in os.listdir(os.path.join(base, "facet=lang")):
        if vdir == "value=de":
            continue
        for name in os.listdir(os.path.join(base, "facet=lang", vdir)):
            if name.endswith(".parquet"):
                with open(
                    os.path.join(base, "facet=lang", vdir, name), "wb"
                ) as f:
                    f.write(b"not parquet")
                poisoned += 1
    assert poisoned > 0
    again = fx.load_facet_rows(spark, handle.out_dir, "lang", "de")
    assert again.count() > 0  # still readable: pruned scan
