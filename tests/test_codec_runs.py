"""Posting-run codec: round-trips, malformed-blob rejection, the df
check that guards row labels, and the posting-format marker that every
index entry point checks."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from tse_spark import fixtures
from tse_spark.operators import codec, postings as po, servecache as sc
from tse_spark.plans import append as ap
from tse_spark.plans import compact as cm
from tse_spark.plans import fsck
from tse_spark.plans import merge as mg
from tse_spark.plans import pipeline as pl


def _run(rng, n, max_doc, max_val):
    docs = np.sort(rng.randint(0, max_doc, size=n, dtype=np.int64))
    tfs = rng.randint(0, max_val, size=n, dtype=np.int64)
    dls = rng.randint(0, max_val, size=n, dtype=np.int64)
    return docs, tfs, dls


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=60), max_size=12),
    st.sampled_from([1 << 10, 1 << 31, 1 << 40, 1 << 62]),
    st.sampled_from([3, 1 << 28, 1 << 40]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_runs_roundtrip_hypothesis(sizes, max_doc, max_val, seed):
    """Several runs (df = 1 included) encoded in one pass decode to the
    concatenated postings, one blob at a time and all blobs joined;
    doc ids reach 2^62 and tf/dl 2^40.  No runs -> no blobs, and the
    empty blob decodes to nothing."""
    rng = np.random.RandomState(seed)
    max_val = max(max_val, 2)
    runs = [_run(rng, n, max_doc, max_val) for n in sizes]
    bounds = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    docs, tfs, dls = (
        np.concatenate([r[i] for r in runs]) if runs
        else np.zeros(0, dtype=np.int64)
        for i in range(3)
    )
    blobs = codec.encode_many(docs, tfs, dls, bounds)
    assert len(blobs) == len(sizes)
    for blob, (d, t, l) in zip(blobs, runs):
        d2, t2, l2 = codec.decode_all(blob)
        np.testing.assert_array_equal(d2, d)
        np.testing.assert_array_equal(t2, t)
        np.testing.assert_array_equal(l2, l)
    for got, want in zip(codec.decode_all(b"".join(blobs)), (docs, tfs, dls)):
        np.testing.assert_array_equal(got, want)
    for got, want in zip(
        codec.decode_rows(blobs, sizes), (docs, tfs, dls)
    ):
        np.testing.assert_array_equal(got, want)


def test_run_layout_is_header_free():
    """The run is exactly its varints: n, first doc, gaps, tfs, dls."""
    blob = codec.encode_postings(
        np.array([300, 5, 9], dtype=np.int64),
        np.array([2, 1, 1], dtype=np.int64),
        np.array([7, 4, 4], dtype=np.int64),
    )
    assert blob == codec.varint_encode(
        np.array([3, 5, 4, 291, 1, 1, 2, 4, 4, 7], dtype=np.int64)
    )


def test_malformed_blobs_raise():
    blob = codec.encode_postings(
        np.arange(0, 4000, 7, dtype=np.int64),
        np.full(572, 3, dtype=np.int64),
        np.full(572, 200, dtype=np.int64),
    )
    for bad in (
        blob[:-1],             # last run cut short
        blob[:-2],
        blob + b"\x05",        # trailing bytes: a run claiming 5 postings
        blob + b"\x80",        # trailing bytes: a cut-off varint
        b"\x00",               # a run of zero postings
        b"\xff" * 11,          # an 11-byte varint
    ):
        with pytest.raises(ValueError):
            codec.decode_all(bad)
    with pytest.raises(ValueError):
        codec.varint_decode(codec.varint_encode(np.arange(5)), 4)
    with pytest.raises(ValueError):
        codec.encode_many(
            np.array([3, 1], dtype=np.int64), np.ones(2, dtype=np.int64),
            np.ones(2, dtype=np.int64), np.array([0, 2]),
        )


def _two_rows():
    """Two runs of 2 and 3 postings, blobs and dfs."""
    a = codec.encode_postings(
        np.array([1, 4]), np.array([1, 1]), np.array([5, 5])
    )
    b = codec.encode_postings(
        np.array([2, 3, 9]), np.array([2, 2, 2]), np.array([6, 6, 6])
    )
    return [a, b]


def test_decode_rows_checks_every_df():
    """Swapped dfs keep the batch total (5) but would shift the term
    label of every posting after the first row."""
    blobs = _two_rows()
    codec.decode_rows(blobs, [2, 3])
    for dfs in ([3, 2], [5], [2, 3, 0]):
        with pytest.raises(ValueError, match="disagree"):
            codec.decode_rows(blobs, dfs)


def test_spark_decoders_reject_df_mismatch(spark):
    """decode_postings and reencode_shards refuse rows whose run
    disagrees with df, though the batch totals balance."""
    blobs = _two_rows()
    rows = pd.DataFrame(
        {
            "term": ["a", "b"],
            "shard": [0, 0],
            "df": [3, 2],
            "cf": [2, 6],
            "blocks": blobs,
        }
    )
    bad = spark.createDataFrame(rows, po.POSTINGS_SCHEMA).coalesce(1)
    with pytest.raises(Exception, match="disagree"):
        po.decode_postings(bad).collect()
    re = po.reencode_shards(bad, shard_range=4, merge_parallelism=1)
    try:
        with pytest.raises(Exception, match="disagree"):
            re.collect()
    finally:
        re._partials.unpersist()
    good = spark.createDataFrame(
        rows.assign(df=[2, 3]), po.POSTINGS_SCHEMA
    ).coalesce(1)
    got = sorted(
        (r["term"], r["doc_id"]) for r in po.decode_postings(good).collect()
    )
    assert got == [("a", 1), ("a", 4), ("b", 2), ("b", 3), ("b", 9)]


@pytest.fixture(scope="module")
def idx(tmp_path_factory, spark):
    out = str(tmp_path_factory.mktemp("fmt_idx"))
    pdf = fixtures.gen_pages(60, start=0)[["text"]].reset_index()
    docs = spark.createDataFrame(
        pdf.rename(columns={"index": "doc_id"})[["doc_id", "text"]]
    )
    pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=2
    ).run_from_docs(docs, input_key="fmt", resume=False)
    return out


def test_format_marker_published_and_keys_caches(idx):
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    assert meta["posting_format"] == codec.POSTING_FORMAT
    assert "block_size" not in meta
    old = {k: v for k, v in meta.items() if k != "posting_format"}
    assert sc.cache_key(old) != sc.cache_key(meta)


def test_unmarked_index_is_refused(spark, idx, tmp_path):
    """An index without the marker (written by the block codec) is
    refused by every entry point instead of mis-decoded."""
    import shutil

    old = str(tmp_path / "old")
    shutil.copytree(idx, old)
    path = os.path.join(old, "meta.json")
    with open(path) as f:
        meta = json.load(f)
    del meta["posting_format"]
    meta["block_size"] = 128
    with open(path, "w") as f:
        json.dump(meta, f)
    for call in (
        lambda: pl.load_index(spark, old),
        lambda: ap.append_pages(spark, old, str(tmp_path / "none")),
        lambda: cm.compact_index(spark, old),
        lambda: mg.merge_indexes(spark, idx, old, str(tmp_path / "m")),
        lambda: fsck.fsck_index(spark, old),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            call()
