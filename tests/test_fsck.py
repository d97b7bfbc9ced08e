"""fsck_index: a clean lifecycle passes; tampered state is detected.

The contract test value-verifies the clean report against DuckDB; here
we pin the other half — each invariant flag actually trips on the
corruption it guards against — plus bm25_explain's internal coherence.
"""

import json
import os
import shutil

import pandas as pd
import pytest

from pyspark.sql import functions as F

from tse_spark import fixtures
from tse_spark.plans import delete as dmod
from tse_spark.plans import fsck
from tse_spark.plans import pipeline as pl


@pytest.fixture(scope="module")
def idx(tmp_path_factory, spark):
    out = str(tmp_path_factory.mktemp("fsck_idx"))
    pdf = fixtures.gen_pages(120, start=0)[["text"]].reset_index()
    docs = spark.createDataFrame(
        pdf.rename(columns={"index": "doc_id"})[["doc_id", "text"]]
    )
    h = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=4
    ).run_from_docs(docs, input_key="fsck", resume=False)
    return h, out


def _report(spark, out):
    return fsck.fsck_index(spark, out).collect()[0].asDict()


def _copy(out, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(out, dst)
    return dst


def test_clean_index_passes(spark, idx):
    h, out = idx
    r = _report(spark, out)
    flags = [k for k in r if k.endswith("_ok")]
    assert all(r[k] == 1 for k in flags), r
    assert r["n_docs"] == h.n_docs
    assert r["n_tombstones"] == 0
    assert r["n_postings"] >= r["n_terms"]


def test_tombstoned_index_passes(spark, idx, tmp_path):
    _, out = idx
    cp = _copy(out, tmp_path, "tomb")
    dmod.delete_docs(spark, cp, doc_ids=[3, 10, 17])
    r = _report(spark, cp)
    assert r["n_tombstones"] == 3
    assert all(v == 1 for k, v in r.items() if k.endswith("_ok")), r


def test_detects_stale_term_stats(spark, idx, tmp_path):
    """The facet-repair failure mode: published stats no longer match
    the shards."""
    _, out = idx
    cp = _copy(out, tmp_path, "stale")
    with open(os.path.join(cp, "meta.json")) as f:
        stats_dir = json.load(f).get("term_stats_dir", "term_stats")
    path = os.path.join(cp, stats_dir)
    broken = spark.read.parquet(path).withColumn(
        "df", F.col("df") + F.lit(1)
    )
    broken.write.mode("overwrite").parquet(path + ".tmp")
    shutil.rmtree(path)
    os.replace(path + ".tmp", path)
    r = _report(spark, cp)
    assert r["stats_ok"] == 0
    assert r["snapshot_ok"] == 1  # meta itself untouched


def test_detects_meta_tamper(spark, idx, tmp_path):
    """State edited outside the commit protocol: counts diverge from
    the shards AND from the archived snapshot."""
    _, out = idx
    cp = _copy(out, tmp_path, "tamper")
    mp = os.path.join(cp, "meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta["n_docs"] = int(meta["n_docs"]) + 5
    with open(mp, "w") as f:
        json.dump(meta, f)
    r = _report(spark, cp)
    assert r["n_docs_ok"] == 0
    assert r["snapshot_ok"] == 0


def test_detects_missing_dir(spark, idx, tmp_path):
    _, out = idx
    cp = _copy(out, tmp_path, "nodir")
    with open(os.path.join(cp, "meta.json")) as f:
        stats_dir = json.load(f).get("term_stats_dir", "term_stats")
    # point meta at a dir that is gone, but keep the rest loadable
    os.rename(
        os.path.join(cp, stats_dir), os.path.join(cp, stats_dir) + ".bak"
    )
    with pytest.raises(Exception):
        _report(spark, cp)  # stats read fails loudly — never a false OK
    # dirs_ok alone (before the read) would already have tripped:
    listed_ok = os.path.exists(os.path.join(cp, stats_dir))
    assert not listed_ok


def test_explain_coheres_with_topk(spark, idx):
    """bm25_explain describes exactly bm25_topk's docs and its contribs
    sum to the doc score (within display rounding)."""
    from tse_spark.operators import index_build as ib

    h, out = idx
    from tse_spark.operators import postings as po

    dec = po.decode_postings(h.postings).select(
        "doc_id", "term", "tf", "dl"
    )
    tf = dec.select("doc_id", "term", "tf")
    doclen = dec.select("doc_id", "dl").distinct()
    dfreq = ib.build_df_stats(tf)
    n, avgdl = ib.corpus_stats(doclen)
    terms = ["web", "search", "index"]
    top = ib.bm25_topk(
        spark, tf, doclen, dfreq, n, avgdl, terms, 10
    ).collect()
    exp = ib.bm25_explain(
        spark, tf, doclen, dfreq, n, avgdl, terms, 10
    ).toPandas()
    assert set(exp["doc_id"]) == {r["doc_id"] for r in top}
    sums = exp.groupby("doc_id").agg(c=("contrib", "sum"), s=("score", "first"))
    assert (abs(sums["c"] - sums["s"]) < 0.002).all()
    # every contribution's inputs reproduce it (formula spot-check)
    row = exp.iloc[0]
    import math

    idf = math.log(1 + (n - row["df"] + 0.5) / (row["df"] + 0.5))
    s = idf * row["tf"] * 2.2 / (
        row["tf"] + 1.2 * (0.25 + 0.75 * row["dl"] / avgdl)
    )
    assert round(s, 4) == pytest.approx(row["contrib"], abs=2e-4)
    assert round(idf, 6) == pytest.approx(row["idf"], abs=2e-6)


def test_storage_report_accounts_for_every_byte(spark, idx):
    """storage_report: the TOTAL row equals the per-shard sum, counts
    equal the decoded truth, and compression beats raw int64 pairs."""
    from pyspark.sql import functions as F

    from tse_spark.operators import postings as po

    h, out = idx
    rep = {r["shard"]: r for r in po.storage_report(h.postings).collect()}
    shards = [s for s in rep if s >= 0]
    tot = rep[-1]
    assert tot["n_postings"] == sum(rep[s]["n_postings"] for s in shards)
    assert tot["blob_bytes"] == sum(rep[s]["blob_bytes"] for s in shards)
    dec = po.decode_postings(h.postings)
    assert tot["n_postings"] == dec.count()
    raw = h.postings.agg(
        F.sum(F.octet_length("blocks")).alias("b")
    ).collect()[0]["b"]
    assert tot["blob_bytes"] == raw
    assert 0 < tot["bytes_per_posting"] < 16.0  # beats raw (doc, tf) int64s
