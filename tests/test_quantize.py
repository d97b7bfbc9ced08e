"""Impact-quantized posting shards (operators/quantize.py): q-block
codec roundtrip, quantization law vs the declarative twin, and serving
parity between the shard path and index_build.quantized_topk."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tse_spark.operators import codec, quantize as qz
from tse_spark.operators import index_build as ib
from tse_spark.operators import postings as po


def test_qblock_roundtrip_randomized():
    rng = np.random.RandomState(7)
    for _ in range(25):
        n = int(rng.randint(1, 700))
        docs = np.unique(rng.randint(0, 50_000, size=n).astype(np.int64))
        qs = rng.randint(0, 256, size=len(docs)).astype(np.int64)
        blob = qz.encode_q_blocks(docs, qs, block_size=64)
        d2, q2 = qz.decode_q_blocks(blob)
        np.testing.assert_array_equal(docs, d2)
        np.testing.assert_array_equal(qs, q2)


def test_qblock_max_q_metadata():
    docs = np.arange(0, 300, dtype=np.int64)
    qs = np.arange(300, dtype=np.int64) % 256
    blob = qz.encode_q_blocks(docs, qs, block_size=128)
    # walk headers: per-block max_q equals the block's actual max
    off, i = 0, 0
    while off < len(blob):
        count, g_len, q_len, _f, _l, mq = qz._QHDR.unpack_from(blob, off)
        assert mq == int(qs[i : i + count].max())
        off += qz._QHDR.size + g_len + q_len
        i += count
    assert i == 300


@pytest.fixture(scope="module")
def shard_setup(spark):
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta{'' if i % 3 else ' gamma'} delta{i % 5}")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    tf = ib.build_tf_ws(docs)
    doclen = ib.build_doclen(tf)
    n, avgdl = ib.corpus_stats(doclen)
    tf_dl = po.with_doclen(tf)
    shards = po.build_posting_shards(tf_dl, n, num_shards=4).persist()
    shards.count()
    return tf, doclen, n, avgdl, shards


def test_quantize_shards_match_declarative_codes(spark, shard_setup):
    """Every (term, doc) q code from the shard re-encode equals the
    declarative quantized_impacts code (same global scale)."""
    tf, doclen, n, avgdl, shards = shard_setup
    dfreq = ib.build_df_stats(tf)
    want = {
        (r["term"], r["doc_id"]): r["q"]
        for r in ib.quantized_impacts(
            tf, doclen, dfreq, n, avgdl, bits=8
        ).collect()
    }
    qp = qz.quantize_shards(shards, n, avgdl, bits=8)
    got = {}
    for r in qp.collect():
        d, q = qz.decode_q_blocks(bytes(r["qblocks"]))
        for doc, code in zip(d, q):
            got[(r["term"], int(doc))] = int(code)
    assert got == want


def test_quantized_search_equals_declarative_topk(spark, shard_setup):
    tf, doclen, n, avgdl, shards = shard_setup
    dfreq = ib.build_df_stats(tf)
    qi = ib.quantized_impacts(tf, doclen, dfreq, n, avgdl, bits=8)
    for terms in [["alpha"], ["beta", "delta2"], ["gamma", "nosuch"]]:
        want = [
            (r["doc_id"], r["qscore"])
            for r in ib.quantized_topk(spark, qi, terms, 7).collect()
        ]
        qp = qz.quantize_shards(shards, n, avgdl, bits=8)
        got = [
            (r["doc_id"], r["qscore"])
            for r in qz.quantized_search(qp, terms, 7).collect()
        ]
        assert got == want, terms


def test_per_shard_topk_union_is_safe(spark, shard_setup):
    """k winners per shard over disjoint doc ranges always contain the
    global k winners: the global result of the pruned path equals an
    unpruned rerun."""
    tf, doclen, n, avgdl, shards = shard_setup
    qp = qz.quantize_shards(shards, n, avgdl, bits=8).persist()
    pruned = [
        (r["doc_id"], r["qscore"])
        for r in qz.quantized_search(qp, ["alpha", "delta1"], 3).collect()
    ]
    # unpruned: decode everything, aggregate in python
    full = {}
    for r in qp.filter(
        F.col("term").isin(["alpha", "delta1"])
    ).collect():
        d, q = qz.decode_q_blocks(bytes(r["qblocks"]))
        for doc, code in zip(d, q):
            full[int(doc)] = full.get(int(doc), 0) + int(code)
    want = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert pruned == want
    qp.unpersist()


def test_sidecar_roundtrip_and_staleness_gate(spark, shard_setup, tmp_path):
    import json
    import os

    tf, doclen, n, avgdl, shards = shard_setup
    out = str(tmp_path / "idx")
    os.makedirs(out)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"snapshot_id": 3}, f)
    m = qz.max_impact(shards, n, avgdl)
    qz.write_quantized_index(
        qz.quantize_shards(shards, n, avgdl, bits=8, m=m), out, m, 8
    )
    qp, meta = qz.load_quantized_index(spark, out)
    assert meta == {"m": m, "bits": 8, "snapshot_id": 3}
    # loaded table serves identically to the in-memory one
    want = [
        tuple(r)
        for r in qz.quantized_search(
            qz.quantize_shards(shards, n, avgdl, bits=8, m=m),
            ["alpha"], 5,
        ).collect()
    ]
    got = [tuple(r) for r in qz.quantized_search(qp, ["alpha"], 5).collect()]
    assert got == want
    # a commit bumps the index snapshot: the stale sidecar must refuse
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"snapshot_id": 4}, f)
    with pytest.raises(ValueError, match="stale"):
        qz.load_quantized_index(spark, out)


def test_maintain_cli_quantize(spark, tmp_path, capsys):
    """maintain_index.py quantize publishes a loadable sidecar whose
    serving equals the declarative law on the same index."""
    import json as _json
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import maintain_index as mi
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    p = str(tmp_path / "pages")
    spark.createDataFrame(fixtures.gen_pages(120)).write.parquet(p)
    out = str(tmp_path / "idx")
    pipe = pl.IndexPipeline(
        spark, out, tokenizer="ws", num_shards=2, num_partitions=2
    )
    pipe.run_from_pages(p, resume=False)

    assert mi.main(["--index", out, "quantize"]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["bits"] == 8 and rep["m"] > 0

    qp, meta = qz.load_quantized_index(spark, out)
    h = pl.load_index(spark, out)
    e = h.engine
    from tse_spark.operators import postings as po

    tf = po.decode_postings(e.postings).select("term", "doc_id", "tf")
    doclen = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("dl")
    )
    dfreq = ib.build_df_stats(tf)
    qi = ib.quantized_impacts(tf, doclen, dfreq, e.n_docs, e.avgdl)
    want = [
        tuple(r)
        for r in ib.quantized_topk(spark, qi, ["web", "search"], 5).collect()
    ]
    got = [
        tuple(r)
        for r in qz.quantized_search(qp, ["web", "search"], 5).collect()
    ]
    assert got == want and got


from hypothesis import given, settings, strategies as st


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        min_size=1,
        max_size=400,
        unique=True,
    ),
    st.integers(min_value=1, max_value=255),
    st.sampled_from([1, 7, 64, 128]),
)
def test_qblock_roundtrip_hypothesis(ids, qmax, block_size):
    docs = np.sort(np.array(ids, dtype=np.int64))
    rng = np.random.RandomState(qmax)
    qs = rng.randint(0, qmax + 1, size=len(docs)).astype(np.int64)
    blob = qz.encode_q_blocks(docs, qs, block_size=block_size)
    d2, q2 = qz.decode_q_blocks(blob)
    np.testing.assert_array_equal(docs, d2)
    np.testing.assert_array_equal(qs, q2)
