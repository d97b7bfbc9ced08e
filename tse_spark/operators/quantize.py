"""Impact-quantized posting shards (X102's serving tier).

`index_build.quantized_impacts` states the LAW declaratively; this
module carries it into the shard machinery: the compressed posting
shards (operators/postings.py) are re-encoded so each posting stores
its global-linear-quantized BM25 impact ``q`` (8-bit by default)
instead of (tf, dl), and serving sums small integers — no float
kernel, no doclen section, no idf multiply at query time (Anserini /
JASS precomputed-impact design).

Build is two vectorized passes over the SAME (term, shard) rows the
BM25 tier serves (reference contrast: TSE re-scores floats per query,
index/Query.cpp:59-82):

  1. per-row max impact (decode + idf x tf-component, numpy), one
     global max agg — the quantizer scale M;
  2. re-encode: ``q = min(2^bits - 1, floor(impact / M * 2^bits))``
     packed as delta-gap + varint q blocks with per-block integer
     ``max_q`` metadata.  The serving kernel below is the EXHAUSTIVE
     vectorized sum (decode cost dominates at per-shard posting mass,
     and integer adds are branchless); max_q is carried so a
     block-max pruner can be added without re-encoding — the pruned
     low-latency tier remains the float WAND engine (operators/wand).

Global df rides in via one term-stats equi-join (never a broadcast
vocabulary dict — a web-scale vocab doesn't fit a broadcast), so both
passes are mapInPandas over self-contained rows.

Serving mirrors the WAND path's topology: pushed-down term IN,
per-shard Arrow UDF over disjoint doc ranges, global top-k.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tse_spark import oracle
from tse_spark.operators import codec

# count, gaps_len, qs_len, first_doc, last_doc, max_q
_QHDR = struct.Struct("<HIIQQH")

QPOSTINGS_SCHEMA = "term string, shard long, df long, qblocks binary"
BLOCK_SIZE = 128


def encode_q_blocks(
    docs: np.ndarray, qs: np.ndarray, block_size: int = BLOCK_SIZE
) -> bytes:
    """Pack doc-ascending (docs, q) into self-delimiting q-blocks."""
    out = []
    for s in range(0, len(docs), block_size):
        d = docs[s : s + block_size]
        q = qs[s : s + block_size]
        gaps = np.diff(d, prepend=d[0]).astype(np.int64)
        gb = codec.varint_encode(gaps)
        qb = codec.varint_encode(q.astype(np.int64))
        out.append(
            _QHDR.pack(
                len(d), len(gb), len(qb), int(d[0]), int(d[-1]),
                int(q.max()),
            )
        )
        out.append(gb)
        out.append(qb)
    return b"".join(out)


def decode_q_blocks(blob: bytes) -> "tuple[np.ndarray, np.ndarray]":
    """-> (docs, qs) int64 arrays, all blocks concatenated."""
    docs_parts, q_parts = [], []
    off = 0
    n = len(blob)
    while off < n:
        count, g_len, q_len, first_doc, _last, _mq = _QHDR.unpack_from(
            blob, off
        )
        off += _QHDR.size
        gaps = codec.varint_decode(blob[off : off + g_len], count)
        off += g_len
        qs = codec.varint_decode(blob[off : off + q_len], count)
        off += q_len
        # gaps[0] == 0 (first_doc is absolute in the header)
        docs = np.cumsum(gaps) + np.int64(first_doc)
        docs_parts.append(docs)
        q_parts.append(qs)
    if not docs_parts:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy()
    return np.concatenate(docs_parts), np.concatenate(q_parts)


def _impacts(tfs, dls, df, n_docs, avgdl):
    idf = np.log(
        1.0 + (float(n_docs) - df + 0.5) / (df + 0.5)
    )
    k1, b = oracle.BM25_K1, oracle.BM25_B
    t = tfs.astype(np.float64)
    return (
        idf
        * t
        * (k1 + 1.0)
        / (t + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
    )


def _with_global_df(postings: DataFrame) -> DataFrame:
    from tse_spark.operators.postings import term_stats

    g = term_stats(postings).select(
        "term", F.col("df").alias("gdf")
    )
    return postings.join(g, "term")


def max_impact(postings: DataFrame, n_docs: int, avgdl: float) -> float:
    """Pass 1: the quantizer scale M = max posting impact over the
    whole index (per-row numpy max, one global agg)."""
    joined = _with_global_df(postings)
    schema = "m double"

    def row_max(it):
        for pdf in it:
            ms = []
            for blob, gdf in zip(pdf["blocks"], pdf["gdf"]):
                _docs, tfs, dls = codec.decode_all(bytes(blob))
                if len(tfs):
                    ms.append(
                        float(
                            _impacts(
                                tfs, dls, float(gdf), n_docs, avgdl
                            ).max()
                        )
                    )
            yield pd.DataFrame({"m": ms or [float("-inf")]})

    r = joined.mapInPandas(row_max, schema=schema).agg(F.max("m")).first()
    return float(r[0])


def quantize_shards(
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    bits: int = 8,
    m: "float | None" = None,
) -> DataFrame:
    """Pass 2: re-encode every (term, shard) row's blob into q-blocks
    under scale ``m`` (computed by :func:`max_impact` when omitted)."""
    if m is None:
        m = max_impact(postings, n_docs, avgdl)
    levels = 1 << bits
    joined = _with_global_df(postings)

    def reencode(it):
        for pdf in it:
            rows = {"term": [], "shard": [], "df": [], "qblocks": []}
            for term, shard, df, blob, gdf in zip(
                pdf["term"], pdf["shard"], pdf["df"], pdf["blocks"],
                pdf["gdf"],
            ):
                docs, tfs, dls = codec.decode_all(bytes(blob))
                if not len(docs):
                    continue
                imp = _impacts(tfs, dls, float(gdf), n_docs, avgdl)
                q = np.minimum(
                    levels - 1, np.floor(imp / m * levels)
                ).astype(np.int64)
                rows["term"].append(term)
                rows["shard"].append(int(shard))
                rows["df"].append(int(df))
                rows["qblocks"].append(encode_q_blocks(docs, q))
            yield pd.DataFrame(rows)

    return joined.mapInPandas(reencode, schema=QPOSTINGS_SCHEMA)


def quantized_search(
    qpostings: DataFrame, terms: list[str], k: int = 10
) -> DataFrame:
    """Integer top-k from the quantized shards: pushed-down term IN,
    per-shard Arrow UDF (disjoint doc ranges) summing q per doc with a
    segmented bincount, then the global top-k.  Returns ``(doc_id,
    qscore)`` — result-identical to the declarative
    ``index_build.quantized_topk`` (shared oracle)."""
    terms = sorted(set(terms))
    sub = qpostings.filter(F.col("term").isin(terms))
    schema = "doc_id long, qscore long"

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        parts_d, parts_q = [], []
        for blob in pdf["qblocks"]:
            d, q = decode_q_blocks(bytes(blob))
            parts_d.append(d)
            parts_q.append(q)
        if not parts_d:
            return pd.DataFrame({"doc_id": [], "qscore": []}).astype(
                "int64"
            )
        docs = np.concatenate(parts_d)
        qs = np.concatenate(parts_q)
        uniq, inv = np.unique(docs, return_inverse=True)
        sums = np.bincount(inv, weights=qs.astype(np.float64)).astype(
            np.int64
        )
        if len(uniq) > k:
            # per-shard top-k is sufficient: shards are disjoint doc
            # ranges, so the global winner set is a union of per-shard
            # winners.  (qscore desc, doc asc) tie-break.
            order = np.lexsort((uniq, -sums))[:k]
            uniq, sums = uniq[order], sums[order]
        return pd.DataFrame({"doc_id": uniq, "qscore": sums})

    local = sub.groupBy("shard").applyInPandas(per_shard, schema)
    return local.orderBy(F.desc("qscore"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# sidecar persistence (published beside the index, snapshot-gated)
# ---------------------------------------------------------------------------

def write_quantized_index(
    qpostings: DataFrame,
    out_dir: str,
    m: float,
    bits: int,
    dirname: str = "qpostings",
) -> str:
    """Persist the quantized tier under ``out_dir/<dirname>`` and
    publish ``qpostings_meta.json`` carrying the quantizer scale ``m``,
    ``bits``, and the index ``snapshot_id`` it was derived from.  The
    sidecar is immutable per snapshot: any commit (append / compact /
    delete-fold / upsert) bumps the index snapshot_id, and
    :func:`load_quantized_index` refuses a stale sidecar loudly — the
    same gate the facet sidecar and ANN indexes use.  Rebuild after a
    commit is a full two-pass re-encode; an O(delta) append would
    hold ``m`` fixed and only quantize the new shards (valid while no
    new posting exceeds m — the meta records m so the check is one
    comparison against the delta's max impact)."""
    import json
    import os

    path = os.path.join(out_dir, dirname)
    qpostings.write.mode("overwrite").parquet(path)
    with open(os.path.join(out_dir, "meta.json")) as f:
        sid = int(json.load(f).get("snapshot_id", 0))
    meta = {"m": float(m), "bits": int(bits), "snapshot_id": sid}
    tmp = os.path.join(out_dir, f"{dirname}_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(out_dir, f"{dirname}_meta.json"))
    return path


def load_quantized_index(
    spark, out_dir: str, dirname: str = "qpostings"
) -> "tuple[DataFrame, dict]":
    """Load the quantized sidecar, validating its snapshot_id against
    the LIVE index meta — serving stale integer codes against a
    committed index would silently misrank, so staleness is an error,
    never a fallback."""
    import json
    import os

    with open(os.path.join(out_dir, f"{dirname}_meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(out_dir, "meta.json")) as f:
        live_sid = int(json.load(f).get("snapshot_id", 0))
    if int(meta["snapshot_id"]) != live_sid:
        raise ValueError(
            f"quantized sidecar is stale (built at snapshot "
            f"{meta['snapshot_id']}, index is at {live_sid}); rebuild "
            f"with quantize_shards + write_quantized_index"
        )
    return spark.read.parquet(os.path.join(out_dir, dirname)), meta
