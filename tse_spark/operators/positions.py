"""Positional posting index: term positions ride inside the posting
blocks, so quoted-phrase queries resolve ENTIRELY index-side — no
document text is fetched or re-tokenized at serving time.

The reference has no positional index (its ``sun.iidx`` stores bare
docid lists, index/CrtInvertedIdx.cpp:29-47) and no phrase queries;
this is the standard fulltext-engine extension of that format.  The
existing :func:`tse_spark.operators.textops.phrase_match_indexed`
prunes candidates through the (term, doc) index but still re-scans the
candidate documents' text for adjacency — at 10^12 docs that second
pass touches the (huge) docs table.  Here adjacency is answered from
position lists alone: serving reads only the phrase terms' shard rows
(pushed-down ``term IN`` on a table laid out by term) and never joins
back to text.

Tokenization matches :func:`textops.tokens` exactly (lowercase,
whitespace-split, empties dropped); positions are 0-based indices in
that filtered token sequence, so "adjacent" means ``pos_{i+1} ==
pos_i + 1`` — the same adjacency :func:`textops.phrase_match` checks
inside the token array, which is why the two operators share one
oracle.

Layout — one row per (term, shard); ``blocks`` concatenates
self-delimiting blocks of up to ``block_size`` postings:

  header '<HIIIQQ': count, gaps_len, cnts_len, pos_len,
                    first_doc, last_doc
  payload: varint(doc delta-gaps, gaps[0]==0 — first_doc absolute)
        ++ varint(per-posting position counts)      (== tf)
        ++ varint(position deltas: per posting the first position is
                  absolute, the rest are gaps; positions are strictly
                  increasing within a posting)

Scale shape mirrors the tf posting build (postings.py): the doc-major
tokenize keeps every occurrence inside its document row (NO
occurrence-level exchange), map-side partial runs are encoded before
the one shuffle by (term, shard) — the shard salt spreads a hot term's
postings across the cluster — and the reduce side only concatenates
self-delimiting partial blobs.  Positions are int64 < 2^32 (a doc with
more tokens than that does not exist), so serving packs (doc, pos)
into one sortable int64 key.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tse_spark.operators import codec

_PHDR = struct.Struct("<HIIIQQ")
BLOCK_SIZE = 128
PHDR_SIZE = _PHDR.size
_STRIDE = np.int64(1) << np.int64(32)  # (doc, pos) -> doc * 2^32 + pos


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def encode_positions_many(
    doc_ids: np.ndarray,
    cnts: np.ndarray,
    posflat: np.ndarray,
    group_bounds: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[bytes]:
    """Encode MANY positional posting runs in one vectorized pass (the
    positional twin of :func:`codec.encode_many`): ONE varint encode
    per section for the whole chunk, per-value byte sizes giving the
    slice offsets, and only the final header-pack/slice assembly
    looping in Python, once per block.  ``group_bounds`` delimits the
    (term, shard) runs in POSTING space (len = n_groups + 1); each run
    must be doc-ascending with strictly increasing positions per
    posting."""
    n = int(doc_ids.size)
    counts = np.diff(group_bounds)
    if n == 0:
        return [b""] * len(counts)
    pos_in_group = np.arange(n) - np.repeat(group_bounds[:-1], counts)
    bstart_mask = (pos_in_group % block_size) == 0
    bstarts = np.flatnonzero(bstart_mask)
    bends = np.concatenate((bstarts[1:], [n]))

    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[bstarts] = 0

    # per-posting position deltas with a reset (absolute first position)
    # at each posting start — computed without a per-posting loop
    p_starts = np.concatenate(([0], np.cumsum(cnts)))
    pd_ = np.empty_like(posflat)
    if posflat.size:
        pd_[1:] = posflat[1:] - posflat[:-1]
        pd_[p_starts[:-1]] = posflat[p_starts[:-1]]

    g_bytes, g_sz = codec._varint_encode_sizes(gaps)
    c_bytes, c_sz = codec._varint_encode_sizes(cnts)
    p_bytes, p_sz = codec._varint_encode_sizes(pd_)
    g_off = np.concatenate(([0], np.cumsum(g_sz)))
    c_off = np.concatenate(([0], np.cumsum(c_sz)))
    # position-section byte offset at each POSTING boundary
    p_off = np.concatenate(([0], np.cumsum(p_sz)))[p_starts]

    first = doc_ids[bstarts]
    last = doc_ids[bends - 1]
    gv = g_bytes.tobytes()
    cv = c_bytes.tobytes()
    pv = p_bytes.tobytes()
    bgroup = np.searchsorted(group_bounds[:-1], bstarts, side="right") - 1
    pack = _PHDR.pack
    parts: list[list[bytes]] = [[] for _ in counts]
    for i in range(len(bstarts)):
        s, e = int(bstarts[i]), int(bends[i])
        ga, gb = int(g_off[s]), int(g_off[e])
        ca, cb = int(c_off[s]), int(c_off[e])
        pa, pb = int(p_off[s]), int(p_off[e])
        parts[int(bgroup[i])].append(
            pack(e - s, gb - ga, cb - ca, pb - pa,
                 int(first[i]), int(last[i]))
            + gv[ga:gb]
            + cv[ca:cb]
            + pv[pa:pb]
        )
    return [b"".join(p) for p in parts]


def encode_positions_run(
    docs: np.ndarray,
    cnts: np.ndarray,
    posflat: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> bytes:
    """Encode ONE (term, shard) run — postings doc-ascending, positions
    strictly increasing within each posting — into concatenated blocks."""
    bounds = np.array([0, docs.size], dtype=np.int64)
    return encode_positions_many(docs, cnts, posflat, bounds, block_size)[0]


def decode_positions(blob: bytes):
    """-> (docs, cnts, posflat) int64 arrays, one ``varint_decode`` per
    SECTION across all blocks (streams are self-delimiting), postings
    re-sorted by doc id (partial runs from different input partitions
    may interleave doc ranges)."""
    hdrs = []
    pos = 0
    n = len(blob)
    while pos < n:
        cnt, g_len, c_len, p_len, first, last = _PHDR.unpack_from(blob, pos)
        hdrs.append((cnt, pos + PHDR_SIZE, g_len, c_len, p_len, first))
        pos += PHDR_SIZE + g_len + c_len + p_len
    if not hdrs:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    counts = np.array([h[0] for h in hdrs], dtype=np.int64)
    total = int(counts.sum())
    g_buf = b"".join(blob[h[1] : h[1] + h[2]] for h in hdrs)
    c_buf = b"".join(blob[h[1] + h[2] : h[1] + h[2] + h[3]] for h in hdrs)
    p_buf = b"".join(
        blob[h[1] + h[2] + h[3] : h[1] + h[2] + h[3] + h[4]] for h in hdrs
    )
    gaps = codec.varint_decode(g_buf, total)
    cnts = codec.varint_decode(c_buf, total)
    n_pos = int(cnts.sum())
    pdeltas = codec.varint_decode(p_buf, n_pos)
    # docs: segmented cumsum with per-block absolute first_doc
    c = np.cumsum(gaps)
    b_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    firsts = np.array([h[5] for h in hdrs], dtype=np.int64)
    docs = c + np.repeat(firsts - c[b_starts], counts)
    # positions: segmented cumsum with a reset at each posting start
    pc = np.cumsum(pdeltas)
    p_starts = np.concatenate(([0], np.cumsum(cnts)))[:-1].astype(np.int64)
    base = pc[p_starts] - pdeltas[p_starts]
    posflat = pc - np.repeat(base, cnts)
    if docs.size > 1 and np.any(docs[1:] < docs[:-1]):
        order = np.argsort(docs, kind="stable")
        take = np.repeat(p_starts[order], cnts[order])
        within = np.arange(n_pos, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(cnts[order])))[:-1], cnts[order]
        )
        posflat = posflat[take + within]
        docs, cnts = docs[order], cnts[order]
    return docs, cnts, posflat


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def build_doc_positions(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """docs -> doc-major (doc_id, terms[], cnts[], posflat[]): per doc,
    distinct terms (sorted) with each term's ascending position list,
    concatenated.  Occurrences never leave their document row — the
    only exchange in the whole build is the later (term, shard) one."""
    schema = (
        "doc_id long, terms array<string>, cnts array<long>, "
        "posflat array<long>"
    )

    def tokenize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = np.array((text or "").lower().split(), dtype=object)
                if toks.size == 0:
                    continue
                uniq, inv, counts = np.unique(
                    toks, return_inverse=True, return_counts=True
                )
                order = np.argsort(inv, kind="stable")
                rows.append(
                    (
                        int(doc_id),
                        uniq.tolist(),
                        counts.astype(np.int64),
                        np.arange(toks.size, dtype=np.int64)[order],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "terms", "cnts", "posflat"]
            )

    return docs.select("doc_id", text_col).mapInPandas(tokenize, schema)


def build_position_shards(
    doc_pos: DataFrame,
    n_docs: int,
    num_shards: int = 32,
    block_size: int = BLOCK_SIZE,
    shard_range: int | None = None,
) -> DataFrame:
    """doc-major positions -> (term, shard, df, blocks) rows.  Map-side
    partial encode per scan chunk (one shuffle row per (term, shard,
    chunk), not per occurrence), then a merge that concatenates the
    self-delimiting partial blobs in first_doc order."""
    if shard_range is None:
        shard_range = max(1, -(-n_docs // num_shards))
    partial_schema = (
        "term string, shard long, df long, first_doc long, blocks binary"
    )

    def encode_map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            cnt_lists = [np.asarray(c, dtype=np.int64) for c in pdf["cnts"]]
            n_terms = np.array([c.size for c in cnt_lists], dtype=np.int64)
            if int(n_terms.sum()) == 0:
                continue
            doc = np.repeat(pdf["doc_id"].to_numpy(np.int64), n_terms)
            terms = np.concatenate(
                [np.asarray(t, dtype=object) for t in pdf["terms"]]
            )
            cnts = np.concatenate(cnt_lists)
            posflat = np.concatenate(
                [np.asarray(p, dtype=np.int64) for p in pdf["posflat"]]
            )
            shards = doc // shard_range
            codes, _ = pd.factorize(terms, sort=False)
            order = np.lexsort((doc, shards, codes.astype(np.int64)))
            # ragged gather: reorder each posting's position slice along
            # with its (term, shard, doc) row
            starts = np.concatenate(([0], np.cumsum(cnts)))[:-1]
            o_cnts = cnts[order]
            o_ends = np.cumsum(o_cnts)
            take = np.repeat(starts[order], o_cnts) + (
                np.arange(int(o_ends[-1]), dtype=np.int64)
                - np.repeat(o_ends - o_cnts, o_cnts)
            )
            posflat = posflat[take]
            codes_o, shards_o, docs_o = (
                codes[order], shards[order], doc[order],
            )
            change = np.flatnonzero(
                (codes_o[1:] != codes_o[:-1]) | (shards_o[1:] != shards_o[:-1])
            )
            bounds = np.concatenate(([0], change + 1, [codes_o.size]))
            blobs = encode_positions_many(
                docs_o, o_cnts, posflat, bounds, block_size
            )
            starts_o = bounds[:-1]
            yield pd.DataFrame(
                {
                    "term": terms[order][starts_o],
                    "shard": shards_o[starts_o],
                    "df": np.diff(bounds),
                    "first_doc": docs_o[starts_o],
                    "blocks": blobs,
                }
            )

    return _sorted_merge(doc_pos.mapInPandas(encode_map, partial_schema))


def _sorted_merge(partials: DataFrame) -> DataFrame:
    """(term, shard, df, first_doc, blocks) partial runs -> one row per
    (term, shard): the shared reduce side of the build AND of
    :func:`reencode_position_shards` — repartition by (term, shard),
    sort runs by first_doc, concatenate the self-delimiting blobs."""
    merged_schema = "term string, shard long, df long, blocks binary"

    def merge_stream(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # partitioned by (term, shard) and sorted by (term, shard,
        # first_doc): stream runs, concatenating self-delimiting blobs
        carry: tuple | None = None  # (term, shard, df, [blobs])
        for pdf in it:
            out = []
            for term, shard, df_, blob in zip(
                pdf["term"], pdf["shard"], pdf["df"], pdf["blocks"]
            ):
                if carry is not None and (
                    carry[0] != term or carry[1] != shard
                ):
                    out.append(
                        (carry[0], carry[1], carry[2], b"".join(carry[3]))
                    )
                    carry = None
                if carry is None:
                    carry = (term, int(shard), int(df_), [blob])
                else:
                    carry = (
                        carry[0], carry[1], carry[2] + int(df_),
                        carry[3] + [blob],
                    )
            if out:
                yield pd.DataFrame(
                    out, columns=["term", "shard", "df", "blocks"]
                )
        if carry is not None:
            yield pd.DataFrame(
                [(carry[0], carry[1], carry[2], b"".join(carry[3]))],
                columns=["term", "shard", "df", "blocks"],
            )

    return (
        partials.repartition("term", "shard")
        .sortWithinPartitions("term", "shard", "first_doc")
        .mapInPandas(merge_stream, merged_schema)
    )


def reencode_position_shards(
    pos_rows: DataFrame,
    shard_range: int,
    block_size: int = BLOCK_SIZE,
    excluded: "np.ndarray | None" = None,
) -> DataFrame:
    """Re-shard + re-encode an existing positional table (the
    compaction kernel, :func:`compact_position_table`) — the positional
    twin of :func:`tse_spark.operators.postings.reencode_shards`:
    decode every (term, shard) row, re-bucket postings by a NEW
    ``shard_range``, drop ``excluded`` (tombstoned) doc ids
    PHYSICALLY, and re-encode.  Same two-phase shape as the build: a
    map-side split pass emits partial runs per (term, new shard) —
    multiple old shards (base + delta dirs) fold into one new shard —
    then the shared sorted merge concatenates them.  Terms whose
    postings all belonged to deleted docs emit no runs (they vanish
    from the re-encoded table)."""
    partial_schema = (
        "term string, shard long, df long, first_doc long, blocks binary"
    )
    b_ex = None
    if excluded is not None and len(excluded):
        b_ex = pos_rows.sparkSession.sparkContext.broadcast(
            np.unique(np.asarray(excluded, dtype=np.int64))
        )

    def split_map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            # per-row decode (vectorized inside decode_positions), then
            # one batched regroup + encode across the whole Arrow chunk
            d_l, c_l, p_l, r_l = [], [], [], []
            for i, blob in enumerate(pdf["blocks"]):
                d, c, p = decode_positions(bytes(blob))
                if d.size == 0:
                    continue
                d_l.append(d)
                c_l.append(c)
                p_l.append(p)
                r_l.append(np.full(d.size, i, dtype=np.int64))
            if not d_l:
                continue
            docs = np.concatenate(d_l)
            cnts = np.concatenate(c_l)
            posflat = np.concatenate(p_l)
            ridx = np.concatenate(r_l)
            if "id_shift" in pdf.columns:
                # per-row constant doc-id translation (segment merge,
                # merge_position_tables): positions are doc-relative
                # and untouched; only the doc axis lifts
                sh = pdf["id_shift"].to_numpy(dtype=np.int64)
                if sh.any():
                    docs = docs + sh[ridx]
            if b_ex is not None:
                ex = b_ex.value
                pos_ = np.searchsorted(ex, docs)
                pos_[pos_ == len(ex)] = len(ex) - 1
                keep = ex[pos_] != docs
                if not keep.all():
                    # ragged drop: remove each dropped posting's
                    # position slice along with its row
                    take = np.repeat(keep, cnts)
                    posflat = posflat[take]
                    docs, cnts, ridx = docs[keep], cnts[keep], ridx[keep]
                if docs.size == 0:
                    continue
            terms = pdf["term"].to_numpy(dtype=object)[ridx]
            shards = docs // shard_range
            codes, _ = pd.factorize(terms, sort=False)
            order = np.lexsort((docs, shards, codes.astype(np.int64)))
            starts = np.concatenate(([0], np.cumsum(cnts)))[:-1]
            o_cnts = cnts[order]
            o_ends = np.cumsum(o_cnts)
            take = np.repeat(starts[order], o_cnts) + (
                np.arange(int(o_ends[-1]), dtype=np.int64)
                - np.repeat(o_ends - o_cnts, o_cnts)
            )
            posflat = posflat[take]
            codes_o, shards_o, docs_o = (
                codes[order], shards[order], docs[order],
            )
            change = np.flatnonzero(
                (codes_o[1:] != codes_o[:-1])
                | (shards_o[1:] != shards_o[:-1])
            )
            bounds = np.concatenate(([0], change + 1, [codes_o.size]))
            blobs = encode_positions_many(
                docs_o, o_cnts, posflat, bounds, block_size
            )
            starts_o = bounds[:-1]
            yield pd.DataFrame(
                {
                    "term": terms[order][starts_o],
                    "shard": shards_o[starts_o],
                    "df": np.diff(bounds),
                    "first_doc": docs_o[starts_o],
                    "blocks": blobs,
                }
            )

    return _sorted_merge(pos_rows.mapInPandas(split_map, partial_schema))


def build_position_index(
    docs: DataFrame,
    n_docs: int,
    num_shards: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Convenience: docs -> positional posting shards."""
    return build_position_shards(
        build_doc_positions(docs, text_col), n_docs, num_shards
    )


# ---------------------------------------------------------------------------
# persisted table (build once, serve many; O(delta) append)
# ---------------------------------------------------------------------------

def build_position_table(
    docs: DataFrame,
    out_dir: str,
    n_docs: int,
    num_shards: int = 32,
    text_col: str = "text",
) -> str:
    """Materialize the positional index: shard rows written RANGE-
    partitioned and sorted by term, so each parquet file covers a
    narrow term interval and a serving-side ``term IN`` filter skips
    whole files on row-group min/max stats (the file-level analogue of
    the pushdown the tests pin).  ``meta.json`` is published LAST via
    the snapshot-stamped atomic commit (same visibility-gate contract
    as the tf index: a crash mid-build leaves no readable index)."""
    from tse_spark.plans import snapshots as sn

    shards = build_position_shards(
        build_doc_positions(docs, text_col), n_docs, num_shards
    )
    data_dir = os.path.join(out_dir, "data")
    (
        shards.repartitionByRange(num_shards, "term")
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    meta = {
        "kind": "positional",
        "n_docs": int(n_docs),
        "num_shards": int(num_shards),
        "shard_range": max(1, -(-int(n_docs) // int(num_shards))),
        "tokenizer": "whitespace_lower",
        "data_dirs": ["data"],
    }
    os.makedirs(out_dir, exist_ok=True)
    # the same snapshot-stamped atomic commit the main index uses
    # (plans/snapshots.py): the positional table gets the identical
    # commit log + optimistic-concurrency contract for free
    sn.publish_meta(out_dir, meta, op="build")
    return out_dir


def append_position_table(
    docs_delta: DataFrame,
    out_dir: str,
    text_col: str = "text",
) -> str:
    """O(delta) append: encode ONLY the new documents (doc ids must be
    disjoint from the existing corpus — same contract as
    plans/append.py) into a fresh ``data_N`` dir using the ORIGINAL
    build's shard_range, then republish meta with the dir added.
    Existing files are never rewritten; blocks are self-delimiting and
    the decoder re-sorts interleaved doc ranges, so a union-of-dirs
    read IS the merged index.  A crash before the meta republish leaves
    the old index fully intact; retrying overwrites the same delta dir
    (idempotent)."""
    import json

    from tse_spark.plans import snapshots as sn

    meta_path = os.path.join(out_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    loaded_snapshot = int(meta.get("snapshot_id", 0))
    delta_shards = build_position_shards(
        build_doc_positions(docs_delta, text_col),
        n_docs=0,  # unused: shard_range pins the layout
        shard_range=int(meta["shard_range"]),
    )
    n = len(meta["data_dirs"])
    delta_dir = f"data_{n}"
    (
        delta_shards.repartitionByRange(
            int(meta["num_shards"]), "term"
        )
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, delta_dir))
    )
    meta["data_dirs"] = meta["data_dirs"] + [delta_dir]
    sn.publish_meta(
        out_dir, meta, op="append", expect_snapshot_id=loaded_snapshot
    )
    return out_dir


def compact_position_table(
    spark,
    out_dir: str,
    max_doc_id: int | None = None,
    excluded: "np.ndarray | list[int] | None" = None,
    gc: bool = False,
) -> str:
    """Merge all positional delta dirs back into ONE base dir — the
    positional twin of :func:`tse_spark.plans.compact.compact_index`,
    sharing its contract exactly:

    - all data dirs re-encoded into ``data_base_v{N}``, re-sharded to
      ``ceil((max_doc_id+1)/num_shards)`` when ``max_doc_id`` is given
      (after many appends the delta docs sit above the base range and
      the original shard_range is too narrow), else the existing
      shard_range is kept;
    - ``excluded`` doc ids (the main index's tombstones, read before
      its own compact folds them) leave the position lists PHYSICALLY —
      this is how the positional sidecar is kept in lockstep with a
      ``delete_docs`` -> ``compact_index`` lifecycle on the main index;
    - crash-atomic: the versioned output dir is invisible until the
      snapshot-stamped meta publish (plans/snapshots.publish_meta,
      optimistic CAS on the loaded snapshot_id); a crash before it
      leaves the uncompacted table fully intact and a retry overwrites
      the same version dir.  Superseded dirs stay readable through
      their archived snapshots until ``gc=True`` removes them.

    Phrase/proximity serving is invariant (minus excluded docs):
    compaction moves postings between shards but positions, tfs and
    adjacency never change — pytest pins result-identity against a
    from-scratch rebuild over the survivors."""
    import json
    import shutil

    from tse_spark.plans import snapshots as sn

    meta_path = os.path.join(out_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    loaded_snapshot = int(meta.get("snapshot_id", 0))
    ex = None
    if excluded is not None and len(excluded):
        ex = np.unique(np.asarray(excluded, dtype=np.int64))
    if len(meta["data_dirs"]) == 1 and ex is None and max_doc_id is None:
        return out_dir  # steady state: nothing to fold

    num_shards = int(meta["num_shards"])
    new_range = (
        max(1, -(-(int(max_doc_id) + 1) // num_shards))
        if max_doc_id is not None
        else int(meta["shard_range"])
    )
    version = int(meta.get("compact_version", 0)) + 1
    data_out = f"data_base_v{version}"
    old_rows = load_position_table(spark, out_dir)
    (
        reencode_position_shards(old_rows, new_range, excluded=ex)
        .repartitionByRange(num_shards, "term")
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, data_out))
    )
    old_dirs = list(meta["data_dirs"])
    meta["data_dirs"] = [data_out]
    meta["shard_range"] = new_range
    meta["compact_version"] = version
    entry: dict = {"version": version, "merged_dirs": old_dirs}
    if ex is not None:
        entry["folded_tombstones"] = int(len(ex))
    meta.setdefault("compactions", []).append(entry)
    sn.publish_meta(
        out_dir, meta, op="compact", expect_snapshot_id=loaded_snapshot
    )
    if gc:
        for d in old_dirs:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return out_dir


def merge_position_tables(
    spark,
    dir_a: str,
    dir_b: str,
    out_dir: str,
    shift: int,
    max_doc_id: int,
    num_shards: int | None = None,
) -> str:
    """Cross-segment merge of two positional tables — the positional
    twin of :func:`tse_spark.plans.merge.merge_indexes`, run in
    LOCKSTEP with it: ``shift`` MUST be the main merge's doc-id lift
    (max_doc_id(A) + 1) so phrase serving and BM25 serving agree on
    every id.  Segment A's rows pass through unshifted, B's carry an
    ``id_shift`` column into the shared re-encode kernel; positions
    are doc-relative and never change.  Publishes ``out_dir`` as an
    op="merge" snapshot v1 with a uniform merged shard grid.

    Preconditions mirror the main merge: same tokenizer, and a fresh
    out_dir (a populated one is a loud error)."""
    import json

    from tse_spark.plans import snapshots as sn

    if os.path.exists(os.path.join(out_dir, "meta.json")):
        raise ValueError(
            f"merge_position_tables: {out_dir} already holds a "
            "published table; choose a fresh out_dir"
        )
    with open(os.path.join(dir_a, "meta.json")) as f:
        ma = json.load(f)
    with open(os.path.join(dir_b, "meta.json")) as f:
        mb = json.load(f)
    ta = ma.get("tokenizer", "whitespace_lower")
    tb = mb.get("tokenizer", "whitespace_lower")
    if ta != tb:
        raise ValueError(
            f"merge_position_tables: tokenizer mismatch ({ta} != {tb})"
        )
    n_sh = num_shards or max(
        int(ma.get("num_shards", 32)), int(mb.get("num_shards", 32))
    )
    new_range = max(1, -(-(int(max_doc_id) + 1) // n_sh))
    rows_a = load_position_table(spark, dir_a).withColumn(
        "id_shift", F.lit(0).cast("long")
    )
    rows_b = load_position_table(spark, dir_b).withColumn(
        "id_shift", F.lit(int(shift)).cast("long")
    )
    os.makedirs(out_dir, exist_ok=True)
    (
        reencode_position_shards(rows_a.unionByName(rows_b), new_range)
        .repartitionByRange(n_sh, "term")
        .sortWithinPartitions("term", "shard")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "data"))
    )
    meta = {
        "kind": "positional",
        "n_docs": int(ma.get("n_docs", 0)) + int(mb.get("n_docs", 0)),
        "num_shards": n_sh,
        "shard_range": new_range,
        "tokenizer": ta,
        "data_dirs": ["data"],
        "merged_from": [
            {"dir": dir_a, "shift": 0},
            {"dir": dir_b, "shift": int(shift)},
        ],
    }
    sn.publish_meta(out_dir, meta, op="merge")
    return out_dir


def load_position_table(
    spark, out_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """Union-of-dirs read of a persisted positional index; per-dir
    scans keep file skipping working independently under each root.
    ``snapshot_id`` time-travels to an archived state (the table
    commits through the same snapshot log as the main index —
    maintenance only ever writes NEW versioned dirs, so superseded
    states stay complete on disk until gc'd)."""
    import json
    from functools import reduce

    meta_src = (
        os.path.join(out_dir, "snapshots", f"v{snapshot_id}.json")
        if snapshot_id is not None
        else os.path.join(out_dir, "meta.json")
    )
    with open(meta_src) as f:
        meta = json.load(f)
    return reduce(
        DataFrame.unionByName,
        (
            spark.read.parquet(os.path.join(out_dir, d))
            for d in meta["data_dirs"]
        ),
    )


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------

def _minus_excluded(df: DataFrame, excluded: "DataFrame | None") -> DataFrame:
    """Drop tombstoned docs (plans/delete.py load_tombstones) from a
    per-doc result relation: a broadcast anti-join on the small deleted
    set.  The positional index is a separate table from the posting
    shards, so deletion masking is applied at its serving edge (and
    compaction/rebuild of the position table removes them physically);
    crucially phrase_snippet_topk masks BEFORE its top-k cut so a
    deleted doc can never displace a surviving result."""
    if excluded is None:
        return df
    return df.join(
        F.broadcast(excluded.select("doc_id")), "doc_id", "left_anti"
    )


def phrase_match_positional(
    pos_shards: DataFrame, phrase: str,
    excluded: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, n_hits) for the exact token-adjacent phrase, answered
    from position lists alone.  Result-identical to
    :func:`textops.phrase_match` (shared oracle).

    Plan: pushed-down ``term IN (phrase words)`` on the shard table
    (partition/bucket pruning when stored by term), then a per-shard
    vectorized intersect: each posting's (doc, pos) packs into one
    int64 key ``doc * 2^32 + pos``; phrase starts are the survivors of
    ``keys(word_0) + i ∈ keys(word_i)`` for every following word —
    sorted-array membership via searchsorted, no per-doc loop.  Shards
    are disjoint doc ranges, so per-executor work is that shard's
    posting mass for the phrase terms only."""
    from tse_spark.operators.textops import _phrase_words

    words = _phrase_words(phrase)
    uniq_words = sorted(set(words))
    sub = pos_shards.filter(F.col("term").isin(uniq_words))
    schema = "doc_id long, n_hits long"
    n_words = len(words)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "n_hits": []}).astype(
            {"doc_id": "int64", "n_hits": "int64"}
        )
        keys_by_word: dict[str, np.ndarray] = {}
        for w in uniq_words:
            blobs = pdf.loc[pdf["term"] == w, "blocks"]
            if blobs.empty:
                return empty  # word absent from this shard: no match
            parts = []
            for blob in blobs:
                docs, cnts, posflat = decode_positions(bytes(blob))
                parts.append(
                    np.repeat(docs, cnts) * _STRIDE + posflat
                )
            keys = np.concatenate(parts)
            keys.sort()
            keys_by_word[w] = keys
        surv = keys_by_word[words[0]]
        for i in range(1, n_words):
            k = keys_by_word[words[i]]
            t = surv + np.int64(i)
            idx = np.searchsorted(k, t)
            ok = idx < k.size
            ok[ok] = k[idx[ok]] == t[ok]
            surv = surv[ok]
            if surv.size == 0:
                return empty
        doc_ids, n_hits = np.unique(surv // _STRIDE, return_counts=True)
        return pd.DataFrame(
            {"doc_id": doc_ids, "n_hits": n_hits.astype(np.int64)}
        )

    return _minus_excluded(
        sub.groupBy("shard").applyInPandas(match, schema), excluded
    )


def phrase_first_hit(
    pos_shards: DataFrame, phrase: str,
    excluded: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, n_hits, first_pos): :func:`phrase_match_positional`
    plus the 0-based token position of the FIRST occurrence — the
    anchor a snippet generator needs, still answered from position
    lists alone.  Survivor keys are ascending, so each doc's first
    occurrence is its first key (np.unique's return_index)."""
    from tse_spark.operators.textops import _phrase_words

    words = _phrase_words(phrase)
    uniq_words = sorted(set(words))
    sub = pos_shards.filter(F.col("term").isin(uniq_words))
    schema = "doc_id long, n_hits long, first_pos long"
    n_words = len(words)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": [], "n_hits": [], "first_pos": []}
        ).astype("int64")
        keys_by_word: dict[str, np.ndarray] = {}
        for w in uniq_words:
            blobs = pdf.loc[pdf["term"] == w, "blocks"]
            if blobs.empty:
                return empty
            parts = []
            for blob in blobs:
                docs, cnts, posflat = decode_positions(bytes(blob))
                parts.append(np.repeat(docs, cnts) * _STRIDE + posflat)
            keys = np.concatenate(parts)
            keys.sort()
            keys_by_word[w] = keys
        surv = keys_by_word[words[0]]
        for i in range(1, n_words):
            k = keys_by_word[words[i]]
            t = surv + np.int64(i)
            idx = np.searchsorted(k, t)
            ok = idx < k.size
            ok[ok] = k[idx[ok]] == t[ok]
            surv = surv[ok]
            if surv.size == 0:
                return empty
        doc_ids, first_idx, n_hits = np.unique(
            surv // _STRIDE, return_index=True, return_counts=True
        )
        return pd.DataFrame(
            {
                "doc_id": doc_ids,
                "n_hits": n_hits.astype(np.int64),
                "first_pos": surv[first_idx] % _STRIDE,
            }
        )

    return _minus_excluded(
        sub.groupBy("shard").applyInPandas(match, schema), excluded
    )


def phrase_snippet_topk(
    pos_shards: DataFrame,
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    context: int = 2,
    text_col: str = "text",
    excluded: "DataFrame | None" = None,
) -> DataFrame:
    """Quoted-query SERVING end to end: rank matching docs from the
    positional index alone (n_hits desc, doc_id tiebreak), then join
    document text ONLY for the top-k to render a snippet of the phrase
    plus ``context`` following tokens at the first hit.  This is the
    shape a 10^12-doc engine must have — the (huge) docs table is
    touched for exactly one page of results, via a broadcast semi-join
    of k ids into the scan."""
    from tse_spark.operators.textops import _phrase_words

    n_words = len(_phrase_words(phrase))
    top = (
        phrase_first_hit(pos_shards, phrase, excluded=excluded)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: F.octet_length(t) > 0,
    )
    snippet = F.array_join(
        F.slice(arr, F.col("first_pos") + 1, n_words + context), " "
    )
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select("doc_id", "n_hits", "first_pos", snippet.alias("snippet"))
    )


def proximity_count(
    pos_shards: DataFrame, w0: str, w1: str, window: int,
    excluded: "DataFrame | None" = None,
) -> DataFrame:
    """(doc_id, n_pairs): ordered co-occurrence counts — pairs of
    positions (i, j) with ``w0`` at i, ``w1`` at j and ``0 < j - i <=
    window`` — answered from position lists alone (the proximity
    operator behind NEAR queries and phrase-slop ranking features).

    Same serving shape as :func:`phrase_match_positional`: pushed-down
    ``term IN (w0, w1)``, then per shard a vectorized range count over
    the packed (doc, pos) keys — for every w0 key k, the number of w1
    keys in (k, k + window] is one searchsorted subtraction; the pack
    stride (2^32) exceeds any document's token count, so a range never
    leaks across doc boundaries."""
    sub = pos_shards.filter(F.col("term").isin(list({w0, w1})))
    schema = "doc_id long, n_pairs long"
    win = np.int64(window)

    def count(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "n_pairs": []}).astype(
            {"doc_id": "int64", "n_pairs": "int64"}
        )
        keys: dict[str, np.ndarray] = {}
        for w in {w0, w1}:
            blobs = pdf.loc[pdf["term"] == w, "blocks"]
            if blobs.empty:
                return empty
            parts = []
            for blob in blobs:
                docs, cnts, posflat = decode_positions(bytes(blob))
                parts.append(np.repeat(docs, cnts) * _STRIDE + posflat)
            k = np.concatenate(parts)
            k.sort()
            keys[w] = k
        k0, k1 = keys[w0], keys[w1]
        per_k = (
            np.searchsorted(k1, k0 + win, side="right")
            - np.searchsorted(k1, k0, side="right")
        ).astype(np.int64)
        hit = per_k > 0
        doc_ids, inv = np.unique(k0[hit] // _STRIDE, return_inverse=True)
        if doc_ids.size == 0:
            return empty
        n_pairs = np.bincount(inv, weights=per_k[hit]).astype(np.int64)
        return pd.DataFrame({"doc_id": doc_ids, "n_pairs": n_pairs})

    return _minus_excluded(
        sub.groupBy("shard").applyInPandas(count, schema), excluded
    )


def phrase_match_slop(
    pos_shards: DataFrame,
    phrase: str,
    slop: int = 0,
    excluded: "DataFrame | None" = None,
) -> DataFrame:
    """Ordered sloppy-phrase matching from position lists (the
    ``"w1 w2"~N``-style query): the phrase words must appear IN ORDER
    with at most ``slop`` interloping tokens between each consecutive
    pair.  ``n_hits`` counts chain END positions per doc (the number of
    distinct completions); ``slop=0`` reduces exactly to
    :func:`phrase_match_positional`'s adjacency law on distinct-word
    phrases.

    Vectorized reachability DP, not chain enumeration (whose count is
    combinatorial): R_0 = positions of word_0; R_i = positions p of
    word_i with ANY q in R_{i-1} inside [p-1-slop, p-1] — two
    searchsorted probes per word over sorted (doc*2^32+pos) keys; the
    doc-range window never crosses a doc boundary because a doc's key
    block spans far less than 2^32.  Same pushed-down term IN +
    per-shard Arrow UDF shape as the exact matcher; shards are
    disjoint doc ranges so the DP is shard-local.
    """
    from tse_spark.operators.textops import _phrase_words

    words = _phrase_words(phrase)
    uniq_words = sorted(set(words))
    sub = pos_shards.filter(F.col("term").isin(uniq_words))
    schema = "doc_id long, n_hits long"
    n_words = len(words)
    w = np.int64(1 + int(slop))

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "n_hits": []}).astype(
            {"doc_id": "int64", "n_hits": "int64"}
        )
        keys_by_word: dict[str, np.ndarray] = {}
        for word in uniq_words:
            blobs = pdf.loc[pdf["term"] == word, "blocks"]
            if blobs.empty:
                return empty
            parts = []
            for blob in blobs:
                docs, cnts, posflat = decode_positions(bytes(blob))
                parts.append(np.repeat(docs, cnts) * _STRIDE + posflat)
            keys = np.concatenate(parts)
            keys.sort()
            keys_by_word[word] = keys
        reach = keys_by_word[words[0]]
        for i in range(1, n_words):
            k = keys_by_word[words[i]]
            # p reachable iff any q in reach with p-1-slop <= q <= p-1
            lo = np.searchsorted(reach, k - w)
            hi = np.searchsorted(reach, k, side="left")
            reach = k[hi > lo]
            if reach.size == 0:
                return empty
        doc_ids, n_hits = np.unique(reach // _STRIDE, return_counts=True)
        return pd.DataFrame(
            {"doc_id": doc_ids, "n_hits": n_hits.astype(np.int64)}
        )

    return _minus_excluded(
        sub.groupBy("shard").applyInPandas(match, schema), excluded
    )


def passage_tf_positional(
    pos_shards: DataFrame,
    terms: "list[str]",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(term, doc_id, start_tok, tf) per passage WINDOW of the query
    terms, answered from position lists alone — no document text.

    The chunk law (textops.chunk_documents) windows the SAME 0-based
    token sequence positions index, so a position p lies in window
    start s iff ``s <= p < s + chunk_tokens`` with s a stride
    multiple: per occurrence that is ``ceil(chunk/stride)`` candidate
    starts, generated and counted vectorized (packed doc*2^32 + s
    keys through one np.unique per shard).  Tail-window validity is
    NOT decided here — the caller joins the passage-stats sidecar,
    which only carries valid windows, exactly like tombstone masking.
    Per-shard work is the query terms' posting mass only (pushed-down
    term IN on the term-laid-out shard table).

    The position index stores every whitespace token, but passages
    score only 2..8-byte terms (textops.passage_bm25_topk's eligibility
    law), so a query term outside that range is dropped before the
    probe and contributes no windows."""
    from tse_spark import oracle

    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be < chunk_tokens")
    n_cand = -(-chunk_tokens // stride)
    lo, hi = oracle.MIN_TERM_BYTES, oracle.MAX_TERM_BYTES
    uniq = sorted(t for t in set(terms) if lo <= len(t.encode("utf-8")) <= hi)
    sub = pos_shards.filter(F.col("term").isin(uniq))
    schema = "term string, doc_id long, start_tok long, tf long"

    def expand(pdf: pd.DataFrame) -> pd.DataFrame:
        out_t: list = []
        out_d: list = []
        out_s: list = []
        out_c: list = []
        for w in uniq:
            blobs = pdf.loc[pdf["term"] == w, "blocks"]
            if blobs.empty:
                continue
            parts = []
            for blob in blobs:
                docs, cnts, posflat = decode_positions(bytes(blob))
                parts.append(
                    (np.repeat(docs, cnts), posflat.astype(np.int64))
                )
            doc = np.concatenate([d for d, _ in parts])
            pos = np.concatenate([p for _, p in parts])
            s1 = (pos // stride) * stride
            keys = []
            for i in range(n_cand):
                s = s1 - np.int64(i * stride)
                ok = (s >= 0) & (pos < s + np.int64(chunk_tokens))
                keys.append(doc[ok] * _STRIDE + s[ok])
            allk = np.concatenate(keys) if keys else np.empty(0, np.int64)
            if not allk.size:
                continue
            uk, tf = np.unique(allk, return_counts=True)
            out_t.append(np.full(uk.size, w, dtype=object))
            out_d.append(uk // _STRIDE)
            out_s.append(uk % _STRIDE)
            out_c.append(tf.astype(np.int64))
        if not out_t:
            return pd.DataFrame(
                {"term": [], "doc_id": [], "start_tok": [], "tf": []}
            ).astype(
                {"term": "object", "doc_id": "int64",
                 "start_tok": "int64", "tf": "int64"}
            )
        return pd.DataFrame(
            {
                "term": np.concatenate(out_t),
                "doc_id": np.concatenate(out_d),
                "start_tok": np.concatenate(out_s),
                "tf": np.concatenate(out_c),
            }
        )

    return sub.groupBy("shard").applyInPandas(expand, schema)


def passage_bm25_topk_indexed(
    pos_shards: DataFrame,
    passage_stats: DataFrame,
    terms: "list[str]",
    k: int = 10,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Passage-level BM25 served from the POSITIONAL index + the
    passage-stats sidecar (textops.build_passage_stats) — document
    text is never fetched or re-tokenized.  Result-identical to
    textops.passage_bm25_topk (shared oracle): same window law, same
    passage-local stats, same k1/b.

    Plan: query-term windows from :func:`passage_tf_positional`
    (posting mass of the query terms only), joined to the sidecar for
    dl + tail-validity, N/avgdl from one 1-row sidecar aggregate
    (precompute into the sidecar meta at build time on a real
    deployment), df per term a |terms|-row aggregate, final score agg
    + TakeOrderedAndProject.  Nothing corpus-sized moves: at 10^12
    docs the sidecar join co-partitions when the sidecar is written
    doc-range-bucketed beside the shards."""
    from tse_spark import oracle

    tfw = passage_tf_positional(pos_shards, terms, chunk_tokens, overlap)
    j = tfw.join(passage_stats, ["doc_id", "start_tok"])
    stats = passage_stats.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
    )
    dfreq = j.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = oracle.BM25_K1, oracle.BM25_B
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    s = (
        idf
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl"))
        )
    )
    stride = chunk_tokens - overlap
    return (
        j.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "start_tok")
        .agg(F.sum(s).alias("__s"))
        .select(
            "doc_id",
            # chunk ids are dense stride ordinals (doc_chunks law), so
            # the indexed result carries the same columns as the
            # scan-side scorer and the oracle is shared verbatim
            (F.col("start_tok") / F.lit(stride))
            .cast("long")
            .alias("chunk_id"),
            "start_tok",
            F.round("__s", 4).alias("score"),
        )
        .orderBy(F.desc("__s"), "doc_id", "start_tok")
        .limit(k)
    )
