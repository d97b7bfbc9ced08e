"""Posting-list codec: one self-delimiting varint run per posting row.

Replaces the reference's ASCII posting lines (``term \\t docid docid ...``,
index/CrtInvertedIdx.cpp:29-47, format MyNotes.txt:8-10) with a
compressed binary run:

  shard row = (term, shard, df, cf, blocks: binary)

``blocks`` holds ONE run of LEB128 varints and nothing else:

  n, first_doc, (n - 1 doc-id gaps), (n tfs), (n doc lengths)

- n >= 1 and postings are doc_id-ascending, so every gap is >= 0;
- the run is self-delimiting (n says where it ends), so runs
  concatenated in shard order decode in ONE call to the concatenated
  postings — the driver fetch (search._term_entries) and every merge
  rely on that;
- doc lengths ride inline so scoring needs no join at query time;
- nothing in a run depends on corpus statistics (no score bound), so
  appends, compactions and merges never encode against an avgdl.

The layout is named by :data:`POSTING_FORMAT`, which every published
meta.json carries; :func:`check_format` refuses an index written in
another layout instead of mis-decoding it.

Encode and decode are numpy-vectorized over a whole batch of runs:
encode scatters 7-bit groups level by level, decode delimits values on
continuation bits and accumulates level by level.  Python loops run
once per varint byte level, plus once per run to slice the encoded
bytes and to walk the run headers on decode — never per posting.
"""

from __future__ import annotations

import numpy as np

POSTING_FORMAT = "varint-run-1"


def check_format(meta: dict, out_dir: str) -> None:
    """Refuse an index whose posting rows are not :data:`POSTING_FORMAT`
    runs (older indexes carry no marker)."""
    fmt = meta.get("posting_format")
    if fmt != POSTING_FORMAT:
        raise ValueError(
            f"{out_dir}: posting format {fmt!r} is not {POSTING_FORMAT!r}; "
            "this index was written by an older codec — rebuild it"
        )


# ---------------------------------------------------------------------------
# vectorized varint
# ---------------------------------------------------------------------------

def _varint_encode_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative int64 array, vectorized.
    Returns (byte array, per-value byte counts) so callers can slice the
    stream at arbitrary value boundaries without re-encoding."""
    v = values.astype(np.uint64, copy=True)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    max_len = int(nbytes.max())
    for j in range(max_len):
        mask = nbytes > j
        idx = offsets[:-1][mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int64 array, vectorized."""
    out, _ = _varint_encode_sizes(values)
    return out.tobytes()


def _varint_values(buf) -> np.ndarray:
    """Every LEB128 varint in ``buf`` as int64; raises ValueError when
    the last varint is cut off or one is longer than 10 bytes."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.int64)
    if b[-1] & 0x80:
        raise ValueError("varint stream ends inside a varint (truncated)")
    ends = np.flatnonzero(b < 0x80)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if int(lengths.max()) > 10:
        raise ValueError("varint longer than 10 bytes")
    vals = (b[starts] & 0x7F).astype(np.uint64)
    idx = np.flatnonzero(lengths > 1)
    j = 1
    while idx.size:
        byte = b[starts[idx] + j] & 0x7F
        vals[idx] |= byte.astype(np.uint64) << np.uint64(7 * j)
        j += 1
        idx = idx[lengths[idx] > j]
    return vals.view(np.int64)


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode exactly ``count`` LEB128 varints from ``buf`` (consuming
    all of it); raises ValueError on any other count."""
    vals = _varint_values(buf)
    if vals.size != count:
        raise ValueError(f"varint count mismatch: {vals.size} != {count}")
    return vals


# ---------------------------------------------------------------------------
# posting runs
# ---------------------------------------------------------------------------

def encode_many(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_bounds: np.ndarray,
) -> list[bytes]:
    """Encode MANY posting runs in one vectorized pass -> one blob per
    run.

    ``group_bounds`` delimits the runs (len = n_runs + 1); every run
    must be non-empty and doc_id-ascending.  The runs' values are laid
    out in one int64 array and varint-encoded by ONE call; the only
    Python loop slices the result, once per run."""
    bounds = np.asarray(group_bounds, dtype=np.int64)
    counts = np.diff(bounds)
    if counts.size == 0:
        return []
    if int(counts.min()) < 1:
        raise ValueError("encode_many: empty posting run")
    starts = bounds[:-1]
    n_runs = counts.size
    n = int(bounds[-1])
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gaps[starts] = doc_ids[starts]
    # run r starts at value 3*starts[r] + r: its n, then the doc
    # section, then tfs and dls n values further each
    heads = 3 * starts + np.arange(n_runs)
    vals = np.empty(3 * n + n_runs, dtype=np.int64)
    vals[heads] = counts
    run_n = np.repeat(counts, counts)
    doc_at = np.arange(n) + np.repeat(heads + 1 - starts, counts)
    vals[doc_at] = gaps
    vals[doc_at + run_n] = tfs
    vals[doc_at + 2 * run_n] = dls
    if int(vals.min()) < 0:
        raise ValueError(
            "encode_many: doc ids must ascend within a run and "
            "tfs/dls must be non-negative"
        )
    out, sizes = _varint_encode_sizes(vals)
    offs = np.concatenate(([0], np.cumsum(sizes)))[
        np.append(heads, vals.size)
    ].tolist()
    data = out.tobytes()
    return [data[a:b] for a, b in zip(offs[:-1], offs[1:])]


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> bytes:
    """Encode one non-empty posting run (sorts by doc_id)."""
    order = np.argsort(doc_ids, kind="stable")
    bounds = np.array([0, doc_ids.size], dtype=np.int64)
    return encode_many(doc_ids[order], tfs[order], dls[order], bounds)[0]


def _decode_runs(buf):
    """-> (doc_ids, tfs, dls, per-run counts) of every run in ``buf``.
    Raises ValueError on a truncated run, trailing bytes or n < 1."""
    vals = _varint_values(buf)
    heads = []
    i, total = 0, vals.size
    # the one sequential step: each run's n locates the next run
    while i < total:
        n = int(vals[i])
        if n < 1:
            raise ValueError(f"posting run with n = {n}")
        heads.append(i)
        i += 3 * n + 1
    if i != total:
        raise ValueError("posting run is truncated or has trailing bytes")
    heads = np.array(heads, dtype=np.int64)
    counts = vals[heads]
    run_n = np.repeat(counts, counts)
    pstart = np.cumsum(counts) - counts
    doc_at = np.arange(int(counts.sum())) + np.repeat(
        heads + 1 - pstart, counts
    )
    gaps = vals[doc_at].view(np.uint64)
    tfs = vals[doc_at + run_n]
    dls = vals[doc_at + 2 * run_n]
    # per-run prefix sums; uint64 wrap-around keeps the differences
    # exact however large the cross-run running total gets
    c = np.cumsum(gaps)
    docs = c - np.repeat(c[pstart] - gaps[pstart], counts)
    return docs.view(np.int64), tfs, dls, counts


def decode_all(blob):
    """Decode every run in ``blob`` -> (doc_ids, tfs, dls), the runs'
    postings concatenated in blob order."""
    docs, tfs, dls, _ = _decode_runs(blob)
    return docs, tfs, dls


def decode_rows(blobs, dfs):
    """Decode posting rows (one run per blob) -> (doc_ids, tfs, dls)
    concatenated, after checking every run's n against its row's df:
    callers label postings with ``np.repeat(rows, dfs)``, which a
    blob that disagrees with its df would silently shift."""
    docs, tfs, dls, counts = _decode_runs(b"".join(blobs))
    dfs = np.asarray(dfs, dtype=np.int64)
    if not np.array_equal(counts, dfs):
        raise ValueError(
            f"posting rows disagree with their df: {counts.size} runs "
            f"for {dfs.size} rows, or a run's n differs from its df"
        )
    return docs, tfs, dls
