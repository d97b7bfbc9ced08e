"""Salted (doc-range-sharded) compressed posting build.

North_rule topology: salted range-partition-by-term -> vectorized codec
UDF -> term-clustered posting files.  The salt is the *doc-id range
shard* (``shard = doc_id div shard_range``), which

- spreads a hot term ("的" at web scale) across all shards — the skew
  fix called out in SURVEY.md §4;
- keeps each (term, shard) run doc-id-contiguous and disjoint, so
  shard-level QUERY results compose exactly (per-shard top-k union);
  the build merges map-side partial runs per (term, shard) with a
  decode + re-encode (vectorized; partial doc ranges may interleave);
- makes query serving embarrassingly parallel: top-k per shard over
  disjoint doc ranges, then a global top-k.

Output tables:
  postings(term, shard, df, cf, blocks binary) — ``blocks`` is one
                       varint run (operators/codec.py)
  term_stats(term, df, cf)    — global df for idf
  corpus meta (n_docs, avgdl) — JSON, written by the pipeline
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window, functions as F

from tse_spark.operators import codec

POSTINGS_SCHEMA = "term string, shard long, df long, cf long, blocks binary"
# map-side partial runs carry only what the merge reads: df (decode
# check), first_doc (sort order) and the blob; cf is recomputed from
# the merged postings
PARTIAL_SCHEMA = (
    "term string, shard long, df long, first_doc long, blocks binary"
)


def with_doclen(tf: DataFrame) -> DataFrame:
    """Attach dl (sum of tf per doc) to each (doc_id, term, tf) row via a
    doc-partitioned window — one shuffle on doc_id, no separate join."""
    w = Window.partitionBy("doc_id")
    return tf.withColumn("dl", F.sum("tf").over(w))


def shard_of(doc_id_col, shard_range: int):
    return (doc_id_col / F.lit(shard_range)).cast("long")


def build_posting_shards(
    tf_dl: DataFrame,
    n_docs: int,
    num_shards: int = 32,
    merge_parallelism: int | None = None,
    shard_range: int | None = None,
) -> DataFrame:
    """(doc_id, term, tf, dl) -> compressed posting shards, in two
    vectorized phases:

    1. **map-side combine**: each scan batch is locally sorted and every
       (term, shard) run is encoded into a PARTIAL run blob before the
       exchange — the shuffle then moves one row per (term, shard,
       batch) instead of one per (doc, term), cutting shuffle rows by
       ~the average per-partition df;
    2. **sorted-merge combine**: range-partition the partials by
       (term, shard) (the salt — a hot term's shards may still split
       across tasks at a range boundary), sort, and a streaming
       mapInPandas merges each group's partials into the final
       delta-gap varint run.

    mapInPandas (not applyInPandas) throughout: a web-scale vocabulary
    yields millions of tiny groups and applyInPandas pays per-group
    pandas overhead; the streaming encoders amortize it across whole
    Arrow batches, carrying runs that span batch boundaries.
    """
    if shard_range is None:
        shard_range = max(1, math.ceil(n_docs / num_shards))
    else:
        # index-append path: the delta must use the ORIGINAL build's
        # doc-range width so its (term, shard) rows stay disjoint from
        # (and composable with) the existing shards
        shard_range = max(1, int(shard_range))
    doc_major = "terms" in tf_dl.columns
    if doc_major:
        # document-major input (doc_id, dl, terms[], tfs[]): Arrow moves
        # one row per DOC with plain list buffers; flattening happens in
        # numpy inside the encoder (np.repeat + concatenate)
        t = tf_dl.select("doc_id", "dl", "terms", "tfs")
    else:
        t = tf_dl.withColumn("shard", shard_of(F.col("doc_id"), shard_range))

    # ---- map side: partial posting runs per (term, shard) per batch ----
    # The raw tf relation is one row per (doc, term): shuffling it raw
    # moves tens of millions of tiny rows.  Encoding PARTIAL runs before
    # the exchange (map-side combine) cuts shuffle rows by ~the average
    # per-partition df and moves the codec work to the scan side, which
    # is CPU-bound and scales with cores.
    # Accumulate scan batches to this many rows before sorting/encoding:
    # a lone Arrow batch (~10k rows ~ 80 docs) holds ~1 row per TAIL
    # (term, shard) group, so per-group encode overhead would dominate
    # and the shuffle would barely shrink.  ~500k rows (~20 MB of ints +
    # short strings) spans thousands of docs, giving tail terms real
    # runs while bounding worker memory.
    ACC_ROWS = 500_000

    import pyarrow as pa
    import pyarrow.compute as pc

    _partial_pa_schema = pa.schema(
        [
            ("term", pa.string()),
            ("shard", pa.int64()),
            ("df", pa.int64()),
            ("first_doc", pa.int64()),
            ("blocks", pa.binary()),
        ]
    )

    def _encode_chunk_arrow(tbl: "pa.Table") -> "pa.RecordBatch":
        """Doc-major chunk encoder operating on Arrow buffers directly:
        term strings NEVER materialize as Python objects (profiled as
        ~5x the cost of the varint codec itself, and the allocator
        pressure of millions of small PyObjects is what killed the
        stage's core-scaling) — flattening is zero-copy, grouping uses
        pyarrow's C++ dictionary_encode, and only the one term string
        per (term, shard) GROUP is ever materialized."""
        doc = tbl.column("doc_id").to_numpy()
        dl = tbl.column("dl").to_numpy()
        terms_col = tbl.column("terms").combine_chunks()
        tfs_col = tbl.column("tfs").combine_chunks()
        lens = terms_col.value_lengths().to_numpy()
        flat_terms = terms_col.flatten()
        tfs = tfs_col.flatten().to_numpy()
        if len(flat_terms) == 0:
            # a chunk of zero-term docs only (junk/empty pages): no
            # posting rows; indexing an empty dictionary would raise
            return pa.RecordBatch.from_pylist([], schema=_partial_pa_schema)
        docs = np.repeat(doc, lens)
        dls = np.repeat(dl, lens)
        shards = docs // shard_range
        denc = pc.dictionary_encode(flat_terms)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes = denc.indices.to_numpy().astype(np.int64, copy=False)
        dictionary = denc.dictionary
        order = np.lexsort((docs, shards, codes))
        codes = codes[order]
        shards_o = shards[order]
        docs_o = docs[order]
        tfs_o = tfs[order]
        dls_o = dls[order]
        change = np.flatnonzero(
            (codes[1:] != codes[:-1]) | (shards_o[1:] != shards_o[:-1])
        )
        bounds = np.concatenate(([0], change + 1, [len(codes)]))
        blobs = codec.encode_many(docs_o, tfs_o, dls_o, bounds)
        starts = bounds[:-1]
        group_terms = pc.take(dictionary, pa.array(codes[starts]))
        return pa.RecordBatch.from_arrays(
            [
                group_terms.cast(pa.string()),
                pa.array(shards_o[starts], type=pa.int64()),
                pa.array(np.diff(bounds), type=pa.int64()),
                pa.array(docs_o[starts], type=pa.int64()),
                pa.array(blobs, type=pa.binary()),
            ],
            names=["term", "shard", "df", "first_doc", "blocks"],
        )

    def _encode_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        # group locally by integer term codes (hash factorize), not by
        # the term strings — lexsort on half a million python strings
        # costs more than the encoding itself
        codes, _ = pd.factorize(pdf["term"], sort=False)
        order = np.lexsort(
            (
                pdf["doc_id"].to_numpy(),
                pdf["shard"].to_numpy(),
                codes,
            )
        )
        codes = codes[order]
        terms = pdf["term"].to_numpy(dtype=object)[order]
        shards = pdf["shard"].to_numpy(dtype=np.int64)[order]
        docs = pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        tfs = pdf["tf"].to_numpy(dtype=np.int64)[order]
        dls = pdf["dl"].to_numpy(dtype=np.int64)[order]
        change = np.flatnonzero(
            (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
        )
        bounds = np.concatenate(([0], change + 1, [len(terms)]))
        blobs = codec.encode_many(docs, tfs, dls, bounds)
        starts = bounds[:-1]
        return pd.DataFrame(
            {
                "term": terms[starts],
                "shard": shards[starts],
                "df": np.diff(bounds),
                "first_doc": docs[starts],
                "blocks": blobs,
            }
        )

    # doc-major rows each hold ~avgdl/2 postings, so far fewer rows
    # reach the same posting count per chunk
    acc_target = max(ACC_ROWS // 128, 1024) if doc_major else ACC_ROWS

    if doc_major:
        # Arrow-native path (mapInArrow): Arrow batches accumulate and
        # encode without ever converting term strings to Python objects
        def encode_map_arrow(batches):
            acc: list = []
            n = 0
            for b in batches:
                if b.num_rows == 0:
                    continue
                acc.append(b)
                n += b.num_rows
                if n >= acc_target:
                    yield _encode_chunk_arrow(pa.Table.from_batches(acc))
                    acc, n = [], 0
            if acc:
                yield _encode_chunk_arrow(pa.Table.from_batches(acc))

        partials = t.mapInArrow(encode_map_arrow, schema=PARTIAL_SCHEMA)
    else:

        def encode_map(it):
            acc: list[pd.DataFrame] = []
            n = 0
            for pdf in it:
                if len(pdf) == 0:
                    continue
                acc.append(pdf)
                n += len(pdf)
                if n >= acc_target:
                    yield _encode_chunk(pd.concat(acc, ignore_index=True))
                    acc, n = [], 0
            if acc:
                yield _encode_chunk(pd.concat(acc, ignore_index=True))

        partials = t.mapInPandas(encode_map, schema=PARTIAL_SCHEMA)

    # ---- reduce side: merge partial runs per (term, shard) ----
    # merge granularity: default 4 tasks per core — finer tasks shrink
    # the straggler tail (one slow reducer then costs 1/4N of the stage,
    # not 1/N) at negligible shuffle cost; (term, shard) groups vastly
    # outnumber partitions either way
    num_parts = merge_parallelism or (
        tf_dl.sparkSession.sparkContext.defaultParallelism * 4
    )
    return merge_partials(partials, num_parts)


def _merge_groups(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge partial runs: ONE batched decode of every partial blob in
    the frame, a per-group re-sort (partial doc ranges from different
    map partitions can interleave — input splits mix bucket files — so
    blind concat is not valid), ONE batched re-encode."""
    terms = pdf["term"].to_numpy(dtype=object)
    shards = pdf["shard"].to_numpy(dtype=np.int64)
    change = np.flatnonzero(
        (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
    )
    pbounds = np.concatenate(([0], change + 1, [len(pdf)]))
    dfs = pdf["df"].to_numpy(dtype=np.int64)
    docs, tfs, dls = codec.decode_rows(pdf["blocks"], dfs)
    # row-level group bounds = cumulative partial dfs at group edges
    row_cum = np.concatenate(([0], np.cumsum(dfs)))
    bounds = row_cum[pbounds]
    counts = np.diff(bounds)
    gidx = np.repeat(np.arange(len(counts)), counts)
    order = np.lexsort((docs, gidx))
    docs, tfs, dls = docs[order], tfs[order], dls[order]
    starts = pbounds[:-1]
    return pd.DataFrame(
        {
            "term": terms[starts],
            "shard": shards[starts],
            "df": counts,
            "cf": np.add.reduceat(tfs, bounds[:-1]),
            "blocks": codec.encode_many(docs, tfs, dls, bounds),
        }
    )


def _merge_stream(it):
    """Streaming (term, shard)-group merger over sorted partial-run rows
    — shared by the initial build and the compaction re-encode path."""
    buf: pd.DataFrame | None = None
    for pdf in it:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        last_t = pdf["term"].iloc[-1]
        last_s = pdf["shard"].iloc[-1]
        tail = (pdf["term"] == last_t) & (pdf["shard"] == last_s)
        complete = pdf[~tail]
        buf = pdf[tail]
        if len(complete):
            yield _merge_groups(complete)
    if buf is not None and len(buf):
        yield _merge_groups(buf)


def merge_partials(partials: DataFrame, num_parts: int) -> DataFrame:
    """Range-partition partial posting runs by (term, shard), sort
    within partitions, and stream-merge each group into its final run.

    Range (not hash) partitioning makes every written part file cover
    ONE contiguous term range, so the parquet footers' term min/max
    statistics are a term dictionary: the interactive fetch
    (search.PostingFiles) reads only the row groups whose range covers
    a query term, and :func:`write_postings` caps each row group at
    ~64 KB, so that is a few row groups, not whole part files.  The
    range sampler is a job over the partials, so
    they are persisted first — otherwise the map-side encoder runs
    twice.  Write the result with :func:`write_postings`, which frees
    them once the write is done."""
    partials = partials.persist()
    d = partials.repartitionByRange(
        num_parts, "term", "shard"
    ).sortWithinPartitions("term", "shard", "first_doc")
    out = d.mapInPandas(_merge_stream, schema=POSTINGS_SCHEMA)
    out._partials = partials
    return out


# Posting file layout.  A row group is the smallest unit the
# interactive fetch (search.PostingFiles) can read, so its byte cap
# bounds what one cold term lookup decodes at any index size.  The cap
# is a buffered-size target: the parquet writer checks it only every
# >= 100 rows, so a row group can overshoot it.  zstd pays for the
# extra footers and page headers the smaller row groups bring (at 5k
# docs: 64 KB snappy row groups +5% bytes, 64 KB zstd -21%).
POSTING_COMPRESSION = "zstd"
POSTING_ROW_GROUP_BYTES = 64 << 10


def write_postings(postings: DataFrame, path: str) -> None:
    """Write a :func:`merge_partials` result as parquet in the posting
    layout (:data:`POSTING_COMPRESSION`, row groups capped at
    :data:`POSTING_ROW_GROUP_BYTES`), then unpersist the partials its
    range sampler read.  Build, append deltas, compaction and both
    merge paths write through here, so compaction rewrites a dir of an
    older layout (one snappy row group per part file) into this one."""
    postings.write.mode("overwrite").option(
        "compression", POSTING_COMPRESSION
    ).option("parquet.block.size", POSTING_ROW_GROUP_BYTES).parquet(path)
    postings._partials.unpersist()


def part_files(path: str) -> "list[str]":
    """The parquet part files of the dir ``path``, sorted by name
    (``_SUCCESS`` and hidden files left out)."""
    return sorted(
        os.path.join(path, fn)
        for fn in os.listdir(path)
        if fn.endswith(".parquet") and not fn.startswith(("_", "."))
    )


def in_posting_layout(path: str) -> bool:
    """Whether every column chunk of the posting dir ``path`` is in
    :data:`POSTING_COMPRESSION`, i.e. was written by
    :func:`write_postings` in the current layout.  Older dirs (one
    snappy row group per part file) still serve, only slower; compaction
    rewrites a dir for which this is False."""
    want = POSTING_COMPRESSION.upper()
    for f in part_files(path):
        md = pq.read_metadata(f)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if any(
                rg.column(j).compression != want
                for j in range(rg.num_columns)
            ):
                return False
    return True


def reencode_shards(
    postings: DataFrame,
    shard_range: int,
    merge_parallelism: int | None = None,
    excluded: "np.ndarray | None" = None,
) -> DataFrame:
    """Re-shard + re-encode an existing postings table (the compaction
    kernel, plans/compact.py): decode every (term, shard) row's run,
    re-bucket postings by a NEW ``shard_range`` and re-encode one run
    per (term, new shard).

    Used after a chain of appends: delta shards sit ABOVE the base doc
    range with the ORIGINAL (now too narrow) shard_range.  Re-encoding
    restores one uniform shard decomposition.

    Same two-phase shape as the build: a map-side split pass emits
    partial runs per (term, new shard) — multiple old shards (across
    base + delta dirs) can fold into one new shard — then the shared
    (term, shard) sorted-merge re-encodes each group.  All vectorized:
    one batched decode and one batched encode per Arrow chunk.

    ``excluded`` (sorted unique tombstoned doc ids, plans/delete.py) is
    dropped during the decode pass, so deleted docs leave the postings
    PHYSICALLY here — the compaction half of document deletion.  Terms
    whose postings all belonged to deleted docs simply emit no runs
    (they vanish from the re-encoded table and its term_stats).
    """
    b_ex = None
    if excluded is not None and len(excluded):
        b_ex = postings.sparkSession.sparkContext.broadcast(
            np.unique(np.asarray(excluded, dtype=np.int64))
        )

    def split_map(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy(dtype=object)
            dfs = pdf["df"].to_numpy(dtype=np.int64)
            docs, tfs, dls = codec.decode_rows(pdf["blocks"], dfs)
            if len(docs) == 0:
                continue
            ridx = np.repeat(np.arange(len(pdf)), dfs)
            if "id_shift" in pdf.columns:
                # per-row constant doc-id translation (plans/merge.py:
                # segment B's id space lifts above segment A's before
                # the shared sorted-merge combine).  A constant shift
                # preserves the within-row ascending order the
                # change-point split below relies on.
                sh = pdf["id_shift"].to_numpy(dtype=np.int64)
                if sh.any():
                    docs = docs + sh[ridx]
            if b_ex is not None:
                ex = b_ex.value
                pos = np.searchsorted(ex, docs)
                pos[pos == len(ex)] = len(ex) - 1
                keep = ex[pos] != docs
                docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
                ridx = ridx[keep]
                if len(docs) == 0:
                    continue
            shards = docs // shard_range
            # docs ascend within each input row, so (row, new-shard)
            # runs are contiguous after this change-point split
            change = np.flatnonzero(
                (ridx[1:] != ridx[:-1]) | (shards[1:] != shards[:-1])
            )
            bounds = np.concatenate(([0], change + 1, [len(docs)]))
            starts = bounds[:-1]
            yield pd.DataFrame(
                {
                    "term": terms[ridx[starts]],
                    "shard": shards[starts],
                    "df": np.diff(bounds),
                    "first_doc": docs[starts],
                    "blocks": codec.encode_many(docs, tfs, dls, bounds),
                }
            )

    in_cols = ["term", "shard", "df", "blocks"]
    if "id_shift" in postings.columns:
        in_cols.append("id_shift")
    partials = postings.select(*in_cols).mapInPandas(
        split_map, schema=PARTIAL_SCHEMA
    )
    num_parts = merge_parallelism or (
        postings.sparkSession.sparkContext.defaultParallelism * 4
    )
    return merge_partials(partials, num_parts)


def storage_report(postings: DataFrame) -> DataFrame:
    """Capacity-planning report over the compressed shards — the
    storage half of the ops story (plans/fsck.py is the consistency
    half): per shard and in TOTAL (shard = -1), how many terms and
    postings live there and what they cost on disk.

    ``bytes_per_posting`` is the headline number: the delta-gap varint
    runs should land well under the 16 bytes/posting a raw
    (int64 doc_id, int64 tf) pair costs — regressions here mean an
    encoder change or a pathological doc-id distribution.  All columns
    come from the shard rows' own metadata (df + blob length); nothing
    decodes, so the report is vocabulary-sized work even at 10^12
    docs.  Skew reads directly off the per-shard rows: a shard whose
    n_postings is a large multiple of the median is the straggler the
    (term, shard) salt exists to prevent."""
    per = postings.groupBy("shard").agg(
        F.count_distinct("term").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum(F.octet_length("blocks")).cast("long").alias("blob_bytes"),
    )
    total = postings.agg(
        F.lit(-1).cast("long").alias("shard"),
        F.count_distinct("term").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum(F.octet_length("blocks")).cast("long").alias("blob_bytes"),
    )
    return (
        per.unionByName(total)
        .withColumn(
            "bytes_per_posting",
            F.round(F.col("blob_bytes") / F.col("n_postings"), 3),
        )
        .orderBy("shard")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Global per-term stats from the shards (df = sum of shard dfs)."""
    return postings.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
    )


def decode_postings(postings: DataFrame) -> DataFrame:
    """Explode compressed posting shards back to the row-major
    ``(term, doc_id, tf, dl)`` relation — the bulk-consumption path
    (batch retrieval, exports, audits).  One vectorized varint decode
    per Arrow chunk; downstream scoring stays in JVM expressions.

    Deliberately a FULL decode of whatever relation it is given: callers
    prune first (semi-join the term vocabulary of interest) so the
    decode cost tracks the consumer's vocabulary, not the corpus."""
    schema = "term string, doc_id long, tf long, dl long"

    def explode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy(dtype=object)
            dfs = pdf["df"].to_numpy(dtype=np.int64)
            docs, tfs, dls = codec.decode_rows(pdf["blocks"], dfs)
            if len(docs) == 0:
                continue
            ridx = np.repeat(np.arange(len(pdf)), dfs)
            yield pd.DataFrame(
                {
                    "term": terms[ridx],
                    "doc_id": docs,
                    "tf": tfs.astype(np.int64),
                    "dl": dls.astype(np.int64),
                }
            )

    return postings.select("term", "df", "blocks").mapInPandas(
        explode, schema=schema
    )

