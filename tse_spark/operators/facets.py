"""Facet (attribute) index: per-(facet, value) doc-id sets stored as
compressed blocks beside the posting shards — the filter-bitset
sidecar (the doc-values / filter-cache idea) that serves
facet-restricted queries without maintaining one posting index per
facet value.

Reference parity: TSE serves one flat ranking (tse/Query.cpp); facet
refinement is the standard engine extension, paired here with the
declarative :func:`tse_spark.operators.textops.facet_counts` /
:func:`tse_spark.operators.index_build.bm25_filtered_topk` twins.

Build shape (100 TB audit): ONE stacked unpivot covers every facet
column in a single scan of the docs relation; one shuffle on
(facet, value, shard) groups doc ids into the SAME doc-range shards as
the posting build (``postings.shard_of`` law), so a filtered query's
allowed set joins posting rows shard-for-shard with no re-shuffle at
serving time.  Each group encodes with the same varint run codec as
postings (tf = dl = 1 filler), and each sidecar dir partitions its
parquet by (facet, value) so a clicked facet reads exactly one
directory per dir — partition pruning, never a scan of other facets.
Group sizes are bounded by ``shard_range`` docs, so a facet value
covering the whole corpus still encodes in per-shard pieces, never one
giant row.

Maintenance follows the index's own Iceberg-style contract
(plans/append.py): delta doc sets land in deterministic
``facets_delta_<base>`` dirs (overwrite mode — a retry rewrites the
same bytes) and become VISIBLE only through the atomically-replaced
``facets_meta.json``; a crash mid-append leaves the previous sidecar
fully intact.  Delta soundness: appended corpora always get fresh doc
ids above the recorded high-water mark, so delta sets are disjoint
from every existing row — filtered serving unions multiple allow rows
per shard before the mask and the sidebar sums disjoint partial
counts, both multi-row-safe by construction.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from tse_spark.operators import codec
from tse_spark.operators.postings import shard_of

FACET_SHARD_SCHEMA = (
    "facet string, value string, shard long, df long, blocks binary"
)

# '#' never survives tokenization, so the pseudo-term marking allowed-set
# rows can't collide with a real vocabulary term (same trick as the
# synonym groups' '#g<i>' labels)
ALLOW_TERM = "#allow"

META_NAME = "facets_meta.json"


def build_facet_shards(
    docs: DataFrame,
    facets: list[str],
    shard_range: int,
) -> DataFrame:
    """(doc_id, <facet columns>) -> one row per (facet, value, shard)
    with the shard's matching doc ids encoded as one varint run, sorted
    doc-ascending (the codec law the serving mask relies on)."""
    for f_ in facets:
        if not f_.isidentifier():
            raise ValueError(f"facet must be a column identifier: {f_!r}")
    pairs = ", ".join(f"'{f_}', cast({f_} AS string)" for f_ in facets)
    rows = docs.select(
        "doc_id",
        F.expr(f"stack({len(facets)}, {pairs}) AS (facet, value)"),
    ).withColumn("shard", shard_of(F.col("doc_id"), int(shard_range)))

    def enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        d = np.sort(pdf["doc_id"].to_numpy(np.int64))
        ones = np.ones(d.size, dtype=np.int64)
        blocks = codec.encode_postings(d, ones, ones)
        return pd.DataFrame(
            {
                "facet": [key[0]],
                "value": [key[1]],
                "shard": [int(key[2])],
                "df": [int(d.size)],
                "blocks": [blocks],
            }
        )

    return rows.groupBy("facet", "value", "shard").applyInPandas(
        enc, schema=FACET_SHARD_SCHEMA
    )


def _read_meta(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, META_NAME)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _publish_meta(out_dir: str, meta: dict) -> None:
    """Atomic last-step publish (same tmp+replace idiom as append.py):
    files written before this line are invisible until it lands.  Every
    publish stamps the posting format its runs were just encoded in."""
    path = os.path.join(out_dir, META_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**meta, "posting_format": codec.POSTING_FORMAT}, f)
    os.replace(tmp, path)


def _index_probe(out_dir: str) -> tuple[int, int] | None:
    """(shard_range, compact_version) of the live index, or None when
    out_dir is a bare sidecar without an index meta.  BOTH numbers pin
    sidecar validity: a re-sharding compaction breaks the doc-range
    law, and a tombstone-folding compaction can remove docs WITHOUT
    changing shard_range (deletes never lower max_doc_id) — either way
    the encoded facet sets no longer match the postings."""
    path = os.path.join(out_dir, "meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = json.load(f)
    return int(m["shard_range"]), int(m.get("compact_version", 0))


def _sidecar_stale(meta: dict, probe: tuple[int, int] | None) -> str | None:
    """Why the sidecar no longer matches the live index (None = fine).
    Checks the facts the sidecar meta RECORDED (pre-field sidecars
    pass, same upgrade posture as before) and the posting format its
    runs were encoded in (required)."""
    if meta is None:
        return None
    if meta.get("posting_format") != codec.POSTING_FORMAT:
        return (
            f"posting format {meta.get('posting_format')!r} is not "
            f"{codec.POSTING_FORMAT!r} (written by an older codec)"
        )
    if probe is None:
        return None
    live_range, live_cv = probe
    if (
        meta.get("shard_range") is not None
        and int(meta["shard_range"]) != live_range
    ):
        return (
            f"shard_range {meta['shard_range']} != index's {live_range} "
            "(the index was compacted/re-sharded)"
        )
    if (
        meta.get("compact_version") is not None
        and int(meta["compact_version"]) != live_cv
    ):
        return (
            f"compact_version {meta['compact_version']} != index's "
            f"{live_cv} (a compaction — possibly folding deletes — ran "
            "since the sidecar was built)"
        )
    return None


def write_facet_index(
    facet_shards: DataFrame,
    out_dir: str,
    facets: list[str] | None = None,
    max_doc_id: int | None = None,
    shard_range: int | None = None,
    dirname: str = "facets",
) -> str:
    """Persist the facet sidecar under ``out_dir/<dirname>`` (partitioned
    by (facet, value)) and publish ``facets_meta.json`` — the high-water
    mark ``max_doc_id`` lets :func:`sync_facet_index` extend the
    sidecar O(delta) after index appends.  ``facets``/``max_doc_id``
    default to what the shards themselves contain (one extra tiny agg);
    ``shard_range`` records the doc-range law the shards were built
    with (defaults to the index meta's — it MUST equal what the caller
    passed to :func:`build_facet_shards`, or shard-wise posting/facet
    intersections silently miss; the loaders validate it against the
    live index so a re-sharding compaction is caught loudly).
    """
    path = os.path.join(out_dir, dirname)
    facet_shards.write.mode("overwrite").partitionBy(
        "facet", "value"
    ).parquet(path)
    spark = facet_shards.sparkSession
    written = spark.read.parquet(path)
    if facets is None:
        facets = sorted(
            r["facet"]
            for r in written.select("facet").distinct().collect()
        )
    if max_doc_id is None:
        # decode-free upper bound: last doc of the last shard is
        # (shard+1)*range-1 >= max id; exact value matters only as a
        # monotone high-water mark, but exactness is cheap here too
        mx = 0
        for r in written.select("blocks").collect():
            d = codec.decode_all(bytes(r["blocks"]))[0]
            if len(d):
                mx = max(mx, int(d[-1]))
        max_doc_id = mx
    probe = _index_probe(out_dir)
    if shard_range is None and probe is not None:
        shard_range = probe[0]
    prev = _read_meta(out_dir)
    meta = {
        "dirs": [dirname],
        "facets": list(facets),
        "max_doc_id": int(max_doc_id),
        "version": int(prev.get("version", 0)) + 1 if prev else 1,
    }
    if shard_range is not None:
        meta["shard_range"] = int(shard_range)
    if probe is not None:
        meta["compact_version"] = probe[1]
    _publish_meta(out_dir, meta)
    return path


def append_facet_shards(
    spark: SparkSession,
    out_dir: str,
    delta_docs: DataFrame,
    facets: list[str] | None = None,
    shard_range: int | None = None,
) -> str | None:
    """O(delta) sidecar append: encode ONLY the delta docs' sets into a
    deterministic ``facets_delta_<base>`` dir (overwrite — retry-safe)
    and republish ``facets_meta.json`` atomically.  ``facets`` defaults
    to the sidecar meta's list (appending a different facet set would
    silently skew sidebar counts — fail loudly instead);
    ``shard_range`` defaults to the index meta's value so delta shards
    follow the base's doc-range law.  An empty delta returns ``None``
    and leaves the meta untouched (idempotent no-op).  Raises when the sidecar's recorded
    shard_range no longer matches the index's (a compaction re-sharded
    the corpus): delta rows in the new law would intersect against base
    rows in the old one — rebuild with :func:`rebuild_facet_index`."""
    meta = _read_meta(out_dir)
    if meta is None:
        raise ValueError(
            f"append_facet_shards: no {META_NAME} at {out_dir} — build "
            "the sidecar with write_facet_index first"
        )
    probe = _index_probe(out_dir)
    stale = _sidecar_stale(meta, probe)
    if stale:
        raise ValueError(
            f"append_facet_shards: sidecar is stale — {stale}; run "
            "rebuild_facet_index first"
        )
    if facets is None:
        facets = meta["facets"]
    elif sorted(facets) != sorted(meta["facets"]):
        raise ValueError(
            f"append_facet_shards: facet set {sorted(facets)} != sidecar's "
            f"{sorted(meta['facets'])}; mixed-facet sidecars would skew "
            "sidebar counts silently"
        )
    if shard_range is None:
        with open(os.path.join(out_dir, "meta.json")) as f:
            shard_range = int(json.load(f)["shard_range"])
    hwm = int(meta["max_doc_id"])
    delta = delta_docs.filter(F.col("doc_id") > hwm)
    new_max = delta.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    if new_max is None:
        return None  # nothing new: no-op (meta already current)
    dname = f"facets_delta_{hwm + 1}"
    path = os.path.join(out_dir, dname)
    build_facet_shards(delta, facets, int(shard_range)).write.mode(
        "overwrite"
    ).partitionBy("facet", "value").parquet(path)
    dirs = list(meta["dirs"])
    if dname not in dirs:
        dirs.append(dname)
    new_meta = dict(meta)
    new_meta.update(
        {"dirs": dirs, "facets": list(facets), "max_doc_id": int(new_max)}
    )
    if probe is not None:
        # upgrade pre-field metas in place (values validated above)
        new_meta.setdefault("shard_range", probe[0])
        new_meta.setdefault("compact_version", probe[1])
    _publish_meta(out_dir, new_meta)
    return path


def rebuild_facet_index(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame | None = None,
    gc: bool = False,
) -> str:
    """Full rebuild of the sidecar against the index's CURRENT
    shard_range — the repair step after ``compact_index`` re-sharded
    the corpus (plans/compact.py).  Same contract as compaction:
    writes a versioned ``facets_base_v{N}`` dir that stays invisible
    until the atomic ``facets_meta.json`` replace; a crash before the
    publish leaves the old (loudly-detectable-stale) sidecar files
    intact, and a retry overwrites the same version dir.  ``docs``
    defaults to the index's persisted docs dirs; pass the source
    relation when the sidecar facets aren't docs-table columns.  Old
    dirs are left for concurrent readers unless ``gc=True``."""
    meta = _read_meta(out_dir)
    if meta is None:
        raise ValueError(
            f"rebuild_facet_index: no {META_NAME} at {out_dir}"
        )
    with open(os.path.join(out_dir, "meta.json")) as f:
        imeta = json.load(f)
    facets = list(meta["facets"])
    if docs is None:
        docs_dirs = imeta.get("docs_dirs", ["docs"])
        paths = [os.path.join(out_dir, d) for d in docs_dirs]
        if not all(os.path.exists(p) for p in paths):
            raise ValueError(
                f"rebuild_facet_index: index at {out_dir} has no "
                f"persisted docs dirs {docs_dirs} — pass the source "
                "docs relation explicitly"
            )
        docs = spark.read.parquet(*paths)
    missing = [f_ for f_ in facets if f_ not in docs.columns]
    if missing:
        raise ValueError(
            f"rebuild_facet_index: facet columns {missing} are not in "
            "the docs relation — rebuild from the original source "
            "relation (the docs table only persists its own columns)"
        )
    version = int(meta.get("version", 0)) + 1
    dname = f"facets_base_v{version}"
    shard_range = int(imeta["shard_range"])
    compact_version = int(imeta.get("compact_version", 0))
    build_facet_shards(docs, facets, shard_range).write.mode(
        "overwrite"
    ).partitionBy("facet", "value").parquet(os.path.join(out_dir, dname))
    old_dirs = list(meta["dirs"])
    _publish_meta(
        out_dir,
        {
            "dirs": [dname],
            "facets": facets,
            "max_doc_id": int(imeta["max_doc_id"]),
            "shard_range": shard_range,
            "compact_version": compact_version,
            "version": version,
        },
    )
    if gc:
        import shutil

        for d in old_dirs:
            if d != dname:
                shutil.rmtree(
                    os.path.join(out_dir, d), ignore_errors=True
                )
    return os.path.join(out_dir, dname)


def sync_facet_index(spark: SparkSession, out_dir: str) -> str | None:
    """Bring the sidecar up to date with the index's published docs
    dirs: O(delta) — encodes only docs above the sidecar's high-water
    mark — unless a compaction re-sharded the corpus since the last
    sync, in which case it falls through to a full
    :func:`rebuild_facet_index` (compaction is itself O(corpus), so
    the rebuild doesn't change the maintenance cost class).  Returns
    the written dir (or None when there is no sidecar or nothing new).
    Replay-safe: a redelivered ingest batch finds no docs above the
    mark and no-ops.  Requires an index whose meta lists docs dirs
    (pages-built indexes; run_from_docs indexes don't persist a docs
    table — build their sidecar from the source relation)."""
    meta = _read_meta(out_dir)
    if meta is None:
        return None
    if _sidecar_stale(meta, _index_probe(out_dir)):
        return rebuild_facet_index(spark, out_dir)
    with open(os.path.join(out_dir, "meta.json")) as f:
        imeta = json.load(f)
    docs_dirs = imeta.get("docs_dirs", ["docs"])
    paths = [os.path.join(out_dir, d) for d in docs_dirs]
    if not all(os.path.exists(p) for p in paths):
        raise ValueError(
            "sync_facet_index: index at "
            f"{out_dir} has no persisted docs dirs {docs_dirs} — "
            "pass the source docs to append_facet_shards instead"
        )
    docs = spark.read.parquet(*paths)
    return append_facet_shards(spark, out_dir, docs)


def load_facet_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """The whole sidecar (facet, value, shard, df, blocks) — for the
    sidebar count across every facet; a single clicked refinement
    should use :func:`load_facet_rows` (partition-pruned).  Reads every
    dir the meta publishes (base + deltas); pre-meta sidecars fall
    back to the bare ``facets`` dir.  Raises when the sidecar's
    recorded shard_range no longer matches the index's (post-compaction
    stale sidecar): shard-wise intersections against re-sharded
    postings would be silently wrong — fail loudly instead and point
    at the repair."""
    meta = _read_meta(out_dir)
    if meta is not None:
        stale = _sidecar_stale(meta, _index_probe(out_dir))
        if stale:
            raise ValueError(
                f"facet sidecar at {out_dir} is stale — {stale}; run "
                "rebuild_facet_index (or sync_facet_index) to repair"
            )
    dirs = meta["dirs"] if meta else ["facets"]
    # each dir is its own partitioned-parquet root; a multi-path read
    # trips CONFLICTING_DIRECTORY_STRUCTURES, so union per-dir scans —
    # partition pruning still applies within each scan
    out = None
    for d in dirs:
        df = spark.read.parquet(os.path.join(out_dir, d))
        out = df if out is None else out.unionByName(df)
    return out


def load_facet_rows(
    spark: SparkSession, out_dir: str, facet: str, value: str
) -> DataFrame:
    """Partition-pruned read of one (facet, value) doc-set: the scan
    touches only that directory within each published sidecar dir."""
    return (
        load_facet_index(spark, out_dir)
        .filter((F.col("facet") == facet) & (F.col("value") == value))
        .select("shard", "df", "blocks")
    )
