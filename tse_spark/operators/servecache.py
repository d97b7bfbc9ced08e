"""Shared (cross-process) posting cache for the serving tier.

The driver-side LRUs in :mod:`tse_spark.operators.search` are
per-process: every new serving process (CGI worker, API replica) starts
cold and pays one footer-pruned posting file read per set of
first-seen terms.  At fleet scale the same hot head terms get
re-fetched by every replica.  This module
adds the classic second tier — a filesystem-shared, snapshot-keyed
cache of exactly the ``_term_entries`` value (df + merged
doc-ascending posting blob), so one replica's miss warms every other
replica on the same host / shared volume (local SSD of a serving box,
NFS, a FUSE-mounted bucket).

Reference contrast: TSE reloads the WHOLE index from disk on every CGI
request (tse/Query.cpp:59-82) — its only "shared cache" is the OS page
cache over the full ``sun.iidx`` file.  Here the shared tier holds just
the demanded working set, and is keyed so a new index commit can never
serve stale bytes.

Correctness under concurrent readers + writers, with no locks:

- **Key**: sha1 over the index meta's ``(fingerprint, snapshot_id,
  postings_dirs, tokenizer, prune_m, bound-relevant stats)``.  Every
  commit (build, append, compact, delete-fold, upsert) bumps
  ``snapshot_id`` through :func:`tse_spark.plans.snapshots
  .publish_meta`, so entries under one key are IMMUTABLE for the
  key's lifetime; "invalidation" is just pointing new engines at the
  new key's directory.  Old key dirs become garbage that
  :func:`vacuum_cache` sweeps.
- **Entry file**: ``<root>/<key>/<hh>/<md5(term)>.e`` written to a
  tmp name then ``os.replace``d (atomic on POSIX); the payload embeds
  the term bytes and lengths, so a hash collision or a torn/corrupt
  file reads as a MISS, never as wrong bytes.  Concurrent writers of
  the same term race benignly: both write identical immutable content.
- **Negative entries** (df=0, empty blob) are cached too — a term
  absent from this snapshot is absent for the key's whole lifetime.
- **LRU-ish eviction**: every hit ``utime``s the entry;
  :func:`vacuum_cache` keeps the newest-mtime entries within a byte
  budget and drops every non-current key dir.

At 10^12-doc scale this is the memcached/SSD tier of a serving fleet:
the posting files (read by :class:`tse_spark.operators.search
.PostingFiles`) stay the source of truth, the shared dir is purely a
read-through/write-through cache whose loss costs latency, never
correctness.  df lookups on their own (``SearchEngine._df_map``) skip
this tier: they read the files' ``term`` and ``df`` columns.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import tempfile

_MAGIC = b"TSC1"
# magic, term_len u32, df u64, blob_len u64
_HDR = struct.Struct("<4sIQQ")


def cache_key(meta: dict) -> str:
    """Deterministic key for one published index state.

    Includes everything that can change the bytes ``_term_entries``
    would fetch: the build input fingerprint, the snapshot id (bumped
    by every commit), the live postings dir list, and the build params
    that shape blobs (tokenizer, prune_m, posting format, shard_range):
    a tier filled by another codec is never read by this one.
    n_docs/avgdl ride along so even a hand-edited meta.json can't
    alias two different scoring states to one key."""
    basis = json.dumps(
        {
            "fp": meta.get("fingerprint"),
            "sid": int(meta.get("snapshot_id", 0)),
            "dirs": sorted(meta.get("postings_dirs", ["postings"])),
            "tok": meta.get("tokenizer"),
            "prune_m": meta.get("prune_m"),
            "fmt": meta.get("posting_format"),
            "shard_range": meta.get("shard_range"),
            "n_docs": meta.get("n_docs"),
            "avgdl": meta.get("avgdl"),
        },
        sort_keys=True,
    )
    return hashlib.sha1(basis.encode()).hexdigest()


class SharedPostingCache:
    """One key's entry store.  All methods are safe to call from many
    processes concurrently; none ever blocks on a lock."""

    def __init__(self, root: str, key: str):
        self.root = root
        self.key = key
        self.dir = os.path.join(root, key)
        os.makedirs(self.dir, exist_ok=True)
        self.hits = 0
        self.misses = 0
        self.fills = 0

    @classmethod
    def for_meta(cls, root: str, meta: dict) -> "SharedPostingCache":
        return cls(root, cache_key(meta))

    @classmethod
    def for_index(cls, root: str, out_dir: str) -> "SharedPostingCache":
        with open(os.path.join(out_dir, "meta.json")) as f:
            return cls.for_meta(root, json.load(f))

    def _path(self, term: str) -> str:
        h = hashlib.md5(term.encode("utf-8", "surrogatepass")).hexdigest()
        return os.path.join(self.dir, h[:2], h + ".e")

    def get(self, term: str) -> "tuple[int, bytes] | None":
        """(df, merged blob) or None.  Corrupt, torn, or colliding
        files read as a miss (and are unlinked so the next fill
        repairs them)."""
        p = self._path(term)
        try:
            with open(p, "rb") as f:
                raw = f.read()
        except OSError:
            self.misses += 1
            return None
        ent = self._parse(term, raw)
        if ent is None:
            self.misses += 1
            try:  # pragma: no cover - repair best-effort
                os.unlink(p)
            except OSError:
                pass
            return None
        self.hits += 1
        try:  # LRU signal for vacuum_cache; best-effort
            os.utime(p)
        except OSError:  # pragma: no cover
            pass
        return ent

    @staticmethod
    def _parse(term: str, raw: bytes) -> "tuple[int, bytes] | None":
        if len(raw) < _HDR.size:
            return None
        magic, tlen, df, blen = _HDR.unpack_from(raw)
        if magic != _MAGIC:
            return None
        if len(raw) != _HDR.size + tlen + blen:
            return None
        tb = raw[_HDR.size : _HDR.size + tlen]
        if tb != term.encode("utf-8", "surrogatepass"):
            return None  # md5 collision: treat as miss, never mix terms
        return int(df), raw[_HDR.size + tlen :]

    def put(self, term: str, df: int, blob: bytes) -> None:
        """Atomic write-through.  Entries are immutable per key, so a
        concurrent duplicate put writes identical bytes and the
        os.replace race is benign whoever wins."""
        p = self._path(term)
        d = os.path.dirname(p)
        os.makedirs(d, exist_ok=True)
        tb = term.encode("utf-8", "surrogatepass")
        payload = _HDR.pack(_MAGIC, len(tb), int(df), len(blob)) + tb + blob
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(payload)
            os.replace(tmp, p)
        except OSError:  # pragma: no cover - disk-full etc: stay a cache
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return
        self.fills += 1

    def stats(self) -> dict:
        return {
            "key": self.key,
            "hits": self.hits,
            "misses": self.misses,
            "fills": self.fills,
        }


def _iter_entries(d: str):
    """Every cache entry under one key dir — posting entries (.e) and
    result entries (.r, one level deeper under rq/) share the vacuum
    byte budget and recency law."""
    for base, _dirs, files in os.walk(d):
        for name in files:
            if name.endswith((".e", ".r")):
                path = os.path.join(base, name)
                try:
                    st = os.stat(path)
                except OSError:  # pragma: no cover
                    continue
                yield path, st.st_mtime, st.st_size


def vacuum_cache(
    root: str, current_key: str, budget_bytes: int
) -> dict:
    """Maintenance sweep (cron-able, any process may run it):

    1. delete every key dir except ``current_key`` — those serve
       superseded snapshots and can never be read again by engines
       opened from the live meta.json;
    2. within the current key, drop oldest-mtime entries until the
       total is within ``budget_bytes`` (hits ``utime`` their entry,
       so mtime order IS recency order).

    Races with concurrent readers are safe: a reader holding an open
    fd keeps its bytes (POSIX unlink semantics); a reader that loses
    the race gets a miss and refills."""
    import shutil

    dropped_keys = []
    if os.path.isdir(root):
        for d in os.scandir(root):
            if d.is_dir() and d.name != current_key:
                shutil.rmtree(d.path, ignore_errors=True)
                dropped_keys.append(d.name)
    cur = os.path.join(root, current_key)
    dropped, kept_bytes = 0, 0
    if os.path.isdir(cur):
        ents = sorted(_iter_entries(cur), key=lambda t: -t[1])
        for path, _, size in ents:
            if kept_bytes + size <= budget_bytes:
                kept_bytes += size
                continue
            try:
                os.unlink(path)
                dropped += 1
            except OSError:  # pragma: no cover
                pass
    return {
        "dropped_keys": dropped_keys,
        "dropped_entries": dropped,
        "kept_bytes": kept_bytes,
    }


# ---------------------------------------------------------------------------
# result cache (X107) — the third tier of the classic serving hierarchy
# ---------------------------------------------------------------------------

_RMAGIC = b"TSR1"
# magic, qkey_len u32, n_rows u32
_RHDR = struct.Struct("<4sII")
_ROW = struct.Struct("<qd")


class ResultCache:
    """Snapshot-keyed top-k RESULT cache (Baeza-Yates et al.'s
    three-level serving hierarchy: results above postings above the
    index).  A repeated query is answered without touching postings at
    all — the biggest single latency lever for the Zipf head of a real
    query log (which :mod:`cachesim` prices: the events fixture's
    head reaches ~0.98 hit rate at 256 entries).

    Same correctness design as :class:`SharedPostingCache`: the key is
    :func:`cache_key` over the published meta, so any commit rotates
    the key and stale results are unreachable; entries are immutable
    per key, written atomically, and embed the full canonical query
    string so a filename-hash collision or torn file reads as a miss.
    The canonical form is ``mode '|' k '|' segmented-terms`` — built
    AFTER query normalization/segmentation, so surface variants of the
    same term sequence share one entry.
    """

    def __init__(self, root: str, key: str):
        self.root = root
        self.key = key
        self.dir = os.path.join(root, key, "rq")
        os.makedirs(self.dir, exist_ok=True)
        self.hits = 0
        self.misses = 0
        self.fills = 0

    @classmethod
    def for_meta(cls, root: str, meta: dict) -> "ResultCache":
        return cls(root, cache_key(meta))

    @classmethod
    def for_index(cls, root: str, out_dir: str) -> "ResultCache":
        with open(os.path.join(out_dir, "meta.json")) as f:
            return cls.for_meta(root, json.load(f))

    @staticmethod
    def canonical(terms: "list[str]", k: int, mode: str) -> str:
        return f"{mode}|{k}|{' '.join(terms)}"

    def _path(self, qkey: str) -> str:
        h = hashlib.md5(qkey.encode("utf-8", "surrogatepass")).hexdigest()
        return os.path.join(self.dir, h[:2], h + ".r")

    def get(self, qkey: str) -> "list[tuple[int, float]] | None":
        p = self._path(qkey)
        try:
            with open(p, "rb") as f:
                raw = f.read()
        except OSError:
            self.misses += 1
            return None
        out = self._parse(qkey, raw)
        if out is None:
            self.misses += 1
            try:  # pragma: no cover - best-effort repair
                os.unlink(p)
            except OSError:
                pass
            return None
        self.hits += 1
        try:
            os.utime(p)
        except OSError:  # pragma: no cover
            pass
        return out

    @staticmethod
    def _parse(qkey: str, raw: bytes) -> "list[tuple[int, float]] | None":
        if len(raw) < _RHDR.size:
            return None
        magic, qlen, n = _RHDR.unpack_from(raw)
        if magic != _RMAGIC:
            return None
        qb = qkey.encode("utf-8", "surrogatepass")
        if len(raw) != _RHDR.size + qlen + n * _ROW.size:
            return None
        if raw[_RHDR.size : _RHDR.size + qlen] != qb:
            return None  # collision: a different query, miss
        off = _RHDR.size + qlen
        return [
            (int(d), float(s))
            for d, s in _ROW.iter_unpack(raw[off:])
        ]

    def put(self, qkey: str, rows: "list[tuple[int, float]]") -> None:
        p = self._path(qkey)
        d = os.path.dirname(p)
        os.makedirs(d, exist_ok=True)
        qb = qkey.encode("utf-8", "surrogatepass")
        payload = _RHDR.pack(_RMAGIC, len(qb), len(rows)) + qb + b"".join(
            _ROW.pack(int(doc), float(score)) for doc, score in rows
        )
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(payload)
            os.replace(tmp, p)
        except OSError:  # pragma: no cover - stay a cache on failure
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return
        self.fills += 1

    def stats(self) -> dict:
        return {
            "key": self.key,
            "hits": self.hits,
            "misses": self.misses,
            "fills": self.fills,
        }
