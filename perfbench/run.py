"""Seeded, layer-attributed benchmark of the spark-tse engine.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

One workload runs on ``local[4]`` from one process with one client thread:
a closed loop, where each call into the engine starts when the previous one
has returned.  Every answer is checked against the pure-Python oracle.  The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``; with ``--trace 1`` the run records spans
and reads the event log of its Spark session, and the metrics are the
per-layer ones.  The lines before it name every figure the run measured,
with its unit, and the quiet evidence (cpus, steal, spin reference).
README.md in this directory describes the workloads and the layer map.

Inputs are made from ``--seed`` by ``gen.py`` in a child process, before
the Spark session starts, and cached under ``perfbench/.work/inputs`` with
the oracle's expected answers.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import json
import multiprocessing as mp
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import gen  # noqa: E402  (benchmark-owned; imports nothing from tse_spark)

WORKLOADS = ("ingest", "query")
CPUS = 4
DRIVER_MEM = "2g"
HASH_SEED = "0"
K = 10
LENGTH_SCALE = 8
BASE_DOCS, BASE_FILES = 5000, 8
DELTA_DOCS, DELTA_FILES = 500, 2
APPEND_ROUNDS = 2
# warm re-runs of each burst, so the warm median rests on more samples
# than the first-touch one
WARM_PASSES = 5
OPENS = 3
HOT_STREAM = 200000
COLD_WARMUP = 16
COLD_STREAM = 300
# shares of --seconds: cold first-touch queries, hot stream (the two
# alternate in SLICES), distributed search (the replica pass re-runs the
# first-touch queries at ~1 ms each)
COLD_SHARE, HOT_SHARE, DIST_SHARE = 0.4, 0.4, 0.2
SLICES = 4
DIST_MIN = 3

E2E_UNITS = {
    "setup_s": "s", "index_docs_per_s": "docs/s", "hit_p50_ms": "ms",
    "miss_p50_ms": "ms", "memory_mb": "MB", "index_bytes_per_text_byte": "ratio",
}
PER_LAYER = (
    ("index_build.build_docs.s", "s", "lower"),
    ("index_build.tf.s", "s", "lower"),
    ("postings.build_posting_shards.s", "s", "lower"),
    ("postings.term_stats.s", "s", "lower"),
    ("postings.bytes", "bytes", "lower"),
    ("checkpoint.stages_run", "count", "lower"),
    ("checkpoint.rows_written", "count", "lower"),
    ("pipeline.load_index.s", "s", "lower"),
    ("index.postings_dirs", "count", "lower"),
    ("search.analyze.ms", "ms", "lower"),
    ("search.fetch.ms", "ms", "lower"),
    ("search.fetch.spark_jobs", "count", "lower"),
    ("search.fetch.terms", "count", "lower"),
    ("search.fetch.bytes", "bytes", "lower"),
    ("search.term_lru.hit_ratio", "ratio", "higher"),
    ("search.decode_score.ms", "ms", "lower"),
    ("search.scored_cache.hit_ratio", "ratio", "higher"),
    ("search.scored_cache.bytes", "bytes", "lower"),
    ("wand.select.ms", "ms", "lower"),
    ("wand.select.postings", "count", "lower"),
    ("servecache.get.ms", "ms", "lower"),
    ("servecache.put.ms", "ms", "lower"),
    ("servecache.hit_ratio", "ratio", "higher"),
    ("search.idf.ms", "ms", "lower"),
    ("search.distributed.ms", "ms", "lower"),
    ("append.append_pages.s", "s", "lower"),
    ("append.bytes_written_per_text_byte", "ratio", "lower"),
    ("append.term_stats_bytes", "bytes", "lower"),
    ("compact.compact_index.s", "s", "lower"),
    ("compact.bytes_rewritten", "bytes", "lower"),
) + tuple(
    (f"{layer}.self_ms", "ms", "lower")
    for layer in (
        "pipeline", "index_build", "postings", "search", "wand",
        "servecache", "append", "compact",
    )
) + (
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.span_sum_error_ms", "ms", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.ops_ms", "ms", "lower"),
)
SPARK_KEYS = (
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("task_skew", "ratio"), ("gc_s", "s"),
    ("tasks", "count"),
)

# root spans: what the benchmark calls, and the layer its self time is
# charged to (a search_local call's own time is its top-k selection)
OP_LAYER = {
    "op.build": "pipeline", "op.open": "pipeline", "op.append": "append",
    "op.compact": "compact", "op.query": "wand", "op.replica": "wand",
    "op.fresh_query": "wand", "op.distributed": "search",
}
LOCAL_QUERY_OPS = ("op.query", "op.replica", "op.fresh_query")
# the calls whose perf_counter times make up ops_ms (every root op but the
# set-up opens), and how far the traced spans may sum from that clock
MEASURED_OPS = tuple(o for o in OP_LAYER if o != "op.open")
SPAN_SUM_TOLERANCE = 0.02
BUILD_STAGE_SPANS = (
    ("docs", "index_build.build_docs"), ("tf", "index_build.tf"),
    ("postings", "postings.build_posting_shards"),
    ("term_stats", "postings.term_stats"),
)


# -- inputs -------------------------------------------------------------


def _table(name: str, seed: int, n: int, files: int, host: str) -> dict:
    d = os.path.join(
        WORK, "inputs", f"v{gen.GEN_VERSION}", f"{name}_s{seed}_n{n}_f{files}_ls{LENGTH_SCALE}"
    )
    return {"dir": d, "n": n, "files": files, "seed": seed, "host": host}


def plan(workload: str, seed: int) -> dict:
    """Every input a run feeds the engine; a pure function of the args."""
    base = _table("pages", seed, BASE_DOCS, BASE_FILES, "site")
    warmup = _table("warmup", seed, DELTA_DOCS, DELTA_FILES, "warm")
    if workload == "ingest":
        return {
            "base": base,
            "warmup": warmup,
            "deltas": [
                _table(f"delta{i}", seed, DELTA_DOCS, DELTA_FILES, f"fresh{i}")
                for i in range(APPEND_ROUNDS)
            ],
            "ref": list(gen.REFERENCE_QUERIES),
            "bursts": [gen.burst(seed, i) for i in range(APPEND_ROUNDS + 1)],
        }
    pool = gen.hot_pool(seed)
    return {
        "base": base,
        "warmup": warmup,
        "pool": pool,
        "stream": gen.zipf_stream(seed, len(pool), HOT_STREAM, "hot_stream"),
        "warm": list(gen.WARMUP_TAIL[:COLD_WARMUP]),
        "cold": gen.cold_stream(seed, COLD_STREAM),
    }


def prepare(workload: str, seed: int, out_path: str) -> None:
    """Write the pages tables and the oracle's expected answers (child
    process: the oracle's memory never enters the measured process)."""
    import check

    p = plan(workload, seed)
    deltas = p.get("deltas", [])
    dictionary = gen.dictionary()
    pool = mp.get_context("spawn").Pool(CPUS)
    try:
        for t in [p["base"], p["warmup"]] + deltas:
            gen.write_pages(t["dir"], t["n"], t["files"], t["seed"], LENGTH_SCALE, t["host"], pool)
        base = check.read_corpus(p["base"]["dir"])
        deltas = [check.read_corpus(t["dir"]) for t in deltas]
        docs = base + [d for ds in deltas for d in ds]
        counts = check.term_counts([t for _, t in docs], dictionary, pool)
    finally:
        pool.close()
        pool.join()
    by_url = {u: c for (u, _), c in zip(docs, counts)}
    ids = check.md5_doc_ids([u for u, _ in base])
    base_oracle = check.Oracle({ids[u]: by_url[u] for u, _ in base}, dictionary)
    out = {"text_bytes": [sum(len(t) for _, t in base)]}
    if workload == "ingest":
        out["ref"] = [check.expected(base_oracle, q, False, K) for q in p["ref"]]
        out["bursts"] = []
        urls = [u for u, _ in base]
        for i, burst in enumerate(p["bursts"]):
            if i < len(deltas):
                urls += [u for u, _ in deltas[i]]
                out["text_bytes"].append(sum(len(t) for _, t in deltas[i]))
            o = check.Oracle({u: by_url[u] for u in urls}, dictionary)
            out["bursts"].append([check.expected(o, q, False, K) for q in burst])
    else:
        out["pool"] = [check.expected(base_oracle, q, c, K) for q, c in p["pool"]]
        for name in ("warm", "cold"):
            out[name] = [check.expected(base_oracle, q, False, K) for q in p[name]]
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, out_path)


def load_inputs(workload: str, seed: int) -> dict:
    """The expected answers for a run, made on first use; the cache key
    covers every input the plan names."""
    key = hashlib.sha256(json.dumps(plan(workload, seed)).encode()).hexdigest()[:16]
    path = os.path.join(
        WORK, "inputs", f"v{gen.GEN_VERSION}", f"expected_{workload}_s{seed}_{key}.json"
    )
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        proc = mp.get_context("spawn").Process(
            target=prepare, args=(workload, seed, path)
        )
        proc.start()
        proc.join(600)
        if proc.is_alive():
            proc.kill()
            proc.join()
        if proc.exitcode != 0:
            raise RuntimeError(f"input preparation failed (exit code {proc.exitcode})")
    with open(path) as f:
        return json.load(f)


# -- quiet evidence and memory --------------------------------------------


def _cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def spin_ms(n: int = 1_000_000) -> float:
    """Median of three timings of a fixed single-thread loop."""
    out = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i
        out.append((time.perf_counter() - t0) * 1000.0)
    return sorted(out)[1]


def jvm_heap_mb(spark) -> float:
    """JVM heap in use after a full collection, in MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 1048576.0


def hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, fn))
        for r, _, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )


def read_meta(out: str) -> dict:
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)


def index_bytes(out: str) -> int:
    """On-disk bytes of the serving structures: every posting dir plus the
    live term_stats dir."""
    meta = read_meta(out)
    dirs = meta.get("postings_dirs", ["postings"]) + [meta.get("term_stats_dir", "term_stats")]
    return sum(dir_bytes(os.path.join(out, d)) for d in dirs)


# -- the run -------------------------------------------------------------


class Run:
    """State of one benchmark run: session, tracer, counters, results."""

    def __init__(self, args, inputs: dict, run_dir: str, tracer):
        import check

        self.check_mod = check
        self.seconds = args.seconds
        self.plan = plan(args.workload, args.seed)
        self.exp = inputs
        self.run_dir = run_dir
        self.tr = tracer
        self.dictionary = gen.dictionary()
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.details: list = []
        self.ops_ms = 0.0
        self.spark = None

    # reporting
    def detail(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.details.append((name, value, unit, note))

    def latency(self, name: str, secs: list) -> None:
        """Median and the highest percentile with ten samples beyond it."""
        c = self.check_mod
        if not secs:
            return
        ms = [s * 1000.0 for s in secs]
        self.detail(f"{name}_p50_ms", c.median(ms), "ms", f"n={len(ms)}")
        tail = c.tail_percentile(ms)
        if tail:
            self.detail(f"{name}_p{tail[0]:g}_ms", tail[1], "ms", f"n={len(ms)}")

    def ops(self, seconds: float) -> None:
        """Total time of the measured calls: traced and untraced runs
        report it alike, so their difference is the tracing overhead."""
        self.ops_ms = seconds * 1000.0
        self.detail("ops_ms", self.ops_ms, "ms")

    # answer checks
    def verdict(self, ok: bool, what: str, times: int = 1) -> None:
        self.attempted += times
        if not ok:
            self.failed += times
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def check(self, got, want, what: str, key_of=None, times: int = 1) -> None:
        if key_of is not None:
            got = [(key_of.get(d), s) for d, s in got]
        self.verdict(self.check_mod.matches(list(got), want, K), what, times)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # engine steps shared by the workloads
    def warm_up(self) -> None:
        """An untimed build of a small table.  The first Spark work of a
        session pays for JIT and Python-worker start-up (about two thirds
        of a 5,000-doc first build); after this, the timed build measures
        indexing."""
        from tse_spark.plans import pipeline as pl

        self.group("warmup")
        out = os.path.join(self.run_dir, "warmup_index")
        pl.IndexPipeline(self.spark, out, dictionary=self.dictionary).run_from_pages(
            self.plan["warmup"]["dir"], resume=False
        )
        shutil.rmtree(out, ignore_errors=True)

    def build(self, pages_dir: str, out: str, group: str):
        """``IndexPipeline(...).run_from_pages(resume=False)`` with the
        arguments ``scripts/build_index.py`` passes by default."""
        from tse_spark.plans import pipeline as pl

        self.group(group)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with self.tr.span("op.build"):
            h = pl.IndexPipeline(self.spark, out, dictionary=self.dictionary).run_from_pages(
                pages_dir, resume=False
            )
            at = t0
            for stage, name in BUILD_STAGE_SPANS:
                sec = h.manifest.stages[stage]["seconds"]
                self.tr.add(name, at, at + sec)
                self.layer[f"{name}.s"] = sec
                at += sec
        secs = time.perf_counter() - t0
        stages = h.manifest.stages.values()
        self.layer["checkpoint.stages_run"] = sum(not s.get("resumed") for s in stages)
        self.layer["checkpoint.rows_written"] = sum(s.get("rows", 0) for s in stages)
        self.layer["postings.bytes"] = dir_bytes(os.path.join(out, "postings"))
        self.detail("build_s", secs, "s", f"{h.n_docs} docs, after an untimed warm-up build")
        return h, secs

    def open(self, out: str):
        from tse_spark.plans import pipeline as pl

        with self.tr.span("pipeline.load_index"):
            return pl.load_index(self.spark, out, self.dictionary)

    def setup_opens(self, out: str) -> None:
        """setup_s: median time to open the index and pin its postings
        (``load_index`` + ``warm()``), over OPENS opens after one untimed."""
        self.group("open")
        times = []
        for i in range(OPENS + 1):
            t0 = time.perf_counter()
            with self.tr.span("op.open"):
                h = self.open(out)
                with self.tr.span("search.warm"):
                    h.engine.warm()
            dt = time.perf_counter() - t0
            h.engine.postings.unpersist(blocking=True)
            if i:
                times.append(dt)
        self.e2e["setup_s"] = self.check_mod.median(times)
        self.detail("open_s", self.e2e["setup_s"], "s", f"median of {OPENS}")

    def fsck(self, out: str, what: str) -> None:
        from tse_spark.plans import fsck

        self.group("check")
        row = fsck.fsck_index(self.spark, out).collect()[0].asDict()
        bad = [k for k, v in row.items() if k.endswith("_ok") and v != 1]
        self.verdict(not bad, f"fsck after {what}: {bad}")

    def instrument(self, eng, cache=None) -> None:
        """Spans and counters around one engine instance's steps (traced
        runs only; an untraced engine is left as it is)."""
        tr = self.tr
        if not tr.enabled:
            return
        tr.wrap(eng, "query_terms", "search.analyze")

        def fetch_before(args):
            terms = args[0]
            missing = [t for t in terms if t not in eng._term_cache]
            tr.count("search.term_lru.lookups", len(terms))
            tr.count("search.term_lru.hits", len(terms) - len(missing))
            hits, hit_bytes = tr.counts["servecache.hits"], tr.counts["servecache.hit_bytes"]
            return missing, hits, hit_bytes, time.perf_counter()

        def fetch_after(state, args, out):
            missing, hits0, bytes0, t0 = state
            n = len(missing) - int(tr.counts["servecache.hits"] - hits0)
            if n:
                b = sum(len(out[t][1]) for t in missing) - (tr.counts["servecache.hit_bytes"] - bytes0)
                tr.count("search.fetch.terms", n)
                tr.count("search.fetch.bytes", b)
                tr.count("search.fetch.spark_jobs")
                tr.count("search.fetch.spark_s", time.perf_counter() - t0)

        tr.wrap(eng, "_term_entries", "search.fetch", fetch_before, fetch_after)

        def decode_before(args):
            terms = args[0]
            tr.count("search.scored_cache.lookups", len(terms))
            tr.count("search.scored_cache.hits", sum(t in eng._decoded_cache for t in terms))

        def decode_after(state, args, out):
            tr.count("wand.select.postings", sum(len(v[0]) for v in out.values()))
            self.layer["search.scored_cache.bytes"] = max(
                self.layer.get("search.scored_cache.bytes", 0), eng._decoded_bytes
            )

        tr.wrap(eng, "_decoded_runs", "search.decode_score", decode_before, decode_after)
        tr.wrap(eng, "_idf_map", "search.idf")
        if cache is not None:
            def get_after(state, args, out):
                tr.count("servecache.gets")
                if out is not None:
                    tr.count("servecache.hits")
                    tr.count("servecache.hit_bytes", len(out[1]))

            tr.wrap(cache, "get", "servecache.get", None, get_after)
            tr.wrap(cache, "put", "servecache.put")


# -- workloads -------------------------------------------------------------


def timed(r: Run, op: str, fn, q: str, want, lat: list, key_of=None) -> None:
    """One closed-loop call: time it, then check its answer."""
    try:
        t0 = time.perf_counter()
        with r.tr.span(op):
            res = fn(q)
        lat.append(time.perf_counter() - t0)
    except Exception:
        r.error(f"{op} {q!r}")
        return
    r.check(res, want, f"{op} {q!r}", key_of=key_of)


def run_query(r: Run) -> None:
    """Cold and hot serving, interleaved in SLICES so both sample the same
    stretch of time.  Cold: first-touch queries on a freshly opened handle
    with the shared tier attached.  Hot: a Zipf stream over a shared pool
    on a handle whose caches an untimed pass filled.  Then the cold
    queries again on a replica attached to the tier the first pass
    filled, and distributed search()."""
    p, exp, tr = r.plan, r.exp, r.tr
    out = os.path.join(r.run_dir, "index")
    r.warm_up()
    h, build_s = r.build(p["base"]["dir"], out, "build")
    r.e2e["index_docs_per_s"] = h.n_docs / build_s
    r.setup_opens(out)
    r.e2e["index_bytes_per_text_byte"] = index_bytes(out) / exp["text_bytes"][0]

    pool = p["pool"]
    hot = r.open(out).engine
    hot.warm(preload_terms=sorted({t for q, _ in pool for t in hot.query_terms(q)}))
    # the preload stays in the driver caches; the pinned postings would
    # turn the cold phase's pruned parquet fetch into an in-memory scan
    hot.postings.unpersist(blocking=True)
    r.group("fetch")
    for i, (q, conj) in enumerate(pool):  # untimed pass: fills both caches
        r.check(hot.search_local(q, K, conj), exp["pool"][i], f"warm {q!r}")
    cache_root = os.path.join(r.run_dir, "shared_cache")
    h = r.open(out)
    eng, cache = h.engine, h.attach_shared_cache(cache_root)
    for i, q in enumerate(p["warm"]):  # untimed: JIT-compiles the fetch path
        r.check(eng.search_local(q, K), exp["warm"][i], f"warm {q!r}")
    r.instrument(hot)
    r.instrument(eng, cache)

    cold, first, lat, stream = p["cold"], [], [], p["stream"]
    seen: Counter = Counter()
    n = 0
    for _ in range(SLICES):
        deadline = time.perf_counter() + COLD_SHARE * r.seconds / SLICES
        while len(first) < len(cold) and time.perf_counter() < deadline:
            i = len(first)
            tr.qid = i
            timed(r, "op.query", lambda q: eng.search_local(q, K), cold[i], exp["cold"][i], first)
        deadline = time.perf_counter() + HOT_SHARE * r.seconds / SLICES
        while time.perf_counter() < deadline:
            qi = stream[n % len(stream)]
            q, conj = pool[qi]
            tr.qid = n
            n += 1
            try:
                t0 = time.perf_counter()
                with tr.span("op.query"):
                    res = hot.search_local(q, K, conj)
                lat.append(time.perf_counter() - t0)
            except Exception:
                r.error(f"query {q!r}")
            else:
                seen[(qi, tuple(res))] += 1
    for (qi, res), times in seen.items():
        r.check(res, exp["pool"][qi], f"query {pool[qi][0]!r}", times=times)

    ran = range(len(first))
    replica = r.open(out)
    r.instrument(replica.engine, replica.attach_shared_cache(cache_root))
    rep = []
    for i in ran:
        tr.qid = i
        timed(r, "op.replica", lambda q: replica.engine.search_local(q, K), cold[i], exp["cold"][i], rep)
    r.group("distributed")
    dist = []
    deadline = time.perf_counter() + DIST_SHARE * r.seconds
    for i in ran:
        if len(dist) >= DIST_MIN and time.perf_counter() >= deadline:
            break
        tr.qid = i
        timed(
            r, "op.distributed",
            lambda q: [(row["doc_id"], row["score"]) for row in eng.search(q, K).collect()],
            cold[i], exp["cold"][i], dist,
        )

    r.e2e["miss_p50_ms"] = r.check_mod.median(first) * 1000.0
    r.e2e["hit_p50_ms"] = r.check_mod.median(lat) * 1000.0
    r.latency("first_touch", first)
    r.latency("replica", rep)
    r.latency("distributed", dist)
    r.latency("hot", lat)
    r.detail("hot_distinct_queries", len({qi for qi, _ in seen}), "count", f"pool={len(pool)}")
    r.ops(build_s + sum(first) + sum(rep) + sum(dist) + sum(lat))


def _url_map(out: str) -> dict:
    import pyarrow.parquet as pq

    m = {}
    for d in read_meta(out).get("docs_dirs", ["docs"]):
        t = pq.read_table(os.path.join(out, d), columns=["doc_id", "url"])
        m.update(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))
    return m


def run_ingest(r: Run) -> None:
    """Bulk build checked by the reference queries, then append rounds
    each followed by a query burst on the handle the append returns (run
    on first touch, then WARM_PASSES times warm), then compaction, one
    more burst and ``fsck_index``."""
    from tse_spark.plans import append as ap
    from tse_spark.plans import compact as cp

    p, exp, tr = r.plan, r.exp, r.tr
    out = os.path.join(r.run_dir, "index")
    r.warm_up()
    h, build_s = r.build(p["base"]["dir"], out, "build")
    n_docs = h.n_docs
    r.group("check")
    eng = r.open(out).engine
    eng.warm(preload_terms=sorted({t for q in p["ref"] for t in eng.query_terms(q)}))
    for i, q in enumerate(p["ref"]):
        r.check(eng.search_local(q, K), exp["ref"][i], f"reference {q!r}")
    eng.postings.unpersist(blocking=True)
    r.setup_opens(out)

    miss, hit = [], []

    def burst(handle, queries, want):
        keys = _url_map(out)
        r.instrument(handle.engine)
        r.group("fetch")
        for lat, op in [(miss, "op.fresh_query")] + [(hit, "op.query")] * WARM_PASSES:
            for i, q in enumerate(queries):
                tr.qid = i
                timed(r, op, lambda q: handle.engine.search_local(q, K), q, want[i], lat, keys)

    append_s, written = [], []
    for i, delta in enumerate(p["deltas"]):
        before = set(os.listdir(out))
        r.group("append")
        t0 = time.perf_counter()
        try:
            with tr.span("op.append"):
                h = ap.append_pages(r.spark, out, delta["dir"], r.dictionary)
        except Exception:
            r.error(f"append {i}")
            continue
        append_s.append(time.perf_counter() - t0)
        new = set(os.listdir(out)) - before
        written.append(sum(dir_bytes(os.path.join(out, d)) for d in new))
        r.layer["append.term_stats_bytes"] = dir_bytes(os.path.join(out, read_meta(out)["term_stats_dir"]))
        burst(h, p["bursts"][i], exp["bursts"][i])
    meta = read_meta(out)
    n_appended = meta["n_docs"] - n_docs
    r.e2e["index_bytes_per_text_byte"] = index_bytes(out) / sum(exp["text_bytes"])
    r.layer["index.postings_dirs"] = len(meta.get("postings_dirs", ["postings"]))
    r.layer["append.append_pages.s"] = r.check_mod.median(append_s)
    r.layer["append.bytes_written_per_text_byte"] = sum(written) / sum(exp["text_bytes"][1:])

    before = set(os.listdir(out))
    r.group("compact")
    t0 = time.perf_counter()
    with tr.span("op.compact"):
        h = cp.compact_index(r.spark, out, r.dictionary)
    compact_s = time.perf_counter() - t0
    new = set(os.listdir(out)) - before
    r.layer["compact.compact_index.s"] = compact_s
    r.layer["compact.bytes_rewritten"] = sum(dir_bytes(os.path.join(out, d)) for d in new)
    burst(h, p["bursts"][-1], exp["bursts"][-1])
    r.fsck(out, "compaction")

    write_s = build_s + sum(append_s) + compact_s
    r.e2e["index_docs_per_s"] = (n_docs + n_appended) / write_s
    r.e2e["miss_p50_ms"] = r.check_mod.median(miss) * 1000.0
    r.e2e["hit_p50_ms"] = r.check_mod.median(hit) * 1000.0
    r.latency("fresh_query", miss)
    r.latency("warm_query", hit)
    r.detail("build_docs_per_s", n_docs / build_s, "docs/s")
    r.detail("append_p50_s", r.check_mod.median(append_s), "s", f"n={len(append_s)}, {n_appended} docs")
    r.detail("compact_s", compact_s, "s")
    r.ops(write_s + sum(miss) + sum(hit))


RUNNERS = {"ingest": run_ingest, "query": run_query}


# -- per-layer aggregation -------------------------------------------------


def layer_metrics(r: Run, spark_metrics: dict, span_cost_s: float) -> dict:
    import spans as sp

    tr = r.tr
    selfs = sp.self_times(tr.spans)
    dur = defaultdict(float)
    num = Counter()
    self_by_layer = defaultdict(float)
    for s, own in zip(tr.spans, selfs):
        dur[s.name] += s.end - s.start
        num[s.name] += 1
        self_by_layer[OP_LAYER.get(s.name, s.name.split(".")[0])] += own
    op_self = defaultdict(float)
    for s, own in zip(tr.spans, selfs):
        if s.parent is None:
            op_self[s.name] += own
    c = tr.counts
    n_local = sum(num[o] for o in LOCAL_QUERY_OPS)

    def per(total: float, n: float) -> float:
        return total / n if n else 0.0

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m.update({
        "search.analyze.ms": per(dur["search.analyze"], n_local) * 1000.0,
        "search.fetch.ms": per(c["search.fetch.spark_s"], c["search.fetch.spark_jobs"]) * 1000.0,
        "search.fetch.spark_jobs": c["search.fetch.spark_jobs"],
        "search.fetch.terms": c["search.fetch.terms"],
        "search.fetch.bytes": c["search.fetch.bytes"],
        "search.term_lru.hit_ratio": per(c["search.term_lru.hits"], c["search.term_lru.lookups"]),
        "search.decode_score.ms": per(dur["search.decode_score"], n_local) * 1000.0,
        "search.scored_cache.hit_ratio": per(c["search.scored_cache.hits"], c["search.scored_cache.lookups"]),
        "wand.select.ms": per(sum(op_self[o] for o in LOCAL_QUERY_OPS), n_local) * 1000.0,
        "wand.select.postings": per(c["wand.select.postings"], n_local),
        "servecache.get.ms": per(dur["servecache.get"], num["servecache.get"]) * 1000.0,
        "servecache.put.ms": per(dur["servecache.put"], num["servecache.put"]) * 1000.0,
        "servecache.hit_ratio": per(c["servecache.hits"], c["servecache.gets"]),
        "search.idf.ms": per(dur["search.idf"], num["op.distributed"]) * 1000.0,
        "search.distributed.ms": per(op_self["op.distributed"], num["op.distributed"]) * 1000.0,
        "pipeline.load_index.s": per(dur["pipeline.load_index"], num["pipeline.load_index"]),
        "trace.overhead_ms": len(tr.spans) * span_cost_s * 1000.0,
        "trace.span_sum_error_ms": sp.span_sum_error(tr.spans, MEASURED_OPS, r.ops_ms / 1000.0) * 1000.0,
        "trace.spans": float(len(tr.spans)),
        "trace.ops_ms": r.ops_ms,
    })
    for layer in ("pipeline", "index_build", "postings", "search", "wand", "servecache", "append", "compact"):
        m[f"{layer}.self_ms"] = self_by_layer[layer] * 1000.0
    m.update(r.layer)
    m.update(spark_metrics)
    return m


# -- Spark session -----------------------------------------------------------


def start_spark(run_dir: str, trace: bool):
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    from tse_spark.session import get_spark

    return get_spark(CPUS)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- process cleanup -----------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 10.0


def become_subreaper() -> None:
    """Adopt every orphaned descendant: the pyspark daemon and its workers
    outlive the JVM that forked them for a moment, and would otherwise
    pass to init, out of reach of ``reap_all``."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def child_pids() -> list:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_all(grace: float = REAP_GRACE_S) -> None:
    """Stop every process this run started, directly or not, and wait
    until each has ended.  The multiprocessing resource tracker is closed
    the way it expects (so it still unlinks what it tracks); anything left
    gets SIGTERM, and SIGKILL after ``grace`` seconds."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    while kids := child_pids():
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)


# -- entry point -------------------------------------------------------------


def pin_hash_seed() -> None:
    """Re-run this process under a fixed string-hash seed.  Hash
    randomization changes dict and set layouts from run to run, and with
    them the hot path's latency by up to ~15% on one input; pinned, runs
    of one input agree within a few percent."""
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:], env)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tse_spark")):
        print(f"perfbench: no tse_spark package under {ROOT}", file=sys.stderr)
        return 2
    import spans as sp

    t_start = time.perf_counter()
    cpu0, spin0 = _cpu_times(), spin_ms()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # every temporary file of this process, its children and the JVM
    # stays inside the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        inputs = load_inputs(args.workload, args.seed)
        prepare_s = time.perf_counter() - t_start
        r = Run(args, inputs, run_dir, sp.Tracer(bool(args.trace)))
        try:
            t0 = time.perf_counter()
            r.spark = start_spark(run_dir, r.tr.enabled)
            r.detail("session_start_s", time.perf_counter() - t0, "s")
            RUNNERS[args.workload](r)
            from pyspark import SparkContext

            r.e2e["memory_mb"] = hwm_mb("self") + jvm_heap_mb(r.spark)
            r.detail("driver_peak_rss_mb", hwm_mb("self"), "MB")
            r.detail("jvm_peak_rss_mb", hwm_mb(SparkContext._gateway.proc.pid), "MB")
        finally:
            if r.spark is not None:
                stop_spark(r.spark)
        spark_metrics = sp.spark_phase_metrics(os.path.join(run_dir, "eventlog")) if r.tr.enabled else {}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = _cpu_times()
    total = sum(cpu1) - sum(cpu0)
    r.detail("cpus", len(os.sched_getaffinity(0)), "count")
    r.detail("steal", (cpu1[7] - cpu0[7]) / total if total else 0.0, "fraction")
    r.detail("spin_ref_ms", spin0, "ms", "start")
    r.detail("spin_ref_ms", spin_ms(), "ms", "end")
    r.detail("inputs_s", prepare_s, "s", "generation and oracle, cached per seed")
    r.detail("wall_s", time.perf_counter() - t_start, "s")
    if r.tr.enabled:
        metrics = layer_metrics(r, spark_metrics, sp.calibrate())
        gap, allowed = metrics["trace.span_sum_error_ms"], SPAN_SUM_TOLERANCE * r.ops_ms
        r.detail("span_sum_error_ms", gap, "ms", f"tolerance {allowed:.6g} ms")
        r.verdict(gap <= allowed, f"root spans sum {gap:.6g} ms away from the measured calls")
        units = {name: unit for name, unit, _ in PER_LAYER}
        units.update({f"spark.{p}.{k}": u for p in sp.PHASES for k, u in SPARK_KEYS})
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}_s{args.seed}.json"), "w") as f:
            json.dump({"spans": [s.as_dict() for s in r.tr.spans], "counts": r.tr.counts}, f)
    else:
        metrics, units = r.e2e, E2E_UNITS
    for name, value, unit, note in r.details:
        print(f"perfbench: {name} = {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(units)},
    }))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    pin_hash_seed()
    become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, _terminate)
    try:
        code = main()
    finally:
        reap_all()
    sys.exit(code)
