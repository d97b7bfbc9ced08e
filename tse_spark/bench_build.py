"""Index-build throughput runner at one or more parallelism levels.

Run as a subprocess by the repo-root ``bench.py``: ``--cpus 16,4`` runs
both levels sequentially in ONE JVM (a fresh ``local[N]`` SparkContext
per level).  Sharing the JVM is deliberate: whole-stage-codegen classes
and JIT state are per-JVM, so the untimed warmup pass before the first
level covers every later level too — both timed runs then measure the
same steady-state the multi-hour 100 TB job runs at, instead of the
second level re-paying ~40 s of compilation the first one already paid.
(On a real N- vs 4N-executor cluster each executor JIT-warms during the
first minutes of a many-hour job; per-level fresh-JVM costs are not part
of the north_rule's scaling criterion.)

Prints one JSON line per completed level —
``{"cpus", "n_docs", "seconds", "docs_per_sec", "stages"}`` — so a
caller that times out mid-run still sees every finished level.
Timing covers the full pages -> docs -> tf -> posting-shards ->
term-stats pipeline (extraction automaton + FMM tokenization included),
excluding JVM/session startup.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import pandas as pd
from pyspark.sql import SparkSession

# one decomposition for every parallelism level (see build_session note)
BENCH_PARTITIONS = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "64"))


def _cpu_stat() -> tuple[float, float]:
    """(busy, steal) jiffies from /proc/stat — per-leg evidence of
    hypervisor co-tenancy during the timed window."""
    try:
        with open("/proc/stat") as f:
            v = [float(x) for x in f.readline().split()[1:9]]
        return sum(v) - v[3] - v[4], v[7]
    except Exception:
        return 0.0, 0.0


def _spin_mref(duration: float = 0.15) -> float:
    """Single-thread CPU reference: calibrated arithmetic-loop rate
    (M iterations/s) over a short window.  Catches the contention mode
    steal_frac cannot see — same-VM load or host-level slowdown that
    throttles effective per-core speed without stolen jiffies (a
    measured failure: a leg with steal 0.011 ran 1.5x its quiet time).
    Recorded per leg; a leg only counts as quiet for early-stop when
    its reference rate is within tolerance of the best seen, so a
    contended-but-steal-free window keeps the sampler running."""
    t_end = time.perf_counter() + duration
    n = 0
    x = 1.0
    while time.perf_counter() < t_end:
        for _ in range(10000):
            x = x * 1.0000001 + 1e-9
        n += 10000
    return round(n / duration / 1e6, 2)


def build_session(cpus: int) -> SparkSession:
    from tse_spark.session import export_worker_sitecustomize

    export_worker_sitecustomize()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"tse-bench-build-{cpus}")
        # partition count is fixed by DATA size, not core count: the
        # N- vs 4N-level runs must execute the identical decomposition
        # (as a real cluster job does — partitioning is chosen for the
        # input, executors vary), and per-task memory for the Arrow
        # posting encoder stays bounded at low parallelism.  64 matches
        # the 64-file fixture; >=2 tasks/core at the big level smooths
        # stragglers.
        .config("spark.sql.shuffle.partitions", str(BENCH_PARTITIONS))
        # checkpoint tables are re-read by the next stage: 8 MB row
        # groups keep those scans splittable below file granularity
        # (a 128 MB default row group makes a 17 MB file one
        # unsplittable task — the measured tf-stage straggler).
        # Posting dirs are not governed by this: write_postings sets
        # its own ~64 KB row-group cap per write.
        .config("spark.hadoop.parquet.block.size", str(8 << 20))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE floors coalescing at minPartitionSize (default 1 MB); the
        # sandbox corpus shuffles only a few MB, which would coalesce
        # UDF stages to ~6 partitions regardless of cores.  At real
        # scale (TB shuffles) the default is right; here we lower the
        # floor so post-shuffle parallelism tracks the core count.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # small fixture files: keep one task per input file so the
        # extraction stage's parallelism tracks core count, as it would
        # on a real many-file table with default 128 MB splits
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "0")
        # NOTE: spark.speculation is intentionally absent — Spark never
        # starts the speculation scheduler under a local[N] master, so
        # it would be a silent no-op here.  On a real cluster pass it
        # via spark-submit --conf (see scripts/build_index.py).
        #
        # Shuffle/spill scratch on tmpfs: the sandbox has ONE shared
        # disk, so concurrent shuffle writers serialize on it as cores
        # grow — a hardware artifact a real cluster doesn't have (every
        # executor owns its local SSDs, so aggregate shuffle bandwidth
        # scales with the fleet).  On a cluster leave spark.local.dir
        # to the per-node default.
        .config(
            "spark.local.dir",
            "/dev/shm/tse-spark-local"
            if os.path.isdir("/dev/shm")
            else "/tmp",
        )
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_worker_pool(spark: SparkSession, cpus: int) -> None:
    """Spawn + warm one Python worker per core (pandas/pyarrow imports)
    before the timed region.  On a real cluster this is a fixed
    per-executor cost amortized over a multi-hour 100 TB job; leaving it
    inside the timer would charge the 4N-core run 4x the constant and
    misstate steady-state scaling."""
    import time as _time

    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        _time.sleep(0.5)  # hold the task so all cores fork a worker
        return s

    spark.range(cpus, numPartitions=cpus).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()


def _run_warmup(spark, args, cpus: int) -> None:
    """Untimed full-pipeline pass over a small sample: compiles every
    whole-stage-codegen path and JIT-warms the JVM, so the timed runs
    measure steady-state throughput (what a multi-hour 100 TB job runs
    at), not first-minute compilation.  The cost is dominated by fixed
    per-job planning, so the sample is capped at ``--warmup-docs``."""
    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    warm_out = args.out + ".warmup"
    shutil.rmtree(warm_out, ignore_errors=True)
    warm_pipe = pl.IndexPipeline(
        spark,
        warm_out,
        tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=args.shards,
        num_partitions=BENCH_PARTITIONS,
        force_extract=True,
        checkpoint_mode="final",
    )
    pg = spark.read.parquet(args.pages)
    frac = min(1.0, args.warmup_docs / max(1, pg.count()))
    warm_dir = warm_out + ".pages"
    shutil.rmtree(warm_dir, ignore_errors=True)
    pg.sample(fraction=frac, seed=1).write.mode("overwrite").parquet(warm_dir)
    warm_pipe.run_from_pages(warm_dir, resume=False)
    shutil.rmtree(warm_out, ignore_errors=True)
    shutil.rmtree(warm_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--cpus",
        required=True,
        help="comma-separated parallelism levels (e.g. 16,4), run "
        "sequentially in one JVM; warmup runs once before the first",
    )
    ap.add_argument("--pages", required=True, help="pages parquet dir/file")
    ap.add_argument("--out", required=True, help="index output dir (wiped)")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--warmup-docs", type=int, default=4000)
    ap.add_argument(
        "--quiet-steal",
        type=float,
        default=0.0,
        help="with --min-quiet: a leg counts as quiet when its "
        "steal_frac is <= this",
    )
    ap.add_argument(
        "--mref-floor",
        type=float,
        default=0.0,
        help="host-historical best spin reference (M iters/s): a leg "
        "only counts as quiet when its own reference is within 7% of "
        "max(best seen this run, this floor) — a run where EVERY window "
        "is contended (steal 0, uniformly low mref) must not grade "
        "itself quiet and early-stop",
    )
    ap.add_argument(
        "--min-quiet",
        type=int,
        default=0,
        help="stop early once every distinct level has this many "
        "quiet legs (0 = run the full list); the caller's per-level "
        "minimum needs quiet windows, not a fixed rep count, so on a "
        "calm machine the saved budget goes to later phases while a "
        "steal-bursty one keeps sampling to the deadline",
    )
    args = ap.parse_args()

    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    levels = [int(x) for x in args.cpus.split(",")]
    quiet_legs: dict[int, int] = {n: 0 for n in levels}
    level_times: dict[int, list] = {}
    best_mref = 0.0
    for i, cpus in enumerate(levels):
        if args.min_quiet and all(
            c >= args.min_quiet for c in quiet_legs.values()
        ):
            break
        final_dir = f"{args.out}_{cpus}" if len(levels) > 1 else args.out
        # build into a temp dir, swap in on completion: a deadline kill
        # mid-leg must never destroy the last COMPLETE index for this
        # level (the serving phase reads it after the subprocess dies)
        out_dir = final_dir + ".tmp"
        shutil.rmtree(out_dir, ignore_errors=True)
        spark = build_session(cpus)
        warm_worker_pool(spark, cpus)
        if i == 0 and args.warmup_docs > 0:
            _run_warmup(spark, args, cpus)
        pipe = pl.IndexPipeline(
            spark,
            out_dir,
            tokenizer="tse",
            dictionary=fixtures.mini_dict_bytes(),
            num_shards=args.shards,
            num_partitions=BENCH_PARTITIONS,
            force_extract=True,  # always exercise the extraction automaton
            checkpoint_mode="final",
        )
        mref0 = _spin_mref()
        b0, s0 = _cpu_stat()
        t0 = time.time()
        handle = pipe.run_from_pages(args.pages, resume=False)
        dt = time.time() - t0
        b1, s1 = _cpu_stat()
        mref = min(mref0, _spin_mref())
        best_mref = max(best_mref, mref)
        stages = {
            name: st.get("seconds")
            for name, st in handle.manifest.stages.items()
        }
        shutil.rmtree(final_dir, ignore_errors=True)
        os.rename(out_dir, final_dir)
        rec = {
            "cpus": cpus,
            "n_docs": handle.n_docs,
            "seconds": round(dt, 3),
            "docs_per_sec": round(handle.n_docs / dt, 1),
            "index_dir": final_dir,
            "stages": stages,
        }
        rec["spin_mref"] = mref
        if b1 + s1 > b0 + s0:
            # share of this leg's cycles stolen by the hypervisor: the
            # wall clock is pessimistic by roughly 1/(1-steal)
            rec["steal_frac"] = round(
                (s1 - s0) / max(1.0, (b1 - b0) + (s1 - s0)), 3
            )
            # quiet = low steal AND per-core reference speed within 7%
            # of the best window seen: same-VM/host contention shows in
            # the spin reference, never in steal
            if (
                rec["steal_frac"] <= args.quiet_steal
                and mref >= 0.93 * max(best_mref, args.mref_floor)
            ):
                quiet_legs[cpus] += 1
        # agreement fallback: a historical mref floor goes STALE when
        # the box's steady silicon is simply slower than its best-ever
        # window (observed r5: floor 38.1 vs healthy legs ~32 — no leg
        # ever graded quiet, the rep budget burned to the deadline and
        # squeezed the battery to 36 members).  Two same-level
        # low-steal legs agreeing within 3% are contention evidence of
        # the same strength — a steal burst inflates ONE leg, not two
        # independent ones — so they count as quiet regardless of the
        # absolute floor.
        level_times.setdefault(cpus, []).append(
            (dt, rec.get("steal_frac", 0.0))
        )
        calm = [
            t for t, s in level_times[cpus] if s <= args.quiet_steal
        ]
        if len(calm) >= 2:
            lo = min(calm)
            quiet_legs[cpus] = max(
                quiet_legs[cpus],
                sum(1 for t in calm if t <= 1.03 * lo),
            )
        print(json.dumps(rec), flush=True)
        # stop the context, keep the JVM (and its codegen/JIT caches):
        # the next level starts a fresh local[N] context in-place
        spark.stop()


if __name__ == "__main__":
    main()
