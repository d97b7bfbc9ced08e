"""Index-build + serving benchmark for a REAL multi-executor cluster,
launched via ``spark-submit --py-files tse_spark.zip`` against a
standalone master (the north-rule launch shape: reference
index/readme.txt:11-28 build + index/Query.cpp:59-82 serving, re-run
as one Spark job per cluster size).

Unlike ``tse_spark.bench_build`` (one JVM, sequential ``local[N]``
contexts), every invocation of this script is one cluster size: the
driver JVM and each executor JVM are separate processes, shuffles cross
real executor boundaries, and broadcasts ship over the RPC layer — the
things ``local[N]`` cannot evidence.  The orchestrator
(``scripts/run_cluster_scaling.py``) submits it twice, at N and 4N
executors, and computes build-throughput scaling efficiency between
them.

Prints ONE JSON line:
``{"master", "executors", "executor_cores", "n_docs", "build_s",
"docs_per_sec", "stages", "query_p50_ms", "topk_fingerprint"}``.

The ``topk_fingerprint`` (md5 over the ordered (doc_id, score_4dp)
top-k rows of the reference query set) must be IDENTICAL across
cluster sizes: scaling must not change a single ranked result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import time


def _executor_info(spark):
    """(n_executors, total_cores) actually registered, driver excluded.

    PySpark's StatusTracker does not surface executorInfos, so count
    through the JVM gateway's block-manager map (one entry per executor
    plus the driver); total cores = defaultParallelism, which standalone
    mode defines as the sum of granted executor cores."""
    sc = spark.sparkContext
    n = sc._jsc.sc().getExecutorMemoryStatus().size() - 1
    return max(n, 0), sc.defaultParallelism


def _wait_for_executors(spark, want: int, timeout_s: float = 60.0) -> int:
    """Block until the master has granted ``want`` executors (or the
    timeout passes): timing a build while executors are still
    registering would charge ramp-up to the first stage."""
    t0 = time.time()
    n = 0
    while time.time() - t0 < timeout_s:
        n, _ = _executor_info(spark)
        if n >= want:
            return n
        time.sleep(0.5)
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--out", required=True, help="index output dir (wiped)")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--warmup-docs", type=int, default=4000)
    ap.add_argument(
        "--expect-executors", type=int, default=0,
        help="block until this many executors register before timing",
    )
    ap.add_argument("--topk", type=int, default=10)
    args = ap.parse_args()

    import shutil

    from pyspark.sql import SparkSession

    from tse_spark import fixtures
    from tse_spark.plans import pipeline as pl

    # master/cores/memory all come from spark-submit: this script must
    # run unchanged at every cluster size
    spark = SparkSession.builder.appName("tse-cluster-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.expect_executors:
        _wait_for_executors(spark, args.expect_executors)
    n_exec, total_cores = _executor_info(spark)

    # untimed warmup: executors JIT/codegen-warm on a small sample so
    # the timed leg measures the steady state a multi-hour job runs at
    if args.warmup_docs > 0:
        warm_out = args.out + ".warmup"
        shutil.rmtree(warm_out, ignore_errors=True)
        pg = spark.read.parquet(args.pages)
        frac = min(1.0, args.warmup_docs / max(1, pg.count()))
        warm_dir = warm_out + ".pages"
        shutil.rmtree(warm_dir, ignore_errors=True)
        pg.sample(fraction=frac, seed=1).write.mode("overwrite").parquet(
            warm_dir
        )
        pl.IndexPipeline(
            spark, warm_out, tokenizer="tse",
            dictionary=fixtures.mini_dict_bytes(),
            num_shards=args.shards,
            num_partitions=args.partitions, force_extract=True,
            checkpoint_mode="final",
        ).run_from_pages(warm_dir, resume=False)
        shutil.rmtree(warm_out, ignore_errors=True)
        shutil.rmtree(warm_dir, ignore_errors=True)

    shutil.rmtree(args.out, ignore_errors=True)
    pipe = pl.IndexPipeline(
        spark, args.out, tokenizer="tse",
        dictionary=fixtures.mini_dict_bytes(),
        num_shards=args.shards,
        num_partitions=args.partitions, force_extract=True,
        checkpoint_mode="final",
    )
    t0 = time.time()
    handle = pipe.run_from_pages(args.pages, resume=False)
    build_s = time.time() - t0

    # serving: block-max WAND top-k over the reference query set; the
    # fingerprint pins rank-identity across cluster sizes
    queries = fixtures.gen_queries()
    lat: list[float] = []
    fp = hashlib.md5()
    for _, q, k in queries:
        t0 = time.time()
        rows = handle.engine.search_local(q, max(k, args.topk))
        lat.append((time.time() - t0) * 1000.0)
        for doc_id, score in rows:
            fp.update(f"{doc_id}:{score:.4f};".encode())
    lat.sort()

    print(json.dumps({
        "master": spark.sparkContext.master,
        "executors": n_exec,
        "executor_cores": total_cores,
        "n_docs": handle.n_docs,
        "build_s": round(build_s, 3),
        "docs_per_sec": round(handle.n_docs / build_s, 1),
        "stages": {
            name: st.get("seconds")
            for name, st in handle.manifest.stages.items()
        },
        "query_p50_ms": round(statistics.median(lat), 2),
        "query_p95_ms": round(lat[int(len(lat) * 0.95) - 1], 2),
        "topk_fingerprint": fp.hexdigest(),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
