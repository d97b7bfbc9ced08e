"""Corpus statistical laws: Heaps vocabulary growth and Zipf rank-
frequency — the capacity-planning analytics an index operator runs
before sizing dictionary shards and posting storage at a new corpus
scale.

The reference's corpus is fixed (21,312 docs, DocSegment.cpp:20) so it
never needed these; at 10^12 docs the dictionary and posting-mass
forecasts come from exactly these two fits: Heaps' law V = K * T^beta
predicts vocabulary (dictionary shard count, bloom sizing) from token
count, Zipf's slope predicts how skewed posting lengths will be (the
hot-shard / salting decision in the (term, shard) shuffle).

All three operators are pure DataFrame aggregations over the tf table
(one shuffle each, no collects) with closed-form least-squares fits
expressed as SQL aggregates, so the DuckDB oracles are exact twins.  The
fits' four sums go through the fixed-point BIGINT law (each ln term
quantized to ``floor(x * 2^20 + 0.5)`` and summed as BIGINT), so they
are exact in any order: the rounded slope cannot flip with partitioning
or engine.

- :func:`vocab_growth` — cumulative (docs, tokens, vocab) per corpus
  decile.  A term's decile is its FIRST occurrence's decile (min
  doc_id), so the cumulative vocab counts each term exactly once;
  decile boundaries use integer arithmetic (``doc_id * B div n``) to
  avoid float-boundary drift between engines.
- :func:`heaps_fit` — ln-ln least squares over the growth points:
  one row (beta, k).
- :func:`zipf_slope` — ln-ln least squares of frequency vs rank over
  the top-N terms (rank ties broken by term for determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# fixed-point scale for the least-squares sums: the same floor(x * 2^20
# + 0.5) BIGINT law as the k-means centroid update (clustering.py)
FP_SCALE = 1 << 20


def vocab_growth(
    tf: DataFrame, n_docs: int, buckets: int = 10
) -> DataFrame:
    """(decile, docs_prefix, tokens_prefix, vocab_prefix) for decile
    1..buckets over a dense 0..n_docs-1 doc-id space."""
    b = int(buckets)
    n = int(n_docs)
    spark = tf.sparkSession
    deciles = spark.range(1, b + 1).select(
        F.col("id").cast("long").alias("decile")
    )
    tok = tf.select(
        F.expr(f"doc_id * {b} div {n} + 1").alias("d"), "tf"
    )
    tokens_per = tok.groupBy("d").agg(F.sum("tf").alias("toks"))
    first = tf.groupBy("term").agg(F.min("doc_id").alias("fd"))
    vocab_per = first.select(
        F.expr(f"fd * {b} div {n} + 1").alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).alias("voc"))
    w = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deciles.join(tokens_per, deciles.decile == tokens_per.d, "left")
        .drop("d")
        .join(vocab_per, deciles.decile == vocab_per.d, "left")
        .drop("d")
        .select(
            "decile",
            # count of doc_id in [0, n) with doc_id*b < k*n
            ((F.col("decile") * n + (b - 1)).cast("long") / b)
            .cast("long")
            .alias("docs_prefix"),
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(w)
            .alias("tokens_prefix"),
            F.sum(F.coalesce(F.col("voc"), F.lit(0)))
            .over(w)
            .alias("vocab_prefix"),
        )
    )


def _fixed_sum(c):
    """sum(floor(c * FP_SCALE + 0.5)) as BIGINT, back in c's units:
    exact in any summation order, so every partitioning (and the DuckDB
    oracle) gets the same double."""
    return (
        F.sum(F.floor(c * float(FP_SCALE) + 0.5).cast("long"))
        / float(FP_SCALE)
    )


def _lnln_slope(df: DataFrame, x: str, y: str) -> DataFrame:
    """One row (slope, intercept_exp) of the ln-ln least squares fit
    y = e^a * x^slope, as pure SQL aggregates over fixed-point sums."""
    pts = df.select(
        F.log(F.col(x).cast("double")).alias("lx"),
        F.log(F.col(y).cast("double")).alias("ly"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        _fixed_sum(F.col("lx")).alias("sx"),
        _fixed_sum(F.col("ly")).alias("sy"),
        _fixed_sum(F.col("lx") * F.col("ly")).alias("sxy"),
        _fixed_sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        slope.alias("slope"),
        F.exp(
            (F.col("sy") - slope * F.col("sx")) / F.col("m")
        ).alias("coeff"),
    )


def heaps_fit(growth: DataFrame) -> DataFrame:
    """(heaps_beta, heaps_k) from a :func:`vocab_growth` result:
    V = k * T^beta fitted over the cumulative decile points."""
    fit = _lnln_slope(
        growth.filter(
            (F.col("tokens_prefix") > 0) & (F.col("vocab_prefix") > 0)
        ),
        "tokens_prefix",
        "vocab_prefix",
    )
    return fit.select(
        F.round("slope", 4).alias("heaps_beta"),
        F.round("coeff", 4).alias("heaps_k"),
    )


def zipf_slope(tf: DataFrame, top_n: int = 100) -> DataFrame:
    """(zipf_slope,) of ln(cf) vs ln(rank) over the top_n terms by
    collection frequency (ties broken by term)."""
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    ranked = cf.select(
        "cf",
        F.row_number()
        .over(Window.orderBy(F.desc("cf"), F.asc("term")))
        .alias("rank"),
    ).filter(F.col("rank") <= top_n)
    return _lnln_slope(ranked, "rank", "cf").select(
        F.round("slope", 4).alias("zipf_slope")
    )
