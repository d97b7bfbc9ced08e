"""Corpus-law operators (operators/corpuslaws.py) vs numpy references
on a synthetic corpus whose vocabulary actually grows (Zipf-sampled
term ids), plus decile-boundary edge cases."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tse_spark.operators import corpuslaws as cl


@pytest.fixture(scope="module")
def zipf_tf(spark):
    """tf table over 200 docs x 40 tokens, term ids ~ Zipf(1.3) so new
    terms keep appearing deep into the corpus."""
    rng = np.random.RandomState(11)
    rows = []
    for d in range(200):
        terms = rng.zipf(1.3, size=40) % 5000
        uniq, cnt = np.unique(terms, return_counts=True)
        rows += [
            (int(d), f"t{int(t)}", int(c)) for t, c in zip(uniq, cnt)
        ]
    return (
        spark.createDataFrame(rows, "doc_id long, term string, tf long"),
        rows,
    )


def _ref_growth(rows, n, b=10):
    first: dict = {}
    toks = np.zeros(b + 1, dtype=np.int64)
    for d, t, c in rows:
        first.setdefault(t, d)
        toks[d * b // n + 1] += c
    voc = np.zeros(b + 1, dtype=np.int64)
    for t, d in first.items():
        voc[d * b // n + 1] += 1
    out = []
    for k in range(1, b + 1):
        out.append(
            (
                k,
                (k * n + b - 1) // b,
                int(toks[1:k + 1].sum()),
                int(voc[1:k + 1].sum()),
            )
        )
    return out


def test_vocab_growth_matches_reference(spark, zipf_tf):
    tf, rows = zipf_tf
    got = sorted(
        tuple(r) for r in cl.vocab_growth(tf, 200).collect()
    )
    assert got == _ref_growth(rows, 200)


def test_vocab_growth_monotone_and_complete(spark, zipf_tf):
    tf, rows = zipf_tf
    g = {r["decile"]: r for r in cl.vocab_growth(tf, 200).collect()}
    assert sorted(g) == list(range(1, 11))
    for k in range(2, 11):
        assert g[k]["vocab_prefix"] >= g[k - 1]["vocab_prefix"]
        assert g[k]["tokens_prefix"] > g[k - 1]["tokens_prefix"]
    # final decile covers the whole corpus
    n_terms = tf.select("term").distinct().count()
    n_toks = tf.agg(F.sum("tf")).collect()[0][0]
    assert g[10]["vocab_prefix"] == n_terms
    assert g[10]["tokens_prefix"] == n_toks
    assert g[10]["docs_prefix"] == 200


def test_heaps_fit_recovers_planted_law(spark):
    """Exact Heaps corpus: plant V(T) = 2 * T^0.6 points directly and
    check the fit recovers (beta, k) to rounding."""
    pts = spark.createDataFrame(
        [(int(10 ** k), float(2.0 * 10 ** (0.6 * k))) for k in
         range(1, 8)],
        "tokens_prefix long, vocab_prefix double",
    )
    got = cl.heaps_fit(pts).collect()[0]
    assert got["heaps_beta"] == pytest.approx(0.6, abs=1e-4)
    assert got["heaps_k"] == pytest.approx(2.0, abs=1e-3)


def test_zipf_slope_recovers_planted_law(spark):
    """cf(rank) = 1e6 * rank^-1.1 exactly -> slope -1.1."""
    tf = spark.createDataFrame(
        [
            (0, f"t{r:03d}", int(round(1e6 * r ** -1.1)))
            for r in range(1, 101)
        ],
        "doc_id long, term string, tf long",
    )
    got = cl.zipf_slope(tf, top_n=100).collect()[0]
    assert got["zipf_slope"] == pytest.approx(-1.1, abs=0.01)


def test_zipf_slope_real_zipf_sample(spark, zipf_tf):
    tf, _ = zipf_tf
    slope = cl.zipf_slope(tf, top_n=50).collect()[0]["zipf_slope"]
    assert -2.5 < slope < -0.2  # negative, sane magnitude


def test_fits_bit_identical_across_partitionings(spark, zipf_tf):
    """The ln-ln sums are fixed-point BIGINT, so the unrounded fit (and
    so the rounded one) cannot move with the order rows are summed in."""
    tf, _ = zipf_tf
    growth = spark.createDataFrame(cl.vocab_growth(tf, 200).collect())
    ranked = spark.createDataFrame(
        [(r, int(round(1e6 * r ** -1.1)) + r % 7) for r in range(1, 101)],
        "rank long, cf long",
    )

    def fits(n):
        g, t = growth.repartition(n), tf.repartition(n)
        return [
            tuple(df.first())
            for df in (
                cl._lnln_slope(g, "tokens_prefix", "vocab_prefix"),
                cl._lnln_slope(ranked.repartition(n), "rank", "cf"),
                cl.heaps_fit(g),
                cl.zipf_slope(t, top_n=100),
            )
        ]

    assert fits(1) == fits(4) == fits(16)
