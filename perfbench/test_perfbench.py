"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest

import check
import gen
import run
import spans


# -- generator determinism ------------------------------------------------


def test_pages_are_a_function_of_the_seed():
    a = gen.gen_pages(40, seed=7, length_scale=2)
    b = gen.gen_pages(40, seed=7, length_scale=2)
    c = gen.gen_pages(40, seed=8, length_scale=2)
    assert a == b
    assert a["html"] != c["html"]


def test_written_tables_repeat_per_seed(tmp_path):
    def table(name, seed):
        d = gen.write_pages(str(tmp_path / name), 60, 3, seed, 1)
        return sorted(
            row for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            for row in zip(*pq.read_table(os.path.join(d, f)).to_pydict().values())
        )

    assert table("a", 3) == table("b", 3)
    assert table("a", 3) != table("c", 4)


def test_query_streams_repeat_per_seed():
    for seed in (1, 2):
        assert gen.hot_pool(seed) == gen.hot_pool(seed)
        assert gen.cold_stream(seed, 50) == gen.cold_stream(seed, 50)
        assert gen.burst(seed, 1) == gen.burst(seed, 1)
        assert gen.zipf_stream(seed, 30, 100, "s") == gen.zipf_stream(seed, 30, 100, "s")
    assert gen.cold_stream(1, 50) != gen.cold_stream(2, 50)


def test_burst_mix_is_the_same_on_every_seed():
    def mix(seed):
        qs = gen.burst(seed, 0)
        return sorted(q.split()[0] for q in qs), sum(len(q.split()) == 2 for q in qs)

    assert mix(1) == mix(2) == (sorted(gen.BURST_FIRST_WORDS), 29)
    assert gen.burst(1, 0) != gen.burst(2, 0)


def test_cold_stream_never_repeats_a_tail_word():
    words = [w for q in gen.cold_stream(5, 400) for w in q.split() if w in gen.TAIL_WORDS]
    assert len(words) == len(set(words))
    assert not set(words) & set(gen.HOT_TAIL)


def test_plan_is_a_function_of_the_arguments():
    for w in run.WORKLOADS:
        assert run.plan(w, 3) == run.plan(w, 3)
    assert run.plan("query", 3) != run.plan("query", 4)


# -- percentile rule ------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(20, None), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    samples = list(range(n))
    got = check.tail_percentile(samples)
    if p is None:
        assert got is None
        return
    assert got[0] == p
    assert sum(s > got[1] for s in samples) >= 10


def test_median_and_percentile():
    assert check.median([3, 1, 2]) == 2
    assert check.median([4, 1, 2, 3]) == 2.5
    assert check.percentile(list(range(1, 101)), 90) == 90


# -- self-time arithmetic ---------------------------------------------------


def _span(name, start, end, parent=None):
    return spans.Span(name, start, end, parent, None)


def test_self_time_subtracts_the_union_of_children():
    s = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 5.0, 0),   # overlaps a: the union is 1..5
        _span("c", 8.0, 12.0, 0),  # clipped to the parent: 8..10
        _span("a1", 1.5, 2.0, 1),
    ]
    selfs = spans.self_times(s)
    assert selfs == pytest.approx([10 - 4 - 2, 3 - 0.5, 2, 4, 0.5])


def test_span_sum_error_compares_root_spans_with_the_callers_clock():
    tr = spans.Tracer(True)
    clock = 0.0
    for name in ("op", "op", "setup"):
        t0 = time.perf_counter()
        with tr.span(name):
            with tr.span("x"):
                time.sleep(0.002)
        clock += time.perf_counter() - t0
    assert [s.parent for s in tr.spans] == [None, 0, None, 2, None, 4]
    setup = tr.spans[4].end - tr.spans[4].start
    ops = clock - setup
    assert spans.span_sum_error(tr.spans, ("op",), ops) < 0.001
    # a measured call that no root span covers shows as its whole duration
    assert spans.span_sum_error(tr.spans, ("op",), clock) == pytest.approx(setup, abs=0.001)


def test_untraced_tracer_records_and_wraps_nothing():
    class Engine:
        def step(self, x):
            return x + 1

    e = Engine()
    tr = spans.Tracer(False)
    tr.wrap(e, "step", "engine.step")
    with tr.span("op"):
        assert e.step(1) == 2
    assert "step" not in vars(e)
    assert tr.spans == []


def test_wrap_times_one_instance_only():
    class Engine:
        def step(self, x):
            return x + 1

    e, other = Engine(), Engine()
    tr = spans.Tracer(True)
    seen = []
    tr.wrap(e, "step", "engine.step", before=lambda a: a[0], after=lambda st, a, out: seen.append((st, out)))
    assert e.step(4) == 5 and other.step(4) == 5
    assert [s.name for s in tr.spans] == ["engine.step"]
    assert seen == [(4, 5)]


# -- answer checks and the error count ----------------------------------------


def test_matches_allows_ties_at_rank_k_only():
    want = [[1, 3.0], [2, 2.0], [3, 1.0], [4, 1.0]]  # k=3, 3 and 4 tie
    assert check.matches([(1, 3.0), (2, 2.0), (3, 1.0)], want, 3)
    assert check.matches([(1, 3.0), (2, 2.0), (4, 1.00001)], want, 3)
    assert not check.matches([(2, 3.0), (1, 2.0), (3, 1.0)], want, 3)
    assert not check.matches([(1, 3.0), (2, 2.0)], want, 3)
    assert not check.matches([(1, 3.0), (2, 2.0), (3, 1.1)], want, 3)
    assert check.matches([], [], 3)


def test_expected_extends_the_tie_group():
    counts = {i: Counter({b"ab": 1}) for i in range(5)}
    o = check.Oracle(counts, frozenset())
    got = check.expected(o, "ab", False, 2)
    assert [d for d, _ in got] == [0, 1, 2, 3, 4]


def test_a_wrong_answer_counts_as_failed(capsys):
    args = argparse.Namespace(workload="query", seed=1, seconds=15)
    r = run.Run(args, {}, "", spans.Tracer(False))
    want = [[7, 1.2345], [9, 0.5]]
    r.check([(7, 1.23451), (9, 0.5)], want, "right")
    r.check([(9, 1.2345), (7, 0.5)], want, "swapped ids")
    r.check([(7, 1.2345)], want, "short", times=3)
    assert (r.attempted, r.failed) == (5, 4)
    assert "swapped ids" in capsys.readouterr().err


# -- process cleanup ---------------------------------------------------------------


REAP_SCRIPT = """
import os, subprocess, sys
sys.path.insert(0, {here!r})
import run
run.become_subreaper()
# an orphan: its parent exits at once, and the sleep passes to us
sh = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
orphan = int(sh.stdout)
assert orphan in run.child_pids()
run.reap_all(grace=1.0)
print(orphan, run.child_pids())
"""


def test_reap_all_stops_orphaned_descendants():
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", REAP_SCRIPT.format(here=run.HERE)],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout.split(maxsplit=1)
    assert out[1].strip() == "[]"
    assert not os.path.exists(f"/proc/{out[0]}")


# -- BENCHMARK.json agrees with the runner -------------------------------------


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.E2E_UNITS)
    layer = {name for name, _, _ in run.PER_LAYER}
    layer |= {f"spark.{p}.{k}" for p in spans.PHASES for k, _ in run.SPARK_KEYS}
    assert {m["name"] for m in bench["per_layer"]} == layer
