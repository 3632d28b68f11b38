"""Unit tests for the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Tracer,
    bracketed_overhead,
    outer_times,
    self_times,
    tail_percentile,
    timing_summary,
    valid_metric_name,
)
from oracle import JaccardIndex, grams, pip_even_odd  # noqa: E402


def span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run": "t"}


class TestSelfTime:
    def test_leaf_is_its_duration(self):
        assert self_times([span(0, "a", 1.0, 3.5)]) == {"a": 2.5}

    def test_children_are_subtracted(self):
        spans = [span(0, "job", 0.0, 10.0), span(1, "read", 1.0, 3.0, 0), span(2, "write", 4.0, 9.0, 0)]
        st = self_times(spans)
        assert st["job"] == pytest.approx(3.0)
        assert st["read"] == pytest.approx(2.0)
        assert st["write"] == pytest.approx(5.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, "a", 0.0, 10.0), span(1, "b", 2.0, 8.0, 0), span(2, "c", 3.0, 4.0, 1)]
        st = self_times(spans)
        assert st == pytest.approx({"a": 4.0, "b": 5.0, "c": 1.0})

    def test_overlapping_children_count_once(self):
        spans = [span(0, "a", 0.0, 10.0), span(1, "b", 1.0, 5.0, 0), span(2, "c", 4.0, 6.0, 0)]
        assert self_times(spans)["a"] == pytest.approx(5.0)

    def test_same_name_sums(self):
        spans = [span(0, "a", 0.0, 1.0), span(1, "a", 2.0, 4.0)]
        assert self_times(spans) == {"a": 3.0}

    def test_outer_time_skips_recursion(self):
        spans = [span(0, "k", 0.0, 4.0), span(1, "k", 1.0, 2.0, 0), span(2, "x", 2.0, 3.0, 0)]
        assert outer_times(spans) == {"k": 4.0, "x": 1.0}

    def test_tracer_records_parents(self):
        tr = Tracer("run")
        with tr.span("outer"):
            with tr.span("inner"):
                pass
        outer, inner = tr.spans
        assert inner["parent"] == outer["id"] and outer["parent"] is None
        assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
        assert {s["run"] for s in tr.spans} == {"run"}


class TestBracketedOverhead:
    def test_linear_drift_cancels(self):
        # untraced passes fall 1 s per two passes; traced ones cost 0.1 s more
        walls = [5.0, 4.6, 4.0, 3.6, 3.0, 2.6, 2.0]
        got, n = bracketed_overhead([(w, i % 2 == 1) for i, w in enumerate(walls)])
        assert n == 3 and got == pytest.approx(0.1)

    def test_needs_untraced_on_both_sides(self):
        passes = [(4.0, False), (4.5, True), None, (4.5, True), (4.0, False), (4.4, True)]
        assert bracketed_overhead(passes) == (None, 0)


class TestTailPercentile:
    def test_too_few_samples(self):
        assert tail_percentile([1.0] * 39) is None
        s = timing_summary([3.0, 1.0, 2.0])
        assert s["median"] == 2.0 and s["n"] == 3 and s["tail"] is None and "n=3" in s["tail_absent"]

    def test_p75_needs_ten_beyond(self):
        out = tail_percentile([float(i) for i in range(1, 41)])
        assert out == {"pct": 75.0, "value": 30.0, "n": 40}

    def test_picks_highest_qualifying(self):
        vals = [float(i) for i in range(1, 201)]
        assert tail_percentile(vals)["pct"] == 95.0  # p99 leaves only 2 beyond
        assert tail_percentile(vals)["value"] == 190.0
        assert tail_percentile([float(i) for i in range(1, 1001)])["pct"] == 99.0
        assert tail_percentile([float(i) for i in range(1, 10001)])["pct"] == 99.9

    def test_order_does_not_matter(self):
        vals = [float(i) for i in range(100, 0, -1)]
        assert tail_percentile(vals) == {"pct": 90.0, "value": 90.0, "n": 100}


class TestMetricNames:
    @pytest.mark.parametrize("name", ["setup_s", "udf.python_init_s", "a", "9x", "k-1.2_z"])
    def test_valid(self, name):
        assert valid_metric_name(name)

    @pytest.mark.parametrize("name", ["", "_x", ".x", "has space", "a/b", "x" * 65, "µs", None])
    def test_invalid(self, name):
        assert not valid_metric_name(name)

    def test_benchmark_json_matches_runner(self):
        import run

        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        assert e2e == run.END_TO_END
        assert layer == run.PER_LAYER
        names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
        assert all(valid_metric_name(n) for n in names)
        assert len(names) == len(set(names))
        assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


class TestOracles:
    def test_pip_square(self):
        xs, ys = [0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0]
        got = pip_even_odd(xs, ys, [1.0, 3.0, -0.5, 1.9], [1.0, 1.0, 1.0, 0.1])
        assert got.tolist() == [True, False, False, True]

    def test_grams_short_text_is_one_gram(self):
        assert grams("Ab") == {"ab"}
        assert grams("abcd") == {"abc", "bcd"}

    def test_jaccard_exact(self):
        idx = JaccardIndex()
        idx.add(["abcdef", "zzzzzz"])
        # {abc,bcd,cde,def} vs {abc,bcd,cde,dex}: 3 shared of 5
        assert idx.max_jaccard(["abcdex"])[0] == pytest.approx(3 / 5)
        assert idx.max_jaccard(["qqqq"])[0] == 0.0
