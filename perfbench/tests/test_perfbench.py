"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

import datetime as dt

from perfbench import check, lake, run, steady
from perfbench.trace import Tracer, union_seconds

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_same_seed_gives_byte_identical_lake(tmp_path):
    rec = lake.make_lake(3, tmp_path / "a")
    lake.generate(3, tmp_path / "b")
    lake.generate(4, tmp_path / "c")
    assert rec["content_sha256"] == lake.content_hash(tmp_path / "a") == lake.content_hash(tmp_path / "b")
    assert rec["content_sha256"] != lake.content_hash(tmp_path / "c")
    assert rec["lineitem_rows"] == 60_000 * lake.REPLICAS


@pytest.mark.parametrize("n, expect", [(10, None), (11, None), (19, None), (20, 50), (40, 75), (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, expect):
    got = run.tail_percentile([float(i) for i in range(n)])
    if expect is None:
        assert got is None
    else:
        p, v = got
        assert p == expect
        assert sum(x > v for x in range(n)) >= 10


def test_tail_percentile_is_highest_qualifying():
    xs = [float(i) for i in range(100)]
    p, v = run.tail_percentile(xs)
    assert p == 90 and v == 89.0  # exactly 10 samples above the 90th percentile
    assert sum(x > v for x in xs) == 10


def test_drift_compares_distinct_cycles():
    assert run.drift([5.0]) is None
    assert run.drift([1.0, 2.0]) == {"first_third_s": 1.0, "last_third_s": 2.0}
    assert run.drift([1.0, 9.0, 2.0]) == {"first_third_s": 1.0, "last_third_s": 2.0}
    assert run.drift([1.0, 3.0, 9.0, 9.0, 2.0, 4.0]) == {"first_third_s": 2.0, "last_third_s": 3.0}


def test_span_self_time_subtracts_children():
    now = [0.0]
    tr = Tracer(clock=lambda: now[0])
    outer = tr.begin("a")
    now[0] = 1.0
    inner = tr.begin("b")
    now[0] = 3.5
    tr.end(inner)
    inner2 = tr.begin("b")
    now[0] = 4.0
    tr.end(inner2)
    now[0] = 10.0
    tr.end(outer)
    totals, _, _ = tr.reset()
    assert totals["a"].total_s == 10.0
    assert totals["a"].self_s == 10.0 - 3.0
    assert totals["b"].self_s == totals["b"].total_s == 3.0
    assert totals["b"].calls == 2


def test_opaque_span_hides_nested_spans():
    now = [0.0]
    tr = Tracer(clock=lambda: now[0])

    def inner():
        now[0] += 2.0

    def outer():
        now[0] += 1.0
        tr.wrap("inner", inner)()

    tr.wrap("outer", outer, opaque=True)()
    totals, _, _ = tr.reset()
    assert "inner" not in totals
    assert totals["outer"].self_s == 3.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    assert tr.wrap("x", lambda v: v + 1)(1) == 2
    assert tr.reset()[0] == {}


def test_union_of_job_intervals():
    assert union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert union_seconds([]) == 0.0


def test_metric_names_are_plain_and_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    for name in e2e | layer | {w["name"] for w in bench["workloads"]}:
        assert NAME.match(name), name
    assert e2e == set(run.E2E_UNITS)
    assert layer == set(run.LAYER_UNITS)
    assert set(steady.EXACT_COUNTERS) <= layer
    assert {w["name"] for w in bench["workloads"]} == set(run.WARMUP)


def test_layer_metrics_report_zero_for_untouched_layers():
    m = run.layer_metrics({}, {}, {"jit_s": 0.0, "gc_s": 0.0, "codegen_compiles": 0})
    assert set(m) == set(run.LAYER_UNITS) - {"session.start_s", "trace.overhead_s"}
    assert all(v == 0 for v in m.values())


def test_steady_spread_uses_quartiles():
    med, q1, q3, rel = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert rel == pytest.approx(1.0)


def test_check_compares_unordered_rows_within_float_tolerance():
    got = check.normalize(["b", "a"], [(2.0, "y"), (1.0, "x")])
    assert got == (("a", "b"), [("x", 1.0), ("y", 2.0)])
    assert check.diff(got, check.normalize(["a", "b"], [("y", 2.0 + 1e-12), ("x", 1.0)])) is None
    assert check.diff(got, check.normalize(["a", "b"], [("y", 2.1), ("x", 1.0)])) == "row 1: ('y', 2.0) != ('y', 2.1)"
    assert check.diff(got, check.normalize(["a", "b"], [("x", 1.0)])) == "2 rows != 1"


def test_check_normalizes_timestamps_to_microseconds():
    (_, rows) = check.normalize(["t", "d"], [(dt.datetime(1970, 1, 1, 0, 0, 1), dt.date(1970, 1, 2))])
    assert rows == [(86_400_000_000, 1_000_000)]
