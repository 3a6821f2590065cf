"""Tests of the benchmark's own logic. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pickle
import sys
from decimal import Decimal
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import traffic  # noqa: E402
from tracing import Traced, Tracer  # noqa: E402


# -- percentile eligibility ------------------------------------------------
@pytest.mark.parametrize(
    "n,q,ok",
    [(20, 50, True), (19, 50, False), (40, 75, True), (39, 75, False), (100, 90, True), (99, 90, False)],
)
def test_percentile_needs_ten_samples_beyond(n, q, ok):
    assert stats.eligible(n, q) is ok


# -- fail_ratio counting ---------------------------------------------------
def test_fail_ratio():
    assert stats.fail_ratio(10, 0) == 0.0
    assert stats.fail_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.fail_ratio(3, 4)


def test_timed_op_counts_an_exception_as_one_failure_without_a_latency():
    import workloads

    res = workloads.PassResult(wall_s=0.0)
    assert workloads.timed_op(res, None, "op0", "good", lambda: 7) == 7

    def boom():
        raise RuntimeError("broken")

    assert workloads.timed_op(res, None, "op1", "bad", boom) is None
    assert (res.attempted, res.failed, len(res.op_s)) == (2, 1, 1)
    assert res.problems == ["bad: RuntimeError: broken"]
    assert stats.fail_ratio(res.attempted, res.failed) == 0.5


# -- the typical pass -----------------------------------------------------
def test_median_pass_sums_per_operation_medians():
    passes = [{"a": 1.0, "b": 2.0}, {"a": 9.0, "b": 2.2}, {"a": 1.2, "b": 8.0}, {"a": 1.1}]
    # a: median(1.0, 9.0, 1.2, 1.1) = 1.15; b: median(2.0, 2.2, 8.0) = 2.2
    assert stats.median_pass_s(passes) == pytest.approx(3.35)
    assert stats.median_pass_s(passes[:1]) == 3.0


def test_pass_count_is_fixed_by_the_seconds():
    import run

    assert [run.pass_count(s, 10.0) for s in (1, 14, 15, 30)] == [1, 1, 2, 3]


# -- generator determinism -------------------------------------------------
def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = traffic.generate(7), traffic.generate(7)
    assert [(d.name, d.payload) for d in a] == [(d.name, d.payload) for d in b]
    assert [d.payload for d in traffic.generate(8)] != [d.payload for d in a]
    for i, ds in enumerate((a, b)):
        land = tmp_path / str(i)
        land.mkdir()
        for d in ds:
            traffic.land(d, str(land))
    names = sorted(os.listdir(tmp_path / "0"))
    assert names == sorted(os.listdir(tmp_path / "1"))
    assert not any(n.startswith(".") for n in names)  # no temp file left behind
    for n in names:
        assert (tmp_path / "0" / n).read_bytes() == (tmp_path / "1" / n).read_bytes()


def test_traffic_mix_is_as_scripted():
    ds = traffic.generate(3)
    kinds = [d.kind for d in ds]
    assert kinds == ["base", "redelivery", "bad_within", "replay", "bad_over", "unroutable"]
    assert [d.status for d in ds] == ["ok", "ok", "ok", "ok", "rejected", "skipped"]
    ki = [traffic.COLUMNS.index(k) for k in traffic.KEYS]
    for d in ds:
        keys = [tuple(r[i] for i in ki) for r in d.good_rows]
        assert len(keys) == len(set(keys)), d.name  # keys unique within a file
        assert d.payload.count(b"\n") == 1 + len(d.good_rows) + d.bad_lines
    assert ds[3].payload == ds[2].payload and ds[3].name == ds[2].name
    assert ds[4].bad_lines > traffic.MAXERRORS >= ds[2].bad_lines > 0
    base, redelivery = ds[0], ds[1]
    old = {tuple(r[i] for i in ki): r for r in base.good_rows}
    changed = sum(
        1 for r in redelivery.good_rows
        if tuple(r[i] for i in ki) in old and old[tuple(r[i] for i in ki)] != r
    )
    assert 0.2 < changed / len(redelivery.good_rows) < 0.4  # about 30% of keys revised


def test_land_pins_the_replay_mtime(tmp_path):
    d = traffic.generate(1)[2]
    first = traffic.land(d, str(tmp_path))
    mtime = os.stat(first).st_mtime_ns
    os.remove(first)
    again = traffic.land(d, str(tmp_path), mtime)
    assert os.stat(again).st_mtime_ns == mtime


# -- expected-upsert model -------------------------------------------------
def _row(vector, date, geo, value):
    r = dict.fromkeys(traffic.COLUMNS, "")
    r.update(VECTOR=vector, Date=date, GEO=geo, Products="Food", VALUE=value)
    return tuple(r[c] for c in traffic.COLUMNS)


def test_expected_upsert_on_a_hand_computed_case():
    D = traffic.Delivery
    base = D("PriceIndex_base.csv", "base", b"", (
        _row("v1", "2020-01", "Canada", "1.0"),
        _row("v2", "2020-01", "Quebec", "2.0"),
        _row("v2", "2020-02", "Quebec", "5.0"),
    ), 0, "ok")
    delta = D("PriceIndex_delta.csv", "redelivery", b"", (
        _row("v2", "2020-01", "Quebec", "3.5"),  # update: the delta wins
        _row("v3", "2020-01", "Canada", "4.0"),  # insert
    ), 0, "ok")
    rejected = D("price_bad.csv", "bad_over", b"", (_row("v1", "2020-01", "Canada", "9.9"),), 7, "rejected")
    skipped = D("other.csv", "unroutable", b"", (_row("v9", "2020-01", "Canada", "9.9"),), 0, "skipped")
    table = traffic.expected_table([base, delta, rejected, skipped])
    assert {k: r[traffic.COLUMNS.index("VALUE")] for k, r in table.items()} == {
        ("v1", "2020-01"): "1.0",
        ("v2", "2020-01"): "3.5",
        ("v2", "2020-02"): "5.0",
        ("v3", "2020-01"): "4.0",
    }
    assert traffic.expected_report(table.values()) == {
        ("Canada", "Food"): (2, Decimal("5.0")),
        ("Quebec", "Food"): (2, Decimal("8.5")),
    }


# -- self time -------------------------------------------------------------
def test_self_time_is_span_minus_children():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},  # op
        {"start": 1.0, "end": 4.0, "parent": 0},  # build
        {"start": 2.0, "end": 3.0, "parent": 1},  # a table load inside build
        {"start": 5.0, "end": 7.0, "parent": 0},  # execute
    ]
    assert stats.self_times(spans) == [5.0, 2.0, 1.0, 2.0]
    assert sum(stats.self_times(spans)) == spans[0]["end"] - spans[0]["start"]


def test_self_time_counts_overlapping_children_once():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 5.0, "parent": 0},
        {"start": 3.0, "end": 6.0, "parent": 0},
    ]
    assert stats.self_times(spans)[0] == 5.0
    assert stats.covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0


# -- tracing wrapper and benchmark definition -----------------------------
def test_stream_report_folds_count_under_streaming():
    tracer = Tracer(SimpleNamespace(sparkContext=None))
    tracer.spans = [
        {"name": "op", "parent": None},
        {"name": "sources.ingest_file", "parent": 0},
        {"name": "sources.report.refresh_report", "parent": 1},
        {"name": "op", "parent": None},
        {"name": "streaming.report_stream", "parent": 3},
        {"name": "sources.report.refresh_report", "parent": 4},
    ]
    for rec in tracer.spans:
        rec.update(start=0.0, end=1.0, jobs=2, stages=0)
    totals = tracer.layer_totals()
    assert totals["sources.report.refresh_report.calls"] == 1
    assert totals["streaming.refresh_report.calls"] == 1
    assert totals["streaming.refresh_report.jobs"] == 2


def test_traced_wrapper_pickles_as_the_plain_function():
    wrapped = Traced(None, "stats", stats.median)
    assert pickle.loads(pickle.dumps(wrapped)) is stats.median
    assert wrapped.__name__ == "median"


def test_recall_at_k():
    import workloads

    rows = [{"query_id": 0, "cand_id": c} for c in (1, 2, 9)] + [{"query_id": 1, "cand_id": 4}]
    exact = {"0": [1, 2, 3], "1": [4, 5, 6]}
    assert workloads.recall_at_k(rows, exact) == pytest.approx((2 / 3 + 1 / 3) / 2)


def test_benchmark_json_names_the_workloads():
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_pins_cover_the_query_mix():
    import workloads

    pins = workloads.load_pins()["queries"]
    assert {n.split("_", 1)[0] for n in pins} == set(workloads.QUERY_MIX)
    for name, gate in workloads.RECALL_GATES.items():
        assert set(pins[name]["exact_top3"]) == {str(i) for i in range(10)}
        assert 0 < gate <= 1
