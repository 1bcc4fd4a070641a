"""Tests for the benchmark's own statistics: interval union and driver
gap, span self time, the per-call-median warm pass, the event-log
rollup, and failed-ops accounting. None of them starts Spark.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
from tracing import Span, Tracer, covered, per_call_median_total, rollup_eventlog, self_times, union_length  # noqa: E402
from workloads import IngestWorkload, rows_match  # noqa: E402


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3.0


def test_driver_gap_is_wall_minus_union_of_jobs():
    jobs = [(1000.0, 1000.5), (1000.4, 1001.0), (1002.0, 1002.1)]
    start, end = 999.5, 1001.5
    # the third job lies outside the pass and is clipped away
    assert covered(start, end, jobs) == pytest.approx(1.0)
    assert (end - start) - covered(start, end, jobs) == pytest.approx(1.0)


def test_self_time_subtracts_children_and_jobs():
    spans = [
        Span(0, "pass0", "pass", 0.0, 10.0),
        Span(1, "q", "call", 1.0, 9.0, parent=0),
        Span(2, "registry.build", "registry", 1.0, 3.0, parent=1),
        Span(3, "action.noop", "action", 3.0, 9.0, parent=1),
    ]
    jobs = [{"span": 3, "start": 4.0, "end": 8.0}, {"span": 3, "start": 5.0, "end": 8.5}]
    got = self_times(spans, jobs)
    assert got == pytest.approx({0: 2.0, 1: 0.0, 2: 2.0, 3: 1.5})


def test_tracer_records_parents_call_ids_and_job_groups():
    groups = []
    tracer = Tracer(on=True, on_enter=lambda s: groups.append(s.id if s else None))
    with tracer.span("pass0", "pass"):
        with tracer.span("q", "call", call_id=7):
            with tracer.span("registry.build", "registry"):
                pass
    p, c, r = tracer.spans
    assert (p.parent, c.parent, r.parent) == (None, p.id, c.id)
    assert (c.call_id, r.call_id) == (7, 7)
    assert all(s.end >= s.start for s in tracer.spans)
    assert groups == [0, 1, 2, 1, 0, None]

    off = Tracer(on=False)
    with off.span("pass0", "pass") as s:
        assert s is None
    assert off.spans == []


def test_warm_pass_is_sum_of_per_call_medians():
    assert per_call_median_total({"a": [1.0, 3.0, 2.0], "b": [2.0, 1.0, 5.0]}) == 4.0
    passes = [
        {"calls": {"a": 1.0, "b": 2.0}, "steps": {"a": {"registry.build": 0.2}, "b": {}}},
        {"calls": {"a": 3.0, "b": 1.0}, "steps": {"a": {"registry.build": 0.4}, "b": {}}},
        {"calls": {"a": 2.0, "b": 5.0, "c": 0.5},
         "steps": {"a": {"registry.build": 0.3}, "b": {}, "c": {"registry.build": 0.1}}},
    ]
    # c ran in one pass only: its median is that one sample
    assert run.warm_stat(passes) == pytest.approx(2.0 + 2.0 + 0.5)
    assert run.step_stat(passes, "registry.") == pytest.approx(0.3 + 0.1)


def test_eventlog_rollup_on_canned_log():
    with (BENCH / "tests" / "data" / "eventlog.jsonl").open() as fh:
        jobs = rollup_eventlog(fh)
    assert [j["job"] for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert (j0["group"], j1["group"], j2["group"]) == ("3", "4", None)
    assert (j0["start"], j0["end"]) == (1000.0, 1000.5)
    # stage 1 was skipped: listed by the job, never run
    assert (j0["stages"], j0["tasks"]) == (1, 2)
    assert j0["run_s"] == pytest.approx(0.3)
    assert j0["cpu_s"] == pytest.approx(0.2)
    assert j0["gc_s"] == pytest.approx(0.01)
    assert j0["scan_mrows"] == pytest.approx(2e-5)
    assert j0["shuffle_write_mb"] == pytest.approx(1.0)
    assert j0["spill_mb"] == pytest.approx(2.0)
    assert j1["shuffle_read_mb"] == pytest.approx(1.0)
    assert j1["python_mb_sent"] == pytest.approx(2.0)
    assert j1["python_mb_received"] == pytest.approx(0.5)
    assert j0["python_mb_sent"] == 0.0
    assert union_length([(j["start"], j["end"]) for j in jobs]) == pytest.approx(1.1)


def test_oracle_comparison_ignores_row_and_column_order():
    spark_rows = [(1, "a"), (2, "b")]
    assert rows_match("q", ["x", "y"], spark_rows, ["y", "x"], [("b", 2), ("a", 1)])
    assert not rows_match("q", ["x", "y"], spark_rows, ["x", "y"], [(1, "a"), (2, "c")])
    assert not rows_match("q", ["x", "y"], spark_rows, ["x", "y"], [(1, "a")])
    assert not rows_match("q", ["x"], [], ["x"], [])


def test_ingest_model_tracks_merge_delete_and_time_travel():
    wl = IngestWorkload("t", rows=1000, pass_s=1.0)
    wl.observed = [{"pass": p} for p in range(3)]
    expected, table = wl.model(seed=5)
    # each pass: 1000 appended, 50 new ids merged in, 100 deleted
    assert [e["net"] for e in expected] == [950, 950, 950]
    assert [e["time_travel"] for e in expected] == [0, 950, 1900]
    assert table.num_rows == 2850
    assert len(table["id"].unique()) == table.num_rows


def test_wrong_expected_value_turns_failed_ops_nonzero():
    wl = IngestWorkload("t", rows=1000, pass_s=1.0)
    wl.observed = [{"pass": p} for p in range(3)]
    expected, _ = wl.model(seed=5)
    for seen, want in zip(wl.observed, expected):
        seen.update(want)
    passes = [{"attempted": 7, "failed": 0}] * 3
    assert wl.check(expected) == []
    assert run.tally(passes, 13, []) == (34, 0)

    n, s = wl.observed[1]["read"]
    wl.observed[1]["read"] = (n, s + 1)
    failures = wl.check(expected)
    assert len(failures) == 1 and "pass 1: read" in failures[0]
    attempted, failed = run.tally(passes, 13, failures)
    assert failed / attempted == pytest.approx(1 / 34)


def test_index_build_in_a_warm_pass_or_none_cold_is_a_failure():
    built = [{"index": 0, "index_builds": 1}, {"index": 1, "index_builds": 0},
             {"index": 2, "index_builds": 0}]
    assert run.index_checks(built, builds_index=True) == (3, [])
    none = [{"index": 0, "index_builds": 0}] + built[1:]
    assert run.index_checks(none, builds_index=False) == (2, [])
    assert run.index_checks(none, builds_index=True) == (3, ["cold pass built no index"])
    missed = built[:2] + [{"index": 2, "index_builds": 1}]
    checks, failures = run.index_checks(missed, builds_index=True)
    assert checks == 3 and len(failures) == 1 and "warm pass 2" in failures[0]


def test_benchmark_json_names_every_reported_metric():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)
