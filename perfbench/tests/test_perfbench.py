"""Tests of the benchmark's own logic on canned inputs; no Spark needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


@pytest.mark.parametrize("n, p", [(5000, 99), (1000, 99), (200, 95),
                                  (100, 90), (48, 79), (40, 75), (36, 72),
                                  (24, 58), (21, 52), (16, 37), (11, 9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    xs = [float(i) for i in range(n)]
    cut = stats.percentile(xs, p)
    assert sum(x > cut for x in xs) >= stats.MIN_BEYOND
    # One percentile higher would leave less than ten samples' share above.
    if p < 99:
        assert n * (100 - (p + 1)) < 100 * stats.MIN_BEYOND


@pytest.mark.parametrize("n", [10, 1, 0])
def test_tail_percentile_refuses_a_sample_without_ten_beyond(n):
    with pytest.raises(ValueError):
        stats.tail_percentile(n)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(list(range(101)), 75) == 75.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _span(name, start, end, parent, run=("q", 1)):
    return trace.Span(name, start, end, parent, run)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("query", 0.0, 10.0, None),
        _span("plans.build", 0.0, 6.0, 0),
        _span("io.load", 1.0, 3.0, 1),
        _span("plans.ckpt", 2.0, 5.0, 1),  # overlaps io.load: union 1..5
        _span("spark.exec", 6.0, 9.5, 0),
    ]
    assert trace.self_times(spans) == pytest.approx([0.5, 2.0, 2.0, 3.0, 3.5])
    layers = trace.layer_totals(spans, {1})
    assert layers["plans.build"] == {"calls": 1, "s": 6.0, "self_s": 2.0}
    assert trace.layer_totals(spans, {2}) == {}


def test_self_time_keeps_parent_links_across_passes():
    spans = [_span("query", 0.0, 1.0, None, ("a", 1)),
             _span("plans.build", 0.0, 0.5, 0, ("a", 1)),
             _span("query", 2.0, 4.0, None, ("a", 2)),
             _span("plans.build", 2.0, 3.5, 2, ("a", 2))]
    layers = trace.layer_totals(spans, {2})
    assert layers["query"]["self_s"] == pytest.approx(0.5)
    assert layers["plans.build"]["self_s"] == pytest.approx(1.5)
    # Sequential spans: the self times add up to the query's wall time.
    assert sum(v["self_s"] for v in layers.values()) == pytest.approx(2.0)


class FakeContext:
    def __init__(self):
        self.tags: list[str] = []
        self.log: list[tuple[str, str]] = []

    def addJobTag(self, tag):
        self.tags.append(tag)
        self.log.append(("add", tag))

    def removeJobTag(self, tag):
        self.tags.remove(tag)
        self.log.append(("remove", tag))


def test_tracer_tags_spans_and_counts_outermost_calls_only():
    sc = FakeContext()
    tr = trace.Tracer(sc, "wl")
    with tr.span("operators"):  # outside a query run: not recorded
        pass
    assert tr.spans == [] and sc.log == []
    tr.run = ("q_x", 3)
    with tr.span("plans.build"):
        assert sc.tags == ["graft:wl:q_x:3:plans.build"]
        with tr.span("operators"):
            with tr.span("operators"):  # an operator calling another one
                pass
    assert [s.name for s in tr.spans] == ["plans.build", "operators"]
    assert tr.spans[1].parent == 0 and tr.spans[1].run == ("q_x", 3)
    assert sc.tags == []


def _payload():
    with open(os.path.join(HERE, "rest_payload.json")) as f:
        return json.load(f)


def test_job_attribution_from_recorded_payload():
    # Recorded from a live session: q_udf_arrow's build and write and
    # q_crossover's write ran under graft tags; a final count() ran
    # with no tag, as a stream's background jobs do.
    payload = _payload()
    everything = [(0.0, 4e9)]
    tot = trace.attribute_jobs(payload, "w", {0}, everything)
    assert tot["jobs"] == 14
    assert tot["phase_jobs"] == {"build": 1, "exec": 13}
    assert tot["jobs_untagged"] == 2
    assert tot["stages"] == 14 and tot["stages_skipped"] == 2
    assert tot["scan_files"] == 6
    assert tot["scan_s"] == pytest.approx(0.333)
    assert tot["python_start_s"] == pytest.approx(2.9)
    assert tot["python_mb"] == pytest.approx(136.0 / 1024)
    stages = {s["stageId"]: s for s in payload["stages"]}
    assert tot["task_run_s"] == pytest.approx(sum(
        stages[i]["executorRunTime"] for i in range(16)
        if stages[i]["status"] != "SKIPPED") / 1e3)


def test_untagged_jobs_count_only_inside_the_windows():
    payload = _payload()
    t = trace._epoch("2026-10-16T18:16:24.868GMT")
    assert trace.attribute_jobs(payload, "w", {0}, [])["jobs_untagged"] == 0
    assert trace.attribute_jobs(
        payload, "w", {0}, [(t - 0.01, t + 0.01)])["jobs_untagged"] == 1
    other = trace.attribute_jobs(payload, "other", {0}, [])
    assert other["jobs"] == 0 and other["stages"] == 0
    # Every total is reported, zero when nothing fed it.
    assert all(other[k] == 0 for k in trace.SPARK_TOTALS)


@pytest.mark.parametrize("text, value", [
    ("13 ms", 0.013), ("2.5 s", 2.5), ("1.5 m", 90.0), ("1885.0 B", 1885.0),
    ("2.7 KiB", 2.7 * 1024), ("5", 5.0), ("1,024", 1024.0),
    ("total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 20 ms, 1.1 s "
     "(stage 3.0: task 4))", 1.2),
])
def test_parse_metric(text, value):
    assert trace.parse_metric(text) == pytest.approx(value)


def _runs(values):
    return [float(v) for v in values]


def test_verdict_improved_regressed_unchanged():
    parent = _runs([10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05])
    faster = [v * 0.8 for v in parent]
    slower = [v * 1.3 for v in parent]
    same = [v + (0.01 if i % 2 else -0.01) for i, v in enumerate(parent)]
    assert stats.verdict(parent, faster, 0.1, "lower")["verdict"] == "improved"
    assert stats.verdict(parent, slower, 0.1, "lower")["verdict"] == "regressed"
    assert stats.verdict(parent, same, 0.1, "lower")["verdict"] == "unchanged"
    assert stats.verdict(parent, slower, 0.1, "higher")["verdict"] == "improved"
    assert stats.verdict(parent, faster, 0.1, "higher")["verdict"] == "regressed"


def test_verdict_needs_ten_pairs_to_claim_a_gain():
    parent = _runs([10.0, 10.1, 9.9, 10.2, 9.8])
    v = stats.verdict(parent, [x * 0.8 for x in parent], 0.1, "lower")
    assert v["won"] == 1.0 and v["verdict"] == "unresolved"


def test_verdict_wide_spread_is_unresolved_not_unchanged():
    parent = _runs([5, 15, 6, 14, 7, 13, 8, 12, 9, 11])
    change = _runs([6, 14, 5, 15, 8, 12, 7, 13, 10, 10])
    assert stats.verdict(parent, change, 0.1, "lower")["verdict"] == "unresolved"


def test_compare_pairs_runs_by_workload(tmp_path):
    def write(path, scale):
        with open(path, "w") as f:
            f.write("noise line\n")
            for i in range(10):
                for wl in ("a", "b"):
                    f.write(json.dumps({"workload": wl, "trace": 0, "metrics": {
                        "pass_s": (1.0 + i / 100) * (scale if wl == "a" else 1)}}) + "\n")
                f.write(json.dumps({"workload": "a", "trace": 1,
                                    "metrics": {"pass_s": 99.0}}) + "\n")
    write(tmp_path / "p", 1.0)
    write(tmp_path / "c", 0.5)
    parent = compare.load_runs(str(tmp_path / "p"))
    assert len(parent["a"]) == 10
    rows = compare.compare(parent, compare.load_runs(str(tmp_path / "c")),
                           [{"name": "pass_s", "unit": "s", "better": "lower",
                             "bound": 0.1}])
    assert {(r["workload"], r["verdict"]) for r in rows} == {
        ("a", "improved"), ("b", "unchanged")}


def test_stream_totals_count_progress_inside_the_windows():
    def progress(run_id, ts, trigger, wal, commit, state=0):
        return {"run_id": run_id, "timestamp": ts, "state_rows": state,
                "durationMs": {"triggerExecution": trigger, "walCommit": wal,
                               "commitOffsets": commit, "addBatch": 5}}
    events = [
        progress("a", "2026-10-16T10:00:01.000Z", 200, 30, 20, 7),
        progress("a", "2026-10-16T10:00:02.500Z", 100, 10, 10, 9),
        progress("b", "2026-10-16T10:00:03.000Z", 50, 5, 5),
        progress("c", "2026-10-16T10:00:09.000Z", 999, 99, 99),  # outside
    ]
    t0 = trace._epoch("2026-10-16T10:00:00.000Z")
    tot = trace.stream_totals(events, [(t0, t0 + 5.0)])
    assert tot["queries"] == 2 and tot["batches"] == 3
    assert tot["trigger_s"] == pytest.approx(0.35)
    assert tot["commit_s"] == pytest.approx(0.08)
    assert tot["state_rows"] == 16
    assert trace.stream_totals(events, [])["batches"] == 0
