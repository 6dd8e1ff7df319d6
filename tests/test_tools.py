"""Tests for the repo tools: the r13 ADVICE argument-handling fixes
(check_oracle --times-json, compare_bench empty-ratio guard), the
freshness artifact writer, the r14 stage-metrics audit
(tools/stage_audit.py) end-to-end on two queries at sf0.001, and the
plan ledger's counting and all-or-nothing write (tools/plan_ledger.py)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=240):
    return subprocess.run([sys.executable, *args], cwd=REPO,
                          capture_output=True, text=True, timeout=timeout)


def test_check_oracle_trailing_times_json_is_a_usage_error():
    """r13 ADVICE: `--times-json` as the last argument must exit 2 with
    a usage message, not raise IndexError (and must fail FAST — before
    any Spark session spins up)."""
    r = _run(["tools/check_oracle.py", "--times-json"], timeout=60)
    assert r.returncode == 2
    assert "usage" in r.stderr.lower()


def test_freshness_trailing_json_is_a_usage_error():
    r = _run(["tools/freshness.py", "--json"], timeout=60)
    assert r.returncode == 2
    assert "usage" in r.stderr.lower()


def test_stage_audit_trailing_json_is_a_usage_error():
    r = _run(["tools/stage_audit.py", "--json"], timeout=60)
    assert r.returncode == 2
    assert "usage" in r.stderr.lower()


def test_compare_bench_no_comparable_queries_prints_na(tmp_path):
    """r13 ADVICE: with no shared query above the 0.05s floor the
    median ratio must print as n/a instead of raising
    StatisticsError."""
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"queries": {"q_x": 0.01, "q_y": 0.02}}))
    b.write_text(json.dumps({"queries": {"q_x": 0.01, "q_y": 0.03}}))
    r = _run(["tools/compare_bench.py", str(a), str(b)])
    assert r.returncode == 0, r.stderr
    assert "median-ratio=n/a" in r.stdout


def test_freshness_json_artifact_shape(tmp_path):
    """--json writes histogram + gate_window(=GATE_WINDOW names) +
    pending/failing lists; the committed freshness.json is separately
    pinned to GATE_ORDER by test_hygiene."""
    out = tmp_path / "f.json"
    r = _run(["tools/freshness.py", "--json", str(out)])
    assert r.returncode == 0, r.stderr
    d = json.loads(out.read_text())
    assert len(d["gate_window"]) == 50
    assert sum(d["histogram"].values()) + len(d["pending"]) >= 280
    assert d["failing"] == []


def test_stage_audit_ledger_dedupes_attempts_and_skipped():
    """r15 ADVICE: /stages returns one entry per stage ATTEMPT and
    includes SKIPPED exchange-reuse placeholders. A retried stage must
    count its LATEST attempt's metrics only (no double-counted
    shuffle), the failed attempt must still be flagged, and SKIPPED
    stages must not inflate n_stages."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from stage_audit import _ledger
    finally:
        sys.path.pop(0)
    mb = 1024 * 1024
    entries = [
        # stage 1: failed attempt 0 (partial shuffle) + retry attempt 1
        {"stageId": 1, "attemptId": 0, "status": "FAILED",
         "shuffleWriteBytes": 3 * mb, "numCompleteTasks": 2,
         "memoryBytesSpilled": 5 * mb},
        {"stageId": 1, "attemptId": 1, "status": "COMPLETE",
         "shuffleWriteBytes": 10 * mb, "numCompleteTasks": 8},
        # stage 2: plain complete stage
        {"stageId": 2, "attemptId": 0, "status": "COMPLETE",
         "shuffleReadBytes": 10 * mb, "numCompleteTasks": 4},
        # stage 3: exchange-reuse placeholder
        {"stageId": 3, "attemptId": 0, "status": "SKIPPED",
         "numCompleteTasks": 0},
    ]
    led = _ledger(entries)
    assert led["n_stages"] == 2
    assert led["n_skipped_stages"] == 1
    assert led["n_failed_stages"] == 1          # flagged, not summed
    assert led["n_tasks"] == 12
    assert led["shuffle_write_mb"] == 10.0      # not 13: latest attempt
    assert led["shuffle_read_mb"] == 10.0
    assert led["spill_mem_mb"] == 0.0           # failed attempt's spill
    assert led["peak_stage_shuffle_write_mb"] == 10.0


def test_stage_audit_end_to_end_two_queries(tmp_path):
    """The audit must attribute stages per query via the snapshot
    discipline (n_stages > 0 for both), report the spill/shuffle
    fields, and exit 0 when nothing spills — exercised for real on a
    UI-enabled session at sf0.001."""
    out = tmp_path / "audit.json"
    r = _run(["tools/stage_audit.py", "/root/testdata/sf0.001",
              "--json", str(out), "q_crossover", "q_host_dedup"])
    # rc 0 = clean, rc 1 = spill: spill behavior depends on executor
    # memory on the host, so a constrained machine is a report, not a
    # failure — the fields must still be present and consistent.
    assert r.returncode in (0, 1), r.stderr[-2000:]
    d = json.loads(out.read_text())
    assert d["n_queries"] == 2
    for name in ("q_crossover", "q_host_dedup"):
        q = d["queries"][name]
        assert "error" not in q, q
        assert q["n_stages"] > 0 and q["n_tasks"] > 0
        assert q["n_failed_stages"] == 0
        assert "n_skipped_stages" in q
        for field in ("shuffle_write_mb", "shuffle_read_mb",
                      "spill_mem_mb", "spill_disk_mb", "wall_sec"):
            assert field in q
        # At sf0.001 on this container spill should be 0; tolerate a
        # few MB so a memory-constrained host doesn't flake the suite.
        assert q["spill_mem_mb"] < 64 and q["spill_disk_mb"] < 64
    spilled = any(d["queries"][n]["spill_mem_mb"] > 0
                  or d["queries"][n]["spill_disk_mb"] > 0
                  for n in ("q_crossover", "q_host_dedup"))
    assert r.returncode == (1 if spilled else 0)


def test_plan_shape_counts_planner_choices(spark):
    """plan_shape counts each planner decision once, on the plan before
    execution: a broadcast join, a grouped aggregate's partial and final
    halves, a global sort's range exchange and a localCheckpoint scan."""
    from pyspark.sql import functions as F

    from tools.plan_ledger import plan_shape

    facts = spark.range(1000).withColumn("k", F.col("id") % 10)
    dim = spark.range(10).withColumnRenamed("id", "k")
    assert plan_shape(facts.join(F.broadcast(dim), "k")) == {
        "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Range": 2}
    assert plan_shape(facts.groupBy("k").count()) == {
        "Exchange hashpartitioning": 1, "HashAggregate": 2, "Range": 1}
    assert plan_shape(facts.orderBy("k")) == {
        "Exchange rangepartitioning": 1, "Range": 1}
    assert plan_shape(facts.localCheckpoint().where("k > 1")) == {
        "Scan ExistingRDD": 1}


def test_plan_ledger_writes_nothing_unless_every_query_builds(
        spark, monkeypatch, tmp_path):
    """One failing query fails the run, names itself and leaves no
    ledger behind; a clean run writes one sorted line per query."""
    from types import SimpleNamespace

    from tools import plan_ledger

    def broken(spark, sf_dir):
        raise ValueError("fixture missing")

    specs = {"q_b": SimpleNamespace(fn=lambda s, d: s.range(3)),
             "q_c": SimpleNamespace(fn=broken)}
    monkeypatch.setattr(plan_ledger, "ALL_SPECS", specs)
    out = tmp_path / "ledger.json"
    with pytest.raises(ValueError) as e:
        plan_ledger.main([str(tmp_path), str(out)])
    assert "q_c" in " ".join(e.value.__notes__)
    assert not out.exists()

    specs["q_c"] = SimpleNamespace(fn=lambda s, d: s.range(3).repartition(2))
    specs["q_a"] = specs.pop("q_b")
    plan_ledger.main([str(tmp_path), str(out)])
    assert out.read_text().splitlines() == [
        "{",
        '"q_a": {"Range": 1},',
        '"q_c": {"Exchange RoundRobinPartitioning": 1, "Range": 1}',
        "}"]
    assert os.listdir(tmp_path) == ["ledger.json"]
