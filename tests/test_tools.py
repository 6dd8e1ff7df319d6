"""Tests for the repo tools: the r13 ADVICE argument-handling fixes
(check_oracle --times-json, compare_bench empty-ratio guard), the
freshness artifact writer, the scale probe (tools/scale_probe.py: its
stage ledger, its replica invariant, and a --factor 2 run on two queries
at sf0.001), and the plan ledger's counting and all-or-nothing write
(tools/plan_ledger.py)."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=240, env=None):
    return subprocess.run([sys.executable, *args], cwd=REPO,
                          capture_output=True, text=True, timeout=timeout,
                          env=env)


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


@pytest.mark.parametrize("args", [["--json"], ["--factor", "0"]],
                         ids=["json", "factor0"])
def test_scale_probe_bad_arguments_are_a_usage_error(args):
    """A trailing --json or a --factor that is not an integer >= 1 exits
    2 with a usage message before any Spark session starts."""
    r = _run(["tools/scale_probe.py", "q_crossover", *args], timeout=60)
    assert r.returncode == 2
    assert "usage" in r.stderr.lower()
    assert "Spark" not in r.stderr


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


def test_scale_probe_ledger_dedupes_attempts_and_skipped():
    """r15 ADVICE: /stages returns one entry per stage ATTEMPT and
    includes SKIPPED exchange-reuse placeholders. A retried stage must
    count its LATEST attempt's metrics only (no double-counted
    shuffle), the failed attempt must still be flagged, and SKIPPED
    stages must not inflate n_stages."""
    from tools.scale_probe import _ledger

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


def test_scale_probe_replicas_join_only_within_themselves(spark, sf_dir):
    """The K× leg is K key-shifted copies of the 1× leg: every replicated
    table has K× the rows, nation and region 1×, each key column's
    replicas occupy disjoint ``[r·OFF, (r+1)·OFF)`` ranges, and a query
    joining on those keys returns exactly K× the rows of the 1× leg."""
    import shutil

    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.io import TABLES, load_table
    from hippo_claim_crossover_spark.plans import ALL_SPECS
    from tools.scale_probe import COPY_ONCE, KEY_COLS, OFF, legs

    one, two = legs(spark, sf_dir, 2)
    try:
        for t in TABLES:
            n1 = load_table(spark, one, t).count()
            n2 = load_table(spark, two, t).count()
            assert n2 == (n1 if t in COPY_ONCE else 2 * n1), t
        for t, keys in KEY_COLS.items():
            for k in keys:
                def bands(path):
                    return dict(load_table(spark, path, t).where(
                        F.col(k).isNotNull())
                        .groupBy(F.floor(F.col(k) / OFF)).count().collect())
                b1 = bands(one)
                assert list(b1) == [0], (t, k, b1)
                assert bands(two) == {0: b1[0], 1: b1[0]}, (t, k)
        for q in ("q_join_setsim", "q_join_range"):
            n1 = ALL_SPECS[q].fn(spark, one).count()
            assert n1 > 0 and ALL_SPECS[q].fn(spark, two).count() == 2 * n1, q
    finally:
        shutil.rmtree(one)
        shutil.rmtree(two)


def test_scale_probe_end_to_end_two_queries(tmp_path):
    """--factor 2 at sf0.001: both queries report both timings, the
    exponent from them and the 2× leg's stage ledger (stages attributed
    by snapshot), the run exits 0 when nothing spills, and the probe's
    application leaves no scratch directory behind."""
    from hippo_claim_crossover_spark import session

    out = tmp_path / "probe.json"
    names = ("q_crossover", "q_host_dedup")
    r = _run(["tools/scale_probe.py", "--factor", "2", "--json", str(out),
              *names],
             env={**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"})
    # rc 0 = clean, rc 1 = spill: spill behavior depends on executor
    # memory on the host, so a constrained machine is a report, not a
    # failure — the fields must still be present and consistent.
    assert r.returncode in (0, 1), r.stderr[-2000:]
    d = json.loads(out.read_text())
    assert (d["factor"], d["n_queries"]) == (2, 2)
    assert d["sf_dir"] == "/root/testdata/sf0.001"
    assert sorted(d["queries"]) == sorted(names)
    assert not os.path.exists(
        os.path.join(session._SCRATCH_ROOTS[0], d["app_id"]))
    for name in names:
        q = d["queries"][name]
        assert set(q) == {
            "t_1x_s", "t_kx_s", "exponent_per_decade", "n_stages",
            "n_skipped_stages", "n_failed_stages", "n_tasks",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mem_mb",
            "spill_disk_mb", "peak_stage_shuffle_write_mb"}, q
        assert q["t_1x_s"] > 0 and q["t_kx_s"] > 0
        assert q["exponent_per_decade"] == pytest.approx(
            math.log2(q["t_kx_s"] / q["t_1x_s"]), abs=0.02)
        assert q["n_stages"] > 0 and q["n_tasks"] > 0
        assert q["n_skipped_stages"] >= 0 and q["n_failed_stages"] == 0
        assert q["shuffle_write_mb"] > 0 and q["shuffle_read_mb"] > 0
        assert 0 < q["peak_stage_shuffle_write_mb"] <= q["shuffle_write_mb"]
        # At sf0.001 on this container spill should be 0; tolerate a
        # few MB so a memory-constrained host doesn't flake the suite.
        assert q["spill_mem_mb"] < 64 and q["spill_disk_mb"] < 64
    spilled = any(d["queries"][n]["spill_mem_mb"] > 0
                  or d["queries"][n]["spill_disk_mb"] > 0 for n in names)
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
