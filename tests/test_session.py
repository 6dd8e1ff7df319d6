"""Unit tests for the session's scratch-path API and stale-scratch pruner.

Pins the r9 ADVICE fix: pruning requires BOTH an old run tag and true
mtime-idleness, so a live concurrent session (old tag, fresh writes) is
never deleted even under bench.py's shorter 30-minute margin. Pins the
scratch layout ``<root>/<applicationId>/<name>-<sf>[/r<n>]``: fixtures
are written once, runs are fresh and reclaim their predecessors.
"""
from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pytest

import hippo_claim_crossover_spark.session as sess

_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-7"))


def _touch(path: str, mtime: float) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("x")
    os.utime(path, (mtime, mtime))


def test_tree_is_idle_short_circuits_on_fresh_file(tmp_path):
    root = str(tmp_path / "d")
    old = time.time() - 7200
    _touch(os.path.join(root, "a", "old.txt"), old)
    os.utime(os.path.join(root, "a"), (old, old))
    os.utime(root, (old, old))
    cutoff = time.time() - 1800
    assert sess._tree_is_idle(root, cutoff)
    _touch(os.path.join(root, "a", "fresh.txt"), time.time())
    assert not sess._tree_is_idle(root, cutoff)


def test_prune_skips_live_session_with_old_tag(tmp_path, monkeypatch):
    """A session whose tag is >margin old but that is still WRITING must
    survive the prune — the exact scenario the tag-age-only rule broke."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(scratch),))
    now = time.time()
    old_ms = int((now - 3600) * 1000)  # session started 1h ago
    live = scratch / f"q_sink-local-{old_ms}"
    dead = scratch / f"q_sink-local-{old_ms - 1000}"
    _touch(str(live / "part-0"), now)            # still writing
    _touch(str(dead / "part-0"), now - 3600)     # untouched for 1h
    os.utime(str(live), (now, now))
    os.utime(str(dead), (now - 3600, now - 3600))
    sess._prune_stale_scratch(f"local-{int(now * 1000)}", idle_secs=1800)
    assert live.exists(), "live session's scratch was deleted"
    assert not dead.exists(), "idle stale scratch was kept"


def test_prune_keeps_untagged_and_own_entries(tmp_path, monkeypatch):
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(scratch),))
    now = time.time()
    my_ms = int(now * 1000)
    old = now - 7200
    mine = scratch / f"q_sink-local-{my_ms}"
    shared = scratch / "binfiles"
    _touch(str(mine / "part-0"), old)
    _touch(str(shared / "img0.bin"), old)
    for d in (mine, shared):
        os.utime(str(d), (old, old))
    sess._prune_stale_scratch(f"local-{my_ms}", idle_secs=1800)
    assert mine.exists(), "current session's own scratch was deleted"
    assert shared.exists(), "untagged shared fixture was deleted"


def test_fixture_dir_writes_once_and_rebuilds_a_crashed_write(
        tmp_path, monkeypatch):
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(tmp_path),))
    calls = []

    def write(path):
        calls.append(path)
        _touch(os.path.join(path, "part-0"), time.time())

    def crash(path):
        _touch(os.path.join(path, "half"), time.time())
        raise RuntimeError("write died")

    with pytest.raises(RuntimeError):
        sess.fixture_dir(_SPARK, "csv", "/data/sf0.01/", crash)
    path = sess.fixture_dir(_SPARK, "csv", "/data/sf0.01/", write)
    assert path == str(tmp_path / "local-7" / "csv-sf0.01")
    assert sess.fixture_dir(_SPARK, "csv", "/data/sf0.01/", write) == path
    assert calls == [path]
    assert sorted(os.listdir(path)) == ["_complete", "part-0"]


def test_run_dir_is_fresh_and_reclaims_earlier_runs(tmp_path, monkeypatch):
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(tmp_path),))
    with pytest.raises(FileNotFoundError):
        sess.last_output(_SPARK, "q_sink", "/data/sf0.01")
    first = sess.run_dir(_SPARK, "q_sink", "/data/sf0.01")
    _touch(os.path.join(first, "part-0"), time.time())
    second = sess.run_dir(_SPARK, "q_sink", "/data/sf0.01")
    assert second == str(tmp_path / "local-7" / "q_sink-sf0.01" / "r2")
    assert os.listdir(second) == []
    assert not os.path.exists(first)
    assert sess.last_output(_SPARK, "q_sink", "/data/sf0.01") == second
    # no sf: one level shorter; other (name, sf) keys are untouched
    assert sess.run_dir(_SPARK, "q_stream_late") == str(
        tmp_path / "local-7" / "q_stream_late" / "r1")
    assert os.path.isdir(second)


def test_scratch_root_is_read_at_call_time(tmp_path, monkeypatch):
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(tmp_path / "a"),))
    assert sess.run_dir(_SPARK, "q").startswith(str(tmp_path / "a"))
    monkeypatch.setattr(sess, "_SCRATCH_ROOTS", (str(tmp_path / "b"),))
    assert sess.run_dir(_SPARK, "q").startswith(str(tmp_path / "b"))


def test_materialize_tags_its_build_jobs_and_keeps_the_rows(spark):
    """The shuffle stage beneath a checkpointed group-by runs while the
    plan is built, as a job tagged ``ckpt:<why>``; the tag is gone once
    ``materialize`` returns, and the result holds the input's rows."""
    from pyspark.sql import functions as F

    df = (spark.range(1000).groupBy((F.col("id") % 7).alias("k"))
          .agg(F.count(F.lit(1)).alias("n")))
    sc = spark.sparkContext
    out = sess.materialize(df, "test_groupby")
    assert "ckpt:test_groupby" not in sc.getJobTags()
    assert sorted(out.collect()) == sorted(df.collect())
    tracker = sc._jsc.sc().statusTracker()
    deadline = time.time() + 30  # the status store is updated async
    while (not len(tracker.getJobIdsForTag("ckpt:test_groupby"))
           and time.time() < deadline):
        time.sleep(0.1)
    assert len(tracker.getJobIdsForTag("ckpt:test_groupby")) >= 1

