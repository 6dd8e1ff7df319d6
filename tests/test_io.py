"""I/O discipline tests: partitioned writes give partition-pruned reads,
and write-side coalesce bounds file counts."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hippo_claim_crossover_spark.io import load_table, write_parquet
from hippo_claim_crossover_spark.session import last_output


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directories skipped at planning time — the 100 TB date-partition
    pattern), not a row-level scan filter."""
    path = str(tmp_path / "orders_by_status")
    o = load_table(spark, sf_dir, "orders")
    write_parquet(o, path, partition_by=["o_orderstatus"])

    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pf
    # and values round-trip
    want = o.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_write_side_coalesce_bounds_file_count(spark, sf_dir, tmp_path):
    path = str(tmp_path / "li_compact")
    li = load_table(spark, sf_dir, "lineitem").repartition(16)
    write_parquet(li, path, target_partitions=2)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) <= 2
    assert spark.read.parquet(path).count() == li.count()


def test_clustered_sink_ranges_are_disjoint(spark, sf_dir):
    """q_sink_clustered's rewrite must actually cluster: the written
    files' footer min/max l_shipdate ranges are pairwise disjoint, so a
    range filter can skip whole files before any decode."""
    import glob

    import pyarrow.parquet as pq

    from hippo_claim_crossover_spark.plans import ALL_SPECS

    # executing the query materializes the clustered copy
    assert ALL_SPECS["q_sink_clustered"].fn(spark, sf_dir).count() > 0
    out = last_output(spark, "q_sink_clustered", sf_dir)
    paths = glob.glob(os.path.join(out, "part-*.parquet"))
    assert len(paths) >= 2
    spans = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["l_shipdate"]).statistics
            los.append(st.min)
            his.append(st.max)
        spans.append((min(los), max(his)))
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, "file shipdate ranges overlap"


def test_observed_write_collects_metrics_in_the_write_job(spark, sf_dir,
                                                          tmp_path):
    """observe() metrics must ride the write's own pass (no second scan)
    and report exact aggregates: row count, null count, min/max bounds —
    the per-batch data-quality record a production sink keeps."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.io import load_table, observed_write

    df = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "observed")
    got = observed_write(
        df, out,
        metrics={
            "null_segments": F.count_if(F.col("c_mktsegment").isNull()),
            "min_key": F.min("c_custkey"),
            "max_bal": F.max("c_acctbal"),
        })
    want_rows = df.count()
    assert got["n_rows"] == want_rows
    assert got["null_segments"] == 0
    assert got["min_key"] == df.agg(F.min("c_custkey")).first()[0]
    assert got["max_bal"] == df.agg(F.max("c_acctbal")).first()[0]
    # the write itself is intact
    assert spark.read.parquet(out).count() == want_rows


def test_zorder_sink_has_2d_locality(spark, sf_dir):
    """q_sink_zorder's rewrite must give every file a locality box in
    BOTH interleaved dimensions: the mean per-file span of l_partkey AND
    of l_suppkey must each be well under the full domain (a 1-D range
    layout would leave the second dimension's spans at ~100%)."""
    import glob

    import pyarrow.parquet as pq

    from hippo_claim_crossover_spark.plans import ALL_SPECS

    assert ALL_SPECS["q_sink_zorder"].fn(spark, sf_dir).count() > 0
    out = last_output(spark, "q_sink_zorder", sf_dir)
    paths = glob.glob(os.path.join(out, "part-*.parquet"))
    assert len(paths) >= 4
    spans = {"l_partkey": [], "l_suppkey": []}
    domain = {}
    for p in paths:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in spans:
            los = [md.row_group(rg).column(idx[col]).statistics.min
                   for rg in range(md.num_row_groups)]
            his = [md.row_group(rg).column(idx[col]).statistics.max
                   for rg in range(md.num_row_groups)]
            spans[col].append(max(his) - min(los))
            lo, hi = domain.get(col, (min(los), max(his)))
            domain[col] = (min(lo, min(los)), max(hi, max(his)))
    for col, ss in spans.items():
        full = domain[col][1] - domain[col][0]
        mean_frac = sum(ss) / len(ss) / full
        assert mean_frac < 0.7, (col, mean_frac)


def test_sink_runs_reclaim_earlier_run_dirs(spark, sf_dir):
    """Per-run scratch stays bounded: after three q_sink_zorder runs in
    one session exactly one zorder run directory remains under the
    application's scratch dir, and the third run's frame still reads."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS
    from hippo_claim_crossover_spark.session import _SCRATCH_ROOTS

    fn = ALL_SPECS["q_sink_zorder"].fn
    want = sorted(fn(spark, sf_dir).collect())
    fn(spark, sf_dir)
    third = fn(spark, sf_dir)
    app_dir = os.path.join(_SCRATCH_ROOTS[0],
                           spark.sparkContext.applicationId)
    runs = glob.glob(os.path.join(app_dir, "*zorder*", "r*"))
    assert runs == [last_output(spark, "q_sink_zorder", sf_dir)], runs
    assert sorted(third.collect()) == want


def test_pyds_stream_writer_round_trip(spark, tmp_path):
    """All four faces of the custom connector compose: the synthdocs
    STREAM reader drains through the synthdocs STREAM writer
    (per-batch tmp+rename + _SUCCESS-<batch> manifests), and the files
    read back equal the batch face of the same source."""
    import glob
    import json
    import os

    from hippo_claim_crossover_spark import datasource

    import time

    datasource.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def rowcount() -> int:
        total = 0
        for p in glob.glob(os.path.join(out, "batch-*.json")):
            with open(p) as f:
                total += sum(1 for _ in f)
        return total

    def manifests_cover_files() -> bool:
        # tasks rename data files BEFORE the driver seals the batch, so
        # wait for the manifest too — otherwise stopping right at 100
        # rows races the last commit().
        covered: set = set()
        for m in glob.glob(os.path.join(out, "_SUCCESS-*")):
            covered |= set(json.load(open(m)))
        produced = {os.path.basename(p)
                    for p in glob.glob(os.path.join(out, "batch-*.json"))}
        return bool(produced) and produced <= covered

    q = (spark.readStream.format("synthdocs")
         .option("n", "100").option("step", "30").load()
         .writeStream.format("synthdocs")
         .option("path", out).option("checkpointLocation", ckpt)
         .start())
    try:
        deadline = time.time() + 120
        while ((rowcount() < 100 or not manifests_cover_files())
               and time.time() < deadline):
            time.sleep(0.2)
    finally:
        q.stop()
    back = (spark.read
            .schema("doc_id bigint, token string, n_chars int")
            .json(os.path.join(out, "batch-*.json")))
    rows = {r["doc_id"]: r["token"] for r in back.collect()}
    assert rows == {i: datasource.synth_token(i) for i in range(100)}
    # every sealed batch has a manifest, and manifests cover every file
    manifests = glob.glob(os.path.join(out, "_SUCCESS-*"))
    assert manifests
    covered = set()
    for m in manifests:
        covered |= set(json.load(open(m)))
    produced = {os.path.basename(p)
                for p in glob.glob(os.path.join(out, "batch-*.json"))}
    assert produced <= covered


def test_pyds_writer_abort_removes_files(tmp_path):
    """The batch writer's abort() must delete the files its commit
    messages name — the cleanup half of the two-phase protocol."""
    import json

    from hippo_claim_crossover_spark.datasource import (
        _JsonPartMessage,
        _ScratchJsonWriter,
    )

    p = tmp_path / "part-00000.json"
    p.write_text(json.dumps({"x": 1}) + "\n")
    w = _ScratchJsonWriter({"path": str(tmp_path)})
    w.abort([_JsonPartMessage(str(p), 1)])
    assert not p.exists()


def test_pyds_stream_writer_batch_replay_is_idempotent(tmp_path):
    """The ADVICE r5 scenario: a micro-batch REPLAYED after crash
    recovery (new task attempts, new pending files) must end with
    exactly the replay's files under the batch-keyed names and a
    manifest covering them — never the originals plus duplicates."""
    import glob
    import json
    import os

    from hippo_claim_crossover_spark.datasource import (
        _JsonPartMessage,
        _ScratchJsonStreamWriter,
    )

    out = str(tmp_path)
    w = _ScratchJsonStreamWriter({"path": out})

    def fake_task(pid: int, attempt: int, rows: list) -> _JsonPartMessage:
        pending = os.path.join(
            out, f"pending-part-{pid:05d}-{attempt}.json")
        with open(pending, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return _JsonPartMessage(pending, len(rows), pid)

    # original run of batch 7: 2 partitions + one failed attempt's litter
    m1 = [fake_task(0, 100, [{"x": 1}]), fake_task(1, 101, [{"x": 2}])]
    fake_task(1, 99, [{"x": 2}])   # failed attempt, never in messages
    w.commit(m1, 7)
    # replay of batch 7 after "crash": fresh attempts, same data
    m2 = [fake_task(0, 200, [{"x": 1}]), fake_task(1, 201, [{"x": 2}])]
    w.commit(m2, 7)

    data_files = sorted(glob.glob(os.path.join(out, "batch-*.json")))
    assert [os.path.basename(p) for p in data_files] == [
        "batch-00007-part-00000.json", "batch-00007-part-00001.json"]
    assert not glob.glob(os.path.join(out, "pending-*"))   # litter swept
    manifest = json.load(open(os.path.join(out, "_SUCCESS-7")))
    assert set(manifest) == {os.path.basename(p) for p in data_files}
    total = sum(sum(1 for _ in open(p)) for p in data_files)
    assert total == 2                                      # not doubled


def test_pyds_stream_reader_polls_past_exhaustion():
    """Driven through PySpark's prefetch wrapper (what the engine calls),
    the stream source keeps answering once its rows run out: each poll
    past the end returns an empty batch at the same offset, which is how
    processAllAvailable sees the source drained. The cached batches still
    replay every row, and replay again, since the planner reads a copy of
    each."""
    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    from hippo_claim_crossover_spark.datasource import (
        TOKEN_LEN,
        _SynthDocsStreamReader,
        synth_token,
    )

    w = _SimpleStreamReaderWrapper(
        _SynthDocsStreamReader({"n": "100", "step": "50"}))
    ends = [w.latestOffset() for _ in range(4)]
    assert ends == [{"i": 50}, {"i": 100}, {"i": 100}, {"i": 100}]
    want = [(i, synth_token(i), TOKEN_LEN) for i in range(100)]
    for _ in range(2):
        assert list(w.getCache({"i": 0}, {"i": 100})) == want


def test_local_frame_stays_on_the_arrow_path(spark):
    """io.local_frame exists to keep driver-side literals JVM-side: the
    list path (`createDataFrame(list)`) plans as a 32-slice Python RDD
    whose every evaluation pays a Python-worker round trip per slice
    (~4.4s for a 2-row frame at r15's measurement — it carried ~120s
    of the r14 sweep). Results are IDENTICAL either way, so only a
    plan pin can catch a revert: the literal must plan as a
    LocalTableScan / LocalRelation, never `Scan ExistingRDD`. Also
    round-trips the value types the call sites use (long, string,
    double, timestamp) and both schema spellings (DDL + StructType)."""
    import datetime

    from pyspark.sql import types as T

    from hippo_claim_crossover_spark.io import local_frame

    rows = [(1, "a", 1.5, datetime.datetime(2024, 1, 2, 3, 4, 5)),
            (2, "b", -0.25, datetime.datetime(2024, 6, 7, 8, 9, 10))]
    ddl = "k long, s string, x double, ts timestamp"
    df = local_frame(spark, rows, ddl)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    got = sorted(df.collect(), key=lambda r: r["k"])
    assert [tuple(r) for r in got] == rows
    assert df.schema.simpleString() == (
        "struct<k:bigint,s:string,x:double,ts:timestamp>")

    st = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("s", T.StringType())])
    df2 = local_frame(spark, [(7, "z")], st)
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan2 and "ExistingRDD" not in plan2
    assert df2.collect() == [(7, "z")]


def test_fixture_footers_match_the_declared_schemas(spark, sf_dir):
    """``load_table`` reads with ``SCHEMAS`` instead of inferring, so the
    declared schema must be exactly what every fixture's footer carries
    (types and nullability), at every scale present."""
    from hippo_claim_crossover_spark.io import SCHEMAS, TABLES

    # every scale-factor fixture directory beside the test fixture
    dirs = glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))
    assert sf_dir in dirs
    footers = {f"{d}/{n}": (spark.read.parquet(f"{d}/{n}.parquet").schema,
                            SCHEMAS[n]) for d in dirs for n in TABLES}
    drift = {k: got for k, (got, want) in footers.items() if got != want}
    assert not drift, drift


def test_load_table_launches_no_spark_job(spark, sf_dir):
    """A fixture load is planning only: no schema-inference job. The
    inferring read beside it shows the job counter does move."""
    from hippo_claim_crossover_spark.io import TABLES

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    for n in TABLES:
        load_table(spark, sf_dir, n)
    assert sched.nextJobId() - before == 0
    spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert sched.nextJobId() - before >= 1
