"""Traced runs: spans around the calls into each engine layer, plus Spark
job attribution through the UI's REST API.

Spans are recorded by the benchmark only; no engine source changes. In a
traced query run the benchmark opens the root ``query`` span and its
phases (``plans.build`` around ``fn()``, ``spark.catalyst`` and
``spark.exec``), and :class:`Patches` wraps the engine's public calls so
that ``io.load``, ``operators``, ``plans.ckpt``, ``plans.collect`` and
``plans.sink`` open spans too. Every span also holds a Spark job tag
``graft:<workload>:<query>:<pass>:<span name>`` while it is open, so each
job the span launches can be attributed afterwards from ``/jobs``.
Streaming queries are seen through a ``StreamingQueryListener``
(:func:`stream_listener`).
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: tuple[str, int]  # (query, pass number): shared by one query run


class Tracer:
    """In-memory span recorder for one workload's traced query runs."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run: tuple[str, int] | None = None

    def tag(self, name: str) -> str:
        query, pass_no = self.run
        return f"graft:{self.workload}:{query}:{pass_no}:{name}"

    @contextmanager
    def span(self, name: str):
        """Open span ``name`` inside the current query run. Outside a run,
        and inside an open span of the same name (a layer calling itself),
        this records nothing, so each layer counts its outermost calls."""
        if self.run is None or any(self.spans[i].name == name
                                   for i in self._stack):
            yield
            return
        tag = self.tag(name)
        self.sc.addJobTag(tag)
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run))
        self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid].end = time.perf_counter()
            self._stack.pop()
            self.sc.removeJobTag(tag)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append((s.end - s.start) - covered)
    return out


def layer_totals(spans: list[Span],
                 passes: set[int]) -> dict[str, dict[str, float]]:
    """Per span name: ``calls``, inclusive seconds ``s`` and ``self_s``
    over the spans of the query runs in ``passes``."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for s, self_s in zip(spans, self_times(spans)):
        if s.run[1] not in passes:
            continue
        agg = out[s.name]
        agg["calls"] += 1
        agg["s"] += s.end - s.start
        agg["self_s"] += self_s
    return dict(out)


class Patches:
    """Wraps the engine's public layer entry points in tracer spans while
    applied; :meth:`restore` puts every original back."""

    COLLECTS = ("collect", "toPandas", "count", "first", "take", "head",
                "toLocalIterator", "isEmpty")
    CHECKPOINTS = ("localCheckpoint", "checkpoint")
    SINKS = ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable",
             "insertInto")

    def __init__(self, tracer: Tracer, dataframe_cls, writer_cls):
        self.tracer = tracer
        self.df_cls = dataframe_cls
        self.writer_cls = writer_cls
        self._saved: list[tuple[object, str, object]] = []

    def _spanned(self, name: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def _rebind(self, orig, wrapped) -> None:
        """Replace ``orig`` in every engine module that holds it, so
        ``from x import f`` call sites are wrapped as well."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("hippo_claim_crossover_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._saved.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)

    def apply(self) -> None:
        from hippo_claim_crossover_spark import io, operators

        if self._saved:
            return
        self._rebind(io.load_table, self._spanned("io.load", io.load_table))
        for info in pkgutil.iter_modules(operators.__path__):
            mod = importlib.import_module(f"{operators.__name__}.{info.name}")
            for attr, fn in list(vars(mod).items()):
                if (callable(fn) and not attr.startswith("_")
                        and getattr(fn, "__module__", None) == mod.__name__
                        and not isinstance(fn, type)):
                    self._rebind(fn, self._spanned("operators", fn))
        for owner, names, span in (
                (self.df_cls, self.CHECKPOINTS, "plans.ckpt"),
                (self.df_cls, self.COLLECTS, "plans.collect"),
                (self.writer_cls, self.SINKS, "plans.sink")):
            for attr in names:
                orig = getattr(owner, attr)
                self._saved.append((owner, attr, orig))
                setattr(owner, attr, self._spanned(span, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def fetch_rest(sc, settle_s: float = 20.0) -> dict:
    """``/jobs``, ``/stages`` and ``/sql`` of the running application,
    fetched once no job is running and the job count has stopped moving
    (the UI's listener applies events asynchronously)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    deadline, last = time.monotonic() + settle_s, None
    while True:
        jobs = get("jobs")
        n_done = sum(j["status"] != "RUNNING" for j in jobs)
        if (n_done == len(jobs) and n_done == last) or time.monotonic() > deadline:
            break
        last = n_done
        time.sleep(0.5)
    return {"jobs": jobs, "stages": get("stages"),
            "sql": get("sql?details=true&planDescription=false"
                           "&offset=0&length=1000000")}


def _epoch(ts: str) -> float:
    """Epoch seconds of a UI (``...GMT``) or streaming (``...Z``) time."""
    return datetime.strptime(ts.rstrip("Z").replace("GMT", ""),
                             "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def parse_metric(text: str) -> float:
    """A SQL metric's total in seconds, bytes or plain units. Spark prints
    either ``"12 ms"``/``"3.4 MiB"``/``"5"`` or, for per-task metrics,
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split()
    if not parts:
        return 0.0
    value = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
             "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB,
             "TiB": 1024.0 * 1024 * MB}
    return value * scale.get(unit, 1.0)


SQL_METRICS = {
    "scan time": "scan_s",
    "metadata time": "scan_metadata_s",
    "size of files read": "scan_mb",
    "number of files read": "scan_files",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_mb",
    "written output": "write_mb",
}
SPARK_TOTALS = ("jobs", "jobs_untagged", "stages", "stages_skipped", "tasks",
                "sched_delay_s", "task_run_s", "task_cpu_s", "task_gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "shuffle_fetch_wait_s",
                "spill_mb", "peak_exec_mem_mb", *SQL_METRICS.values())


def attribute_jobs(payload: dict, workload: str, passes: set[int],
                   windows: list[tuple[float, float]]) -> dict:
    """Spark-side totals over the traced query runs of ``passes``.

    Jobs are attributed by their ``graft:<workload>:...`` tag. Jobs with
    no such tag are counted as ``jobs_untagged`` when they were submitted
    inside one of ``windows`` (epoch seconds), e.g. jobs a stream's
    background thread starts; they are reported, never dropped.
    Returns totals plus ``phase_jobs``: jobs per span name.
    """
    prefix = f"graft:{workload}:"
    stages = {s["stageId"]: s for s in payload["stages"]
              if s.get("attemptId", 0) == 0}
    jobs, phase_jobs, untagged = [], defaultdict(int), 0
    for job in payload["jobs"]:
        tags = [t.split(":") for t in job.get("jobTags", [])
                if t.startswith(prefix)]
        if not tags:
            t0 = _epoch(job["submissionTime"]) if "submissionTime" in job else None
            if t0 is not None and any(lo <= t0 <= hi for lo, hi in windows):
                untagged += 1
            continue
        if int(tags[0][3]) not in passes:
            continue
        jobs.append(job)
        for phase in {t[4] for t in tags}:
            phase_jobs[phase] += 1
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    tot = defaultdict(float, dict.fromkeys(SPARK_TOTALS, 0.0))
    tot["jobs"], tot["jobs_untagged"] = len(jobs), untagged
    for sid in stage_ids:
        st = stages.get(sid)
        if st is None:
            continue
        if st["status"] == "SKIPPED":
            tot["stages_skipped"] += 1
            continue
        tot["stages"] += 1
        tot["tasks"] += st["numCompleteTasks"]
        tot["task_run_s"] += st["executorRunTime"] / 1e3
        tot["task_cpu_s"] += st["executorCpuTime"] / 1e9
        tot["task_gc_s"] += st["jvmGcTime"] / 1e3
        tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        tot["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
        tot["shuffle_fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
        tot["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
        tot["peak_exec_mem_mb"] = max(tot["peak_exec_mem_mb"],
                                      st["peakExecutionMemory"] / MB)
        if "firstTaskLaunchedTime" in st and "submissionTime" in st:
            tot["sched_delay_s"] += (_epoch(st["firstTaskLaunchedTime"])
                                     - _epoch(st["submissionTime"]))
    job_ids = {j["jobId"] for j in jobs}
    for ex in payload["sql"]:
        if not job_ids.intersection(ex.get("successJobIds", []) +
                                    ex.get("failedJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = SQL_METRICS.get(m["name"])
                if key:
                    v = parse_metric(m["value"])
                    tot[key] += v / MB if key.endswith("_mb") else v
    tot["phase_jobs"] = dict(phase_jobs)
    return tot


def stream_listener(events: list):
    """A ``StreamingQueryListener`` appending one plain record per
    micro-batch progress to ``events``. Query starts are counted from the
    progress records' run ids: PySpark fails to convert a start event
    whose query carries job tags, as every traced query does."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "run_id": str(p.runId), "timestamp": p.timestamp,
                "durationMs": dict(p.durationMs),
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators)})

        def onQueryTerminated(self, event):
            pass

    return Listener()


def stream_totals(events: list[dict],
                  windows: list[tuple[float, float]]) -> dict[str, float]:
    """Streaming totals over the progress records stamped inside
    ``windows`` (epoch seconds): query runs, micro-batches, trigger and
    commit seconds (write-ahead log plus offset commit) and state rows."""
    runs: set[str] = set()
    tot = {"batches": 0, "trigger_s": 0.0, "commit_s": 0.0, "state_rows": 0}
    for ev in events:
        t = _epoch(ev["timestamp"])
        if not any(lo <= t <= hi for lo, hi in windows):
            continue
        ms = ev["durationMs"]
        runs.add(ev["run_id"])
        tot["batches"] += 1
        tot["trigger_s"] += ms.get("triggerExecution", 0) / 1e3
        tot["commit_s"] += (ms.get("walCommit", 0)
                            + ms.get("commitOffsets", 0)) / 1e3
        tot["state_rows"] += ev["state_rows"]
    return {"queries": len(runs), **tot}
