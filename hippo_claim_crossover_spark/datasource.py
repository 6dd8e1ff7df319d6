"""Custom connector surface: the Spark 4 Python DataSource API.

The reference's only ingestion is ``File.read`` of one EDI string
(lib/hippo_claim_crossover.rb:313); real pipelines also meet feeds no
built-in reader speaks (internal record services, proprietary archive
formats, metered APIs). Spark 4's Python DataSource API is the idiomatic
extension point: the source declares its schema and its PARTITION PLAN
driver-side, and each partition is read independently executor-side — so a
custom feed scales exactly like a file scan (N splits → N tasks), with no
driver-side collect and no single-reader bottleneck.

``SynthDocsDataSource`` is the demonstration instance: a deterministic
generator (row ``i`` → ``md5(str(i))`` prefix) chosen precisely because an
independent engine can replay it — the DuckDB oracle recomputes the same
rows from ``range()`` + ``md5()``, turning the whole connector path
(registration → partition planning → per-partition read → scan) into a
hash-checked query. At 100 TB the same class shape wraps a real feed:
``partitions()`` returns shard descriptors (file ranges, key ranges, topic
partitions) and ``read()`` pulls one shard.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

TOKEN_LEN = 8


def synth_token(i: int) -> str:
    """Deterministic per-row payload: first 8 hex chars of md5(str(i)) —
    reproducible by any engine with md5 (DuckDB oracle included)."""
    return hashlib.md5(str(i).encode()).hexdigest()[:TOKEN_LEN]


class _SynthDocsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", 100))
        self.parts = int(options.get("parts", 8))

    def partitions(self) -> list[InputPartition]:
        # Driver-side partition PLAN only (cheap descriptors) — the rows
        # themselves are produced executor-side in read(). This split is
        # what makes a custom source scale like a file format.
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition: InputPartition):
        lo = self.n * partition.value // self.parts
        hi = self.n * (partition.value + 1) // self.parts
        for i in range(lo, hi):
            yield (i, synth_token(i), len(synth_token(i)))


class _SynthDocsStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the same feed: offsets are plain row positions,
    so the source is replayable — exactly the property a custom streaming
    connector must guarantee. ``read`` advances at most ``step`` rows per
    micro-batch (rate limiting lives in the source, like
    maxFilesPerTrigger); ``readBetweenOffsets`` re-produces a committed
    range verbatim for checkpoint recovery. An exhausted source returns
    an empty batch at the same offset, which is how
    ``processAllAvailable`` sees it drained (``availableNow`` is not
    supported for Python stream sources: it commits one batch only)."""

    def __init__(self, options: dict):
        self.n = int(options.get("n", 100))
        self.step = int(options.get("step", 25))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = start["i"]
        hi = min(lo + self.step, self.n)
        # An iterator, over a list rather than a generator: the engine
        # next()s an empty batch to check that it is empty, and
        # copy.copy()s a cached batch each time it plans one.
        rows = [(i, synth_token(i), TOKEN_LEN) for i in range(lo, hi)]
        return iter(rows), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Checkpoint-recovery replay: the engine next()s this too.
        return iter([(i, synth_token(i), TOKEN_LEN)
                     for i in range(start["i"], end["i"])])


class _JsonPartMessage(WriterCommitMessage):
    """Per-task commit message: the finalized file and its row count.
    The driver sees the full list in commit() — the two-phase protocol
    every exactly-once sink uses (task writes to a temp name, driver
    seals the job)."""

    def __init__(self, path: str, n_rows: int, pid: int = -1):
        self.path = path
        self.n_rows = n_rows
        self.pid = pid


class _ScratchJsonWriter(DataSourceWriter):
    """WRITE face of the connector: each task streams its partition to
    ``part-<pid>.json.tmp`` and renames on success (rename is the atomic
    unit), returning a commit message; the driver's commit() drops a
    ``_SUCCESS`` marker naming every sealed file. A failed task's .tmp
    file is simply never renamed/listed, so retries are idempotent —
    the same contract as the built-in file sinks, expressed through the
    Python DataSource writer API."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _JsonPartMessage:
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        final = os.path.join(self.path, f"part-{ctx.partitionId():05d}.json")
        tmp = f"{final}.tmp-{ctx.taskAttemptId()}"
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        os.replace(tmp, final)
        return _JsonPartMessage(final, n)

    def _sweep_tmp(self) -> None:
        import glob
        import os

        # Failed/speculative task attempts leave part-*.json.tmp-<attempt>
        # behind (only the winning attempt renames); the job is over by
        # commit/abort time, so they are litter.
        for p in glob.glob(os.path.join(self.path, "part-*.json.tmp-*")):
            try:
                os.remove(p)
            except OSError:
                pass

    def commit(self, messages) -> None:
        import json
        import os

        self._sweep_tmp()
        manifest = {os.path.basename(m.path): m.n_rows for m in messages}
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(json.dumps(manifest, sort_keys=True))

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass
        self._sweep_tmp()


class _ScratchJsonStreamWriter(DataSourceStreamWriter):
    """STREAMING write face. Tasks do NOT know the micro-batch id (the
    API hands it only to the driver's ``commit``/``abort``), so each task
    writes a PENDING file and ``commit(messages, batchId)`` finalizes the
    batch: every pending file is renamed to
    ``batch-<batchId>-part-<pid>.json`` (``os.replace`` — a batch
    REPLAYED after crash recovery overwrites the same final names instead
    of accumulating duplicates under fresh stage-keyed names), any
    ``batch-<batchId>-*`` file NOT named by this commit is deleted, the
    ``_SUCCESS-<batchId>`` manifest is rewritten to name exactly the
    surviving files, and leftover pending/tmp litter from failed or
    speculative attempts is swept. Data files only appear under their
    final names at commit time, so both manifest-driven readers and
    ``batch-*.json`` globs see each batch exactly once."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _JsonPartMessage:
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        pending = os.path.join(
            self.path,
            f"pending-part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
            ".json")
        tmp = f"{pending}.tmp"
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        os.replace(tmp, pending)
        return _JsonPartMessage(pending, n, ctx.partitionId())

    def _sweep_pending(self) -> None:
        import glob
        import os

        # Micro-batches are sequential, so any pending/tmp file still on
        # disk when the driver seals or aborts a batch belongs to a
        # failed or speculative attempt — litter, not data.
        for p in glob.glob(os.path.join(self.path, "pending-part-*")):
            try:
                os.remove(p)
            except OSError:
                pass

    def commit(self, messages, batchId: int) -> None:
        import glob
        import json
        import os

        manifest: dict[str, int] = {}
        for m in messages:
            final = os.path.join(
                self.path, f"batch-{batchId:05d}-part-{m.pid:05d}.json")
            os.replace(m.path, final)
            manifest[os.path.basename(final)] = m.n_rows
        # A prior crashed attempt of this batch may have committed with a
        # different task layout: drop its files so the manifest is total.
        for p in glob.glob(os.path.join(
                self.path, f"batch-{batchId:05d}-part-*.json")):
            if os.path.basename(p) not in manifest:
                try:
                    os.remove(p)
                except OSError:
                    pass
        self._sweep_pending()
        with open(os.path.join(self.path, f"_SUCCESS-{batchId}"), "w") as f:
            f.write(json.dumps(manifest, sort_keys=True))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.path)
            except OSError:
                pass
        self._sweep_pending()


class SynthDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("n", ...).load()`` — or
    ``spark.readStream`` with the same options for the streaming face,
    or ``df.write.format("synthdocs").option("path", ...)`` for the
    JSON-lines write face (``writeStream`` for its streaming twin)."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id bigint, token string, n_chars int"

    def reader(self, schema) -> DataSourceReader:
        return _SynthDocsReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _SynthDocsStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return _ScratchJsonStreamWriter(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            import glob
            import os

            # Drop the old manifest FIRST: a failure between cleanup and
            # the new commit() must not leave a _SUCCESS naming deleted
            # files (manifest-driven readers would chase ghosts).
            try:
                os.remove(os.path.join(self.options["path"], "_SUCCESS"))
            except OSError:
                pass
            for p in glob.glob(
                    os.path.join(self.options["path"], "part-*.json")):
                try:
                    os.remove(p)
                except OSError:
                    pass
        return _ScratchJsonWriter(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(SynthDocsDataSource)
