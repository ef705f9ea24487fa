"""The spool workload: publish a seeded spool with the ``textspool``
writer, then drain it through ``readStream.format("filemeta")`` with
``commitMode=rename`` into a foreachBatch sink that collects the
metadata rows."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import checks
import inputs
import tracing

SUFFIX = ".COMPLETED"
MAX_FILES = 1000  # the source's default maxFilesPerTrigger
# The drain_directory fault: more than maxFilesPerTrigger files, fixed
# (seed-independent) names, drained one-shot with commitMode=rename.
SHORT_DRAIN_FILES = 250
SHORT_DRAIN_MAX = 100


class SpoolWorkload:
    def __init__(self, ctx, n_files: int):
        self.ctx = ctx
        self.spark = ctx.spark
        self.plan = inputs.spool_plan(ctx.seed, n_files)
        self.published = {n: b for n, b, _ in self.plan}
        self.per_round: list[float] = []  # core ms/file over the drain
        self.publish_s = self.drain_s = 0.0
        self.cpu = {"jvm": 0.0, "python": 0.0}  # over the timed publishes and drains
        self.counts: dict[str, int] = {}
        self.layer_times = {"filemeta.read_s": 0.0, "filemeta.commit_s": 0.0}
        self.listener = None  # set by the caller in traced runs
        self.timed_queries: set[str] = set()
        from flume_source_spark.sources import filemeta, spool_writer

        filemeta.register(self.spark)
        spool_writer.register(self.spark)

    # -- one publish + drain ------------------------------------------------

    def publish(self, directory: str, rows, counts: dict):
        """Write ``rows`` with the textspool writer. Returns (seconds,
        cpu dict)."""
        df = self.spark.createDataFrame(rows, "file_name string, body string")
        cpu0 = tracing.tree_cpu()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("spool_writer.publish"), self.ctx.jobs.group(counts, "spool_writer.jobs"):
            df.write.format("textspool").mode("append").option("path", directory).save()
        elapsed = time.perf_counter() - t0
        cpu1 = tracing.tree_cpu()
        return elapsed, {k: cpu1[k] - cpu0[k] for k in cpu0}

    def drain(self, directory: str, checkpoint: str):
        """Run the stream until every file is emitted and renamed.
        Returns (seconds, cpu dict, batches, ok, query id)."""
        batches = []

        def sink(df, epoch_id):
            batches.append((epoch_id, [tuple(r) for r in df.collect()]))

        reader = self.spark.readStream.format("filemeta").option("path", directory).option("commitMode", "rename")
        cpu0 = tracing.tree_cpu()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("stream.drain"):
            q = reader.load().writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint).start()
            try:
                q.processAllAvailable()
                done = self._wait_renamed(directory)
                elapsed = time.perf_counter() - t0
                cpu1 = tracing.tree_cpu()
                self.ctx.sample_rss()
            finally:
                q.stop()
        if self.listener is not None:
            self.listener.wait_terminated(str(q.id))
        return elapsed, {k: cpu1[k] - cpu0[k] for k in cpu0}, batches, done, str(q.id)

    def _wait_renamed(self, directory: str, timeout: float = 60.0) -> bool:
        deadline = time.monotonic() + timeout
        while any(not n.endswith(SUFFIX) for n in os.listdir(directory)):
            if time.monotonic() > deadline:
                return False
            time.sleep(0.005)
        return True

    def warmup(self) -> None:
        """One full-size round on other files, untimed and uncounted:
        Python workers start and the JIT compiles the drain path."""
        self.round(-1, inputs.spool_plan(self.ctx.seed, len(self.plan), tag="w"), timed=False)

    def round(self, r: int, plan=None, timed: bool = True) -> tuple[int, int]:
        """One publish + drain, checked. Returns (operations attempted,
        operations failed)."""
        plan = plan or self.plan
        published = {n: b for n, b, _ in plan}
        work = os.path.join(self.ctx.work, f"round{r}")
        spool = os.path.join(work, "spool")
        publish_s, publish_cpu = self.publish(spool, [(n, b.decode()) for n, b, _ in plan], self.counts if timed else {})
        inputs.set_mtimes(spool, plan)
        stat_mtime = {n: os.stat(os.path.join(spool, n)).st_mtime for n in published}
        drain_s, cpu, batches, done, qid = self.drain(spool, os.path.join(work, "ckpt"))
        print(
            f"round {r}: publish {publish_s:.3f} s, cpu {tracing.fmt_cpu(publish_cpu)};"
            f" drain {drain_s:.3f} s, cpu {tracing.fmt_cpu(cpu)}",
            file=sys.stderr,
        )
        if timed:
            self.timed_queries.add(qid)
            n = len(plan)
            self.per_round.append(1000 * sum(cpu.values()) / n)
            self.publish_s += publish_s
            self.drain_s += drain_s
            for k in cpu:
                self.cpu[k] += publish_cpu[k] + cpu[k]
            self.counts["stream.offset_log_bytes"] = self.counts.get("stream.offset_log_bytes", 0) + _dir_bytes(
                os.path.join(work, "ckpt", "offsets")
            )
        problems = checks.check_drain(spool, published, stat_mtime, batches, MAX_FILES)
        n_emitted = sum(len(rs) for _, rs in batches)
        problems += checks.check_spool_after(spool, published, SUFFIX, n_emitted)
        if not done:
            problems.append("files left unrenamed after processAllAvailable")
        self.ctx.report(problems)
        shutil.rmtree(work)
        return 2, 0

    def known_faults(self) -> tuple[int, int]:
        """Once per run, after the rounds: untimed
        ``drain_directory(..., commitMode="rename")`` over a fixed spool
        of more than ``maxFilesPerTrigger`` files. It fails when it
        leaves a file undrained; the rows it does emit are checked.
        Returns (operations attempted, operations failed)."""
        from flume_source_spark.sources.filemeta import drain_directory

        work = os.path.join(self.ctx.work, "short-drain")
        spool = os.path.join(work, "short")
        plan = inputs.spool_plan(0, SHORT_DRAIN_FILES, tag="short")
        inputs.write_spool_files(spool, plan)
        published = {n: b for n, b, _ in plan}
        mtimes = {n: float(m) for n, _, m in plan}
        rows = []
        drain_directory(
            self.spark,
            spool,
            lambda df, _: rows.extend(tuple(r) for r in df.collect()),
            checkpoint=os.path.join(work, "short-ckpt"),
            commitMode="rename",
            maxFilesPerTrigger=SHORT_DRAIN_MAX,
        )
        names = [r[0] for r in rows]
        bad = [r for r in rows if r[0] not in mtimes or tuple(r) != checks.expected_row(spool, r[0], mtimes[r[0]])]
        if bad or len(names) != len(set(names)):
            self.ctx.report([f"drain_directory emitted {len(bad)} wrong or duplicated rows"])
        renamed = [n for n in os.listdir(spool) if n.endswith(SUFFIX)]
        if sorted(renamed) != sorted(n + SUFFIX for n in names):
            self.ctx.report(["drain_directory renamed files it did not emit"])
        shutil.rmtree(work)
        drained = len(names) == len(published) and len(renamed) == len(published)
        return 1, 0 if drained else 1

    # -- the filemeta layer without Spark in between --------------------------

    def layers(self) -> None:
        """Drive ``FileMetaDataSource(options).simpleStreamReader`` with
        ``read()`` / ``commit()`` over a copy of the spool, counting the
        directory entries the source's own ``os.scandir`` calls yield."""
        from flume_source_spark.sources import filemeta
        from flume_source_spark.sources.filemeta import SCHEMA_DDL, FileMetaDataSource

        spool = os.path.join(self.ctx.work, "layer")
        inputs.write_spool_files(spool, self.plan)
        stat_mtime = {n: os.stat(os.path.join(spool, n)).st_mtime for n in self.published}
        # Spark hands a DataSource its options with lower-cased keys
        reader = FileMetaDataSource({"path": spool, "commitmode": "rename"}).simpleStreamReader(SCHEMA_DDL)
        start = reader.initialOffset()
        read_s = commit_s = 0.0
        offset_bytes = 0
        listed = [0]
        batches = []
        while True:
            t0 = time.perf_counter()
            with self.ctx.tracer.span("filemeta.read"), tracing.counting_scandir(filemeta.os, listed):
                it, end = reader.read(start)
                rows = list(it)
            read_s += time.perf_counter() - t0
            if not rows:
                break
            offset_bytes += len(json.dumps(end))
            batches.append((len(batches), rows))
            t0 = time.perf_counter()
            with self.ctx.tracer.span("filemeta.commit"), tracing.counting_scandir(filemeta.os, listed):
                reader.commit(end)
            commit_s += time.perf_counter() - t0
            start = end
        problems = checks.check_drain(spool, self.published, stat_mtime, batches, MAX_FILES)
        problems += checks.check_spool_after(spool, self.published, SUFFIX, sum(len(r) for _, r in batches))
        self.ctx.report([f"layer loop: {p}" for p in problems])
        shutil.rmtree(spool)
        self.counts.update({"filemeta.entries_listed": listed[0], "filemeta.offset_bytes": offset_bytes})
        self.layer_times = {"filemeta.read_s": read_s, "filemeta.commit_s": commit_s}

    # -- metrics ----------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return tracing.round_median(self.per_round)

    def per_layer(self) -> dict[str, float]:
        out = {
            "spool_writer.publish_s": self.publish_s,
            "spool_writer.jobs": self.counts.get("spool_writer.jobs", 0),
            "filemeta.entries_listed": self.counts.get("filemeta.entries_listed", 0),
            "filemeta.offset_bytes": self.counts.get("filemeta.offset_bytes", 0),
            "stream.offset_log_bytes": self.counts.get("stream.offset_log_bytes", 0),
            "stream.drain_s": self.drain_s,
            "proc.jvm_core_s": self.cpu["jvm"],
            "proc.python_core_s": self.cpu["python"],
            **self.layer_times,
        }
        if self.listener is not None:
            out.update(stream_metrics(self.listener, self.timed_queries))
        return out


def stream_metrics(listener, queries: set[str]) -> dict[str, float]:
    """Totals over the progress events of ``queries``, plus the
    batch-interval growth within a drain: median ``triggerExecution`` of
    each drain's last tenth of non-empty batches over its first tenth,
    pooled. The empty batches that rename mode runs to commit are left
    out of the growth: they take a fraction of a real batch's time."""
    batches = empty = 0
    dur = {"latestOffset": 0, "walCommit": 0, "commitOffsets": 0, "queryPlanning": 0, "addBatch": 0}
    first, last = [], []
    for qid in queries:
        events = sorted(listener.progress.get(qid, []), key=lambda e: e[0])
        batches += len(events)
        empty += sum(1 for _, rows, _ in events if rows == 0)
        for _, _, d in events:
            for k in dur:
                dur[k] += d.get(k, 0)
        trig = [d.get("triggerExecution", 0) for _, rows, d in events if rows > 0]
        k = max(1, len(trig) // 10)
        first += trig[:k]
        last += trig[-k:]
    first_ms = statistics.median(first) if first else 0.0
    last_ms = statistics.median(last) if last else 0.0
    return {
        "stream.batches": batches,
        "stream.empty_batches": empty,
        "stream.latest_offset_s": dur["latestOffset"] / 1000,
        "stream.wal_commit_s": dur["walCommit"] / 1000,
        "stream.commit_offsets_s": dur["commitOffsets"] / 1000,
        "stream.query_planning_s": dur["queryPlanning"] / 1000,
        "stream.add_batch_s": dur["addBatch"] / 1000,
        "stream.batch_first_ms": first_ms,
        "stream.batch_last_ms": last_ms,
        "stream.batch_growth": last_ms / first_ms if first_ms else 0.0,
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) if os.path.isdir(path) else 0
