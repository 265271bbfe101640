"""The three workloads, driven through the pipeline's public functions.

Each workload function sets up, then measures for ``run.seconds``, then
verifies; only the measured phase feeds the end-to-end metrics. Spans
wrap every call into a program layer; the counters that need extra work
(observed row counts, directory walks, executor totals) are gathered only
when tracing is on.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from change_data_capture_service_spark.plans.inspect import executor_time_totals
from change_data_capture_service_spark.sources.pgoutput import decode_pgoutput
from change_data_capture_service_spark.sources.walsender import (
    WalSenderClient,
    frames_to_df,
    replicate_batch,
)
from change_data_capture_service_spark.streaming.es_sink import EsBulkSink
from change_data_capture_service_spark.streaming.pipeline import CdcPipeline
from change_data_capture_service_spark.streaming.sink import read_dead_letters, read_event_log
from change_data_capture_service_spark.streaming.snapshot import snapshot_table
from change_data_capture_service_spark.testing import MockEs
from change_data_capture_service_spark.testing.walsender_mock import MockWalSender

from . import oracle as O
from .gen import INT4, SCHEMA, TABLES, Change, ChangeStream, LsnClock, Model, envelope_lines, make_table, wal_script
from .trace import Tracer

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "walsender.pump_s": "s",
    "walsender.frames": "count",
    "walsender.bytes": "B",
    "pgoutput.decode_s": "s",
    "pgoutput.events_out": "count",
    "pgoutput.dead_letter_rows": "count",
    "pipeline.drain_s": "s",
    "pipeline.triggers": "count",
    "pipeline.input_rows": "count",
    "pipeline.backlog_changes": "count",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.get_batch_ms": "ms",
    "snapshot.write_s": "s",
    "snapshot.rows": "count",
    "snapshot.bytes_written": "B",
    "snapshot.files": "count",
    "sink.files_per_epoch": "count",
    "sink.bytes_per_epoch": "B",
    "sink.dead_letter_rows": "count",
    "sink.latest_state_s": "s",
    "sink.log_files": "count",
    "sink.compact_s": "s",
    "sink.compact_kept_ratio": "ratio",
    "es_sink.call_s": "s",
    "es_sink.bulk_requests": "count",
    "es_sink.bulk_bytes": "B",
    "es_sink.actions_per_request": "count",
    "es_sink.failed_requests": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "loadgen.lag_p99_s": "s",
    "oracle.check_s": "s",
    "trace.latency_p50_s": "s",
}

# span name -> per-layer metric reporting its mean self time per call
SPAN_METRICS = {
    "walsender.pump": "walsender.pump_s",
    "pgoutput.decode": "pgoutput.decode_s",
    "pipeline.drain": "pipeline.drain_s",
    "snapshot.write": "snapshot.write_s",
    "sink.latest_state": "sink.latest_state_s",
    "sink.compact": "sink.compact_s",
    "es_sink.call": "es_sink.call_s",
}

# streaming progress durationMs key -> per-layer metric (mean per trigger)
PROGRESS_MS = {
    "addBatch": "pipeline.add_batch_ms",
    "walCommit": "pipeline.wal_commit_ms",
    "commitOffsets": "pipeline.commit_offsets_ms",
    "latestOffset": "pipeline.latest_offset_ms",
    "queryPlanning": "pipeline.query_planning_ms",
    "getBatch": "pipeline.get_batch_ms",
}

# Mock-server threads that do work while Spark tasks run. They share the
# host's cores with the executor threads, so Spark gets nproc minus these:
# MockEs parses every bulk request concurrently with the posting tasks,
# while the mock walsender streams only while Spark waits for the pump.
MOCK_SERVER_THREADS = {"wal_stream": 0, "backfill": 1, "serve_mixed": 0}

# wal_stream: offered load. A drain cycle (pump + decode + drain) costs
# 1-2 s almost whatever its size (1k-5k changes), so a single tailer on 4
# cores tops out near 3k changes/s in 5k-change batches. Ticks of 1,000
# changes every 3 s keep each tick's cycle inside its interval even when
# the host runs twice as slow: freshness then measures the per-tick path,
# and a cycle that overruns makes the next ticks wait and coalesce.
WAL_TICK_S = 3.0
WAL_TICK_CHANGES = 1_000
WAL_PREWARM_CYCLES = 2
WAL_OPEN_WARM_TICKS = 1
WAL_TAIL_TICKS = 2
WAL_TABLES = {"events": 0.6, "orders": 0.3, "customer": 0.1}
SLO_S = 10.0  # the reference's checkpoint cadence

# backfill: the keyed sf0.1 table sizes, all loaded by one bulk job. The
# job runs cold, first thing in the session, as a one-off backfill does.
BACKFILL_ROWS = {"events": 100_000, "orders": 150_000, "customer": 15_000, "part": 20_000}

# serve_mixed
SERVE_KEYS = 4_000
SERVE_HISTORY_EPOCHS = 4
SERVE_HISTORY_CHANGES = 2_000
SERVE_WRITE_CHANGES = 200
SERVE_COMPACT_EVERY = 3


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's hidden and
    underscore-prefixed bookkeeping files are not data."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Run:
    """State shared by one benchmark run: session, tracer, work dir,
    operation accounting and the metrics it reports."""

    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 t_start: float):
        self.spark = spark
        self.t_start = t_start
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(workload, trace)
        self.traced = trace
        self.verdict = O.Verdict()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.report: dict[str, tuple[float, str]] = {}  # the workload's own named metrics
        self.first_op_at: float | None = None
        self.progress: list[dict] = []
        self.epoch_dirs: list[tuple[int, int]] = []
        self.oracle_s = 0.0
        self._exec0: dict[str, float] | None = None

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the run began."""
        print(f"[perfbench {time.perf_counter() - self.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def span(self, name: str, batch: int | None = None):
        return self.tracer.span(name, batch)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- measured-window bookkeeping -------------------------------------

    def end_warmup(self) -> None:
        """Drop what the warm-up recorded; its operations stay checked."""
        self.progress.clear()
        self.epoch_dirs.clear()
        self.tracer.spans.clear()
        session = self.layer["session.start_s"]
        self.layer = dict.fromkeys(PER_LAYER, 0.0)
        self.layer["session.start_s"] = session

    def start_window(self) -> float:
        if self.traced:
            self._exec0 = executor_time_totals(self.spark)
        self.first_op_at = time.perf_counter()
        return self.first_op_at

    def end_window(self) -> None:
        if self.traced and self._exec0 is not None:
            e1 = executor_time_totals(self.spark)
            self.layer["spark.executor_cpu_s"] = max(e1["cpu_s"] - self._exec0["cpu_s"], 0.0)
            self.layer["spark.executor_run_s"] = max(e1["run_s"] - self._exec0["run_s"], 0.0)

    @contextmanager
    def oracle(self):
        """Verification work, timed apart and kept out of every timing."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.oracle_s += time.perf_counter() - t

    def failed_op(self, what: str, n: int = 1) -> None:
        self.verdict.failed += n
        self.verdict.notes.append(f"{what} raised: {traceback.format_exc(limit=3).strip()}")

    # -- layer calls ------------------------------------------------------

    def pump(self, script: list[bytes], batch: int) -> list[bytes]:
        """One replication session against a fresh mock walsender: connect,
        drain the scripted WAL, disconnect (a bounded drain redials).

        The drain is bounded by frame count and the mock stays quiet after
        its script. Draining to CopyDone instead races the mock's trailing
        CommandComplete/ReadyForQuery writes against the client's close,
        and the mock then raises BrokenPipeError on exit."""
        with self.span("walsender.pump", batch):
            with MockWalSender(script, hang_after_script=True) as srv:
                with WalSenderClient(port=srv.port, user="bench", dbname="bench") as client:
                    frames = replicate_batch(client, "bench_slot", "bench_pub",
                                             max_frames=len(script), deadline_s=30)
        if len(frames) != len(script):
            raise RuntimeError(f"pumped {len(frames)} of {len(script)} frames")
        if self.traced:
            self.layer["walsender.frames"] += len(frames)
            self.layer["walsender.bytes"] += sum(len(f) for f in frames)
        return frames

    def decode_append(self, frames: list[bytes], changelog: str, batch: int) -> None:
        """frames -> pgoutput decode -> envelope append to the changelog.
        The decode is lazy, so the span covers the write that runs it."""
        with self.span("pgoutput.decode", batch):
            env = decode_pgoutput(frames_to_df(self.spark, frames))
            obs = None
            if self.traced:
                obs = Observation()
                env = env.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("op") == "unknown").cast("long")).alias("dead"),
                )
            env.write.mode("append").format("json").save(changelog)
        if obs is not None:
            got = obs.get
            self.layer["pgoutput.events_out"] += got["n"]
            self.layer["pgoutput.dead_letter_rows"] += got["dead"] or 0

    def drain(self, pipeline: CdcPipeline, batch: int) -> None:
        with self.span("pipeline.drain", batch):
            q = pipeline.start(available_now=True)
            q.awaitTermination()
        if self.traced:
            progress = [p for p in q.recentProgress if p["numInputRows"]]
            self.progress += progress
            for p in progress:
                self.epoch_dirs.append(
                    dir_stats(os.path.join(pipeline.sink_dir, "ingest", f"ingest_batch={p['batchId']}"))
                )

    def finish_layers(self, backlog: list[int] | None = None) -> None:
        """Fold spans, streaming progress and directory stats into the
        per-layer metrics."""
        for span_name, mean in self.tracer.mean_self_times().items():
            if span_name in SPAN_METRICS:
                self.layer[SPAN_METRICS[span_name]] = mean
        if self.progress:
            self.layer["pipeline.triggers"] = len(self.progress)
            self.layer["pipeline.input_rows"] = sum(p.get("numInputRows", 0) for p in self.progress)
            for key, name in PROGRESS_MS.items():
                self.layer[name] = statistics.fmean(
                    p.get("durationMs", {}).get(key, 0) for p in self.progress
                )
        if self.epoch_dirs:
            self.layer["sink.files_per_epoch"] = statistics.fmean(f for f, _ in self.epoch_dirs)
            self.layer["sink.bytes_per_epoch"] = statistics.fmean(b for _, b in self.epoch_dirs)
        if backlog:
            self.layer["pipeline.backlog_changes"] = statistics.median(backlog)
        self.layer["oracle.check_s"] = self.oracle_s
        self.layer["trace.latency_p50_s"] = self.e2e["latency_p50_s"]

    def check_tables(self, pipeline: CdcPipeline, model: dict[str, dict[int, tuple]],
                     per_key: bool = True) -> None:
        """latest_state_view per table against the model, row for row."""
        for table, expected in model.items():
            got = O.rows_of(typed_state(pipeline, table).toArrow())
            self.verdict.table(table, O.diff_table(expected, got), per_key)


def typed_state(pipeline: CdcPipeline, table: str):
    """The table's typed columns of its latest state. The view puts the
    envelope's metadata columns first, and ``events.ts`` shares its name
    with the envelope's ``ts``, so the typed columns are taken by position."""
    df = pipeline.latest_state(SCHEMA, table)
    cols = [name for name, _o, _k in TABLES[table]]
    meta = [f"_meta{i}" for i in range(len(df.columns) - len(cols))]
    return df.toDF(*meta, *cols).select(*cols)


# ---------------------------------------------------------------------------
# wal_stream: open loop, one tailer connection
# ---------------------------------------------------------------------------


def wal_stream(run: Run) -> None:
    tables = list(WAL_TABLES)
    stream = ChangeStream(run.seed, WAL_TABLES, key_space=20_000)
    n_measured = max(1, round(run.seconds / WAL_TICK_S))
    prewarm = [stream.take(WAL_TICK_CHANGES) for _ in range(WAL_PREWARM_CYCLES)]
    ticks = [stream.take(WAL_TICK_CHANGES)
             for _ in range(WAL_OPEN_WARM_TICKS + n_measured + WAL_TAIL_TICKS)]
    measured = range(WAL_OPEN_WARM_TICKS, WAL_OPEN_WARM_TICKS + n_measured)
    clock = LsnClock()
    changelog = run.path("changelog")
    pipeline = CdcPipeline(run.spark, changelog, run.path("sink"), run.path("checkpoint"))
    sent: list[Change] = []

    def cycle(changes, batch) -> None:
        sent.extend(changes)
        frames = run.pump(wal_script(tables, changes, clock), batch)
        run.decode_append(frames, changelog, batch)
        run.drain(pipeline, batch)

    run.log(f"generated {sum(map(len, ticks))} changes; pre-warm drains")
    # the first drains pay JIT and Python-worker start
    for i, changes in enumerate(prewarm):
        cycle(changes, -1 - i)
    run.log("open loop starts")

    # Open loop: tick k is due at t0 + k * WAL_TICK_S whatever the tailer
    # is doing; each cycle takes every tick already due. The first ticks
    # are not measured; ticks after the window keep the load on until the
    # last measured tick has committed.
    latencies: list[np.ndarray] = []
    backlog: list[int] = []
    lag: list[float] = []
    t0 = time.perf_counter() + WAL_TICK_S

    def due(k: int) -> float:
        return t0 + k * WAL_TICK_S

    i = batch = 0
    window_start = None
    while i < len(ticks) and i <= measured[-1]:
        now = time.perf_counter()
        if due(i) > now:
            time.sleep(due(i) - now)
            now = time.perf_counter()
            lag.append(now - due(i))
        j = i
        while j < len(ticks) and due(j) <= now:
            j += 1
        if window_start is None and j > measured[0]:
            run.end_warmup()
            window_start = run.start_window()
        changes = [c for k in range(i, j) for c in ticks[k]]
        if window_start is not None:
            backlog.append(len(changes))
        try:
            cycle(changes, batch)
        except Exception:  # noqa: BLE001 -- a lost batch is counted, the loop goes on
            run.failed_op(f"cycle {batch}", len(changes))
        commit = time.perf_counter()
        for k in range(max(i, measured[0]), min(j, measured[-1] + 1)):
            latencies.append(np.full(len(ticks[k]), commit - due(k)))
        i, batch = j, batch + 1
    window = time.perf_counter() - due(measured[0])
    run.end_window()
    run.log(f"open loop done after {batch} drains; checking")

    lat = np.concatenate(latencies)
    run.e2e["latency_p50_s"] = percentile(lat, 50)
    run.e2e["ops_per_s"] = len(lat) / window

    model = Model()
    for c in sent:
        model.apply(c)
    with run.span("oracle.check"), run.oracle():
        run.check_tables(pipeline, {t: model.rows[t] for t in tables})
        dead = read_dead_letters(run.spark, run.path("sink")).count()
        run.verdict.dead_letters(model.dead_letters, dead)
    run.layer["sink.dead_letter_rows"] = dead
    run.verdict.attempted = len(sent)
    # failed ops are counted over every change sent, so the ratio is too
    misses = int(np.sum(lat > SLO_S)) + run.verdict.failed
    run.report.update({
        "freshness_p50_s": (percentile(lat, 50), "s"),
        "freshness_p90_s": (percentile(lat, 90), "s"),
        "freshness_p99_s": (percentile(lat, 99), "s"),
        "freshness_slo_miss_ratio": (min(misses / max(len(sent), 1), 1.0), "ratio"),
        "freshness_samples": (len(lat), "count"),
        "drain_batches": (len(backlog), "count"),
    })
    run.layer["loadgen.lag_p99_s"] = percentile(lag, 99)
    run.finish_layers(backlog)


# ---------------------------------------------------------------------------
# backfill: one bulk job at a time, closed loop, one client
# ---------------------------------------------------------------------------

_ARROW = {"int": pa.int64(), "float": pa.float64(), "str": pa.string(),
          "ts": pa.timestamp("us", tz="UTC"), "tsntz": pa.timestamp("us")}


def _arrow_table(table: str, cols: dict[str, list]) -> pa.Table:
    schema = pa.schema(
        pa.field(name, pa.int32() if oid == INT4 else _ARROW[kind])
        for name, oid, kind in TABLES[table]
    )
    return pa.table(cols, schema=schema)


def _backfill_job(run: Run, sources: dict[str, str], job: int):
    """snapshot every table -> one drain -> latest state per table, then
    the same snapshot envelopes into Elasticsearch (state mode).
    Returns (state seconds, index seconds, pipeline, mock ES)."""
    spark = run.spark
    root = run.path(f"job{job}")
    pipeline = CdcPipeline(spark, f"{root}/changelog", f"{root}/sink", f"{root}/checkpoint")
    dfs = {t: spark.read.parquet(p) for t, p in sources.items()}
    t0 = time.perf_counter()
    for t, df in dfs.items():
        with run.span("snapshot.write", job):
            pipeline.snapshot(df, SCHEMA, t)
    run.drain(pipeline, job)
    for t in dfs:
        with run.span("sink.latest_state", job):
            pipeline.latest_state(SCHEMA, t).write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    with MockEs() as es:
        sink = EsBulkSink(es.url, mode="state")
        for epoch, (t, df) in enumerate(dfs.items()):
            with run.span("es_sink.call", job):
                try:
                    sink(snapshot_table(df, schema_name=SCHEMA, table_name=t), epoch)
                except Exception:
                    run.layer["es_sink.failed_requests"] += 1
                    raise
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, pipeline, es


def backfill(run: Run) -> None:
    src = run.path("source")
    os.makedirs(src)
    sources: dict[str, str] = {}
    model: dict[str, pa.Table] = {}
    for t, n in BACKFILL_ROWS.items():
        model[t] = _arrow_table(t, make_table(t, n, run.seed))
        sources[t] = f"{src}/{t}.parquet"
        pq.write_table(model[t], sources[t])
    run.log("sources written; measured jobs start")

    rows = sum(BACKFILL_ROWS.values())
    jobs: list[tuple[float, float]] = []  # (state seconds, index seconds)
    log_files: list[float] = []
    run.start_window()
    # closed loop: another job only if it is expected to end inside the window
    while not jobs or sum(map(sum, jobs)) * (len(jobs) + 1) / len(jobs) <= run.seconds:
        run.verdict.attempted += 2 * rows  # each row: made queryable, and indexed
        try:
            state_s, index_s, pipeline, es = _backfill_job(run, sources, len(jobs))
        except Exception:  # noqa: BLE001
            run.failed_op(f"backfill job {len(jobs)}", 2 * rows)
            break
        jobs.append((state_s, index_s))
        with run.span("oracle.check"), run.oracle():
            for t, expected in model.items():
                run.verdict.table(t, O.diff_arrow(expected, typed_state(pipeline, t).toArrow()))
                index = f"cdc_{SCHEMA}_{t}"
                try:
                    docs = O.docs_table(t, list(es.indices.get(index, {}).values()), expected)
                except pa.ArrowInvalid as e:
                    run.verdict.failed += expected.num_rows
                    run.verdict.valid_mismatches += expected.num_rows
                    run.verdict.notes.append(f"es {index}: documents do not parse: {e}")
                    continue
                run.verdict.table(f"es {index}", O.diff_arrow(expected, docs))
        if run.traced:
            files, size = dir_stats(pipeline.changelog_dir)
            run.layer["snapshot.files"] += files
            run.layer["snapshot.bytes_written"] += size
            log_files.append(statistics.fmean(
                dir_stats(f"{pipeline.sink_dir}/ingest/ingest_batch=0/ok=true/"
                          f"schema_name={SCHEMA}/table_name={t}")[0] for t in model
            ))
            run.layer["es_sink.bulk_requests"] += es.bulk_requests
            run.layer["es_sink.bulk_bytes"] += es.bulk_bytes
            run.layer["sink.dead_letter_rows"] += read_dead_letters(run.spark, pipeline.sink_dir).count()
    run.end_window()
    run.log(f"{len(jobs)} job(s) done")

    done = rows * len(jobs)
    run.e2e["latency_p50_s"] = percentile([s + i for s, i in jobs], 50)
    run.e2e["ops_per_s"] = done / sum(map(sum, jobs)) if jobs else 0.0
    if run.traced:
        run.layer["snapshot.rows"] = done
        run.layer["sink.log_files"] = statistics.fmean(log_files) if log_files else 0.0
        run.layer["es_sink.actions_per_request"] = done / max(run.layer["es_sink.bulk_requests"], 1)
    run.report.update({
        "backfill_rows_per_s": (done / max(sum(s for s, _i in jobs), 1e-9), "rows/s"),
        "index_docs_per_s": (done / max(sum(i for _s, i in jobs), 1e-9), "docs/s"),
        "jobs": (len(jobs), "count"),
    })
    run.finish_layers()


# ---------------------------------------------------------------------------
# serve_mixed: closed loop, one client, reads beside writes
# ---------------------------------------------------------------------------


def serve_mixed(run: Run) -> None:
    spark = run.spark
    stream = ChangeStream(run.seed, {"events": 1.0}, key_space=SERVE_KEYS, malformed_share=0.0)
    hot = stream.hot_key("events")
    clock = LsnClock()
    changelog, sink = run.path("changelog"), run.path("sink")
    os.makedirs(changelog)
    # deep history: many small epochs written straight to the changelog,
    # drained one file per trigger, then compacted once so every measured
    # round sees the same regime (compacted base + a few fresh epochs)
    for e in range(SERVE_HISTORY_EPOCHS):
        with open(f"{changelog}/history-{e:04d}.json", "w") as f:
            f.write("\n".join(envelope_lines(stream.take(SERVE_HISTORY_CHANGES), clock)) + "\n")
    run.log("history written; draining it")
    CdcPipeline(spark, changelog, sink, run.path("checkpoint"), max_files_per_trigger=1).run_available()
    run.log("history drained; compacting")
    pipeline = CdcPipeline(spark, changelog, sink, run.path("checkpoint"))
    pipeline.compact(SCHEMA, "events")
    duck = O.ServeOracle()

    reads: list[float] = []
    writes: list[float] = []
    compactions = 0

    def timed(kind: str, fn, expect, same=lambda a, b: a == b):
        run.verdict.attempted += 1
        t = time.perf_counter()
        try:
            with run.span("sink.latest_state" if kind != "dead_letters" else "sink.dead_letters"):
                got = fn()
        except Exception:  # noqa: BLE001
            run.failed_op(f"read {kind}")
            return
        reads.append(time.perf_counter() - t)
        with run.oracle():
            want = expect()
            if not same(got, want):
                run.verdict.failed += 1
                run.verdict.valid_mismatches += 1
                run.verdict.notes.append(f"read {kind}: got {got!r}, DuckDB gave {want!r}")

    def state():
        return pipeline.latest_state(SCHEMA, "events")

    def point():
        return [tuple(O.normalize(v) for v in r)
                for r in typed_state(pipeline, "events").filter(F.col("event_id") == hot).collect()]

    def by_type():
        return {r[0]: (r[1], r[2]) for r in state().groupBy("event_type")
                .agg(F.count(F.lit(1)), F.sum("value")).collect()}

    def round_(rnd: int, measured: bool) -> None:
        run.verdict.attempted += 1
        t = time.perf_counter()
        try:
            frames = run.pump(wal_script(["events"], stream.take(SERVE_WRITE_CHANGES), clock), rnd)
            run.decode_append(frames, changelog, rnd)
            run.drain(pipeline, rnd)
        except Exception:  # noqa: BLE001
            run.failed_op(f"write epoch {rnd}")
        if measured:
            writes.append(time.perf_counter() - t)
        with run.oracle():
            duck.load(stream.model.rows["events"])
        if run.traced:
            with run.oracle():
                run.layer["sink.log_files"] += sum(
                    dir_stats(p)[0] for p in _event_dirs(sink))
        timed("point", point, lambda: duck.point(hot))
        timed("live_count", lambda: state().count(), duck.live_count)
        timed("by_type", by_type, duck.by_type, O.same_by_type)
        timed("dead_letters", lambda: read_dead_letters(spark, sink).count(),
              lambda: stream.model.dead_letters)

    run.log("warm-up round")
    round_(-1, measured=False)
    run.log("measured rounds start")
    reads.clear()
    run.end_warmup()

    kept, read_events = [], []
    start = run.start_window()
    oracle0 = run.oracle_s
    rnd = 0
    # whole compaction cycles, so every run has the same mix of operations
    while rnd % SERVE_COMPACT_EVERY or time.perf_counter() - start - (run.oracle_s - oracle0) < run.seconds:
        round_(rnd, measured=True)
        rnd += 1
        if rnd % SERVE_COMPACT_EVERY == 0:
            if run.traced:
                with run.oracle():
                    read_events.append(read_event_log(spark, sink, SCHEMA, "events").count())
            run.verdict.attempted += 1
            try:
                with run.span("sink.compact", rnd):
                    kept.append(pipeline.compact(SCHEMA, "events"))
                compactions += 1
            except Exception:  # noqa: BLE001
                run.failed_op(f"compaction after round {rnd}")
    elapsed = time.perf_counter() - start - (run.oracle_s - oracle0)
    run.end_window()
    run.log(f"{rnd} rounds done; checking")

    run.verdict.attempted += 1  # the final state, read once more and compared whole
    with run.span("oracle.check"), run.oracle():
        run.check_tables(pipeline, {"events": stream.model.rows["events"]}, per_key=False)
    run.e2e["latency_p50_s"] = percentile(reads, 50)
    run.e2e["ops_per_s"] = (len(reads) + len(writes) + compactions) / elapsed
    run.report.update({
        "read_p50_s": (percentile(reads, 50), "s"),
        "read_p90_s": (percentile(reads, 90), "s"),
        "write_p50_s": (percentile(writes, 50), "s"),
        "reads": (len(reads), "count"),
        "write_epochs": (len(writes), "count"),
        "compactions": (compactions, "count"),
    })
    if run.traced:
        run.layer["sink.log_files"] /= max(rnd, 1)
        if kept and read_events:
            run.layer["sink.compact_kept_ratio"] = sum(kept) / max(sum(read_events), 1)
        run.layer["sink.dead_letter_rows"] = read_dead_letters(spark, sink).count()
    run.finish_layers()


def _event_dirs(sink: str) -> list[str]:
    """Directories a latest-state read of ``events`` lists."""
    out = []
    ingest = f"{sink}/ingest"
    if os.path.isdir(ingest):
        for b in os.listdir(ingest):
            p = f"{ingest}/{b}/ok=true/schema_name={SCHEMA}/table_name=events"
            if os.path.isdir(p):
                out.append(p)
    comp = f"{sink}/compacted/{SCHEMA}_events"
    if os.path.isdir(comp):
        out.append(comp)
    return out


WORKLOADS = {"wal_stream": wal_stream, "backfill": backfill, "serve_mixed": serve_mixed}
