"""``ingest``: an open loop feeds ``rate_events_stream`` at 20k events/s
through ``full_ingest_stream`` into ``start_per_second_store`` while one
poller thread reads ``top_users_from_store`` on a 1 Hz schedule.

This is the reference's ingest -> enrich -> store path with the
dashboard reading during writes. It exercises ``streaming/pipeline``
per-batch overhead, state and ``streaming/serving_store`` upserts beside
reads, with no index builds and no base-table scans. Each read is timed
from when it was due, and every read is counted as attempted or failed
by exception class; no failure is dropped. An operation is a micro-batch
of the measured window or a store read.

``measure(ctx, read=False)`` is the ``stream`` workload: the same stream
with no poller, so its operations are micro-batches only.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime, timezone

from py4j.protocol import Py4JError, Py4JJavaError

from perfbench import stats
from perfbench.common import Outcome

RATE = 20_000
READ_HZ = 1.0
READ_WINDOW_S = 60
GATE_TIMEOUT_S = 30.0


def prepare(ctx) -> None:
    """The rate source generates the input; nothing to write."""


def _start(ctx):
    """Start the stream into ``ctx.path("store")``; its checkpoint is the
    one directory Spark creates under ``ctx.path("checkpoint")``."""
    from app_fastdata_spark.streaming.pipeline import full_ingest_stream, rate_events_stream
    from app_fastdata_spark.streaming.serving_store import start_per_second_store

    spark = ctx.spark
    spark.conf.set("spark.sql.streaming.checkpointLocation", ctx.path("checkpoint"))
    events = full_ingest_stream(spark, rate_events_stream(spark, RATE))
    return start_per_second_store(events, ctx.path("store"), available_now=False)


class Progress:
    """Every progress record of a query, by batch id (the query keeps
    only its most recent ones)."""

    def __init__(self, query):
        self.query = query
        self.by_id: dict[int, dict] = {}

    def poll(self) -> list[dict]:
        for p in self.query.recentProgress:
            rec = json.loads(p.json)
            self.by_id[rec["batchId"]] = rec
        return [self.by_id[k] for k in sorted(self.by_id)]


def _caught_up(rec: dict) -> bool:
    wall = max(rec["durationMs"]["triggerExecution"] / 1e3, 1.0)
    return 0 < rec["numInputRows"] <= 1.25 * RATE * wall


def _wait_steady(progress: Progress, timeout: float) -> int:
    """Batch id after which the backlog of the start has drained: two
    consecutive caught-up batches, or whatever ran when ``timeout``
    expires."""
    deadline = time.monotonic() + timeout
    while True:
        recs = progress.poll()
        if len(recs) >= 2 and all(_caught_up(r) for r in recs[-2:]):
            return recs[-1]["batchId"]
        if time.monotonic() > deadline and recs:
            return recs[-1]["batchId"]
        time.sleep(0.1)


def _stop(query) -> None:
    query.stop()
    query.awaitTermination(60)


def warm(ctx) -> None:
    """Start the stream and wait until its first batch with input has
    completed, the cold start a user waits for before the store serves;
    ``measure`` goes on with the same query."""
    ctx.query = q = _start(ctx)
    ctx.progress = progress = Progress(q)
    deadline = time.monotonic() + GATE_TIMEOUT_S
    try:
        while not any(r["numInputRows"] for r in progress.poll()):
            if time.monotonic() > deadline:
                raise RuntimeError("the stream produced no batch with input")
            time.sleep(0.1)
    except BaseException:
        _stop(q)
        raise


def _error_class(e: Exception) -> str:
    """Exception type plus Spark's error condition when it has one,
    e.g. ``Py4JJavaError:FAILED_READ_FILE.FILE_NOT_EXIST``."""
    cond = None
    if isinstance(e, Py4JJavaError):
        java = e.java_exception
        while java is not None and cond is None:
            # a Java object answers hasattr for any name; only Spark's
            # own exceptions have the method
            try:
                cond = java.getCondition()
            except Py4JError:
                pass
            java = java.getCause()
    elif hasattr(e, "getCondition"):
        cond = e.getCondition()
    return f"{type(e).__name__}:{cond}" if cond else type(e).__name__


class Poller(threading.Thread):
    """Reads the store on a fixed schedule: read k is due at
    start + k / READ_HZ and is timed from its due time."""

    def __init__(self, ctx, store: str, start: float, end: float):
        super().__init__(name="store-poller", daemon=True)
        self.ctx, self.store, self.start_t, self.end_t = ctx, store, start, end
        self.latency_ms: list[float] = []
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.jobs: list[int] = []
        self.failed: Counter = Counter()
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def read_once(self):
        from app_fastdata_spark.streaming.serving_store import top_users_from_store

        spark, tracer = self.ctx.spark, self.ctx.tracer
        as_of = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        build = lambda: top_users_from_store(spark, self.store, as_of, READ_WINDOW_S)  # noqa: E731
        if tracer is None:
            return build().collect()
        df, t_plan, c_plan = tracer.call("store_read.plan", build)
        rows, t_exec, c_exec = tracer.call("store_read.exec", df.collect)
        self.plan_ms.append(t_plan * 1e3)
        self.exec_ms.append(t_exec * 1e3)
        self.jobs.append(c_plan.jobs + c_exec.jobs)
        return rows

    def run(self) -> None:
        try:
            k = 0
            while (due := self.start_t + k / READ_HZ) < self.end_t:
                k += 1
                now = time.time()
                if now < due:
                    time.sleep(due - now)
                self.late_s.append(max(0.0, time.time() - due))
                try:
                    self.read_once()
                except Exception as e:  # counted by class, never dropped
                    self.failed[_error_class(e)] += 1
                    continue
                self.latency_ms.append((time.time() - due) * 1e3)
        except BaseException as e:
            self.error = e
            raise


def _store_listing(store: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def _in_flight_rows(checkpoint: str, last_run: int) -> tuple[int, bool] | None:
    """(rows, committed) of the batch after ``last_run`` in the
    checkpoint's offsets log, the one the stop cut off; (0, False) when
    there is none, None when more than one batch is missing. The rate
    source's offset counts whole seconds since the start, so a batch
    holds (end - start offset) x RATE rows."""
    (query_dir,) = [os.path.join(checkpoint, d) for d in os.listdir(checkpoint)]

    def log(name):
        return sorted(int(n) for n in os.listdir(os.path.join(query_dir, name)) if n.isdigit())

    def offset(batch_id):
        if batch_id < 0:
            return 0
        with open(os.path.join(query_dir, "offsets", str(batch_id))) as f:
            return int(f.read().split()[-1])

    last = log("offsets")[-1]
    if last <= last_run:
        return 0, False
    if last != last_run + 1:
        return None
    return (offset(last) - offset(last - 1)) * RATE, last in log("commits")


def _store_sum(spark, store: str) -> int:
    from pyspark.sql import functions as F

    return spark.read.parquet(store).agg(F.sum("count_values")).first()[0] or 0


def measure(ctx, read: bool = True) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    store, checkpoint = ctx.path("store"), ctx.path("checkpoint")
    q, progress = ctx.query, ctx.progress
    try:
        gate_id = _wait_steady(progress, GATE_TIMEOUT_S)
        run_id = str(q.runId)
        jobs_before = set(tracer.jobs_of(run_id)) if tracer else set()
        start = time.time()
        end = start + ctx.seconds
        # without reads the poller's schedule is empty and it ends at once
        poller = Poller(ctx, store, start, end if read else start)
        poller.start()
        while time.time() < end:
            progress.poll()
            time.sleep(0.25)
        poller.join(timeout=120)
        if poller.is_alive() or poller.error is not None:
            raise RuntimeError(f"store poller did not finish cleanly: {poller.error!r}")
        window = [
            r for r in progress.poll()
            if r["batchId"] > gate_id and stats.parse_ts(r["timestamp"]) >= start
            and stats.parse_ts(r["timestamp"]) + r["durationMs"]["triggerExecution"] / 1e3 <= end
        ]
        window_jobs = set(tracer.jobs_of(run_id)) - jobs_before if tracer else set()
    finally:
        _stop(q)
    records = progress.poll()
    if not window:
        raise RuntimeError("no micro-batch completed inside the measured window")

    out = Outcome()
    # Every batch that reported progress is in the store. The one batch
    # the stop cut off may have written its upsert without reporting
    # progress, so it may be in the store too; it must be when its commit
    # is logged. A trigger that ran no batch reports progress without
    # addBatch time, under the id of the batch still to come.
    ran = [r for r in records if "addBatch" in r["durationMs"]]
    ids = [r["batchId"] for r in ran]
    if ids != list(range(len(ids))):
        out.checks_failed.append(f"progress records missing: batch ids {ids[:3]}..{ids[-3:]}")
    processed = sum(r["numInputRows"] for r in ran)
    stored = _store_sum(spark, store)
    cut = _in_flight_rows(checkpoint, ids[-1])
    if cut is None:
        out.checks_failed.append(f"more than one batch after {ids[-1]} ran without progress")
    else:
        in_flight, committed = cut
        allowed = {processed + in_flight} if committed else {processed, processed + in_flight}
        if stored not in allowed:
            out.checks_failed.append(
                f"store holds {stored} events; the stream processed {processed}, "
                f"and {in_flight} more in the batch cut off by the stop"
            )

    fresh = [f for f in map(stats.batch_freshness_s, window) if f is not None]
    fresh_mp = [f for f in map(stats.mean_phase_freshness_s, window) if f is not None]
    keep = stats.keepup(window, RATE)
    f_tail, q_tail, n_fresh = stats.tail(fresh)
    reads = len(poller.latency_ms) + sum(poller.failed.values())
    failed = sum(poller.failed.values())
    out.attempted = len(window) + reads
    out.failed = failed
    out.e2e = {
        "latency_p50_ms": (stats.median(fresh_mp) * 1e3, "ms"),
        "throughput_per_s": (keep * RATE, "1/s"),
    }
    out.named = {
        "fresh_p50_s": (stats.median(fresh), "s"),
        f"fresh_p{round(q_tail * 100)}_s": (f_tail, "s"),
        "fresh_mean_phase_p50_s": (stats.median(fresh_mp), "s"),
        "ingest_keepup": (keep, "ratio"),
    }
    if read:
        read_p50 = stats.median(poller.latency_ms) if poller.latency_ms else float("nan")
        out.named.update({
            "store_read_p50_ms": (read_p50, "ms"),
            "store_read_fail_share": (failed / reads, "ratio"),
            "store_reads": (reads, "count"),
        })
    files, nbytes = _store_listing(store)
    out.info = {
        "fresh_tail_percentile": q_tail, "fresh_batches": n_fresh,
        "read_failed_by_class": dict(poller.failed),
        "reader_late_s_max": max(poller.late_s, default=0.0),
        "stored_events": stored, "processed_events": processed, "cut_off_batch": cut,
        "batches_total": len(records), "gate_batch": gate_id,
        "window": [(r["batchId"], r["numInputRows"], r["durationMs"]["triggerExecution"], f)
                   for r, f in zip(window, map(stats.batch_freshness_s, window))],
    }
    if tracer is not None:
        def med(key):
            return stats.median([key(r) for r in window])

        def dur(r, k):
            return r["durationMs"].get(k, 0)

        def state(r, k):
            return sum(s.get(k, 0) for s in r.get("stateOperators", []))

        n = len(window)
        cost = tracer.cost_of_jobs(window_jobs)
        out.cost, out.ops = cost, n
        out.detail = {
            "pipeline.batch_ms": med(lambda r: dur(r, "triggerExecution")),
            "pipeline.add_batch_ms": med(lambda r: dur(r, "addBatch")),
            "pipeline.plan_ms": med(lambda r: dur(r, "queryPlanning")),
            "pipeline.offsets_ms": med(lambda r: sum(
                dur(r, k) for k in ("latestOffset", "getBatch", "walCommit", "commitOffsets"))),
            "pipeline.state_rows": med(lambda r: state(r, "numRowsTotal")),
            "pipeline.state_bytes": med(lambda r: state(r, "memoryUsedBytes")),
            "pipeline.state_commit_ms": med(lambda r: state(r, "commitTimeMs")),
            "pipeline.jobs_per_batch": cost.jobs / n,
            "pipeline.tasks_per_batch": cost.tasks / n,
            "pipeline.rows_per_batch": med(lambda r: r["numInputRows"]),
            "pipeline.batches": n,
            "serving_store.files": files,
            "serving_store.bytes": nbytes,
        }
        if read:
            out.detail.update({
                "serving_store.read_plan_ms": stats.median(poller.plan_ms) if poller.plan_ms else 0,
                "serving_store.read_exec_ms": stats.median(poller.exec_ms) if poller.exec_ms else 0,
                "serving_store.read_jobs_per_call":
                    sum(poller.jobs) / len(poller.jobs) if poller.jobs else 0,
                "serving_store.read_failed": failed,
            })
    return out
