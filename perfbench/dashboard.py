"""``dashboard``: one closed-loop client calling the five dashboard
queries over sf0.1 events (100k rows), each finished by ``collect()``.

This is the reference's serving read (demo.js polls these five). It
exercises ``operators/serving``, memoized plan hits and Spark's per-job
fixed cost, and touches no index store and no stream. A closed loop
fits because one five-query round takes longer than the reference's
1 s refresh, so an open loop at 1 Hz would only measure run length.
The query order is permuted within every round from the seed.
"""

from __future__ import annotations

import random
import time

from perfbench import datagen, stats
from perfbench.common import Oracle, Outcome
from perfbench.layers import COST_UNITS, PER_QUERY
from perfbench.tracing import SparkCost

SF = 0.1
# At least 10 calls beyond the p80 tail. A p90 needs 100 calls (about
# 20 s on 4 cores), which the run-time budget of three workloads cannot
# pay on every run.
MIN_CALLS = 50


def _query(name: str):
    from app_fastdata_spark.operators import serving

    return getattr(serving, name)


def prepare(ctx) -> None:
    ctx.data = datagen.write_dataset(ctx.path("data"), ctx.seed, SF, ("events",))


def warm(ctx) -> None:
    """Build every memoized plan and run each query once."""
    for name in PER_QUERY:
        _query(name)(ctx.spark, ctx.data).collect()


def measure(ctx) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    order = list(PER_QUERY)
    lat_ms: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in PER_QUERY}
    plan_ms: list[float] = []
    exec_ms: list[float] = []
    cost = SparkCost()
    digests: dict[str, set] = {q: set() for q in PER_QUERY}
    first_rows: dict[str, tuple] = {}
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds or len(lat_ms) < MIN_CALLS:
        rng.shuffle(order)
        for name in order:
            fn = _query(name)
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, ctx.data)
                rows = df.collect()
                ms = (time.perf_counter() - t0) * 1e3
            else:
                df, t_plan, c_plan = tracer.call(f"{name}.plan", lambda: fn(spark, ctx.data))
                rows, t_exec, c_exec = tracer.call(f"{name}.exec", df.collect)
                plan_ms.append(t_plan * 1e3)
                exec_ms.append(t_exec * 1e3)
                cost.add(c_plan)
                cost.add(c_exec)
                ms = (t_plan + t_exec) * 1e3
            lat_ms.append(ms)
            per_query[name].append(ms)
            digests[name].add(tuple(tuple(r) for r in rows))
            first_rows.setdefault(name, (rows, df.columns))
    elapsed = time.perf_counter() - t_start

    out = Outcome(attempted=len(lat_ms))
    oracle = Oracle(ctx.data, ("events",))
    try:
        for name in PER_QUERY:
            if len(digests[name]) != 1:
                out.checks_failed.append(f"{name}: {len(digests[name])} distinct results across calls")
            rows, cols = first_rows[name]
            n, want = oracle.expected(name)
            got = oracle.digest([tuple(r) for r in rows], cols)
            if (len(rows), got) != (n, want):
                out.checks_failed.append(
                    f"{name}: {len(rows)} rows, digest {got}; oracle {n} rows, digest {want}"
                )
    finally:
        oracle.close()

    p50 = stats.median(lat_ms)
    p_tail, q_tail, n = stats.tail(lat_ms)
    out.e2e = {
        "latency_p50_ms": (p50, "ms"),
        "throughput_per_s": (len(lat_ms) / elapsed, "1/s"),
    }
    out.named = {
        "serve_p50_ms": (p50, "ms"),
        f"serve_p{round(q_tail * 100)}_ms": (p_tail, "ms"),
        "serve_calls": (n, "count"),
    }
    out.info = {"tail_percentile": q_tail, "calls": n, "elapsed_s": elapsed}
    if tracer is not None:
        out.cost, out.ops = cost, len(lat_ms)
        out.detail = {
            "serving.plan_ms": stats.median(plan_ms),
            "serving.exec_ms": stats.median(exec_ms),
            **{f"serving.{q}_ms": stats.median(v) for q, v in per_query.items()},
            **{f"serving.{k}_per_call": getattr(cost, k) / out.ops for k in COST_UNITS},
        }
    return out
