"""The benchmark's metric catalogue.

End-to-end metrics are reported by every workload, each with the
workload's own meaning (see the README). The traced pass reports the
``PER_LAYER`` metrics on every workload, where an operation is one
query call (dashboard), one index build (build) or one micro-batch
(ingest, stream). It also prints and records the ``DETAIL`` metrics of
its own workload. Every metric names the end-to-end metric it should move.
"""

from __future__ import annotations

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

BUILDS = (
    "kmeans.train_centers",
    "similarity.knn_edges",
    "dedup.lsh_pairs",
    "similarity.knn_edges_hd",
)
PER_QUERY = (
    "top_users",
    "top_sources",
    "top_src_dests",
    "top_dests",
    "events_by_cluster_window",
)


MOVES_ALL = "latency_p50_ms,throughput_per_s"
COST_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_ms": "ms",
    "task_cpu_ms": "ms", "gc_ms": "ms", "input_bytes": "bytes",
    "shuffle_bytes": "bytes",
}


def _per_layer() -> dict[str, tuple[str, str]]:
    out = {
        "session.start_s": ("s", "setup_s"),
        "catalog.load_s": ("s", "setup_s"),
    }
    for k, unit in COST_UNITS.items():
        out[f"spark.{k}_per_op"] = (unit, MOVES_ALL)
    for name, unit in E2E.items():
        out[f"traced.{name}"] = (unit, name)
    return out


def _detail() -> dict[str, tuple[str, str]]:
    p50 = "latency_p50_ms"
    out = {
        "serving.plan_ms": ("ms", p50),
        "serving.exec_ms": ("ms", p50),
    }
    for q in PER_QUERY:
        out[f"serving.{q}_ms"] = ("ms", p50)
    for k, unit in COST_UNITS.items():
        out[f"serving.{k}_per_call"] = (unit, p50)
    # pipeline.* and serving_store.files/bytes: ingest and stream;
    # serving_store.read_*: ingest only
    for name, unit, moves in (
        ("pipeline.batch_ms", "ms", p50),
        ("pipeline.add_batch_ms", "ms", p50),
        ("pipeline.plan_ms", "ms", p50),
        ("pipeline.offsets_ms", "ms", p50),
        ("pipeline.state_rows", "count", p50),
        ("pipeline.state_bytes", "bytes", p50),
        ("pipeline.state_commit_ms", "ms", p50),
        ("pipeline.jobs_per_batch", "count", p50),
        ("pipeline.tasks_per_batch", "count", p50),
        ("pipeline.rows_per_batch", "count", "throughput_per_s"),
        ("pipeline.batches", "count", "throughput_per_s"),
        ("serving_store.read_plan_ms", "ms", "store_read_p50_ms"),
        ("serving_store.read_exec_ms", "ms", "store_read_p50_ms"),
        ("serving_store.read_jobs_per_call", "count", "store_read_p50_ms"),
        ("serving_store.read_failed", "count", "store_read_fail_share"),
        ("serving_store.files", "count", f"store_read_p50_ms,{p50}"),
        ("serving_store.bytes", "bytes", f"store_read_p50_ms,{p50}"),
    ):
        out[name] = (unit, moves)
    for b in BUILDS:
        for name, unit in (
            ("s", "s"), ("stages", "count"), ("tasks", "count"),
            ("task_ms", "ms"), ("shuffle_bytes", "bytes"), ("gc_ms", "ms"),
            ("rows", "count"), ("bytes", "bytes"),
        ):
            out[f"{b}.{name}"] = (unit, MOVES_ALL)
    return out


# name -> (unit, end-to-end metric(s) it moves); BENCHMARK.json per_layer
PER_LAYER = _per_layer()
# name -> (unit, end-to-end metric(s) it moves)
DETAIL = _detail()
