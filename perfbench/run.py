"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload {dashboard,ingest,stream,build} \
        --seed N --seconds S --trace {0,1}

The workloads are defined in ``dashboard.py``, ``ingest.py``,
``stream.py`` and ``build.py``. Each one loads one layer family of the
engine heavily:

* dashboard: serving queries in a closed loop (one client);
* ingest: a 20k events/s stream into the serving store, read at 1 Hz;
* stream: the same stream with no reader;
* build: index builds from an empty index root on a new data version.

Inputs are generated from ``--seed`` inside the checkout. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` a separate traced pass reports the per-layer metrics
(including the end-to-end values seen under tracing, ``traced.*``, whose
difference from a timed run is the tracing overhead). Earlier stdout
lines print the workload's named metrics with units, and
``.perfbench/last-<workload>.json`` keeps every figure of the last run
with its environment (seed, nproc, loadavg, CPU pressure, commit).

Every run checks its outputs and reports ``"correct": false`` when a
check fails. The process exits non-zero without a result when the
engine package is missing or a step raises.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard", "ingest", "stream", "build")


def environment() -> dict:
    """Machine state a reader needs to judge contention: nproc,
    loadavg, CPU pressure (PSI) and the CPU time stolen by the host
    since boot (``/proc/stat``), read at call time."""
    out = {"nproc": len(os.sched_getaffinity(0))}
    for key, path in (("loadavg", "/proc/loadavg"), ("cpu_pressure", "/proc/pressure/cpu")):
        try:
            with open(path) as f:
                out[key] = f.read().strip()
        except OSError:
            out[key] = None
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        out["cpu_steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        out["cpu_steal_s"] = None
    return out


def commit() -> str:
    # the ceiling keeps git from searching directories above the checkout
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True, env=env,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def configure(work: str) -> None:
    """Point every file the engine, Spark and the JVM write into the
    run's work directory, and size Spark to this machine."""
    for sub in ("tmp", "local", "index"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = nproc
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    # Python workers import the engine by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


class Context:
    """What a workload gets: its arguments, its work directory, the
    generated data, the set-up session and an optional tracer."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session():
    from app_fastdata_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext and wait for the JVM process to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(ctx: Context, module) -> dict:
    """Start a session, import the catalog and warm the workload up,
    once and cold, as a user of the engine pays it; the total is
    setup_s, so work moved into set-up shows."""
    t0 = time.perf_counter()
    ctx.spark = start_session()
    t1 = time.perf_counter()
    from app_fastdata_spark import catalog

    catalog.queries()
    t2 = time.perf_counter()
    module.warm(ctx)
    t3 = time.perf_counter()
    return {"setup_s": t3 - t0, "session.start_s": t1 - t0, "catalog.load_s": t2 - t1}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "app_fastdata_spark", "__init__.py")):
        print(f"perfbench: no app_fastdata_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import COST_UNITS, DETAIL, PER_LAYER

    module = importlib.import_module(f"perfbench.{args.workload}")
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = environment()
    try:
        configure(work)
        ctx = Context(args, work)
        phases = {"start": time.perf_counter()}
        module.prepare(ctx)
        phases["prepare"] = time.perf_counter()
        setup = set_up(ctx, module)
        phases["set_up"] = time.perf_counter()
        if ctx.trace:
            from perfbench.tracing import Tracer

            ctx.tracer = Tracer(ctx.spark)
        outcome = module.measure(ctx)
        phases["measure"] = time.perf_counter()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_jvm()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    names = list(phases)
    phase_s = {b: phases[b] - phases[a] for a, b in zip(names, names[1:])}

    setup_s = setup["setup_s"]
    if ctx.trace:
        metrics = {name: (setup[name], "s") for name in ("session.start_s", "catalog.load_s")}
        for k, unit in COST_UNITS.items():
            metrics[f"spark.{k}_per_op"] = (getattr(outcome.cost, k) / outcome.ops, unit)
        for name, (value, unit) in outcome.e2e.items():
            metrics[f"traced.{name}"] = (value, unit)
        metrics["traced.setup_s"] = (setup_s, "s")
    else:
        metrics = dict(outcome.e2e)
        metrics["setup_s"] = (setup_s, "s")

    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(),
        "env_before": before, "env_after": environment(),
        "setup": setup, "phase_s": phase_s, "named": outcome.named, "info": outcome.info,
        "checks_failed": outcome.checks_failed,
        "metrics": {
            k: {"value": v, "unit": u, "moves": PER_LAYER[k][1]}
            if k in PER_LAYER else {"value": v, "unit": u}
            for k, (v, u) in metrics.items()
        },
        "detail": {
            k: {"value": v, "unit": DETAIL[k][0], "moves": DETAIL[k][1]}
            for k, v in outcome.detail.items()
        },
    }
    with open(os.path.join(out_dir, f"last-{args.workload}.json"), "w") as f:
        json.dump(details, f, indent=1, default=str)
    for name, (value, unit) in outcome.named.items():
        print(f"{args.workload:9s} {name:28s} {value:14.4f} {unit}")
    print(f"{args.workload:9s} {'setup_s':28s} {setup_s:14.4f} s")
    if ctx.trace:
        for name, (value, unit) in metrics.items():
            print(f"{args.workload:9s} {name:40s} {value:16.4f} {unit}"
                  f"  -> {PER_LAYER[name][1]}")
        for name, value in outcome.detail.items():
            unit, moves = DETAIL[name]
            print(f"{args.workload:9s} {name:40s} {value:16.4f} {unit}  -> {moves}")
    for line in outcome.checks_failed:
        print(f"CHECK FAILED: {line}")
    result = {
        "correct": not outcome.checks_failed,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
