"""Run several workloads in one command, each in its own process.

    python3 perfbench/suite.py [--workloads dashboard ingest stream build]
        [--seed 1] [--seconds 8] [--traced]

Prints every workload's named metrics and its end-to-end metrics by
name with units. With ``--traced`` each workload also runs the traced
pass, and the tracing overhead is printed as traced minus timed value
of every end-to-end metric. Exits non-zero when a run fails or one of
its output checks fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        print(f"{workload}: run failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
        return None
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=["dashboard", "ingest", "stream", "build"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    ok = True
    for wl in args.workloads:
        timed = run(wl, args.seed, args.seconds, 0)
        if timed is None:
            ok = False
            continue
        ok &= timed["correct"]
        print(f"{wl:9s} correct={timed['correct']} attempted={timed['attempted']} "
              f"failed={timed['failed']}")
        for name, m in timed["metrics"].items():
            print(f"{wl:9s} {name:28s} {m['value']:14.4f} {m['unit']}")
        if not args.traced:
            continue
        traced = run(wl, args.seed, args.seconds, 1)
        if traced is None:
            ok = False
            continue
        ok &= traced["correct"]
        for name, m in timed["metrics"].items():
            t = traced["metrics"][f"traced.{name}"]["value"]
            print(f"{wl:9s} overhead {name:19s} {t - m['value']:+14.4f} {m['unit']} "
                  f"(timed {m['value']:.4f}, traced {t:.4f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
