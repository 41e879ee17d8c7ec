"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same scale factor, compare row count, column names, and an
order-insensitive value hash.

Both result sets are normalized through the PANDAS fetch path
(``sdf.toPandas()`` / ``res.fetchdf()``) because that is how the driver
fetches them — it is where DuckDB's HUGEINT becomes float64 and broke
three round-1 hashes that the old fetchall()-based gate could not see.
The hash is TYPE-TAGGED (int vs float vs str vs timestamp), which is
strictly stricter than any plausible rendering the driver applies: if
this gate passes, equal values arrive in the same type class on both
sides and render identically.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

from app_fastdata_spark.catalog import oracles, queries
from app_fastdata_spark.session import get_spark
from app_fastdata_spark.tables import TABLE_NAMES


def canon(v) -> str:
    """Canonical type-tagged rendering of one cell value."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()  # numpy / pandas scalar → python
        except Exception:
            pass
    if v is None:
        return "∅"
    try:
        if v != v:  # NaN / NaT
            return "∅"
    except (TypeError, ValueError):
        pass
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isinf(v):
            return f"f{'+' if v > 0 else '-'}inf"
        return f"f{v:.9g}"
    if isinstance(v, bytes):
        return "x" + v.hex()
    if hasattr(v, "isoformat"):
        try:
            s = v.isoformat(sep=" ")
        except TypeError:  # datetime.date
            s = v.isoformat()
        return f"t{s}"
    return f"s{v}"


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\x1f".join(canon(row[i]) for i in order) for row in rows]
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def pandas_rows(df):
    """pandas DataFrame → list of tuples with pandas dtypes preserved
    (this is the width-sensitive step: HUGEINT arrives as float64)."""
    return list(df.itertuples(index=False, name=None))


def _rss_gib() -> float:
    """Whole-cgroup resident memory (JVM + python workers + this process),
    the quantity that actually OOMs the sandbox; falls back to this
    process's RSS when no cgroup file is readable."""
    for p in (
        "/sys/fs/cgroup/memory.current",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.usage_in_bytes",  # v1 (incl. page cache)
    ):
        try:
            with open(p) as f:
                return int(f.read()) / (1 << 30)
        except OSError:
            continue
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS"):
                    return int(line.split()[1]) / (1 << 20)
    except OSError:
        pass
    return 0.0


class _PeakRss:
    """Samples whole-cgroup RSS on a background thread while a query
    runs — the per-query memory-envelope telemetry that makes the next
    oracle-adjacency OOM (the r9 driver lost 5 rows to a DuckDB
    allocator-ceiling cascade) visible in a LOCAL run before a driver
    round burns slots. 20 Hz is plenty: the r9 failure mode was a
    multi-second allocator climb, not a spike."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_gib())
            self._stop.wait(0.05)

    def __enter__(self) -> "_PeakRss":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, _rss_gib())


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--window"]
    # --window: replicate the DRIVER's run exactly — the first 50
    # queries() entries in insertion (DRIVER_PRIORITY) order, one
    # process, so cumulative-memory failures reproduce here first.
    window_mode = "--window" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # fixed budget: DuckDB's system-derived default races the Spark JVM
    # for the same memory (see tests/test_oracle_parity.py)
    con.execute("SET memory_limit='8GB'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, os_ = queries(), oracles()
    n_pass = n_fail = n_rowsonly = 0
    # Per-query memory telemetry, written to ORACLE_RSS_LAST.json
    # (gitignored scratch) at the end of every run; the round's
    # certification run gets copied to the tracked ORACLE_RSS.json so
    # memory-adjacency regressions are diffable round-over-round
    # instead of rediscovered at the next driver OOM.
    rss_log: dict[str, dict] = {}
    items = list(qs.items())[:50] if window_mode else sorted(qs.items())
    if only:
        missing = only - {n for n, _ in items}
        if missing:
            # a requested name that won't run must not exit green —
            # "--window <name-outside-window>" would otherwise check
            # zero queries and report success
            print(f"FAIL  requested queries not in the run set: {sorted(missing)}")
            return 1
    for name, fn in items:
        if only and name not in only:
            continue
        # Suite hygiene: a 50-query run shares one memory envelope with
        # the JVM, 32 python workers, and DuckDB — drop anything a query
        # left cached before starting the next (round-4 lesson: the OOMs
        # were cumulative, in run order).
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        # the Spark-side value hash, printed so runs can be compared
        h1 = normalize(srows, scols)
        if name not in os_:
            print(
                f"rows  {name}: {len(srows)} rows (rows-only, "
                f"{time.time()-t0:.1f}s, hash {h1[:12]})"
            )
            n_rowsonly += 1
            continue
        try:
            with _PeakRss() as pk:
                res = con.execute(os_[name])
                ddf = res.fetchdf()
            dcols = list(ddf.columns)
            drows = pandas_rows(ddf)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            if h1 != normalize(drows, dcols):
                problems.append("value-hash mismatch")
                # show first differing rows for debugging
                s_set = {normalize([r], scols) for r in srows}
                d_set = {normalize([r], dcols) for r in drows}
                sd = [r for r in srows if normalize([r], scols) not in d_set][:3]
                dd = [r for r in drows if normalize([r], dcols) not in s_set][:3]
                problems.append(f"spark-only={sd} duckdb-only={dd}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(str(p) for p in problems)}")
            n_fail += 1
        else:
            print(
                f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s, "
                f"rss {_rss_gib():.1f}G, oracle-peak {pk.peak:.1f}G, "
                f"hash {h1[:12]})"
            )
            n_pass += 1
        rss_log[name] = {
            "wall_s": round(time.time() - t0, 2),
            "oracle_peak_gib": round(pk.peak, 2),
            "rss_after_gib": round(_rss_gib(), 2),
        }
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "ORACLE_RSS_LAST.json",
            ),
            "w",
        ) as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(rss_log),
                    "window_mode": window_mode,
                    "queries": rss_log,
                },
                f,
                indent=1,
            )
            f.write("\n")
    except OSError:
        pass
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
