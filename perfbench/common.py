"""Shared pieces of the workloads: their outcome record and the DuckDB
oracle check against the engine's ``oracle_sql()``."""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass, field

from perfbench.tracing import SparkCost

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` and ``named`` map a metric
    name to (value, unit); ``detail`` maps a workload-specific per-layer
    metric (``layers.DETAIL``) to its value; ``cost`` is the Spark work
    traced over ``ops`` operations; ``checks_failed`` lists every output
    check that failed."""

    e2e: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    cost: SparkCost | None = None
    ops: int = 0
    attempted: int = 0
    failed: int = 0
    checks_failed: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _check_oracle_module():
    """The repository's oracle gate (tools/check_oracle.py), whose
    order-insensitive type-tagged hash the checks reuse."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the generated tables of one data directory."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        import duckdb

        self._gate = _check_oracle_module()
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute("SET threads=2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def digest(self, rows, cols) -> str:
        return self._gate.normalize(rows, cols)

    def expected(self, name: str) -> tuple[int, str]:
        """(row count, digest) of ``oracle_sql()[name]``."""
        from app_fastdata_spark.catalog import oracles

        df = self.con.execute(oracles()[name]).fetchdf()
        rows = self._gate.pandas_rows(df)
        return len(rows), self.digest(rows, list(df.columns))

    def close(self) -> None:
        self.con.close()
