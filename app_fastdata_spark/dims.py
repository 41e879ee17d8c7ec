"""Replicated dimension tables as deterministic literals.

The reference keeps small dims (`dests`, `agents`, `clusters`) as
replicated tables joined on every ingest (db/ddl.sql:3-59,
client LogGenerator.java:98-124). Here `dests` and `clusters` are fixed
Python literals so the Spark side and the DuckDB oracle SQL are
generated from the SAME source of truth (FIXTURES.md §3: dims are
inlined, no files); no query reads `agents`.

Spark-scale note: these are dim-sized (≤100 rows), so no query joins
them. A lookup is a projection over the literals — `lookup_dests`
here, `enrich.with_cluster` for the clusters — with no broadcast, no
shuffle and no extra Spark job at any data scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- dests dim (reference db/ddl.sql:45-51; event_type plays `url`) -------
# id assignment = alphabetical order of the 5 event types, sentinel row for
# "no referral" encoded as empty url with the max id (LogGenerator.java:105-110).
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DESTS: list[tuple[int, str, str]] = [
    (i, et, f"http://example.com/{et}") for i, et in enumerate(EVENT_TYPES)
] + [(len(EVENT_TYPES), "", "")]  # sentinel: no-referral row

# --- clusters model table (reference db/ddl.sql:3-11) ---------------------
# k=20 centers over the 2-d feature space (user_id mod 100, value) — the
# testdata stand-in for the reference's 4-d int centroids
# (KMeansReferral.scala:51-54). Grid: u in {5,15,..,95} × v in {120, 360}.
CLUSTERS: list[tuple[int, float, float]] = [
    (i, float(5 + 10 * (i % 10)), 120.0 if i < 10 else 360.0) for i in range(20)
]


def lookup_dests(
    df: DataFrame,
    key: str | Column,
    *,
    id_as: str | None = None,
    url_as: str | None = None,
    sentinel: bool = True,
) -> DataFrame:
    """``df`` inner-joined to the dests dim on ``event_type = key``, as a
    filter and a projection — the J3 lookup in the shape `with_cluster`
    gives J4. An ``IN`` over the dim's keys drops the rows the join would
    drop (Spark pushes it to the parquet scan when ``key`` is a scan
    column), and the dim's ``id`` and ``url`` are appended as ``id_as``
    and ``url_as`` by a CASE over DESTS. The keys are unique, so every
    kept row matches exactly one dim row and the result equals the join:
    no broadcast build (a Spark job on every execution), no join node.
    ``sentinel=False`` leaves the no-referral row (url '') out of the
    dim."""
    rows = [r for r in DESTS if sentinel or r[2]]
    keys = [et for _, et, _ in rows]
    if len(set(keys)) != len(keys):
        raise ValueError(f"dests keys are not unique: {keys}")
    k = F.col(key) if isinstance(key, str) else key

    def case(field: int) -> Column:
        expr = F.when(k == rows[0][1], F.lit(rows[0][field]))
        for r in rows[1:]:
            expr = expr.when(k == r[1], F.lit(r[field]))
        return expr

    out = {name: case(field) for name, field in ((id_as, 0), (url_as, 2)) if name}
    return df.filter(k.isin(keys)).withColumns(out)


# --- DuckDB oracle fragments (same literals, rendered as VALUES CTEs) -----

def dests_values_sql(alias: str = "d") -> str:
    rows = ", ".join(f"({i}, '{et}', '{url}')" for i, et, url in DESTS)
    return f"(VALUES {rows}) AS {alias}(id, event_type, url)"


def clusters_values_sql(alias: str = "c") -> str:
    rows = ", ".join(f"({i}, {cu!r}, {cv!r})" for i, cu, cv in CLUSTERS)
    return f"(VALUES {rows}) AS {alias}(id, cu, cv)"
