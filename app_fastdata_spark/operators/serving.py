"""Dashboard serving queries (U2/U3 read procedures, SURVEY.md §3.2).

Each is the reference procedure re-expressed declaratively:
filter (P6 recency) → [join dim] → re-aggregate (A7/A8/A9) → top-k (T1-T3).
NOW is replaced by the explicit AS_OF parameter for determinism
(SURVEY.md §5); top-k orderings carry full tiebreaks so oracle hashes are
stable (T2 note).

Scale notes: the serving reads re-aggregate the per-second partials
(A4/A5/A6 views) — two-tier partial→final aggregation, exactly Spark's
hash-agg shape; top-k compiles to TakeOrderedAndProject (no global sort).
No dim is joined: the dests lookup is a filter plus a CASE projection
(`dims.lookup_dests`), the clusters lookup a scoring projection
(`enrich.with_cluster`). When the events listing packs into one split,
the scan is declared single-partition (`tables.narrow_single_split_scan`),
so each read runs as ONE Spark job with no exchange; more splits keep
the two-tier hash-agg plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import clusters_values_sql, dests_values_sql, lookup_dests
from ..params import AS_OF, TOP_K, WINDOW_SECONDS
from ..cache import memoized_build
from ..registry import register
from .views import events_by_src, events_by_src_dest


# P6 — sliding recency predicate (GetTopUsers.java:29; db/ddl.sql:164,171):
# TO_TIMESTAMP(SECOND, SINCE_EPOCH(SECOND, NOW) - w) <= second_ts
def recency(col: str = "second_ts", as_of: str = AS_OF, window: int = WINDOW_SECONDS) -> Column:
    # The cutoff is a timezone-INDEPENDENT epoch literal computed in
    # Python (AS_OF is defined in UTC): timestamp_seconds(long) and the
    # timestamp comparison are both instant-based, so no session-timezone
    # setting — even one applied by a harness AFTER the DataFrame is
    # built — can shift this predicate away from the UTC ts_ns prune in
    # events_in_window. (unix_timestamp(lit(str)) parsed in session tz.)
    from datetime import datetime, timezone

    epoch = int(
        datetime.strptime(as_of, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )
    return F.col(col) >= F.timestamp_seconds(F.lit(epoch - window))


_SQL_RECENCY = (
    f"second_ts >= TIMESTAMP '{AS_OF}' - INTERVAL {WINDOW_SECONDS} SECOND"
)


def events_in_window(
    spark: SparkSession, sf_dir: str, as_of: str = AS_OF, window: int = WINDOW_SECONDS
) -> DataFrame:
    """Events scan pre-pruned to the recency window with the cutoff
    applied to BOTH ts forms: the raw column differs by testdata layout
    (tables.load_table — TimestampType ts under the µs layout, long
    ts_ns under the ns layout), and a predicate only reaches the parquet
    reader on the raw column, so expressing the same second-aligned
    cutoff both ways guarantees row-group pruning either way; the
    redundant twin folds into the same codegen filter. Equivalent to the
    post-agg second_ts filter because AS_OF is second-aligned:
    date_trunc(s, ts) >= cutoff ⟺ ts >= cutoff."""
    from datetime import datetime, timezone

    from ..tables import load_table, narrow_single_split_scan

    dt = datetime.strptime(as_of, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
    cutoff_s = int(dt.timestamp()) - window
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts_ns") >= cutoff_s * 1_000_000_000)
        & (F.col("ts") >= F.timestamp_seconds(F.lit(cutoff_s)))
    )
    return narrow_single_split_scan(ev, f"{sf_dir}/events.parquet")


# GetTopUsers (GetTopUsers.java:25-38): recency filter over events_by_second,
# re-agg by src, top-k desc with src tiebreak (T2).
#
# The reference reads a MAINTAINED per-second view, so its serving read
# re-aggregates tiny view rows. Recomputing that intermediate tier from
# raw parquet would add a full extra shuffle+agg for nothing: summing
# per-second counts over the window ≡ counting window rows directly, so
# the batch twin aggregates ONCE over the pruned scan (the oracle keeps
# the view-shaped SQL — same result by construction). The view itself
# stays registered as events_by_second (A4), and the streaming serving
# store (ST4) is where the maintained-view read lives.
@memoized_build("events")
def top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_in_window(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"))
        .agg(F.count("*").alias("counts"))
        .orderBy(F.desc("counts"), F.asc("src"))
        .limit(TOP_K)
    )


TOP_USERS_SQL = f"""
    WITH ebs AS (
      SELECT date_trunc('second', ts) AS second_ts, user_id AS src,
             count(*) AS count_values
      FROM events GROUP BY 1, 2
    )
    SELECT src, CAST(sum(count_values) AS BIGINT) AS counts
    FROM ebs WHERE {_SQL_RECENCY}
    GROUP BY src ORDER BY counts DESC, src LIMIT {TOP_K}
    """

register("top_users", sql=TOP_USERS_SQL)(top_users)


# GetTopSources (GetTopSources.java:24-33): top-k over the A1 running view.
# Reference orders DESC only; src tiebreak added for determinism (T2 note).
@memoized_build("events")
def top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_by_src(spark, sf_dir)
        .select(F.col("src").alias("sources"), F.col("total_visits").alias("counts"))
        .orderBy(F.desc("counts"), F.asc("sources"))
        .limit(TOP_K)
    )


register(
    "top_sources",
    sql=f"""
    SELECT user_id AS sources, count(*) AS counts
    FROM events GROUP BY user_id
    ORDER BY counts DESC, sources LIMIT {TOP_K}
    """,
)(top_sources)


# GetTopSrcDests (GetTopSrcDests.java:25-35): J1 view ⋈ dim + T3. The dim
# lookup maps dest to url after the aggregate; its IN on dest reaches the
# scan.
@memoized_build("events")
def top_src_dests(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        lookup_dests(
            events_by_src_dest(spark, sf_dir), "dest",
            url_as="destination", sentinel=False,
        )
        .select(F.col("src").alias("sources"), "destination", "counts")
        .orderBy(F.desc("counts"), F.asc("sources"), F.asc("destination"))
        .limit(TOP_K)
    )


register(
    "top_src_dests",
    sql=f"""
    WITH v AS (
      SELECT user_id AS src, event_type AS dest, count(*) AS counts
      FROM events GROUP BY 1, 2
    )
    SELECT v.src AS sources, d.url AS destination, v.counts AS counts
    FROM v JOIN {dests_values_sql()} ON d.event_type = v.dest AND d.url <> ''
    ORDER BY counts DESC, sources, destination LIMIT {TOP_K}
    """,
)(top_src_dests)


# GetTopDests (db/ddl.sql:161-166): P6 + J2 dim lookup + A8 re-agg + T2.
# Single-tier: the lookup maps each pruned-window event to its url
# BEFORE one agg by url (the per-second and per-dest tiers collapse —
# see top_users; two event types may share a url, so the agg is by url).
@memoized_build("events")
def top_dests(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        lookup_dests(
            events_in_window(spark, sf_dir), "event_type", url_as="url", sentinel=False
        )
        .groupBy("url")
        .agg(F.count("*").alias("counts"))
        .orderBy(F.desc("counts"), F.asc("url"))
        .limit(TOP_K)
    )


register(
    "top_dests",
    sql=f"""
    WITH dbs AS (
      SELECT date_trunc('second', ts) AS second_ts, event_type AS dest,
             count(*) AS count_values
      FROM events GROUP BY 1, 2
    )
    SELECT d.url AS url, CAST(sum(count_values) AS BIGINT) AS counts
    FROM dbs JOIN {dests_values_sql()} ON d.event_type = dbs.dest AND d.url <> ''
    WHERE {_SQL_RECENCY}
    GROUP BY d.url ORDER BY counts DESC, url LIMIT {TOP_K}
    """,
)(top_dests)


# GetEventsByCluster (db/ddl.sql:168-173): P6 + A9 re-agg + T6 output order.
# Single-tier: the 20-center argmin projection runs once over the pruned
# window, then one agg by cluster (per-second tier collapsed — see
# top_users).
@memoized_build("events")
def events_by_cluster_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dims import CLUSTERS
    from .enrich import with_cluster

    # The output cardinality is bounded by the model size (cluster ∈ the
    # k ids, or a single NULL group under an empty model), so the T6
    # ordering is expressed as orderBy + limit(k): Spark compiles that to
    # TakeOrderedAndProject — a per-partition heap + driver merge —
    # instead of a global Sort, which needs a range-partitioning Exchange
    # and a sampling pass over the agg output (measured 0.95 s → 0.61 s
    # at sf0.1; at 1000 executors the sampling job is pure added latency
    # for a ≤k-row result).
    src = events_in_window(spark, sf_dir)
    # A9 re-aggregates the A6 view, which carries the DDL's cluster IS
    # NOT NULL — same pushdown-friendly raw-value form as
    # enrich.events_by_cluster (NULL value OR NULL user_id => NULL
    # score => NULL cluster).
    if CLUSTERS:
        src = src.filter(
            F.col("value").isNotNull() & F.col("user_id").isNotNull()
        )
    scored = with_cluster(src)
    if not CLUSTERS:
        scored = scored.filter(F.col("cluster").isNotNull())
    return (
        scored
        .groupBy("cluster")
        .agg(F.count("*").alias("counts"))
        .orderBy("cluster")
        .limit(max(len(CLUSTERS), 1))
    )


register(
    "events_by_cluster_window",
    sql=f"""
    WITH scored AS (
      SELECT e.ts, c.id AS cluster,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY power(CAST(e.user_id % 100 AS DOUBLE) - c.cu, 2)
                          + power(e.value - c.cv, 2), c.id) AS rn
      FROM events e CROSS JOIN {clusters_values_sql()}
      WHERE e.value IS NOT NULL AND e.user_id IS NOT NULL
    ),
    ebc AS (
      SELECT date_trunc('second', ts) AS second_ts, cluster,
             count(*) AS count_values
      FROM scored WHERE rn = 1 GROUP BY 1, 2
    )
    SELECT cluster, CAST(sum(count_values) AS BIGINT) AS counts
    FROM ebc WHERE {_SQL_RECENCY}
    GROUP BY cluster ORDER BY cluster
    """,
)(events_by_cluster_window)
