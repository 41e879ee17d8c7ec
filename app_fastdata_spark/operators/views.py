"""The reference's 6 incrementally-maintained materialized views (A1-A6,
db/ddl.sql:92-143) as batch aggregations.

In the streaming layer the same expressions run as Structured Streaming
aggregations (update mode, state keyed by the GROUP BY columns) — see
``app_fastdata_spark.streaming``. Batch and streaming share these
builders so parity is by construction.

Scale notes: every view is a single hash-aggregate with map-side partial
aggregation (Spark's partial→final HashAggregate pair); grouping keys are
the reference's partition key (`src`→user_id) so the shuffle is the
minimal one. No Python in the hot path — all whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memoized_build
from ..registry import register
from ..tables import load_table, narrow_single_split_scan


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return narrow_single_split_scan(
        load_table(spark, sf_dir, "events"), f"{sf_dir}/events.parquet"
    )


# A1 — events_by_src_view (db/ddl.sql:92-95): count by src over the stream.
def events_by_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"))
        .agg(F.count("*").alias("total_visits"))
    )


register(
    "events_by_src",
    sql="""
    SELECT user_id AS src, count(*) AS total_visits
    FROM events GROUP BY user_id
    """,
)(events_by_src)


# A2 — events_by_src_dest_view (db/ddl.sql:97-101): count by (src, dest).
def events_by_src_dest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dest"))
        .agg(F.count("*").alias("counts"))
    )


register(
    "events_by_src_dest",
    sql="""
    SELECT user_id AS src, event_type AS dest, count(*) AS counts
    FROM events GROUP BY user_id, event_type
    """,
)(events_by_src_dest)


# A3 — events_sessions (db/ddl.sql:103-112): count + MAX(ts) by (src, dest);
# the session-recency tracker the ingest path probes (NewEvent.java:40-42).
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events(spark, sf_dir)
        .groupBy(F.col("user_id").alias("src"), F.col("event_type").alias("dest"))
        .agg(F.count("*").alias("counts"), F.max("ts").alias("last_ts"))
    )


register(
    "events_sessions",
    sql="""
    SELECT user_id AS src, event_type AS dest,
           count(*) AS counts, max(ts) AS last_ts
    FROM events GROUP BY user_id, event_type
    """,
)(events_sessions)


# A4 — events_by_second (db/ddl.sql:114-122): tumbling 1-s window count by src.
# TRUNCATE(SECOND, ts) ≡ date_trunc('second', ts) (F1). `ev` lets serving
# queries pass a scan-pruned events frame (recency pushdown).
@memoized_build("events")
def events_by_second(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    return (
        (ev if ev is not None else events(spark, sf_dir))
        .groupBy(
            F.date_trunc("second", "ts").alias("second_ts"),
            F.col("user_id").alias("src"),
        )
        .agg(F.count("*").alias("count_values"))
    )


register(
    "events_by_second",
    sql="""
    SELECT date_trunc('second', ts) AS second_ts, user_id AS src,
           count(*) AS count_values
    FROM events GROUP BY 1, 2
    """,
)(events_by_second)


# A5 — dests_by_second (db/ddl.sql:124-132): same shape keyed by dest.
def dests_by_second(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    return (
        (ev if ev is not None else events(spark, sf_dir))
        .groupBy(
            F.date_trunc("second", "ts").alias("second_ts"),
            F.col("event_type").alias("dest"),
        )
        .agg(F.count("*").alias("count_values"))
    )


register(
    "dests_by_second",
    sql="""
    SELECT date_trunc('second', ts) AS second_ts, event_type AS dest,
           count(*) AS count_values
    FROM events GROUP BY 1, 2
    """,
)(dests_by_second)


# --- time-series gap fill (densify + carry-forward) -------------------------
# Dashboards and window models need a DENSE per-second series; the raw
# per-second view (A4) skips empty seconds entirely. Densification =
# generated time grid LEFT JOIN the sparse aggregate, zero-fill for
# counts, last-observation-carried-forward for values. Pinned to one
# fixed UTC day so the grid is a constant (86 400 rows) on both engines.
#
# Scale shape: the grid generates distributed (spark.range), the join is
# a broadcast of the generated day grid per series — at real scale this
# partitions by (series key, day) and each partition densifies
# independently; the LOCF window orders within the partition only. The
# testdata has ONE series, so the window is a single partition here —
# the per-key form is the same plan with partitionBy(series).
GAP_FILL_DAY = "2024-01-01"


@memoized_build("events")
def events_gap_fill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from pyspark.sql import Window

    day0 = int(
        datetime.strptime(GAP_FILL_DAY, "%Y-%m-%d")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.timestamp_seconds(F.lit(day0)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(day0 + 86400)))
    )
    per_s = ev.groupBy(F.date_trunc("second", "ts").alias("second_ts")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("av")
    )
    grid = spark.range(86400).select(
        F.timestamp_seconds(F.lit(day0) + F.col("id")).alias("second_ts")
    )
    w = Window.orderBy("second_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.join(per_s, "second_ts", "left").select(
        "second_ts",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("av", ignorenulls=True).over(w).alias("carried_avg"),
    )


register(
    "events_gap_fill_series",
    sql=f"""
    WITH per_s AS (
      SELECT date_trunc('second', ts) AS s, count(*) AS n,
             round(avg(value), 6) AS av
      FROM events
      WHERE ts >= TIMESTAMP '{GAP_FILL_DAY} 00:00:00'
        AND ts < TIMESTAMP '{GAP_FILL_DAY} 00:00:00' + INTERVAL 1 DAY
      GROUP BY 1
    ),
    grid AS (
      SELECT TIMESTAMP '{GAP_FILL_DAY} 00:00:00' + to_seconds(CAST(i AS BIGINT))
               AS second_ts
      FROM (SELECT unnest(range(0, 86400)) AS i)
    )
    SELECT g.second_ts,
           COALESCE(p.n, 0) AS n_events,
           last_value(p.av IGNORE NULLS) OVER (
             ORDER BY g.second_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_avg
    FROM grid g LEFT JOIN per_s p ON p.s = g.second_ts
    """,
)(events_gap_fill_series)
