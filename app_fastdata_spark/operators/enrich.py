"""Ingest-path enrichment (SURVEY.md §3.1 steps 4-5).

J3 — per-event dim-id resolution (NewEvent.java:53-60): a point lookup per
event in the reference becomes a filter plus a CASE projection over the
literal dests dim here (`dims.lookup_dests`) — no join, no broadcast
build, no shuffle at any event count.

J4 — nearest-centroid scoring (NewEvent.java:29-30, 62-69): the reference
runs an argmin-over-cross-join per event. With k=20 dim-sized centers the
Spark-first form is NOT a crossJoin at all: the centers are inlined as a
literal array<struct<score,id>> column and `array_min` picks the argmin
(struct ordering = lexicographic → min score, ties broken by id). That
makes scoring a pure projection inside whole-stage codegen — zero
shuffle, zero join, scales linearly to any event count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dims import CLUSTERS, clusters_values_sql, dests_values_sql, lookup_dests
from ..cache import memoized_build
from ..registry import register
from ..tables import load_table

# Feature mapping for the testdata stand-in (FIXTURES.md §3):
# reference centroid space (src,dest,referral,agent) → (user_id mod 100, value).
# Built lazily — Column construction needs an active SparkContext.
def cluster_score(cu: float, cv: float) -> Column:
    u = (F.col("user_id") % 100).cast("double")
    v = F.col("value")
    return F.pow(u - F.lit(cu), F.lit(2)) + F.pow(v - F.lit(cv), F.lit(2))


def with_cluster(
    df: DataFrame, centers: list[tuple[int, float, float]] | None = None
) -> DataFrame:
    """Assign each event its nearest centroid id as a codegen projection.

    `centers` defaults to the literal dim model; pass freshly-read rows to
    score against a hot-swapped model (ST7) — centers are dim-sized
    (k=20), so inlining them keeps scoring shuffle- and join-free at any
    event count.

    argmin = least() over the k scores + a first-match CASE back to the
    id: all-primitive codegen, no per-row struct/array allocation. The
    scores are materialized as columns in their OWN projection first —
    CASE branches are conditionally evaluated, so inline score
    expressions would re-compute per reached branch (measured 1.7s vs
    1.0s for the struct shape); as column references each score computes
    exactly once (CollapseProject keeps the split because inlining would
    duplicate non-cheap expressions). First CASE match on the min ⟹
    ties resolve to the lowest id, same as lexicographic (score, id) min.
    """
    cs = CLUSTERS if centers is None else centers
    if not cs:
        # Reference semantics: cluster is NULL while the model table is
        # empty (db/ddl.sql:71; NewEvent.java:62-69 argmin over no rows).
        return df.withColumn("cluster", F.lit(None).cast("int"))
    if len(cs) == 1:
        return df.withColumn("cluster", F.lit(cs[0][0]))
    # Identical expression trees to the previous Column-built form
    # (pow scores → least → first-match CASE), but parsed from SQL text
    # — the Column form issued ~250 py4j round trips per invocation
    # (~0.2 s of driver-side build on every consumer: nearest_centroid,
    # the cluster views, every ingest micro-batch plan — guide §7.3).
    # repr()-rendered literals require finite centers; a pathological
    # swapped-in model (NaN/Inf center) takes the Column-built path.
    import math

    if not all(
        math.isfinite(cu) and math.isfinite(cv) for _, cu, cv in cs
    ):
        score_cols = [f"_s{i}" for i in range(len(cs))]
        scored = df.select(
            "*",
            *[
                cluster_score(cu, cv).alias(n)
                for (_, cu, cv), n in zip(cs, score_cols)
            ],
        )
        m = F.least(*[F.col(n) for n in score_cols])
        expr = F.when(F.col(score_cols[0]) == m, F.lit(cs[0][0]))
        for (cid, _, _), n in zip(cs[1:], score_cols[1:]):
            expr = expr.when(F.col(n) == m, F.lit(cid))
        return scored.withColumn("cluster", expr).drop(*score_cols)
    score_cols = [f"_s{i}" for i in range(len(cs))]
    score_sql = [
        f"power(CAST(user_id % 100 AS DOUBLE) - {cu!r}D, 2) "
        f"+ power(value - {cv!r}D, 2) AS {n}"
        for (_, cu, cv), n in zip(cs, score_cols)
    ]
    scored = df.selectExpr("*", *score_sql)
    m = "least(" + ", ".join(score_cols) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN {n} = {m} THEN {int(cid)}"
            for (cid, _, _), n in zip(cs, score_cols)
        )
        + " END"
    )
    return scored.withColumn("cluster", F.expr(case)).drop(*score_cols)


# J4 as a standalone query: (event_id, cluster).
@memoized_build("events")
def nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return with_cluster(ev).select("event_id", "cluster")


register(
    "nearest_centroid",
    sql=f"""
    WITH scored AS (
      SELECT e.event_id, c.id AS cluster,
             power(CAST(e.user_id % 100 AS DOUBLE) - c.cu, 2)
               + power(e.value - c.cv, 2) AS score
      FROM events e CROSS JOIN {clusters_values_sql()}
    )
    -- NULL score (NULL event value): no meaningful nearest centroid —
    -- emit NULL like Spark's least()-CASE does, instead of letting
    -- NULLS-LAST ordering crown cluster 0
    SELECT event_id,
           CASE WHEN score IS NULL THEN NULL ELSE cluster END AS cluster
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY score, cluster) = 1
    """,
)(nearest_centroid)


# A6 — events_by_cluster view (db/ddl.sql:134-143): filtered per-second count
# keyed by the J4-assigned cluster.
def events_by_cluster(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    src = ev if ev is not None else load_table(spark, sf_dir, "events")
    # P3 `WHERE cluster IS NOT NULL` (ddl.sql:142). With a non-empty
    # model, cluster is NULL exactly when EITHER score input is NULL —
    # the score is pow(user_id%100 - cu, 2) + pow(value - cv, 2), so a
    # NULL user_id NULLs it just like a NULL value does. Filter on BOTH
    # raw columns instead of the derived cluster, so the predicate
    # pushes to the scan and the 20-center argmin expression is never
    # re-evaluated in a Filter node.
    if CLUSTERS:
        src = src.filter(
            F.col("value").isNotNull() & F.col("user_id").isNotNull()
        )
    scored = with_cluster(src)
    if not CLUSTERS:
        scored = scored.filter(F.col("cluster").isNotNull())
    return scored.groupBy(
        F.date_trunc("second", "ts").alias("second_ts"), "cluster"
    ).agg(F.count("*").alias("count_values"))


register(
    "events_by_cluster",
    sql=f"""
    WITH scored AS (
      SELECT e.ts, c.id AS cluster,
             power(CAST(e.user_id % 100 AS DOUBLE) - c.cu, 2)
               + power(e.value - c.cv, 2) AS score,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY power(CAST(e.user_id % 100 AS DOUBLE) - c.cu, 2)
                          + power(e.value - c.cv, 2), c.id) AS rn
      FROM events e CROSS JOIN {clusters_values_sql()}
    )
    SELECT date_trunc('second', ts) AS second_ts, cluster,
           count(*) AS count_values
    FROM scored WHERE rn = 1 AND cluster IS NOT NULL AND score IS NOT NULL
    GROUP BY 1, 2
    """,
)(events_by_cluster)


# J3 — dim-id resolution: two dests lookups resolving event_type → dest
# id/url and the referral key → referral id (stand-in for url→id,
# referral→id, agent→id; NewEvent.java:53-60). The no-referral sentinel
# (empty url, max id) follows LogGenerator.java:105-110: odd event_ids
# take the sentinel.
def enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    referral_key = F.when(F.col("event_id") % 2 == 1, F.lit("")).otherwise(
        F.col("event_type")
    )
    ev = lookup_dests(ev, "event_type", id_as="dest", url_as="url")
    return lookup_dests(ev, referral_key, id_as="referral").select(
        "event_id", "dest", "url", "referral"
    )


register(
    "enrich_events",
    sql=f"""
    WITH dests AS (SELECT * FROM {dests_values_sql()})
    SELECT e.event_id, d.id AS dest, d.url AS url, r.id AS referral
    FROM events e
    JOIN dests d ON d.event_type = e.event_type
    JOIN dests r ON r.event_type =
         CASE WHEN e.event_id % 2 = 1 THEN '' ELSE e.event_type END
    """,
)(enrich_events)
