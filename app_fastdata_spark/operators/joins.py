"""As-of and range (interval) joins — join classes the reference never
uses (SURVEY.md §2.3 "Absent join classes" note) but that a complete
analytics engine must offer; both are built from shuffle-friendly
primitives rather than inequality nested loops.

Scale notes:
- The as-of join is ONE shuffle on the partition key + an in-partition
  ordered window — the standard distributed as-of shape (no per-row probe
  of a sorted build side, no nested loop). State per key is O(1).
- The range join quantizes the value domain into fixed-width buckets,
  explodes each interval to the buckets it covers (bounded fan-out =
  interval_width / bucket_width), equi-joins on the bucket key, then
  refines with the exact BETWEEN predicate. At 100 TB this is a hash
  join on a well-distributed synthetic key; the naive formulation Spark
  would otherwise pick is a BroadcastNestedLoopJoin whose probe cost is
  rows × intervals (a plan test pins the good shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memoized_build
from ..registry import register
from ..tables import load_table


# --- as-of join -----------------------------------------------------------

@memoized_build("events")
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event: the most recent purchase (ts' <= ts) by the same
    user, plus the running purchase count. Both sides come from the same
    stream, so the tagged-union degenerates to a conditional column; the
    default RANGE window frame includes ts-peers, matching the oracle's
    `p.ts <= e.ts` exactly even on timestamp ties. NULL-ts events are
    excluded on BOTH engines: an as-of position without a timestamp is
    undefined, and the RANGE frame of a NULL-ts row is the NULL peer
    group in Spark (NULLS FIRST) but the whole partition in DuckDB
    (NULLS LAST) — the planted-NULL sweep caught exactly that."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.max(p_ts).over(w).alias("last_purchase_ts"),
        F.count(p_ts).over(w).alias("purchases_so_far"),
    )


register(
    "asof_last_purchase",
    sql="""
    SELECT event_id, user_id, event_type,
           max(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts) AS last_purchase_ts,
           count(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts) AS purchases_so_far
    FROM events
    WHERE ts IS NOT NULL
    """,
)(asof_last_purchase)


# The FORWARD direction (every real as-of engine offers both): for each
# event, the next purchase at-or-after it by the same user, plus how
# many purchases remain from here on. Same one-shuffle windowed shape as
# the backward form — min over the current-row-to-unbounded-FOLLOWING
# frame instead of max over the preceding frame; ts-peers are included
# by the default RANGE frame on both engines, and the same NULL-ts
# exclusion applies (no as-of position without a timestamp).
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts").rangeBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.min(p_ts).over(w).alias("next_purchase_ts"),
        F.count(p_ts).over(w).alias("purchases_remaining"),
    )


register(
    "asof_next_purchase",
    sql="""
    SELECT event_id, user_id, event_type,
           min(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER w AS next_purchase_ts,
           count(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER w AS purchases_remaining
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    """,
)(asof_next_purchase)


# --- range (interval) join ------------------------------------------------

# Uneven price bands: (band_id, lo, hi) half-open [lo, hi).
PRICE_BANDS = [
    (0, 0.0, 5000.0),
    (1, 5000.0, 20000.0),
    (2, 20000.0, 50000.0),
    (3, 50000.0, 110000.0),
]
BUCKET_W = 5000.0


@memoized_build("lineitem")
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem ⋈ price-band intervals via bucket quantization + equi-join
    + exact refine; per-band count and total price."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    band_rows = [
        (band_id, lo, hi, list(range(int(lo // BUCKET_W), int((hi - 1e-9) // BUCKET_W) + 1)))
        for band_id, lo, hi in PRICE_BANDS
    ]
    # Arrow-backed literal frame: a createDataFrame over a plain list
    # parallelizes pickled rows, and every broadcast build then paid a
    # Python worker per slice
    import pandas as pd

    bands = spark.createDataFrame(
        pd.DataFrame(
            band_rows, columns=["band_id", "lo", "hi", "buckets"]
        ),
        "band_id int, lo double, hi double, buckets array<int>",
    ).select("band_id", "lo", "hi", F.explode("buckets").alias("bucket"))
    probe = li.withColumn(
        "bucket", F.floor(F.col("l_extendedprice") / F.lit(BUCKET_W)).cast("int")
    )
    return (
        probe.join(F.broadcast(bands), "bucket")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi"))
        )
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("band_id")
    )


_BANDS_VALUES = ", ".join(f"({b}, {lo!r}, {hi!r})" for b, lo, hi in PRICE_BANDS)

register(
    "range_join_price_bands",
    sql=f"""
    SELECT band_id, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
           count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    JOIN (VALUES {_BANDS_VALUES}) AS b(band_id, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_id, lo, hi
    ORDER BY band_id
    """,
)(range_join_price_bands)


# --- interval self-join (click → purchase attribution) --------------------

ATTRIBUTION_WINDOW = "1 hour"


def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, purchase) pair by the same user with the purchase in
    the hour after the click — the batch twin of the stream-stream
    interval join in streaming/pipeline.py. Shape: equi-join on user_id
    (one shuffle pair) + range refine; never a time-only theta join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks.join(purchases, "user_id").filter(
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}"))
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")


register(
    "click_purchase_attribution",
    sql="""
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)(click_purchase_attribution)


# --- fuzzy dim resolution (edit-distance entity matching) -------------------
# Real ingest feeds carry typo'd/variant keys that exact equi-joins drop
# on the floor; the entity-resolution answer at dim scale is a broadcast
# fuzzy argmin — here, like nearest_centroid (J4), the dim is literal so
# the whole match is ONE codegen projection: an array of
# (levenshtein, candidate) structs, array_min for the lexicographic
# argmin (min distance, ties to the alphabetically-first candidate), no
# join and no shuffle at any event count. levenshtein is the classic
# unit-cost DP in both engines, so distances agree exactly.
#
# The typo'd feed is synthesized deterministically (user_id % 97 == 0
# events get a trailing 'x') because the testdata's event_type values
# are all clean — the corruption rule lives in the query on BOTH engines.
@memoized_build("events")
def events_fuzzy_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dims import EVENT_TYPES, lookup_dests

    ev = load_table(spark, sf_dir, "events")
    raw = F.when(
        F.col("user_id") % 97 == 0, F.concat(F.col("event_type"), F.lit("x"))
    ).otherwise(F.col("event_type"))
    cands = F.array(
        *[
            F.struct(
                F.levenshtein(F.col("raw_type"), F.lit(t)).alias("lev"),
                F.lit(t).alias("t"),
            )
            for t in EVENT_TYPES
        ]
    )
    best = F.array_min(cands)
    matched = ev.select("event_id", raw.alias("raw_type")).select(
        "event_id",
        "raw_type",
        best["t"].alias("resolved_type"),
        best["lev"].alias("edit_distance"),
    )
    return lookup_dests(matched, "resolved_type", url_as="url", sentinel=False)


def _register_fuzzy() -> None:
    from ..dims import EVENT_TYPES, dests_values_sql

    types_rows = ", ".join(f"('{t}')" for t in EVENT_TYPES)
    register(
        "events_fuzzy_enrich",
        sql=f"""
    WITH ev AS (
      SELECT event_id,
             CASE WHEN user_id % 97 = 0 THEN event_type || 'x'
                  ELSE event_type END AS raw_type
      FROM events
    ),
    c AS (
      SELECT e.event_id, e.raw_type, t.t,
             levenshtein(e.raw_type, t.t) AS edit_distance,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY levenshtein(e.raw_type, t.t), t.t) AS rn
      FROM ev e CROSS JOIN (VALUES {types_rows}) AS t(t)
    )
    SELECT c.event_id, c.raw_type, c.t AS resolved_type,
           c.edit_distance, d.url
    FROM c JOIN {dests_values_sql()} ON d.event_type = c.t AND d.url <> ''
    WHERE c.rn = 1
    """,
    )(events_fuzzy_enrich)


_register_fuzzy()


# --- Bloom-pruned semi-join (runtime row-level filtering) -------------------
# The 100 TB semi-join shape: when the build side is selective but too
# big to inline as an IN-list, compress its key set into a Bloom filter
# (here 2^16 bits / 4 hashes, ~1 KB of longs), broadcast the bitmap as a
# LITERAL array column, and pre-filter the fact scan with pure codegen
# bit tests BEFORE any shuffle or join — the hand-verifiable analogue of
# Spark's runtime row-group filtering (InjectRuntimeFilter). Bloom
# filters have no false negatives, and the exact broadcast semi-join
# afterwards removes the (measured-tiny) false positives, so the result
# is EXACTLY the plain semi-join — which is what the DuckDB oracle runs.
# The bitmap itself is built distributed (per-key bit positions reduced
# by a 1024-row bit_or agg) and collected bounded: 2^10 words regardless
# of build-side cardinality — same legality class as the sqrt(N)
# centroid collects.
BLOOM_M_BITS = 1 << 16          # 65,536 bits = 1,024 longs
BLOOM_WORDS = BLOOM_M_BITS // 64
BLOOM_SEEDS = [11, 23, 47, 89]  # k = 4 independent xxhash64 streams


def _bloom_bitmap(keys: DataFrame) -> list:
    """Distributed Bloom build: keys -> k bit positions -> bit_or per
    64-bit word -> collect (bounded at BLOOM_WORDS rows)."""
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col("k"), F.lit(seed)),
                        F.lit(BLOOM_M_BITS),
                    )
                    for seed in BLOOM_SEEDS
                ]
            )
        ).alias("pos")
    )
    words = (
        pos.select(
            F.shiftright("pos", 6).alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * BLOOM_WORDS
    for r in words:
        bitmap[r.word] = r.bits
    return bitmap


def _bloom_pruned_events(
    spark: SparkSession, sf_dir: str, bitmap: list
) -> DataFrame:
    """events.user_id rows surviving the Bloom bit tests — pure codegen
    (literal array + element_at + shifts), no shuffle, no Python."""
    # one parsed literal array, not a 1,024-element py4j transfer per
    # invocation (~0.5 s of driver-side build measured at r13)
    def _l(w: int) -> str:
        # Long.MIN_VALUE cannot be written as a literal (the parser sees
        # unary minus applied to an out-of-range 2^63)
        return "(-9223372036854775807L - 1L)" if w == -(1 << 63) else f"{w}L"

    bloom_lit = F.expr("array(" + ", ".join(_l(w) for w in bitmap) + ")")
    fact = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
        .withColumn("bloom", bloom_lit)
    )
    for i, seed in enumerate(BLOOM_SEEDS):
        fact = fact.withColumn(
            f"_h{i}",
            F.pmod(
                F.xxhash64(F.col("user_id"), F.lit(seed)), F.lit(BLOOM_M_BITS)
            ),
        )
    check = " AND ".join(
        f"((shiftright(element_at(bloom, CAST(shiftright(_h{i}, 6) + 1 AS INT)),"
        f" CAST((_h{i} & 63) AS INT)) & 1) = 1)"
        for i in range(len(BLOOM_SEEDS))
    )
    return fact.filter(F.expr(check)).select("user_id")


def _bloom_build_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("k"))
        .filter(F.col("k").isNotNull())
    )


@memoized_build("customer", "events")
def events_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts for users whose customer record carries a
    negative balance — fact side Bloom-pre-filtered, then exactly
    semi-joined. Result is identical to the plain semi-join (oracle)."""
    from ..cache import session_get, stamp_key

    build = _bloom_build_side(spark, sf_dir)
    # The 1 KB bitmap is a derived runtime-filter artifact: build it
    # once per (session, customer stamp) — every invocation was
    # re-running the distributed bit_or build job (~0.4 s at r13) to
    # collect the identical 1,024 words (the _centroid_broadcast
    # lifecycle applied to the filter).
    bitmap = session_get(
        "bloom_bitmap-customer",
        stamp_key(spark, sf_dir, "customer"),
        lambda: _bloom_bitmap(build),
    )
    pruned = _bloom_pruned_events(spark, sf_dir, bitmap)
    return (
        pruned.join(
            F.broadcast(build), pruned["user_id"] == build["k"], "left_semi"
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


register(
    "events_bloom_pruned_join",
    sql="""
    SELECT user_id, count(*) AS n_events
    FROM events
    WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    GROUP BY user_id
    ORDER BY user_id
    """,
)(events_bloom_pruned_join)
