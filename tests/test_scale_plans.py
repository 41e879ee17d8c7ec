"""Scale-technique tests: salted aggregation equivalence + plan shape,
bucketed co-located joins eliminating the exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from app_fastdata_spark.catalog import queries
from app_fastdata_spark.plans.bucketing import colocated_join, write_bucketed
from app_fastdata_spark.plans.skew import salted_sum
from app_fastdata_spark.tables import load_table


def test_salted_top_users_matches_direct(spark, sf_dir):
    qs = queries()
    direct = qs["top_users"](spark, sf_dir).collect()
    salted = qs["top_users_salted"](spark, sf_dir).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in salted]


def test_salted_sum_two_phase_plan(spark, sf_dir):
    """The salted rewrite must actually shuffle on (key, salt) first."""
    ev = load_table(spark, sf_dir, "events").withColumn("one", F.lit(1))
    df = salted_sum(ev, "user_id", "one", salt_from="event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # partial + final


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    write_bucketed(
        ev.select("event_id", "user_id", "value"), "ev_bucketed_a", "user_id"
    )
    write_bucketed(
        ev.select("user_id", "event_type"), "ev_bucketed_b", "user_id"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "ev_bucketed_a", "ev_bucketed_b", "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan
        # and it actually computes
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")


def test_registered_bucketed_join_is_exchange_free(spark, sf_dir):
    """The driver-visible bucketed_colocated_join: the fact-dim join
    itself must carry NO Exchange on either side (the shuffle happened
    once, at bucketed-write time); only the dim-sized final rollup may
    shuffle."""
    from app_fastdata_spark.plans.bucketing import colocated_fact_dim

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_fact_dim(spark, sf_dir)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_query_matches_unbucketed(spark, sf_dir):
    """Bucketing is a physical layout choice, never a semantic one: the
    registered rollup equals the same plan over plain (unbucketed)
    reads."""
    from app_fastdata_spark.catalog import queries
    from app_fastdata_spark.tables import load_table

    got = [tuple(r) for r in queries()["bucketed_colocated_join"](spark, sf_dir).collect()]
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.min("event_type").alias("fav_type"))
    want = [
        tuple(r)
        for r in ev.join(dim, "user_id")
        .groupBy("fav_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("fav_type")
        .collect()
    ]
    assert got == want


def test_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime Bloom-filter join pruning, the fact⋈filtered-fact
    technique: a filter built from the selective build side's join keys
    (urgent orders) is injected into the probe side's scan (lineitem) as
    `might_contain(...)`, dropping rows that cannot match before the
    shuffle. Spark injects it only when the probe scan exceeds
    `applicationSideScanSizeThreshold` (10 GB default), so a clone
    session lowers that threshold and disables auto-broadcast (the join
    must shuffle); the parent session's conf is untouched. The filter
    must reach the probe side, and pruning must not change the
    result."""
    clone = spark.newSession()
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clone.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "0",
    )

    def join(session):
        # read through the session itself (as load_table reads these
        # schema-less tables): load_table's frame cache is keyed on the
        # applicationId the clone shares, and would hand back frames
        # bound to the parent session and its conf
        li, orders = (
            session.read.parquet(f"{sf_dir}/{t}.parquet")
            for t in ("lineitem", "orders")
        )
        urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        return li.join(urgent, li.l_orderkey == urgent.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )

    joined = join(clone)
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan
    assert joined.count() == join(spark).count()


def test_forced_broadcasts_are_size_gated(spark, sf_dir, monkeypatch):
    """r13 verdict Next #2: an explicit F.broadcast hint on a frame
    whose cardinality scales with the fact data (q3's pre-reduced
    orders, q16's filtered part) ignores autoBroadcastJoinThreshold and
    would OOM at 100 TB. The hints are gated on the source table's
    footer row count: below the gate the hint stands (testdata SFs —
    the pinned plan shapes are unchanged); with the gate flipped to 0
    the hint disappears from the analyzed plan, Catalyst/AQE owns the
    strategy, and the result set is identical."""
    from app_fastdata_spark import tables
    from app_fastdata_spark.operators.tpch import (
        tpch_q3_top_orders,
        tpch_q16_supplier_cnt,
    )

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    # both are memoized_build-wrapped and the memo bakes the gate in,
    # so the gate is exercised through the undecorated builders
    q3 = tpch_q3_top_orders.__wrapped__
    q16 = tpch_q16_supplier_cnt.__wrapped__

    hinted_q3 = q3(spark, sf_dir)
    hinted_q16 = q16(spark, sf_dir)
    assert "ResolvedHint" in analyzed(hinted_q3)
    assert "ResolvedHint" in analyzed(hinted_q16)
    want_q3 = [tuple(r) for r in hinted_q3.collect()]
    want_q16 = [tuple(r) for r in hinted_q16.collect()]

    monkeypatch.setattr(tables, "BROADCAST_MAX_ROWS", 0)
    gated_q3 = q3(spark, sf_dir)
    gated_q16 = q16(spark, sf_dir)
    assert "ResolvedHint" not in analyzed(gated_q3), analyzed(gated_q3)
    assert "ResolvedHint" not in analyzed(gated_q16), analyzed(gated_q16)
    assert [tuple(r) for r in gated_q3.collect()] == want_q3
    assert [tuple(r) for r in gated_q16.collect()] == want_q16


def test_maybe_broadcast_fails_closed_on_missing_footer(spark, sf_dir):
    """An unreadable/absent source footer must WITHHOLD the forced hint
    (the risky choice at the scale where footers go missing), not raise
    and not hint."""
    from app_fastdata_spark.tables import load_table, maybe_broadcast

    df = load_table(spark, sf_dir, "nation")
    out = maybe_broadcast(df, "/nonexistent_dir_xyz", "nation")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan
