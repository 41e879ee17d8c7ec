"""Physical-plan quality gates (the 100 TB design checks, SURVEY.md §4).

These assert the *plan*, not the result: recency predicates must reach
the parquet scan (row-group pruning), dim joins must broadcast (no
shuffle of the fact side), scans must prune columns, and the relational
hot path must stay JVM-side (no Python eval nodes). A regression that
keeps results correct but silently de-optimizes the plan fails here.
"""

from __future__ import annotations

import os
import re

import pytest

from app_fastdata_spark.catalog import queries


def plan_of(spark, sf_dir, name: str) -> str:
    return queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


RECENCY_QUERIES = ["top_users", "top_dests", "events_by_cluster_window"]


@pytest.mark.parametrize("name", RECENCY_QUERIES)
def test_recency_filter_reaches_scan(spark, sf_dir, name):
    """The P6 recency cutoff must reach the events scan as a raw-column
    predicate — a pushed timestamp filter under the µs testdata layout,
    or a raw-long ts comparison under the ns layout (events_in_window
    emits both; only the raw-column one survives to the scan)."""
    plan = plan_of(spark, sf_dir, name)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "events" in l]
    assert scans, plan
    assert any(
        re.search(r"ts#\d+L >= \d{15,}", s)  # ns layout: raw long prune
        or re.search(r"GreaterThanOrEqual\(ts,", s)  # µs layout: pushed ts
        for s in scans
    ), scans


@pytest.mark.parametrize("name", ["top_dests", "top_src_dests", "enrich_events"])
def test_dests_lookup_is_a_projection(spark, sf_dir, name):
    """The dests dim is looked up as a filter plus a CASE projection over
    its literal rows (dims.lookup_dests): no join of any kind, and no
    broadcast build — a broadcast is a Spark job on every execution."""
    plan = plan_of(spark, sf_dir, name)
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


@pytest.mark.parametrize("name", ["tpch_q3_top_orders", "tpch_q5_region_revenue"])
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, plan
    # the fact side must NOT be broadcast: no exchange larger than dims —
    # proxy: every broadcast build side is a scan of a dim table or an
    # in-memory dim literal, never the events/lineitem fact scan.
    for m in re.finditer(r"BroadcastExchange[\s\S]{0,600}?FileScan parquet \[([^\]]*)\]", plan):
        cols = m.group(1)
        assert "l_orderkey" not in cols.split(",")[0], f"fact broadcast: {cols}"


def test_scan_prunes_columns(spark, sf_dir):
    """top_users needs only (ts, user_id) from events — reading more
    defeats columnar pruning at 100 TB."""
    plan = plan_of(spark, sf_dir, "top_users")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names <= {"ts", "user_id"}, names


@pytest.mark.parametrize(
    "name",
    [
        "top_users",
        "top_sources",
        "top_src_dests",
        "top_dests",
        "events_by_cluster_window",
        "nearest_centroid",
        "session_starts",
        "events_by_second",
        "dedup_exact",
        "sim_topk_cosine",
        "tpch_q1_pricing_summary",
        "tpch_q3_top_orders",
        "tpch_q5_region_revenue",
        "tpch_q2_min_cost_supplier",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q10_returned_items",
        "tpch_q11_important_parts",
        "tpch_q20_promo_shippers",
        "bucketed_colocated_join",
        # round-7 additions — all pure codegen by design
        "doc_chunks",
        "doc_boilerplate_chunks",
        "doc_classifier_score",
        "doc_weighted_sample",
        "bpe_merge_step",
        "bpe_train_merges",
        "events_merged_sessions",
        "events_user_quartiles",
        "corpus_snapshot_diff",
        "events_zorder_key",
        # round-10 late additions — all pure codegen by design
        "doc_temperature_mixture",
        "embedding_rp_project",
        "doc_quality_confusion",
    ],
)
def test_hot_path_has_no_python_eval(spark, sf_dir, name):
    """Relational operators stay in whole-stage codegen — Python eval
    nodes belong only where they are the deliberate vectorized design
    (multimodal, stateful streaming, the Arrow tokenizer/pair-gen in the
    jaccard family, ANN signature GEMMs). Row-at-a-time Python is never
    allowed anywhere."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_ngram_jaccard_capped", "sim_ann_lsh",
     "dedup_embedding_cosine_bucketed", "doc_contamination",
     "doc_repetition", "sim_ann_ivf"],
)
def test_vectorized_paths_never_row_at_a_time(spark, sf_dir, name):
    """Queries with a deliberate Python stage must use the Arrow-
    vectorized form, never row-at-a-time BatchEvalPython."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, name


def test_semi_and_anti_joins_use_join_codegen(spark, sf_dir):
    """Q4/Q16 shapes must plan as real semi/anti hash joins (build side =
    the filtered key set), not as a distinct + inner join rewrite."""
    semi = plan_of(spark, sf_dir, "tpch_q4_priority_semijoin")
    assert "LeftSemi" in semi, semi
    anti = plan_of(spark, sf_dir, "tpch_unsold_parts_anti")
    assert "LeftAnti" in anti, anti
    for plan in (semi, anti):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_having_prunes_before_join(spark, sf_dir):
    """Q18: the HAVING-filtered aggregate must be the broadcast build side
    of the orders join — at 100 TB the filtered key set is tiny while
    orders is not."""
    plan = plan_of(spark, sf_dir, "tpch_q18_big_orders")
    m = re.search(r"BroadcastExchange[\s\S]{0,2000}?FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    assert "l_orderkey" in m.group(1) or "l_quantity" in m.group(1), m.group(1)


def test_disjunctive_predicates_push_to_both_scans(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs must split per side — the lineitem scan
    gets the l_quantity disjunction, the part scan gets the
    p_brand/p_size disjunction (PushedFilters, not post-join eval only)."""
    plan = plan_of(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    li_scan = next(s for s in scans if "lineitem" in s)
    part_scan = next(s for s in scans if "part.parquet" in s)
    assert "l_quantity" in li_scan.split("PushedFilters")[1], li_scan
    assert "p_brand" in part_scan.split("PushedFilters")[1], part_scan


def test_fact_fact_join_degrades_to_shuffle_join(spark, sf_dir):
    """With auto-broadcast disabled (the 100 TB fact-fact case), unhinted
    joins must plan as shuffle joins (sort-merge or shuffled-hash) on the
    join key — never a nested loop, and never depend on broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, sf_dir, "tpch_top_orders_per_customer")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "NestedLoop" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """The interval join must go through bucket quantization → hash join;
    a BroadcastNestedLoopJoin (rows × intervals probes) is the failure
    mode at scale."""
    plan = plan_of(spark, sf_dir, "range_join_price_bands")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    """The as-of join compiles to one hash exchange on user_id + an
    ordered window — no join operator, no extra shuffle."""
    plan = plan_of(spark, sf_dir, "asof_last_purchase")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_multi_distinct_uses_expand(spark, sf_dir):
    """Two DISTINCT aggregates over different keys must plan through the
    Expand-based distributed distinct (no driver-side dedup), with the
    scan pruned to exactly the referenced columns."""
    plan = plan_of(spark, sf_dir, "events_distinct_users")
    assert "Expand" in plan, plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names <= {"ts", "user_id", "event_type", "value"}, names


def test_aggregation_is_two_tier(spark, sf_dir):
    """Aggregations must have a map-side partial phase (partial_sum before
    the shuffle) — the A7 partial→final shape; without it every raw row
    crosses the network."""
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "partial_sum" in plan, plan
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning"), (
        "partial agg must be below the exchange"
    )


def test_bucketed_embedding_neardup_has_no_cross_product(spark, sf_dir):
    """The 100 TB embedding near-dup path: no join at all — a vectorized
    cell-assignment projection, ONE shuffle on cell_id, and a grouped
    per-cell GEMM that emits only surviving pairs. The all-pairs anchor's
    unbounded nested-loop shape must not appear."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    # r13: the Arrow-vectorized cell assignment runs at index-build time
    # (ivf_cells_neardup, once per session/data stamp) — the query plan
    # reads the materialized layout and its only Python stage is the
    # grouped pandas GEMM pair-gen
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "FlatMapGroupsInPandas" in plan
    # exactly one data shuffle feeds the GEMM (plus the distinct's)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_new_join_classes_plan_shapes(spark, sf_dir):
    """Q13/Q15/Q16/Q17/Q21/Q22 physical shapes: outer join preserved (not
    rewritten to inner), the scalar-max and scalar-avg filters broadcast
    their 1-row side, Q16's distinct agg expands, Q21 plans a real
    semi+anti pair, and none of them touch Python."""
    q13 = plan_of(spark, sf_dir, "tpch_q13_custdist")
    assert "LeftOuter" in q13, q13
    q15 = plan_of(spark, sf_dir, "tpch_q15_top_supplier")
    assert "BroadcastExchange" in q15, q15
    # r13: the distinct-count runs as complete-mode aggregates over ONE
    # explicit (p_brand, p_size) hash exchange — both joins broadcast,
    # no second aggregation exchange, no Expand
    q16 = plan_of(spark, sf_dir, "tpch_q16_supplier_cnt")
    assert "LeftAnti" in q16, q16
    assert q16.count("Exchange hashpartitioning") == 1, q16
    assert q16.count("BroadcastHashJoin") == 2, q16
    # r13: Q21's EXISTS pair is derived from ONE lineitem scan — two
    # chained hash aggregates over a single l_orderkey exchange (no
    # semi/anti joins, no fact-sized broadcast builds, no window/sort)
    q21 = plan_of(spark, sf_dir, "tpch_q21_lone_returner")
    assert len([l for l in q21.splitlines() if "Scan parquet" in l]) == 3, q21
    # one fact exchange (l_orderkey) + the dim-sized s_name re-agg
    assert q21.count("Exchange hashpartitioning") == 2, q21
    assert "Window" not in q21 and "SortMergeJoin" not in q21, q21
    q22 = plan_of(spark, sf_dir, "tpch_q22_dormant_customers")
    assert "LeftAnti" in q22 and "BroadcastExchange" in q22, q22
    for p in (q13, q15, q16, q21, q22):
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "CartesianProduct" not in p


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast: at 100 TB the corpus
    side is the scan and the eval set is tiny — a shuffle join here
    would move the whole exploded corpus."""
    plan = plan_of(spark, sf_dir, "doc_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_round4_tpch_push_filters_and_broadcast_dims(spark, sf_dir):
    """The round-4 TPC-H additions keep the two core scale rules: (a)
    dim-side filters reach the parquet scan as PushedFilters (p_type,
    p_name LIKE, r_name, date windows), (b) dims broadcast and the
    lineitem fact is never a broadcast build side."""
    cases = {
        # query -> a predicate fragment that must appear in PushedFilters
        "tpch_q8_market_share": "EqualTo(p_type,PROMO)",
        "tpch_q9_product_profit": "StringContains(p_name,red)",
        "tpch_q2_min_cost_supplier": "EqualTo(p_type,LARGE)",
        "tpch_q20_promo_shippers": "StringContains(p_name,old)",
        "tpch_q10_returned_items": "EqualTo(l_returnflag,R)",
        "tpch_q7_volume_shipping": "GreaterThanOrEqual(l_shipdate,",
        "tpch_q11_important_parts": "EqualTo(n_name,NATION_5)",
    }
    for name, fragment in cases.items():
        plan = plan_of(spark, sf_dir, name)
        assert fragment in plan, (name, fragment, plan)
        assert "BroadcastHashJoin" in plan, name
        for m in re.finditer(
            r"BroadcastExchange[\s\S]{0,600}?FileScan parquet \[([^\]]*)\]", plan
        ):
            first = m.group(1).split(",")[0]
            assert not first.startswith("l_orderkey"), (name, m.group(1))


def test_global_shuffle_is_one_exchange_no_global_sort(spark, sf_dir):
    """doc_global_shuffle's permutation must come from hash-sharding +
    per-partition sort: exactly one hash Exchange on shard and NO
    single-partition global sort/window (a global row_number would
    funnel 100 TB through one task)."""
    plan = plan_of(spark, sf_dir, "doc_global_shuffle")
    assert len(re.findall(r"Exchange hashpartitioning\(shard", plan)) == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_store_serving_read_prunes_partitions(spark, sf_dir):
    """The ST4 store-backed GetTopUsers must carry its recency cutoff as
    a PARTITION filter on the day-partitioned store (a serving read
    scans O(window) partitions, never the store's history)."""
    from app_fastdata_spark.streaming.serving_store import (
        top_users_from_store_query,
    )

    df = top_users_from_store_query(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan


def test_dsir_scoring_is_pure_projection(spark, sf_dir):
    """doc_dsir_weights' scoring stage (the returned plan — the model
    fit runs eagerly at build time) must be a single corpus scan folded
    through the inlined 256-entry ratio literal: no join, no explode,
    no exchange of any kind, no Python eval node."""
    plan = plan_of(spark, sf_dir, "doc_dsir_weights")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, plan
    assert "Join" not in plan, plan
    # widen_small_scan may add a RoundRobin re-split at tiny SF (no-op at
    # scale); a KEYED exchange would mean a join/agg snuck back in
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Python" not in plan, plan


def test_best_quality_survivors_corpus_never_shuffles(spark, sf_dir):
    """The corpus side of dedup_survivors_best_quality must reach its
    anti-join via broadcast (losers are |near-dup docs| << |corpus|) —
    no hash exchange keyed on the corpus doc_id feeding the anti-join."""
    plan = plan_of(spark, sf_dir, "dedup_survivors_best_quality")
    assert re.search(r"BroadcastHashJoin \[doc_id[^\]]*\], \[doc_id[^\]]*\], LeftAnti", plan), plan


def test_corpus_health_single_row_aggregate(spark, sf_dir):
    """corpus_health is one scan into a single-row reduce: exactly one
    documents FileScan, and the final aggregate exchanges to a single
    partition only AFTER partial aggregation (map-side partials carry
    the count/sum/distinct work)."""
    plan = plan_of(spark, sf_dir, "corpus_health")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, plan
    assert "partial" in plan.lower(), plan


def test_pii_ops_are_pure_codegen_projections(spark, sf_dir):
    """The PII scan/scrub hot path is regexp work inside whole-stage
    codegen: no Python eval nodes, no exchange at all (per-row
    projections over one scan — embarrassingly parallel at 100 TB)."""
    for name in ("doc_pii_scan", "doc_pii_scrub"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Exchange" not in plan, (name, plan)
        cols = re.search(r"FileScan parquet \[([^\]]*)\]", plan).group(1)
        names = {c.split("#")[0] for c in cols.split(",")}
        assert names <= {"doc_id", "text"}, names  # column pruning


def test_url_domains_topk_no_global_sort(spark, sf_dir):
    """Top-50 domains must compile to TakeOrderedAndProject (heap +
    driver merge), not a range-partitioned global Sort."""
    plan = plan_of(spark, sf_dir, "doc_url_domains")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_embedding_dim_stats_two_tier_agg(spark, sf_dir):
    """N·d exploded rows collapse map-side: partial agg before the one
    exchange on dim, final agg after — d groups move, not N·d rows."""
    plan = plan_of(spark, sf_dir, "embedding_dim_stats")
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_running_stats_single_user_shuffle(spark, sf_dir):
    """Cumulative windows + LAG share ONE user_id hash exchange and one
    within-partition sort — adding the second window function must not
    add a second shuffle."""
    plan = plan_of(spark, sf_dir, "events_user_running_stats")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_filters_terms_before_agg_and_heap_topk(spark, sf_dir):
    """BM25: the exploded term stream must be filtered to the query
    terms before any aggregate (the tf frame is |Q|-bounded, never
    corpus-sized), stats/df sides broadcast, top-20 is a heap."""
    plan = plan_of(spark, sf_dir, "doc_bm25_search")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "EvalPython" not in plan, plan
    # the IN-filter on query terms sits BELOW the tf aggregate. The
    # dump is top-down (parents first), so a filter hoisted ABOVE an
    # aggregate would print BEFORE the first partial-count line —
    # assert the region above the first aggregate is filter-free (the
    # dfq subtree's own copy can't mask a regression this way), and
    # that the filter exists at all.
    tf_agg = plan.index("functions=[partial_count(1), partial_first")
    assert re.search(r"Filter term#\d+ IN \(hash,join,vector\)", plan[tf_agg:]), plan
    assert not re.search(r"Filter term#\d+ IN", plan[:tf_agg]), plan
    # dl rides the tf aggregate — no separate doc-length join: at most
    # the 2 intended corpus scans (tf subtree + stats), never 4
    assert plan.count("FileScan parquet") <= 3, plan


def test_fuzzy_enrich_is_one_projection(spark, sf_dir):
    """Fuzzy dim resolution must be the J4 idiom: the levenshtein argmin
    is a literal-array projection, and the url lookup a literal CASE —
    no join, no broadcast, no shuffle, no Python."""
    plan = plan_of(spark, sf_dir, "events_fuzzy_enrich")
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan  # no BroadcastExchange either
    assert "EvalPython" not in plan, plan


def test_scan_partition_estimate_honors_session_confs(tmp_path):
    """_est_scan_partitions must use the session's spark.sql.files.*
    byte confs, not hardcoded defaults: a 1 MiB maxPartitionBytes
    override on a multi-MiB file should multiply the estimate."""
    from app_fastdata_spark.tables import _est_scan_partitions, _parse_bytes

    # byte-string parser: all the spellings Spark accepts
    assert _parse_bytes("134217728", 0) == 128 * 1024 * 1024
    assert _parse_bytes("134217728b", 0) == 128 * 1024 * 1024
    assert _parse_bytes("128MB", 0) == 128 * 1024 * 1024
    assert _parse_bytes("4m", 0) == 4 * 1024 * 1024
    assert _parse_bytes("1g", 0) == 1 << 30
    assert _parse_bytes("1pb", 0) == 1 << 50  # Spark's JavaUtils accepts p/pb
    assert _parse_bytes(None, 77) == 77
    assert _parse_bytes("garbage", 77) == 77

    f = tmp_path / "blob.parquet"
    f.write_bytes(b"\0" * (8 * 1024 * 1024))
    stamp = ("t", 1)
    # defaults: 8 MiB + openCost fits well under 128 MiB → few splits
    n_default = _est_scan_partitions(str(f), stamp, 1)
    # 1 MiB max split, zero open cost → ~8 splits
    n_small = _est_scan_partitions(str(f), stamp, 1, 1 << 20, 0)
    assert n_small >= 8 > n_default
    # one file under maxSplitBytes is one split: Spark counts the open
    # cost after each packed piece, so it never splits a lone small file
    g = tmp_path / "small.parquet"
    g.write_bytes(b"\0" * (2 * 1024 * 1024))
    for parallelism in (1, 4, 32):
        assert _est_scan_partitions(str(g), stamp, parallelism) == 1


DASHBOARD = ["top_users", "top_sources", "top_src_dests", "top_dests", "events_by_cluster_window"]


@pytest.fixture(scope="module")
def multi_split_sf_dir(tmp_path_factory, sf_dir):
    """The test sf_dir's events rewritten as two part files — a layout
    Spark reads as two or more splits."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("multi_split")
    (d / "events.parquet").mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(d / "events.parquet" / "part-0.parquet"))
    pq.write_table(t.slice(half), str(d / "events.parquet" / "part-1.parquet"))
    return str(d)


@pytest.mark.parametrize("name", DASHBOARD)
def test_dashboard_read_is_one_job_on_a_single_split(spark, sf_dir, multi_split_sf_dir, name):
    """Over an events listing that packs into one split, a dashboard read
    runs its aggregates and top-k inside the scan's task: no exchange,
    exactly one Spark job per call. Over more splits the two-tier hash
    aggregate keeps its exchange. Both layouts return the same rows."""
    from app_fastdata_spark.tables import load_table

    assert load_table(spark, sf_dir, "events").rdd.getNumPartitions() == 1
    assert load_table(spark, multi_split_sf_dir, "events").rdd.getNumPartitions() >= 2
    q = queries()[name]
    rows = q(spark, sf_dir).collect()
    assert rows and rows == q(spark, multi_split_sf_dir).collect()

    assert "Exchange" not in plan_of(spark, sf_dir, name)
    assert "Exchange hashpartitioning" in plan_of(spark, multi_split_sf_dir, name)

    sc = spark.sparkContext

    def jobs(group):
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for call in range(2):
        group = f"one-job-{name}-{call}"
        sc.setJobGroup(group, name)
        try:
            q(spark, sf_dir).collect()
        finally:
            sc.setJobGroup(None, None)
        assert jobs(group) == 1


def test_zorder_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """Z-order layout: a 2-D box predicate over (user bucket, second
    bucket) must (a) prune z-cell directory partitions at PLANNING time
    (PartitionFilters on the zcell IN-list; only matching cells' files
    are read) and (b) return exactly the rows a direct filter over the
    raw table returns. This is the multi-dim-pruning answer to the
    reference's single-column partitioning (db/ddl.sql:73)."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.plans import zorder as Z
    from app_fastdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_z")
    Z.write_zordered(ev, out)

    # box: one user-bucket stripe × full time range → few z-cells
    row = ev.agg(
        F.min(F.expr("(unix_micros(ts) div 1000000) % 65536")).alias("slo"),
        F.max(F.expr("(unix_micros(ts) div 1000000) % 65536")).alias("shi"),
    ).first()
    user_lo, user_hi = 100, 4000
    cells = Z.zcells_for_box(user_lo, user_hi, int(row.slo), int(row.shi))
    assert 0 < len(cells) < 256  # the box must actually prune

    zdf = spark.read.parquet(out)
    boxed = zdf.filter(
        F.col("zcell").isin(cells)
        & (F.col("user_id") % 65536).between(user_lo, user_hi)
    )
    plan = boxed._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [" in scan and "zcell" in scan.split(
        "PartitionFilters:"
    )[1].split("]")[0], scan

    expect = ev.filter((F.col("user_id") % 65536).between(user_lo, user_hi))
    got = sorted(r.event_id for r in boxed.select("event_id").collect())
    want = sorted(r.event_id for r in expect.select("event_id").collect())
    assert got == want  # cell enumeration is exact — no row lost to pruning


def test_zorder_sort_clusters_key_within_files(spark, sf_dir, tmp_path):
    """Within each written file the fine z-key must be sorted (that's
    what makes parquet row-group min/max stats selective on zkey)."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.plans import zorder as Z
    from app_fastdata_spark.tables import load_table

    out = str(tmp_path / "events_z2")
    Z.write_zordered(load_table(spark, sf_dir, "events"), out)
    df = spark.read.parquet(out).select(
        F.input_file_name().alias("f"), "zkey"
    )
    bad = (
        df.withColumn(
            "prev",
            F.lag("zkey").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("f")
                .orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter(F.col("prev") > F.col("zkey"))
        .count()
    )
    assert bad == 0


def test_merged_sessions_single_user_shuffle(spark, sf_dir):
    """Interval merge: the break-flag window, the island-numbering
    window, AND the final per-island group-by all reuse ONE user_id
    hash exchange — the gaps-and-islands chain must not re-shuffle
    between stages."""
    plan = plan_of(spark, sf_dir, "events_merged_sessions")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan


def test_quartiles_rank_only_after_reduction(spark, sf_dir):
    """The global-order rank window must sit above the per-user
    aggregate: the single-partition exchange moves one row per user
    (dim-sized), never raw events."""
    plan = plan_of(spark, sf_dir, "events_user_quartiles")
    single = plan.index("Exchange SinglePartition")
    # the per-user partial aggregate must appear BELOW (after, in
    # top-down print order) the single-partition exchange
    assert "partial_count" in plan[single:], plan
    assert "EvalPython" not in plan, plan


def test_snapshot_diff_projects_fingerprints_before_join(spark, sf_dir):
    """Snapshot diff: both join inputs must be (doc_id, md5) projections
    — the text column may not cross the exchange."""
    plan = plan_of(spark, sf_dir, "corpus_snapshot_diff")
    lines = plan.splitlines()
    join_exchanges = [
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning(doc_id" in l
    ]
    assert len(join_exchanges) == 2, plan
    for i in join_exchanges:
        # the exchange's direct child must be the fingerprint Project —
        # raw text never crosses the wire
        assert "Project" in lines[i + 1] and "md5(" in lines[i + 1], lines[i + 1]
    assert re.search(r"SortMergeJoin .*FullOuter", plan), plan
    assert "EvalPython" not in plan, plan


def test_cube_is_one_expand_two_tier_agg(spark, sf_dir):
    """CUBE must plan as ONE Expand (4 grouping-set replicas) feeding a
    partial→final hash aggregate — never one scan per grouping set."""
    plan = plan_of(spark, sf_dir, "events_cube_daily")
    assert plan.count("Expand") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_count" in plan, plan
    assert "EvalPython" not in plan, plan


def test_doc_normalize_single_python_stage(spark, sf_dir):
    """doc_normalize's only Python is ONE Arrow-batched NFC stage; the
    control-strip/collapse/trim/md5 chain must stay JVM-side, and the
    transform itself must not shuffle (the one exchange allowed is the
    presentation orderBy's range partitioning)."""
    plan = plan_of(spark, sf_dir, "doc_normalize")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time UDF
    ex = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("rangepartitioning" in l for l in ex), ex


def test_hll_rollup_two_tier_partial_merge(spark, sf_dir):
    """The HLL cube must run BOTH tiers as partial->final object-hash
    aggregates (map-side sketch building / merging — the property that
    makes the pattern shuffle-light at 100 TB): sketch build keyed by
    (type, day), union keyed by type, each with a partial_ twin, and
    nothing in Python."""
    plan = plan_of(spark, sf_dir, "events_hll_users_by_type")
    assert plan.count("ObjectHashAggregate") >= 4, plan  # 2 tiers x partial+final
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan
    assert "EvalPython" not in plan, plan


def test_heavy_hitters_threshold_broadcast(spark, sf_dir):
    """events_heavy_hitters' scalar total must reach the filter as a
    1-row broadcast (never a shuffle of the counted side), and — because
    the total is computed from the REDUCED per-user frame, not a second
    fact scan — AQE must stitch the two branches onto ONE exchange at
    runtime (ReusedExchange in the adaptive final plan)."""
    plan = plan_of(spark, sf_dir, "events_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" not in plan  # no LIMIT: full sort is the contract
    assert "EvalPython" not in plan, plan
    df = queries()["events_heavy_hitters"](spark, sf_dir)
    df.collect()  # AQE finalizes reuse only at runtime
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_heavy_hitters_mg_bounded_shuffle(spark, sf_dir):
    """The MG summary must shuffle ONLY the per-partition summaries
    (<= MG_K rows each): one MapInPandas stage, then the merge agg's
    exchange, then TakeOrderedAndProject for the final top-k — no
    full-width exchange of the raw items."""
    plan = plan_of(spark, sf_dir, "events_heavy_hitters_mg")
    assert "MapInPandas" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    import re as _re

    # every hash exchange must sit ABOVE the MapInPandas node (i.e. carry
    # the summary schema item/weight), never the raw events scan
    for m in _re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert m.group(1).startswith("item"), m.group(0)


def test_gram_shuffle_carries_only_cells(spark, sf_dir):
    """embedding_gram_int8's exchange must carry (i, j) cell partials —
    d(d+1)/2 rows per partition — never the vectors: one MapInPandas
    stage below, and every hash exchange keyed on the cell coordinates."""
    plan = plan_of(spark, sf_dir, "embedding_gram_int8")
    assert "MapInPandas" in plan, plan
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert m.group(1).startswith("i"), m.group(0)


def test_trailing_range_window_single_exchange(spark, sf_dir):
    """The RANGE-frame trailing-hour window must ride ONE user_id hash
    exchange (the frame is a single ordered pass per partition — never a
    self-join against the trailing interval), stay JVM-side, and carry
    a real Window node with a range frame."""
    plan = plan_of(spark, sf_dir, "events_user_trailing_hour")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1 and "user_id" in ex[0], ex
    assert "RangeFrame" in plan, plan


@pytest.mark.parametrize(
    "name", ["events_quality_report", "doc_quality_report"]
)
def test_quality_reports_single_scan(spark, sf_dir, name):
    """The constraint report is ONE scan: every conditional count rides
    the same pass (the only replication is the Expand the multi-distinct
    uniqueness check needs), output is one row, and nothing is Python."""
    plan = plan_of(spark, sf_dir, name)
    assert plan.count("FileScan parquet") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_bloom_pruned_join_shape(spark, sf_dir):
    """The Bloom pre-filter must sit on the fact side as pure codegen
    (literal bitmap + element_at/shift bit tests) BEFORE the broadcast
    semi-join — the fact is never broadcast and never shuffled ahead of
    the per-user aggregate, and nothing is Python."""
    plan = plan_of(spark, sf_dir, "events_bloom_pruned_join")
    assert "EvalPython" not in plan, plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi, BuildRight", plan), plan
    join_at = plan.index("LeftSemi")
    filt_at = plan.index("element_at(")
    # plan prints top-down: the Filter (deeper) appears after the join
    # node, on the streamed (fact) input — i.e. the bit tests are inside
    # the scan stage, not applied post-join
    assert filt_at > join_at, plan
    # exactly one exchange pair for the agg + the presentation sort
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1 and "user_id" in ex[0], ex


BEHAVIOR_SINGLE_SCAN = [
    "events_cohort_retention",
    "events_type_transitions",
    "events_top_paths",
    "events_debounce",
    "events_value_mad",
]


@pytest.mark.parametrize("name", BEHAVIOR_SINGLE_SCAN)
def test_behavior_ops_single_fact_scan(spark, sf_dir, name):
    """Each behavior operator's final plan reads the events table ONCE
    (cohort retention's single-scan claim, the lag/window family's one
    exchange, value_mad's checkpointed med/mad frames) and stays fully
    JVM-side."""
    plan = plan_of(spark, sf_dir, name)
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1, (name, scans)
    assert "Python" not in plan, name


def test_rfm_scoring_is_windowless_and_reuses_exchange(spark, sf_dir):
    """The RFM scorer must contain NO window node (boundary-bucketing
    against broadcast percentile scalars replaces the global NTILE sort
    — the whole scale point), and at runtime AQE must reuse the
    per-customer aggregate's exchange rather than re-scanning orders
    for the bounds pass."""
    from app_fastdata_spark.catalog import queries

    df = queries()["customer_rfm_segments"](spark, sf_dir)
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in initial
    assert "BroadcastNestedLoopJoin" in initial  # scalar bounds crossJoin
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_abc_window_runs_over_aggregate_not_facts(spark, sf_dir):
    """The ABC running-share window is a SinglePartition exchange — but
    its input must be the per-customer HashAggregate (dim-sized), never
    the raw orders scan: the Window node sits strictly downstream of
    the aggregate in the plan tree."""
    plan = plan_of(spark, sf_dir, "customer_revenue_abc")
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    # the window's subtree (greater indentation below it) must contain
    # the aggregate before any file scan
    agg = next(
        i for i, l in enumerate(lines) if i > win and "HashAggregate" in l
    )
    scan = next(i for i, l in enumerate(lines) if i > win and "FileScan" in l)
    assert agg < scan, plan


def test_upsert_merge_plan_shape(spark, sf_dir):
    """MERGE lowers to ONE scan and ONE aggregation pass (r13): the
    base/delta "latest row per user" sides are conditional struct-max
    aggregates over the same scan, with map-side partial agg collapsing
    each user to <=2 structs before the single hash exchange — no join,
    no window, no second scan."""
    plan = plan_of(spark, sf_dir, "events_upsert_merge")
    assert "Join" not in plan
    assert "WindowGroupLimit" not in plan and "Window" not in plan
    assert len([l for l in plan.splitlines() if "Scan parquet" in l]) == 1
    assert "partial_max(CASE WHEN" in plan  # map-side pre-collapse
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_windowed_one_exchange_one_scan(spark, sf_dir):
    """The windowed funnel reads the facts once and shuffles once — the
    two prefix-frame window passes chain on the same user_id exchange
    (no re-shuffle between them, no self-join back to the facts)."""
    plan = plan_of(spark, sf_dir, "events_funnel_windowed")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_key_skew_gini_single_scan(spark, sf_dir):
    """Gini reduces the facts with ONE user_id hash-agg; every window
    runs over the key-sized aggregate."""
    plan = plan_of(spark, sf_dir, "events_key_skew_gini")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_sliding_incremental_three_pruned_scans(spark, sf_dir):
    """The slide maintenance reads exactly three time-pruned scans (old
    window, expired day, arrived day) and merges the key-sized
    aggregates with two full-outer joins — the facts never join."""
    plan = plan_of(spark, sf_dir, "events_by_src_sliding_incremental")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 3
    # each scan carries its window's ts predicate down to the reader
    # (raw-long ns comparison or pushed timestamp filter)
    import re as _re

    assert all(
        _re.search(r"ts#\d+L? [<>]", s) or "GreaterThanOrEqual(ts" in s
        for s in scans
    ), scans
    assert plan.count("FullOuter") == 2
    assert "Python" not in plan


def test_sliding_distinct_bounded_explode_then_distinct(spark, sf_dir):
    """Sliding distinct = (user, day) dedup, bounded 7-way explode,
    two-tier distinct agg — no window functions, no joins beyond the
    1-row bounds broadcast."""
    plan = plan_of(spark, sf_dir, "events_sliding_distinct_users")
    assert "Generate explode" in plan
    assert plan.count("FileScan") <= 2
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_survivor_broadcast_size_gate(spark, sf_dir):
    """The survivor joins must broadcast only under the edge-count gate:
    below it the loser/member sides are broadcast (corpus never
    shuffles); above it — the dirty-crawl case where dup-family
    membership rivals the corpus — the same joins plan as shuffle
    joins. Results must be identical on both paths (the gate is a
    physical-strategy switch, never a semantics switch)."""
    from app_fastdata_spark.operators.dedup import (
        dedup_survivors,
        dedup_survivors_best_quality,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable Catalyst's own size-estimate broadcasting so the ONLY
    # broadcast in the plan is the one the gate decides to hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (dedup_survivors, dedup_survivors_best_quality):
            small = fn(spark, sf_dir)
            bplan = small._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in bplan, bplan
            big = fn(spark, sf_dir, broadcast_max_edges=-1)
            splan = big._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in splan, splan
            assert "SortMergeJoin" in splan or "ShuffledHashJoin" in splan, splan
            got_b = sorted(tuple(r) for r in small.collect())
            got_s = sorted(tuple(r) for r in big.collect())
            assert got_b == got_s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_window_outputs_are_driver_canonicalizable(spark, sf_dir):
    """Every query in the 50-slot driver window must emit only scalar
    (atomic) columns: the driver's pandas canonicalizer factorizes cell
    values and dies on list/dict cells (the r7 embedding_pca_project
    err row). Complex types stay internal; registered outputs flatten."""
    from pyspark.sql import types as T

    from app_fastdata_spark.catalog import DRIVER_PRIORITY, queries

    qs = queries()
    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name in DRIVER_PRIORITY:
        schema = qs[name](spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, complex_types):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def test_plans_md_normalization_deterministic(spark, sf_dir):
    """PLANS.md regen determinism gate (r8 verdict #3): a no-op
    regeneration must produce an EMPTY diff, which reduces to — the
    normalized formatted plan of a query must not depend on what was
    planned before it. Catalyst expression ids, plan/cte ids, RDD ids,
    and HOF lambda-variable counters are all session-global counters;
    building the same queries in a DIFFERENT ORDER perturbs every one
    of them, so normalize(explain(q)) must be order-invariant. The
    sample spans the counter classes: HOF lambdas (sim_topk_cosine),
    mapInPandas/Arrow (embedding_gram_int8), multi-CTE + distinct agg
    (tpch_q16), window frames (asof_last_purchase), and a
    grouping-sets Expand (events_grouping_sets)."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.explain_all import _normalize

    names = [
        "sim_topk_cosine",
        "embedding_gram_int8",
        "tpch_q16_supplier_cnt",
        "asof_last_purchase",
        "events_grouping_sets",
    ]
    qs = queries()

    def formatted(n: str) -> str:
        df = qs[n](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    first = {n: _normalize(formatted(n)) for n in names}
    second = {n: _normalize(formatted(n)) for n in reversed(names)}
    for n in names:
        assert first[n] == second[n], (
            f"{n}: normalized plan depends on planning order\n"
            + "\n".join(
                a if a == b else f"A: {a}\nB: {b}"
                for a, b in zip(
                    first[n].splitlines(), second[n].splitlines()
                )
                if a != b
            )[:2000]
        )


def test_zorder_box_enumeration_exact_for_random_boxes(spark, sf_dir, tmp_path):
    """zcells_for_box completeness fuzz: for 25 seeded random 2-D boxes
    (including degenerate lo==hi stripes, full-range, and near-empty
    boxes), the cell-pruned read must return EXACTLY the direct
    filter's rows — a missed z-cell would lose rows silently, the worst
    failure class a layout optimization can have."""
    import random

    from pyspark.sql import functions as F

    from app_fastdata_spark.plans import zorder as Z
    from app_fastdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_zfuzz")
    Z.write_zordered(ev, out)
    zdf = spark.read.parquet(out).cache()
    sec = F.expr("(unix_micros(ts) div 1000000) % 65536")
    row = ev.agg(
        F.min(sec).alias("slo"), F.max(sec).alias("shi")
    ).first()
    slo_all, shi_all = int(row.slo), int(row.shi)

    rng = random.Random(909)
    boxes = [
        (0, 65535, slo_all, shi_all),               # full range
        (7, 7, slo_all, shi_all),                   # 1-wide user stripe
        (0, 65535, slo_all, slo_all),               # 1-wide time stripe
    ]
    for _ in range(22):
        a, b = sorted(rng.randrange(65536) for _ in range(2))
        c, d = sorted(rng.randrange(slo_all, shi_all + 1) for _ in range(2))
        boxes.append((a, b, c, d))

    for ulo, uhi, tlo, thi in boxes:
        cells = Z.zcells_for_box(ulo, uhi, tlo, thi)
        pred = (
            (F.col("user_id") % 65536).between(ulo, uhi)
            & sec.between(tlo, thi)
        )
        got = sorted(
            r.event_id
            for r in zdf.filter(F.col("zcell").isin(cells) & pred)
            .select("event_id")
            .collect()
        )
        want = sorted(
            r.event_id for r in ev.filter(pred).select("event_id").collect()
        )
        assert got == want, (ulo, uhi, tlo, thi, len(cells))
    zdf.unpersist(blocking=False)


def test_knn_graph_plan_bucketed_no_cartesian(spark, sf_dir):
    """The kNN-graph constructor must stay on the IVF scale path: the
    only joins are the cell_id equi-join (probe x assign) — never a
    CartesianProduct / BroadcastNestedLoop all-pairs — and the only
    Python stages are the two centroid-assignment GEMM projections
    (refine scoring is pure codegen fold arithmetic)."""
    plan = plan_of(spark, sf_dir, "sim_knn_graph")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # Catalyst evaluates a Python UDF expression once per plan
    # reference, so the two assignment-GEMM instances plan as 3 Arrow
    # stages here (the sibling sim_ann_ivf plans 4) — the gate pins
    # "no worse than the established IVF family shape", and any
    # regression to per-pair Python scoring would blow well past it.
    assert plan.count("ArrowEvalPython") <= 3, plan
    mutual = plan_of(spark, sf_dir, "sim_mutual_knn_clusters")
    # the mutuality self-join reads the CHECKPOINTED kNN edges — the IVF
    # pipeline must not appear twice (a second ArrowEvalPython pair
    # would mean the checkpoint was lost and the GEMM re-runs per side)
    assert mutual.count("ArrowEvalPython") == 0, mutual
    assert "CartesianProduct" not in mutual, mutual


def test_pq_plan_one_decode_stage_broadcast_queries(spark, sf_dir):
    """sim_ann_pq's scale contract in the physical plan: the decoded
    candidate side reads the materialized PQ index (r13: ZERO Arrow
    stages in the query plan — the one fused encode/decode projection
    runs at index-build time, once per session/data stamp), the query
    side joins via BROADCAST nested-loop (Q = N_QUERIES rows, the
    sim_topk_cosine shape — a CartesianProduct would mean the broadcast
    hint was dropped and the N-side shuffles), and the decoded-candidate
    side never exchanges before the top-k window."""
    plan = plan_of(spark, sf_dir, "sim_ann_pq")
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the index BUILD (run through the session cache) is where the one
    # Arrow decode stage lives
    from app_fastdata_spark.operators.similarity import _pq_index_frame

    idx = _pq_index_frame(spark, sf_dir)
    assert idx.columns == ["vec_id", "dec", "dnrm"]


def test_ivfpq_plan_two_arrow_stages_equi_join(spark, sf_dir):
    """sim_ann_ivfpq stays on the composed scale path: the candidate
    side joins the materialized IVF and PQ indexes (r13: their
    assignment/decode Arrow stages run at index-build time, once per
    session/data stamp), so the query plan's ONLY Arrow stage is the
    probe-cells projection; joins are the vec_id/cell_id EQUI-joins
    (never a CartesianProduct / BroadcastNestedLoop all-pairs)."""
    plan = plan_of(spark, sf_dir, "sim_ann_ivfpq")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hd_graph_build_plan_bounded_no_cartesian(spark, sf_dir):
    """The high-degree build must stay on the bounded scale path end to
    end: the NN-descent candidate expansion is an EQUI self-join of the
    edge list on the shared endpoint (never a CartesianProduct /
    BroadcastNestedLoop all-pairs), the exact re-score joins the corpus
    twice by vec_id equi-keys, and Python appears only in the seed
    build's centroid-assignment GEMM stages (the sim_knn_graph shape) —
    the refinement round itself is pure codegen fold arithmetic."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.operators import similarity as S

    emb = S.load_vectors(spark, sf_dir, nonzero=True)
    en = emb.select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    bc = S._centroid_broadcast(spark, sf_dir)
    seed = S._knn_graph_frame(emb, bc, k=S.HD_KNN_K).select(
        "vec_id", "neighbor_id"
    )
    plan = (
        S._nnd_round_frame(seed, en, S.HD_KNN_K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("ArrowEvalPython") <= 3, plan


def test_scd2_single_window_exchange(spark, sf_dir):
    """SCD2's three windows chain on ONE user_id exchange (r13): the
    per-day mode is the first row of each day-block under the
    (day, n DESC, event_type) sort, so no (user_id, day) re-shuffle and
    no second window sort exist — 2 hash exchanges total (the daily
    aggregate + the shared window exchange), one window-feeding sort."""
    plan = plan_of(spark, sf_dir, "user_type_scd2")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "WindowGroupLimit" not in plan, plan
    assert "Join" not in plan, plan


def test_q3_broadcast_side_prereduced(spark, sf_dir):
    """Q3's fact side probes ONE pre-reduced broadcast (r13): the
    BUILDING-customer join runs INSIDE the broadcast build side
    (orders x custkeys), so lineitem passes a single BHJ and the only
    hash exchange is the revenue aggregate's."""
    import re as _re

    plan = plan_of(spark, sf_dir, "tpch_q3_top_orders")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the dim-x-dim join is the broadcast BUILD, not a fact-path join
    assert _re.search(
        r"BroadcastExchange[\s\S]{0,500}?BroadcastHashJoin", plan
    ), plan


def test_quality_confusion_single_pass(spark, sf_dir):
    """The confusion report is ONE fused projection over ONE corpus scan
    (r13): both labels derive from the same token array per row — no
    doc_id self-join, no second tokenize pass, no Python nodes."""
    plan = plan_of(spark, sf_dir, "doc_quality_confusion")
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert "Python" not in plan, plan


def test_sliding_distinct_bounds_not_recomputed(spark, sf_dir):
    """The day-bounds clip must stay a plain min/max over the raw
    filtered scan — never a re-execution of the (user, day) dedup.
    Today this holds twice over: the source derives bounds from the raw
    rows explicitly (r13), and Catalyst's RemoveRedundantAggregates
    would rewrite a min/max-over-the-dedup the same way (verified: the
    two forms plan bit-identically modulo expression IDs). The gate
    pins the property against either layer regressing: exactly one
    distinct-shaped dedup (3 hash exchanges: pair dedup, count-distinct
    expand, anchor aggregate) and two scans."""
    plan = plan_of(spark, sf_dir, "events_sliding_distinct_users")
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("FileScan") == 2, plan
