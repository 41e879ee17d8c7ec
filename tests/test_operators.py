"""Semantic unit tests for operators whose guarantees go beyond the
DuckDB oracle comparison (LSH recall properties, kmeans determinism,
model-swap behavior, entry smoke).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["src", "counts"]


def test_contract_shape(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) >= 30
    assert set(os_) <= set(qs)


def test_minhash_lsh_superset_of_exact_near_dups(spark, sf_dir):
    """LSH candidates must contain every pair with true Jaccard ≥ 0.9 —
    the b=8, r=2 S-curve catches those with P ≈ 1-2e-6, and the check is
    deterministic (fixed hash family)."""
    from app_fastdata_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard

    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    assert exact, "testdata should contain at least one true near-dup pair"
    cand = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert exact <= cand


def test_simhash_pairs_have_low_hamming(spark, sf_dir):
    from app_fastdata_spark.operators.dedup import HAMMING_MAX, dedup_simhash

    for r in dedup_simhash(spark, sf_dir).collect():
        assert r.hamming <= HAMMING_MAX


def test_kmeans_deterministic_and_rounded(spark, sf_dir):
    from app_fastdata_spark.ml.kmeans import K, train_centers
    from app_fastdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    c1 = [tuple(r) for r in train_centers(ev).collect()]
    c2 = [tuple(r) for r in train_centers(ev).collect()]
    assert c1 == c2  # fixed seed ⇒ deterministic
    assert len(c1) == K
    assert all(isinstance(r[1], int) and isinstance(r[2], int) for r in c1)


def test_model_swap_atomic_overwrite(spark, sf_dir, tmp_path):
    """ST7: scoring picks up the swapped model (two-phase swap collapsed
    to an atomic overwrite, db/ddl.sql:23-43)."""
    from app_fastdata_spark.ml.kmeans import swap_model
    from app_fastdata_spark.tables import load_table

    path = str(tmp_path / "clusters")
    m1 = spark.createDataFrame([(0, 10, 100), (1, 50, 300)], "id int, cu int, cv int")
    swap_model(m1, path)
    assert spark.read.parquet(path).count() == 2
    m2 = spark.createDataFrame([(0, 99, 999)], "id int, cu int, cv int")
    swap_model(m2, path)
    got = [tuple(r) for r in spark.read.parquet(path).collect()]
    assert got == [(0, 99, 999)]  # old model fully gone


def test_nearest_centroid_in_range(spark, sf_dir):
    from app_fastdata_spark.dims import CLUSTERS
    from app_fastdata_spark.operators.enrich import nearest_centroid

    df = nearest_centroid(spark, sf_dir)
    mm = df.agg(
        F.min("cluster").alias("lo"), F.max("cluster").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert 0 <= mm.lo and mm.hi < len(CLUSTERS) and mm.n > 0


def test_session_starts_obey_gap(spark, sf_dir):
    """No two session-start rows for the same (src, dest) closer than the
    gap — the defining invariant of ST2."""
    from app_fastdata_spark.operators.sessions import session_starts
    from app_fastdata_spark.params import SESSION_GAP_SECONDS

    rows = session_starts(spark, sf_dir).collect()
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.src, r.dest), []).append(r.ts)
    for tss in by_key.values():
        tss.sort()
        for a, b in zip(tss, tss[1:]):
            assert (b - a).total_seconds() > SESSION_GAP_SECONDS


def test_retention_semantics(spark, sf_dir):
    """Hot view never serves events older than the cutoff (ST5)."""
    from app_fastdata_spark.operators.retention import retention_survivors_by_src
    from app_fastdata_spark.params import RETENTION_CUTOFF
    from app_fastdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    live = ev.filter(F.col("ts") > F.lit(RETENTION_CUTOFF).cast("timestamp"))
    total = retention_survivors_by_src(spark, sf_dir).agg(F.sum("n_live")).collect()[0][0]
    assert total == live.count()


def test_storage_retention_partition_drop(spark, sf_dir, tmp_path):
    """ST5 at the storage level: after the drop, the hot store serves no
    event older than the cutoff and every newer event survives."""
    from app_fastdata_spark.operators.retention import (
        drop_expired_partitions,
        write_time_partitioned,
    )
    from app_fastdata_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "hot_events")
    write_time_partitioned(ev, path)
    cutoff = "2024-01-15"
    want_live = ev.filter(F.to_date("ts") >= F.lit(cutoff)).count()
    dropped = drop_expired_partitions(spark, path, cutoff)
    assert dropped > 0
    live = spark.read.parquet(path)
    assert live.count() == want_live
    # partition col is read back as date — compare as string
    assert str(live.agg(F.min("day")).collect()[0][0]) >= cutoff


def test_kmeans_udtf_deterministic(spark, sf_dir):
    """W2/U6: the applyInPandas whole-relation k-means — 20 rounded-int
    centers, identical across runs (no RNG)."""
    from app_fastdata_spark.ml.kmeans_udtf import kmeans_centers_udtf

    a = kmeans_centers_udtf(spark, sf_dir).collect()
    b = kmeans_centers_udtf(spark, sf_dir).collect()
    assert a == b
    assert len(a) == 20
    assert [r.id for r in a] == list(range(20))
    assert all(isinstance(r.cu, int) and isinstance(r.cv, int) for r in a)


def test_multimodal_extract_features_vector_contract(spark, sf_dir):
    """The feature-extract stage emits a dense float16-dim vector per doc
    (Arrow-batched) whose scalars agree with the vector itself."""
    import math

    from app_fastdata_spark.operators.multimodal import (
        extract_features,
        with_binary_payload,
    )
    from app_fastdata_spark.tables import load_table

    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    out = extract_features(docs).limit(20).collect()
    assert out
    for r in out:
        assert len(r.embedding) == r.dim == 16
        assert all(0.0 <= x <= 1.0 for x in r.embedding)
        assert abs(math.sqrt(sum(x * x for x in r.embedding)) - r.l2_norm) < 1e-4


def test_empty_model_yields_null_clusters(spark, sf_dir):
    """Reference semantics: cluster stays NULL while the model table is
    empty (db/ddl.sql:71, NewEvent.java:62-69 argmin over zero rows)."""
    from app_fastdata_spark.operators.enrich import with_cluster
    from app_fastdata_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = with_cluster(ev, centers=[])
    assert out.filter(F.col("cluster").isNotNull()).count() == 0
    assert dict(out.dtypes)["cluster"] == "int"


def test_lsh_planted_near_dups_collide(spark, tmp_path):
    """Random-hyperplane LSH recall, end-to-end on the production path:
    a planted near-duplicate (cosine >= 0.99) of each query vector must
    come back as its rank-1 neighbor — i.e. it collided in at least one
    band and survived the exact re-rank."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import N_QUERIES, sim_ann_lsh

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    dups = base[:N_QUERIES] + 0.02 * rng.normal(size=(N_QUERIES, 64))
    cos = (base[:N_QUERIES] * dups).sum(1) / (
        np.linalg.norm(base[:N_QUERIES], axis=1) * np.linalg.norm(dups, axis=1)
    )
    near = [i for i in range(N_QUERIES) if cos[i] >= 0.99]
    assert len(near) >= 15  # the perturbation scale keeps most pairs near

    rows = [(i, base[i].astype(np.float32).tolist(), None) for i in range(200)]
    rows += [
        (1000 + i, dups[i].astype(np.float32).tolist(), None)
        for i in range(N_QUERIES)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "planted")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    top1 = {
        r.query_id: r.neighbor_id
        for r in sim_ann_lsh(spark, d).collect()
        if r.rank == 1
    }
    missed = [i for i in near if top1.get(i) != 1000 + i]
    assert len(missed) <= max(1, len(near) // 10), (missed, len(near))


def test_stratified_sample_properties(spark, sf_dir):
    """Deterministic for fixed seed; keeps full-fraction strata intact;
    samples partial strata to within a tolerance of the target fraction."""
    from app_fastdata_spark.operators.stats import (
        SAMPLE_FRACTIONS,
        doc_stratified_sample,
    )
    from app_fastdata_spark.tables import load_table

    got1 = {r.doc_id for r in doc_stratified_sample(spark, sf_dir).collect()}
    got2 = {r.doc_id for r in doc_stratified_sample(spark, sf_dir).collect()}
    assert got1 == got2  # seeded determinism

    docs = load_table(spark, sf_dir, "documents")
    base = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    samp = {
        r.lang: r.n
        for r in doc_stratified_sample(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, frac in SAMPLE_FRACTIONS.items():
        if lang not in base:
            continue
        if frac == 1.0:
            assert samp.get(lang, 0) == base[lang], lang
        else:
            got_frac = samp.get(lang, 0) / base[lang]
            assert abs(got_frac - frac) < 0.15, (lang, got_frac, frac)


def test_approx_stats_error_bounds(spark, sf_dir):
    """HLL distinct counts within 3×rsd of exact; sketch percentiles
    bracketed by exact neighboring quantiles."""
    from app_fastdata_spark.operators.stats import events_approx_stats
    from app_fastdata_spark.tables import load_table

    approx = {r.event_type: r for r in events_approx_stats(spark, sf_dir).collect()}
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.expr("percentile(value, 0.4)").alias("p40"),
            F.expr("percentile(value, 0.6)").alias("p60"),
            F.expr("percentile(value, 0.98)").alias("p98"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    for et, a in approx.items():
        e = exact[et]
        assert abs(a.n_users_approx - e.n_users) <= max(2, 0.06 * e.n_users), et
        assert e.p40 <= a.p50_value_approx <= e.p60, et
        assert e.p98 <= a.p99_value_approx <= e.vmax, et
    # the registered hash-checkable twin reports the same exact distincts
    from app_fastdata_spark.operators.stats import events_approx_stats_exact

    twin = {
        r.event_type: r
        for r in events_approx_stats_exact(spark, sf_dir).collect()
    }
    assert set(twin) == set(exact)
    for et, t in twin.items():
        assert t.n_users == exact[et].n_users, et


def test_connected_components_long_chain(spark):
    """Both execution paths agree on a 200-node path graph (diameter
    200): the driver union-find (default for small edge sets) and the
    distributed pointer-jumping loop (forced via local_max_edges=0),
    which converges well inside MAX_CC_ITERS=50 — pure min-propagation
    would need 200 rounds and raise. Also checks two disjoint
    components."""
    from app_fastdata_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(200)]          # component min = 0
    island = [(1000, 1001), (1001, 1002)]             # component min = 1000
    pairs = spark.createDataFrame(chain + island, "doc_a long, doc_b long")
    for forced_max in (None, 0):
        stats: dict = {}
        kw = {"local_max_edges": forced_max} if forced_max is not None else {}
        got = {
            r.u: r.component
            for r in connected_components(pairs, stats_out=stats, **kw).collect()
        }
        assert stats["mode"] == ("distributed" if forced_max == 0 else "local")
        assert all(got[i] == 0 for i in range(201))
        assert all(got[i] == 1000 for i in (1000, 1001, 1002))


def test_capped_jaccard_is_lower_bound_subset(spark, sf_dir):
    """The skew-capped variant returns a subset of the exact pairs, each
    with a score <= the true Jaccard (missed shared shingles only)."""
    from app_fastdata_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_ngram_jaccard_capped,
    )

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard_lb
        for r in dedup_ngram_jaccard_capped(spark, sf_dir).collect()
    }
    assert set(capped) <= set(full)
    assert all(capped[k] <= full[k] + 1e-9 for k in capped)
    assert len(capped) >= 0.9 * len(full)  # cap loses only stop-shingle-only pairs


def test_bucketed_embedding_neardup_recall_on_planted_dups(spark, tmp_path):
    """The synthetic embeddings have no true near-dups (max cosine ~0.5),
    so the registered query is a trivial 0=0 match. This plants real
    near-duplicates (base + tiny noise → cos ≈ 0.999) and checks the
    bucketed IVF-cell path recovers them: subset of the exact anchor,
    recall pinned, and nothing below threshold."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import (
        NEAR_DUP_COSINE,
        dedup_embedding_cosine,
        dedup_embedding_cosine_bucketed,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 64)).astype(np.float32)
    rows = [(i, base[i].tolist(), None) for i in range(300)]
    # 30 planted near-dups of vectors 0..29 (ids 300..329)
    for i in range(30):
        noisy = base[i] + rng.normal(scale=0.02, size=64).astype(np.float32)
        rows.append((300 + i, noisy.astype(np.float32).tolist(), None))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "planted")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    exact = {
        (r.vec_a, r.vec_b): r.cos for r in dedup_embedding_cosine(spark, d).collect()
    }
    buck = {
        (r.vec_a, r.vec_b): r.cos
        for r in dedup_embedding_cosine_bucketed(spark, d).collect()
    }
    planted = {(i, 300 + i) for i in range(30)}
    assert planted <= set(exact)
    assert set(buck) <= set(exact)
    assert all(c >= NEAR_DUP_COSINE for c in buck.values())
    # near-identical vectors share their nearest cells: expect full recall
    assert len(set(buck) & planted) >= 28


def test_knn_graph_planted_dups_are_mutual_rank1(spark, tmp_path):
    """The kNN-graph constructor on planted near-identical pairs: each
    planted copy (cos ≈ 0.999 to its base) must be its base's rank-1
    neighbor AND vice versa (near-identical vectors share nearest
    cells, so the IVF probe cannot miss them), ranks are contiguous
    1..K per vector, and every cosine is a valid [-1, 1] value."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import KNN_K, sim_knn_graph

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 64)).astype(np.float32)
    rows = [(i, base[i].tolist(), None) for i in range(200)]
    for i in range(20):
        noisy = base[i] + rng.normal(scale=0.02, size=64).astype(np.float32)
        rows.append((200 + i, noisy.astype(np.float32).tolist(), None))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "planted")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    out = sim_knn_graph(spark, d).collect()
    by_vec: dict = {}
    for r in out:
        by_vec.setdefault(r.vec_id, {})[r.rank] = r.neighbor_id
        assert -1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9
    for vid, ranks in by_vec.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), vid
        assert len(ranks) <= KNN_K
    mutual = sum(
        1
        for i in range(20)
        if by_vec.get(i, {}).get(1) == 200 + i
        and by_vec.get(200 + i, {}).get(1) == i
    )
    assert mutual >= 18  # near-identical pairs are mutual rank-1


def test_size_based_retention_partition_drop(spark, sf_dir, tmp_path):
    """DeleteOldestToTarget at the storage level: oldest day-partitions
    drop until the row count reaches the target; days are never split,
    so the final count may undershoot but survivors are exactly the
    newest whole days."""
    from app_fastdata_spark.operators.retention import (
        drop_oldest_partitions_to_target,
        write_time_partitioned,
    )
    from app_fastdata_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    target = total // 2
    path = str(tmp_path / "hot_events")
    write_time_partitioned(ev, path)
    n_days = ev.select(F.to_date("ts").alias("d")).distinct().count()
    dropped = drop_oldest_partitions_to_target(spark, path, target)
    assert 0 < dropped < n_days
    live = spark.read.parquet(path)
    n_live = live.count()
    assert n_live <= target
    # survivors are a suffix of the day sequence: every surviving row is
    # newer than every dropped day
    min_live_day = str(live.agg(F.min("day")).collect()[0][0])
    dropped_days = sorted(
        str(r.d) for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )[:dropped]
    assert all(d < min_live_day for d in dropped_days)
    # progress guarantee: dropping stopped at the first day that reached
    # the target, so keeping one more day would have exceeded it
    prev_day_rows = ev.filter(F.to_date("ts") == F.lit(dropped_days[-1])).count()
    assert n_live + prev_day_rows > target


def test_recency_is_timezone_independent(spark, sf_dir):
    """A harness that re-pins a non-UTC session timezone AFTER the
    DataFrames are built must not shift results: recency cutoffs are
    epoch literals (tz-independent even if the override sticks), and a
    rebuild through load_table re-pins UTC, so date-literal casts (the
    TPC-H filters) parse identically to the oracle too."""
    from app_fastdata_spark.operators.serving import top_users
    from app_fastdata_spark.operators.tpch import tpch_q6_forecast_revenue

    base = [(r.src, r.counts) for r in top_users(spark, sf_dir).collect()]
    assert base  # window is non-empty at every SF
    base_rev = tpch_q6_forecast_revenue(spark, sf_dir).collect()[0].revenue
    df = top_users(spark, sf_dir)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = [(r.src, r.counts) for r in df.collect()]
        # registered (memoized) rebuilds serve the plan ANALYZED under
        # the UTC pin — results stay tz-stable even though a memo hit
        # runs no load_table and so does not itself re-pin the session
        rebuilt = [(r.src, r.counts) for r in top_users(spark, sf_dir).collect()]
        rebuilt_rev = tpch_q6_forecast_revenue(spark, sf_dir).collect()[0].revenue
        # a FRESH build through load_table restores the UTC pin (what
        # any non-memo-hit build path does)
        top_users.__wrapped__(spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert shifted == base
    assert rebuilt == base
    assert rebuilt_rev == base_rev


def test_pandas_shingler_matches_jvm_shingler(spark, sf_dir):
    """The vectorized Pandas shingler must produce exactly the JVM HOF
    form's shingle sets — guards the normalization parity chain (space-
    only trim, ASCII \\s+, first-occurrence distinct)."""
    from app_fastdata_spark.operators.dedup import doc_shingles, doc_shingles_jvm

    fast = {r.doc_id: sorted(r.shingles) for r in doc_shingles(spark, sf_dir).collect()}
    jvm = {r.doc_id: sorted(r.shingles) for r in doc_shingles_jvm(spark, sf_dir).collect()}
    assert fast == jvm


def test_capped_jaccard_survives_stop_shingle_skew(spark, tmp_path):
    """The 100 TB skew guarantee: a stop-shingle shared by EVERY document
    must not produce a k^2 pair bomb — the capped variant drops the hot
    bucket before pair generation, still finds true near-dups through
    their rare shingles, and never emits a pair whose only overlap is the
    stop-shingle."""
    import time

    from app_fastdata_spark.operators.dedup import (
        STOP_SHINGLE_CAP,
        dedup_ngram_jaccard_capped,
    )

    n = 4000
    stop = "the quick fox"  # one 3-gram shared by all docs
    rows = []
    for i in range(n):
        # unique filler so docs share nothing except the stop shingle
        filler = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"{stop} {filler}", None, None, None))
    # 20 true near-dup pairs: same filler, one token changed
    for i in range(20):
        filler = " ".join(f"w{i}x{j}" for j in range(11)) + " zz"
        rows.append((10_000 + i, f"{stop} {filler}", None, None, None))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "skewdocs")
    df.coalesce(4).write.parquet(f"{d}/documents.parquet")

    t0 = time.time()
    pairs = dedup_ngram_jaccard_capped(spark, d).collect()
    elapsed = time.time() - t0
    # the hot bucket (4020 docs) would alone emit ~8M pairs; capped must
    # finish in bounded time with only rare-shingle pairs
    assert elapsed < 60, elapsed
    got = {(r.doc_a, r.doc_b) for r in pairs}
    planted = {(i, 10_000 + i) for i in range(20)}
    assert planted <= got, planted - got
    # every emitted pair shares at least one RARE shingle: the stop-only
    # combinations (i, j) for unrelated i, j must be absent
    unrelated = [(i, j) for i in range(100, 110) for j in range(200, 210)]
    assert not (got & set(unrelated))


def test_components_chain_rides_capped_source(spark, tmp_path):
    """dedup_components/survivors default to the CAPPED pair source, so the
    clustering chain inherits the stop-shingle skew guarantee: a shingle
    shared by every doc must not blow up the chain, and planted near-dups
    still cluster (and are deduped to one survivor per cluster)."""
    from app_fastdata_spark.operators.dedup import (
        STOP_SHINGLE_CAP,
        dedup_components,
        dedup_ngram_jaccard_capped,
        dedup_survivors,
    )

    n = 1200
    stop = "the quick fox"
    rows = []
    for i in range(n):
        filler = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"{stop} {filler}", "en", "s", 60))
    for i in range(10):
        filler = " ".join(f"w{i}x{j}" for j in range(11)) + " zz"
        rows.append((10_000 + i, f"{stop} {filler}", "en", "s", 60))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "skewdocs_cc")
    df.coalesce(4).write.parquet(f"{d}/documents.parquet")

    # Structural skew gate (not wall-clock, which flakes on loaded
    # hosts): the chain's default pair source must carry the bucket-size
    # cap in its optimized plan, so the 1210-doc stop-shingle bucket is
    # dropped before pair emission rather than exploding into ~731k
    # candidate pairs.
    plan = (
        dedup_ngram_jaccard_capped(spark, d)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert f"<= {STOP_SHINGLE_CAP}" in plan, plan
    comp = {r.doc_id: r.component for r in dedup_components(spark, d).collect()}
    # each planted pair (i, 10_000+i) is one component rooted at i
    for i in range(10):
        assert comp.get(10_000 + i) == i, (i, comp.get(10_000 + i))
    surv = {r.doc_id for r in dedup_survivors(spark, d).collect()}
    # losers (the 10_000+i twins) are gone; all originals survive
    assert not any(10_000 + i in surv for i in range(10))
    assert all(i in surv for i in range(n))


def test_decode_payload_fallback_on_non_image_bytes():
    """Non-image bytes take the deterministic synthetic path regardless
    of whether a real decoder is installed — both paths share one output
    shape, so the environment never changes the mapInPandas schema."""
    from app_fastdata_spark.operators.multimodal import (
        _fake_decode,
        decode_payload,
    )

    payload = bytes.fromhex("0123456789abcdef" * 2)  # md5-shaped, not an image
    got = decode_payload(payload)
    assert got == _fake_decode(payload)
    byte_len, width, height, fmt = got
    assert byte_len == 16
    assert isinstance(width, int) and isinstance(height, int)
    assert isinstance(fmt, str)


def test_decode_payload_real_image_via_pil():
    """Skipped unless PIL ships in the image: a real PNG decodes to its
    true dimensions through the same decode_payload entry point."""
    import pytest

    pytest.importorskip("PIL.Image")
    import io

    from PIL import Image

    from app_fastdata_spark.operators.multimodal import decode_payload

    buf = io.BytesIO()
    Image.new("RGB", (37, 21)).save(buf, format="PNG")
    payload = buf.getvalue()
    byte_len, width, height, fmt = decode_payload(payload)
    assert (byte_len, width, height, fmt) == (len(payload), 37, 21, "png")


def test_session_memory_envelope_configs(spark):
    """Round-4 regression guard: the suite shares one cgroup with 32
    Python workers and DuckDB, so the session must keep the heap
    bounded (<=24g default) and the hygiene configs that return memory
    mid-suite (periodic GC, idle-worker kill). A config drift here
    re-opens the cumulative-OOM failure mode."""
    import os
    import re

    import pytest as _pytest

    from app_fastdata_spark.session import get_spark

    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        _pytest.skip("explicit driver-mem override in env")
    s = get_spark("envelope-check")
    mem = s.conf.get("spark.driver.memory")
    num = int(re.match(r"(\d+)g", mem).group(1))
    assert num <= 24, mem
    assert s.conf.get("spark.cleaner.periodicGC.interval") == "2min"
    assert s.conf.get("spark.python.worker.killOnIdleTimeout") == "true"
    assert "G1PeriodicGCInterval" in s.conf.get("spark.driver.extraJavaOptions")


def test_scrub_spans_removes_exactly_the_cut_list(spark, sf_dir):
    """Scrubber invariants: n_removed equals the token-count delta; docs
    with no duplicated span come back verbatim (modulo the lower/
    whitespace normalization the span index itself uses); docs WITH cuts
    lose at least one token per flagged position."""
    from app_fastdata_spark.operators.textops import (
        doc_dup_spans,
        doc_scrub_spans,
    )
    from app_fastdata_spark.tables import load_table

    import re as _re

    docs = {
        r.doc_id: _re.split(r"\s+", r.text.strip().lower())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    flagged = {}
    for r in doc_dup_spans(spark, sf_dir).collect():
        flagged.setdefault(r.doc_id, set()).add(r.pos)
    out = {r.doc_id: r for r in doc_scrub_spans(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    for doc_id, toks in docs.items():
        r = out[doc_id]
        clean = r.text_clean.split(" ") if r.text_clean else []
        assert len(toks) - len(clean) == r.n_removed
        if doc_id not in flagged:
            assert r.n_removed == 0 and clean == toks
        else:
            assert r.n_removed >= len(flagged[doc_id])


def test_best_quality_survivor_keeps_argmax_ttr(spark, tmp_path):
    """dedup_survivors_best_quality keeps the highest-ttr member of each
    near-dup family even when it has the HIGHER doc_id (where min-id
    selection would drop it); singletons always survive."""
    from app_fastdata_spark.operators.dedup import (
        dedup_survivors,
        dedup_survivors_best_quality,
    )

    rows = []
    for i in range(5):
        base = " ".join(f"f{i}w{j}" for j in range(8))
        # low-quality twin: repeated tokens depress ttr; id is SMALLER
        rows.append((i, f"{base} f{i}w0 f{i}w1", "en", "s", 60))
        # high-quality twin: same shingles plus a distinct tail token
        rows.append((1000 + i, f"{base} f{i}w0 f{i}w1 zz{i}", "en", "s", 64))
    # singletons, unrelated text
    for i in range(3):
        rows.append((2000 + i, " ".join(f"s{i}q{j}" for j in range(10)), "en", "s", 40))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "bq_docs")
    df.coalesce(2).write.parquet(f"{d}/documents.parquet")

    best = {r.doc_id for r in dedup_survivors_best_quality(spark, d).collect()}
    minid = {r.doc_id for r in dedup_survivors(spark, d).collect()}
    for i in range(5):
        assert 1000 + i in best and i not in best, (i, best)
        assert i in minid and 1000 + i not in minid, (i, minid)
    for i in range(3):
        assert 2000 + i in best and 2000 + i in minid
    assert len(best) == len(minid) == 8


def test_int8_ann_recall_vs_exact(spark, sf_dir):
    """int8-quantized top-k must closely track exact-cosine top-k:
    mean overlap@K >= 0.8 over the query set (quantization to 8 bits
    perturbs cosines by ~1e-2; at K=5 most neighbors survive)."""
    from app_fastdata_spark.operators.similarity import (
        TOP_K,
        sim_ann_int8,
        sim_topk_cosine,
    )

    exact: dict[int, set] = {}
    for r in sim_topk_cosine(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant: dict[int, set] = {}
    for r in sim_ann_int8(spark, sf_dir).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(exact) == set(quant)
    recalls = [len(exact[q] & quant[q]) / TOP_K for q in exact]
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.8, (mean, recalls)


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every capped pair, containment_lb (shared/min-size) >= its
    jaccard_lb (shared/union) — the union denominator can only be
    larger; and every emitted containment row meets the threshold with
    the contained side no larger than the container."""
    from app_fastdata_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        capped_pair_sizes,
        dedup_containment,
    )

    u = capped_pair_sizes(spark, sf_dir).collect()
    jac = {
        (r.doc_a, r.doc_b): r.shared / (r.na + r.nb - r.shared) for r in u
    }
    con = {(r.doc_a, r.doc_b): r.shared / min(r.na, r.nb) for r in u}
    assert all(con[k] >= jac[k] for k in jac)
    sizes = {}
    for r in u:
        sizes[r.doc_a] = r.na
        sizes[r.doc_b] = r.nb
    out = dedup_containment(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.containment_lb >= CONTAINMENT_THRESHOLD
        assert sizes[r.contained_id] <= sizes[r.container_id]


def test_pii_scan_and_scrub_content(spark, tmp_path):
    """PII ops on a known corpus: counts per type, scrub hash equals the
    md5 of the hand-redacted text, clean docs untouched."""
    from app_fastdata_spark.operators.textops import doc_pii_scan, doc_pii_scrub

    d = str(tmp_path / "pii")
    spark.createDataFrame(
        [
            (1, "write bob@example.com from 10.1.2.3 card 1234123412341234", "en", "s", 55),
            (2, "no secrets here", "en", "s", 15),
            (3, None, "en", "s", 0),
            # overlap: the IPv4 lives inside the email's domain — the
            # scan counts BOTH hit types on the original, the scrub
            # performs ONE replacement
            (4, "e@10.0.0.1.com", "en", "s", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    scan = {r.doc_id: r for r in doc_pii_scan(spark, d).collect()}
    assert (scan[1].n_emails, scan[1].n_ipv4, scan[1].n_card16) == (1, 1, 1)
    assert scan[1].has_pii is True
    assert (scan[2].n_emails, scan[2].has_pii) == (0, False)
    assert scan[3].n_emails is None and scan[3].has_pii is None
    assert (scan[4].n_emails, scan[4].n_ipv4) == (1, 1)

    import hashlib

    scrub = {r.doc_id: r for r in doc_pii_scrub(spark, d).collect()}
    want = "write <EMAIL> from <IP> card <NUM>"
    assert scrub[1].n_redactions == 3
    assert scrub[1].scrub_hash == hashlib.md5(want.encode()).hexdigest()
    assert scrub[2].scrub_hash == hashlib.md5(b"no secrets here").hexdigest()
    assert scrub[3].scrub_hash is None
    # overlapping PII: one performed replacement, not two counted hits
    assert scrub[4].n_redactions == 1
    assert scrub[4].scrub_hash == hashlib.md5(b"<EMAIL>").hexdigest()


def test_embedding_dim_stats_known_vectors(spark, tmp_path):
    """Dim stats on a hand-computable embedding table."""
    from app_fastdata_spark.operators.similarity import embedding_dim_stats

    d = str(tmp_path / "dimstats")
    spark.createDataFrame(
        [(0, [1.0, -2.0], 0), (1, [3.0, 2.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    rows = {r.dim: r for r in embedding_dim_stats(spark, d).collect()}
    assert rows[0].n == 2 and rows[0].mean_val == 2.0 and rows[0].std_val == 1.0
    assert rows[1].mean_val == 0.0 and rows[1].min_val == -2.0 and rows[1].max_val == 2.0


# --- round-7 prep operators -------------------------------------------------
def test_doc_chunks_cover_every_char(spark, sf_dir):
    """Chunk invariants per doc: starts advance by exactly STRIDE, the
    union of [start, start+len) covers [1, len(text)], consecutive
    chunks overlap by WIDTH-STRIDE (except a short tail), and the last
    chunk reaches the end of the doc."""
    from app_fastdata_spark.operators.prep import (
        CHUNK_STRIDE,
        CHUNK_WIDTH,
        doc_chunks,
    )
    from app_fastdata_spark.tables import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").limit(30).collect()
        if r.text
    }
    rows = [
        r
        for r in doc_chunks(spark, sf_dir).collect()
        if r.doc_id in docs
    ]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = len(docs[doc_id])
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.chunk_start == c.chunk_idx * CHUNK_STRIDE + 1
            assert 1 <= c.chunk_len <= CHUNK_WIDTH
        last = chunks[-1]
        assert last.chunk_start + last.chunk_len - 1 == n  # reaches the end
        # full coverage: each next chunk starts within the previous one
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start <= a.chunk_start + a.chunk_len


def test_merged_sessions_invariants(spark, sf_dir):
    """Per user: sessions are disjoint and separated by > the merge gap,
    every event lands in exactly one session, and each session spans at
    least one interval width."""
    from collections import defaultdict

    from app_fastdata_spark.operators.stats import (
        MERGE_GAP_US,
        events_merged_sessions,
    )
    from app_fastdata_spark.tables import load_table

    ev_n = load_table(spark, sf_dir, "events").count()
    rows = events_merged_sessions(spark, sf_dir).collect()
    assert sum(r.n_events for r in rows) == ev_n
    per_user = defaultdict(list)
    for r in rows:
        assert r.session_end_us - r.session_start_us >= MERGE_GAP_US
        per_user[r.user_id].append(r)
    for sess in per_user.values():
        sess.sort(key=lambda r: r.session_start_us)
        for a, b in zip(sess, sess[1:]):
            # maximal merge: the next session starts strictly after the
            # previous interval closed (else they'd have merged)
            assert b.session_start_us > a.session_end_us


def test_classifier_score_bounds_and_threshold(spark, sf_dir):
    from app_fastdata_spark.operators.prep import doc_classifier_score

    rows = doc_classifier_score(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.quality_score < 1.0
        assert r.keep == (r.quality_score >= 0.5)


def test_bpe_merge_step_matches_brute_force(spark, sf_dir):
    """The distributed pair ranking equals a driver-side brute-force
    recount over the same corpus."""
    from collections import Counter

    from app_fastdata_spark.operators.prep import bpe_merge_step
    from app_fastdata_spark.tables import load_table

    texts = [
        r.text
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text is not None
    ]
    counts = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            for a, b in zip(w, w[1:]):
                counts[(a, b)] += 1
    want = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[:20]
    got = [
        ((r.pair_left, r.pair_right), r.pair_count)
        for r in bpe_merge_step(spark, sf_dir).collect()
    ]
    assert got == want


def test_bpe_compression_merges_reduce_symbols(spark, sf_dir):
    """Applying the two learned merges must never increase symbol count
    (each application replaces 2 symbols with 1), must compress at
    least one doc corpus-wide (the merges were learned ON this corpus),
    and per-doc: n_symbols <= n_alpha_chars with equality only when no
    merge fires."""
    from app_fastdata_spark.operators.prep import bpe_compression

    rows = bpe_compression(spark, sf_dir).collect()
    assert rows
    total_chars = sum(r.n_alpha_chars for r in rows)
    total_syms = sum(r.n_symbols for r in rows)
    assert total_syms < total_chars  # merges actually fire
    for r in rows:
        assert 0 < r.n_symbols <= r.n_alpha_chars
        assert abs(r.compression - round(r.n_symbols / r.n_alpha_chars, 6)) < 1e-9


def test_train_bpe_loop_matches_unrolled_witness(spark, sf_dir):
    """The driver-loop trainer's first two merges equal the oracled
    2-iteration unroll exactly; further merges are well-formed (positive
    counts, growing symbol inventory) and applying each merge is what
    produced the next iteration's pair space."""
    from app_fastdata_spark.operators.prep import bpe_train_merges, train_bpe

    merges = train_bpe(spark, sf_dir, n_merges=6)
    assert len(merges) == 6
    witness = [
        (r.pair_left, r.pair_right, r.pair_count)
        for r in bpe_train_merges(spark, sf_dir).collect()
    ]
    assert merges[:2] == witness
    seen = set()
    for l, r, c in merges:
        assert c > 0
        assert (l, r) not in seen  # a chosen merge can't repeat: applying
        seen.add((l, r))           # it removed every adjacent (l, r) pair


def test_train_bpe_survives_quote_and_backslash_tokens(spark, tmp_path):
    """Merge symbols enter the plan as literal columns, never spliced
    into SQL text — a corpus whose hottest pairs involve backslashes
    and quotes must train cleanly (a SQL-splice would parse the
    backslash as an escape or break on the quote)."""
    from app_fastdata_spark.operators.prep import train_bpe

    d = str(tmp_path / "bs")
    rows = [(i, r"c:\tmp c:\tmp don't don't \\ \\ \a \a", "en", "s", 40)
            for i in range(6)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    merges = train_bpe(spark, d, n_merges=4)
    assert len(merges) == 4
    assert all(c > 0 for _, _, c in merges)
    assert any("\\" in l or "\\" in r for l, r, _ in merges)


def test_doc_normalize_denormalized_inputs(spark, tmp_path):
    """doc_normalize on PLANTED denormalized inputs — the sf tables are
    ASCII-clean (every changed flag is False there), so this is the test
    that proves the op actually normalizes: NFD accents compose to NFC,
    control chars vanish, whitespace runs collapse, NULL/empty survive.
    Spark output must also hash-match the DuckDB oracle on the same
    planted file (cross-engine UAX #15 agreement)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod

    rows = [
        # (doc_id, text)                           expectation
        (0, "Café du Monde"),      # NFD -> NFC "Café", changed
        (1, "a\x00b\x07c\x7fd"),         # control chars stripped
        (2, "  a \t\n b\r\n  c  "),      # ws runs -> single spaces, trim
        (3, None),                        # NULL propagates
        (4, ""),                          # empty survives
        (5, "already clean"),             # unchanged
        (6, "Å vs Å"),          # Å (angstrom sign) -> Å (NFC)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "planted",
            "n_chars": [len(r[1]) if r[1] is not None else None for r in rows],
        }
    )
    d = tmp_path / "norm_sf"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")

    got = (
        entry_mod.queries()["doc_normalize"](spark, str(d))
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[0, "changed"] and got.loc[0, "n_chars_norm"] == len(
        "Café du Monde"
    )
    assert got.loc[1, "changed"] and got.loc[1, "n_chars_norm"] == 4  # "abcd"
    assert got.loc[2, "changed"] and got.loc[2, "n_chars_norm"] == len("a b c")
    assert pd.isna(got.loc[3, "norm_hash"]) and pd.isna(got.loc[3, "changed"])
    assert not got.loc[4, "changed"] and got.loc[4, "n_chars_norm"] == 0
    assert not got.loc[5, "changed"]
    assert got.loc[6, "changed"]  # U+212B composes to U+00C5

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    want = (
        con.execute(entry_mod.oracle_sql()["doc_normalize"])
        .df()
        .set_index("doc_id")
    )
    for c in ["norm_hash", "n_chars_norm", "changed"]:
        g, w = got[c], want[c]
        assert ((g == w) | (g.isna() & w.isna())).all(), (c, got, want)


def test_hll_rollup_accuracy_and_mergeability(spark, sf_dir):
    """events_hll_users_by_type: (a) union-of-day-sketches estimate
    within 5% of exact distinct per type at lgK=14 on a 200k-id set
    large enough to force dense estimation mode, (b) the day-grain
    rollup agrees with a single-pass sketch over the same rows (the
    mergeability contract that makes sketch cubes re-aggregatable),
    (c) exactness on the tiny sf table (sparse mode)."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.operators.stats import (
        HLL_LG_K,
        events_hll_users_by_type,
    )
    from app_fastdata_spark.tables import load_table

    # (c) sf table: sketch should be spot-on in sparse mode
    got = {
        r.event_type: r.est_users
        for r in events_hll_users_by_type(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.x
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("x"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert abs(est - exact[t]) / exact[t] <= 0.05, (t, est, exact[t])

    # (a)+(b) dense-mode accuracy and merge parity on 200k distinct ids
    big = spark.range(200_000).select(
        F.lit("synth").alias("event_type"),
        (F.col("id") % 30).cast("int").alias("day"),
        F.col("id").alias("user_id"),
    )
    rolled = (
        big.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()["est"]
    )
    single = big.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(HLL_LG_K))
        ).alias("est")
    ).first()["est"]
    assert abs(rolled - 200_000) / 200_000 <= 0.05, rolled
    # union drops the HIP estimator (composite only), so allow a hair
    assert abs(rolled - single) / single <= 0.02, (rolled, single)


def test_heavy_hitters_mg_guarantee(spark, sf_dir):
    """Misra-Gries mergeable-summary contract (Agarwal et al. 2012):
    (a) on the sf events, every EXACT phi=1/(K+1) heavy hitter appears
    in the MG summary; (b) on a synthetic skewed set with known truth,
    the heavy items appear AND each surviving weight is a lower bound
    within N/(K+1) of the true count — the undercount bound that makes
    summing per-partition summaries valid."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.operators.stats import (
        MG_K,
        events_heavy_hitters_mg,
    )
    from app_fastdata_spark.tables import load_table

    # (a) sf table superset check
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    exact_heavy = {
        r.user_id
        for r in ev.groupBy("user_id")
        .count()
        .filter(F.col("count") > n / (MG_K + 1))
        .collect()
        if r.user_id is not None
    }
    mg_items = {
        r.item for r in events_heavy_hitters_mg(spark, sf_dir).collect()
    }
    assert exact_heavy <= mg_items, exact_heavy - mg_items

    # (b) synthetic skew: item 0 = 40k rows, item 1 = 20k, uniform tail
    n_syn = 200_000
    syn = spark.range(n_syn).select(
        F.when(F.col("id") < 40_000, F.lit(0))
        .when(F.col("id") < 60_000, F.lit(1))
        .otherwise((F.col("id") % 14_000) + 100)
        .alias("item")
    )

    from app_fastdata_spark.operators.stats import mg_summary_partition

    got = {
        r.item: r.weight_lb
        for r in syn.repartition(16)
        .mapInPandas(mg_summary_partition, "item long, weight long")
        .groupBy("item")
        .agg(F.sum("weight").alias("weight_lb"))
        .collect()
    }
    bound = n_syn / (MG_K + 1)  # ~3077
    for item, true_n in [(0, 40_000), (1, 20_000)]:
        assert item in got, (item, sorted(got)[:5])
        assert true_n - bound <= got[item] <= true_n, (item, got[item])


def test_embedding_gram_psd_and_pca_parity(spark, sf_dir):
    """(a) The distributed int8 Gram matrix is symmetric PSD with
    diagonal = summed per-vector squared norms (invariants of E^T E);
    (b) embedding_pca_variance's eigenvalues agree with an independent
    np.cov over the SAME quantized vectors collected locally — the
    one-pass covariance algebra (G - s s^T / n)/(n-1) must match the
    textbook two-pass form to float precision."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import (
        DIM,
        _quantize,
        embedding_gram_int8,
        embedding_pca_variance,
    )
    from app_fastdata_spark.tables import load_table

    G = np.zeros((DIM, DIM))
    for r in embedding_gram_int8(spark, sf_dir).collect():
        G[r.i - 1, r.j - 1] = r.gram
        G[r.j - 1, r.i - 1] = r.gram
    evs = np.linalg.eigvalsh(G)
    assert evs.min() >= -1e-6 * max(1.0, evs.max()), evs.min()  # PSD

    qvecs = np.stack(
        [
            np.array(r.q, dtype="int64")
            for r in load_table(spark, sf_dir, "embeddings")
            .filter(F.col("embedding").isNotNull())
            .select(_quantize(F.col("embedding")).alias("q"))
            .collect()
        ]
    )
    assert np.array_equal(np.diag(G), (qvecs**2).sum(axis=0))

    want = np.linalg.eigvalsh(np.cov(qvecs, rowvar=False))[::-1]
    got = embedding_pca_variance(spark, sf_dir).collect()
    assert len(got) == 8
    for row in got:
        assert abs(row.eigenvalue - want[row.component - 1]) <= 1e-6 * max(
            1.0, abs(want[row.component - 1])
        )
    ratios = [row.explained_ratio for row in got]
    assert ratios == sorted(ratios, reverse=True)
    assert all(0 <= x <= 1 for x in ratios)


def test_gram_pca_degenerate_embeddings(spark, tmp_path):
    """Planted malformed embeddings — NULL vector, empty array, ragged
    (wrong-length) array, NULL element — must be excluded by the SAME
    predicate on both engines (Spark result still hash-matches the
    DuckDB oracle on the planted file), and a zero-variance corpus
    (all surviving vectors identical) must yield explained_ratio 0.0
    rather than a ZeroDivisionError."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from app_fastdata_spark.operators.similarity import (
        DIM,
        embedding_pca_variance,
    )

    good = [float(i % 7) - 3.0 for i in range(DIM)]
    big = (1 << 53) + 1  # above float64's exact-integer range
    rows = [
        (0, good, "a"),
        (1, None, "a"),                      # NULL vector
        (2, [], "a"),                        # empty
        (3, good[: DIM - 1], "a"),           # ragged
        (4, good[:-1] + [None], "a"),        # NULL element
        (5, good, "a"),                      # identical to 0 -> zero variance
        # NULL vec_id: DuckDB's gram self-join drops it (NULL = NULL never
        # matches), so the Spark side must exclude it by predicate or the
        # engines diverge; it must also never reach an Arrow int64 batch,
        # where one NULL coerces the column to float64 and silently
        # corrupts ids >= 2^53
        (None, good, "a"),
        (big, good, "a"),                    # must round-trip exactly
    ]
    d = tmp_path / "deg_emb"
    d.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # build the arrays from the raw python lists, NOT via pd.DataFrame:
    # ints + None in a pandas column coerce to float64, which would
    # corrupt the 2^53+1 id before it ever reaches parquet. float32
    # elements: the declared table schema is array<float>, and a pandas
    # default write would produce list<double>
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], type=pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(table, d / "embeddings.parquet")

    got = entry_mod.queries()["embedding_gram_int8"](spark, str(d)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
    )
    want = con.execute(entry_mod.oracle_sql()["embedding_gram_int8"]).df()
    assert len(got) == DIM * (DIM + 1) // 2  # 3 valid vectors (0, 5, big)
    assert (got.values == want.values).all()

    pca = embedding_pca_variance(spark, str(d)).toPandas()
    assert len(pca) == 8
    assert (pca["explained_ratio"] == 0.0).all()  # zero-variance corpus
    assert (pca["eigenvalue"].abs() < 1e-9).all()

    proj = entry_mod.queries()["embedding_pca_project"](spark, str(d)).toPandas()
    # NULL-id row dropped; id above 2^53 preserved bit-exactly (a float64
    # detour would return 9007199254740992 here)
    assert sorted(proj["vec_id"].tolist()) == [0, 5, big]


def test_pca_projection_invariants(spark, sf_dir):
    """The projected corpus must carry PCA's structural guarantees:
    per-component sample variance equals the corresponding eigenvalue,
    components are uncorrelated, and component variances descend —
    invariants independent of LAPACK's sign/ordering conventions."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import (
        PCA_TOP,
        embedding_pca_project,
        embedding_pca_variance,
    )

    flat = embedding_pca_project(spark, sf_dir)
    # driver-canonicalizer contract: the registered shape is SCALAR
    # columns only (an array column crashed the r7 driver row)
    assert all(not t.startswith("array") for _, t in flat.dtypes), flat.dtypes
    proj = np.stack(
        [
            np.array([r[f"proj_{i}"] for i in range(1, PCA_TOP + 1)])
            for r in flat.collect()
        ]
    )
    assert proj.shape[1] == PCA_TOP
    # the internal array form must agree with the flat form exactly
    arr = np.stack(
        [
            np.array(r.proj)
            for r in embedding_pca_project(
                spark, sf_dir, as_array=True
            ).collect()
        ]
    )
    assert np.array_equal(proj, arr)
    evs = [r.eigenvalue for r in embedding_pca_variance(spark, sf_dir).collect()]
    var = proj.var(axis=0, ddof=1)
    for k in range(PCA_TOP):
        assert abs(var[k] - evs[k]) <= 1e-6 * max(1.0, abs(evs[k])), (
            k,
            var[k],
            evs[k],
        )
    assert all(var[k] >= var[k + 1] - 1e-9 for k in range(PCA_TOP - 1))
    corr = np.corrcoef(proj, rowvar=False)
    off = corr - np.diag(np.diag(corr))
    assert np.abs(off).max() < 1e-6, np.abs(off).max()


def test_quality_reports_planted_violations(spark, tmp_path):
    """The Deequ-style constraint reports must count every planted
    violation identically on both engines — including the NULL-domain
    case (a NULL event_type/lang IS a violation; Spark's isin would
    silently skip NULL without the explicit isNull arm)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod

    d = tmp_path / "qr"
    d.mkdir()
    pd.DataFrame(
        {
            # row 5 has a NULL event_id: it must count in n_null_event_id
            # ONLY — a count(*)-based uniqueness formula would also report
            # it as a duplicate
            "event_id": pd.array([1, 2, 2, 4, None], dtype="Int64"),
            "ts": pd.to_datetime(
                ["2024-01-05", "2023-12-31", "2024-01-06", "2024-01-07",
                 "2024-01-08"]
            ),
            "user_id": pd.array([1, None, 3, 4, 5], dtype="Int64"),
            "event_type": ["click", None, "BAD", "view", "click"],
            "value": [1.0, -2.0, None, 3.0, 4.0],
            "props": ["{}", None, "{}", "{}", "{}"],
        }
    ).to_parquet(d / "events.parquet")
    pd.DataFrame(
        {
            "doc_id": pd.array([1, 1, 3, 4, None], dtype="Int64"),
            "text": ["ok text", None, "", "abc", "x"],
            "lang": ["en", None, "xx", "fr", "en"],
            "source": ["s1", None, "s2", "s3", "s4"],
            "n_chars": pd.array([7, None, 0, 99, 1], dtype="Int64"),  # 99 != 3
        }
    ).to_parquet(d / "documents.parquet")

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for name, expect in [
        (
            "events_quality_report",
            {
                "n_dup_event_ids": 1,  # NULL id is NOT a duplicate
                "n_null_event_id": 1,
                "n_bad_type": 2,  # NULL + 'BAD'
                "n_negative_value": 1,
                "n_ts_out_of_window": 1,
            },
        ),
        (
            "doc_quality_report",
            {
                "n_dup_doc_ids": 1,  # NULL id is NOT a duplicate
                "n_null_text": 1,
                "n_empty_text": 1,
                "n_chars_mismatch": 1,  # only doc 4 (99 != 3)
                "n_bad_lang": 2,  # NULL + 'xx'
                "n_null_source": 1,
            },
        ),
    ]:
        got = entry_mod.queries()[name](spark, str(d)).toPandas()
        want = con.execute(entry_mod.oracle_sql()[name]).df()
        assert got.astype("int64").equals(want.astype("int64")), (name, got, want)
        for col, v in expect.items():
            assert int(got[col].iloc[0]) == v, (name, col, got)


def test_bloom_prefilter_prunes_and_stays_exact(spark, sf_dir):
    """The Bloom pre-filter must actually prune (survivors well below
    the full fact) while never dropping a true match (no false
    negatives); the operator's final result must equal the plain
    semi-join computed without any Bloom involvement."""
    from app_fastdata_spark.operators.joins import (
        _bloom_bitmap,
        _bloom_build_side,
        _bloom_pruned_events,
        events_bloom_pruned_join,
    )
    from app_fastdata_spark.tables import load_table

    build = _bloom_build_side(spark, sf_dir)
    keys = {r.k for r in build.collect()}
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    total = ev.count()
    exact = ev.filter(F.col("user_id").isin(keys)).count()
    pruned = _bloom_pruned_events(spark, sf_dir, _bloom_bitmap(build)).count()
    # no false negatives, and FPs bounded: with ~500 set bits in 2^16
    # the per-probe FP rate is < 1e-8, so survivors ~= exact matches
    assert exact <= pruned <= exact + max(2, total // 1000), (
        exact, pruned, total,
    )
    assert pruned < total * 0.5, (pruned, total)

    got = {
        (r.user_id, r.n_events)
        for r in events_bloom_pruned_join(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.n_events)
        for r in ev.filter(F.col("user_id").isin(keys))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want


def test_scd2_intervals_well_formed(spark, sf_dir):
    """SCD2 history invariants: per user, exactly one open interval (the
    last), adjacent intervals carry DIFFERENT types (true change
    points), and each interval closes exactly one day before the next
    opens (no gaps, no overlaps)."""
    from datetime import timedelta

    from app_fastdata_spark.operators.stats import user_type_scd2

    rows = user_type_scd2(spark, sf_dir).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for rs in by_user.values():
        assert [r.valid_from for r in rs] == sorted(r.valid_from for r in rs)
        opens = [r for r in rs if r.valid_to is None]
        assert len(opens) == 1 and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.event_type != b.event_type
            assert a.valid_to == b.valid_from - timedelta(days=1)


def test_quantile_sketch_rank_guarantee(spark, sf_dir):
    """The mergeable quantile summary must return TRUE data values whose
    rank is within N/QS_K (+1 discrete step) of the target rank — the
    one-level merge bound the operator's docstring derives."""
    import bisect

    import duckdb

    from app_fastdata_spark.operators.stats import (
        QS_K,
        QS_TARGETS,
        doc_length_quantiles_sketch,
    )

    rows = doc_length_quantiles_sketch(spark, sf_dir).collect()
    assert [r.q for r in rows] == QS_TARGETS
    con = duckdb.connect()
    vals = sorted(
        v
        for (v,) in con.execute(
            f"SELECT n_chars FROM '{sf_dir}/documents.parquet'"
            " WHERE n_chars IS NOT NULL"
        ).fetchall()
    )
    n = len(vals)
    err = n / QS_K + 1
    for r in rows:
        assert r.est_n_chars in set(float(v) for v in vals)  # a real value
        lt = bisect.bisect_left(vals, r.est_n_chars)
        le = bisect.bisect_right(vals, r.est_n_chars)
        assert lt - err <= r.q * n <= le + err, (r.q, r.est_n_chars, lt, le)


def test_cohort_retention_invariants(spark, sf_dir):
    """Offset-0 retention is exactly 1.0 (every user is active in their
    own cohort week), percentages never exceed 1, and cohort sizes sum
    to the distinct non-NULL user count (cohorts partition the users)."""
    from app_fastdata_spark.operators.behavior import events_cohort_retention
    from app_fastdata_spark.tables import load_table

    rows = events_cohort_retention(spark, sf_dir).collect()
    assert rows
    zero = [r for r in rows if r.week_offset == 0]
    assert zero and all(r.retention_pct == 1.0 for r in zero)
    assert all(0 < r.retention_pct <= 1.0 for r in rows)
    n_users = (
        load_table(spark, sf_dir, "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_active for r in zero) == n_users


def test_type_transitions_rows_normalize(spark, sf_dir):
    """Each from_type row of the Markov matrix sums to ~1, and the total
    transition count is (#seq events - #users-with-events)."""
    from app_fastdata_spark.operators.behavior import events_type_transitions
    from app_fastdata_spark.tables import load_table

    rows = events_type_transitions(spark, sf_dir).collect()
    assert rows
    seq = (
        load_table(spark, sf_dir, "events")
        .filter(
            "ts IS NOT NULL AND user_id IS NOT NULL"
            " AND event_type IS NOT NULL"
        )
        .groupBy("user_id")
        .count()
        .collect()
    )
    assert sum(r.n_transitions for r in rows) == sum(
        u["count"] - 1 for u in seq
    )
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, 0.0)
        by_from[r.from_type] += r.transition_prob
    # rounded to 4 dp per cell; <=5 cells per row -> tolerance 5e-4
    assert all(abs(s - 1.0) < 5e-4 for s in by_from.values()), by_from


def test_upsert_merge_actions_partition_users(spark, sf_dir):
    """Provenance is consistent with the two time windows: inserts are
    delta-only users, keeps base-only, updates both; every merged user
    appears exactly once and carries that side's latest timestamp."""
    from app_fastdata_spark.operators.behavior import (
        MID_TS,
        events_upsert_merge,
    )
    from app_fastdata_spark.tables import load_table

    import pyspark.sql.functions as F

    merged = {r.user_id: r for r in events_upsert_merge(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").filter(
        "ts IS NOT NULL AND user_id IS NOT NULL"
    )
    mid = F.lit(MID_TS).cast("timestamp")
    base_users = {
        r.user_id for r in ev.filter(F.col("ts") < mid).select("user_id").distinct().collect()
    }
    delta_users = {
        r.user_id for r in ev.filter(F.col("ts") >= mid).select("user_id").distinct().collect()
    }
    assert set(merged) == base_users | delta_users
    for uid, r in merged.items():
        expect = (
            "update" if uid in base_users and uid in delta_users
            else "insert" if uid in delta_users else "keep"
        )
        assert r.merge_action == expect, (uid, r.merge_action, expect)
        if uid in delta_users:
            assert str(r.last_ts) >= MID_TS
        else:
            assert str(r.last_ts) < MID_TS


def test_rfm_scores_quartile_invariants(spark, sf_dir):
    """Every score is 1-4, the segment string matches its scores, and
    boundary-bucketing puts ~a quarter of customers at-or-below each
    boundary (exactly: score<=k count >= k*n/4 for the ties-go-low
    rule, since percentile boundaries are exact order statistics)."""
    from app_fastdata_spark.operators.behavior import customer_rfm_segments

    rows = customer_rfm_segments(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    for r in rows:
        assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
        assert r.segment == f"R{r.r_score}F{r.f_score}M{r.m_score}"
    # most-recent customer scores R4; highest spender scores M4
    best_r = min(rows, key=lambda r: (r.recency_days, r.o_custkey))
    best_m = max(rows, key=lambda r: (r.monetary, r.o_custkey))
    assert best_r.r_score == 4 and best_m.m_score == 4
    for k in (1, 2, 3):
        assert sum(1 for r in rows if r.m_score <= k) >= k * n // 4


def test_revenue_abc_partitions_and_monotone(spark, sf_dir):
    """cum_share is nondecreasing in rank order, ends at 1.0, and the
    A/B/C classes are consistent with their share boundaries."""
    from app_fastdata_spark.operators.behavior import customer_revenue_abc

    rows = customer_revenue_abc(spark, sf_dir).collect()
    assert rows
    shares = [r.cum_share for r in rows]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-6
    for r in rows:
        if r.abc_class == "A":
            assert r.cum_share <= 0.8
        elif r.abc_class == "B":
            assert 0.8 < r.cum_share <= 0.95
        else:
            assert r.cum_share > 0.95
    assert {r.abc_class for r in rows} == {"A", "B", "C"}


def test_top_paths_counts_and_share(spark, sf_dir):
    """Total trigram count equals sum over users of max(0, n_events-2),
    and every reported share is a valid fraction of that total."""
    from collections import Counter

    from app_fastdata_spark.operators.behavior import events_top_paths
    from app_fastdata_spark.tables import load_table

    rows = events_top_paths(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    per_user = Counter(
        r.user_id
        for r in load_table(spark, sf_dir, "events")
        .filter(
            "ts IS NOT NULL AND user_id IS NOT NULL"
            " AND event_type IS NOT NULL"
        )
        .select("user_id")
        .collect()
    )
    total = sum(max(0, c - 2) for c in per_user.values())
    for r in rows:
        assert len(r.path.split(" > ")) == 3
        assert abs(r.share - r.n_paths / total) < 5e-5
    assert sum(r.n_paths for r in rows) <= total


def test_debounce_survivor_gaps(spark, sf_dir):
    """Survivors' recorded gap-to-previous-raw-event exceeds the
    threshold (or is the series head), and recomputing the raw lag
    per (user, type) from the source gives exactly the survivor set."""
    from app_fastdata_spark.operators.behavior import (
        DEBOUNCE_GAP_S,
        events_debounce,
    )
    from app_fastdata_spark.tables import load_table

    kept = events_debounce(spark, sf_dir).collect()
    assert kept
    for r in kept:
        assert r.prev_gap_s is None or r.prev_gap_s > DEBOUNCE_GAP_S
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .filter(
            "ts IS NOT NULL AND user_id IS NOT NULL"
            " AND event_type IS NOT NULL"
        )
        .select("event_id", "user_id", "event_type", "ts")
        .collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    prev: dict = {}
    expect = set()
    for r in ev:
        k = (r.user_id, r.event_type)
        if k not in prev or (r.ts - prev[k]).total_seconds() > DEBOUNCE_GAP_S:
            expect.add(r.event_id)
        prev[k] = r.ts
    assert {r.event_id for r in kept} == expect


def test_spend_distribution_rank_arithmetic(spark, sf_dir):
    """With a unique ordering, percent_rank is (rank-1)/(n-1) and
    cume_dist is rank/n; the min customer is (0, 1/n), the max (1, 1)."""
    from app_fastdata_spark.operators.behavior import (
        customer_spend_distribution,
    )

    rows = customer_spend_distribution(spark, sf_dir).collect()
    n = len(rows)
    assert n > 1
    ranked = sorted(rows, key=lambda r: (r.revenue, r.o_custkey))
    for i, r in enumerate(ranked):
        assert abs(r.spend_pct_rank - i / (n - 1)) < 5e-7, (i, r)
        assert abs(r.spend_cume_dist - (i + 1) / n) < 5e-7, (i, r)


def test_value_mad_robust_invariants(spark, sf_dir):
    """MAD is nonnegative and no larger than the max deviation, the
    outlier count matches a local recompute, and at least half of each
    type's values lie within one MAD of the median (the defining
    property of a median of deviations)."""
    from collections import defaultdict

    from app_fastdata_spark.operators.behavior import events_value_mad
    from app_fastdata_spark.tables import load_table

    rows = {r.event_type: r for r in events_value_mad(spark, sf_dir).collect()}
    assert rows
    vals = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .filter("event_type IS NOT NULL AND value IS NOT NULL")
        .select("event_type", "value")
        .collect()
    ):
        vals[r.event_type].append(r.value)
    assert set(rows) == set(vals)
    for t, r in rows.items():
        v = vals[t]
        assert r.n_values == len(v)
        devs = sorted(abs(x - r.median_value) for x in v)
        assert 0 <= r.mad <= devs[-1] + 1e-6
        within = sum(1 for d in devs if d <= r.mad + 1e-6)
        assert within * 2 >= len(v)
        if r.mad > 0:
            expect = sum(1 for d in devs if 0.6745 * d / r.mad > 3.5)
            # median rounded to 6dp in the output; recompute can drift
            # by at most a couple of boundary cases
            assert abs(r.n_outliers - expect) <= 2, (t, r.n_outliers, expect)
        else:
            assert r.n_outliers == 0


def test_funnel_windowed_tightens_lifetime_funnel(spark, sf_dir):
    """The windowed funnel's converters are a subset of the lifetime
    funnel's at each step (time constraints only remove conversions),
    counts are monotone down the funnel, and rates are consistent."""
    from app_fastdata_spark.operators.stats import (
        events_funnel,
        events_funnel_windowed,
    )

    wrow = events_funnel_windowed(spark, sf_dir).collect()[0]
    assert wrow.n_view_users >= wrow.n_click_24h >= wrow.n_purchase_7d
    lrow = events_funnel(spark, sf_dir).collect()[0]
    assert wrow.n_view_users == lrow.viewed
    assert wrow.n_click_24h <= lrow.clicked_after_view
    assert abs(wrow.click_rate - round(wrow.n_click_24h / wrow.n_view_users, 4)) < 5e-5


def test_key_skew_gini_bounds_and_uniform_case(spark, sf_dir):
    """Gini is in [0, 1), shares are consistent, and a locally computed
    Gini over the same counts matches to 1e-6."""
    from collections import Counter

    from app_fastdata_spark.operators.stats import events_key_skew_gini
    from app_fastdata_spark.tables import load_table

    r = events_key_skew_gini(spark, sf_dir).collect()[0]
    assert 0 <= r.gini < 1
    assert 0 < r.top1_share <= r.top10_share <= 1
    counts = sorted(
        Counter(
            row.user_id
            for row in load_table(spark, sf_dir, "events")
            .filter("user_id IS NOT NULL")
            .select("user_id")
            .collect()
        ).values()
    )
    n, tot = len(counts), sum(counts)
    gini = 2 * sum((i + 1) * c for i, c in enumerate(counts)) / (n * tot) - (
        n + 1
    ) / n
    assert abs(r.gini - gini) < 1e-6
    assert r.n_keys == n and r.n_rows == tot


def test_sliding_incremental_identity_and_retraction(spark, sf_dir):
    """merge-with-retraction == direct recompute of the new window, and
    at least one key present in the old window is absent from the new
    one (the retraction actually fired)."""
    from app_fastdata_spark.operators.behavior import (
        SLIDE_NEW_END,
        SLIDE_NEW_START,
        SLIDE_OLD_END,
        SLIDE_OLD_START,
        events_by_src_sliding_incremental,
    )
    from app_fastdata_spark.tables import load_table

    got = {
        r.src: r.window_visits
        for r in events_by_src_sliding_incremental(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter("ts IS NOT NULL")
    want = {
        r.src: r.n
        for r in ev.filter(
            f"ts >= TIMESTAMP '{SLIDE_NEW_START}'"
            f" AND ts < TIMESTAMP '{SLIDE_NEW_END}'"
        )
        .groupBy(ev.user_id.alias("src"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert got == want
    old_counts = {
        r.src: r.n
        for r in ev.filter(
            f"ts >= TIMESTAMP '{SLIDE_OLD_START}'"
            f" AND ts < TIMESTAMP '{SLIDE_OLD_END}'"
        )
        .groupBy(ev.user_id.alias("src"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # the slide must have processed real deltas: some key's count
    # changed (expired/arrived days are non-empty in the testdata span);
    # a full key retraction additionally shows up at small SF
    assert any(old_counts.get(k) != v for k, v in got.items()) or (
        set(old_counts) - set(got)
    ), "the slide changed nothing"


def test_sliding_distinct_users_window_semantics(spark, sf_dir):
    """Each day's 7-day distinct count matches a local recompute over
    the trailing window, is >= that day's plain distinct count, and is
    monotone vs the 1-day count summed bound."""
    import datetime as dt
    from collections import defaultdict

    from app_fastdata_spark.operators.stats import (
        events_sliding_distinct_users,
    )
    from app_fastdata_spark.tables import load_table

    got = {
        r.day: r.users_7d
        for r in events_sliding_distinct_users(spark, sf_dir).collect()
    }
    assert got
    by_day = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("user_id", "ts")
        .collect()
    ):
        by_day[r.ts.replace(hour=0, minute=0, second=0, microsecond=0)].add(
            r.user_id
        )
    # expected anchors: every day in [lo, hi] whose trailing window is
    # non-empty (gap days inside the span still emit an anchor if a
    # preceding day contributes — the operator's clip is on the span,
    # not on event presence)
    lo, hi = min(by_day), max(by_day)
    expect = {}
    d = lo
    while d <= hi:
        window_users = set()
        for k in range(7):
            window_users |= by_day.get(d - dt.timedelta(days=k), set())
        if window_users:
            expect[d] = len(window_users)
        d += dt.timedelta(days=1)
    assert got == expect
    for day, n in got.items():
        assert n >= len(by_day.get(day, set()))


def test_time_weighted_avg_integer_rounding(spark, sf_dir):
    """plain_avg matches a local exact-integer half-up recompute (the
    cross-engine contract: cents sums + explicit (200s+n) div (2n)
    rounding), and the weighted mean lies within the user's value
    range."""
    from collections import defaultdict

    from app_fastdata_spark.operators.behavior import (
        events_time_weighted_avg,
    )
    from app_fastdata_spark.tables import load_table

    rows = {
        r.user_id: r for r in events_time_weighted_avg(spark, sf_dir).collect()
    }
    assert rows
    per_user = defaultdict(list)
    for r in sorted(
        load_table(spark, sf_dir, "events")
        .filter(
            "ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL"
        )
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r.ts, r.event_id),  # the operator's exact order
    ):
        per_user[r.user_id].append(r.value)
    for uid, r in rows.items():
        vals = per_user[uid][:-1]  # last event has no holding period
        assert r.n_intervals == len(vals)
        cents = sum(round(v * 100) for v in vals)
        n = len(vals)
        assert r.plain_avg == ((200 * cents + n) // (2 * n)) / 1e4
        assert min(vals) - 1e-9 <= r.time_weighted_avg <= max(vals) + 1e-9


def test_capped_pair_sizes_hashed_matches_string_pipeline(spark, sf_dir):
    """The round-10 DEFAULT (int64-shingle direct-emit inverted index)
    must produce EXACTLY the string pipeline's (doc_a, na, doc_b, nb,
    shared) set — same docs, same distinct-shingle counts, same shared
    counts — on the real corpus AND on planted degenerate docs (NULL /
    empty / <3-token / duplicated-shingle text)."""
    from app_fastdata_spark.operators.dedup import (
        capped_pair_sizes,
        capped_pair_sizes_string,
    )
    from app_fastdata_spark.tables import load_table

    a = sorted(
        tuple(r) for r in capped_pair_sizes_string(spark, sf_dir).collect()
    )
    b = sorted(
        tuple(r) for r in capped_pair_sizes(spark, sf_dir).collect()
    )
    assert a == b and len(a) > 0

    # degenerate plants through BOTH pipelines (shingle_frame /
    # shingle_hash_frame parity on the weird shapes)
    from app_fastdata_spark.operators.dedup import (
        shingle_frame,
        shingle_hash_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one two"),                      # < SHINGLE_N tokens
            (4, "a b c a b c a b c"),            # repeated shingles
            (5, "  leading trailing  \t tab"),   # trim-vs-strip edge
        ],
        "doc_id long, text string",
    )
    ns = {r.doc_id: len(r.shingles) for r in shingle_frame(docs).collect()}
    nh = {
        r.doc_id: len(r.shingles)
        for r in shingle_hash_frame(docs).collect()
    }
    assert ns == nh  # same docs survive with same distinct counts


def test_winsorized_values_clipped_within_band(spark, sf_dir):
    """Winsorization invariants: every output lies inside its type's
    [lo, hi] band, values already inside the band pass through
    unchanged (up to the 6-dp output rounding), clipping actually
    fires on both tails somewhere, and the row set equals the
    finite-value input rows."""
    from collections import defaultdict

    from app_fastdata_spark.operators.stats import events_value_winsorized
    from app_fastdata_spark.tables import load_table

    rows = events_value_winsorized(spark, sf_dir).collect()
    n_in = (
        load_table(spark, sf_dir, "events")
        .filter(
            "event_type IS NOT NULL AND value IS NOT NULL"
            " AND NOT isnan(value) AND abs(value) != double('inf')"
        )
        .count()
    )
    assert len(rows) == n_in
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    clipped_lo = clipped_hi = 0
    for t, rs in by_type.items():
        lo = min(r.value_winsorized for r in rs)
        hi = max(r.value_winsorized for r in rs)
        for r in rs:
            assert lo - 1e-9 <= r.value_winsorized <= hi + 1e-9
            if lo + 1e-9 < r.value < hi - 1e-9:  # strictly inside band
                assert abs(r.value_winsorized - round(r.value, 6)) < 1e-9
            clipped_lo += r.value < r.value_winsorized
            clipped_hi += r.value > r.value_winsorized
    assert clipped_lo > 0 and clipped_hi > 0


def test_capped_pair_sources_fail_loudly_past_packing_range(spark, tmp_path):
    """The (doc_id << 20 | n) packing guard must ABORT, not silently
    corrupt, on a doc_id past 2^43 — in BOTH pair-source variants: the
    hashed default raises from _pack_dn inside the tokenizer UDF, the
    string twin from the raise_error branch of its packed expression."""
    import pytest as _pt

    from app_fastdata_spark.operators.dedup import (
        capped_pair_sizes,
        capped_pair_sizes_string,
    )

    d = str(tmp_path / "big_ids")
    spark.createDataFrame(
        [
            (1 << 43, "alpha beta gamma delta", "en", "srcX", 22),
            (7, "alpha beta gamma delta", "en", "srcX", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    with _pt.raises(Exception, match="packing range exceeded"):
        capped_pair_sizes(spark, d).collect()
    with _pt.raises(Exception, match="packing range exceeded"):
        capped_pair_sizes_string(spark, d).collect()


def test_pq_stride_vectors_decode_to_self_and_codebook_membership(
    spark, tmp_path
):
    """Product quantization invariants on a planted corpus: (1) every
    codebook-source vector (vec_id % stride == 0) decodes to its own
    normalized self BIT-EXACTLY — its distance-0 codeword is the unique
    argmin in every subspace; (2) every decoded subspace of every other
    vector is byte-identical to some codeword's subvector (decoded
    vectors live on the codebook grid by construction); (3) the ADC
    top-k output has contiguous ranks, valid cosines, and is
    deterministic across reruns."""
    import math as _math

    import numpy as np
    from pyspark.sql import functions as F

    from app_fastdata_spark.operators.similarity import (
        PQ_M,
        PQ_SUB,
        TOP_K,
        _fold_sq_norm,
        _pq_codebook_broadcast,
        _pq_decode_udf,
        sim_ann_pq,
    )

    rng = np.random.default_rng(23)
    X = rng.normal(size=(200, 64)).astype(np.float32)
    rows = [(i, X[i].tolist(), None) for i in range(200)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "pq")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    bc = _pq_codebook_broadcast(spark, d)
    ids, Sn = bc.value
    stride = _math.isqrt(200)
    assert list(ids) == [i for i in range(200) if i % stride == 0]

    dec_rows = (
        spark.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", _pq_decode_udf(bc)("embedding").alias("dec"))
        .collect()
    )
    dec = {r.vec_id: np.array(r.dec) for r in dec_rows}
    # (1) codebook sources decode to their normalized selves bit-exactly
    Xn = X.astype(np.float64) / np.sqrt(
        _fold_sq_norm(X.astype(np.float64))
    )[:, None]
    for cid in ids:
        assert np.array_equal(dec[cid], Xn[cid]), cid
    # (2) every decoded subspace is exactly one codeword's subvector
    for vid, v in dec.items():
        for m in range(PQ_M):
            sub = v[m * PQ_SUB : (m + 1) * PQ_SUB]
            assert any(
                np.array_equal(sub, Sn[c, m * PQ_SUB : (m + 1) * PQ_SUB])
                for c in range(len(ids))
            ), (vid, m)

    out1 = sim_ann_pq(spark, d).collect()
    by_q: dict = {}
    for r in out1:
        by_q.setdefault(r.query_id, []).append(r.rank)
        assert -1.0 - 1e-9 <= r.cos_pq <= 1.0 + 1e-9
        assert r.neighbor_id != r.query_id
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= TOP_K
    out2 = sim_ann_pq(spark, d).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_rp_projection_preserves_norms_within_jl_band(spark, tmp_path):
    """JL sanity on a seeded gaussian corpus: with entries of variance
    1/12 scaled by sqrt(12/K), E[||proj||^2] = ||x||^2 — per-vector
    ratios concentrate around 1 (chi^2-ish, K=16 dof), so the corpus
    MEAN ratio must sit well inside [0.8, 1.2] and every ratio inside
    the wide [0.2, 3.0] band. Deterministic: fixed rng seed, fixed
    projection matrix."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import (
        RP_K,
        embedding_rp_project,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(300, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), None) for i in range(300)],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "rp")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    rows = embedding_rp_project(spark, d).collect()
    assert len(rows) == 300
    ratios = []
    for r in rows:
        p = np.array([r[f"proj_{j + 1}"] for j in range(RP_K)])
        x = X[r.vec_id].astype(np.float64)
        ratios.append(float(p @ p) / float(x @ x))
    ratios = np.array(ratios)
    assert 0.8 < ratios.mean() < 1.2, ratios.mean()
    assert (ratios > 0.2).all() and (ratios < 3.0).all()


def test_temperature_mixture_boost_monotone_in_share(spark, sf_dir):
    """alpha=0.5 temperature weighting is share-monotone by algebra
    (boost ∝ token_frac^-1/2): ordering sources by ascending token
    share must order boosts descending, shares and temp shares each
    sum to ~1, and every below-average source is upsampled (boost>1)
    iff its share is below the corpus's 1/n_sources pivot... exactly:
    boost > 1 iff share < (sum sqrt(t))^-2 * total — asserted via the
    pairwise monotonicity + sum checks, which pin the algebra without
    re-deriving the pivot."""
    from app_fastdata_spark.operators.curation import (
        doc_temperature_mixture,
    )

    rows = doc_temperature_mixture(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r.token_frac for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.temp_frac for r in rows) - 1.0) < 1e-3
    by_share = sorted(rows, key=lambda r: r.token_frac)
    boosts = [r.boost for r in by_share]
    for a, b in zip(boosts, boosts[1:]):
        assert a >= b - 1e-9, boosts


def test_ivfpq_planted_dups_recalled(spark, tmp_path):
    """IVF-PQ on planted near-identical pairs: a copy of query vector q
    shares q's nearest cells (IVF contract) AND decodes to (nearly) the
    same codewords (PQ contract), so it must appear in q's top-k for
    the overwhelming majority of plants; ranks are contiguous and
    cosines valid."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        sim_ann_ivfpq,
    )

    rng = np.random.default_rng(31)
    base = rng.normal(size=(200, 64)).astype(np.float32)
    rows = [(i, base[i].tolist(), None) for i in range(200)]
    for i in range(N_QUERIES):
        noisy = base[i] + rng.normal(scale=0.01, size=64)
        rows.append((200 + i, noisy.astype(np.float32).tolist(), None))
    d = str(tmp_path / "ivfpq")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    out = sim_ann_ivfpq(spark, d).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert -1.0 - 1e-9 <= r.cos_pq <= 1.0 + 1e-9
    ranks: dict = {}
    for r in out:
        ranks.setdefault(r.query_id, []).append(r.rank)
    for qid, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), qid
        assert len(rs) <= TOP_K
    hits = sum(1 for i in range(N_QUERIES) if 200 + i in by_q.get(i, set()))
    assert hits >= N_QUERIES - 2, hits


def test_semantic_survivors_one_per_cluster(spark, sf_dir):
    """SemDeDup invariants: exactly ONE survivor per mutual-kNN
    component, every unclustered doc survives, and the survivor of
    each cluster is its (ttr desc, doc_id asc) argmax — recomputed
    independently via quality_frame."""
    from app_fastdata_spark.operators.dedup import (
        sim_mutual_knn_clusters,
        sim_semantic_survivors,
    )
    from app_fastdata_spark.operators.textops import quality_frame
    from app_fastdata_spark.tables import load_table

    comp = {
        r.vec_id: r.component
        for r in sim_mutual_knn_clusters(spark, sf_dir).collect()
    }
    surv = {r.doc_id for r in sim_semantic_survivors(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    ttr = {
        r.doc_id: r.ttr
        for r in quality_frame(docs).select("doc_id", "ttr").collect()
    }
    # unclustered docs all survive
    unclustered = all_ids - set(comp)
    assert unclustered <= surv
    # exactly one survivor per component, and it is the quality argmax
    by_comp: dict = {}
    for vid, c in comp.items():
        if vid in all_ids:  # vectors without a doc row can't survive
            by_comp.setdefault(c, []).append(vid)
    for c, members in by_comp.items():
        kept = [m for m in members if m in surv]
        assert len(kept) == 1, (c, kept)
        best = sorted(
            members,
            key=lambda d: (
                -(ttr[d] if ttr[d] is not None else float("-inf")),
                d,
            ),
        )[0]
        assert kept[0] == best, (c, kept[0], best)


def test_rp_gemm_path_matches_fold_within_envelope(spark, sf_dir):
    """The GEMM scale path of the JL projection must agree with the
    oracled left-fold path within 1e-9 per component (pairwise vs
    sequential double summation over 64 terms — ~1e-16 relative), on
    identical row sets. Both sides of the GEMM_MIN_ROWS seam forced
    explicitly so the envelope holds whichever one auto-select picks."""
    from app_fastdata_spark.operators.similarity import (
        RP_K,
        embedding_rp_project,
    )

    fold = {
        r.vec_id: r
        for r in embedding_rp_project(spark, sf_dir, gemm=False).collect()
    }
    gemm = {
        r.vec_id: r
        for r in embedding_rp_project(spark, sf_dir, gemm=True).collect()
    }
    assert set(fold) == set(gemm) and fold
    for vid, fr in fold.items():
        gr = gemm[vid]
        for j in range(RP_K):
            c = f"proj_{j + 1}"
            assert abs(fr[c] - gr[c]) <= 1e-9, (vid, c, fr[c], gr[c])


def test_int8_gemm_path_is_exact(spark, sf_dir):
    """The int64-GEMM scale path of the quantized brute-force scan is
    EXACT, not an envelope: integer dots are order-free, _quantize_np
    reproduces the fold's quantizer (incl. HALF-UP at .5 — numpy's
    default half-to-even would diverge on engineered ties), and the
    divide/sqrt are the same two IEEE ops. Full-tuple set equality,
    rounded qcos included."""
    from app_fastdata_spark.operators.similarity import sim_ann_int8

    fold = {tuple(r) for r in sim_ann_int8(spark, sf_dir, gemm=False).collect()}
    gemm = {tuple(r) for r in sim_ann_int8(spark, sf_dir, gemm=True).collect()}
    assert fold == gemm and fold


def test_quantize_np_half_up_on_ties():
    """Pin the rounding mode of the numpy quantizer twin on exact .5
    quotients, both signs — the one place np.round would silently
    disagree with Spark/DuckDB round() — AND on quotients sitting 1 ULP
    BELOW a .5 tie, where the naive floor(abs+0.5) over-rounds because
    the fp sum crosses the boundary the true value never reached
    (0.49999999999999994 + 0.5 == 1.0 in IEEE; Spark and DuckDB both
    round it to 0 — the r11 ADVICE hole, closed by the explicit
    back-off in _quantize_np)."""
    import numpy as np

    from app_fastdata_spark.operators.similarity import _quantize_np

    # max|x| = 127 → s = 1.0 → quotients are the raw values
    X = np.array([[127.0, 2.5, -2.5, 0.5, -0.5, 0.0]])
    assert _quantize_np(X).tolist() == [[127, 3, -3, 1, -1, 0]]
    below = np.nextafter(0.5, 0.0)       # 0.49999999999999994
    below25 = np.nextafter(2.5, 0.0)     # 1 ULP below an odd .5 tie
    Y = np.array([[127.0, below, -below, below25, -below25, 0.5]])
    assert _quantize_np(Y).tolist() == [[127, 0, 0, 2, -2, 1]]


def test_edit_distance_refine_invariants(spark, sf_dir, tmp_path):
    """The Levenshtein refine must (a) emit a subset of the LSH
    candidate pairs, (b) find a planted one-character edit with lev=1
    and near-1 sim, and (c) score a planted exact duplicate at lev=0,
    sim=1.0."""
    import os as _os

    from app_fastdata_spark.operators.dedup import (
        dedup_edit_distance,
        dedup_minhash_lsh,
    )
    from app_fastdata_spark.tables import load_table

    d = str(tmp_path / "lev")
    _os.makedirs(d)
    base = load_table(spark, sf_dir, "documents").limit(100)
    text = " ".join(f"tok{i} common words here" for i in range(30))
    extra = spark.createDataFrame(
        [
            (880_001, text, "en", "srcL", len(text)),
            (880_002, text.replace("tok7", "tok7x", 1), "en", "srcL", len(text)),
            (880_003, text, "en", "srcL", len(text)),  # exact dup of 880_001
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base.unionByName(extra).coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r for r in dedup_edit_distance(spark, d).collect()
    }
    cand = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, d).collect()
    }
    assert set(got) <= cand and got
    near = got[(880_001, 880_002)]
    # 1 insert + 1 boundary edit: the inserted char shifts the suffix,
    # so the 256-char window's last char differs too — windowed edit
    # distance counts both, by design
    assert near.lev <= 2 and near.sim > 0.99
    dup = got[(880_001, 880_003)]
    assert dup.lev == 0 and dup.sim == 1.0


def test_graph_ann_walk_invariants(spark, sf_dir):
    """The greedy kNN-graph search must (a) answer every live query,
    (b) never answer with the query itself, (c) respect the hop cap,
    (d) strictly improve on its seeded entry point whenever it moved,
    and (e) never beat the exact brute-force optimum (it is a local
    optimum of the same 9-dp-rounded cosine)."""
    from app_fastdata_spark.operators.similarity import (
        GRAPH_MAX_HOPS,
        N_QUERIES,
        sim_ann_graph,
        sim_topk_cosine,
    )

    rows = {r.query_id: r for r in sim_ann_graph(spark, sf_dir).collect()}
    exact1 = {
        r.query_id: r.cos
        for r in sim_topk_cosine(spark, sf_dir).filter("rank = 1").collect()
    }
    assert rows and len(rows) <= N_QUERIES
    for qid, r in rows.items():
        assert r.best_id != qid
        assert 0 <= r.n_hops <= GRAPH_MAX_HOPS
        assert r.cos_graph <= exact1[qid] + 1e-12, (qid, r, exact1[qid])


def test_graph_topk_ranks_the_visited_trace(spark, sf_dir):
    """The top-k graph answer must (a) have rank 1 exactly equal to the
    single-entry walk's terminal (node, cos) — cos strictly improves
    along the walk, so the last node IS the trace argmax; (b) carry
    contiguous ranks with non-increasing cos and distinct nodes per
    query; (c) never exceed GRAPH_TOPK rows per query. And sim_ann_graph,
    which walks without a trace, answers each query's max-hop row of
    the walk trace."""
    from app_fastdata_spark.operators import similarity as S
    from app_fastdata_spark.operators.similarity import (
        GRAPH_TOPK,
        sim_ann_graph,
        sim_ann_graph_topk,
    )

    best = {r.query_id: r for r in sim_ann_graph(spark, sf_dir).collect()}
    trace = S.graph_search(
        *S._corpus_walk_inputs(spark, sf_dir, S.knn_edges), 1, trace=True
    ).collect()
    last: dict = {}
    for r in trace:
        if r.query_id not in last or r.n_hops > last[r.query_id].n_hops:
            last[r.query_id] = r
    assert {
        (q, t.node, t.cos, t.n_hops) for q, t in last.items()
    } == {(q, r.best_id, r.cos_graph, r.n_hops) for q, r in best.items()}
    by_q: dict = {}
    for r in sim_ann_graph_topk(spark, sf_dir).collect():
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(best) and by_q
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= GRAPH_TOPK
        assert rows[0].neighbor_id == best[qid].best_id
        assert rows[0].cos == best[qid].cos_graph
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True)
        assert len({r.neighbor_id for r in rows}) == len(rows)


def test_knn_edges_session_cache_and_parity(spark, sf_dir):
    """The session-materialized kNN graph (the shared pair source of
    sim_knn_graph / mutual-kNN clusters / SemDeDup survivors) must be
    (a) computed once — repeat calls return the SAME checkpointed
    frame — and (b) row-identical to the pure pipeline it caches."""
    from app_fastdata_spark.operators import similarity as S

    e1 = S.knn_edges(spark, sf_dir)
    e2 = S.knn_edges(spark, sf_dir)
    assert e1 is e2
    cached = {tuple(r) for r in e1.collect()}
    pure = {tuple(r) for r in S.sim_knn_graph(spark, sf_dir).collect()}
    assert cached == pure and cached


def test_knn_edges_cold_session_serves_stored_index(spark, sf_dir, monkeypatch):
    """The kNN edge list is a PERSISTED index artifact: after one build
    publishes it to the index directory, a cold session (simulated by
    clearing the in-session store) must serve the identical edge set
    from DISK — the IVF build pipeline must not run again (pinned by
    poisoning it), which is the build-once/store/serve contract the
    graph serving legs assume at scale."""
    from app_fastdata_spark import cache
    from app_fastdata_spark.cache import session_clear
    from app_fastdata_spark.operators import similarity as S

    warm = {tuple(r) for r in S.knn_edges(spark, sf_dir).collect()}
    # the versioned store name, NOT a guessed literal: clearing a
    # wrong name would leave the session cache warm and make this
    # test vacuously green (caught by review in round 12)
    assert cache._STORES.get(S.KNN_EDGES_STORE), "store name drifted"
    session_clear(S.KNN_EDGES_STORE)
    assert not cache._STORES.get(S.KNN_EDGES_STORE)

    def poisoned(*a, **k):
        raise AssertionError("cold session recomputed the IVF pipeline")

    monkeypatch.setattr(S, "sim_knn_graph", poisoned)
    cold = {tuple(r) for r in S.knn_edges(spark, sf_dir).collect()}
    assert cold == warm and cold


def test_lsh_pairs_cold_session_serves_stored_candidates(
    spark, sf_dir, monkeypatch
):
    """The MinHash-LSH candidate pair list is a PERSISTED artifact (the
    r12 Next #5 ask): after one build publishes it, a cold session
    (cleared in-session store) must serve the identical pair set from
    disk without re-running the shingle→signature→band chain — pinned
    by poisoning the chain."""
    from app_fastdata_spark import cache
    from app_fastdata_spark.cache import session_clear
    from app_fastdata_spark.operators import dedup as D

    warm = {tuple(r) for r in D.lsh_pairs(spark, sf_dir).collect()}
    store = D.LSH_PAIRS_STORE.format(D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS)
    assert cache._STORES.get(store), "store name drifted"
    session_clear(store)
    assert not cache._STORES.get(store)

    def poisoned(*a, **k):
        raise AssertionError("cold session re-ran the MinHash chain")

    monkeypatch.setattr(D, "_minhash_lsh_frame", poisoned)
    cold = {tuple(r) for r in D.lsh_pairs(spark, sf_dir).collect()}
    assert cold == warm and cold


def test_index_root_default_is_per_process_not_repo(monkeypatch):
    """Cross-process index persistence is OPT-IN via SPARK_GRAFT_INDEX_DIR.
    Without it the root must be a fresh per-process temp dir — never a
    repo-relative path a later bench/oracle invocation would silently
    inherit artifacts from (every invocation must compute from the
    parquet inputs). Within the process the root is stable so the
    publish/read-back lifecycle above still works."""
    import os

    from app_fastdata_spark import cache

    monkeypatch.delenv(cache.INDEX_DIR_ENV, raising=False)
    monkeypatch.setattr(cache, "_DEFAULT_INDEX_ROOT", None)
    root = cache._index_root()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(cache.__file__)))
    assert not os.path.abspath(root).startswith(repo + os.sep)
    assert os.path.isdir(root)
    assert cache._index_root() == root  # stable within the process
    # explicit env always wins
    monkeypatch.setenv(cache.INDEX_DIR_ENV, "/tmp/explicit_index_dir")
    assert cache._index_root() == "/tmp/explicit_index_dir"


def test_hd_graph_structure_and_deployable_recall(spark, sf_dir):
    """The high-degree NN-descent graph must carry the bounded-degree
    structural contract (≤ HD_KNN_K out-edges, contiguous ranks, no
    self-loops, no duplicate neighbors) AND certify the deployability
    bar the variant exists for: recall@1 of the HD_SEEDS walk ≥ 0.9
    (measured 20/20 at sf0.01, 18/20 at sf0.1 — the r12 Next #2 ask)."""
    from app_fastdata_spark.operators import similarity as S

    by_vec: dict = {}
    edges = S.knn_edges_hd(spark, sf_dir).collect()
    for r in edges:
        assert r.vec_id != r.neighbor_id
        by_vec.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id))
    assert by_vec
    for v, rows in by_vec.items():
        ranks = sorted(rk for rk, _ in rows)
        assert len(rows) <= S.HD_KNN_K
        assert ranks == list(range(1, len(rows) + 1))
        assert len({n for _, n in rows}) == len(rows)
    # NND expansion really densified the graph: max degree must exceed
    # the K=3 base graph's cap (a no-op round would leave degree ≤ 3)
    assert max(len(rows) for rows in by_vec.values()) > S.KNN_K

    rec = S.sim_ann_graph_hd_recall(spark, sf_dir).collect()
    assert rec
    hits = sum(r.hit for r in rec)
    assert hits >= 0.9 * len(rec), f"recall@1 {hits}/{len(rec)} < 0.9"
    for r in rec:
        assert r.cos_gap >= -1e-12  # a walk can never beat the optimum


def test_beam_search_structure_bounds_and_recall(spark, sf_dir):
    """Beam search must respect its structural contract — ≤ BEAM_TOPK
    ranked rows per query (contiguous ranks, non-increasing cos,
    distinct non-self neighbors), a visited set bounded by
    BEAM_WIDTH·(GRAPH_MAX_HOPS+1) per query — never beat the exact
    optimum, and clear the same ≥0.9 recall@1 bar as the hd walk
    (measured 20/20 at sf0.01 AND sf0.1, vs the walk's 18/20)."""
    from app_fastdata_spark.operators import similarity as S

    visited = S.graph_search(
        *S._corpus_walk_inputs(spark, sf_dir, S.knn_edges_hd),
        S.BEAM_WIDTH,
        beam=True,
    ).collect()
    per_q: dict = {}
    for r in visited:
        per_q.setdefault(r.query_id, set()).add(r.node)
    cap = S.BEAM_WIDTH * (S.GRAPH_MAX_HOPS + 1)
    assert per_q and all(len(v) <= cap for v in per_q.values())

    exact1 = {
        r.query_id: r.cos
        for r in S.sim_topk_cosine(spark, sf_dir).filter("rank = 1").collect()
    }
    by_q: dict = {}
    for r in S.sim_ann_graph_beam(spark, sf_dir).collect():
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    hits = 0
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= S.BEAM_TOPK
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True)
        assert len({r.neighbor_id for r in rows}) == len(rows)
        for r in rows:
            assert r.neighbor_id != qid
            assert r.cos <= exact1[qid] + 1e-12
        hits += int(rows[0].cos == exact1[qid])
    assert hits >= 0.9 * len(by_q), f"beam recall@1 {hits}/{len(by_q)}"


def test_graph_search_dead_end_and_missing_rows_hand_graph(spark):
    """A hand-built 2-D graph with every corner of the kernel: query 100
    walks 1 -> 2 -> 3 -> 4 and stops at node 4, which has no out-edges
    (no adjacency row), although node 5 is closer; edge 2 -> 100 points
    at the query itself and edge 3 -> 99 at a node missing from the
    corpus; query 101 converges at its entry. Greedy (one and two
    seeds), trace and a width-2 beam must return exactly these rows (the
    rows the earlier per-hop driver loop returned)."""
    import math

    from app_fastdata_spark.operators import similarity as S

    angle = {1: 80, 2: 60, 3: 40, 4: 20, 5: 10, 6: 70, 100: 0, 101: 90}
    en = spark.createDataFrame(
        [
            (v, [math.cos(math.radians(a)), math.sin(math.radians(a))])
            for v, a in angle.items()
        ],
        "vec_id long, embedding array<float>",
    ).select("vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm"))
    edges = spark.createDataFrame(
        [(1, 2), (1, 6), (2, 3), (2, 100), (3, 4), (3, 2), (3, 99), (6, 5),
         (5, 1)],
        "vec_id long, neighbor_id long",
    )
    queries = en.filter("vec_id >= 100").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    adj = S.adjacency_frame(edges, en)

    def search(seeds, **kw):
        rows = S.graph_search(queries, adj, en, seeds, **kw).collect()
        return sorted(tuple(r) for r in rows)

    assert search(1) == [
        (100, 1, 4, 0.939692617, 3),
        (101, 1, 1, 0.984807752, 0),
    ]
    assert search(2) == [
        (100, 1, 4, 0.939692617, 3),
        (100, 2, 4, 0.939692617, 2),
        (101, 1, 1, 0.984807752, 0),
        (101, 2, 2, 0.8660254, 0),
    ]
    assert search(1, trace=True) == [
        (100, 1, 1, 0.173648183, 0),
        (100, 1, 2, 0.500000007, 1),
        (100, 1, 3, 0.766044428, 2),
        (100, 1, 4, 0.939692617, 3),
        (101, 1, 1, 0.984807752, 0),
    ]
    assert search(2, beam=True) == [
        (100, 1, 0.173648183),
        (100, 2, 0.500000007),
        (100, 3, 0.766044428),
        (100, 4, 0.939692617),
        (100, 5, 0.984807752),
        (100, 6, 0.342020154),
        (101, 1, 0.984807752),
        (101, 2, 0.8660254),
        (101, 3, 0.642787627),
        (101, 4, 0.342020154),
        (101, 5, 0.173648183),
        (101, 6, 0.939692617),
    ]


def test_graph_walk_is_a_few_jobs(spark, sf_dir):
    """A warm walk call is one lazy plan: the adjacency-row broadcast,
    the seed-head broadcast and the result job, with no job per hop
    (no collect, checkpoint, convergence probe or union)."""
    from app_fastdata_spark.catalog import queries

    sc = spark.sparkContext

    def jobs(name):
        q = queries()[name]
        q(spark, sf_dir).collect()  # warm: the stored indexes exist
        group = f"walk-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            q(spark, sf_dir).collect()
        finally:
            sc.setJobGroup(None, None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("sim_ann_graph") <= 4
    assert jobs("sim_ann_graph_beam") <= 4


def test_graph_walk_without_adjacency_broadcast(spark, sf_dir, monkeypatch):
    """Past ADJ_BROADCAST_MAX_ENTRIES the adjacency rows carry no
    broadcast hint. With automatic broadcasts off too, every hop is a
    shuffle join whose adjacency side is ONE exchange shared by all
    hops, and greedy and beam walks return the same rows."""
    from app_fastdata_spark.operators import similarity as S

    names = ("sim_ann_graph", "sim_ann_graph_beam")
    hinted = {n: sorted(map(tuple, getattr(S, n)(spark, sf_dir).collect()))
              for n in names}
    monkeypatch.setattr(S, "ADJ_BROADCAST_MAX_ENTRIES", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for n in names:
            df = getattr(S, n)(spark, sf_dir)
            assert sorted(map(tuple, df.collect())) == hinted[n]
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
            assert final.count("SortMergeJoin") == S.GRAPH_MAX_HOPS
            assert final.count("ReusedExchange") == S.GRAPH_MAX_HOPS - 1
    finally:
        spark.conf.set(key, old)


# Registered queries, each with the kernel that computes its answer (for
# the ANN recall twins, their exact baseline). A store holds an index or
# model, never a query's result, so every call runs the kernel again.
_SIM = "app_fastdata_spark.operators.similarity"
_DEDUP = "app_fastdata_spark.operators.dedup"
_RECOMPUTED = [
    (q, _SIM, "graph_search")
    for q in (
        "sim_ann_graph",
        "sim_ann_graph_recall",
        "sim_ann_graph_topk",
        "sim_ann_graph_multiseed",
        "sim_ann_graph_multiseed_recall",
        "sim_ann_graph_hd",
        "sim_ann_graph_hd_recall",
        "sim_ann_graph_beam",
        "sim_ann_graph_beam_recall",
    )
] + [
    (q, _SIM, "sim_topk_cosine")
    for q in ("sim_ann_recall", "sim_ann_pq_recall", "sim_ann_ivfpq_recall")
] + [
    ("sim_knn_graph_incremental", _SIM, "knn_graph_insert_frame"),
    ("dedup_ngram_jaccard_capped", _DEDUP, "capped_pair_sizes"),
    ("dedup_minhash_lsh", _DEDUP, "_minhash_lsh_frame"),
    ("dedup_edit_distance", "pyspark.sql.functions", "levenshtein"),
    ("bpe_train_merges", "app_fastdata_spark.operators.prep", "_two_merges_frames"),
]


@pytest.mark.parametrize(
    "query,module,kernel", _RECOMPUTED, ids=[q for q, _, _ in _RECOMPUTED]
)
def test_query_recomputes_its_result_on_every_call(
    spark, sf_dir, monkeypatch, query, module, kernel
):
    """Two calls of the query in one session run its kernel twice: no
    store serves the second call the first call's answer."""
    import importlib

    from app_fastdata_spark.catalog import queries

    mod = importlib.import_module(module)
    real = getattr(mod, kernel)
    calls = []

    def counted(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(mod, kernel, counted)
    for _ in range(2):
        queries()[query](spark, sf_dir).collect()
    assert len(calls) == 2, f"{query}: {kernel} ran {len(calls)} times"


def test_gemm_seam_auto_selects_by_row_count(spark, sf_dir, monkeypatch):
    """gemm=None picks the fold below GEMM_MIN_ROWS (what every driver
    testdata SF exercises — the oracle anchor) and the Arrow GEMM at or
    above it (what a 100 TB read takes). Observed via the physical
    plan: the GEMM path has a Python/Arrow stage, the fold is pure
    codegen."""
    from app_fastdata_spark.operators import similarity as S

    def has_python_stage(df):
        return "mapinpandas" in df._jdf.queryExecution().executedPlan().toString().lower()

    # memoized_build's key carries no GEMM seam state — exercise the
    # undecorated builders so the monkeypatched threshold is honored
    rp = S.embedding_rp_project.__wrapped__
    int8 = S.sim_ann_int8.__wrapped__
    assert not has_python_stage(rp(spark, sf_dir))
    monkeypatch.setattr(S, "GEMM_MIN_ROWS", 1)
    assert has_python_stage(rp(spark, sf_dir))
    assert has_python_stage(int8(spark, sf_dir))
