"""The bench driver contract: the FINAL stdout line must parse as JSON
and fit the driver's ~2000-char output-tail window with the five
serving queries visible — BENCH_r07/r08 were `parsed: null` because the
single full-dump line overflowed it. No SparkSession needed."""

from __future__ import annotations

import json

import pytest

from bench import COMPACT_HARD_CAP, HEADLINE, SERVING, compact_line


def _fake_timings(names):
    # deterministic pseudo-times spanning 0-4s
    return {n: round((i * 37 % 400) / 100, 3) for i, n in enumerate(names)}


def test_compact_line_fits_and_parses_for_current_headline():
    timings = _fake_timings(HEADLINE)
    line = compact_line(123.456, timings, 0.1, 2, 0, load1=[31.12, 2.4])
    assert len(line) <= COMPACT_HARD_CAP
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total_wall"
    assert d["n_queries"] == len(HEADLINE)
    # the contention self-description must survive into the final line
    assert d["load1"] == [31.12, 2.4]
    # every serving query present at 2dp
    for s in SERVING:
        assert s in d["queries"], s
        assert d["queries"][s] == round(timings[s], 2)
    # the worst non-serving query must be visible
    worst = max(
        (n for n in timings if n not in SERVING), key=lambda n: timings[n]
    )
    assert worst in d["worst"]


def test_compact_line_carries_cold_total():
    """r13 verdict Next #1: the artifact and the final line must carry
    the cold (first-run) total next to the warm min-of-RUNS headline, so
    per-data-version artifact builds are never invisible."""
    timings = _fake_timings(HEADLINE)
    line = compact_line(123.456, timings, 0.1, 2, 0, total_cold=200.5)
    assert len(line) <= COMPACT_HARD_CAP
    d = json.loads(line)
    assert d["value_cold"] == 200.5
    assert d["value"] == 123.456


def test_compact_line_survives_pathological_registry():
    # 400 queries with 60-char names — far past any real registry; the
    # worst-list must self-truncate instead of overflowing
    names = [f"impossibly_long_operator_name_padding_{i:03d}_" + "x" * 20
             for i in range(400)]
    names[:5] = SERVING  # keep the serving set present
    timings = _fake_timings(names)
    line = compact_line(999.9, timings, 0.1, 2, 3)
    assert len(line) <= COMPACT_HARD_CAP
    d = json.loads(line)
    assert d["n_queries"] == 400
    assert d["cc_dist_label_errors"] == 3
    assert len(d["worst"]) >= 1  # still says SOMETHING about the tail


def test_compact_line_handles_missing_serving_queries():
    # a subset bench run (env-filtered HEADLINE) must not KeyError
    timings = _fake_timings(["only_one_query"])
    line = compact_line(1.0, timings, 0.001, 1, 0)
    d = json.loads(line)
    assert d["queries"] == {} and d["n_queries"] == 1


def test_compact_line_degrades_instead_of_asserting_past_hard_cap():
    """The hard cap fails SAFE (r9 ADVICE): if even the worst-free line
    overflows — e.g. a serving rename to absurd lengths — the fallback
    drops serving entries until it fits, so a parseable final line is
    ALWAYS emitted (an assert would strip under python -O and leave the
    oversized full dump as the process's last line)."""
    import bench

    huge = {("s" * 400) + str(i): 1.0 for i in range(5)}
    orig = bench.SERVING
    bench.SERVING = list(huge)
    try:
        line = compact_line(1.0, huge, 0.1, 2, 0)
    finally:
        bench.SERVING = orig
    assert len(line) <= COMPACT_HARD_CAP
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total_wall"


def test_query_selector_orders_names_and_rejects_unknown_before_spark(
    monkeypatch,
):
    """`python bench.py [query ...]`: no names times HEADLINE in order,
    names time exactly those in the given order, and an unknown name
    exits non-zero, listing it, before a SparkSession is asked for."""
    import bench

    assert bench.select_queries([]) == HEADLINE
    assert bench.select_queries(["tpch_q16_supplier_cnt", "top_users"]) == [
        "tpch_q16_supplier_cnt",
        "top_users",
    ]

    def no_spark(*_a, **_k):
        raise AssertionError("SparkSession requested")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(["top_users", "no_such_query", "nor_this"])
    assert exc.value.code != 0
    assert "no_such_query nor_this" in str(exc.value.code)
