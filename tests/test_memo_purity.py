"""The honesty contract behind the registry-wide plan memoization (r14).

``memoized_build`` gives a query builder prepared-statement semantics:
the DataFrame PLAN is reused per data-version stamp, but every action
still executes the plan in full. That is only honest while the builder
is a pure plan constructor — a builder that runs eager Spark jobs at
build time would have that computation amortized away by the memo and
silently excluded from the bench's warm (min-of-RUNS) timing, the exact
result-shadowing the r13 verdict flagged.

This test pins the invariant at the same seam the r14 audit used: for
every memoized headline builder, a steady-state build of the UNDECORATED
function (session artifacts pre-warmed, so this measures what the memo
replaces on a warm run) must trigger ZERO Spark jobs. The r13-era
builder whose eager dim-sized literal collects are documented and
visible in the cold totals is the frozen allowlist; nothing may be
added to it without the same documentation trail.
"""

from __future__ import annotations

import pytest

from app_fastdata_spark.catalog import queries
from bench import HEADLINE

# The one memoized builder that still runs eager dim-sized literal jobs
# at every build (collected percentile maps inlined as literals). Its
# build cost IS visible in the bench's cold totals; the memo amortizes
# it on the warm path by design, documented in OPTIMIZATION_r13.md /
# OPTIMIZATION_r14.md.
EAGER_BUILD_ALLOWLIST = {"events_value_mad"}


@pytest.mark.slow
def test_memoized_headline_builders_are_pure_plan_constructors(spark, sf_dir):
    qs = queries()
    memoized = [n for n in HEADLINE if hasattr(qs[n], "__wrapped__")]
    assert len(memoized) >= 80, "registry-wide memoization regressed"

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    impure = {}
    for name in memoized:
        fn = qs[name].__wrapped__
        # pre-warm session artifacts (shingle/tf/index stores) so the
        # measured build is the steady state the memo replaces
        fn(spark, sf_dir)
        grp = f"memo-purity-{name}"
        sc.setJobGroup(grp, name)
        try:
            fn(spark, sf_dir)
        finally:
            sc.setJobGroup(None, None)
        n_jobs = len(tracker.getJobIdsForGroup(grp))
        if n_jobs:
            impure[name] = n_jobs

    undocumented = set(impure) - EAGER_BUILD_ALLOWLIST
    assert not undocumented, (
        "memoized builders ran eager jobs at build time without a "
        f"documented allowlist entry: { {n: impure[n] for n in undocumented} }"
    )
