"""Property-based tests (hypothesis): operator semantics hold for ALL
inputs, not just the fixture distributions. Few examples, small frames —
each example runs real Spark jobs."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(ips=st.lists(st.integers(0, 2**32 - 1), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_ip_roundtrip_any_uint32(spark, ips):
    from app_fastdata_spark.functions.ip import int_to_ip, ip_to_int

    df = spark.createDataFrame([(i,) for i in ips], "ip long")
    out = df.select(
        "ip", ip_to_int(int_to_ip(F.col("ip"))).alias("back")
    ).collect()
    assert all(r.ip == r.back for r in out)


@given(
    gaps=st.lists(st.integers(0, 120), min_size=1, max_size=40),
    gap_rule=st.integers(1, 60),
)
@settings(**SETTINGS)
def test_session_starts_match_python_reference(spark, gaps, gap_rule):
    """The lag-window sessionizer equals a sequential fold for any
    inter-arrival sequence and any gap threshold."""
    from app_fastdata_spark.operators.sessions import session_starts_df

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ts, t = [], base
    for g in gaps:
        t = t + timedelta(seconds=g)
        ts.append(t)
    rows = [(i, t.replace(tzinfo=None), 1, "x", 0.0, None) for i, t in enumerate(ts)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    got = sorted(
        r.event_id for r in session_starts_df(df, gap_seconds=gap_rule).collect()
    )
    # python reference: first event starts a session; later events start one
    # iff the gap from the previous event exceeds the rule
    want = [0] + [i for i in range(1, len(ts)) if gaps[i] > gap_rule]
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    n_salts=st.integers(2, 8),
)
@settings(**SETTINGS)
def test_salted_sum_equals_direct(spark, rows, n_salts):
    from app_fastdata_spark.plans.skew import salted_sum

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k int, v long, rid long"
    )
    direct = {
        r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    salted = {
        r.k: r.v
        for r in salted_sum(df, "k", "v", salt_from="rid", n_salts=n_salts).collect()
    }
    assert direct == salted


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab1@. x-%_\n"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_pii_scrub_idempotent_and_clean_texts_unchanged(spark, texts):
    """Scrubbing is idempotent for ANY input (replacement tokens match no
    pattern), and a text the scan calls clean passes through unchanged."""
    from app_fastdata_spark.operators.textops import (
        pii_redaction_count_col,
        pii_scrub_col,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    once = pii_scrub_col(F.col("t"))
    out = df.select(
        "i",
        "t",
        once.alias("s1"),
        pii_scrub_col(once).alias("s2"),
        pii_redaction_count_col(F.col("t")).alias("n"),
    ).collect()
    for r in out:
        assert r.s1 == r.s2, (r.t, r.s1, r.s2)  # idempotent
        if r.n == 0:
            assert r.s1 == r.t, (r.t, r.s1)  # clean ⟹ untouched
        else:
            assert r.s1 != r.t


@given(
    typo=st.sampled_from(["click", "error", "purchase", "signup", "view"]),
    mutate=st.integers(0, 2),
)
@settings(**SETTINGS)
def test_fuzzy_argmin_resolves_exact_and_single_typo(spark, typo, mutate):
    """The levenshtein argmin idiom: a clean dim value resolves to itself
    at distance 0; a one-edit corruption resolves at distance 1 to a type
    within 1 edit of the corrupted string (the true source type unless an
    alternative is equally close — argmin tie-breaks alphabetically)."""
    from app_fastdata_spark.dims import EVENT_TYPES

    raw = {0: typo, 1: typo + "x", 2: typo[:-1]}[mutate]
    cands = F.array(
        *[
            F.struct(
                F.levenshtein(F.col("raw"), F.lit(t)).alias("lev"),
                F.lit(t).alias("t"),
            )
            for t in EVENT_TYPES
        ]
    )
    best = F.array_min(cands)
    r = (
        spark.createDataFrame([(raw,)], "raw string")
        .select(best["lev"].alias("lev"), best["t"].alias("t"))
        .collect()[0]
    )
    if mutate == 0:
        assert (r.lev, r.t) == (0, typo)
    else:
        assert r.lev == 1  # the true source is always 1 edit away

        def _lev(a: str, b: str) -> int:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        assert _lev(raw, r.t) == 1, (raw, r.t)


# pure-Python properties: no Spark jobs per example, so run MANY examples
_TEXT = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",)
        ),
        max_size=120,
    ),
)


@given(texts=st.lists(_TEXT, min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_shingle_hash_twin_matches_string_twin_on_any_text(texts):
    """For ANY unicode corpus (NULLs, emoji, CJK, control chars,
    whitespace variants): the int64-hash shingle UDF must keep exactly
    the docs the string UDF keeps, with exactly the same distinct
    counts per doc — the property the hashed pair source's na/nb and
    bucket membership depend on."""
    import pandas as pd

    from app_fastdata_spark.operators.dedup import (
        _py_shingle_hashes,
        _py_shingles,
    )

    s = pd.Series(texts, dtype="object")
    a = _py_shingles(s)
    b = _py_shingle_hashes(s)
    for sa, sb in zip(a, b):
        assert len(sa) == len(sb)
        # hash distinctness must not COLLAPSE distinct shingles
        assert len(set(sb)) == len(sb)


class _FakeState:
    """Minimal GroupState stand-in for driving the as-of fold directly."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


_EVENT = st.tuples(
    st.integers(0, 10_000),            # µs offset (small → many ts ties)
    st.booleans(),                     # is_purchase
)


@given(events=st.lists(_EVENT, min_size=1, max_size=40), split=st.integers(0, 40))
@settings(max_examples=150, deadline=None)
def test_stateful_asof_fold_matches_reference_and_composes(events, split):
    """The applyInPandasWithState as-of fold must equal the O(n²)
    RANGE-frame reference (every row sees ALL purchases with ts' <= ts,
    ts-peers INCLUDED) for any interleaving of purchases and duplicate
    timestamps — and running the same events as TWO time-split batches
    through one state must emit exactly the single-batch answer."""
    import pandas as pd

    from app_fastdata_spark.streaming.stateful import _asof_backward

    # deterministic ids; µs offsets quantized so ties are common
    rows = [
        (i, pd.Timestamp(2024, 1, 1) + pd.Timedelta(microseconds=(us // 7) * 7),
         "purchase" if p else "view")
        for i, (us, p) in enumerate(events)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])

    # O(n²) reference of the batch window semantics
    want = {}
    for _, r in pdf.iterrows():
        peers = pdf[pdf["ts"] <= r["ts"]]
        p = peers[peers["event_type"] == "purchase"]
        want[r["event_id"]] = (
            None if p.empty else p["ts"].max(),
            len(p),
        )

    def run(batches):
        state = _FakeState()
        fn = _asof_backward()
        got = {}
        for b in batches:
            if b.empty:
                continue
            for out in fn((7,), iter([b]), state):
                for _, r in out.iterrows():
                    # update-mode upsert, latest-wins: purchases_so_far
                    # is monotone per event, so max() IS the newest row
                    cur = got.get(r["event_id"])
                    if cur is not None and cur[1] >= int(r["purchases_so_far"]):
                        continue
                    got[r["event_id"]] = (
                        None if pd.isna(r["last_purchase_ts"])
                        else r["last_purchase_ts"],
                        int(r["purchases_so_far"]),
                    )
        return got

    assert run([pdf]) == want

    # two-batch composition: split by TIME (the ingest contract — each
    # user's events arrive time-ordered across batches)
    srt = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    cut = min(split, len(srt))
    got2 = run([srt.iloc[:cut], srt.iloc[cut:]])
    assert got2 == want


@given(
    offsets=st.lists(st.integers(0, 200), min_size=1, max_size=40),
    split=st.integers(0, 40),
    gap_s=st.integers(1, 5),
)
@settings(max_examples=150, deadline=None)
def test_stateful_sessionize_fold_matches_reference_and_composes(
    offsets, split, gap_s
):
    """The sessionizer fold (30 s-gap splitting, ST2) must equal the
    direct gap-split reference for any event spacing — duplicate
    timestamps, gaps landing EXACTLY on the boundary (<= keeps, >
    splits), single-event sessions — and any time-ordered two-batch
    split must upsert to the same final sessions (the fold only looks
    BACKWARD, so unlike the as-of's RANGE peers no re-emission logic is
    needed; this pins that reasoning)."""
    import pandas as pd

    from app_fastdata_spark.streaming.stateful import _sessionize

    ts = sorted(pd.Timestamp(2024, 1, 1) + pd.Timedelta(seconds=o) for o in offsets)
    pdf = pd.DataFrame({"ts": pd.Series(ts, dtype="datetime64[ns]")})

    # direct reference: gap-split over the sorted series
    want: dict = {}
    start = last = None
    n = 0
    for t in ts:
        if last is not None and (t - last).total_seconds() <= gap_s:
            last, n = t, n + 1
        else:
            if start is not None:
                want[start] = max(want.get(start, 0), n)
            start, last, n = t, t, 1
    want[start] = max(want.get(start, 0), n)

    def run(batches):
        state = _FakeState()
        fn = _sessionize(gap_s)
        got: dict = {}
        for b in batches:
            if b.empty:
                continue
            for out in fn(("s", "d"), iter([b]), state):
                for _, r in out.iterrows():
                    k = r["session_start"]
                    got[k] = max(got.get(k, 0), int(r["n_events"]))
        return got

    assert run([pdf]) == want
    cut = min(split, len(pdf))
    assert run([pdf.iloc[:cut], pdf.iloc[cut:]]) == want


@given(
    offsets=st.lists(st.integers(0, 400), min_size=1, max_size=40),
    split=st.integers(0, 40),
    gap_s=st.integers(1, 10),
)
@settings(max_examples=150, deadline=None)
def test_stateful_debounce_fold_matches_reference_and_composes(
    offsets, split, gap_s
):
    """The debounce fold (drop events within gap of the previous RAW
    event) must equal the sequential reference for any spacing —
    duplicate timestamps (gap 0 suppressed), gaps exactly ON the
    boundary (strict >: boundary suppressed), singletons — and any
    time-ordered two-batch split must keep exactly the same survivors
    with the same gap stamps (backward-looking fold: composition needs
    only the last-raw-event state)."""
    import pandas as pd

    from app_fastdata_spark.streaming.stateful import _debounce

    ts = sorted(
        pd.Timestamp(2024, 1, 1) + pd.Timedelta(milliseconds=o * 500)
        for o in offsets
    )
    pdf = pd.DataFrame(
        {
            "event_id": range(len(ts)),
            "ts": pd.Series(ts, dtype="datetime64[ns]"),
        }
    )

    # sequential reference over the sorted series
    want: dict = {}
    last = None
    for i, t in enumerate(ts):
        gap = None if last is None else (t - last).total_seconds()
        if gap is None or gap > gap_s:
            want[i] = gap
        last = t

    def run(batches):
        state = _FakeState()
        fn = _debounce(gap_s)
        got: dict = {}
        for b in batches:
            if b.empty:
                continue
            for out in fn((7, "click"), iter([b]), state):
                for _, r in out.iterrows():
                    got[int(r["event_id"])] = (
                        None if pd.isna(r["prev_gap_s"]) else r["prev_gap_s"]
                    )
        return got

    def close(a, b):
        if set(a) != set(b):
            return False
        for k in a:
            if (a[k] is None) != (b[k] is None):
                return False
            if a[k] is not None and abs(a[k] - b[k]) > 1e-9:
                return False
        return True

    assert close(run([pdf]), want)
    cut = min(split, len(pdf))
    assert close(run([pdf.iloc[:cut], pdf.iloc[cut:]]), want)


# the characters the sweeps plant individually, fuzzed in combination:
# ASCII, regex metacharacters, NBSP (Java \s does NOT match it), tab/
# newline (trim must NOT eat them — Spark/DuckDB trim is spaces-only),
# sharp-s (uppercase SS), precomposed é AND combining accent, CJK, emoji
_XENG_ALPHABET = (
    "ab z.*+?()[]|\\\t\n ßéé中文\U0001f600"
)


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(_XENG_ALPHABET), max_size=40),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=100, deadline=None)
def test_shingle_tokenizer_cross_engine_fuzz(texts):
    """Every documents oracle rides the assumption that the Python
    shingle UDF and the DuckDB SQL shingle CTE tokenize IDENTICALLY.
    The sweeps pin specific planted strings; this fuzzes combinations
    over the risky alphabet (NBSP, sharp-s, combining accents, CJK,
    emoji, regex metacharacters, mixed whitespace) — a divergence here
    is a latent oracle flake waiting for the first such doc in
    driver-generated testdata."""
    import duckdb
    import pandas as pd

    from app_fastdata_spark.operators.dedup import _SQL_SHINGLES, _py_shingles

    py = _py_shingles(pd.Series(texts, dtype="object"))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)",
        list(texts),
    )
    rows = con.execute(
        f"SELECT doc_id, shingles FROM ({_SQL_SHINGLES}) ORDER BY doc_id"
    ).fetchall()
    ddb = {r[0]: r[1] for r in rows}
    for i, sh in enumerate(py):
        # the UDF emits [] for <3-token docs; the SQL's WHERE drops them
        want = ddb.get(i, [])
        assert sorted(sh) == sorted(want), (texts[i], sorted(sh), sorted(want))


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(-(10**12), 10**12),  # numerator (signed: refunds)
            st.integers(1, 10**9),           # denominator > 0
        ),
        min_size=1,
        max_size=200,
    ),
    k=st.integers(0, 6),
)
# |a·10^k/b| past 2^53: the quotient must not round twice on its way to
# the double
@example(pairs=[(-900719925475, 1)], k=4)
@settings(**SETTINGS)
def test_round_ratio_cross_engine_fuzz(spark, pairs, k):
    """The house integer-rounding identity (functions/rounding.py) that
    every ratio oracle rides must agree Spark-vs-DuckDB for ANY signed
    numerator / positive denominator at any scale 0..6 — including the
    exact half-way points where naive round(a/b, k) is engine-divergent
    — and must equal the Python reference (round-half-up for a >= 0,
    half-toward-zero for a < 0)."""
    import duckdb

    from app_fastdata_spark.functions.rounding import (
        round_ratio,
        sql_round_ratio,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a long, b long"
    )
    got = {
        r.i: r.v
        for r in df.select("i", round_ratio("a", "b", k).alias("v")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, a BIGINT, b BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
    )
    want = dict(
        con.execute(
            f"SELECT i, {sql_round_ratio('a', 'b', k)} FROM t"
        ).fetchall()
    )
    assert got == want
    p = 10**k
    for i, (a, b) in enumerate(pairs):
        # python reference via integer arithmetic (// floors, so mirror
        # the truncate-toward-zero div explicitly)
        num, den = 2 * p * a + b, 2 * b
        q = abs(num) // abs(den)
        if (num < 0) != (den < 0):
            q = -q
        assert got[i] == q / p, (a, b, k)
