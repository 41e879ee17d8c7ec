"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k is the correctness baseline; the IVF-style
coarse-quantizer variant is the 100 TB scale path (probe p of L coarse
cells instead of scanning everything).

Determinism/oracle strategy: dot products are computed in DOUBLE with
strict left-to-right accumulation on BOTH engines — Spark via
`aggregate(zip_with(...))` (foldLeft) and DuckDB via an explicit 64-term
left-associative sum expression — so cosines match bit-for-bit and the
value hash is stable. Cosines are additionally rounded to 9 dp on output.

Scale notes: queries are broadcast (Q ≪ N); the N-side scan is a pure
projection + per-query top-k (window over query_id — Q partitions, each
a heap-k). The embedding-cosine near-dup dedup path reuses this module's
IVF cells to avoid the O(N²) pair join.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memoized_build, persisted_get, session_get, stamp_key
from ..registry import register
from ..tables import (
    load_table, narrow_single_split_scan, parquet_num_rows, widen_small_scan
)

DIM = 64
N_QUERIES = 20          # vec_id < 20 are the query set
TOP_K = 5
IVF_NPROBE = 2


def dot(a: Column, b: Column) -> Column:
    """Double-precision left-to-right dot product (foldLeft — matches the
    oracle's left-associative sum exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _sql_dot(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"(({_sql_dot(a, b)}) / "
        f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"
    )


def _sql_cos_n(a_vec: str, a_nrm: str, b_vec: str, b_nrm: str) -> str:
    """Cosine with PRE-COMPUTED norms — the same arithmetic as
    _sql_cosine (dot / (sqrt(a·a) * sqrt(b·b)), left factor first) with
    the two sqrt folds read from the `en` CTE instead of re-expanded
    inline. Bit-identical doubles; the 64-term dot expansion drops from
    3 evaluations per pair to 1, which is the DuckDB-side memory/CPU
    lever for the join-heavy ANN oracles (the r9 driver ran these five
    back-to-back into an allocator-ceiling OOM cascade)."""
    return f"(({_sql_dot(a_vec, b_vec)}) / ({a_nrm} * {b_nrm}))"


# --- the validity gate every embedding consumer shares ----------------------
# A real embeddings shard carries malformed rows: NULL vectors, ragged
# (wrong-length) vectors, NULL components, NULL ids, all-zero vectors,
# and non-finite (NaN/±Inf) components. Unfiltered, each breaks a
# different stage — np.stack turns a ragged batch into an object array
# and the GEMM dies, a NULL id corrupts int64 across Arrow, a zero
# vector has norm 0 so every cosine divides by zero (which Spark under
# ANSI turns into a query-aborting DIVIDE_BY_ZERO where DuckDB returns
# NULL — the r8 embeddings sweep planted exactly these rows and 9 of 13
# oracles crashed), and one NaN component poisons every sum it touches:
# a single NaN vector turns the whole Gram matrix NaN, passes
# vec_nonzero (NaN != 0 is TRUE on both engines), and floats to the TOP
# of cosine rankings (IEEE total order sorts NaN greatest) — the r9
# NaN/Inf plants broke 4 oracles, including a NaN→BIGINT ANSI cast
# abort. The predicate is defined ONCE for both engines; `nonzero` adds
# the norm>0 requirement for direction-based (cosine/LSH/IVF) consumers
# — magnitude-based ones (Gram, dim stats) keep zero vectors.
def vec_valid() -> Column:
    # built at CALL time, never module scope: Column construction needs
    # an active SparkContext, and the driver contract imports session-less
    return (
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        & ~F.exists(
            "embedding",
            # component invalid if NULL or non-finite (Spark has no
            # isfinite builtin; |x| = +Inf catches both infinities)
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
    )


def vec_nonzero() -> Column:
    return F.exists("embedding", lambda x: x != 0)


SQL_EMB_VALID = (
    "vec_id IS NOT NULL AND embedding IS NOT NULL"
    f" AND len(embedding) = {DIM}"
    # isfinite(NULL) is NULL, NOT NULL is NULL, x IS NULL OR NULL is
    # TRUE for a NULL x — the filter keeps every bad-component shape
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
)
SQL_EMB_UNIT = (
    SQL_EMB_VALID + " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)
# The oracle-side twin: prepend as the first CTE and read FROM emb.
SQL_EMB_CTE = (
    f"emb AS (SELECT * FROM embeddings WHERE {SQL_EMB_UNIT})"
)

# Norm-augmented twin for the cosine-heavy oracles: one materialized
# pass computes each vector's norm, so downstream joins evaluate ONE
# 64-term dot per pair instead of three (see _sql_cos_n). MATERIALIZED
# is load-bearing here — it pins a single N-row evaluation where
# inlining would re-expand the sqrt fold at every reference.
SQL_EN_CTE = (
    "en AS MATERIALIZED (SELECT vec_id, embedding, "
    f"sqrt({_sql_dot('embedding', 'embedding')}) AS nrm FROM emb)"
)


def load_vectors(
    spark: SparkSession, sf_dir: str, nonzero: bool = False
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(vec_valid())
    if nonzero:
        emb = emb.filter(vec_nonzero())
    return emb


# --- brute-force top-k ----------------------------------------------------

@memoized_build("embeddings")
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are computed ONCE PER SIDE before the join (N+Q folds), not
    # per pair (3·N·Q folds inside cosine()) — same left-to-right double
    # arithmetic, bit-identical cosines, measured 1.0s → 0.75s at sf0.1.
    emb = load_vectors(spark, sf_dir, nonzero=True)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
    )
    # widen the CANDIDATE side only (r13 stage profile: the single-file
    # scan put all Q·N fold evaluations in one task); the query side
    # stays narrow so its broadcast build adds no exchange.
    cand = widen_small_scan(
        emb, path=f"{sf_dir}/embeddings.parquet"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        norm(F.col("embedding")).alias("en"),
    )
    scored = (
        cand.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            dot(F.col("qvec"), F.col("embedding")) / (F.col("qn") * F.col("en")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 9).alias("cos"))
    )


# The exact-top-k tail, FROM a norm-augmented `en` CTE (mirrors the
# Spark side's norms-once-per-side shape — see sim_topk_cosine).
_TOPK_TAIL_SQL = f"""
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM en
      WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_n("q.qvec", "q.qn", "e.embedding", "e.nrm")} AS cos
      FROM q JOIN en e ON e.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS INTEGER)
               AS rank,
             neighbor_id, round(cos, 9) AS cos
      FROM scored
      QUALIFY rank <= {TOP_K}
    )
"""

_TOPK_SQL = f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_TOPK_TAIL_SQL}
    SELECT query_id, rank, neighbor_id, cos FROM exact
    """

register("sim_topk_cosine", sql=_TOPK_SQL)(sim_topk_cosine)


# --- embedding cosine near-dup (dedup family, oracle-checked) -------------

NEAR_DUP_COSINE = 0.95

# Input-size gate for the brute-force all-pairs anchor: the
# inequality-only join is a nested-loop cross product (N²/2 dot
# products), so beyond a bounded vector count it is one queries() call
# away from a quadratic blow-up on a real embeddings table. Same
# pattern as dedup.UNCAPPED_MAX_DOCS — cheap driver-side count, explicit
# opt-in (max_vecs=None) to go bigger.
BRUTE_FORCE_MAX_VECS = 50_000


def _guard_brute_force(spark: SparkSession, sf_dir: str, op: str, max_vecs) -> None:
    if max_vecs is None:
        return
    n = load_table(spark, sf_dir, "embeddings").count()
    if n > max_vecs:
        raise ValueError(
            f"{op} is a small-SF correctness ANCHOR (all-pairs nested-loop "
            f"join, quadratic in vector count): embeddings has {n} vectors > "
            f"max_vecs={max_vecs}. Use the IVF-bucketed twin "
            "(dedup_embedding_cosine_bucketed) or the ANN paths at scale, "
            "or pass max_vecs=None to opt in explicitly."
        )


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, max_vecs: int | None = BRUTE_FORCE_MAX_VECS
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold. Brute-force pair join —
    the inequality-only join plans as a nested-loop cross product, so this
    is strictly a small-SF correctness ANCHOR (kept out of bench, and
    input-gated via `max_vecs` — see _guard_brute_force); the scale path
    is `dedup_embedding_cosine_bucketed` below."""
    _guard_brute_force(spark, sf_dir, "dedup_embedding_cosine", max_vecs)
    emb = load_vectors(spark, sf_dir, nonzero=True)
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na_"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb_"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na_") * F.col("nb_")), 9),
        )
        .filter(F.col("cos") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", "cos")
    )


register(
    "dedup_embedding_cosine",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE}
    SELECT vec_a, vec_b, cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_sql_cos_n("a.embedding", "a.nrm", "b.embedding", "b.nrm")},
                   9) AS cos
      FROM en a JOIN en b ON a.vec_id < b.vec_id
    ) WHERE cos >= {NEAR_DUP_COSINE}
    """,
)(dedup_embedding_cosine)


# --- bucketed embedding near-dup (the 100 TB scale path) ------------------

NEAR_DUP_NPROBE = 2     # each vector lands in its 2 nearest cells
_ASSIGN_DP = 6          # assignment scores quantized before ranking (parity)
_GEMM_BLOCK = 1024      # rows per GEMM block inside a cell (bounds memory)

# Default-at-scale seam for the two interpreted-HOF oracle anchors (JL
# fold, int8 quantized scan): at or above this row count the operator
# takes its Arrow GEMM shape automatically; below it, the left-fold
# arithmetic the cross-engine oracle pins. Same cheap-driver-count
# pattern as dedup.UNCAPPED_MAX_DOCS. Every driver testdata SF sits
# far below (2k vectors at sf0.1), so the correctness gate always
# exercises the pinned fold; the envelope tests pin fold==GEMM (exact
# for the integer int8 path, <=1e-9 for the JL doubles).
GEMM_MIN_ROWS = 100_000


def _gemm_seam(
    spark: SparkSession, sf_dir: str, emb: DataFrame, tag: str
) -> bool:
    """The gemm=None auto-seam decision without a PER-INVOCATION Spark
    job (r11 ADVICE — emb.count() was a full-scan job paid on every
    call of the two seam queries). Two tiers: the parquet FOOTER row
    count (no job at all) decides whenever it is decisive — footer <
    threshold implies the filtered count is too — and only a footer
    count at or above the threshold falls through to the exact
    filtered count, computed ONCE per (session, input stamp) via the
    session cache. The exact count matters at the boundary because the
    JL projection's two sides agree only to a 1e-9 envelope: a
    footer-only seam could flip a corpus whose raw rows cross 100k
    while its VALID rows do not, diverging from a fold-pinned oracle
    exactly at the seam."""
    n = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    if n is not None and n < GEMM_MIN_ROWS:
        return False
    # the two seam callers pass differently-filtered frames (int8:
    # valid+nonzero; JL: valid only) — key the cached count per frame
    # flavor so one cannot serve the other's number
    exact = session_get(
        f"emb_seam_count-{tag}",
        stamp_key(spark, sf_dir, "embeddings"),
        lambda: emb.count(),
    )
    return exact >= GEMM_MIN_ROWS


# Assignment-score quantizer, defined ONCE for both engines so the
# tie-break mode cannot diverge: floor(x·1e6 + 0.5)/1e6 is half-UP in
# numpy AND in any SQL engine (np.round is half-to-even, DuckDB's round
# is half-away-from-zero — a score landing exactly on a 5e-7 boundary
# would rank cells differently between them).
def _q_assign_np(x):
    return np.floor(x * 1e6 + 0.5) / 1e6


def _sql_q_assign(expr: str) -> str:
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


def _ivf_stride(n_vec: int) -> int:
    """Centroid stride for ~√N cells: assignment work is N·k and refine
    work is N²·nprobe²/k, so k=√N balances them at N^1.5 total dot
    products — the classic IVF coarse-quantizer sizing. A fixed stride
    (the round-2 shape) made k grow like N, turning assignment into an
    O(N²) GEMM and collecting O(N) centroids to the driver."""
    return max(1, math.isqrt(n_vec))


# Centroid broadcasts, one per (app, sf_dir, file stamp): repeated
# invocations (bench loops, driver re-runs) reuse the broadcast instead
# of accumulating new broadcast blocks on executors. Lifecycle lives in
# cache.session_get: keyed by applicationId so a new session never sees
# a stale handle, by the source file's stamp so an in-place rewrite
# re-collects, superseded/dead-app entries unpersisted on insert.


def _stride_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ⌊√N⌋-stride (vec_id, embedding) rows — the RAW model rows
    behind BOTH the IVF centroid broadcast and the PQ codebooks (same
    stride convention, same membership). Persisted as a parquet index
    directory (cache.persisted_get, like knn_edges): a cold session
    collects the stored √N rows instead of paying the nonzero count()
    plus the filtered corpus scan — the trained-quantizer artifact a
    deployment keeps next to its index files."""

    def build():
        emb = load_vectors(spark, sf_dir, nonzero=True)
        stride = _ivf_stride(emb.count())
        return emb.filter(F.col("vec_id") % stride == 0).select(
            "vec_id", "embedding"
        )

    return persisted_get(
        "ivf_model-v1",
        spark,
        sf_dir,
        "embeddings",
        "vec_id long, embedding array<float>",
        build,
    )


def _centroid_broadcast(spark: SparkSession, sf_dir: str):
    """(cell_ids, normalized centroid matrix) broadcast for sf_dir's
    embeddings, collected and shipped at most once per Spark app (per
    file version — see the session_get lifecycle note above)."""

    def build():
        cent = sorted(
            _stride_rows(spark, sf_dir).collect(), key=lambda r: r.vec_id
        )
        cell_ids = np.array([r.vec_id for r in cent], dtype=np.int64)
        C = np.array([r.embedding for r in cent], dtype=np.float64)
        if C.size:
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        else:
            # empty embeddings table ("the arriving shard is empty"):
            # a (0, 0) matrix keeps every downstream GEMM/assignment a
            # well-formed empty result instead of an axis error
            Cn = C.reshape(0, 0)
        return spark.sparkContext.broadcast((cell_ids, Cn))

    return session_get(
        "centroid_bc",
        stamp_key(spark, sf_dir, "embeddings"),
        build,
        release=lambda bc: bc.unpersist(blocking=False),
    )


def _top_cells_udf(bc, nprobe: int):
    """Pandas UDF: each vector's `nprobe` nearest centroid ids, via one
    numpy GEMM against the broadcast centroid matrix. Scores are
    quantized to _ASSIGN_DP dp via the shared half-up quantizer
    (_q_assign_np / _sql_q_assign — same fold AND same tie mode on both
    engines) before ranking (cell_id tiebreak) so numpy's
    pairwise-summed double and a SQL engine's left-folded double rank
    identically — the cross-engine parity contract shared by every IVF
    consumer (bucketed near-dup, sim_ann_ivf)."""

    @F.pandas_udf("array<long>")
    def top_cells(embedding: pd.Series) -> pd.Series:
        b_ids, b_cn = bc.value
        X = np.array(embedding.tolist(), dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        scores = _q_assign_np(Xn @ b_cn.T)
        # rank by (-score, cell_id): lexsort keys are last-key-primary
        order = np.lexsort(
            (np.broadcast_to(b_ids, scores.shape), -scores), axis=1
        )[:, :nprobe]
        return pd.Series(list(b_ids[order]))

    # The function is PURE (fixed broadcast matrix, fixed quantizer) —
    # the marker is a PLANNER fence, not a semantics claim: Catalyst
    # happily re-evaluates a deterministic expression once per
    # reference, and the equi-join's pushed isnotnull(cell_id) filter
    # was planning a SECOND full assignment GEMM below the projection
    # in every IVF consumer (sim_ann_ivf ran 4 Arrow stages instead of
    # 2). Non-determinism pins one evaluation per subtree; the only
    # lost optimization is pushing other predicates through this
    # projection, which sits directly on the gated scan anyway.
    return top_cells.asNondeterministic()


def dedup_embedding_cosine_bucketed(
    spark: SparkSession, sf_dir: str, threshold: float = NEAR_DUP_COSINE
) -> DataFrame:
    """Near-dup pairs via IVF-cell bucketing with per-cell vectorized
    refine — the 100 TB path (the all-pairs anchor is a nested-loop
    cross product, O(N²)).

    Shape: (1) centroids — every `stride`-th vector, stride=⌊√N⌋, so
    centroid count ≈ √N — are collected once (driver memory O(√N)) and
    shipped via `SparkContext.broadcast` (once per executor, not per
    task); (2) each vector's 2 nearest cells come from ONE vectorized
    Pandas-UDF projection (numpy GEMM against the broadcast centroid
    matrix — the interpreted per-element HOF fold was ~40k dots/s, the
    GEMM is millions/s); (3) vectors shuffle ONCE on cell_id; (4)
    `applyInPandas` per cell runs a blocked E·Eᵀ GEMM and emits only
    pairs above the threshold — candidate pairs never materialize as
    Spark rows. Total work is O(N^1.5·nprobe²) dot products (assignment
    N·√N, refine N²·nprobe²/√N); per-cell population is ~nprobe·√N in
    expectation (a pathological everything-identical cell degrades to
    its own blocked GEMM, bounded by `_GEMM_BLOCK` rows per block).

    Cross-engine parity (the oracle mirrors this in SQL, including the
    √N stride via a scalar subquery): assignment ranks compare scores
    ROUNDED to 6 dp with cell_id tiebreak, so numpy's pairwise-summed
    double and DuckDB's left-folded double — which differ only at
    ~1e-16 — rank identically; output cosines are rounded to 9 dp on
    both sides. Tests pin full recall on planted near-identical vectors;
    recall < 1 by design for merely-similar pairs that straddle a cell
    boundary past rank 2.
    """
    # session_get (r13): the exploded top-NEAR_DUP_NPROBE cell layout is
    # threshold-independent — one materialized artifact serves both the
    # production-threshold query and the loose twin, instead of each
    # execution re-running the assignment GEMM over the corpus.
    def _build_cells() -> DataFrame:
        emb = load_vectors(spark, sf_dir, nonzero=True)
        bc = _centroid_broadcast(spark, sf_dir)
        nprobe = min(NEAR_DUP_NPROBE, len(bc.value[0]))
        top_cells = _top_cells_udf(bc, nprobe)
        return (
            emb.select(
                "vec_id", "embedding", top_cells("embedding").alias("cells")
            )
            .select("vec_id", "embedding", F.explode("cells").alias("cell_id"))
            .localCheckpoint()
        )

    assign = session_get(
        "ivf_cells_neardup",
        stamp_key(spark, sf_dir, "embeddings"),
        _build_cells,
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        out_a, out_b, out_c = [], [], []
        for s in range(0, len(ids), _GEMM_BLOCK):
            block = slice(s, s + _GEMM_BLOCK)
            G = np.round(En[block] @ En.T, 9)
            bi, bj = np.nonzero(G >= threshold)
            gi = bi + s
            keep = ids[gi] < ids[bj]
            out_a.append(ids[gi][keep])
            out_b.append(ids[bj][keep])
            out_c.append(G[bi[keep], bj[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return (
        assign.groupBy("cell_id")
        .applyInPandas(cell_pairs, "vec_a long, vec_b long, cos double")
        .distinct()
    )


def _bucketed_neardup_sql(threshold: float) -> str:
    return f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    stride AS (
      -- mirror _ivf_stride: ⌊√N⌋ centroids (isqrt == FLOOR(SQRT) for
      -- any N a test SF reaches; doubles are exact to 2^53) over the
      -- GATED vector set (the Spark side counts the same frame)
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS s
      FROM emb
    ),
    centroids AS (
      SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm FROM en
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, cell_id FROM (
        SELECT e.vec_id, e.embedding, e.nrm, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn <= {NEAR_DUP_NPROBE}
    )
    SELECT DISTINCT vec_a, vec_b, cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_sql_cos_n("a.embedding", "a.nrm", "b.embedding", "b.nrm")},
                   9) AS cos
      FROM assign a JOIN assign b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    ) WHERE cos >= {threshold}
    """


register(
    "dedup_embedding_cosine_bucketed", sql=_bucketed_neardup_sql(NEAR_DUP_COSINE)
)(dedup_embedding_cosine_bucketed)


# The synthetic embeddings carry no true near-dups (max pairwise cosine
# ~0.5 at sf0.01), so the production-threshold query is oracle-green on
# an EMPTY result. This looser twin exists to make the driver evidence
# substantive: same plan, threshold where the corpus has real pairs, so
# the value-hash check covers non-trivial output.
SIMILAR_PAIR_COSINE = 0.4


def dedup_embedding_cosine_bucketed_loose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_embedding_cosine_bucketed at a merely-similar threshold."""
    return dedup_embedding_cosine_bucketed(
        spark, sf_dir, threshold=SIMILAR_PAIR_COSINE
    )


register(
    "dedup_embedding_cosine_bucketed_loose",
    sql=_bucketed_neardup_sql(SIMILAR_PAIR_COSINE),
)(dedup_embedding_cosine_bucketed_loose)


# --- random-hyperplane LSH ANN -------------------------------------------

LSH_PLANES = 16          # signature bits
LSH_BANDS = 4            # 4 bands × 4 bits → 16 buckets/band
LSH_BITS_PER_BAND = LSH_PLANES // LSH_BANDS


def _hyperplanes(planes: int = LSH_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic hyperplanes via a fixed LCG. Components are k/4096-0.5
    (exact binary fractions), so the Python literal, the Spark literal, and
    the DuckDB literal are all the SAME double — signature bits match
    bit-for-bit across engines."""
    out: list[list[float]] = []
    state = 0x5DEECE66D
    for _ in range(planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) % 4096) / 4096 - 0.5)
        out.append(row)
    return out


_HP = _hyperplanes()


@memoized_build("embeddings")
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: candidates share ≥1 of 4 band buckets,
    then exact-cosine re-rank top-k.

    Scale path: the banded signature turns the O(N·Q) scan into an
    equi-join on (band, bucket) — explode each side to 4 (band, bucket)
    rows, join, dedup pairs, re-rank only candidates. At 100 TB the
    explode+equi-join shuffles on bucket keys (bounded fan-out, no OR-join
    nested loop); the oracle states the same candidate set with an OR join
    (semantically identical, fine at oracle scale).

    The built frame is memoized per (session, embeddings stamp)
    (memoized_build): the ~70-expression plan (validity gate, two norm
    folds, window) cost ~0.5 s of pure py4j construction per build —
    prepared-statement semantics; every invocation still EXECUTES the
    full plan."""
    emb = load_vectors(spark, sf_dir, nonzero=True)
    # Band buckets in ONE vectorized pass: numpy GEMM against the 16
    # hyperplanes, sign bits packed 4 per band. The HOF-fold form ran 16
    # interpreted dot folds per vector and the subtree evaluated twice
    # (once per join side) — measured ~40k folds/s; the GEMM is
    # millions/s. Parity: bits are SIGNS of dots whose numpy-vs-DuckDB
    # difference is ~1e-16, so a flip needs |dot| at that scale —
    # negligible, and the exact-cosine re-rank (bit-identical fold) is
    # unchanged either way.
    _H = np.array(_HP, dtype=np.float64)
    _band_w = np.array([1 << r for r in range(LSH_BITS_PER_BAND)], dtype=np.int64)

    @F.pandas_udf("array<int>")
    def band_buckets(embedding: pd.Series) -> pd.Series:
        X = np.array(embedding.tolist(), dtype=np.float64)
        bits = (X @ _H.T >= 0).astype(np.int64)
        buckets = np.stack(
            [
                bits[:, b * LSH_BITS_PER_BAND:(b + 1) * LSH_BITS_PER_BAND] @ _band_w
                for b in range(LSH_BANDS)
            ],
            axis=1,
        ).astype(np.int32)
        return pd.Series(list(buckets))

    # session_get (r13, upgraded from per-build localCheckpoint): the
    # band table is the stored LSH index — 4 ints per vector —
    # materialized once per (session, embeddings stamp); it feeds BOTH
    # sides of the candidate join (uncheckpointed, Catalyst duplicated
    # the Arrow GEMM subtree).
    bands_long = session_get(
        "lsh_bands",
        stamp_key(spark, sf_dir, "embeddings"),
        lambda: emb.select(
            "vec_id",
            F.posexplode(band_buckets("embedding")).alias("band", "bucket"),
        ).localCheckpoint(),
    )
    qbands = bands_long.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        bands_long.join(F.broadcast(qbands), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # Filter BEFORE computing the norm: the broadcast build side carries
    # 20 query rows, not a norm fold over all N vectors.
    qvecs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
    )
    nvecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nvec"),
        norm(F.col("embedding")).alias("nn_"),
    )
    scored = (
        cand.join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
        .withColumn(
            "cos", dot(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn_"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 9).alias("cos"))
    )


def _sql_hp_dot(col: str, hp: list[float]) -> str:
    return " + ".join(
        f"CAST({col}[{i + 1}] AS DOUBLE) * {v!r}" for i, v in enumerate(hp)
    )


def _sql_bands(col: str) -> list[str]:
    bits = [
        f"(CASE WHEN ({_sql_hp_dot(col, hp)}) >= 0 THEN 1 ELSE 0 END)"
        for hp in _HP
    ]
    return [
        " + ".join(
            f"{bits[b * LSH_BITS_PER_BAND + r]} * {1 << r}"
            for r in range(LSH_BITS_PER_BAND)
        )
        for b in range(LSH_BANDS)
    ]


_BANDS_SQL = ", ".join(f"({expr}) AS b{b}" for b, expr in enumerate(_sql_bands("embedding")))

register(
    "sim_ann_lsh",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    sig AS (
      SELECT vec_id, {_BANDS_SQL} FROM emb
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM sig q JOIN sig e
        ON e.vec_id <> q.vec_id
       AND (q.b0 = e.b0 OR q.b1 = e.b1 OR q.b2 = e.b2 OR q.b3 = e.b3)
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_sql_cos_n("qe.embedding", "qe.nrm", "ne.embedding", "ne.nrm")}
               AS cos
      FROM cand c
      JOIN en qe ON qe.vec_id = c.query_id
      JOIN en ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
           neighbor_id, round(cos, 9) AS cos
    FROM scored
    QUALIFY rank <= {TOP_K}
    """,
)(sim_ann_lsh)


# --- IVF-style ANN --------------------------------------------------------

@memoized_build("embeddings")
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: each query scans only its `nprobe` nearest cells.
    Recall < 1 by design (approximate); results are still deterministic,
    and the oracle mirrors the same cell assignment.

    Cell assignment (every ⌊√N⌋-th vector is a centroid, each vector →
    nearest centroid) runs as ONE numpy-GEMM Pandas-UDF projection
    against the broadcast centroid matrix — the earlier
    crossJoin+window form evaluated ~N·√N interpreted HOF cosine folds
    (the dominant cost at sf0.1: 2.3 s → ~0.8 s). Assignment ranks use
    the shared 6-dp rounding parity contract (_top_cells_udf); the
    final neighbor ranking stays on exact left-folded JVM cosines,
    bit-matched by the oracle's list fold."""
    # Shares _ivf_assign/_probe/_score_probe_pairs with the kNN build:
    # the candidate side is widened (the assign UDF + per-pair folds ran
    # single-task on the one-file scan) and norms are hoisted once per
    # side instead of the 3-fold cosine() per pair — the same
    # left-to-right double arithmetic the oracle's _sql_cos_n states, so
    # cosines are bit-identical (sim_topk_cosine precedent).
    # session_get (r13): the assign frame IS the stored IVF index
    # (vec_id, embedding, nrm, cell_id) — rebuild it per (session,
    # embeddings stamp), not per execution; queries probe against the
    # materialized layout like a real vector store serves reads.
    bc = _centroid_broadcast(spark, sf_dir)
    assign = _ivf_index_frame(spark, sf_dir)
    probes = _ivf_probe_frame(
        load_vectors(spark, sf_dir, nonzero=True).filter(
            F.col("vec_id") < N_QUERIES
        ),
        bc,
    )
    scored = _score_probe_pairs(probes, assign)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round("cos", 9).alias("cos"),
        )
    )


# The IVF tail, FROM the shared emb/en CTEs. CTE names are disjoint
# from _TOPK_TAIL_SQL's (qp/ivf_scored vs q/scored) so sim_ann_recall
# can compose BOTH tails under one WITH — sharing the emb scan, the
# norm pass, and the planner state instead of re-materializing two full
# pipelines (the r9 OOM victim composed two nested copies).
_IVF_TAIL_SQL = f"""
    stride AS (
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS s
      FROM emb
    ),
    centroids AS (
      SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm FROM en
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, cell_id FROM (
        SELECT e.vec_id, e.embedding, e.nrm, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    qp AS (
      SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM en
      WHERE vec_id < {N_QUERIES}
    ),
    probes AS (
      SELECT query_id, qvec, qn, cell_id FROM (
        SELECT qp.query_id, qp.qvec, qp.qn, c.cell_id,
               row_number() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("qp.qvec", "qp.qn", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM qp CROSS JOIN centroids c
      ) WHERE rn <= {IVF_NPROBE}
    ),
    ivf_scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_sql_cos_n("p.qvec", "p.qn", "a.embedding", "a.nrm")} AS cos
      FROM probes p JOIN assign a ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.query_id
    ),
    approx AS (
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS INTEGER)
               AS rank,
             neighbor_id, round(cos, 9) AS cos
      FROM ivf_scored
      QUALIFY rank <= {TOP_K}
    )
"""

_IVF_SQL = f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_IVF_TAIL_SQL}
    SELECT query_id, rank, neighbor_id, cos FROM approx
    """

register("sim_ann_ivf", sql=_IVF_SQL)(sim_ann_ivf)


# --- kNN graph construction -------------------------------------------------

KNN_K = 3


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rank, neighbor_id, cos) — EVERY vector's K approximate
    nearest neighbors via the IVF cells: the kNN-graph constructor that
    sits beneath HNSW index builds, graph-based semantic clustering,
    and local-density estimators. sim_ann_ivf answers 20 fixed probe
    queries; this is the all-vectors form a pipeline materializes once
    and reuses.

    Same scale math as the bucketed near-dup path: assignment is one
    GEMM Pandas-UDF projection against the broadcast ⌊√N⌋ centroids
    (N·√N dots), vectors shuffle once on cell_id, refine work is
    N²·nprobe²/√N dots confined within cells, and the per-vector top-K
    is a window over the scored rows (Q = N partitions, each a heap-K).
    No all-pairs join ever forms. Parity: assignment ranks use the
    shared 6-dp half-up quantizer; final cosines are exact left-folded
    doubles on both engines (9-dp rounded on output), norms hoisted
    once per side — the oracle reuses the shared en CTE."""
    # widen: the assign/probe UDF + norm-fold map stage otherwise runs
    # single-task on the one-file scan (r13 stage profile: 1.4 s CPU in
    # one task before the cell shuffle); pass-through at real scale
    emb = widen_small_scan(
        load_vectors(spark, sf_dir, nonzero=True),
        path=f"{sf_dir}/embeddings.parquet",
    )
    bc = _centroid_broadcast(spark, sf_dir)
    return _knn_graph_frame(emb, bc)


def _ivf_assign_frame(emb: DataFrame, bc) -> DataFrame:
    """(vec_id, embedding, nrm, cell_id) — each vector stored in its
    top-1 cell under quantizer `bc`: the IVF index layout itself."""
    return emb.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        _top_cells_udf(bc, 1)("embedding")[0].alias("cell_id"),
    )


def _ivf_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus IVF index, materialized once per (session,
    embeddings stamp): every per-execution rebuild re-ran the assignment
    GEMM + norm folds over the whole corpus (r13) — but the index is
    precisely the artifact an IVF store persists, so consumers serve
    reads from the materialized layout."""

    def build() -> DataFrame:
        emb = widen_small_scan(
            load_vectors(spark, sf_dir, nonzero=True),
            path=f"{sf_dir}/embeddings.parquet",
        )
        return _ivf_assign_frame(
            emb, _centroid_broadcast(spark, sf_dir)
        ).localCheckpoint()

    return session_get(
        "ivf_index", stamp_key(spark, sf_dir, "embeddings"), build
    )


def _ivf_probe_frame(emb: DataFrame, bc) -> DataFrame:
    """(query_id, qvec, qn, cell_id) — each vector exploded across its
    nprobe nearest cells under quantizer `bc`: the stored probe lists
    reverse maintenance needs (which cells each vertex LOOKS AT)."""
    nprobe = min(IVF_NPROBE, len(bc.value[0]))
    return emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
        F.explode(_top_cells_udf(bc, nprobe)("embedding")).alias("cell_id"),
    )


def _score_probe_pairs(probes: DataFrame, assign: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos) for every (probe, assigned-vector)
    pair that shares a cell — the single co-located equi-join both the
    batch build and the incremental delta scoring run."""
    return (
        probes.join(assign, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qvec"), F.col("embedding"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos"),
        )
    )


def _knn_graph_frame(
    emb: DataFrame, bc, rank_on_grid: bool = False, k: int | None = None
) -> DataFrame:
    """The batch kNN-graph build against an EXPLICIT quantizer — shared
    by sim_knn_graph (quantizer from the same corpus), the
    incremental-maintenance twins (quantizer frozen on the base corpus
    while emb has grown), and the high-degree seed graph (k=HD_KNN_K).
    rank_on_grid=True ranks candidates on the 9-dp ROUNDED cosine — the
    stored-index grid the incremental maintenance and its oracle rank
    on (see the maintenance contract note below); the default ranks on
    the raw double like the sim_knn_graph oracle."""
    if k is None:
        k = KNN_K
    scored = _score_probe_pairs(_ivf_probe_frame(emb, bc),
                                _ivf_assign_frame(emb, bc))
    if rank_on_grid:
        scored = scored.withColumn("cos", F.round("cos", 9))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("vec_id"),
            "rank",
            "neighbor_id",
            F.round("cos", 9).alias("cos"),
        )
    )


# In-session materialization of the kNN edge list, keyed like the
# centroid/codebook broadcasts (cache.session_get: app + sf_dir + file
# stamp, superseded/dead-app eviction). The graph is the shared pair
# source of THREE registered queries (sim_knn_graph,
# sim_mutual_knn_clusters, sim_semantic_survivors) plus the graph-ANN
# search leg; without this each consumer re-ran the whole IVF
# assign/probe/refine pipeline (~2.5 s of the semantic-survivors 4.3 s
# solo wall at sf0.1, r11 profiling). At 100 TB the same object is the
# kNN graph a pipeline builds once and STORES (the docstring contract
# below); localCheckpoint is its in-session stand-in. Bounded: N·K
# (vec_id, rank, neighbor_id, cos) rows.


KNN_EDGES_STORE = f"knn_edges-v1-K{KNN_K}-np{IVF_NPROBE}"


def knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized (vec_id, rank, neighbor_id, cos) kNN edge list —
    sim_knn_graph's result, computed at most once per input stamp and
    PUBLISHED as a parquet index directory (cache.persisted_get): a
    cold session reads the stored index back instead of re-running the
    IVF pipeline, which is the actual build-once/store/serve shape the
    graph serving legs assume. Falls back to an in-session
    localCheckpoint when the index root is unwritable.

    The store name carries the graph parameters plus a manual version —
    BUMP the version on any semantic change to the build pipeline, or a
    cross-process reader serves the old algorithm's edges (the oracle
    gate would catch it loudly, since DuckDB recomputes from scratch,
    but the bump avoids ever publishing the mismatch)."""
    return persisted_get(
        KNN_EDGES_STORE,
        spark,
        sf_dir,
        "embeddings",
        "vec_id long, rank int, neighbor_id long, cos double",
        lambda: sim_knn_graph(spark, sf_dir),
    )


# Factored so the mutual-kNN clustering oracle (dedup.py) can nest the
# whole statement as a materialized CTE, and parameterized on the
# degree so the high-degree seed graph nests the same build at K=32.
def _knn_sql(k: int) -> str:
    return f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    stride AS (
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS s
      FROM emb
    ),
    centroids AS (
      SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm FROM en
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, cell_id FROM (
        SELECT e.vec_id, e.embedding, e.nrm, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, qn, cell_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, e.nrm AS qn,
               c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_sql_cos_n("p.qvec", "p.qn", "a.embedding", "a.nrm")} AS cos
      FROM probes p JOIN assign a ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id AS vec_id,
           CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS INTEGER)
             AS rank,
           neighbor_id, round(cos, 9) AS cos
    FROM scored
    QUALIFY rank <= {k}
    ORDER BY vec_id, rank
    """


_KNN_SQL = _knn_sql(KNN_K)

# The registered entry serves from the session cache: a driver window
# that runs sim_mutual_knn_clusters / sim_semantic_survivors before (or
# after) this query pays for the IVF pipeline exactly once.
register("sim_knn_graph", sql=_KNN_SQL)(knn_edges)


# --- incremental kNN-graph maintenance (insert at ingest) -------------------
# The vector-store analogue of the reference's incremental view
# maintenance (db/ddl.sql:92-143 — counts maintained per arriving event,
# never recomputed): arriving vectors are INSERTED into the stored kNN
# graph instead of triggering a rebuild. The coarse quantizer is FROZEN
# at base-build time (the ST7 hot-model contract — retraining the
# quantizer is a model swap, a new index stamp), which is what makes the
# maintenance EXACT: under a fixed quantizer, a vertex's candidate set
# only ever GROWS, so its new top-K is derivable from its stored top-K
# plus the delta — a candidate outside the old top-K can never re-enter
# (K better candidates existed then and still exist).
#
# Per-batch work is delta-bounded, never corpus-sized: arriving vectors
# score against the contents of their probe cells (|B|·cell·nprobe
# dots, one co-located equi-join on cell_id), existing vertices gain
# candidates only from arrivals landing in their STORED probe lists
# (the same equi-join with sides swapped), and only TOUCHED vertices
# re-rank — untouched adjacency rows pass through by anti-join. At 10⁹
# vectors a micro-batch touches O(|B|·√N) stored rows; the corpus scan
# appears nowhere. Ranking uses the stored 9-dp scores (the index IS
# the 9-dp grid — both the oracle and the batch twin rank on the same
# grid, so the contract has no unrounded shadow ranking; a pair of true
# cosines within 5e-10 of each other collapsing to a tiebreak is the
# documented quantization of the stored index, not a bug).

INC_ARRIVAL_MOD = 7
INC_ARRIVAL_REM = 3     # arrivals for the registered split: vec_id%7==3


def _arrival_pred() -> Column:
    return F.col("vec_id") % INC_ARRIVAL_MOD == INC_ARRIVAL_REM


def _centroid_broadcast_from(spark: SparkSession, base: DataFrame):
    """Quantizer frozen on an explicit base frame: same stride/member
    convention as _centroid_broadcast (every ⌊√N⌋-th vec_id of the
    base), same normalization, but NOT tied to the whole-corpus file —
    the base-index builder collects it once per session via the
    inc_index store."""
    stride = _ivf_stride(base.count())
    cent = (
        base.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    cell_ids = np.array([r.vec_id for r in cent], dtype=np.int64)
    C = np.array([r.embedding for r in cent], dtype=np.float64)
    Cn = (
        C / np.linalg.norm(C, axis=1, keepdims=True)
        if C.size
        else C.reshape(0, 0)
    )
    return spark.sparkContext.broadcast((cell_ids, Cn))


def knn_graph_insert_frame(
    edges: DataFrame,
    assign: DataFrame,
    probes: DataFrame,
    arriving: DataFrame,
    bc,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One insert step: (edges, assign, probes) is the stored index,
    `arriving` a (vec_id, embedding) batch of NEW vectors (insert, not
    upsert — ids are assumed fresh), `bc` the frozen quantizer.
    Returns the post-insert (edges', assign', probes') — same schemas,
    so steps chain across micro-batches."""
    arr = arriving.filter(vec_valid() & vec_nonzero()).select(
        "vec_id", "embedding"
    )
    # ONE ranked-cells pass per batch (r13): assign is rank-1 of the
    # same nprobe ranking the probe list uses (_top_cells_udf ranks all
    # cells identically regardless of n), so deriving both frames from
    # a single checkpointed (vec_id, embedding, nrm, cells) batch frame
    # halves the arrival GEMM/norm work — previously _ivf_assign_frame
    # and _ivf_probe_frame each ran their own Arrow stage over the same
    # arrivals (two Python round trips + two parquet scans per batch).
    # The checkpoint is batch-sized (|B| rows), never the corpus.
    nprobe = min(IVF_NPROBE, len(bc.value[0]))
    ranked = arr.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        _top_cells_udf(bc, nprobe)("embedding").alias("cells"),
    ).localCheckpoint()
    arr_assign = ranked.select(
        "vec_id", "embedding", "nrm", F.col("cells")[0].alias("cell_id")
    )
    arr_probes = ranked.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qn"),
        F.explode("cells").alias("cell_id"),
    )
    new_assign = assign.unionByName(arr_assign)
    new_probes = probes.unionByName(arr_probes)
    # forward delta: each arrival scores the FULL contents of its probe
    # cells (base + this batch's arrivals — arr-arr pairs land here);
    # reverse delta: stored probe lists catch arrivals landing in them.
    # The batch-sized side of each join carries an explicit broadcast
    # hint — the stored index frames are checkpoint/scan-backed with no
    # useful stats, and at scale a shuffle of the corpus-sized side per
    # micro-batch is exactly the cost the delta shape exists to avoid.
    # localCheckpoint (r13): `delta` is consumed three times (touched
    # ids, the rerank union, and the kept anti-join's broadcast) —
    # uncheckpointed, Catalyst re-evaluated the whole delta subtree
    # (arrival UDF stage + both index joins) per reference. The frame
    # is batch-bounded scored rows, never the corpus.
    delta = _score_probe_pairs(F.broadcast(arr_probes), new_assign).unionByName(
        _score_probe_pairs(probes, F.broadcast(arr_assign))
    ).select(
        "query_id", "neighbor_id", F.round("cos", 9).alias("cos")
    ).localCheckpoint()
    touched = F.broadcast(
        delta.select(F.col("query_id").alias("vec_id")).distinct()
    )
    kept = edges.join(touched, "vec_id", "left_anti")
    rerank_in = (
        edges.join(touched, "vec_id", "left_semi")
        .select(
            F.col("vec_id").alias("query_id"), "neighbor_id", "cos"
        )
        .unionByName(delta)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    reranked = (
        rerank_in.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(F.col("query_id").alias("vec_id"), "rank", "neighbor_id",
                "cos")
    )
    return kept.unionByName(reranked), new_assign, new_probes


def inc_base_index(spark: SparkSession, sf_dir: str):
    """The session-materialized base index of the registered incremental
    split: quantizer, cell store, probe lists and graph built from the
    base subset (vec_id % 7 != 3) — what a deployment has on disk
    before the day's arrivals show up."""

    def build():
        base = load_vectors(spark, sf_dir, nonzero=True).filter(
            ~_arrival_pred()
        )
        bc = _centroid_broadcast_from(spark, base)
        assign = _ivf_assign_frame(base, bc).localCheckpoint()
        probes = _ivf_probe_frame(base, bc).localCheckpoint()
        edges = _knn_graph_frame(base, bc, rank_on_grid=True).localCheckpoint()
        return (edges, assign, probes, bc)

    return session_get(
        "inc_index",
        stamp_key(spark, sf_dir, "embeddings"),
        build,
        # the tuple carries the frozen-quantizer broadcast: unpersist it
        # on supersede/dead-app eviction like the standalone broadcasts
        release=lambda t: t[3].unpersist(blocking=False),
    )


def sim_knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, rank, neighbor_id, cos) — the kNN graph after the
    held-out arrivals (vec_id % 7 == 3) are INSERTED into the stored
    base index, one maintenance step against the frozen base quantizer,
    run in full on every call (the base index is the only stored
    input). The oracle computes the same object the other way — a
    direct batch build over the grown corpus with centroids/stride
    pinned to the base subset — so a green row certifies the
    maintenance algebra end-to-end across engines."""
    edges, assign, probes, bc = inc_base_index(spark, sf_dir)
    arrivals = load_vectors(spark, sf_dir, nonzero=True).filter(
        _arrival_pred()
    )
    out, _, _ = knn_graph_insert_frame(edges, assign, probes, arrivals, bc)
    return out.orderBy("vec_id", "rank")


# The oracle is _KNN_SQL with ONE change: stride and centroid membership
# come from the base subset (the frozen quantizer), while assign/probes/
# scored run over the full corpus — i.e. the batch rebuild the insert
# must reproduce. Ranking happens on the 9-dp stored grid on BOTH
# engines (see the maintenance contract note above).
_KNN_INC_SQL = f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    base AS (
      SELECT * FROM en
      WHERE vec_id % {INC_ARRIVAL_MOD} <> {INC_ARRIVAL_REM}
    ),
    stride AS (
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS s
      FROM base
    ),
    centroids AS (
      SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm FROM base
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, cell_id FROM (
        SELECT e.vec_id, e.embedding, e.nrm, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, qn, cell_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, e.nrm AS qn,
               c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round({_sql_cos_n("p.qvec", "p.qn", "a.embedding", "a.nrm")},
                   9) AS cos
      FROM probes p JOIN assign a ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id AS vec_id,
           CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS INTEGER)
             AS rank,
           neighbor_id, cos
    FROM scored
    QUALIFY rank <= {KNN_K}
    ORDER BY vec_id, rank
    """

register("sim_knn_graph_incremental", sql=_KNN_INC_SQL)(
    sim_knn_graph_incremental
)


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@K of the IVF probe search against the exact
    brute-force top-k — the quality telemetry every ANN deployment
    needs next to its latency numbers. Both sides are oracle-checked
    queries; the recall is a semi-match count over their K-row results,
    so the measurement itself carries a full oracle too."""
    exact = sim_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_ann_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(TOP_K), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# One WITH chain: emb scan, norm pass, and query set are shared between
# the exact and IVF sides instead of re-materialized per side — the r9
# driver row died to a DuckDB allocator-ceiling OOM exactly because this
# oracle composed two full nested pipelines back-to-back.
register(
    "sim_ann_recall",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_TOPK_TAIL_SQL},
    {_IVF_TAIL_SQL}
    SELECT e.query_id,
           count(a.neighbor_id) AS n_hits,
           round(count(a.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)(sim_ann_recall)


# --- int8-quantized brute-force ANN ---------------------------------------

# The memory-bandwidth scale path: at 100 TB of embeddings the scan is
# bandwidth-bound, and symmetric int8 quantization cuts bytes/vector 4x
# while keeping top-k order nearly intact. Per-vector symmetric scale
# s = max|x|/127, q_i = round(x_i/s); the quantized cosine
#   dot(qa,qb) / (||qa||·||qb||)
# is scale-free (s cancels), so the whole score derives from EXACT
# 64-bit integer sums — bit-identical across engines, full value-hash
# oracle (no float-accumulation parity risk at all).


def _quantize(col):
    s = (
        F.greatest(
            F.array_max(F.transform(col, lambda x: F.abs(x.cast("double")))),
            F.lit(1e-30),
        )
        / 127
    )
    return F.transform(col, lambda x: F.round(x.cast("double") / s).cast("long"))


def _quantize_np(X: np.ndarray) -> np.ndarray:
    """numpy twin of _quantize, arithmetic-identical: same IEEE ops in
    the same order (abs-max is order-free, /127, greatest with 1e-30,
    one double divide), and HALF-UP rounding away from zero — numpy's
    np.round is half-to-EVEN, which would diverge from Spark/DuckDB
    round() exactly on the engineered .5 ties the PQ fuzz corpora
    plant. Quantized magnitudes are ≤127ish, so the +0.5 trick cannot
    lose precision in the INTEGER part — but the SUM a+0.5 itself can
    round up across a boundary when a sits 1 ULP below a .5 tie
    (0.49999999999999994 + 0.5 == 1.0 in IEEE, while Spark's
    BigDecimal-backed round() and DuckDB's binary-value round() both
    give 0 — the r11 ADVICE hole). The explicit correction backs off
    exactly those over-rounds: a < r - 0.5 can only be true when the
    fp SUM crossed a boundary a's own value sits below. The comparison
    is exact — r - 0.5 is exactly representable for every integer r
    the int8 range produces (r ≤ ~127), unlike r - a, whose
    subtraction re-rounds at the very boundary in question. The
    opposite error cannot occur: a true sum ≥ k+1 never rounds below
    k+1, so under-rounding needs no correction."""
    s = np.maximum(np.abs(X).max(axis=1), 1e-30) / 127.0
    V = X / s[:, None]
    a = np.abs(V)
    r = np.floor(a + 0.5)
    r = np.where(a < r - 0.5, r - 1.0, r)
    return (np.sign(V) * r).astype(np.int64)


@memoized_build("embeddings")
def sim_ann_int8(
    spark: SparkSession, sf_dir: str, gemm: bool | None = None
) -> DataFrame:
    """Top-k neighbors per query under int8-quantized cosine — the
    brute-force scan in quantized arithmetic. Same broadcast-query shape
    as sim_topk_cosine: candidates never shuffle; the only exchange is
    the per-query top-k window over N_QUERIES * N scored rows.

    Auto seam (gemm=None): below GEMM_MIN_ROWS the codegen left-fold
    the oracle pins; at scale, one Arrow-batched int64 GEMM per
    candidate batch against the broadcast quantized query matrix.
    Unlike the JL seam this one is EXACT, not an envelope: every dot
    is a 64-bit integer sum (order-free), the quantizer twin
    (_quantize_np) reproduces the fold's arithmetic bit-for-bit, and
    the final divide/sqrt are the same two IEEE ops — the seam test
    asserts set EQUALITY of full result tuples."""
    emb = load_vectors(spark, sf_dir, nonzero=True)
    if gemm is None:
        gemm = _gemm_seam(spark, sf_dir, emb, "nonzero")
    if gemm:
        qrows = sorted(
            emb.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )  # bounded: ≤ N_QUERIES rows by construction
        if not qrows:
            return spark.createDataFrame(
                [], "query_id long, rank int, neighbor_id long, qcos double"
            )
        qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
        Qm = _quantize_np(np.array([r.embedding for r in qrows], dtype=np.float64))
        qn2 = (Qm * Qm).sum(axis=1)
        bq = spark.sparkContext.broadcast((qids, Qm, qn2))

        def score(batches):
            ids_, Qm_, qn2_ = bq.value
            qrt = np.sqrt(qn2_.astype(np.float64))
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                C = _quantize_np(X)
                n2 = (C * C).sum(axis=1)
                # denominator factor order matches the fold:
                # sqrt(query_n2) * sqrt(neighbor_n2)
                qcos = (C @ Qm_.T) / (qrt[None, :] * np.sqrt(n2.astype(np.float64))[:, None])
                nb = pdf["vec_id"].to_numpy()
                out = pd.DataFrame(
                    {
                        "query_id": np.tile(ids_, len(nb)),
                        "neighbor_id": np.repeat(nb, len(ids_)),
                        "qcos": qcos.ravel(),
                    }
                )
                yield out[out.query_id != out.neighbor_id]

        scored = emb.select("vec_id", "embedding").mapInPandas(
            score, "query_id long, neighbor_id long, qcos double"
        )
    else:
        qemb = emb.select("vec_id", _quantize(F.col("embedding")).alias("q"))
        qn = F.aggregate(
            F.transform(F.col("q"), lambda x: x * x), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        queries = qemb.select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qa"),
            qn.alias("qna"),
        ).filter(F.col("query_id") < N_QUERIES)
        # widen the CANDIDATE side only (single-file scan otherwise puts
        # all Q·N quantized-fold evaluations in one task — r13 profile);
        # the query side stays narrow for its broadcast build.
        cand = widen_small_scan(
            emb, path=f"{sf_dir}/embeddings.parquet"
        ).select(
            "vec_id", _quantize(F.col("embedding")).alias("q")
        ).select(
            F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"), qn.alias("qnb")
        )
        idot = F.aggregate(
            F.zip_with(F.col("qa"), F.col("qb"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = cand.join(
            F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
        ).withColumn(
            "qcos",
            idot / (F.sqrt(F.col("qna").cast("double")) * F.sqrt(F.col("qnb").cast("double"))),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", F.round("qcos", 9).alias("qcos"))
    )


def _sql_int8_q(col: str) -> str:
    s = (
        f"greatest(list_max(list_transform({col}, "
        f"x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127"
    )
    return (
        f"list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE) / ({s})) "
        f"AS BIGINT))"
    )


def _sql_ldot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, DIM + 1))


register(
    "sim_ann_int8",
    sql=f"""
    WITH {SQL_EMB_CTE},
    qv AS (
      SELECT vec_id, {_sql_int8_q("embedding")} AS q FROM emb
    ),
    qn AS (
      SELECT vec_id, q, {_sql_ldot("q", "q")} AS n2 FROM qv
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ({_sql_ldot("a.q", "b.q")})
               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
               AS qcos
      FROM qn a JOIN qn b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY qcos DESC, neighbor_id) AS INTEGER)
             AS rank,
           neighbor_id, round(qcos, 9) AS qcos
    FROM scored
    QUALIFY rank <= {TOP_K}
    """,
)(sim_ann_int8)


# --- per-dimension embedding statistics ------------------------------------
@memoized_build("embeddings")
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health stats over the embedding column — the
    drift check a pipeline runs on every new embedding shard
    (collapsed dims, scale shifts, NaN factories all show up here).
    This operator deliberately does NOT use the vec_valid gate: its job
    is to REPORT the garbage, so NaN/Inf/NULL components are COUNTED
    per dimension (`n_nonfinite`) while mean/std/min/max fold finite
    values only — one NaN must not erase the statistics of the other
    10^9 rows, and non-finite extremes would make min/max cross-engine
    unstable (IEEE total-order placement).

    Scale: posexplode is a codegen projection (N·d rows, no Python),
    the rollup is one hash-agg keyed by dim (d groups — partial agg
    collapses almost everything map-side), output is d rows. All
    accumulation in DOUBLE after an explicit cast so both engines fold
    float32 inputs identically; 6-dp rounding absorbs fold-order fp
    noise."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("val")
    )
    bad = (
        F.col("val").isNull()
        | F.isnan("val")
        | (F.abs("val") == F.lit(float("inf")))
    )
    fin = F.when(~bad, F.col("val"))
    return (
        v.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(bad.cast("long")).alias("n_nonfinite"),
            F.round(F.avg(fin), 6).alias("mean_val"),
            F.round(F.stddev_pop(fin), 6).alias("std_val"),
            F.round(F.min(fin), 6).alias("min_val"),
            F.round(F.max(fin), 6).alias("max_val"),
        )
        .orderBy("dim")
    )


register(
    "embedding_dim_stats",
    sql="""
    WITH d AS (
      -- parallel unnests in one SELECT zip in DuckDB: value + 0-based
      -- ordinal, the posexplode twin
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), f AS (
      SELECT dim, val,
             (val IS NULL OR NOT isfinite(val)) AS bad,
             CASE WHEN val IS NOT NULL AND isfinite(val) THEN val END AS fin
      FROM d
    )
    SELECT dim, count(*) AS n,
           -- CAST: DuckDB sum(INTEGER) is HUGEINT, which the compare
           -- harness coerces to float — Spark's is BIGINT
           CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           round(avg(fin), 6) AS mean_val,
           round(stddev_pop(fin), 6) AS std_val,
           round(min(fin), 6) AS min_val,
           round(max(fin), 6) AS max_val
    FROM f GROUP BY dim ORDER BY dim
    """,
)(embedding_dim_stats)


# --- Distributed Gram matrix (int8-exact) -----------------------------------
# The linear-algebra reduction under PCA whitening, linear probes, and
# covariance drift monitors: G = E^T E over the whole corpus. The
# distributed shape is per-partition GEMM partials (numpy int64, one
# d x d matrix per partition whatever the row count) summed in a
# d(d+1)/2-row hash agg — the shuffle carries 2,080 rows per partition
# at d=64, never the vectors. Quantization is the SHARED _quantize
# (sim_ann_int8's symmetric int8 scheme), so every sum is an EXACT
# 64-bit integer reduction: bit-identical across engines and safe at
# 100 TB row counts (|q| <= 127, so products <= 16,129 and ~1e12 rows
# stay far under int64). Full value-hash oracle via a positional
# unnest self-join in DuckDB. Malformed vectors (NULL, wrong length,
# NULL elements) are excluded by the SAME predicate on both engines —
# a ragged array would crash the GEMM stack, and a NULL element would
# cross Arrow as NaN and garbage the int cast.
def _vec_ok() -> Column:
    # built at CALL time, never module scope: Column construction needs
    # an active SparkContext, and the driver contract imports session-less
    # (finite screen matches vec_valid: a NaN component would hit the
    # int8 quantize cast, which ABORTS under ANSI — r9 NaN plant)
    return (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        & ~F.exists(
            "embedding",
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
    )


_SQL_VEC_OK = (
    "embedding IS NOT NULL AND len(embedding) = "
    f"{DIM} AND len(list_filter(embedding,"
    " x -> x IS NULL OR NOT isfinite(x))) = 0"
)


def _quantized_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vec_id IS NOT NULL is load-bearing twice over: (a) the Gram oracle
    # self-joins on vec_id, where SQL NULL = NULL never matches, so a
    # NULL-id vector silently vanishes from the DuckDB side — the Spark
    # side must drop it too; (b) vec_id rides through Arrow batches into
    # pandas, and one NULL in an int64 column coerces the batch to
    # float64, corrupting ids >= 2^53
    # widen: the quantize transform + downstream Gram partials are
    # partition-count-invariant (elementwise int64 sums) and otherwise
    # run single-task on the one-file scan; pass-through at real scale
    return (
        widen_small_scan(
            load_table(spark, sf_dir, "embeddings"),
            path=f"{sf_dir}/embeddings.parquet",
        )
        .filter(F.col("vec_id").isNotNull() & _vec_ok())
        .select("vec_id", _quantize(F.col("embedding")).alias("q"))
    )


def _gram_partition(batches):
    import numpy as np
    import pandas as pd

    G = None
    for pdf in batches:
        if pdf.empty:
            continue
        # GEMM in float64, accumulate in int64 (r13): numpy's integer
        # matmul never reaches BLAS — it is a naive triple loop, 10-50x
        # slower on big batches — while the float64 product is EXACT
        # here: every term |x*y| <= 127^2 is an integer, and a batch's
        # dot sums stay far below 2^53 (even 10^8-row batches reach only
        # ~1.6e12), so the cast back to int64 is lossless. The
        # cross-batch accumulation stays integer. Interleaved A/B at
        # sf0.1: median 0.72 s vs 0.97 s, bit-identical results.
        E = np.stack(pdf["q"].to_numpy()).astype("float64")
        g = (E.T @ E).astype("int64")
        G = g if G is None else G + g
    if G is not None:
        iu = np.triu_indices(G.shape[0])
        yield pd.DataFrame(
            {
                "i": (iu[0] + 1).astype("int32"),
                "j": (iu[1] + 1).astype("int32"),
                "g_partial": G[iu],
            }
        )


def _gram_from(q: DataFrame) -> DataFrame:
    # project away vec_id before the Arrow transfer: the Gram partials
    # need only the vectors
    part = q.select("q").mapInPandas(
        _gram_partition, "i int, j int, g_partial long"
    )
    return (
        part.groupBy("i", "j")
        .agg(F.sum("g_partial").alias("gram"))
        .orderBy("i", "j")
    )


@memoized_build("embeddings")
def embedding_gram_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gram_from(_quantized_vecs(spark, sf_dir))


register(
    "embedding_gram_int8",
    sql=f"""
    WITH qv AS (
      SELECT vec_id, {_sql_int8_q("embedding")} AS q
      FROM embeddings WHERE vec_id IS NOT NULL AND {_SQL_VEC_OK}
    ),
    e AS (
      SELECT vec_id, generate_subscripts(q, 1) AS i, unnest(q) AS x
      FROM qv
    )
    SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
           CAST(sum(a.x * b.x) AS BIGINT) AS gram
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)(embedding_gram_int8)


# PCA from ONE scan of the corpus: the quantized frame is persisted and
# drives two bounded reductions — (count + exact integer column sums)
# in a single agg, and the Gram partials — so the table is read and
# quantized once; cov = (G - s s^T/n)/(n-1) and the eigh run on the
# driver over a 64 x 64 matrix (bounded by DIMENSION, never by corpus
# size; same legality class as the sqrt(N)-centroid collects). The
# count comes from the SAME filtered frame as the sums and Gram, so n
# can never disagree with its moments. rows-only by design: no SQL
# engine reproduces LAPACK eigenvalues; the pytest gate recomputes the
# covariance independently (np.cov over the collected quantized
# vectors) and pins eigenvalue agreement.
PCA_TOP = 8


def _corpus_moments(q: DataFrame):
    """(n, column-sum vector s, Gram matrix G) of a persisted quantized
    frame — the single source of the covariance for BOTH the variance
    report and the projection, so a fix to the math can never
    desynchronize the eigenvalues one reports from the ones the other
    projects onto. s/G are None when n < 2 (covariance undefined)."""
    import numpy as np

    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("q", i)).alias(f"s{i}")
            for i in range(1, DIM + 1)
        ],
    ).first()
    n = stats["n"]
    if n < 2:
        return n, None, None
    s = np.array([stats[i + 1] for i in range(DIM)], dtype="float64")
    G = np.zeros((DIM, DIM), dtype="float64")
    for r in _gram_from(q).collect():
        G[r.i - 1, r.j - 1] = r.gram
        G[r.j - 1, r.i - 1] = r.gram
    return n, s, G


def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    q = _quantized_vecs(spark, sf_dir).persist()
    try:
        n, s, G = _corpus_moments(q)
    finally:
        q.unpersist(blocking=False)
    if n < 2:
        return spark.createDataFrame(
            [], "component int, eigenvalue double, explained_ratio double"
        )
    cov = (G - np.outer(s, s) / n) / (n - 1)
    w = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(w.sum())
    rows = [
        # zero-variance corpus (all vectors identical): total == 0 and
        # every eigenvalue is 0 — report ratio 0.0 rather than crash
        (k + 1, float(w[k]), round(float(w[k]) / total, 6) if total > 0 else 0.0)
        for k in range(min(PCA_TOP, DIM))
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_ratio double"
    )


register("embedding_pca_variance")(embedding_pca_variance)


# The apply half of PCA: project every embedding onto the top-PCA_TOP
# eigenvectors. The projection matrix is dimension-bounded (64 x 8
# doubles) and broadcasts as a closure constant into an Arrow-batched
# GEMM — per batch one (B x d) @ (d x k) numpy multiply, the same
# broadcast-small-matrix shape as the IVF centroid scorer. The corpus
# never shuffles (orderBy is presentation only). rows-only: eigenvector
# signs/floats are LAPACK-specific; the pytest gate pins the structural
# invariants instead (per-component projected variance == eigenvalue,
# cross-component correlation ~ 0). Output is PCA_TOP SCALAR double
# columns proj_1..proj_k — never an array column: the driver's pandas
# canonicalizer factorizes cell values and dies on list cells (the r7
# `err` row), and flat columns are the shape a downstream table wants
# anyway. The array form stays available via `as_array=True` for
# internal consumers.
def embedding_pca_project(
    spark: SparkSession, sf_dir: str, as_array: bool = False
) -> DataFrame:
    import numpy as np

    q = _quantized_vecs(spark, sf_dir).persist()
    try:
        n, s, G = _corpus_moments(q)
    finally:
        # the lazy projection below recomputes q's lineage (one extra
        # scan+quantize at execution time) — the alternative, leaving q
        # persisted for a consumer we never see finish, leaks cache
        q.unpersist(blocking=False)
    k = min(PCA_TOP, DIM)
    flat_schema = "vec_id long, " + ", ".join(
        f"proj_{i} double" for i in range(1, k + 1)
    )
    if n < 2:
        if as_array:
            return spark.createDataFrame([], "vec_id long, proj array<double>")
        return spark.createDataFrame([], flat_schema)
    mean = s / n
    cov = (G - np.outer(s, s) / n) / (n - 1)
    w, v = np.linalg.eigh(cov)
    # top-k columns, descending eigenvalue; sign fixed so each vector's
    # largest-|coord| entry is positive (eigh's sign is arbitrary and
    # this makes the projection deterministic across LAPACK builds)
    order = np.argsort(w)[::-1][:k]
    P = v[:, order]
    for c in range(P.shape[1]):
        m = np.argmax(np.abs(P[:, c]))
        if P[m, c] < 0:
            P[:, c] = -P[:, c]

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["q"].to_numpy()).astype("float64") - mean
            proj = E @ P
            if as_array:
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "proj": list(proj)}
                )
            else:
                out = {"vec_id": pdf["vec_id"]}
                for i in range(k):
                    out[f"proj_{i + 1}"] = proj[:, i]
                yield pd.DataFrame(out)

    # same frame definition as the moments (vec_id NULL-filtered there —
    # one NULL in the int64 Arrow batch would coerce ids to float64 and
    # silently corrupt ids >= 2^53)
    schema = "vec_id long, proj array<double>" if as_array else flat_schema
    return q.mapInPandas(project, schema).orderBy("vec_id")


register("embedding_pca_project")(embedding_pca_project)


# --- product-quantized ANN (ADC scan) ---------------------------------------
# The third leg of the quantized-scan family: int8 cuts bytes/vector 4x;
# product quantization cuts them to M code ids (M * log2(C) bits — at
# C=sqrt(N), M=8 that is ~60 bits/vector at N=10^9 vs 256 bytes of
# float32), which is what makes a RAM-resident index over 100 TB of
# embeddings possible at all (Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011). The 64-dim vector splits into
# PQ_M contiguous subspaces; each subspace gets its own codebook, and a
# vector is stored as its per-subspace nearest-codeword ids. Scoring is
# asymmetric (ADC): the RAW query against the DECODED candidate — one
# codebook lookup per subspace, no candidate-side float math at scan
# time.
#
# Determinism/oracle strategy (this is the load-bearing part): real PQ
# trains per-subspace k-means; here the codebooks are the subvectors of
# every stride-th vector (stride = floor(sqrt N) — the exact convention
# the IVF coarse quantizer already pins, so both engines derive the
# same codebooks from the data alone). Codeword ASSIGNMENT ranks
# left-folded squared L2 distances quantized by the shared 6-dp half-up
# quantizer with code_id tiebreak — the same parity contract as IVF
# cell assignment. Unlike IVF (where centroids only RANK), decoded
# values feed the output hash, so normalization must be bit-identical
# across engines: the numpy side folds the squared-norm left-to-right
# (np.linalg.norm's pairwise sum differs at ~1e-16) before the exact
# per-component divide, mirroring the oracle's nrm fold.

PQ_M = 8                     # subspaces; DIM/PQ_M = 8 dims each
PQ_SUB = DIM // PQ_M


def _fold_sq_norm(X: "np.ndarray") -> "np.ndarray":
    """Row-wise squared norm with STRICT left-to-right accumulation —
    the vectorized twin of the `dot(a, a)` foldLeft / _sql_dot sum, so
    normalized components are bit-identical on both engines."""
    acc = np.zeros(len(X), dtype=np.float64)
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * X[:, i]
    return acc


def _pq_codebook_broadcast(spark: SparkSession, sf_dir: str):
    """(code_ids, left-fold-normalized stride-vector matrix) broadcast:
    the PQ codebooks, one slice per subspace. Same lifecycle discipline
    as _centroid_broadcast (cache.session_get); kept separate because
    the IVF broadcast normalizes via np.linalg.norm, which is fine for
    ranking but not for values that reach the output hash."""

    def build():
        rows = sorted(
            _stride_rows(spark, sf_dir).collect(), key=lambda r: r.vec_id
        )
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        S = np.array([r.embedding for r in rows], dtype=np.float64)
        if S.size:
            Sn = S / np.sqrt(_fold_sq_norm(S))[:, None]
        else:
            Sn = S.reshape(0, 0)
        return spark.sparkContext.broadcast((ids, Sn))

    return session_get(
        "pq_codebook_bc",
        stamp_key(spark, sf_dir, "embeddings"),
        build,
        release=lambda bc: bc.unpersist(blocking=False),
    )


def _pq_decode_udf(bc):
    """Pandas UDF: encode each vector against the broadcast codebooks
    and emit the DECODED (reconstructed) vector — the per-subspace
    nearest codewords, concatenated. Encoding and decoding fuse into
    one projection because the downstream ADC cosine needs codeword
    VALUES, not ids; the ids themselves are implicit (stored form at
    scale would keep only them). asNondeterministic for the same
    planner-fence reason as _top_cells_udf."""

    @F.pandas_udf("array<double>")
    def decode(embedding: pd.Series) -> pd.Series:
        ids, Sn = bc.value
        X = np.array(embedding.tolist(), dtype=np.float64)
        if len(X) == 0:
            return pd.Series([], dtype=object)
        Xn = X / np.sqrt(_fold_sq_norm(X))[:, None]
        dec = np.empty_like(Xn)
        for m in range(PQ_M):
            sl = slice(m * PQ_SUB, (m + 1) * PQ_SUB)
            sub, cs = Xn[:, sl], Sn[:, sl]
            # left-fold squared L2 per (vector, codeword) — matches the
            # oracle's 8-term left-associative sum exactly
            acc = np.zeros((len(sub), len(cs)), dtype=np.float64)
            for i in range(PQ_SUB):
                d = sub[:, i : i + 1] - cs[None, :, i]
                acc = acc + d * d
            qd = _q_assign_np(acc)
            # rank by (quantized dist ASC, code_id ASC): lexsort keys
            # are last-key-primary
            choice = np.lexsort(
                (np.broadcast_to(ids, qd.shape), qd), axis=1
            )[:, 0]
            dec[:, sl] = cs[choice]
        return pd.Series(list(dec))

    return decode.asNondeterministic()


def pq_decode_frame(gated: DataFrame, bc) -> DataFrame:
    """The candidate-side PQ stage over an ALREADY-GATED vector frame:
    fused encode/decode projection + decoded norm + zero-norm screen.
    Factored so the streaming ingest twin (streaming.pipeline.
    pq_encode_stream) applies the IDENTICAL projection the batch
    scorer consumes — one arithmetic, two execution modes."""
    if len(bc.value[0]) == 0:
        # Empty codebook (no nonzero vec_id divisible by the stride):
        # _pq_decode_udf would hit cs[None, :, i] on a zero-size axis
        # for any non-empty batch. Emit nothing — and do it as a
        # transformation of `gated` (not a createDataFrame literal) so
        # the streaming twin (pq_encode_stream) stays a streaming plan.
        return gated.filter(F.lit(False)).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("dec"),
            F.lit(0.0).alias("dnrm"),
        )
    decode = _pq_decode_udf(bc)
    return (
        gated.select("vec_id", decode("embedding").alias("dec"))
        .withColumn("dnrm", norm(F.col("dec")))
        .filter(F.col("dnrm") > 0)
    )


def _pq_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus decoded PQ index (vec_id, dec, dnrm),
    materialized once per (session, embeddings stamp) — the candidate
    frame every PQ consumer scores against (see _ivf_index_frame)."""

    def build() -> DataFrame:
        emb = widen_small_scan(
            load_vectors(spark, sf_dir, nonzero=True),
            path=f"{sf_dir}/embeddings.parquet",
        )
        return pq_decode_frame(
            emb, _pq_codebook_broadcast(spark, sf_dir)
        ).localCheckpoint()

    return session_get(
        "pq_index", stamp_key(spark, sf_dir, "embeddings"), build
    )


@memoized_build("embeddings")
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_pq) — top-k per query under
    product-quantized asymmetric-distance cosine: raw query vector
    against each candidate's decoded codewords.

    Scale shape: codebooks are O(sqrt(N) * DIM) driver/broadcast bytes
    (same bound as the IVF centroids); encode+decode is ONE Arrow-batch
    projection (per subspace a (batch x C) GEMM-free fold — N*sqrt(N)*8
    flops total); candidates never shuffle — queries broadcast, and the
    only exchange is the per-query top-k window, identical to
    sim_topk_cosine. At 100 TB the decoded projection is the scan; the
    stored representation is M small ints per vector.

    Zero-norm decoded vectors (possible when every chosen codeword
    subvector is all-zero) are filtered on BOTH engines — ANSI Spark
    would abort the cosine divide where DuckDB yields NULL."""
    emb = load_vectors(spark, sf_dir, nonzero=True)
    bc = _pq_codebook_broadcast(spark, sf_dir)
    if len(bc.value[0]) == 0:
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cos_pq double"
        )
    # session_get (r13): the decoded candidate frame IS the stored PQ
    # index — materialize once per (session, embeddings stamp) instead
    # of re-running the decode UDF + norm folds per execution.
    cand = _pq_index_frame(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), "dec", "dnrm"
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
    )
    scored = cand.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cos_pq",
        dot(F.col("qvec"), F.col("dec")) / (F.col("qn") * F.col("dnrm")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_pq"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round("cos_pq", 9).alias("cos_pq"),
        )
    )


def _sql_pq_dist(a: str, b: str) -> str:
    """Left-associative 8-term squared-L2 over already-double slices."""
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, PQ_SUB + 1)
    )


# The PQ tail, factored into reusable fragments (same convention as
# _TOPK_TAIL_SQL / _IVF_TAIL_SQL so compositions share one WITH chain):
# _SQL_STRIDE_CTE is the shared ⌊√N⌋ scalar (identical text to
# _IVF_TAIL_SQL's stride — factored so the IVF-PQ composition defines
# it ONCE), _PQ_ENC_SQL is the encode/decode chain (assumes `stride`
# is in scope), and _PQ_TAIL_SQL adds the brute-force ADC scoring.
# `xn` is materialized once: vsub, csub, and the decoded-norm pass all
# read it, and inlining would re-expand the normalize transform at
# every reference (the DuckDB-side memory discipline the r9 OOM
# cascade taught).
_SQL_STRIDE_CTE = """stride AS (
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS s
      FROM emb
    )"""

_PQ_ENC_SQL = f"""xn AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
      FROM en
    ),
    ms AS (SELECT unnest(range({PQ_M})) AS m),
    vsub AS (
      SELECT vec_id, m, v[m*{PQ_SUB}+1 : m*{PQ_SUB}+{PQ_SUB}] AS sub
      FROM xn CROSS JOIN ms
    ),
    csub AS (
      SELECT vec_id AS code_id, m,
             v[m*{PQ_SUB}+1 : m*{PQ_SUB}+{PQ_SUB}] AS sub
      FROM xn CROSS JOIN ms
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    chosen AS (
      SELECT vec_id, m, csub_v FROM (
        SELECT v.vec_id, v.m, c.sub AS csub_v,
               row_number() OVER (
                 PARTITION BY v.vec_id, v.m
                 ORDER BY {_sql_q_assign(_sql_pq_dist("v.sub", "c.sub"))}
                          ASC, c.code_id
               ) AS rn
        FROM vsub v JOIN csub c ON c.m = v.m
      ) WHERE rn = 1
    ),
    decoded AS (
      SELECT vec_id, flatten(list(csub_v ORDER BY m)) AS dvec
      FROM chosen GROUP BY vec_id
    ),
    dn AS (
      SELECT vec_id, dvec, sqrt({_sql_dot("dvec", "dvec")}) AS dnrm
      FROM decoded
    )"""

_PQ_TAIL_SQL = f"""
    {_SQL_STRIDE_CTE},
    {_PQ_ENC_SQL},
    pq_q AS (
      SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM en
      WHERE vec_id < {N_QUERIES}
    ),
    pq_scored AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             ({_sql_dot("q.qvec", "d.dvec")}) / (q.qn * d.dnrm) AS cos_pq
      FROM pq_q q JOIN dn d
        ON d.vec_id <> q.query_id AND d.dnrm > 0
    ),
    pq_approx AS (
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_pq DESC, neighbor_id) AS INTEGER)
               AS rank,
             neighbor_id, round(cos_pq, 9) AS cos_pq
      FROM pq_scored
      QUALIFY rank <= {TOP_K}
    )
"""

register(
    "sim_ann_pq",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_PQ_TAIL_SQL}
    SELECT query_id, rank, neighbor_id, cos_pq FROM pq_approx
    """,
)(sim_ann_pq)


def sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@K of the PQ/ADC scan against the exact
    brute-force top-k — the distortion telemetry that decides whether a
    codebook (or its M/subspace split) is good enough to ship, exactly
    as sim_ann_recall does for the IVF probe path. Both sides are
    themselves oracle-checked queries; the measurement is a semi-match
    count over their K-row results, so it carries a full oracle too."""
    exact = sim_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_ann_pq(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(TOP_K), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# One WITH chain sharing emb/norms/queries between the exact and PQ
# sides (the sim_ann_recall shape — composing two full nested pipelines
# back-to-back is what OOM'd the r9 driver connection).
register(
    "sim_ann_pq_recall",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_TOPK_TAIL_SQL},
    {_PQ_TAIL_SQL}
    SELECT e.query_id,
           count(a.neighbor_id) AS n_hits,
           round(count(a.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
    FROM exact e LEFT JOIN pq_approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)(sim_ann_pq_recall)


# --- Johnson-Lindenstrauss random projection --------------------------------
# The dimensionality-reduction leg that sits UPSTREAM of the quantized
# scans: project 64 dims to RP_K=16 with a fixed dense random matrix, so
# downstream ANN/clustering pay a quarter of the bytes and flops while
# pairwise geometry survives within the JL distortion bound. The matrix
# reuses the _hyperplanes determinism convention (fixed LCG, entries are
# exact binary fractions k/4096 - 1/2) with a DIFFERENT seed, scaled by
# sqrt(12/RP_K) so E[||proj||^2] = ||x||^2 (uniform(-1/2,1/2) entries
# have variance 1/12); the scale is folded into the entries in Python,
# and the same repr-round-tripped doubles appear as Spark literals and
# in the oracle text — one source of truth, bit-identical on both
# engines. The projection itself is PURE CODEGEN: RP_K left-fold
# dot products per vector (zip_with + aggregate), no Python stage, no
# exchange until the output ordering — at 100 TB this is a map-only
# projection fused into whatever scan feeds it.

RP_K = 16


def _rp_matrix(k: int = RP_K, dim: int = DIM) -> list[list[float]]:
    scale = math.sqrt(12.0 / k)
    out: list[list[float]] = []
    state = 0x9E3779B97F4A7C15  # distinct seed from _hyperplanes
    for _ in range(k):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((((state >> 33) % 4096) / 4096 - 0.5) * scale)
        out.append(row)
    return out


_RP = _rp_matrix()


@memoized_build("embeddings")
def embedding_rp_project(
    spark: SparkSession, sf_dir: str, gemm: bool | None = None
) -> DataFrame:
    """(vec_id, proj_1..proj_16) — each vector's JL projection, flat
    columns per the driver-contract convention (the PCA precedent).
    Magnitude-based (zero vectors legitimately project to the origin),
    so the validity gate applies but the nonzero gate does not.

    Two execution modes, one matrix, auto-selected by input size
    (gemm=None, the default): below GEMM_MIN_ROWS the interpreted
    left-fold (zip_with + aggregate) — it IS the cross-engine-exact
    arithmetic the oracle pins, at ~1.2 s/20k vectors (the
    sim_ann_int8 _quantize precedent) — and at or above it the 100 TB
    path: one Arrow-batched X @ R.T per batch (millions of rows/s,
    the same shape as the IVF/PQ assignment stages) whose
    pairwise-summed doubles differ from the fold at ~1e-16 — fine for
    every real consumer (ANN pre-reduce, clustering), excluded from
    the value-hash oracle; the |gemm − fold| ≤ 1e-9 envelope is
    pytest-pinned on BOTH sides of the seam. Pass gemm=True/False to
    force a mode (tests; reproducing an oracle row at scale)."""
    emb = load_vectors(spark, sf_dir)
    if gemm is None:
        gemm = _gemm_seam(spark, sf_dir, emb, "valid")
    if gemm:
        R = np.array(_RP, dtype=np.float64)
        flat_schema = "vec_id long, " + ", ".join(
            f"proj_{j + 1} double" for j in range(RP_K)
        )

        def project(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                P = np.round(X @ R.T, 9)
                out = {"vec_id": pdf["vec_id"]}
                for j in range(RP_K):
                    out[f"proj_{j + 1}"] = P[:, j]
                import pandas as _pd

                yield _pd.DataFrame(out)

        return (
            emb.select("vec_id", "embedding")
            .mapInPandas(project, flat_schema)
            .orderBy("vec_id")
        )
    # The SAME fold expression tree as the previous Column-built form
    # (aggregate ∘ zip_with, double cast on the vector side, 0.0 seed,
    # left-to-right accumulation — bit-identical results, pinned by the
    # oracle), but constructed as ONE parsed SQL string per projection:
    # the Column form issued ~70 py4j round trips per projection × 16
    # projections, ~1.2 s of driver-side build per invocation at r13
    # (guide §7.3: plan construction is driver-side, single-threaded).
    cols = [F.col("vec_id")]
    for j in range(RP_K):
        arr = ", ".join(f"{v!r}D" for v in _RP[j])
        proj = (
            f"aggregate(zip_with(embedding, array({arr}), "
            "(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)"
        )
        cols.append(F.expr(f"round({proj}, 9)").alias(f"proj_{j + 1}"))
    return emb.select(*cols).orderBy("vec_id")


def _sql_rp_proj(j: int) -> str:
    return " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * ({v!r})"
        for i, v in enumerate(_RP[j])
    )


register(
    "embedding_rp_project",
    sql=f"""
    SELECT vec_id,
           {", ".join(f"round({_sql_rp_proj(j)}, 9) AS proj_{j + 1}"
                      for j in range(RP_K))}
    FROM embeddings WHERE {SQL_EMB_VALID}
    ORDER BY vec_id
    """,
)(embedding_rp_project)


# --- IVF-PQ: cell-pruned scan over PQ-compressed candidates -----------------
# The composition production billion-scale indexes actually ship
# (FAISS's IVFPQ): the IVF coarse quantizer prunes the scan to nprobe
# cells AND product quantization compresses what the scan reads —
# multiplicative savings (N/√N·nprobe of the vectors touched, each at
# M code ids instead of DIM floats). Both building blocks keep their
# established parity contracts: cell assignment/probing ranks via the
# shared 6-dp half-up quantizer (the sim_ann_ivf contract), candidate
# values come from the fold-normalized decoded codewords (the
# sim_ann_pq contract), ADC cosines are exact left-folded doubles
# rounded to 9 dp.


@memoized_build("embeddings")
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_pq) — top-k per query scanning
    only the query's nprobe IVF cells, scored against each candidate's
    PQ-decoded form (asymmetric distance: raw query, compressed
    candidate).

    Scale shape: ONE Arrow projection on the candidate side computes
    both the cell id (GEMM against broadcast centroids) and the decoded
    codewords (fold against broadcast codebooks); candidates shuffle
    once on cell_id; refine work is the IVF bound (N²·nprobe/√N dots)
    at PQ bytes. At 100 TB the stored index is cell_id + M code ids per
    vector — the scan never touches raw floats."""
    emb = load_vectors(spark, sf_dir, nonzero=True)
    bc_c = _centroid_broadcast(spark, sf_dir)
    bc_pq = _pq_codebook_broadcast(spark, sf_dir)
    if len(bc_c.value[0]) == 0 or len(bc_pq.value[0]) == 0:
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cos_pq double"
        )
    # session_get (r13): cell ids come from the materialized IVF index
    # and decoded codewords from the materialized PQ index — the two
    # artifacts an IVF-PQ store persists — joined on vec_id instead of
    # re-running both broadcast folds over the corpus per execution.
    # The dnrm>0 screen lives in the PQ index (inner join keeps it).
    assign = _ivf_index_frame(spark, sf_dir).select(
        "vec_id", "cell_id"
    ).join(_pq_index_frame(spark, sf_dir), "vec_id")
    nprobe = min(IVF_NPROBE, len(bc_c.value[0]))
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            norm(F.col("embedding")).alias("qn"),
            F.explode(_top_cells_udf(bc_c, nprobe)("embedding")).alias(
                "cell_id"
            ),
        )
    )
    scored = (
        probes.join(assign, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_pq",
            dot(F.col("qvec"), F.col("dec")) / (F.col("qn") * F.col("dnrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_pq"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "rank", F.col("vec_id").alias("neighbor_id"),
            F.round("cos_pq", 9).alias("cos_pq"),
        )
    )


# Factored as a tail (CTE names disjoint from _TOPK_TAIL_SQL's) so the
# end-to-end recall composition shares one WITH chain.
_IVFPQ_TAIL_SQL = f"""
    {_SQL_STRIDE_CTE},
    centroids AS (
      SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm FROM en
      WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    cells AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    {_PQ_ENC_SQL},
    probes AS (
      SELECT query_id, qvec, qn, cell_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, e.nrm AS qn,
               c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_q_assign(
                     _sql_cos_n("e.embedding", "e.nrm", "c.cvec", "c.cnrm"))}
                          DESC, c.cell_id
               ) AS rn
        FROM en e CROSS JOIN centroids c
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    ivfpq_scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ({_sql_dot("p.qvec", "d.dvec")}) / (p.qn * d.dnrm) AS cos_pq
      FROM probes p
      JOIN cells a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
      JOIN dn d ON d.vec_id = a.vec_id AND d.dnrm > 0
    ),
    ivfpq_approx AS (
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_pq DESC, neighbor_id) AS INTEGER)
               AS rank,
             neighbor_id, round(cos_pq, 9) AS cos_pq
      FROM ivfpq_scored
      QUALIFY rank <= {TOP_K}
    )
"""

register(
    "sim_ann_ivfpq",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_IVFPQ_TAIL_SQL}
    SELECT query_id, rank, neighbor_id, cos_pq FROM ivfpq_approx
    """,
)(sim_ann_ivfpq)


def sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@K of the composed IVF-PQ scan against the exact
    brute-force top-k — the END-TO-END quality number a production
    index deployment watches (cell-miss and quantization-distortion
    losses combined), next to the per-mechanism recalls
    (sim_ann_recall for the probe path, sim_ann_pq_recall for the
    codebook)."""
    exact = sim_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    approx = sim_ann_ivfpq(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(TOP_K), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# One WITH chain sharing emb/norms/queries between the exact and
# composed sides (the established recall memory shape).
register(
    "sim_ann_ivfpq_recall",
    sql=f"""
    WITH {SQL_EMB_CTE},
    {SQL_EN_CTE},
    {_TOPK_TAIL_SQL},
    {_IVFPQ_TAIL_SQL}
    SELECT e.query_id,
           count(a.neighbor_id) AS n_hits,
           round(count(a.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
    FROM exact e LEFT JOIN ivfpq_approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)(sim_ann_ivfpq_recall)


# --- graph ANN: best-first search over the stored kNN graph -----------------
# The last layer of the ANN story (flat → IVF → PQ → IVF-PQ → graph):
# search over the materialized kNN edge list — the HNSW layer-0 search
# analogue, and the read path a pipeline that has already BUILT the kNN
# graph (sim_knn_graph) uses to answer new queries without any scan.
# Every walk query, batch or streaming, is one configuration of the
# graph_search kernel below: (adjacency rows, seed count, greedy or
# beam, trace or not). Deterministic by construction so it can be
# value-hash oracled: seeded entry points (the smallest node ids ≠
# query), cosines quantized to the shared 9-dp contract BEFORE
# comparison, strictly-improving greedy moves only, ties broken by
# neighbor id, hop count capped — on both engines the walk is the same
# unique chain. Spark unrolls the capped hops into ONE lazy plan, each
# hop a lookup join of the current nodes' adjacency rows and an
# array argmax (a converged walk's remaining hops are stays); DuckDB
# runs the genuinely-recursive form (argmax-per-step encoded as NOT
# EXISTS — a window/aggregate is illegal in a recursive member).
#
# Scale shape: the walk never scans the corpus — each hop joins the Q·S
# state rows to the adjacency rows (the DiskANN/HNSW node record: K
# out-neighbours next to their vectors, stored once per index) and
# scores Q·S·K candidates. The rows grow with the corpus, so they are
# broadcast (one copy for every hop) only while a footer bound keeps
# them under ADJ_BROADCAST_MAX_ENTRIES vectors; past it AQE plans each
# hop join, at worst a shuffle join whose adjacency exchange all hops
# share, gone once the rows are a table bucketed on vec_id.

GRAPH_MAX_HOPS = 8
# a few hundred MB framed: tables.BROADCAST_MAX_ROWS's forced-broadcast ceiling
ADJ_BROADCAST_MAX_ENTRIES = 1 << 20


def corpus_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm): the live corpus every graph search
    seeds from and scores its candidates against."""
    return load_vectors(spark, sf_dir, nonzero=True).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )


def query_frame(vectors: DataFrame) -> DataFrame:
    """(query_id, qvec, qn) over the valid nonzero rows of an
    embeddings-shaped frame: each arriving micro-batch in the serving
    streams."""
    return vectors.filter(vec_valid() & vec_nonzero()).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qn"),
    )


def adjacency_frame(edges: DataFrame, en: DataFrame) -> DataFrame:
    """(vec_id, nbrs: array<(neighbor_id, embedding, nrm)>): one row per
    node of the (vec_id, neighbor_id) list `edges` with its
    out-neighbours' corpus vectors and norms. Neighbours missing from
    the corpus `en` are dropped; a node without out-edges has no row."""
    return (
        edges.join(en.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select("vec_id", F.struct("neighbor_id", "embedding", "nrm").alias("x"))
        .groupBy("vec_id")
        .agg(F.collect_list("x").alias("nbrs"))
    )


def broadcast_adjacency(adj: DataFrame, entries: int | None) -> DataFrame:
    """``F.broadcast(adj)`` when `entries`, a bound on the neighbour
    vectors in `adj`, is known and under ADJ_BROADCAST_MAX_ENTRIES."""
    if entries is not None and entries < ADJ_BROADCAST_MAX_ENTRIES:
        return F.broadcast(adj)
    return adj


def stored_adjacency(spark: SparkSession, sf_dir: str, index) -> DataFrame:
    """The adjacency rows of the stored edge index `index` (knn_edges or
    knn_edges_hd), stored once per input stamp beside it: an index,
    like the edge list itself. Broadcast-hinted while the corpus footer
    row count times the index degree is under the gate."""
    store, degree = {
        knn_edges: (KNN_EDGES_STORE, KNN_K),
        knn_edges_hd: (HD_EDGES_STORE, HD_KNN_K),
    }[index]
    nodes = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    adj = persisted_get(
        f"{store}-adj",
        spark,
        sf_dir,
        "embeddings",
        "vec_id long, nbrs array<struct<neighbor_id: long,"
        " embedding: array<float>, nrm: double>>",
        lambda: adjacency_frame(
            index(spark, sf_dir).select("vec_id", "neighbor_id"),
            corpus_frame(spark, sf_dir),
        ),
    )
    return broadcast_adjacency(adj, None if nodes is None else nodes * degree)


def _cos9(qvec: Column, qn: Column, vec: Column, nrm: Column) -> Column:
    """Query-to-node cosine on the shared 9-dp grid: every comparison
    the searches make is between values of this expression."""
    return F.round(dot(qvec, vec) / (qn * nrm), 9)


def _scored(nbrs: Column, *extra: Column) -> Column:
    """The (neighbor_id, embedding, nrm) structs `nbrs` without the query
    itself, each as (c, *extra, nid): c the _cos9 cosine to the query,
    nid the NEGATED id, so the struct order ranks (cos DESC, id ASC)."""
    return F.transform(
        F.filter(nbrs, lambda x: x["neighbor_id"] != F.col("query_id")),
        lambda x: F.struct(
            _cos9(F.col("qvec"), F.col("qn"), x["embedding"], x["nrm"]).alias(
                "c"
            ),
            *extra,
            (-x["neighbor_id"]).alias("nid"),
        ),
    )


def _seed_frame(queries: DataFrame, en: DataFrame, seeds: int) -> DataFrame:
    """(query_id, qvec, qn, entries): each query with its `seeds` entry
    points, the smallest corpus ids that are not the query itself, as
    _scored (c, nid) structs in id order (seed = 1-based position).
    With seeds=1 this is the single-entry rule: the smallest node,
    unless the query IS that node, then the next. The hops keep the
    queries' partitioning: one hash on query_id serves every per-query
    aggregate and window after them."""
    heads = (
        en.orderBy("vec_id")
        .limit(seeds + 1)
        .select(
            F.struct(
                F.col("vec_id").alias("neighbor_id"), "embedding", "nrm"
            ).alias("x")
        )
        .agg(F.array_sort(F.collect_list("x")).alias("heads"))
    )
    entries = F.slice(_scored(F.col("heads")), 1, seeds).alias("entries")
    return queries.crossJoin(F.broadcast(heads)).select(
        "query_id", "qvec", "qn", entries
    )


def _greedy_walk(seeded: DataFrame, adj: DataFrame, trace: bool) -> DataFrame:
    """(query_id, seed, node, cos, n_hops) of every (query_id, seed)
    walk after GRAPH_MAX_HOPS hops, or with `trace` every state it
    passed through. A walk's state is one struct w = (c, h, nid), h the
    NEGATED hop count, and `steps` lists its earlier states (unused
    without `trace`, so pruned from the plan). A hop keeps the greatest
    of w and the current node's neighbours one hop further: the argmax
    neighbour wins iff it strictly improves the cosine (on a tie, w's
    fewer hops win — the SQL NOT-EXISTS argmax); a converged walk, or a
    node without an adjacency row, stays."""

    def entry(e: Column, i: Column) -> Column:
        w = F.struct(
            e["c"].alias("c"), F.lit(0).alias("h"), e["nid"].alias("nid")
        )
        return F.struct(
            (i + 1).alias("seed"), w.alias("w"), F.array().alias("steps")
        )

    state = seeded.select(
        "query_id", "qvec", "qn", F.inline(F.transform("entries", entry))
    )
    move = F.array_max(_scored(F.col("nbrs"), (F.col("w.h") - 1).alias("h")))
    w, steps = F.greatest("w", move), F.concat("steps", F.array("w"))
    hop = ["query_id", "qvec", "qn", "seed", w.alias("w"), steps.alias("steps")]
    on = -F.col("w.nid") == F.col("vec_id")
    for _ in range(GRAPH_MAX_HOPS):
        state = state.join(adj, on, "left").select(*hop)
    if trace:
        state = state.select("query_id", "seed", F.explode(steps).alias("w"))
    return state.select(
        "query_id",
        "seed",
        (-F.col("w.nid")).alias("node"),
        F.col("w.c").alias("cos"),
        (-F.col("w.h")).alias("n_hops"),
    )


def _beam_walk(seeded: DataFrame, adj: DataFrame, width: int) -> DataFrame:
    """(query_id, node, cos): the nodes a `width`-wide beam visits in
    GRAPH_MAX_HOPS hops from each query's entries. Between hops a query
    is one row per frontier node f (a null f once the frontier is
    empty), each carrying the (c, nid) array of the nodes visited
    before. A hop looks up each f's adjacency row, regroups per query
    in its one aggregate, and explodes the top `width` distinct
    candidates that are neither the query nor visited; an empty
    frontier expands to nothing, so later hops are no-ops."""
    query_id, qvec, qn = map(F.col, ["query_id", "qvec", "qn"])
    visited = F.concat(F.any_value("visited"), F.collect_list("f"))
    regroup = [
        F.any_value("qvec").alias("qvec"),
        F.any_value("qn").alias("qn"),
        visited.alias("visited"),
        F.flatten(F.collect_list("nbrs")).alias("nbrs"),
    ]
    fresh = F.filter(
        _scored(F.col("nbrs")),
        lambda x: ~F.array_contains(F.col("visited.nid"), x["nid"]),
    )
    frontier = F.slice(
        F.sort_array(F.array_distinct(fresh), asc=False), 1, width
    )
    hop = [query_id, qvec, qn, "visited", F.explode_outer(frontier).alias("f")]
    on = -F.col("f.nid") == F.col("vec_id")
    start = [F.array().alias("visited"), F.explode_outer("entries").alias("f")]
    state = seeded.select(query_id, qvec, qn, *start)
    for _ in range(GRAPH_MAX_HOPS):
        state = (
            state.join(adj, on, "left")
            .groupBy(query_id)
            .agg(*regroup)
            .select(*hop)
        )
    return (
        state.groupBy(query_id)
        .agg(F.explode(visited).alias("v"))
        .select(
            query_id, (-F.col("v.nid")).alias("node"), F.col("v.c").alias("cos")
        )
    )


def graph_search(
    queries: DataFrame,
    adj: DataFrame,
    en: DataFrame,
    seeds: int,
    beam: bool = False,
    trace: bool = False,
) -> DataFrame:
    """The one graph-search kernel over an arbitrary (query_id, qvec,
    qn) frame, the adjacency rows `adj` of a stored edge index and the
    corpus `en`: the batch queries and the ingest-time serving streams
    build the IDENTICAL lazy plan, with no driver round trip per hop.

    Greedy (default): `seeds` independent walks per query; returns each
    walk's terminal state (query_id, seed, node, cos, n_hops), or with
    `trace` every distinct state it passed through. Beam: one shared
    frontier `seeds` wide, started from the same entries; returns the
    visited set (query_id, node, cos)."""
    seeded = _seed_frame(queries, en, seeds)
    if beam:
        return _beam_walk(seeded, adj, seeds)
    # distinct: a converged walk repeats its terminal state across the
    # unrolled hops (the SQL walk appends only improving steps, so its
    # row set IS this distinct set)
    visits = _greedy_walk(seeded, adj, trace)
    return visits.distinct() if trace else visits


def best_visit(visits: DataFrame) -> DataFrame:
    """(query_id, best_id, cos_graph, n_hops, seed): per query, the best
    state a greedy search reached, by (cos DESC, node ASC, n_hops ASC,
    seed ASC) on both engines. Over a trace this is still the terminal
    state: cos strictly improves along every walk."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("node"), F.asc("n_hops"), F.asc("seed")
    )
    return (
        visits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("node").alias("best_id"),
            F.col("cos").alias("cos_graph"),
            F.col("n_hops").cast("int").alias("n_hops"),
            F.col("seed").cast("int").alias("seed"),
        )
    )


def top_visits(visits: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cos): the k best nodes a search
    visited, ranked by (cos DESC, node ASC) — the k-result serving
    answer. A search that converged early honestly returns fewer than k
    rows for that query."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    return (
        visits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("node").alias("neighbor_id"),
            "cos",
        )
    )


def walk_best(queries: DataFrame, adj: DataFrame, en: DataFrame) -> DataFrame:
    """(query_id, best_id, cos_graph, n_hops): the single-entry greedy
    walk's terminal state over an arbitrary query frame — sim_ann_graph's
    configuration, run per micro-batch by
    streaming.pipeline.graph_search_stream."""
    return best_visit(graph_search(queries, adj, en, 1)).drop("seed")


def graph_walk_frame(queries: DataFrame, edges: DataFrame, en: DataFrame) -> DataFrame:
    """walk_best over an arbitrary (vec_id, neighbor_id) edge list, such
    as one published version of a maintained index."""
    return walk_best(queries, adjacency_frame(edges, en), en)


def _corpus_walk_inputs(
    spark: SparkSession, sf_dir: str, index
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(queries, adj, en) of a registered walk: the corpus query set
    (vec_id < N_QUERIES), the stored adjacency rows of the edge index
    `index`, and the corpus — graph_search's first three arguments.
    Every walk query and recall twin searches afresh on each call; only
    the indexes are stored. On a one-split corpus the query set needs
    no shuffle at all."""
    en = corpus_frame(spark, sf_dir)
    queries = narrow_single_split_scan(
        en.filter(F.col("vec_id") < N_QUERIES).toDF("query_id", "qvec", "qn"),
        f"{sf_dir}/embeddings.parquet",
    )
    return queries, stored_adjacency(spark, sf_dir, index), en


def _recall_at_1(
    spark: SparkSession, sf_dir: str, best: DataFrame
) -> DataFrame:
    """(query_id, graph_best, exact_best, hit, cos_gap) of a search's
    best answer `best` (query_id, best_id, cos_graph) against the exact
    top-1 (sim_topk_cosine rank 1). The gap subtracts two values
    already on the shared 9-dp grid and re-rounds to absorb
    representation noise."""
    exact = (
        sim_topk_cosine(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("exact_best"),
            F.col("cos").alias("exact_cos"),
        )
    )
    return (
        best.join(exact, "query_id")
        .select(
            "query_id",
            F.col("best_id").alias("graph_best"),
            "exact_best",
            (F.col("best_id") == F.col("exact_best")).cast("int").alias("hit"),
            F.round(F.col("exact_cos") - F.col("cos_graph"), 9).alias(
                "cos_gap"
            ),
        )
        .orderBy("query_id")
    )


def sim_ann_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, best_id, cos_graph, n_hops) — the greedy best-first
    local optimum each query reaches on the kNN graph, with the hop
    count it took. Walks the stored edge index (knn_edges) afresh on
    every call."""
    return walk_best(
        *_corpus_walk_inputs(spark, sf_dir, knn_edges)
    ).orderBy("query_id")


def _sql_graph_step_cos(nv: str, nn: str) -> str:
    """Candidate cosine inside the recursive member: query vector via
    the q CTE join, 9-dp quantized like every comparison in the walk."""
    return f"round({_sql_cos_n('q.qvec', 'q.qn', nv, nn)}, 9)"


# The greedy walk's WITH chain over a nested edge-list statement, keyed
# on (query_id, seed): gq pairs each query with its `seeds` smallest
# non-self entries, the recursive member carries the seed through and
# appends only improving steps, finals is each seed's terminal state
# and gbest the cross-seed best (the identity with one seed). Outer
# names (gen/knn/heads/gq/walk/finals/gbest) stay disjoint from the
# nested statement's own scopes — DuckDB rejects duplicate aliases
# across the nesting.
def _graph_walk_sql(knn_sql: str, seeds: int) -> str:
    return f"""
    WITH RECURSIVE gen AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({_sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings WHERE {SQL_EMB_UNIT}
    ),
    knn AS MATERIALIZED ({knn_sql}),
    heads AS (
      SELECT vec_id FROM gen ORDER BY vec_id LIMIT {seeds + 1}
    ),
    gq AS MATERIALIZED (
      SELECT * FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec, e.nrm AS qn,
               h.vec_id AS entry,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY h.vec_id) AS seed
        FROM gen e JOIN heads h ON h.vec_id <> e.vec_id
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE seed <= {seeds}
    ),
    walk(query_id, seed, node, cos, n_hops) AS (
      SELECT q.query_id, q.seed, q.entry,
             round({_sql_cos_n("q.qvec", "q.qn", "n.embedding", "n.nrm")}, 9),
             0
      FROM gq q JOIN gen n ON n.vec_id = q.entry
      UNION ALL
      SELECT w.query_id, w.seed, e.neighbor_id,
             {_sql_graph_step_cos("n.embedding", "n.nrm")},
             w.n_hops + 1
      FROM walk w
      JOIN gq q ON q.query_id = w.query_id AND q.seed = w.seed
      JOIN knn e ON e.vec_id = w.node AND e.neighbor_id <> w.query_id
      JOIN gen n ON n.vec_id = e.neighbor_id
      WHERE w.n_hops < {GRAPH_MAX_HOPS}
        AND {_sql_graph_step_cos("n.embedding", "n.nrm")} > w.cos
        AND NOT EXISTS (
          SELECT 1 FROM knn e2 JOIN gen n2 ON n2.vec_id = e2.neighbor_id
          WHERE e2.vec_id = w.node AND e2.neighbor_id <> w.query_id
            AND ({_sql_graph_step_cos("n2.embedding", "n2.nrm")}
                   > {_sql_graph_step_cos("n.embedding", "n.nrm")}
                 OR ({_sql_graph_step_cos("n2.embedding", "n2.nrm")}
                       = {_sql_graph_step_cos("n.embedding", "n.nrm")}
                     AND e2.neighbor_id < e.neighbor_id))
        )
    ),
    finals AS (
      SELECT query_id, seed, node, cos, n_hops
      FROM walk
      QUALIFY row_number() OVER (PARTITION BY query_id, seed
                                 ORDER BY n_hops DESC) = 1
    ),
    gbest AS (
      SELECT query_id, node AS best_id, cos AS cos_graph,
             CAST(n_hops AS INTEGER) AS n_hops, CAST(seed AS INTEGER) AS seed
      FROM finals
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, node, n_hops, seed) = 1
    )"""


_GRAPH_SQL = f"""{_graph_walk_sql(_KNN_SQL, 1)}
    SELECT query_id, best_id, cos_graph, n_hops FROM gbest
    ORDER BY query_id
    """

register("sim_ann_graph", sql=_GRAPH_SQL)(sim_ann_graph)


# The exact side of every recall twin, p-prefixed so its CTE names stay
# disjoint from the nested search's scopes: x for the single-seed walk,
# y for the multi-seed walk, z for the high-degree walk, w for the beam.
def _recall_sql(graph_sql: str, p: str) -> str:
    return f"""
    WITH graph AS MATERIALIZED ({graph_sql}),
    {p}en AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({_sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings WHERE {SQL_EMB_UNIT}
    ),
    {p}q AS (
      SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM {p}en
      WHERE vec_id < {N_QUERIES}
    ),
    {p}scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_n("q.qvec", "q.qn", "e.embedding", "e.nrm")} AS cos
      FROM {p}q q JOIN {p}en e ON e.vec_id <> q.query_id
    ),
    {p}best AS (
      SELECT query_id, neighbor_id AS exact_best, round(cos, 9) AS exact_cos
      FROM {p}scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) = 1
    )
    SELECT g.query_id, g.best_id AS graph_best, {p}.exact_best,
           CAST(g.best_id = {p}.exact_best AS INTEGER) AS hit,
           round({p}.exact_cos - g.cos_graph, 9) AS cos_gap
    FROM graph g JOIN {p}best {p} ON {p}.query_id = g.query_id
    ORDER BY g.query_id
    """


def sim_ann_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, graph_best, exact_best, hit, cos_gap) — how often the
    greedy walk's local optimum IS the global top-1, and how far off it
    sits in cosine when it is not: the quality number that decides
    whether a single graph entry point suffices or the deployment needs
    beam width / multiple seeds. Completes the recall family
    (probe path / codebook / composition / graph). Runs its own walk
    and exact top-k on every call."""
    return _recall_at_1(
        spark,
        sf_dir,
        walk_best(*_corpus_walk_inputs(spark, sf_dir, knn_edges)),
    )


register("sim_ann_graph_recall", sql=_recall_sql(_GRAPH_SQL, "x"))(
    sim_ann_graph_recall
)


# --- multi-seed graph search (the entry-point adjudication) -----------------
# The single-entry recall artifact answers whether one fixed entry point
# suffices, and the answer is NO: recall@1 is 0/20 at BOTH sf0.01 and
# sf0.1 (avg cos_gap ~0.22/0.26, walks terminating after ~1.3 hops).
# The testdata embeddings are near-isotropic and the stored graph has
# degree KNN_K=3, so a greedy descent from one fixed entry point hits a
# local optimum almost immediately — the classic low-degree
# navigability failure. The production levers are graph degree
# (DiskANN/HNSW serve at 32-64) and search width; at FIXED degree the
# width lever a recursive walk can express is MULTI-SEED (independent
# walks from S deterministic entry points, best final state wins), with
# the same deterministic-tiebreak contract and the full value-hash
# oracle. (Beam search, the shared-frontier form, is further below.)
# Measured effect at GRAPH_SEEDS=4 (the recall twin below is the
# standing artifact): hits 0/20 -> 1/20 at sf0.01 and
# 0/20 -> 0/20 at sf0.1, avg cos_gap roughly HALVED (0.221 -> 0.117
# and 0.265 -> 0.164) — width helps exactly as theory predicts but
# cannot rescue a degree-3 graph over isotropic vectors; a deployment
# wanting recall>0.9 raises the graph degree (KNN_K) first and adds
# width second. The K=3 testdata graph is the correctness scaffold for
# the walk/maintenance algebra, not a recall benchmark.

GRAPH_SEEDS = 4


def sim_ann_graph_multiseed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, best_id, cos_graph, n_hops, seed) — the best local
    optimum across GRAPH_SEEDS independent greedy walks per query; seed
    is the 1-based rank of the winning entry point. Ties across seeds
    resolve by (cos DESC, node ASC, n_hops ASC, seed ASC) on both
    engines. Runs over the same stored edge list as the single-seed
    walk; per-hop cost is Q·S·K candidate scores."""
    return best_visit(
        graph_search(
            *_corpus_walk_inputs(spark, sf_dir, knn_edges), GRAPH_SEEDS
        )
    ).orderBy("query_id")


_GRAPH_MULTI_SQL = f"""{_graph_walk_sql(_KNN_SQL, GRAPH_SEEDS)}
    SELECT * FROM gbest ORDER BY query_id
    """

register("sim_ann_graph_multiseed", sql=_GRAPH_MULTI_SQL)(
    sim_ann_graph_multiseed
)


def sim_ann_graph_multiseed_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(query_id, graph_best, exact_best, hit, cos_gap) — recall@1 of
    the multi-seed walk against the exact optimum: the adjudication
    artifact for the entry-point question (see the section note above
    for the measured single- vs multi-seed numbers). Runs its own S
    walks on every call."""
    walk = best_visit(
        graph_search(
            *_corpus_walk_inputs(spark, sf_dir, knn_edges), GRAPH_SEEDS
        )
    )
    return _recall_at_1(spark, sf_dir, walk)


register(
    "sim_ann_graph_multiseed_recall",
    sql=_recall_sql(_GRAPH_MULTI_SQL, "y"),
)(sim_ann_graph_multiseed_recall)


# --- graph-ANN top-k: rank the walk's visited trace -------------------------
# Real graph serving returns K results, not one: the greedy walk's
# VISITED SET (entry + every improving step — the recursive walk's full
# row set) is exactly the candidate pool a DiskANN-style search ranks
# its answers from. The trace is bounded (≤ GRAPH_MAX_HOPS+1 nodes per
# query, strictly improving so nodes never repeat), so top-k over it
# adds no corpus work to the walk. Fewer than K rows for a query that
# converged early is the honest answer (the walk genuinely visited
# fewer candidates), matching the SQL trace exactly.

GRAPH_TOPK = 3


def sim_ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — the best GRAPH_TOPK nodes
    the greedy walk VISITED, ranked by (cos DESC, node ASC): the
    k-result serving answer of the graph search. rank 1 always equals
    sim_ann_graph's terminal node (cos strictly improves along the
    walk, so the last node is the trace argmax) — pinned by test."""
    trace = graph_search(
        *_corpus_walk_inputs(spark, sf_dir, knn_edges), 1, trace=True
    )
    return top_visits(trace, GRAPH_TOPK).orderBy("query_id", "rank")


register(
    "sim_ann_graph_topk",
    sql=f"""{_graph_walk_sql(_KNN_SQL, 1)}
    SELECT query_id, CAST(rank AS INTEGER) AS rank, node AS neighbor_id, cos
    FROM (
      SELECT query_id, node, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, node) AS rank
      FROM walk
    )
    WHERE rank <= {GRAPH_TOPK}
    ORDER BY query_id, rank
    """,
)(sim_ann_graph_topk)


# --- high-degree graph ANN: the DEPLOYABLE-recall configuration -------------
# The multi-seed adjudication measured that neither width alone
# (multiseed over the K=3 graph: recall@1 1/20 at sf0.01, 0/20 at sf0.1)
# nor the K=3 degree can make the greedy walk deployable, and named
# raising the graph degree as the next lever. A measurement campaign
# swept degree × width × build quality (all runs at GRAPH_MAX_HOPS-uncapped,
# 20 queries, hits/20):
#
#   build            K   S    sf0.01   sf0.1
#   IVF np=2         8   4      6        3
#   IVF np=2        32   4     11        3
#   IVF np=8        32  16     19       16
#   exact all-pairs 32   4     19       11
#   exact all-pairs 32  16     20       19
#   IVF np=2 + 1 NN-descent round, K=32, S=16:
#                              20       18   <- chosen
#
# Three facts fall out: (1) degree AND width must BOTH rise — K=32/S=4
# is 11/20 even on the exact graph; (2) the IVF seed graph's own recall
# is binding (np=8/S=16 caps at 16/20 where the exact graph reaches
# 19/20); (3) ONE NN-descent refinement round (score each vertex
# against its neighbors' neighbors, undirected, re-rank top-K) closes
# that gap without ever forming all-pairs — candidates are N·(2K+4K²)
# bounded, the classic NN-Descent convergence result (Dong et al.,
# WWW'11). The chosen configuration reaches recall@1 = 18/20 (0.90) at
# sf0.1 and 20/20 at sf0.01 with avg cos_gap ≤ 0.002 — the ≥0.9 bar —
# and every stage is a bucketed/bounded DataFrame op: the walk itself
# is unchanged (graph_search over the graph's adjacency rows), only the
# stored graph is denser and the seed fan wider (DiskANN/HNSW practice:
# serving degree 32-64).
#
# Scale shape of the build: seed graph = the IVF kNN build at K=32
# (N·√N assign + in-cell refine, one shuffle on cell_id); the NND round
# is one self-join of the edge list on the shared endpoint (shuffle on
# vec_id, N·4K² candidate rows max, deduped) + one re-score against the
# corpus (two co-located joins on vec_id) + a per-vertex top-K window.
# No stage touches N² anywhere.

HD_KNN_K = 32           # stored graph degree (DiskANN/HNSW serving range)
HD_SEEDS = 16           # walk width: independent deterministic entries


def _nnd_round_frame(edges: DataFrame, en: DataFrame, k: int) -> DataFrame:
    """One NN-descent refinement round: each vertex's candidate set is
    its current out-neighbors, in-neighbors, and neighbors-of-neighbors
    (undirected expansion); candidates are deduped, re-scored exactly,
    and cut back to top-k. (vec_id, rank, neighbor_id, cos) out, ranks
    on the raw double like the batch kNN build, cos 9-dp on output."""
    fwd = edges.select("vec_id", "neighbor_id")
    rev = edges.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
    )
    # checkpoint: the undirected edge list feeds the plan THREE times
    # (itself + both sides of the expansion self-join) and `edges` is
    # the whole K=32 IVF seed build — uncheckpointed, Catalyst
    # re-executes that build per reference (review-flagged, ~3x build
    # wall); materialized it is an N·2K-row frame computed once
    und = fwd.unionByName(rev).localCheckpoint()
    non = (
        und.alias("a")
        .join(und.alias("b"), F.col("a.neighbor_id") == F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.neighbor_id").alias("neighbor_id"),
        )
    )
    cand = (
        und.unionByName(non)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(
            en.select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
                F.col("nrm").alias("qn"),
            ),
            F.col("vec_id") == F.col("qid"),
        )
        .join(
            en.select(
                F.col("vec_id").alias("nid"),
                F.col("embedding").alias("nvec"),
                F.col("nrm").alias("nn"),
            ),
            F.col("neighbor_id") == F.col("nid"),
        )
        .select(
            "vec_id",
            "neighbor_id",
            (
                dot(F.col("qvec"), F.col("nvec"))
                / (F.col("qn") * F.col("nn"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cos", 9).alias("cos"),
        )
    )


HD_EDGES_STORE = f"knn_edges_hd-v1-K{HD_KNN_K}-np{IVF_NPROBE}-nnd1"


def knn_edges_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The high-degree NN-descent-refined edge list, persisted to disk
    exactly like knn_edges (store name carries K/nprobe/round params so
    the two indexes never collide on a path)."""

    def build():
        emb = widen_small_scan(
            load_vectors(spark, sf_dir, nonzero=True),
            path=f"{sf_dir}/embeddings.parquet",
        )
        en = emb.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
        )
        bc = _centroid_broadcast(spark, sf_dir)
        seed = _knn_graph_frame(emb, bc, k=HD_KNN_K).select(
            "vec_id", "neighbor_id"
        )
        return _nnd_round_frame(seed, en, HD_KNN_K)

    return persisted_get(
        HD_EDGES_STORE,
        spark,
        sf_dir,
        "embeddings",
        "vec_id long, rank int, neighbor_id long, cos double",
        build,
    )


def sim_ann_graph_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, best_id, cos_graph, n_hops, seed) — the deployable
    graph-ANN serving configuration: HD_SEEDS independent greedy walks
    over the degree-HD_KNN_K NN-descent-refined graph, best final state
    per query. Measured recall@1: 18/20 at sf0.1, 20/20 at sf0.01 (see
    the section note's sweep table). The reference anchor is unchanged:
    the walk is the serving analogue of NewEvent.java:62-69's argmin
    over centroids, upgraded to a stored navigable index."""
    return best_visit(
        graph_search(
            *_corpus_walk_inputs(spark, sf_dir, knn_edges_hd), HD_SEEDS
        )
    ).orderBy("query_id")


# The hd edge-list statement, nestable as a `knn` CTE: the K=32 IVF
# seed build (inner WITH-scope: emb/en/stride/centroids/assign/probes/
# scored) wrapped by the NND expansion (hgen/hund/hcand/hscored —
# h-prefixed, disjoint from both the inner scope and the outer walk's
# gen/heads/gq/walk/finals).
_HD_KNN_SQL = f"""
    WITH hgen AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({_sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings WHERE {SQL_EMB_UNIT}
    ),
    hseed AS MATERIALIZED ({_knn_sql(HD_KNN_K)}),
    hund AS (
      SELECT vec_id, neighbor_id FROM hseed
      UNION ALL
      SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM hseed
    ),
    hcand AS (
      SELECT DISTINCT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id FROM hund
        UNION ALL
        SELECT a.vec_id, b.neighbor_id
        FROM hund a JOIN hund b ON a.neighbor_id = b.vec_id
      ) WHERE vec_id <> neighbor_id
    ),
    hscored AS (
      SELECT c.vec_id, c.neighbor_id,
             {_sql_cos_n("q.embedding", "q.nrm", "n.embedding", "n.nrm")}
               AS cos
      FROM hcand c
      JOIN hgen q ON q.vec_id = c.vec_id
      JOIN hgen n ON n.vec_id = c.neighbor_id
    )
    SELECT vec_id,
           CAST(row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, neighbor_id) AS INTEGER)
             AS rank,
           neighbor_id, round(cos, 9) AS cos
    FROM hscored
    QUALIFY rank <= {HD_KNN_K}
    """

_GRAPH_HD_SQL = f"""{_graph_walk_sql(_HD_KNN_SQL, HD_SEEDS)}
    SELECT * FROM gbest ORDER BY query_id
    """

register("sim_ann_graph_hd", sql=_GRAPH_HD_SQL)(sim_ann_graph_hd)


def sim_ann_graph_hd_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, graph_best, exact_best, hit, cos_gap) — recall@1 of
    the high-degree multi-seed walk against the exact optimum: the
    artifact that certifies the ≥0.9 deployability bar. Runs its own
    walks on every call."""
    walk = best_visit(
        graph_search(
            *_corpus_walk_inputs(spark, sf_dir, knn_edges_hd), HD_SEEDS
        )
    )
    return _recall_at_1(spark, sf_dir, walk)


register(
    "sim_ann_graph_hd_recall",
    sql=_recall_sql(_GRAPH_HD_SQL, "z"),
)(sim_ann_graph_hd_recall)


# --- beam-search graph ANN: width as a FRONTIER, fully oracled --------------
# The third width lever, after multi-seed (independent walks) and
# degree (denser graph): BEST-FIRST BEAM SEARCH — one shared frontier
# of the BEAM_WIDTH globally-best unvisited candidates per query, the
# search loop DiskANN/HNSW actually serve with. A recursive CTE member
# cannot hold the per-step top-W (no windows/aggregates in recursion),
# but the hop cap makes recursion unnecessary: the loop UNROLLS into
# chained non-recursive CTEs (f0/v0 → f1/v1 → …), and QUALIFY is legal
# in every one of them. Beam search therefore gets the FULL value-hash
# oracle, same 9-dp grid and (cos DESC, node ASC) tiebreak as the
# walk family. Early termination is parity-free by construction: an
# empty frontier stays empty through every later hop's joins on both
# engines.
#
# Measured (completing the width adjudication): over the SAME stored
# hd graph, W=8 beam reaches recall@1 = 20/20 at sf0.01 AND 20/20 at
# sf0.1 (avg cos_gap 0.0) where 16 independent greedy walks measure
# 20/20 / 18/20 — the shared frontier dominates independent walks at
# comparable per-hop cost, exactly the DiskANN observation. Full
# ladder at sf0.1: single greedy 0/20 → 4-seed 0/20 → 16-seed over
# degree-32 NND graph 18/20 → W=8 beam over the same graph 20/20.
#
# Scale shape: per hop one equi-join of the W-row-per-query frontier
# into the stored adjacency (Q·W·K candidate scores), an anti-join
# against the visited set (≤ Q·(W·hops) rows), and a per-query top-W
# window — corpus size appears only in the stored graph build. State
# is Q·W frontier + Q·W·hops visited rows, checkpointed per hop like
# the walk state.

BEAM_WIDTH = 8
BEAM_TOPK = 5

def sim_ann_graph_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — the BEAM_TOPK best
    candidates beam search explored per query: the k-result serving
    answer of the production graph-search loop. Rank 1 is the beam's
    best local optimum; with the frontier as wide as the hd walk's
    seed fan it matches or beats the greedy family's candidate quality
    at the same per-hop cost order (Q·W·K vs Q·S·K scores)."""
    visited = graph_search(
        *_corpus_walk_inputs(spark, sf_dir, knn_edges_hd),
        BEAM_WIDTH,
        beam=True,
    )
    return top_visits(visited, BEAM_TOPK).orderBy("query_id", "rank")


def _beam_sql() -> str:
    """The unrolled beam as chained CTEs: bgen/bq (corpus + queries),
    knn (the nested hd edge list), f0/v0 (seed frontier/visited), then
    per hop t: c{t} (expand + anti-visited) → f{t} (top-W QUALIFY) →
    v{t} (union). b-prefixed names: disjoint from every nested scope
    (_HD_KNN_SQL's h*/emb/en/... inner names)."""
    step = _sql_cos_n("q.qvec", "q.qn", "n.embedding", "n.nrm")
    parts = [
        f"""WITH bgen AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({_sql_dot("embedding", "embedding")}) AS nrm
      FROM embeddings WHERE {SQL_EMB_UNIT}
    ),
    knn AS MATERIALIZED ({_HD_KNN_SQL}),
    bheads AS (
      SELECT vec_id FROM bgen ORDER BY vec_id LIMIT {BEAM_WIDTH + 1}
    ),
    bq AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qvec, nrm AS qn FROM bgen
      WHERE vec_id < {N_QUERIES}
    ),
    f0 AS MATERIALIZED (
      SELECT q.query_id, h.vec_id AS node,
             round({_sql_cos_n("q.qvec", "q.qn", "g.embedding", "g.nrm")}, 9)
               AS cos
      FROM bq q JOIN bheads h ON h.vec_id <> q.query_id
      JOIN bgen g ON g.vec_id = h.vec_id
      QUALIFY row_number() OVER (PARTITION BY q.query_id
                                 ORDER BY h.vec_id) <= {BEAM_WIDTH}
    ),
    v0 AS MATERIALIZED (SELECT query_id, node, cos FROM f0)"""
    ]
    for t in range(1, GRAPH_MAX_HOPS + 1):
        parts.append(
            f""",
    c{t} AS MATERIALIZED (
      SELECT DISTINCT f.query_id, e.neighbor_id AS node,
             round({step}, 9) AS cos
      FROM f{t - 1} f
      JOIN bq q ON q.query_id = f.query_id
      JOIN knn e ON e.vec_id = f.node AND e.neighbor_id <> f.query_id
      JOIN bgen n ON n.vec_id = e.neighbor_id
      WHERE NOT EXISTS (
        SELECT 1 FROM v{t - 1} v
        WHERE v.query_id = f.query_id AND v.node = e.neighbor_id
      )
    ),
    f{t} AS MATERIALIZED (
      SELECT query_id, node, cos FROM c{t}
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, node) <= {BEAM_WIDTH}
    ),
    v{t} AS MATERIALIZED (SELECT * FROM v{t - 1}
                          UNION ALL SELECT * FROM f{t})"""
        )
    parts.append(
        f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, node AS neighbor_id, cos
    FROM (
      SELECT query_id, node, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, node) AS rank
      FROM v{GRAPH_MAX_HOPS}
    )
    WHERE rank <= {BEAM_TOPK}
    ORDER BY query_id, rank
    """
    )
    return "".join(parts)


_BEAM_SQL = _beam_sql()

register("sim_ann_graph_beam", sql=_BEAM_SQL)(sim_ann_graph_beam)


def sim_ann_graph_beam_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, graph_best, exact_best, hit, cos_gap) — recall@1 of
    the beam search against the exact optimum, completing the width
    adjudication triad: single-seed greedy → multi-seed greedy →
    shared-frontier beam, each over the same stored index family."""
    visited = graph_search(
        *_corpus_walk_inputs(spark, sf_dir, knn_edges_hd),
        BEAM_WIDTH,
        beam=True,
    )
    best = top_visits(visited, 1).select(
        "query_id",
        F.col("neighbor_id").alias("best_id"),
        F.col("cos").alias("cos_graph"),
    )
    return _recall_at_1(spark, sf_dir, best)


register(
    "sim_ann_graph_beam_recall",
    sql=_recall_sql(
        f"""
      SELECT query_id, neighbor_id AS best_id, cos AS cos_graph
      FROM ({_BEAM_SQL}) WHERE rank = 1
    """,
        "w",
    ),
)(sim_ann_graph_beam_recall)
