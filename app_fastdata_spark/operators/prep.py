"""Training-prep operators: RAG chunking, learned-filter scoring, and
tokenizer-training (BPE) building blocks over the `documents` table —
the stages between a curated corpus and a training run (beyond-reference
per SURVEY.md §7 / BASELINE.json north star; reference analogue: the
per-event scoring projections of procedures/NewEvent.java, applied to
document prep instead of event scoring).

All hot paths are built-in column expressions (JVM codegen, no Python),
embarrassingly parallel scans with at most one dim-sized aggregate —
the 100 TB cost is the corpus scan itself. Cross-engine determinism
follows the house idioms: md5-derived hashing, integer-exact folds,
one float op at the end rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memoized_build
from ..registry import register
from ..tables import load_table, widen_small_scan
from .textops import _tokens

# --- RAG chunking -----------------------------------------------------------
# Sliding character windows with overlap — the standard retrieval-corpus
# prep step. Deterministic chunk ids (doc_id, chunk_idx); md5 of each
# chunk so the output is join-able with an embedding/dedup stage.
CHUNK_WIDTH = 200
CHUNK_STRIDE = 150  # overlap = WIDTH - STRIDE = 50 chars


def chunk_frame(docs: DataFrame) -> DataFrame:
    """The chunk projection over an arbitrary documents frame — pure
    column expressions (scan → filter → Generate(explode(sequence)) →
    project, zero shuffles), so it runs unchanged over a batch scan or
    a structured stream. At 100 TB this is a pure map over the corpus
    scan, output ~len/S rows per doc."""
    n = F.length("text")
    chunked = (
        docs.where(F.col("text").isNotNull() & (n > 0))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((n - F.lit(1)) / F.lit(CHUNK_STRIDE)),
                )
            ).alias("chunk_idx"),
            F.col("text"),
        )
    )
    chunk = F.expr(
        f"substring(text, cast(chunk_idx * {CHUNK_STRIDE} + 1 as int), {CHUNK_WIDTH})"
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_STRIDE + 1).alias("chunk_start"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


@memoized_build("documents")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping char-window chunks: start offsets 0, S, 2S, … while
    < len(text); chunk = substring(start, WIDTH)."""
    return chunk_frame(load_table(spark, sf_dir, "documents"))


# The chunk CTE both chunk consumers share (doc_chunks emits it
# verbatim; boilerplate detection aggregates over it).
CHUNKS_SQL_CTE = f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(floor((length(text) - 1) * 1.0
                          / {CHUNK_STRIDE}) AS BIGINT))) AS i
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx, i * {CHUNK_STRIDE} + 1 AS chunk_start,
             length(substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT),
                           {CHUNK_WIDTH})) AS chunk_len,
             md5(substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT),
                        {CHUNK_WIDTH})) AS chunk_md5
      FROM idx
    )
"""

register(
    "doc_chunks",
    sql=CHUNKS_SQL_CTE + "SELECT * FROM chunks",
)(doc_chunks)


# --- boilerplate detection at chunk level -----------------------------------
BOILERPLATE_MIN_DOCS = 3


@memoized_build("documents")
def doc_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: chunk hashes shared by >= MIN_DOCS
    distinct documents are boilerplate (headers, footers, license
    blocks — the cross-document repeated spans doc_dup_spans finds at
    span granularity, surfaced here at retrieval-chunk granularity).

    Scale shape: one hash aggregate on chunk_md5 (map-side combine
    collapses within-partition repeats), distinct-doc count via the
    two-tier distinct plan, output only the repeated hashes — at 100 TB
    the reduce side is |repeated chunks| ≪ |chunks|."""
    chunks = chunk_frame(load_table(spark, sf_dir, "documents"))
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("chunk_len").alias("chunk_len"),
        )
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "chunk_md5")
    )


register(
    "doc_boilerplate_chunks",
    sql=CHUNKS_SQL_CTE
    + f"""
    SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences, min(chunk_len) AS chunk_len
    FROM chunks GROUP BY chunk_md5
    HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    ORDER BY n_docs DESC, n_occurrences DESC, chunk_md5
    """,
)(doc_boilerplate_chunks)


# --- Learned quality-filter scoring ----------------------------------------
# fastText-style linear classifier over hashed bag-of-words features
# (the CCNet/fastText quality-filter stage): bucket = md5-hash of the
# token mod B, fixed per-bucket weight derived by integer arithmetic
# (a frozen "trained" model both engines reproduce bit-for-bit), score
# = sigmoid(mean token weight). The fold is integer-exact — weights are
# kept in integer units (0..996) and the single float division +
# sigmoid happen once per doc, rounded to 6 dp (house float contract).
CLS_BUCKETS = 64
_CLS_MULT = 2654435761  # Knuth multiplicative-hash constant
_CLS_MOD = 997          # prime → near-uniform weight units
_CLS_SCALE = 499.0      # unit → weight in ~[-1, 1): u/499 - 1


def cls_unit(t) -> "F.Column":
    """Per-token integer weight unit of the frozen classifier:
    ((bucket32(t) % B) * MULT) % MOD, in 0..996. ONE definition shared
    by classifier_frame and the fused confusion query (r13 ADVICE: the
    frozen-model constants must not be able to drift between the three
    sites — the two Spark builders here and the registered SQL
    oracles, which inline the same arithmetic textually)."""
    return (
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % CLS_BUCKETS
        * _CLS_MULT
    ) % _CLS_MOD


def cls_score(unit_sum, n_tokens) -> "F.Column":
    """6-dp sigmoid score from the integer unit fold — the single float
    step of the model, shared like cls_unit. Callers must guard
    n_tokens > 0 BEFORE this division evaluates (ANSI)."""
    x = (unit_sum / n_tokens) / _CLS_SCALE - 1.0
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 6)


def classifier_frame(docs: DataFrame) -> DataFrame:
    """The classifier projection over an arbitrary documents frame —
    pure column expressions, so it runs unchanged over a batch scan or
    a structured stream (streaming.pipeline.classifier_gate_stream).
    Plan: scan → codegen projection (md5 + integer fold over the token
    array) — zero shuffles, no UDFs; model weights are inlined
    arithmetic so there is no join and nothing to broadcast. At 100 TB:
    a pure map, same shape as doc_dsir_weights."""
    toks = F.filter(_tokens(F.lower(F.col("text"))), lambda t: t != F.lit(""))
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + cls_unit(t)
        ).alias("unit_sum"),
    ).where(F.col("n_tokens") > 0)
    score = cls_score(F.col("unit_sum"), F.col("n_tokens"))
    return base.select(
        "doc_id",
        "n_tokens",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@memoized_build("documents")
def doc_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_frame(load_table(spark, sf_dir, "documents"))


register(
    "doc_classifier_score",
    sql=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text), ' '), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    u AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks,
               x -> (('0x' || substr(md5(x), 1, 8))::BIGINT % {CLS_BUCKETS}
                     * {_CLS_MULT}) % {_CLS_MOD})) AS BIGINT) AS unit_sum
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, n_tokens,
           round(1.0 / (1.0 + exp(-((unit_sum * 1.0 / n_tokens)
                                    / {_CLS_SCALE} - 1.0))), 6)
             AS quality_score,
           round(1.0 / (1.0 + exp(-((unit_sum * 1.0 / n_tokens)
                                    / {_CLS_SCALE} - 1.0))), 6) >= 0.5
             AS keep
    FROM u
    """,
)(doc_classifier_score)


# --- classifier-vs-heuristic agreement report -------------------------------
@memoized_build("documents")
def doc_quality_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row 2x2 confusion of the LEARNED quality filter
    (classifier_frame's `keep`) against the RULE-BASED heuristic
    (textops.quality_frame's `passes_quality` as reference) — the
    validation a pipeline runs before letting a trained filter replace
    its rules: tp/fp/fn/tn counts plus precision/recall/accuracy of
    the classifier treating the heuristic as ground truth. Restricted
    to docs both scorers label (the classifier's non-empty-text
    domain). Scale: ONE codegen projection over one scan and a single
    global aggregate — output is one row; zero-denominator rates are
    NULL (guarded CASE on both engines, never an ANSI divide abort).

    Fused single pass (r13, guide §2.4): both scorers are pure row-wise
    projections of the same row, and doc_id keys the corpus, so the
    doc_id equi-join of the two frames is a row-level zip — the old
    two-frame shape scanned and TOKENIZED the corpus twice and shuffled
    1.6 MB through a join for work one projection does (stage-profiled
    1.48 s task time → one pass; exchanges 2 → 0 pre-agg). The token
    array is computed once and feeds both labels; label semantics and
    domains are unchanged (classifier: non-null text with ≥1 non-empty
    token; heuristic NULLs are dropped exactly as the join's notNull
    filter did)."""
    # widen: the fused scorer runs token-HOF projections over the corpus
    # and otherwise evaluates on the single-file scan's one task
    docs = widen_small_scan(
        load_table(spark, sf_dir, "documents"),
        path=f"{sf_dir}/documents.parquet",
    )
    from .textops import passes_quality_expr

    toks = _tokens(F.lower(F.col("text")))
    pq = passes_quality_expr(toks)
    ctoks = F.filter(toks, lambda t: t != F.lit(""))
    # the division is evaluated only PAST the n_ctoks > 0 filter (the
    # same projection→filter→projection guard classifier_frame uses —
    # under ANSI a zero-token doc would otherwise abort the query)
    keep = cls_score(F.col("unit_sum"), F.col("n_ctoks")) >= 0.5
    j = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.size(ctoks).alias("n_ctoks"),
            F.aggregate(
                ctoks, F.lit(0).cast("long"), lambda acc, t: acc + cls_unit(t)
            ).alias("unit_sum"),
            pq.alias("passes_quality"),
        )
        .where(F.col("n_ctoks") > 0)
        .select(keep.alias("keep"), "passes_quality")
        .where(
            F.col("keep").isNotNull() & F.col("passes_quality").isNotNull()
        )
    )
    k, p = F.col("keep"), F.col("passes_quality")
    agg = j.agg(
        F.count("*").alias("n_scored"),
        F.sum((k & p).cast("long")).alias("tp"),
        F.sum((k & ~p).cast("long")).alias("fp"),
        F.sum((~k & p).cast("long")).alias("fn"),
        F.sum((~k & ~p).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    rate = lambda num, den: F.when(den > 0, F.round(num / den, 6))
    return agg.select(
        "n_scored", "tp", "fp", "fn", "tn",
        rate(tp, tp + fp).alias("precision_vs_rules"),
        rate(tp, tp + fn).alias("recall_vs_rules"),
        rate(tp + tn, F.col("n_scored")).alias("accuracy"),
    )


register(
    "doc_quality_confusion",
    sql=f"""
    WITH ct AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text), ' '), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    cu AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks,
               x -> (('0x' || substr(md5(x), 1, 8))::BIGINT % {CLS_BUCKETS}
                     * {_CLS_MULT}) % {_CLS_MOD})) AS BIGINT) AS unit_sum
      FROM ct WHERE len(toks) > 0
    ),
    cs AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-((unit_sum * 1.0 / n_tokens)
                                      / {_CLS_SCALE} - 1.0))), 6) >= 0.5
               AS keep
      FROM cu
    ),
    qt AS (
      SELECT doc_id,
             (length(text) >= 100 AND len(toks) >= 20
              AND len(list_distinct(toks)) * 1.0 / len(toks) >= 0.3)
               AS passes_quality
      FROM (SELECT doc_id, text,
                   string_split_regex(trim(lower(text), ' '), '\\s+') AS toks
            FROM documents)
    ),
    j AS (
      SELECT c.keep, q.passes_quality AS pq
      FROM cs c JOIN qt q ON q.doc_id = c.doc_id
      WHERE c.keep IS NOT NULL AND q.passes_quality IS NOT NULL
    ),
    agg AS (
      SELECT count(*) AS n_scored,
             CAST(sum(CASE WHEN keep AND pq THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
             CAST(sum(CASE WHEN keep AND NOT pq THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
             CAST(sum(CASE WHEN NOT keep AND pq THEN 1 ELSE 0 END) AS BIGINT)
               AS fn,
             CAST(sum(CASE WHEN NOT keep AND NOT pq THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM j
    )
    SELECT n_scored, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END
             AS precision_vs_rules,
           CASE WHEN tp + fn > 0 THEN round(tp / (tp + fn), 6) END
             AS recall_vs_rules,
           CASE WHEN n_scored > 0 THEN round((tp + tn) / n_scored, 6) END
             AS accuracy
    FROM agg
    """,
)(doc_quality_confusion)


# --- BPE tokenizer training: one merge-selection step -----------------------
# Distributed byte-pair-encoding training is a driver loop of exactly
# this step (mirror of the kmeans_lloyd_step pattern: the inner
# iteration under the full value-hash oracle, the loop in the driver):
# build the word-frequency table, count adjacent symbol pairs weighted
# by word frequency, rank pairs. The top pair is the merge a BPE trainer
# would apply; top-20 returned so the oracle pins the whole head of the
# distribution, ties broken lexicographically.
BPE_TOP_PAIRS = 20


@memoized_build("documents")
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-selection step over the corpus.

    Scale shape: the pair space collapses to the VOCABULARY first
    (groupBy word — one shuffle whose reduce side is |vocab| ≪ corpus),
    pairs explode from distinct words only (weighted by frequency), and
    the final rank is a TakeOrderedAndProject over ≤ |alphabet|² rows.
    A full training run is a driver loop over this step with the merge
    applied to the vocab frame between iterations (vocab-sized, cheap)."""
    vocab = _vocab_frame(spark, sf_dir)
    pairs = vocab.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> struct(substring(w, i, 1) AS l,"
                "             substring(w, i + 1, 1) AS r))"
            )
        ).alias("p"),
        "freq",
    )
    return (
        pairs.groupBy(
            F.col("p.l").alias("pair_left"), F.col("p.r").alias("pair_right")
        )
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair_left", "pair_right")
        .limit(BPE_TOP_PAIRS)
    )


register(
    "bpe_merge_step",
    sql=f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text), ' '), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    v AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
    vi AS (
      SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      FROM v WHERE length(w) >= 2
    ),
    p AS (
      SELECT substr(w, CAST(i AS BIGINT), 1) AS pair_left,
             substr(w, CAST(i + 1 AS BIGINT), 1) AS pair_right, freq
      FROM vi
    )
    SELECT pair_left, pair_right, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM p GROUP BY pair_left, pair_right
    ORDER BY pair_count DESC, pair_left, pair_right
    LIMIT {BPE_TOP_PAIRS}
    """,
)(bpe_merge_step)


# --- BPE training: two unrolled merge iterations ---------------------------
# The full trainer loop with the learned merge FLOWING BETWEEN
# iterations inside one DAG (dedup_pagerank's unrolled-iteration
# pattern): iteration 2's pair counts depend on iteration 1's chosen
# merge, which joins back in as a 1-row broadcast — no driver
# round-trip, no collect. Merge application uses left-to-right
# non-overlapping string replacement on the space-joined symbol string
# (the same greedy order a sequential BPE encoder applies; identical
# scan semantics in both engines, so the oracle is exact).
# The ONE symbol-string expression (word column `w` → space-joined
# characters with sentinel spaces) every BPE stage shares — the trainer
# core, the driver-loop trainer, and the corpus-wide apply must stay in
# lockstep or train/apply consistency silently breaks.
SYMS_OF_W_SQL = (
    "concat(' ', array_join(transform(sequence(1, length(w)),"
    " i -> substring(w, i, 1)), ' '), ' ')"
)

# Spark-SQL text form of textops._tokens (lowercase, trim, split on
# whitespace) with empties dropped — the BPE apply side tokenizes with
# THIS so it consumes exactly the token stream the vocabulary (and
# therefore every learned merge) came from.
TOKS_SQL = r"filter(split(trim(lower(text)), '\\s+'), x -> x <> '')"


def _vocab_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, freq): the corpus reduced to its vocabulary — the one
    corpus-sized aggregate every BPE stage starts from."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(
            F.filter(_tokens(F.lower(F.col("text"))), lambda t: t != F.lit(""))
        ).alias("w")
    )
    return words.groupBy("w").agg(F.count("*").alias("freq"))


def _syms_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(syms, freq): the vocabulary in symbol-string form."""
    return _vocab_frame(spark, sf_dir).select(
        F.expr(SYMS_OF_W_SQL).alias("syms"), "freq"
    )


def _pair_counts(df: DataFrame) -> DataFrame:
    """(syms, freq) → per-adjacent-symbol-pair weighted counts."""
    arr = "filter(split(syms, ' '), x -> x <> '')"
    pairs = (
        f"transform(sequence(1, size({arr}) - 1),"
        f" i -> struct(element_at({arr}, i) AS l,"
        f"             element_at({arr}, i + 1) AS r))"
    )
    return (
        df.where(F.expr(f"size({arr})") >= 2)
        .select(F.explode(F.expr(pairs)).alias("p"), "freq")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("c"))
    )


def _two_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The unrolled two-iteration trainer core: (m1, m2) as 1-row
    (l, r, c) frames, iteration 2 depending on iteration 1's winner
    through a 1-row broadcast. Session-materialized (the lsh_pairs
    precedent): the TRAINED MERGES are the model artifact
    bpe_compression applies, stored as two 1-row checkpoints so the
    vocab-sized two-aggregation trainer runs once per documents stamp.
    bpe_train_merges, whose output IS this model, trains afresh."""
    from ..cache import session_get, stamp_key

    return session_get(
        "bpe_two_merges",
        stamp_key(spark, sf_dir, "documents"),
        lambda: tuple(
            m.localCheckpoint() for m in _two_merges_frames(spark, sf_dir)
        ),
    )


def _two_merges_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    s0 = _syms_frame(spark, sf_dir)
    m1 = (
        _pair_counts(s0)
        .orderBy(F.desc("c"), "l", "r")
        .limit(1)
        .select("l", "r", "c")
    )
    s1 = s0.join(F.broadcast(m1)).select(
        F.expr(
            "replace(syms, concat(' ', l, ' ', r, ' '),"
            " concat(' ', l, r, ' '))"
        ).alias("syms"),
        "freq",
    )
    m2 = (
        _pair_counts(s1)
        .orderBy(F.desc("c"), "l", "r")
        .limit(1)
        .select("l", "r", "c")
    )
    return m1, m2


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two BPE training iterations unrolled into one plan; returns the
    two learned merges with their pre-merge pair counts.

    Scale shape: everything past the first groupBy(word) is
    VOCAB-sized; each iteration is one vocab-frame aggregate plus a
    1-row broadcast of the winning merge (plan cost independent of
    corpus size beyond the initial word count). A k-merge trainer is a
    driver loop over this step — the two-iteration unroll is the
    oracle-checkable witness that iterations compose. The merges it
    returns ARE the stored bpe_two_merges model, so it trains them
    afresh on every call rather than read that store."""
    m1, m2 = _two_merges_frames(spark, sf_dir)
    out = lambda rank, m: m.select(  # noqa: E731
        F.lit(rank).alias("merge_rank"),
        F.col("l").alias("pair_left"),
        F.col("r").alias("pair_right"),
        F.col("c").alias("pair_count"),
    )
    return out(1, m1).unionByName(out(2, m2)).orderBy("merge_rank")


_BPE_SYMS0_SQL = """
      SELECT ' ' || array_to_string(list_transform(
               generate_series(1, length(w)), i -> substr(w, i, 1)), ' ')
             || ' ' AS syms, freq
      FROM v
"""


def _bpe_pairs_sql(src: str) -> str:
    arr = "list_filter(string_split(syms, ' '), x -> x <> '')"
    return f"""
      SELECT p.l, p.r, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT unnest(list_transform(generate_series(1, len({arr}) - 1),
                 i -> struct_pack(l := {arr}[i], r := {arr}[i + 1]))) AS p,
               freq
        FROM {src} WHERE len({arr}) >= 2
      ) GROUP BY p.l, p.r
"""


# The trainer CTE chain (through m1/m2) shared by the trainer output
# and the corpus-wide merge application below.
_BPE_MERGES_CTES = f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text), ' '), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    v AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
    s0 AS ({_BPE_SYMS0_SQL}),
    p1 AS ({_bpe_pairs_sql('s0')}),
    m1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l, r LIMIT 1),
    s1 AS (
      SELECT replace(syms,
               ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ',
               ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' ') AS syms,
             freq
      FROM s0
    ),
    p2 AS ({_bpe_pairs_sql('s1')}),
    m2 AS (SELECT l, r, c FROM p2 ORDER BY c DESC, l, r LIMIT 1)
"""

register(
    "bpe_train_merges",
    sql=_BPE_MERGES_CTES
    + """
    SELECT 1 AS merge_rank, l AS pair_left, r AS pair_right, c AS pair_count
    FROM m1
    UNION ALL
    SELECT 2, l, r, c FROM m2
    ORDER BY merge_rank
    """,
)(bpe_train_merges)


# --- BPE application: corpus compression telemetry --------------------------
# The encode side of the tokenizer: apply the two learned merges to
# every document and report symbols-per-char — the compression-ratio
# telemetry a tokenizer team tracks as merges accumulate. The learned
# merges enter the per-doc projection as 1-row broadcasts (train on the
# corpus, apply to the corpus, one DAG).
@memoized_build("documents")
def bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc symbol counts after applying merge 1 then merge 2.

    Scale shape: the trainer side is vocab-sized (see bpe_train_merges);
    the apply side is a pure codegen fold over each doc's token array
    with the two merges inlined via 1-row broadcast joins — zero
    doc-keyed shuffles, linear in corpus size."""
    m1, m2 = _two_merges(spark, sf_dir)
    # widen: the per-token merge-apply fold is the heaviest codegen
    # projection in the prep family and ran single-task on the one-file
    # scan (r13 stage profile); pass-through at real scale
    docs = widen_small_scan(
        load_table(spark, sf_dir, "documents"),
        path=f"{sf_dir}/documents.parquet",
    ).where(F.col("text").isNotNull())
    joined = docs.join(
        F.broadcast(m1.select(F.col("l").alias("l1"), F.col("r").alias("r1")))
    ).join(
        F.broadcast(m2.select(F.col("l").alias("l2"), F.col("r").alias("r2")))
    )
    toks = TOKS_SQL  # MUST mirror textops._tokens — the vocab the merges
    # were learned from and the tokens they are applied to must be the
    # same token stream
    sym_string = (
        f"replace(replace({SYMS_OF_W_SQL},"
        " concat(' ', l1, ' ', r1, ' '), concat(' ', l1, r1, ' ')),"
        " concat(' ', l2, ' ', r2, ' '), concat(' ', l2, r2, ' '))"
    )
    base = joined.select(
        "doc_id",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(
            f"aggregate({toks}, cast(0 as bigint), (acc, w) -> acc + length(w))"
        ).alias("n_alpha_chars"),
        F.expr(
            f"aggregate({toks}, cast(0 as bigint), (acc, w) -> acc +"
            f" size(filter(split({sym_string}, ' '), x -> x <> '')))"
        ).alias("n_symbols"),
    ).where(F.col("n_tokens") > 0)
    return base.select(
        "doc_id",
        "n_tokens",
        "n_alpha_chars",
        "n_symbols",
        F.round(F.col("n_symbols") / F.col("n_alpha_chars"), 6).alias(
            "compression"
        ),
    )


register(
    "bpe_compression",
    sql=_BPE_MERGES_CTES
    + """
    , d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text), ' '), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    enc AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, w -> length(w)))
                  AS BIGINT) AS n_alpha_chars,
             CAST(list_sum(list_transform(toks, w ->
               len(list_filter(string_split(
                 replace(replace(
                   ' ' || array_to_string(list_transform(
                     generate_series(1, length(w)), i -> substr(w, i, 1)),
                     ' ') || ' ',
                   ' ' || l1 || ' ' || r1 || ' ', ' ' || l1 || r1 || ' '),
                   ' ' || l2 || ' ' || r2 || ' ', ' ' || l2 || r2 || ' '),
                 ' '), y -> y <> ''))))
               AS BIGINT) AS n_symbols
      FROM d,
           (SELECT l AS l1, r AS r1 FROM m1) mm1,
           (SELECT l AS l2, r AS r2 FROM m2) mm2
      WHERE len(toks) > 0
    )
    SELECT doc_id, n_tokens, n_alpha_chars, n_symbols,
           round(n_symbols * 1.0 / n_alpha_chars, 6) AS compression
    FROM enc
    """,
)(bpe_compression)


# --- full BPE trainer: driver loop over the merge step ---------------------
def train_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = 8
) -> list[tuple[str, str, int]]:
    """Train n_merges BPE merges: the driver loop whose inner iteration
    is exactly the oracled step (kmeans precedent — MLlib/UDTF carry
    the rows-only loop, kmeans_lloyd_step carries the value-hash
    witness; here bpe_train_merges is the 2-iteration witness and this
    loop is the production trainer).

    Per iteration: one vocab-frame aggregate (the corpus was reduced to
    the vocabulary ONCE up front) + a 1-row collect of the argmax pair
    + a codegen replace to apply the merge. The vocab frame is
    persisted and lineage-truncated every few merges, so plan depth
    stays bounded; per-iteration cluster work is vocab-sized regardless
    of corpus size. Returns [(left, right, pre-merge count), ...]."""
    s = _syms_frame(spark, sf_dir).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for k in range(n_merges):
        top = (
            _pair_counts(s)
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged — nothing adjacent left
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((l, r, c))
        # merge symbols enter as LITERAL COLUMNS, never spliced into SQL
        # text — corpus tokens can contain quotes/backslashes, and
        # Spark's string-literal parser would reinterpret them
        s = s.select(
            F.replace(
                F.col("syms"),
                F.lit(f" {l} {r} "),
                F.lit(f" {l}{r} "),
            ).alias("syms"),
            "freq",
        )
        if (k + 1) % 4 == 0:
            s = s.localCheckpoint()
    return merges
