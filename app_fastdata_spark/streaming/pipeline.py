"""Structured Streaming layer — the reference's continuously-maintained
state re-expressed as streaming queries (SURVEY.md §2.9, §3.1).

The reference pipeline (NewEvent hot loop + materialized views):
ingest → enrich (dim ids + nearest cluster) → maintain per-second and
running aggregates → export session-starts. Here that is ONE streaming
DataFrame fanned out to multiple sinks/aggregations:

  * `events_stream`        — file (or rate) source, S1/S11
  * `enriched_stream`      — centroid scoring projection (ST6; same
                             builders as batch, so batch/stream parity
                             is by construction)
  * `per_second_counts`    — A4 view as a watermarked windowed agg (ST3),
                             watermark doubling as retention (ST5)
  * `running_counts_by_src`— A1 view, update-mode keyed state
  * `session_start_stream` — ST2: 30 s-gap sessionization via
                             session_window, emitting per-session start
                             rows (the events_export contents)

Scale notes: dim lookups are projections over literals, so a
micro-batch runs no dim job (a hot model swap, ST7, re-reads the centers
per micro-batch in foreachBatch); windowed aggs
keep state bounded by the watermark; session_window state is bounded by
gap + watermark. No plan has a Python eval node; the only Python on the
per-batch path is the serving store's driver-side Arrow write of each
epoch's partials (O(seconds x sources) rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import with_cluster
from ..params import SESSION_GAP_SECONDS
from ..tables import SCHEMAS, convert_raw_events, events_ts_unit

RETENTION = "180 seconds"  # run.sh:146 historyseconds (demo config)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the testdata events (S11: checkpointed file
    source = the reference's atomic-rename harvest handoff, for free).

    `max_files_per_trigger` is the ST10 backpressure knob — the file-source
    analogue of the client's setMaxTransactionsPerSecond cap
    (LogGenerator.java:129-131); rate_events_stream caps rows/s directly."""
    import os as _os

    from ..tables import _EVENTS_TS

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    unit = events_ts_unit(path)
    # µs (incl. legacy INT96): read ts natively as TimestampType — reading
    # those layouts through the raw-long schema fails or mis-scales;
    # ns-long layout: read raw and convert.
    schema = _EVENTS_TS if unit == "us" else SCHEMAS["events"]
    reader = spark.readStream.schema(schema)
    if _os.path.isdir(path):
        # Spark-written table: events.parquet IS a directory of part
        # files; point the stream at it directly (a pathGlobFilter on
        # the sf_dir would match no part file's NAME).
        src = path
    else:
        # single-file testdata layout: sf_dir holds every table as one
        # file; narrow the stream to the events file by name.
        reader = reader.option("pathGlobFilter", "events.parquet")
        src = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(src)
    return raw if unit == "us" else convert_raw_events(raw, "ns")


def rate_events_stream(spark: SparkSession, rows_per_second: int = 20000) -> DataFrame:
    """S1: the LogGenerator as a rate source + column synthesis
    (client/src/events/LogGenerator.java:237-247). Deterministic per
    `value`; ≤ratelimit TPS by construction."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 150).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ["click", "error", "purchase", "signup", "view"]]),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        ((F.col("value") * 2654435761) % 49000 / 100.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def enriched_stream(events: DataFrame) -> DataFrame:
    """ST6: per-event scoring against the literal dim model — a pure
    projection on the stream (no join, no state)."""
    return with_cluster(events)


def start_enriched_swap_stream(
    events: DataFrame, clusters_path: str, output_path: str
):
    """ST6+ST7: per-micro-batch model re-read. foreachBatch re-reads the
    swap target each batch (20-row collect), inlines the centers into the
    scoring projection, and appends to the sink — so an atomic overwrite
    of `clusters_path` is visible to the very next micro-batch, matching
    the reference's LoadDsa swap (db/ddl.sql:31-43)."""

    def _score_batch(batch: DataFrame, _epoch: int) -> None:
        spark = batch.sparkSession
        centers = [
            (int(r.id), float(r.cu), float(r.cv))
            for r in spark.read.parquet(clusters_path).collect()
        ]
        with_cluster(batch, centers).write.mode("append").parquet(output_path)

    return (
        events.writeStream.foreachBatch(_score_batch)
        .trigger(availableNow=True)
        .start()
    )


def count_by_second(events: DataFrame) -> DataFrame:
    """A4: 1-second counts by src, (second_ts, src, count_values). On a
    static frame (a micro-batch) the counts are partial: they sum to the
    view's totals."""
    return (
        events.groupBy(F.window("ts", "1 second").alias("w"), F.col("user_id").alias("src"))
        .agg(F.count("*").alias("count_values"))
        .select(F.col("w.start").alias("second_ts"), "src", "count_values")
    )


def per_second_counts(events: DataFrame, retention: str = RETENTION) -> DataFrame:
    """A4/ST3: tumbling 1-second counts by src; the watermark IS the
    retention policy (ST5 — state older than `retention` is evicted,
    matching the nibbler's historyseconds semantics)."""
    return count_by_second(events.withWatermark("ts", retention))


def running_counts_by_src(events: DataFrame) -> DataFrame:
    """A1/ST1: ever-growing keyed state over the export stream."""
    return events.groupBy(F.col("user_id").alias("src")).agg(
        F.count("*").alias("total_visits")
    )


def session_start_stream(
    events: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
    retention: str = RETENTION,
) -> DataFrame:
    """ST2: the sessionized export. session_window closes a session when
    no event arrives for `gap_seconds`; each closed session emits one row
    whose session_start is the window start — exactly the rows the
    reference inserts into events_export (first event per gap-session,
    NewEvent.java:70-75). NULL-ts events are excluded explicitly — the
    batch twin (session_starts_df) excludes them, and a session window
    cannot be assigned without an event time."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", retention)
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds").alias("w"),
            F.col("user_id").alias("src"),
            F.col("event_type").alias("dest"),
        )
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select("src", "dest", "session_start", "n_events")
    )


def dedup_stream(events: DataFrame, retention: str = RETENTION) -> DataFrame:
    """Streaming exact deduplication on event_id — the stream twin of the
    batch `dedup_exact` operator (at-least-once sources like Kafka or the
    file-source re-delivery on checkpoint recovery produce duplicates;
    this is the standard exactly-once repair stage).

    Scale: `dropDuplicatesWithinWatermark` bounds the state store to ids
    seen within the watermark horizon — at 100 TB the state is
    O(retention-window events), not O(all history), which plain
    dropDuplicates on a stream would require."""
    return events.withWatermark("ts", retention).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_join_stream(
    events: DataFrame, retention: str = RETENTION
) -> DataFrame:
    """Stream-stream interval join (click → purchase attribution within
    1 hour) — the streaming twin of operators/joins.click_purchase_attribution.

    Scale: both sides are watermarked, so the join state store holds only
    rows within retention + the attribution window per side — Spark can
    discard a click once no future purchase can match it. The join key is
    user_id (hash-distributed state), the time range bounds state, never
    a cross product."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", retention)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", retention)
    )
    return clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 1 HOUR
            """
        ),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Execute a streaming DF with Trigger.AvailableNow into a memory sink
    and return the materialized result (batch-parity harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dests_by_second_stream(events: DataFrame, retention: str = RETENTION) -> DataFrame:
    """A5/ST3 twin: per-second counts keyed by dest (db/ddl.sql:124-132)."""
    return (
        events.withWatermark("ts", retention)
        .groupBy(
            F.window("ts", "1 second").alias("w"),
            F.col("event_type").alias("dest"),
        )
        .agg(F.count("*").alias("count_values"))
        .select(F.col("w.start").alias("second_ts"), "dest", "count_values")
    )


def events_by_cluster_stream(events: DataFrame, retention: str = RETENTION) -> DataFrame:
    """A6/ST3+ST6 twin: scoring projection inside the streaming query,
    then per-second counts keyed by the assigned cluster
    (db/ddl.sql:134-143). Mirrors the batch view's cluster IS NOT NULL
    (NULL-value OR NULL-user_id events score no centroid) so
    batch/stream parity holds on degenerate rows too."""
    from ..dims import CLUSTERS as _CLUSTERS

    src = (
        events.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        if _CLUSTERS
        else events
    )
    gated = with_cluster(src)
    if not _CLUSTERS:
        gated = gated.filter(F.col("cluster").isNotNull())
    return (
        gated
        .withWatermark("ts", retention)
        .groupBy(F.window("ts", "1 second").alias("w"), "cluster")
        .agg(F.count("*").alias("count_values"))
        .select(F.col("w.start").alias("second_ts"), "cluster", "count_values")
    )


def full_ingest_stream(spark: SparkSession, events: DataFrame) -> DataFrame:
    """ST6 complete: the NewEvent hot loop as ONE streaming projection —
    the dests lookup (J3) + inline centroid scoring (J4) on every
    arriving event (NewEvent.java:50-78). Both dims are literals
    captured when the query is defined: a micro-batch runs no dim job,
    and a dim change takes effect on a restart of the query. Columns
    are event_type, the other events columns, dest, url and cluster —
    the order of a join on event_type."""
    from ..dims import lookup_dests

    rest = [c for c in events.columns if c != "event_type"]
    return (
        lookup_dests(events, "event_type", id_as="dest", url_as="url")
        .select("event_type", *rest, "dest", "url")
        .transform(with_cluster)
    )


def documents_stream(
    spark, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of documents parquet drops (the continuous
    corpus-ingest shape: each arriving file is a scrape shard)."""
    reader = spark.readStream.schema(SCHEMAS["documents"])
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def quality_gate_stream(docs: DataFrame) -> DataFrame:
    """Streaming curation gate: the batch doc_quality projection applied
    to a document stream, keeping only passing docs — the continuous twin
    of the corpus-cleaning front of a training pipeline. Stateless (pure
    projection + filter), so no watermark or state store is involved and
    throughput is scan-bound at any scale."""
    from ..operators.textops import quality_frame

    return quality_frame(docs).filter(F.col("passes_quality"))


def pii_scrub_stream(docs: DataFrame) -> DataFrame:
    """Streaming PII redaction at ingest: the batch doc_pii_scrub
    expressions (SHARED helpers — the ordered chain must never fork)
    applied to the document stream, emitting the REDACTED text (the
    batch query emits md5 for the narrow oracle compare; the ingest
    gate needs the text itself) plus the performed-redaction count.
    n_chars is recomputed from the redacted text so the documents
    invariant n_chars == length(text) survives the gate. Stateless
    codegen projection — no watermark, no state, scan-bound throughput;
    the scale twin of running the scrub as a corpus rewrite."""
    from ..operators.textops import pii_redaction_count_col, pii_scrub_col

    scrubbed = pii_scrub_col(F.col("text"))
    return docs.select(
        "doc_id",
        scrubbed.alias("text"),
        "lang",
        "source",
        F.length(scrubbed).cast("long").alias("n_chars"),
        pii_redaction_count_col(F.col("text")).alias("n_redactions"),
    )


def normalize_stream(docs: DataFrame) -> DataFrame:
    """Streaming Unicode canonicalization at ingest: the batch
    doc_normalize chain (SHARED normalize_col helper — NFC, control
    strip, whitespace collapse, trim; the order must never fork) applied
    to the document stream, emitting the NORMALIZED text (the batch
    query emits md5 for the narrow oracle compare; the ingest gate needs
    the text itself). n_chars is recomputed so the documents invariant
    n_chars == length(text) survives the gate. Stateless projection —
    the only non-codegen piece is the Arrow-batched NFC pandas_udf;
    scan-bound throughput, the continuous twin of a corpus-rewrite
    canonicalization pass."""
    from ..operators.textops import normalize_col

    norm = normalize_col(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("text"),
        "lang",
        "source",
        F.length(norm).cast("long").alias("n_chars"),
        (norm != F.col("text")).alias("changed"),
    )


def classifier_gate_stream(docs: DataFrame) -> DataFrame:
    """Streaming learned-quality gate: the batch classifier_frame
    projection (SHARED helper — same hashed features, same frozen
    weights) applied at ingest, keeping docs the classifier accepts.
    Stateless codegen projection + filter — the fastText-filter stage
    of a crawl pipeline run continuously; refit = swap the inlined
    weight constants (ST7 hot-model pattern)."""
    from ..operators.prep import classifier_frame

    return classifier_frame(docs).filter(F.col("keep"))


def hll_users_stream(events: DataFrame) -> DataFrame:
    """Ingest-time sketch building: watermarked per-(day, type) HLL
    distinct-user sketches over the event stream — the streaming half of
    the events_hll_users_by_type cube. The sketch buffer IS the
    streaming state (one ~2^HLL_LG_K-register binary per open window,
    never per-user state), and the watermark bounds how long windows
    stay open. Emits the sketch BINARY itself (plus its estimate for
    direct serving): only the binary rolls up to coarser grains via
    hll_union downstream — estimates are NOT mergeable (summing
    day-estimates double-counts users active on several days), which is
    the whole reason to persist sketches. AQE-free stateful agg,
    nothing in Python."""
    from ..operators.stats import HLL_LG_K

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk"))
        .select(
            F.col("w.start").alias("day"),
            "event_type",
            "sk",
            F.hll_sketch_estimate("sk").alias("est_users"),
        )
    )


def heavy_hitters_stream(events: DataFrame) -> DataFrame:
    """Per-micro-batch Misra-Gries summaries over the event stream: a
    STATELESS mapInPandas using the SHARED mg_summary_partition — at
    most MG_K weighted counters leave any partition, whatever the batch
    size. The cross-batch merge lives in run_heavy_hitters below (a
    foreachBatch accumulator that RE-PRUNES after every merge), because
    a complete-mode groupBy-sum would keep one state row per item that
    ever entered a summary — unbounded under a rotating key space,
    which is the failure mode this operator family exists to avoid.
    NULLs are dropped Spark-side so null-free int64 batches cross Arrow
    exactly (a NULL widens the batch to float64 and corrupts ids >=
    2^53)."""
    from ..operators.stats import mg_summary_partition

    return (
        events.select(F.col("user_id").alias("item"))
        .filter(F.col("item").isNotNull())
        .mapInPandas(mg_summary_partition, "item long, weight long")
    )


def run_heavy_hitters(events: DataFrame, name: str = "hh_merge"):
    """Drive heavy_hitters_stream to end-of-available-data and return the
    merged MG summary as a {item: weight_lb} dict. The accumulator
    applies the SHARED mg_merge per micro-batch — add the batch summary,
    re-prune to MG_K — so driver-held state is O(MG_K) forever, and the
    Agarwal et al. mass argument still bounds the total undercount at
    N/(MG_K+1) across any number of merges (each prune's subtracted
    mass is matched K+1-fold). The store at every trigger is a
    guaranteed superset of the true > N/(MG_K+1) heavy hitters."""
    import pandas as pd

    from ..operators.stats import mg_merge

    holder = {"acc": pd.Series(dtype="float64")}

    def _merge(batch_df, _bid) -> None:
        pdf = batch_df.toPandas()  # <= MG_K rows per input partition
        if pdf.empty:
            return
        weighted = pdf.groupby("item")["weight"].sum()
        holder["acc"] = mg_merge(holder["acc"], weighted)

    q = (
        heavy_hitters_stream(events)
        .writeStream.queryName(name)
        .foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {int(k): int(v) for k, v in holder["acc"].items()}


def quantile_sketch_stream(docs: DataFrame) -> DataFrame:
    """Per-micro-batch quantile summaries over the document stream: a
    STATELESS mapInPandas using the SHARED _qs_summary_partition — at
    most QS_K weighted order statistics leave any partition, whatever
    the batch size. The cross-batch merge lives in run_quantile_sketch
    below (a foreachBatch buffer with threshold compaction), mirroring
    the Misra-Gries split: per-batch compression distributed, bounded
    driver-held state, one shared reduction routine so the error bound
    never forks."""
    from ..operators.stats import _qs_summary_partition

    return (
        docs.select(F.col("n_chars").cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .mapInPandas(_qs_summary_partition, "v double, w double")
    )


# buffer compaction threshold: summaries accumulate raw (adding NO
# error beyond each batch's n_b/QS_K) until the buffer tops this, then
# one qs_compress to 4*QS_K points adds W/(4*QS_K) rank error — so the
# total is N/QS_K (batch summaries) + n_compactions * W/(4*QS_K), and
# run_quantile_sketch returns the compaction count so callers can gate
# against the exact bound for their run
QS_BUFFER_MAX = 64 * 256


def run_quantile_sketch(docs: DataFrame, name: str = "qs_merge"):
    """Drive quantile_sketch_stream to end-of-available-data and return
    ({target_q: estimate}, n_compactions). Estimates use the same
    smallest-value-with-cum-weight->=q*W rule as the batch operator."""
    import numpy as np

    from ..operators.stats import QS_K, QS_TARGETS, qs_compress

    holder = {
        "v": np.empty(0, dtype="float64"),
        "w": np.empty(0, dtype="float64"),
        "compactions": 0,
    }

    def _merge(batch_df, _bid) -> None:
        pdf = batch_df.toPandas()  # <= QS_K rows per input partition
        if pdf.empty:
            return
        holder["v"] = np.concatenate([holder["v"], pdf["v"].to_numpy()])
        holder["w"] = np.concatenate([holder["w"], pdf["w"].to_numpy()])
        if len(holder["v"]) > QS_BUFFER_MAX:
            holder["v"], holder["w"] = qs_compress(
                holder["v"], holder["w"], 4 * QS_K
            )
            holder["compactions"] += 1

    q = (
        quantile_sketch_stream(docs)
        .writeStream.queryName(name)
        .foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v, w = holder["v"], holder["w"]
    if not len(v):
        return {}, holder["compactions"]
    order = np.argsort(v, kind="stable")
    v, w = v[order], w[order]
    cum = np.cumsum(w)
    total = cum[-1]
    out = {}
    for t in QS_TARGETS:
        i = int(np.searchsorted(cum, t * total, side="left"))
        out[t] = float(v[min(i, len(v) - 1)])
    return out, holder["compactions"]


def merged_sessions_stream(events: DataFrame, retention: str = RETENTION) -> DataFrame:
    """Streaming interval merge: session_window(60 s) IS the streaming
    form of the batch gaps-and-islands operator — the window extends
    while events keep arriving within the gap and closes at
    last_event + gap, exactly the batch operator's [min(s), max(e))
    session. State is bounded by the watermark. Emits one row per
    closed session keyed by user. NULL-ts events are excluded — the
    batch twin's documented exclusion."""
    from ..operators.stats import MERGE_GAP_US

    gap_s = MERGE_GAP_US // 1_000_000
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", retention)
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


def chunk_stream(docs: DataFrame) -> DataFrame:
    """Streaming RAG chunking at ingest: the batch chunk_frame
    projection (SHARED helper — same widths, same ids, same hashes)
    applied to a document stream. Stateless Generate + project — no
    watermark, no state store; each arriving doc expands to its
    ~len/STRIDE chunks at scan-bound throughput. The continuous twin of
    rebuilding the retrieval index as a corpus batch job."""
    from ..operators.prep import chunk_frame

    return chunk_frame(docs)


def boilerplate_filter_stream(
    docs: DataFrame, boilerplate_index: DataFrame
) -> DataFrame:
    """Streaming boilerplate strip at ingest: chunk the arriving docs
    (shared chunk_frame) and drop every chunk whose hash is in the
    OFFLINE-built boilerplate index (doc_boilerplate_chunks) via a
    stream-static LEFT ANTI join — the fit-offline/apply-at-ingest
    pattern (same shape as dsir_gate_stream/near_dup_gate_stream).
    Stateless: the index is a static frame (broadcast when dim-sized),
    no watermark, no state store; refresh = rebuild the index (ST7)."""
    from ..operators.prep import chunk_frame

    return chunk_frame(docs).join(
        boilerplate_index.select("chunk_md5"), "chunk_md5", "left_anti"
    )


def winsorize_stream(events: DataFrame, bounds: DataFrame) -> DataFrame:
    """Streaming feature clipping at ingest: arriving event values are
    clipped to OFFLINE-fitted per-type [p05, p95] boundaries
    (stats.winsorize_bounds) — the fit-offline/apply-at-ingest pattern
    the DSIR and boilerplate gates use, applied to numeric feature
    preprocessing. The boundary table is dim-sized and broadcast into a
    stream-static join, so the gate is a stateless projection: no state
    store, no watermark, scan-bound at any scale. Re-fitting on a new
    reference window = rebuild the query with a new bounds frame (the
    ST7 hot-model pattern). Non-finite values are screened like NULLs
    (the shared r10 contract — the batch twin's exclusion)."""
    from ..operators.stats import _finite_events, winsorize_apply

    return winsorize_apply(_finite_events(events), bounds)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over arriving embedding shards — the vector
    analogue of events_stream/docs ingest (an embedding pipeline
    receives shards from an upstream encoder exactly like the log
    pipeline receives event files). Same checkpointed-file-source
    handoff semantics (S11)."""
    import os as _os

    path = f"{sf_dir}/embeddings.parquet"
    reader = spark.readStream.schema(SCHEMAS["embeddings"])
    if _os.path.isdir(path):
        src = path
    else:
        reader = reader.option("pathGlobFilter", "embeddings.parquet")
        src = sf_dir
    return reader.parquet(src)


def pq_encode_stream(vectors: DataFrame, bc) -> DataFrame:
    """Streaming PQ encode at ingest: arriving embedding rows pass the
    SHARED validity+nonzero gate and the SHARED fused encode/decode
    projection against OFFLINE-trained codebooks
    (similarity._pq_codebook_broadcast) — "train the index offline,
    encode at ingest", the ST7 hot-model pattern applied to vector
    storage (this is how a production IVF-PQ index absorbs new vectors
    without retraining). Stateless: codebooks ship once per executor
    via the broadcast, the projection is one Arrow stage, no state
    store, no watermark, scan-bound at any scale. Retraining = rebuild
    the query with a new broadcast (exactly a clusters model swap).
    Emits (vec_id, dec, dnrm) — the same candidate rows the batch
    scorer consumes (similarity.pq_decode_frame), so batch/stream
    parity is set equality."""
    from ..operators.similarity import pq_decode_frame, vec_nonzero, vec_valid

    return pq_decode_frame(vectors.filter(vec_valid() & vec_nonzero()), bc)


def corpus_minhash_refine_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static side of the edit-distance refine gate: the existing
    corpus's minhash signatures plus each doc's Levenshtein prefix. At
    scale this is precomputed once and stored (the corpus_simhash_index
    contract); here it is derived on demand."""
    from ..operators.dedup import lev_prefix_col, minhash_signatures
    from ..tables import load_table

    pfx = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", lev_prefix_col().alias("c_pfx"))
    )
    return (
        minhash_signatures(spark, sf_dir)
        .join(pfx, "doc_id")
        .select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.col("sig").alias("c_sig"),
            "c_pfx",
        )
    )


def near_dup_refine_stream(
    new_docs: DataFrame, corpus_index: DataFrame
) -> DataFrame:
    """Incremental edit-distance near-dedup: each arriving document is
    checked against the EXISTING corpus via MinHash band LSH + prefix-
    Levenshtein refine — the character-level sibling of
    near_dup_gate_stream's SimHash+Hamming gate, for the boilerplate/
    OCR/small-edit duplicates token Jaccard misses.

    Stateless by construction: arriving signatures come from
    minhash_sig_frame's PER-ROW array_min folds (the batch shape's
    explode+groupBy would demand aggregation state on the stream), the
    probe is a stream-static equi-join on (band, band_hash), pair
    uniqueness is the same first-matching-band codegen predicate as the
    batch LSH (no DISTINCT state), and the refine is one projection.
    Emits (doc_id, corpus_doc_id, lev, sim) for every arriving doc
    within LEV_SIM_MIN of a corpus doc."""
    from ..operators.dedup import (
        LEV_SIM_MIN,
        LSH_BANDS,
        LSH_ROWS,
        lev_prefix_col,
        minhash_sig_frame,
    )

    gated = new_docs.filter(F.col("text").isNotNull()).select(
        "doc_id", lev_prefix_col().alias("pfx"), "text"
    )
    sigs = minhash_sig_frame(gated, keep=("pfx",))

    def banded(frame: DataFrame, idc: str, sigc: str, pfxc: str) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(sigc)[b * LSH_ROWS + r].cast("string")
                                for r in range(LSH_ROWS)
                            ],
                        )
                    ).alias("bh"),
                )
                for b in range(LSH_BANDS)
            ]
        )
        return frame.select(
            idc, sigc, pfxc, F.explode(bands).alias("b")
        ).select(
            idc, sigc, pfxc,
            F.col("b.band").alias("band"), F.col("b.bh").alias("bh"),
        )

    a = banded(sigs, "doc_id", "sig", "pfx").alias("a")
    c = banded(corpus_index, "corpus_doc_id", "c_sig", "c_pfx").alias("c")
    earlier = F.lit(False)
    for j in range(LSH_BANDS - 1):
        m = F.col("a.band") > F.lit(j)
        for r in range(LSH_ROWS):
            m = m & (
                F.col("a.sig")[j * LSH_ROWS + r]
                == F.col("c.c_sig")[j * LSH_ROWS + r]
            )
        earlier = earlier | m
    lev = F.levenshtein(F.col("a.pfx"), F.col("c.c_pfx"))
    sim = F.round(
        F.lit(1.0)
        - lev / F.greatest(F.length("a.pfx"), F.length("c.c_pfx"), F.lit(1)),
        6,
    )
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bh") == F.col("c.bh"))
            & (F.col("a.doc_id") != F.col("c.corpus_doc_id"))
            & ~earlier,
        )
        .select(
            "doc_id", "corpus_doc_id", lev.alias("lev"), sim.alias("sim")
        )
        .filter(F.col("sim") >= LEV_SIM_MIN)
    )


# --- versioned stored-index publish/resolve ---------------------------------
# The maintenance stream rewrites the served edge list every batch; a
# delete-then-write overwrite of the served path lets a concurrent
# reader scan a partial part-file set (r12 ADVICE, medium). Publishing
# is therefore VERSIONED: each batch writes an immutable v<seq> dir
# under the index root and atomically swaps a LATEST pointer file
# (write-tmp + os.replace) — a reader either resolves the old complete
# version or the new complete version, never a partial one. The
# previous version is retained for readers that resolved just before
# the swap (INDEX_KEEP_VERSIONS; a deployment whose reader batches span
# more than one publish interval raises it); older versions are pruned.
# Pruning is still a RACE against a reader more than KEEP-1 publishes
# behind (review-flagged): the serving batch closes it by re-resolving
# and retrying once when its pinned version's files disappear mid-scan
# (_walk_batch), so a pruned-under-foot scan degrades to one retried
# walk instead of killing the stream.

INDEX_KEEP_VERSIONS = 2


def publish_index_version(edges: DataFrame, root: str, seq: int) -> str:
    """Write ``edges`` as the immutable version ``v<seq>`` under
    ``root`` and atomically point ``root/LATEST`` at it. Returns the
    version directory. Prunes versions older than the newest
    INDEX_KEEP_VERSIONS."""
    import os
    import shutil

    vname = f"v{seq:06d}-{os.getpid()}"
    vdir = os.path.join(root, vname)
    edges.write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(root, f".LATEST.tmp.{os.getpid()}")
    with open(tmp, "w") as f:
        f.write(vname)
    os.replace(tmp, os.path.join(root, "LATEST"))
    vers = sorted(d for d in os.listdir(root) if d.startswith("v"))
    for stale in vers[: max(0, len(vers) - INDEX_KEEP_VERSIONS)]:
        shutil.rmtree(os.path.join(root, stale), ignore_errors=True)
    return vdir


def next_index_seq(root: str) -> int:
    """First unused version sequence under ``root`` — a restarted
    maintenance stream continues above any surviving versions instead
    of overwriting a directory the LATEST pointer may still name."""
    import os

    try:
        vers = [
            int(d[1:7])
            for d in os.listdir(root)
            if d.startswith("v") and d[1:7].isdigit()
        ]
    except FileNotFoundError:
        return 0
    return max(vers) + 1 if vers else 0


def resolve_index_dir(path: str) -> str | None:
    """Resolve a stored-index path to the parquet directory to scan:
    a versioned root (LATEST pointer) resolves to its current complete
    version; a flat parquet dir resolves to itself iff its write
    completed (_SUCCESS). None when nothing complete is published —
    the reader must refuse rather than scan a partial directory (r12
    ADVICE: a mid-write flat dir could otherwise yield a
    self-consistent stamp over a partial part-file set)."""
    import os

    latest = os.path.join(path, "LATEST")
    if os.path.isfile(latest):
        try:
            with open(latest) as f:
                vname = f.read().strip()
        except OSError:
            return None
        vdir = os.path.join(path, vname)
        if os.path.isfile(os.path.join(vdir, "_SUCCESS")):
            return vdir
        return None
    if os.path.isdir(path) and os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    return None


def graph_search_stream(
    spark: SparkSession,
    sf_dir: str,
    vectors: DataFrame,
    output_path: str,
    edges_path: str | None = None,
    available_now: bool = True,
):
    """ANN serving at ingest over the PREBUILT kNN graph: each arriving
    vector greedily descends the stored adjacency rows of the kNN edge
    list (similarity.knn_edges — built offline, stored; the ST7
    hot-model lifecycle applied to a graph index) and its local optimum
    is appended to the sink. Each micro-batch runs sim_ann_graph's
    configuration of the one graph-search kernel via foreachBatch (the
    start_enriched_swap precedent): the same lazy plan as the batch
    query, so batch/stream parity holds by construction, pinned by test
    anyway. Stateless across batches: the graph is static, a query's
    answer depends only on its own vector. Rebuilding the graph = new
    knn_edges stamp (a model swap), and the swap takes effect on the
    NEXT micro-batch: graph resolution happens inside the batch
    callback, gated by a per-batch stamp check (a driver-side stat, no
    Spark job), so a long-running stream picks up a rebuilt index
    without a query restart (r11 ADVICE).

    `edges_path` points the serving stream at an explicit stored edge
    list — a versioned index root maintained by `graph_insert_stream`
    (resolved through its atomic LATEST pointer) or a flat parquet dir
    written once — instead of the corpus-stamp-keyed knn_edges; its
    adjacency rows are built once per resolved version. The per-batch
    re-resolve then makes each MAINTENANCE publish visible to the next
    serving batch, closing the build → store → maintain → serve loop. A
    batch that arrives BEFORE the first publish FAILS loudly
    (RuntimeError) instead of silently consuming its queries — the
    foreachBatch epoch would otherwise commit and the queries would
    never be answered (r12 ADVICE); sequence serving after the first
    publish, or restart the stream once the index exists. After a
    successful resolve, an incomplete/unpublished probe keeps serving
    the previously resolved version (retained by the publisher's
    version-keep window) and re-probes next batch."""
    from ..operators.similarity import (
        adjacency_frame,
        broadcast_adjacency,
        corpus_frame,
        knn_edges,
        query_frame,
        stored_adjacency,
        walk_best,
    )
    from ..tables import file_stamp, parquet_num_rows

    model: dict = {"stamp": None}

    def _resolve() -> None:
        if edges_path is not None:
            vdir = resolve_index_dir(edges_path)
            if vdir is None:
                if model["stamp"] is None:
                    raise RuntimeError(
                        f"no complete index published at {edges_path}: "
                        "start serving after the first publish (the "
                        "failed micro-batch is reprocessed on restart)"
                    )
                return  # keep the resolved version; re-probe next batch
            stamp = (vdir, file_stamp(vdir))
        else:
            vdir = None
            stamp = file_stamp(f"{sf_dir}/embeddings.parquet")
        if model["stamp"] == stamp:
            return
        model["en"] = corpus_frame(spark, sf_dir)
        model["nodes"] = model["en"].limit(2).count()
        if vdir is not None:
            edges = spark.read.schema(
                "vec_id long, rank int, neighbor_id long, cos double"
            ).parquet(vdir).select("vec_id", "neighbor_id")
            adj = adjacency_frame(edges, model["en"]).localCheckpoint()
            # one neighbour vector per stored edge
            model["adj"] = broadcast_adjacency(adj, parquet_num_rows(vdir))
        else:
            model["adj"] = stored_adjacency(spark, sf_dir, knn_edges)
        model["stamp"] = stamp

    def _walk_batch(batch: DataFrame, _epoch: int) -> None:
        # Retry once on a vanished pinned version: a maintenance stream
        # that published more than INDEX_KEEP_VERSIONS times inside ONE
        # serving batch prunes the version this batch pinned before its
        # adjacency rows were built; that build then fails mid-scan.
        # Re-resolving picks up the current complete version and the
        # walk re-runs — the append sink has not been written yet, so
        # the retry is exactly-once per batch.
        for attempt in (0, 1):
            try:
                _resolve()
                if model["nodes"] < 2:
                    return  # <2 graph nodes: no walk (batch-twin contract)
                walk_best(
                    query_frame(batch), model["adj"], model["en"]
                ).write.mode("append").parquet(output_path)
                return
            except Exception:
                if attempt or edges_path is None:
                    raise
                model["stamp"] = None  # force a fresh resolve, retry

    writer = vectors.writeStream.foreachBatch(_walk_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        # long-running serving mode (the swap-visibility tests): keep
        # polling the source so index swaps land on later batches
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def beam_search_stream(
    spark: SparkSession,
    sf_dir: str,
    vectors: DataFrame,
    output_path: str,
    available_now: bool = True,
):
    """The DEPLOYABLE serving configuration at ingest: each arriving
    vector batch runs sim_ann_graph_beam's configuration of the one
    graph-search kernel (similarity.graph_search — W-wide shared
    frontier over the stored adjacency rows of the high-degree
    NN-descent graph, recall@1 1.00 at sf0.1) and appends its BEAM_TOPK
    ranked answers to the sink. Same lifecycle as graph_search_stream
    (stateless across batches, static stored graph, per-batch
    adjacency re-resolution through the session cache's stamp key)."""
    from ..operators.similarity import (
        BEAM_TOPK,
        BEAM_WIDTH,
        corpus_frame,
        graph_search,
        knn_edges_hd,
        query_frame,
        stored_adjacency,
        top_visits,
    )

    def _beam_batch(batch: DataFrame, _epoch: int) -> None:
        visited = graph_search(
            query_frame(batch),
            stored_adjacency(spark, sf_dir, knn_edges_hd),
            corpus_frame(spark, sf_dir),
            BEAM_WIDTH,
            beam=True,
        )
        top_visits(visited, BEAM_TOPK).write.mode("append").parquet(
            output_path
        )

    writer = vectors.writeStream.foreachBatch(_beam_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def graph_insert_stream(
    spark: SparkSession, sf_dir: str, vectors: DataFrame, output_path: str
):
    """Graph-index MAINTENANCE at ingest — the leg graph_search_stream
    serves but never wrote (r11 verdict Next #5): each arriving vector
    batch is INSERTED into the stored kNN graph via the exact
    frozen-quantizer maintenance step (similarity.
    knn_graph_insert_frame — the reference's incremental-view-
    maintenance discipline, db/ddl.sql:92-143, applied to the vector
    index). State across batches is the index triple itself
    (edges/assign/probes), localCheckpointed and swapped per batch like
    the walk state; after every batch the post-insert edge list is
    PUBLISHED under the output_path index root as an immutable version
    dir behind the atomic LATEST pointer (publish_index_version — the
    r12 KNOWN LIMIT closed): a concurrent serving stream resolving
    through the pointer can never scan a partial part-file set, and
    the previous version stays on disk for readers that resolved just
    before the swap. Per-batch cost is delta-bounded (|B|·cell·nprobe
    scores + touched-vertex re-rank); the corpus is never rescanned.
    Retraining the quantizer = rebuild the base index (a model swap),
    exactly ST7."""
    from ..operators.similarity import inc_base_index, knn_graph_insert_frame

    edges0, assign0, probes0, bc = inc_base_index(spark, sf_dir)
    state = {
        "edges": edges0,
        "assign": assign0,
        "probes": probes0,
        "seq": next_index_seq(output_path),
    }

    def _insert_batch(batch: DataFrame, _epoch: int) -> None:
        e2, a2, p2 = knn_graph_insert_frame(
            state["edges"], state["assign"], state["probes"], batch, bc
        )
        state["edges"] = e2.localCheckpoint()
        state["assign"] = a2.localCheckpoint()
        state["probes"] = p2.localCheckpoint()
        publish_index_version(state["edges"], output_path, state["seq"])
        state["seq"] += 1

    return (
        vectors.writeStream.foreachBatch(_insert_batch)
        .trigger(availableNow=True)
        .start()
    )


def dsir_gate_stream(
    new_docs: DataFrame, lrs: list, min_log_importance: float = 0.0
) -> DataFrame:
    """Streaming importance gate: score arriving documents against an
    OFFLINE-fitted DSIR ratio table (curation.fit_dsir_model) and keep
    docs at or above the threshold — "fit the selection model on the
    reference corpus, apply it at ingest", the ST7 hot-model pattern
    applied to curation. The 256-entry model ships as a literal in the
    plan, so the gate is a stateless projection + filter: no state
    store, no watermark, scan-bound at any scale. Refitting = rebuild
    the query with a new table (exactly like a clusters model swap)."""
    from ..operators.curation import dsir_score_frame

    return dsir_score_frame(
        new_docs.filter(F.col("text").isNotNull()), lrs
    ).filter(F.col("log_importance") >= min_log_importance)


def corpus_simhash_index(spark, sf_dir: str) -> DataFrame:
    """Static side of the incremental near-dup gate: the existing
    corpus's SimHash band ints. At scale this is precomputed once and
    stored (parquet/bucketed on the band values); here it is derived
    on demand from the documents table."""
    from ..operators.dedup import simhash_band_ints, simhash_signatures

    return simhash_band_ints(simhash_signatures(spark, sf_dir))


def near_dup_gate_stream(new_docs: DataFrame, corpus_index: DataFrame) -> DataFrame:
    """Incremental near-dedup: each arriving document is checked against
    the EXISTING corpus via SimHash band LSH + exact Hamming refine —
    the shape a continuous ingest pipeline uses (new shards must not
    re-add near-copies of what the corpus already holds).

    Stream-static inner join: the stream side computes signatures
    statelessly; the static index explodes to (band, value) rows once
    per micro-batch and Spark broadcasts or shuffles it by size. Emits
    (doc_id, corpus_doc_id, hamming) for every stream doc within
    HAMMING_MAX of a corpus doc; uniqueness per pair comes from the
    same first-matching-band predicate as the batch operator (no
    aggregation state on the stream)."""
    from ..operators.dedup import (
        HAMMING_MAX,
        SIMHASH_BANDS,
        simhash_band_ints,
        simhash_frame,
    )

    def banded(with_ints: DataFrame) -> DataFrame:
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), F.col(f"w{b}").alias("bh"))
                for b in range(SIMHASH_BANDS)
            ]
        )
        w_names = [f"w{b}" for b in range(SIMHASH_BANDS)]
        return with_ints.select(
            "doc_id", *w_names, F.explode(bands).alias("b")
        ).select(
            "doc_id", *w_names,
            F.col("b.band").alias("band"), F.col("b.bh").alias("bh"),
        )

    a = banded(simhash_band_ints(simhash_frame(new_docs))).alias("a")
    b = banded(corpus_index).alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.w{i}").bitwiseXOR(F.col(f"b.w{i}")))
        for i in range(SIMHASH_BANDS)
    ).cast("int")
    earlier = None
    for j in range(SIMHASH_BANDS - 1):
        m = (F.col("a.band") > F.lit(j)) & (F.col(f"a.w{j}") == F.col(f"b.w{j}"))
        earlier = m if earlier is None else (earlier | m)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & ~earlier,
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
