"""Scale-growth smoke: time the dedup/similarity headliners at 1x, 2x,
4x the base corpus and report per-query growth exponents (log-log slope
of wall time vs corpus size).

The scaled corpora keep the ORIGINAL's near-dup structure without
creating cross-replica duplicates:
* documents: every token gets a per-replica suffix (w -> w_rK), so
  replicas share zero shingles with each other — clusters, bucket
  sizes, and true-pair counts all grow linearly with the factor;
* embeddings: component i of replica k flips sign by the Walsh pattern
  (-1)^popcount(i & k). Any two replicas j≠k then differ by the Walsh
  function of m = j XOR k — a sign-balanced pattern — so cross-replica
  cosines collapse toward 0 for EVERY replica pair (a plain odd/even
  parity flip made replica 0 ≡ 2 and 1 ≡ 3 exact duplicates at factor
  ≥ 3), while within-replica geometry is exactly preserved (elementwise
  sign flips cancel in every within-replica dot product).

A healthy engine shows exponents near 1 (linear in corpus size) for
every capped/bucketed operator; an exponent near 2 is the quadratic
failure mode the skew caps exist to prevent.

Usage: python tools/scale_smoke.py [base_sf_dir] [factors, default 1,2,4,8]
Writes scratch corpora under .scale_smoke_tmp/ (removed afterwards) and
prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from app_fastdata_spark.session import get_spark
from app_fastdata_spark.tables import load_table

QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine_bucketed",
    "sim_ann_lsh",
    "sim_ann_ivf",      # √N-centroid collect/broadcast growth, measured
    "sim_ann_recall",   # exact + IVF side-by-side (the recall telemetry)
    "doc_lm_score",
    "doc_pipeline_survivors",
    "dedup_pagerank",
    # span index is W x corpus tokens (replica vocabularies are disjoint,
    # so duplicated spans replicate per replica — linear by construction;
    # the sweep verifies the implementation matches)
    "doc_dup_spans",
    # two token passes + B-row broadcast: must grow linearly in corpus size
    "doc_dsir_weights",
    # components chain + member-only quality argmax: rides the capped pair
    # source, so growth tracks dedup_survivors
    "dedup_survivors_best_quality",
    # round 6: pure codegen regexp projections — the no-shuffle baseline
    # (an exponent meaningfully above 1 here would indicate scan-layer
    # regression, since there is nothing else in the plan)
    "doc_pii_scrub",
    # round 6: posexplode + two-tier agg over N·d rows
    "embedding_dim_stats",
    # round 7: chunk_md5 hash-agg + distinct-doc count — the reduce side
    # is only the repeated hashes; must stay ~linear in corpus size
    "doc_boilerplate_chunks",
    # round 7: vocab-sized trainer (sublinear reduce) + corpus-linear
    # apply fold; a super-linear exponent would mean the vocab reduce is
    # not collapsing
    "bpe_compression",
    # round 7: gaps-and-islands over one user_id exchange — the window
    # chain must scale with per-user event counts, not globally
    "events_merged_sessions",
    # round 7: one Arrow NFC stage + codegen regex chain, no shuffle —
    # like doc_pii_scrub, any exponent meaningfully above 1 is a
    # scan/Arrow-layer regression
    "doc_normalize",
    # round 7: two-tier sketch agg — reduce side is (type, day) sketch
    # binaries, constant-size per group; must stay ~linear in events
    "events_hll_users_by_type",
    # round 7: bounded-memory frequent items — the shuffle carries
    # <= MG_K rows per partition no matter the input, so growth must
    # track the scan alone
    "events_heavy_hitters_mg",
    # round 7: per-partition GEMM partials, d(d+1)/2-row shuffle —
    # compute is one int64 matmul per batch, linear in rows
    "embedding_gram_int8",
    # round 7: RANGE-frame window over one user_id exchange — scales
    # with per-user event counts (replicas add users, not depth)
    "events_user_trailing_hour",
    # round 7 late: one bounded collect_set exchange, horizon²-row tail —
    # a super-linear exponent would mean the per-user week set is not
    # bounding the shuffle payload
    "events_cohort_retention",
    # round 7 late: one (user,type) window exchange + stateless filter —
    # the no-agg window baseline; replicas add keys, not series depth
    "events_debounce",
    # round 7 late: three event_type hash-aggs with CONSTANT reduce side
    # (replicas share the 5 types) + two dim broadcasts; growth must
    # track the three scans alone
    "events_value_mad",
    # round 7 late: two pruned scans + per-side top-1 WindowGroupLimit +
    # co-partitioned full-outer SMJ; linear in users by construction
    "events_upsert_merge",
    # round 10: all-vectors IVF probe — assignment N·√N, refine
    # N²·nprobe²/√N, so the target exponent is ~1.5 at worst; a clean
    # sweep proves the per-vector top-K never degenerates to all-pairs
    "sim_knn_graph",
    # round 10: knn + mutuality self-join of the checkpointed N·K edge
    # list + union-find — must track sim_knn_graph's growth
    "sim_mutual_knn_clusters",
    # round 10 late: PQ encode is one Arrow projection folding against
    # √N codewords per subspace (N·√N·DIM flops) + the broadcast-query
    # ADC scan (Q·N) — target exponent ~1.5 at worst, like the IVF legs
    "sim_ann_pq",
    # round 10 late: the IVF x PQ composition — cell-pruned refine at
    # PQ bytes; growth must track sim_ann_ivf's (the probe join), with
    # the encode projection adding the sim_ann_pq leg's N·√N fold
    "sim_ann_ivfpq",
    # round 10 late: SemDeDup — mutual-kNN clusters + member-only
    # quality scoring + anti-join; must track sim_mutual_knn_clusters
    # plus a linear member-scoring leg
    "sim_semantic_survivors",
    # round 11: greedy graph search — per hop O(Q·K) scoring over the
    # materialized edge list; growth must track sim_knn_graph's build
    # (which the session cache amortizes) with a flat serving tail
    "sim_ann_graph",
    # round 11: LSH candidates + constant-window DP per pair — growth
    # must track dedup_minhash_lsh's (linear pair growth by replica
    # construction, constant 256^2 refine per pair)
    "dedup_edit_distance",
    # round 12: one frozen-quantizer maintenance step — base build
    # (N·√N like sim_knn_graph) + delta scoring bounded by the arrival
    # share (1/7 of each replica) times probe-cell contents; must track
    # sim_knn_graph's exponent, never exceed it
    "sim_knn_graph_incremental",
    # round 12: S=4 independent walks per query — per hop O(Q·S·K)
    # scoring over the stored edges; corpus-size-free serving like
    # sim_ann_graph (the edge-list build is the only growing leg)
    "sim_ann_graph_multiseed",
    # round 13: the deployable configuration — K=32 IVF seed build
    # (N·√N) + ONE NN-descent round (edge-list self-join on the shared
    # endpoint, ≤N·4K² candidates, exact re-score by two vec_id
    # equi-joins) + HD_SEEDS corpus-size-free walks; target exponent
    # ~1.5 at worst (the seed build's IVF bound — the NND leg is
    # linear in N at fixed K)
    "sim_ann_graph_hd",
]


def build_scaled(spark, base_dir: str, factor: int, out_dir: str) -> None:
    docs = load_table(spark, base_dir, "documents")
    n_docs = docs.count()
    reps = []
    for k in range(factor):
        rep = docs.select(
            (F.col("doc_id") + F.lit(k * n_docs)).alias("doc_id"),
            # suffix every token with _rK: replicas share no shingles
            F.regexp_replace("text", r"(\S+)", f"$1_r{k}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = load_table(spark, base_dir, "embeddings")
    n_vec = emb.count()
    vreps = []
    for k in range(factor):
        # Walsh sign pattern: component i flips iff popcount(i & k) is
        # odd — k-distinct geometry for every replica (see module note).
        # Closure factory pins k (a plain `lambda x, i: ... k ...` in the
        # loop would capture the final k).
        def _flip(kk):
            return lambda x, i: F.when(
                F.bit_count(i.cast("long").bitwiseAND(F.lit(kk))) % 2 == 1, -x
            ).otherwise(x)

        flipped = F.transform("embedding", _flip(k))
        vreps.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * n_vec)).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    vout = vreps[0]
    for rep in vreps[1:]:
        vout = vout.unionByName(rep)
    vout.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    # events: shift ids AND user ids per replica — replicas hold disjoint
    # user populations, so per-user session/window structure is preserved
    # while global volume scales by the factor. (The Spark-written µs
    # directory also exercises the tz-annotated ts-unit probe route.)
    ev = load_table(spark, base_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    n_ev = ev.count()
    n_users = 1 + (ev.agg(F.max("user_id")).first()[0] or 0)
    ereps = [
        ev.select(
            (F.col("event_id") + F.lit(k * n_ev)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(k * n_users)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(factor)
    ]
    eout = ereps[0]
    for rep in ereps[1:]:
        eout = eout.unionByName(rep)
    eout.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factors = (
        [int(x) for x in sys.argv[2].split(",")] if len(sys.argv) > 2 else [1, 2, 4, 8]
    )
    scratch = os.path.abspath(".scale_smoke_tmp")
    # keep persisted index artifacts for the throwaway replicas inside
    # the scratch tree (deleted with it) instead of the repo .index/
    os.environ.setdefault(
        "SPARK_GRAFT_INDEX_DIR", os.path.join(scratch, "index")
    )
    spark = get_spark("scale_smoke")
    from bench import time_queries

    results: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    try:
        for f in factors:
            d = f"{scratch}/x{f}"
            build_scaled(spark, base, f, d)
            runs = time_queries(spark, QUERIES, d, warm_dir=d, runs=1)
            for q, per_run in runs.items():
                results[q][f] = round(per_run[0][0], 3)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    slopes = {}
    for q, times in results.items():
        fs = sorted(times)
        if len(fs) >= 2 and times[fs[0]] > 0:
            slopes[q] = round(
                math.log(times[fs[-1]] / times[fs[0]]) / math.log(fs[-1] / fs[0]), 2
            )
    print(
        json.dumps(
            {"base": base, "factors": factors, "warm_sec": results, "exponent": slopes}
        )
    )


if __name__ == "__main__":
    main()
