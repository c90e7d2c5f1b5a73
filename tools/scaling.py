"""Measured scale-up evidence: time queries across sf0.001/0.01/0.1.

The 100 TB design claims in SURVEY.md are plan-shape arguments
("bounded fan-out", "one shuffle", "broadcast dim"). This harness turns
them into NUMBERS: each query runs at three committed data scales (100x
apart end to end) and the artifact records the wall-clock growth ratio
per 10x of data. A plan that is linear-or-better in the input shows a
ratio near (or below) 10 once fixed overhead is netted out; a hidden
quadratic shows ~100. The exact-oracle baselines (x6/x32/x34/h3) are
timed alongside their guarded scale twins (x27/h3b/x34b) so the
contrast the twins exist for is measured, not asserted.

Writes SCALING_r{N}.json:
  {"sf_dirs": [...], "n": runs/query/scale,
   "queries": {name: {"sec": {"0.001": t, ...},
                      "ratio_001_to_01": t(0.01)/t(0.001),
                      "ratio_01_to_1": t(0.1)/t(0.01),
                      "net_ratio_01_to_1": overhead-netted ratio}},
   "overhead_sec": per-scale floor (min observed time at that scale)}

``net_ratio_01_to_1`` subtracts the per-scale floor — the cheapest
query at each scale approximates fixed session/job overhead (scheduler,
noop commit), which otherwise hides growth at toy scales — before
taking the ratio, and is the number to read against 10x.

Measurement hygiene: the block-manager cache is cleared after every
query (operator-persisted frames otherwise compound over the ~25-min
session and degrade late queries), and ``calib_sec_per_scale_loop``
records bench.py's fixed codegen probe once per scale loop so host
drift between the loops is visible next to the growth ratios it would
otherwise masquerade as.

Usage: python tools/scaling.py [out.json]
Env: SPARK_GRAFT_SCALING_N (passes per query per scale, default 3).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insect_observation_data_pipeline_spark import get_spark  # noqa: E402
from insect_observation_data_pipeline_spark.queries import QUERIES  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

# Guarded scale twins next to their exact baselines (the measured
# contrast), plus the most shuffle-heavy registered queries — the set
# where a scaling defect would hide.
SCALING_QUERIES = [
    # exact baseline vs guarded twin pairs
    "x6_ngram_jaccard",
    "x27_jaccard_maxdf",
    "h3_containment_keep",
    "h3b_containment_keep_maxdf",
    "x34_tf_cosine_pairs",
    "x34b_tf_cosine_candidates",
    "x32_containment",
    # heavy registered plans
    "x7_minhash_lsh",
    "x29_incremental_dedup",
    "h1_dup_clusters",
    "x35_training_order",
    "x38_source_overlap",
    "x17_tfidf_top_terms",
    "x33_semdedup_keep",
    "x9_ann_bruteforce",
    "j14_band_join_coincident",
    "e6_funnel_steps",
    # round-7 entrants: broadcast-probe bloom, register sketch, and the
    # iterative pagerank (edge join is the data-dependent part; the 8
    # rank rounds are fixed overhead that should NOT grow with sf)
    "x40_hll_distinct",
    "x41_bloom_decontaminate",
    "h4_pagerank_trade",
    # segment dedup is linear by construction (explode factor
    # n_words/8); triangle counting's min-support cut keeps the graph
    # near-constant as sf grows, so its curve should be dominated by
    # the linear pair-generation groupBy
    "x42_segment_dedup",
    "h5_triangle_count",
    # BPE trainer: the corpus-scale part is one histogram groupBy; the
    # 12 merge rounds are fixed overhead over the word-TYPE table, so
    # the curve should be h4-shaped (flat-ish, amortizing at scale)
    "x43_bpe_vocab",
    # train+apply: adds the encode projection + histogram over x43's
    # rounds — the delta over x43's curve is the (linear) encode cost
    "x47_bpe_tokenize",
    # round-8 entrants: bigram-LM (one corpus-sized bigram aggregate,
    # model joins are vocabulary-sized) and the BM25/hybrid retrieval
    # pair (inverted-index probe — the query side is fixed, so growth
    # tracks the posting lists of the probed terms, linear in sf)
    "x44_bigram_lm_score",
    "x45_bm25_topk",
    "x46_hybrid_rrf",
    # histogram-sketch quantiles: state is (group, occupied-bin) rows —
    # bounded by the value range, not the corpus — so the curve should
    # track the linear scan+agg, with the readback window flat
    "x48_histogram_quantiles",
    # journey trigrams: one per-user window sort + hash agg; linear
    "e9_path_trigrams",
    # round-10 entrant: cross-doc repeated spans — anchor explode is
    # token-count-sized, df count one hash agg, flag-back a broadcast
    # semi join, interval merge one per-doc sort; should grow linearly
    # (sub-quadratic is the requirement — never all-pairs)
    "x52_repeated_spans",
    # classic warehouse shapes as linear controls
    "q1_pricing_summary",
    "flagship_top_part_supplier",
    "w2_best_month_per_customer",
    # round-11 entrant: w2's HLL-register scale variant, timed right
    # next to the exact form so the exact-vs-sketch growth contrast is
    # measured (the register agg's shuffle is capped at 256 rows/group;
    # the remaining growth is the fact-join scan, shared with w2)
    "w2b_best_month_sketch",
    "e2_sessionization",
    "x1_dedup_exact",
]


# Findings from per-query profiling passes, written into the artifact
# so a steep-looking (but explained) curve doesn't get re-investigated
# every round. Keep entries short and evidence-backed.
QUERY_NOTES: dict[str, str] = {
    "w2_best_month_per_customer": (
        "round-9 profiling (staged timings, n=5 medians, sf0.01 vs "
        "sf0.1): join-only 0.26->0.54 s (2.1x), join+countDistinct "
        "0.51->1.46 s (2.8x), full query 0.54->1.64 s (3.0x) per 10x "
        "data; identical plan shape at both scales (3 exchanges). The "
        "rn=1 window adds ~0.16 s at sf0.1 (~10%); growth is the "
        "two-phase exact countDistinct over the joined fact — "
        "data-linear exchange/agg constants, not a plan defect. "
        "r8's 6.75x net ratio was floor-netting amplification on a "
        "0.54 s toy-scale base (raw ratio was 5.18)."
    ),
    "e2_sessionization": (
        "round-9 profiling: scan-count flat (0.10->0.07 s), window "
        "tag 0.15->0.22 s (1.5x), full query 0.29->0.31 s (~1.1x) per "
        "10x data; identical plan shape (2 exchanges). The per-user "
        "window sort is the only data-dependent cost and it is "
        "sub-linear at these scales; r8's 7.71x net ratio was the "
        "same floor-netting artifact on a ~0.27 s base."
    ),
    "w2b_best_month_sketch": (
        "round-11 entrant (w2's HLL scale variant): net ~4.6x per 10x "
        "vs w2's ~4.1x at these scales — BOTH curves are the shared "
        "fact-join scan plus (for w2b) the per-row md5 register map "
        "work, all linear. The form's advantage is not visible at "
        "sf<=0.1 by design: it caps the AGG SHUFFLE at 256 rows/group "
        "(vs one row per distinct (customer,month,supplier) combo), "
        "and at these scales that shuffle is a few MB either way. It "
        "becomes the bound — memory and network — when the distinct "
        "combinations no longer fit, which is the switch rule README "
        "documents; accuracy (<=20%/group) is pytest-pinned. "
        "Crossover, from SHUFFLE_EVIDENCE_r14's measured rows: sf0.1 "
        "carries ~4.3 distinct (month,supplier) combos per customer "
        "(598,646 triples / 138,330 groups), so the 256-row cap binds "
        "only past ~60x that per-group density. On TPC-H-shaped growth "
        "(groups scale with data, density flat) the exact shuffle "
        "stays group-proportional and w2 remains fine at any sf; the "
        "register form is for the BOUNDED-group/high-density rollup "
        "shape (e.g. per-month-only grain at 100 TB), where exact "
        "shuffle rows grow with distinct combos without bound while "
        "w2b's stay <= groups x 256 regardless of data volume."
    ),
    "x52_repeated_spans": (
        "round-10 entrant: net ratio ~5x per 10x data on a ~0.6 s "
        "sf0.01 base — SUB-linear, as the plan predicts: the anchor "
        "explode is token-count-sized (one anchor per token, ~8x "
        "x42's non-overlapping segments), the df count and flag-back "
        "are hash-partitioned (flagged side broadcasts at these "
        "scales), and the interval merge is one per-doc sort whose "
        "rollup aggs reuse the window partitioning. No pair join "
        "anywhere, so no quadratic term exists to surface at larger "
        "sf; contrast the exempt all-pairs baselines above it in any "
        "worst-ratio sort (x34 ~22x, x32 ~13x)."
    ),
}


def _sf_key(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.json"
    n_runs = int(os.environ.get("SPARK_GRAFT_SCALING_N", "3"))
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, dict[str, float]] = {q: {} for q in SCALING_QUERIES}
    errors: dict[str, str] = {}
    calib: dict[str, float] = {}
    for sf_dir in SF_DIRS:
        key = _sf_key(sf_dir)
        for name in SCALING_QUERIES:
            try:
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()  # warm
                samples = []
                for _ in range(n_runs):
                    # evict BEFORE every timed pass, not only between
                    # queries (round-14 review): Spark's CacheManager
                    # matches the rebuilt identical plan, so without
                    # this the timed passes of persist-heavy queries
                    # (x7/x29/h4/h5/x43/x34b) read the warm pass's
                    # frames and the growth ratio understates exactly
                    # the corpus-scan-sized persist-build term this
                    # harness exists to measure (bench.py measured the
                    # flattery at ~2.5x and runs evict-per-pass; same
                    # discipline here)
                    spark.catalog.clearCache()
                    t0 = time.time()
                    QUERIES[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    samples.append(time.time() - t0)
                times[name][key] = round(statistics.median(samples), 3)
            except Exception as e:  # noqa: BLE001 — isolate per query
                errors[f"{name}@{key}"] = f"{type(e).__name__}: {e}"[:200]
                traceback.print_exc(limit=2, file=sys.stderr)
            finally:
                # operators persist reused frames (pagerank's edge
                # relation, triangle_counts' oriented edges, x34b's tf)
                # and rely on GC+ContextCleaner for cleanup — in this
                # ~25-min 29x3-query session the leak COMPOUNDS and was
                # measured to degrade late-running queries 2-5x (q1
                # 0.39 -> 2.15 s before this was added). Evict eagerly
                # so each query is timed against a clean block manager.
                spark.catalog.clearCache()
        # same fixed probe as bench.py's 'codegen' op, once per scale
        # loop: scaling ratios compare timings taken ~10 min apart in
        # one session, so per-loop machine drift must be visible in
        # the artifact or a host slowdown reads as superlinear growth
        probe = spark.range(200_000_000).selectExpr("sum(id) AS s")
        probe.write.format("noop").mode("overwrite").save()
        t0 = time.time()
        probe.write.format("noop").mode("overwrite").save()
        calib[key] = round(time.time() - t0, 3)

    # per-scale fixed-overhead floor: the cheapest query at that scale
    floors = {
        key: min(
            (t[key] for t in times.values() if key in t), default=0.0
        )
        for key in (_sf_key(d) for d in SF_DIRS)
    }

    def ratio(
        t: dict[str, float], a: str, b: str,
        net_a: float = 0.0, net_b: float = 0.0,
    ):
        if a in t and b in t and t[a] - net_a > 0.005:
            return round((t[b] - net_b) / (t[a] - net_a), 2)
        return None

    queries = {}
    for name, t in times.items():
        queries[name] = {
            "sec": t,
            "ratio_001_to_01": ratio(t, "0.001", "0.01"),
            "ratio_01_to_1": ratio(t, "0.01", "0.1"),
            # EACH scale's own floor (round-12 review: the old form
            # subtracted the single global minimum from both scales,
            # so per-scale fixed session overhead — which grows with
            # sf — still inflated the "netted" growth ratio the field
            # claims to remove)
            "net_ratio_01_to_1": ratio(
                t, "0.01", "0.1",
                net_a=floors.get("0.01", 0.0), net_b=floors.get("0.1", 0.0),
            ),
        }

    from tools.compare import artifact_meta

    # ONE payload for stdout and the committed file (round-12 review:
    # two hand-mirrored dict literals could drift field-by-field); the
    # printed form simply omits the provenance stamp
    payload = {
        "metric": "wall-clock growth per 10x data (noop sink)",
        "sf_dirs": SF_DIRS,
        "n": n_runs,
        "overhead_sec": floors,
        "calib_sec_per_scale_loop": calib,
        "errors": errors,
        "notes": QUERY_NOTES,
        "queries": queries,
    }
    print(json.dumps(payload, indent=1))
    with open(out_path, "w") as f:
        json.dump({**payload, "__meta__": artifact_meta()}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
