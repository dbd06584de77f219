#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans for representative corpus
queries, with the scale-relevant properties called out. Evidence that the
plans are the ones we WANT (pushdown, pruning, broadcast, partial agg) —
not just the first ones that passed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.session import get_spark

SHOWCASE = {
    "ntile_deciles": (
        "Range-binned exact NTILE (operators/rank.py): literal bin "
        "boundaries from one approxQuantile probe, literal element_at "
        "offsets, row_number under a window PARTITIONED by bin - the sort "
        "parallelizes over value-range bins; no unpartitioned WindowExec "
        "anywhere."
    ),
    "dedup_pipeline_e2e": (
        "Composed dedup pipeline: the only pair-producing join is the LSH "
        "(band, digest) bucket join; Levenshtein verify runs on candidates "
        "only; components iterate on the tiny verified edge list; final "
        "keep/drop is one left join back to the corpus."
    ),
    "tpch_q1_pricing_summary": (
        "Single scan → map-side partial HashAggregate → one Exchange → final "
        "agg. PushedFilters carries the date predicate; ReadSchema is exactly "
        "the 7 used columns."
    ),
    "tpch_q6_forecast_revenue": (
        "Pure pushdown: all four predicates reach the scan; no shuffle "
        "(single-row aggregate)."
    ),
    "join_dims_broadcast": (
        "Two BroadcastHashJoins (nation, region) — the dim chain never "
        "shuffles the customer side; one Exchange total, for the final agg."
    ),
    "tpch_q3_shipping_priority": (
        "Three pushed predicates shrink all sides before joining; the "
        "lineitem join is a hinted ShuffledHashJoin BUILDING the filtered "
        "customer-orders side (the static planner would broadcast-build "
        "the weakly-filtered fact); the final TakeOrdered(20) avoids a "
        "global sort."
    ),
    "tpch_q13_custdist": (
        "LEFT OUTER with the priority filter inside the join condition; "
        "hinted ShuffledHashJoin builds the orders side per-partition "
        "(clearest win of the join-build audit: a broadcast build of "
        "~95% of orders is single-threaded locally and impossible at "
        "scale); second agg rides the map-side partial to ~tens of rows."
    ),
    "text_zipf_fit": (
        "Corpus-level fit in three bounded stages: exploded token count "
        "with map-side partial agg, TakeOrdered(200) for the rank curve "
        "(per-partition heaps, never a global sort), then a single-row "
        "closed-form OLS aggregate — nothing data-sized crosses the "
        "driver."
    ),
    "embed_dim_stats": (
        "posexplode then ONE hash aggregate keyed on dim index: key "
        "cardinality = embedding width, so map-side partials compress "
        "every partition to <= width rows before the exchange — shuffle "
        "volume is O(width x partitions), independent of corpus size."
    ),
    "top_k_orders": "TakeOrderedAndProject — per-partition partial top-k, no full sort.",
    "last_per_group": (
        "max_by struct aggregate (r6 rewrite): the partial SortAggregate "
        "compresses every partition to one row per user BEFORE the single "
        "user_id Exchange — the r5 row_number window sorted and shuffled "
        "the full event stream. SortAggregate (not Hash) because struct "
        "agg buffers are not UnsafeRow-mutable; the sort is per-partition "
        "over already-reduced rows."
    ),
    "dedup_minhash_lsh": (
        "The only pair-producing join keys on (band, digest) — the O(n²) doc "
        "pair space never materializes. Signatures: one md5 per shingle + "
        "universal-hash permutations, single groupBy(doc) with elementwise "
        "mins (map-side partial)."
    ),
    "range_join_price_band": (
        "Bucketed-grid rewrite: BroadcastHashJoin on the grid cell + exact "
        "[lo,hi) refine — a raw inequality join would be a nested loop."
    ),
    "dedup_simhash": (
        "ZERO exchanges: fingerprinting folds bit votes over the token array "
        "in one narrow map stage (higher-order functions, no explode/groupBy)."
    ),
    "dedup_embed_cosine": (
        "At corpus SFs the footer gate (input fits one block, proven "
        "from parquet metadata, job-free) selects the single-block fast "
        "path shown: ONE FlatMapGroupsInPandas does the in-group matmul "
        "prune + exact fold re-score — no driver collect. Above "
        "BLOCK_ROWS (8192) rows the same call builds the distributed "
        "block-pair filter-refine (pack blocks, equi-join pair keys, numpy "
        "prune, exact re-score; plan pinned by the tests that lower "
        "BLOCK_ROWS)."
    ),
    "distinct_kmv_estimate": (
        "KMV sketch: TakeOrderedAndProject keeps the k smallest hashes with "
        "O(k) state per partition — cardinality estimation with no global "
        "sort at any input size."
    ),
    "decontaminate_bloom_prefilter": (
        "SQL-primitive Bloom filter for the eval-set-beyond-broadcast "
        "regime: eval grams fold into m/64 bit_or'd bigint words "
        "(partial-aggregated, mergeable), densified to ONE broadcast "
        "scalar array<bigint>; training grams probe it with O(1) array "
        "indexing inside the scan stage, and only survivors (99.3% "
        "pruned at sf0.1) reach the SHUFFLE_HASH exact join that removes "
        "false positives."
    ),
    "quantile_sketch_sample": (
        "Mergeable bottom-k-by-hash quantile sketch: ORDER BY hash LIMIT "
        "k plans as TakeOrderedAndProject (per-partition bottom-k, "
        "associative merge), then nearest-rank extraction runs on ONE "
        "aggregated row — no global sort, no data-sized shuffle."
    ),
    "tpch_q17_small_qty_revenue": (
        "Correlated scalar subquery decorrelated WITH pruning: the "
        "filtered part joins lineitem FIRST (Catalyst cannot push that "
        "prune through an aggregate), then the per-part threshold is a "
        "window AVG over the already-shuffled partkey partitions — one "
        "exchange, no full-fact aggregate, no second join."
    ),
    "unpivot_measures": (
        "Aggregate-then-unpivot: one scan with map-side combine to ~3 "
        "rows, then stack() on the tiny wide result — the literal "
        "unpivot-then-aggregate form triples every input row through "
        "the exchange."
    ),
    "grouping_sets_flags": (
        "GROUPING SETS from the finest level: count/sum re-aggregate, so "
        "the coarser sets derive from the 6-row finest aggregate instead "
        "of Expand tripling every input row before the partial agg."
    ),
    "dedup_ngram_jaccard": (
        "Shingle inverted index with df-cap, posting-list pair "
        "generation: bounded collect_list per shingle (<= cap docs) and "
        "map-side pair explode replace the index self-join and its "
        "repartition exchange; int64 xxhash shingle keys through every "
        "exchange."
    ),
    "cooccurrence_pairs": (
        "r6 bitmask plan: the per-(user,day) type set is a codegen "
        "bit_or over longs (the old collect_set ObjectHashAggregate was "
        "the measured cost), masks roll up to counts, and the pair HOF "
        "expands over the <=2^|types| mask relation - one fact shuffle "
        "carrying one long per key."
    ),
    "text_heaps_fit": (
        "r6 array-side rewrite: per-doc token totals/types are pure "
        "array expressions inside the scan stage; the ONLY exchange in "
        "the plan is the single-row OLS moment fold (the old shape "
        "shuffled every exploded (doc_id, token) pair through a "
        "two-phase countDistinct)."
    ),
    "ewma_daily": (
        "r6 epoch-chunked EWMA: in-epoch rescaled prefix sums under "
        "windows PARTITIONED by epoch (exponents bounded by the epoch "
        "length, any horizon), lagged epoch-end carries on the "
        "#epochs-row aggregate - the old single-rescale form overflowed "
        "a double at ~3200 days."
    ),
    "text_unigram_logprob": (
        "r9 unigram-LM scorer, the tfidf windows-over-tf shape: one real "
        "aggregation at the deduped (doc, tok) grain, unigram counts as "
        "a window over it, the corpus token total as a broadcast 1-row "
        "aggregate of pure LENGTH ARITHMETIC on a narrow second scan "
        "(no second tokenize/explode), per-doc fold is one groupBy."
    ),
    "dedup_incremental_minhash": (
        "r9 every-ingest dedup: the newcomer/index modulo split pushes "
        "THROUGH the signature aggregations to both scans (each doc "
        "shingled once, on one side), and the only pair producer is the "
        "asymmetric batch x index band join - index docs never pair "
        "with each other, so the join is bucket-local, never n^2."
    ),
    "embed_hard_negative_mine": (
        "r9 in-kernel mining: codebook + 80-row md5-smallest-K pool ride "
        "the task closure; ONE mapInPandas pass assigns the nearest "
        "foreign cell AND scores the top-1 pool negative (BLAS pre-rank "
        "+ exact fold re-score) - zero post-kernel shuffles; the only "
        "exchange anywhere is the bounded pool-build window."
    ),
    "multimodal_phash_dedup": (
        "r13 perceptual-hash dedup: the aHash kernel (integer-exact "
        "byte-grid, vectorized per Arrow batch) pipelines INSIDE the "
        "scan stage - MapInPandas sits above the parquet scan with no "
        "exchange between them; the ONE exchange is keyed on the "
        "fingerprint bands themselves (exact dedup's groupBy-digest "
        "posture), so shuffle volume is one 4-int row per doc and skew "
        "is bounded by true dup-cluster size."
    ),
    "weighted_sample_by_group": (
        "r13 per-group A-ES sample: the per-batch bottom-k prune "
        "(lossless - a group's global bottom-k is a subset of the union "
        "of batch bottom-k's) runs inside the scan stage, so the lang "
        "window's single exchange carries <= k x n_batches survivor "
        "rows, never the corpus - the skew-safe grouped top-k shape "
        "shared with topk_per_group."
    ),
    "embed_kmeans_round": (
        "r14 end-to-end Lloyd iteration, assign+update FUSED in one "
        "kernel: scan pruned to the embedding column alone - label "
        "feeds only the separate bounded codebook job; the single "
        "MapInPandas pass does the BLAS argmax AND emits the "
        "centroid-update partial (cnt, sum-vector) per (batch, cell), "
        "so Arrow egress and both exchanges are O(cells x batches x "
        "dim) - no per-row vector re-crosses the Python boundary, no "
        "O(n x dim) explode; the old codebook is a constant-folded "
        "literal-array lookup, so the plan is LINEAR - no join subtree "
        "at all. The iterative IVF/SemDeDup build step at its "
        "scale-correct shuffle volume."
    ),
}


def main() -> None:
    _ensure_loaded()
    spark = get_spark("plans")
    sf_dir = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of representative queries\n",
        "Generated by `scripts/gen_plans_md.py` (formatted explain at sf0.01).",
        "Guarded by `tests/test_plans.py` so refactors can't silently lose",
        "pushdown/pruning/broadcast/partial-agg properties.\n",
    ]
    for name, note in SHOWCASE.items():
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        tree = plan.split("\n\n")[0]
        details = [
            line
            for line in plan.splitlines()
            if any(k in line for k in ("PushedFilters", "ReadSchema", "Arguments: HashedRelation"))
        ]
        out.append(f"## {name}\n\n{note}\n")
        out.append("```\n" + tree + "\n")
        if details:
            out.append("-- scan/broadcast details --")
            out.extend(d.strip()[:200] for d in details)
        out.append("```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
