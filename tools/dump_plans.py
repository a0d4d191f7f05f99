"""Regenerate PLANS.md: the formatted physical plans of the headline
queries at sf0.1 — the evidence artifact for the plan-shape claims in
README/COVERAGE (broadcast joins, pruned scans, pushed filters).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from banking_streamprocessing_demos_spark.plans.explain import formatted_plan
from banking_streamprocessing_demos_spark.session import get_spark

HEADLINE = [
    "a3_join_agg_revenue",
    "a7_pricing_summary",
    "j1_join_filter_groupby",
    "j5_timeout_pairing",
    "u3_snapshot_last_event_wins",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "j6_asof_join",
    "j7_range_join",
    "w5_session_window",
    "text_tfidf_topk",
    "pipe_curation",
    "emb_quantize_int8",
    # round-2 additions
    "pack_sequences",
    "contamination_check",
    "text_repetition",
    "dedup_semantic_clusters",
    "text_pii_scrub",
    "w6_retention_cohorts",
    "w7_funnel",
    # round-2 second batch
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "sketch_bloom_prefilter",
    "dedup_substring_spans",
    "pipe_domain_mix",
    "w8_funnel_windowed",
    "w9_scd2_intervals",
    "text_bigram_lm_score",
    # round-4/5 additions
    "pipe_quality_gate",
    "pipe_epoch_plan",
    "smp5_weighted_sample",
    "sim_knn_graph",
    "pipe_curriculum_pack",
    "dedup_semantic_ivf",
    # round-6 additions
    "text_boilerplate_strip",
    "dedup_keep_best",
    "pipe_bpe_encode",
    "emb_pq_codebook",
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "sim_ann_matryoshka",
    # round-7/8 additions.  The checkpointed operators (opq/curate/
    # phash) EXECUTE their upstream stages at plan-construction time
    # (eager localCheckpoint) and their FINAL plans show opaque
    # ExistingRDD scans at stage boundaries — so the ones in STAGED
    # below are dumped under plans.explain.capture_stages(), which
    # records each stage's PRE-checkpoint plan for full lineage
    # (round-8 VERDICT #5).
    "sim_ann_opq",
    "sim_ann_opq_trained",
    "pipe_curate_end_to_end",
    "mm_phash_dedup",
    "mm_phash_clusters",
    "mm_chunk_dedup",
    # round-9 additions.  (pipe_bpe_merges_batched is EXCLUDED like the
    # streaming_* ops: its return value is a createDataFrame over the
    # driver-collected rules, so its "plan" is a vacuous LocalTableScan
    # while dumping it would execute the whole fit; the per-round
    # pair-count/fold shapes are the sequential fit's, asserted in
    # tests/test_plans.py's BPE coverage.)
    "emb_pq_codebook_sampled",
    "sim_ann_pq_sampled",
    # round-9 second batch: training-free int8 scalar-quantization
    # search, and the blocked entity-resolution pair
    "sim_ann_sq8",
    "er_blocked_match",
    "er_match_quality",
    "emb_hard_negatives",
    # round-9 third batch: 1-bit binary-quantization search and the
    # lexical-retrieval pair (BM25 + reciprocal-rank fusion)
    "sim_ann_binary",
    "sim_ann_ivf_binary",
    "text_bm25_search",
    "rank_fusion_rrf",
    # round-9 fourth batch: governance ops.  (rank_mmr_diversify is
    # EXCLUDED like pipe_bpe_merges_batched: its return value is a
    # createDataFrame over the bounded driver-side greedy, so its
    # "plan" is a vacuous LocalTableScan; the pool/pair plans it
    # executes are text_bm25_search's, dumped above.)
    "pipe_tokenizer_fertility",
    "priv_k_anonymity",
    # (er_cluster_entities is EXCLUDED like dedup_clusters and the other
    # min-label fixpoint consumers: the iterative propagation localCheckpoints
    # per round, so its final plan is an opaque ExistingRDD; the component
    # machinery's shapes are asserted where dedup_clusters' are.)
    # round-10 additions: the remaining sampled-training twins and the
    # hybrid BM25+ANN fusion.  (sim_ann_opq_trained_sampled rides the
    # STAGED capture like its full-train sibling.)
    "sim_ann_ivfpq_sampled",
    "sim_ann_opq_trained_sampled",
    "rank_fusion_hybrid",
    # round-10 second batch: curation/governance frontier
    "pipe_perplexity_buckets",
    "pipe_dsir_weights",
    "pipe_dsir_resample",
    "priv_dp_release",
    # round-11: sampled-threshold buckets (broadcast shuffle-free
    # assignment), the Gopher per-row rule battery (fully scan-pushed),
    # and the hash-gated BLAS ranking path
    "pipe_perplexity_buckets_sampled",
    "pipe_gopher_rules",
    "sim_ann_ivf_arrow",
]

# Operators whose stage boundaries are routed through checkpoint_stage:
# their PLANS.md entries carry one pre-checkpoint plan per stage.
STAGED = {
    "sim_ann_opq_trained",
    "sim_ann_opq_trained_sampled",
    "pipe_curate_end_to_end",
    "mm_phash_dedup",
}
# (streaming_* queries execute real streaming jobs, so their batch
# "plan" is not meaningful here; their shapes are asserted in
# tests/test_plans.py and described in SCALE.md instead.)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` — regenerate after",
        "any plan-affecting change.  What to look for: `BroadcastHashJoin` on",
        "every dimension join, `PushedFilters`/`ReadSchema` pruning at each",
        "parquet scan, a single non-broadcast `Exchange` per aggregation, and",
        "wide `WholeStageCodegen` spans.",
        "",
    ]
    from banking_streamprocessing_demos_spark.plans.explain import capture_stages

    for name in HEADLINE:
        if name in STAGED:
            with capture_stages() as stages:
                plan = formatted_plan(qs[name](spark, sf_dir))
            out.append(f"## {name}\n")
            for stage, splan in stages:
                out.append(
                    f"### stage: {stage} (pre-checkpoint lineage)\n\n"
                    f"```\n{splan.strip()}\n```\n"
                )
            out.append(f"### final plan\n\n```\n{plan.strip()}\n```\n")
        else:
            plan = formatted_plan(qs[name](spark, sf_dir))
            out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
