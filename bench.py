"""Benchmark harness — one JSON line to stdout.

Headline metric: end-to-end KG triple extraction (corpus → fused
mapInArrow → triples count) in docs/sec, plus representative relational /
training-data operators from the driver contract.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_N_DOCS (override KG corpus size).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import queries, synth
    from legal_ner_spark.operators import extract as ops

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="legal-ner-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # warm the JVM, the Arrow path, AND the Python worker pool (workers fork
    # once per core and import the package; steady-state throughput is what
    # the bench reports)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = synth.synthetic_corpus(spark, cpus * 4, partitions=cpus)
    ops.triples(ops.extract_records(warm)).count()

    n_docs = int(os.environ.get("BENCH_N_DOCS", "0"))
    if not n_docs:
        n_rows = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_docs = max(64, min(1600, n_rows // 5))

    # steady-state discipline: per measurement, ONE untimed warm-up run
    # (absorbs the first-execution Janino codegen compile, which is
    # 2-8 s on the widest aggregates and made best-of-2 misleading) then
    # best-of-BENCH_RUNS timed runs (host noise here is 1.5-3× run to
    # run — the min is the honest steady-state figure)
    n_runs = int(os.environ.get("BENCH_RUNS", "3"))

    def best_of(fn) -> float:
        fn()  # warm-up, excluded
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    # compute-sized splits: ≥64 docs/task (each task's Python-worker round
    # trip costs ~hundreds of ms — oversplitting serializes that overhead)
    # but capped at ~4 tasks/core so the 2% mega-docs still spread
    n_parts = max(cpus, min(cpus * 4, n_docs // 64))
    n_triples = 0

    def run_kg():
        nonlocal n_triples
        corpus = synth.synthetic_corpus(spark, n_docs, partitions=n_parts)
        n_triples = ops.triples(ops.extract_records(corpus)).count()

    kg_sec = best_of(run_kg)
    timings["kg_extract_triples"] = round(kg_sec, 3)

    # sent-mode (the reference's run_type knob) on the same corpus — the
    # doc-vs-sent latency trade the reference documents (README.md:159-165)
    # measured under the SAME warm-up + best-of-N loop as everything else
    def run_sent():
        corpus = synth.synthetic_corpus(spark, n_docs, partitions=n_parts)
        ops.triples(ops.extract_records(corpus, text_type="sent")).count()

    sent_sec = best_of(run_sent)

    bench_queries = ["tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q7", "tpch_q13", "tpch_q17",
                     "tpch_q8", "tpch_q10", "tpch_q14", "tpch_q18", "tpch_q19",
                     "nearest_prior_link", "dedup_exact", "dedup_minhash_lsh", "near_dedup",
                     "simhash_pairs", "embedding_near_pairs", "similarity_topk",
                     "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_q_topk", "ann_pq_topk", "ann_ivfpq_topk",
                     "contamination",
                     "pack_shards", "prepare_training_corpus",
                     "quality_score", "doc_fingerprint",
                     "repetition_score", "windowed_counts",
                     "salted_join_agg", "kg_statute_triangles",
                     "kg_precedent_components",
                     "kg_components_incremental",
                     "corpus_sample", "corpus_rollup", "rolling_events",
                     "interval_events", "digest_prune_agg", "kg_kcore",
                     "session_window_counts",
                     "duplicate_passages", "bm25_topk", "bm25_index_topk", "kmv_distinct",
                     "corpus_expectations", "grouped_topk", "quality_outliers",
                     "cms_freq", "cdc_user_state", "scd2_user_runs",
                     "range_partition_hist", "zorder_layout",
                     "tpch_q12", "tpch_q15", "tpch_q21", "tpch_q22",
                     "funnel", "cohort_retention", "table_profile",
                     "approx_counts", "column_histogram", "asof_enrich",
                     "cms_join_size", "resample_daily",
                     "weighted_sample", "user_transitions",
                     "perplexity_score", "kg_hits",
                     "kg_pagerank_weighted", "kg_katz", "kg_node_ids",
                     "kg_edges_encoded", "kg_adjacency",
                     "entity_link_fuzzy", "stratified_sample",
                     "kg_negative_samples", "kg_statute_pmi",
                     "mixture_sample", "dataset_split",
                     "ngram_diversity", "zipf_slope", "corpus_pivot",
                     "bpe_pair_stats", "vocab_coverage",
                     "skyline_docs", "tfidf_keywords",
                     "exact_median_quantity", "minhash_estimate_pairs",
                     "collocations", "kg_rich_club",
                     "kg_path_counts", "user_activity_entropy",
                     "chunk_windows", "oov_rate", "dedup_prefix_filter",
                     "dedup_containment",
                     "kg_clustering_coeff", "kg_assortativity",
                     "kg_component_sizes", "sorted_neighborhood",
                     "kg_related_cases", "kg_media_density",
                     "kg_media_align", "hybrid_rrf",
                     "kg_court_profiles", "kg_canonical_citations",
                     "kg_judge_profiles", "kg_node_similarity",
                     "dedup_stats", "kg_skew_report",
                     "kg_degree_histogram", "kg_lpa_communities",
                     "kg_community_quality", "kg_label_propagation",
                     "k_anonymity",
                     "kg_citation_years", "sliding_window_counts", "corpus_cube", "daily_anomalies",
                     "embedding_class_stats", "kg_label_cooccurrence",
                     "kg_bridge_edges", "kg_ambiguous_provisions",
                     "dedup_posting_stats", "kg_ktruss",
                     "kg_triangles_sampled",
                     "kg_random_walks", "kg_biased_walks",
                     "kg_walk_skipgrams", "kg_biased_skipgrams",
                     "kg_neighbor_sample", "kg_walk_ppmi",
                     "kg_truss_communities",
                     # closed-form DeepWalk: walks→skipgrams→PPMI→SVD;
                     # kg_embedding_neighbors re-runs the same chain +
                     # brute rerank (~10 s) and stays rows+pytest-gated
                     # outside bench like near_dedup_reconciled
                     "kg_node_embeddings",
                     # index-lifecycle rows (build+append+compact per run);
                     # near_dedup_reconciled (~22 s: three near-dedup-scale
                     # jobs) stays out like near_dedup_incremental — both
                     # are oracle-gated with costs documented in BENCH.md
                     "bm25_index_incremental", "ann_ivf_incremental",
                     "semantic_dedup", "semantic_dedup_stats",
                     "curation_pipeline",
                     "gopher_quality", "gopher_repetition",
                     "dsir_weights", "dsir_resample",
                     "source_quota_sample", "quality_classifier",
                     "curation_pipeline_v2",
                     # consumer-side KG query layer
                     "kg_bgp_star", "kg_bgp_optional", "kg_bgp_minus",
                     "kg_bgp_exists", "kg_bgp_not_exists",
                     "kg_bgp_values", "kg_bgp_filter_agg", "kg_bgp_chain",
                     "kg_bgp_slice", "kg_bgp_ask", "kg_bgp_path_quant",
                     "kg_bgp_path_nps", "kg_bgp_bind",
                     "kg_bgp_groupagg", "kg_bgp_union", "kg_describe",
                     "kg_bgp_subquery",
                     "kg_construct_rule", "kg_same_as_closure",
                     "kg_export_ntriples", "kg_roundtrip_ntriples",
                     "kg_path_bounded", "kg_path_seq", "kg_path_alt",
                     "kg_resolved_triples",
                     "kg_constraint_report",
                     "kg_rdfs_entail", "kg_owl_extend",
                     "kg_update_rename", "kg_shacl_validate",
                     "kg_rules_program", "kg_rules_incremental",
                     "kg_rules_retract", "kg_rules_stratified",
                     "kg_rules_aggregate", "kg_rules_goal",
                     "kg_shortest_paths", "kg_harmonic_centrality",
                     "kg_butterflies", "kg_link_prediction",
                     "kg_eccentricity", "kg_landmark_select",
                     "kg_rules_stratified_maintain",
                     "kg_update_maintain", "kg_graph_diff",
                     "kg_bgp_graph"]
    for name in bench_queries:
        timings[name] = round(best_of(
            lambda: queries.QUERIES[name](spark, sf_dir).count()), 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "kg_construct_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "kg_docs": n_docs,
        "kg_triples": int(n_triples),
        "kg_docs_per_sec": round(n_docs / kg_sec, 2),
        "kg_docs_per_sec_sent": round(n_docs / sent_sec, 2),
        "cpus": cpus,
    }
    # attach the two-parallelism scaling evidence measured by
    # bench_scaling.py (north_rule gate; see BENCH.md) if present
    here = os.path.dirname(os.path.abspath(__file__))
    for tag, fname in (("scaling_8_32", "BENCH_SCALING_8_32.json"),
                       ("scaling_4_16", "BENCH_SCALING.json"),
                       ("scaling_2_8", "BENCH_SCALING_2_8.json")):
        p = os.path.join(here, fname)
        if os.path.exists(p):
            with open(p) as fh:
                s = json.load(fh)
            out[tag] = {
                "low_cpus": s["low"]["cpus"], "high_cpus": s["high"]["cpus"],
                "low_docs_per_sec": s["low"]["docs_per_sec"],
                "high_docs_per_sec": s["high"]["docs_per_sec"],
                "efficiency": s["scaling_efficiency"], "n_docs": s["n_docs"],
            }
    # the north_rule's own formulation — N vs 4N separate-JVM executors
    # (bench_scaling_cluster.py, local-cluster mode); prefer the
    # freshest round's artifact
    for fname in ("BENCH_SCALING_CLUSTER_R5.json",
                  "BENCH_SCALING_CLUSTER_R4.json",
                  "BENCH_SCALING_CLUSTER_1_4.json"):
        p = os.path.join(here, fname)
        if os.path.exists(p):
            break
    if os.path.exists(p):
        with open(p) as fh:
            s = json.load(fh)
        out["scaling_executors_1_4"] = {
            "low_executors": s["low"]["executors"],
            "high_executors": s["high"]["executors"],
            "low_docs_per_sec": s["low"]["docs_per_sec"],
            "high_docs_per_sec": s["high"]["docs_per_sec"],
            "efficiency": s["scaling_efficiency"], "n_docs": s["n_docs"],
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
