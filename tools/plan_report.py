"""Dump `.explain("formatted")` for the headline queries into PLANS.md —
the plan-inspection evidence BENCH.md summarizes, in full, reproducibly.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

SHOW = [
    ("kg_triples", "fused extraction → triples projection (narrow, "
                   "zero-shuffle mapInPandas)"),
    ("tpch_q3", "broadcast dims + distributed TakeOrderedAndProject top-k"),
    ("tpch_q4", "left-semi EXISTS"),
    ("tpch_q6", "filter pushdown + column pruning at the parquet scan"),
    ("tpch_q17", "decorrelated scalar subquery via broadcast aggregate join"),
    ("sessionize", "one shared hash exchange for window + aggregation"),
    ("tpch_q7", "one dimension broadcast in two roles, date pushdown"),
    ("dedup_minhash_lsh", "constant-size (band, signature) shuffle keys"),
    ("simhash_pairs", "pigeonhole-banded equi-join — exact near-pairs with "
                      "no non-equi join"),
    ("embedding_near_pairs", "LSH-bucketed candidates + exact cosine verify"),
    ("ann_ivf_topk", "broadcast coarse quantizer, inverted-list equi-join"),
    ("contamination", "broadcast benchmark shingles, single corpus shuffle"),
    ("pack_shards", "bucket-partitioned prefix-sum windows"),
    ("html_to_text", "one codegen'd expression tree — no joins, no Python"),
    ("corpus_sample", "zero-shuffle stratified sampling — one codegen span "
                      "off the scan"),
    ("corpus_rollup", "grouping-sets Expand + ONE exchange for three "
                      "granularities"),
    ("interval_events", "keyless range join as bin-exploded equi-join — "
                        "no NestedLoop/Cartesian"),
    ("rolling_events", "RANGE-framed trailing window, one user_id exchange"),
    ("digest_prune_agg", "broadcast digest semi-prune — the fact side never "
                         "hash-exchanges before the final agg"),
    ("duplicate_passages", "passage dedup: shingle-hash equi-joins + per-doc "
                           "islands window, no global sort"),
    ("bm25_topk", "query-term-filtered explode, broadcast df/stats, "
                  "TakeOrdered cut"),
    ("bm25_index_topk", "posting-list serve — PartitionFilters prune the "
                        "term-hash buckets at the scan"),
    ("kmv_distinct", "two-phase salted sketch: (grp, salt) partials capped "
                     "at k before the merge exchange"),
    ("tpch_q18", "aggregate-before-join: lineitem collapses to per-order "
                 "totals below the first join"),
    ("tpch_q21", "EXISTS/NOT-EXISTS as window aggregates over ONE "
                 "late-flagged join — single lineitem scan"),
    ("zorder_layout", "sampled cuts + broadcast routing + Morton "
                      "interleave: one hash exchange total (the zone-map "
                      "groupBy)"),
    ("cdc_user_state", "two-stage change-log apply: folded window + "
                       "full-outer upsert, tombstones filtered"),
    ("scd2_user_runs", "change-point compression: both windows + run "
                       "filter share one exchange"),
    ("dedup_prefix_filter", "EXACT similarity join: rarity-prefix postings "
                            "blocked equi-join + positional/length filters "
                            "+ one verify join"),
    ("dedup_posting_stats", "prefix-posting census: one width aggregate "
                            "over the shared prefix subtree"),
    ("kg_ktruss", "edge peel loop: per-round triangle equi-joins + "
                  "stack-unpivot support fold"),
    ("kg_random_walks", "per-step frontier equi-join against the "
                        "src-partitioned ranked neighbor table"),
    ("kg_neighbor_sample", "md5-ranked fanout cap per hop + two "
                           "bounded hop equi-joins"),
    ("entity_link_fuzzy", "broadcast dictionary trigrams, blocked "
                          "candidates, per-mention best-1 window"),
    ("kg_node_ids", "dense-id dictionary: md5-bucket prefix-sum, no "
                    "global window over the corpus"),
    ("kg_negative_samples", "explode + int64-keyed dictionary join + "
                            "anti-join filtered sampling"),
    ("sorted_neighborhood", "prefix-bucket lexical rank + rank÷window "
                            "block equi-join + edit-distance verify"),
    ("zipf_slope", "distributed rank: freq-partitioned tie windows + tiny "
                   "cumulative offsets"),
    ("bm25_index_incremental", "segmented BM25 serve after append+compact — "
                               "PartitionFilters on the compacted segment, "
                               "stats/df fold broadcast"),
    ("ann_ivf_incremental", "segmented IVF serve after append+compact — "
                            "centroid partition filter, broadcast probes, "
                            "exact rerank window"),
    ("kg_statute_triangles", "adaptive orientation: id-oriented 2-join "
                             "wedges off the truncated edge leaf (probe "
                             "chose the hub-free path)"),
    ("quality_classifier", "hashed linear gate: bucket hash, weight, and "
                           "per-doc mean inside array lambdas — zero "
                           "Exchange"),
    ("source_quota_sample", "per-domain cap: radix-cell prefix sums + "
                            "boundary-cell-only ranking — no per-key "
                            "window over a hot domain"),
    ("kg_bgp_star", "BGP star: one hub exchange, no broadcast, no "
                    "DISTINCT — pred IN pushed to the triple scan, one "
                    "groupBy(hub) collect, one chained explode per slot"),
    ("kg_bgp_chain", "BGP chain: one hub exchange, no broadcast, no "
                     "DISTINCT — each same_as triple fills both slots "
                     "of its object's group, no self-join"),
    ("kg_bgp_minus", "SPARQL MINUS as a BroadcastHashJoin LeftAnti "
                     "on the shared variable"),
    ("kg_bgp_groupagg", "SPARQL GROUP BY + HAVING: partial+final "
                        "HashAggregate over the binding set — never "
                        "a window"),
    ("kg_bgp_union", "SPARQL UNION: zero-shuffle Union of the branch "
                     "join trees + one DISTINCT"),
    ("kg_bgp_subquery", "SPARQL nested SELECT: the inner aggregate "
                        "tree correlation-joined into the outer BGP "
                        "(AQE broadcasts the tiny aggregated side)"),
    ("kg_path_bounded", "bounded property path: per-hop frontier "
                        "equi-join + seen-pair anti-join, lineage "
                        "truncated per hop"),
    ("kg_path_seq", "sequence path: one pred-pushed equi-join per step, "
                    "inverse step as a projection swap"),
    ("kg_construct_rule", "CONSTRUCT: body match (one hub shuffle for "
                          "this chain) + constant-width head projection"),
    ("kg_export_ntriples", "N-Triples sink: codegen'd string expressions "
                           "off the scan, label leg one distinct"),
    ("kg_rdfs_entail", "RDFS entailment: the ontology compiled into "
                       "literal map lookups — ONE Generate over ONE "
                       "instance scan, the only exchanges the final "
                       "distinct + derived-only anti-join"),
    ("kg_update_rename", "SPARQL Update: shared BGP match, 3-tuple "
                         "anti-join for the delete, anti-join + union "
                         "for the set-semantic insert"),
    ("kg_shacl_validate", "SHACL shapes: pred-pushed scans + per-focus "
                          "hash aggregates, min+max on one path share "
                          "a single count"),
    ("kg_rules_program", "Datalog program fixpoint: semi-naive rounds "
                         "already materialized — the final plan is the "
                         "derived-facts union + known-facts anti-join"),
    ("kg_bgp_graph", "named-graph BGP: both patterns pred-pushed, "
                     "joined on (?j, ?g) — the graph term is one more "
                     "equi-join key, no new shuffle shape"),
    ("kg_rules_incremental", "insert-only Datalog maintenance: batch-2 "
                             "facts delta-pinned into every body "
                             "position, store scanned pred-pushed but "
                             "never shuffled"),
    ("kg_rules_retract", "DRed: over-delete legs delta-pinned on the "
                         "deletion set, one survivor rematch restricted "
                         "to endangered heads, semi-naive re-admission"),
    ("kg_rules_stratified", "stratified negation: stratum 0's semi-naive "
                            "fixpoint, then stratum 1's MINUS as one "
                            "anti-join against the frozen lower store"),
    ("kg_rules_aggregate", "stratified aggregation: recursive closure, "
                           "then one partial+final hash aggregate in its "
                           "own stratum, cast into the store"),
    ("kg_shortest_paths", "frontier-pruned Bellman-Ford: one equi-join "
                          "+ min HashAggregate + improvement anti-fold "
                          "per relaxation round"),
    ("kg_harmonic_centrality",
     "per-landmark BFS frontier joins + one integer-scaled harmonic "
     "aggregate (landmark sampling, not all-pairs)"),
    ("kg_katz", "truncated Katz recurrence: one edge equi-join + "
                "grouped sum per round, no outflow normalization"),
    ("kg_community_quality", "LPA labels + integer-scaled modularity "
                             "terms: three keyed aggregates, 1-row "
                             "broadcast m"),
    ("kg_label_propagation", "seeded sync rounds: neighbour-label "
                             "count + per-node argmax window + seed "
                             "anti-join per round"),
    ("skyline_docs", "range-bucketed strict-prefix max + tie groupBy "
                     "— no dominance self-join, no global window"),
    ("kg_media_align", "sort-merge as-of: two per-doc windows over "
                       "the unioned offset stream"),
    ("kg_components_incremental",
     "incremental WCC: two label equi-joins lift the delta to a tiny "
     "component graph, CC solves it, one broadcast remap rebases"),
    ("kg_biased_walks", "second-order frontier weighting: adjacency "
                        "join + LEFT edge-membership join + two-level "
                        "weighted-interval pick per step, no wedge "
                        "materialization"),
    ("kg_butterflies", "hub-capped per-doc pair self-join + C(co,2) "
                       "wedge fold — exact bipartite butterfly census, "
                       "no window, no double division"),
    ("kg_link_prediction", "degree-filtered bipartite pair join + one "
                           "grouped CN/RA aggregate + two broadcast "
                           "marginal joins"),
    ("kg_eccentricity", "per-landmark BFS reused under MAX/COUNT "
                        "aggregation (eccentricity lower bounds + "
                        "coverage)"),
    ("kg_rules_goal", "goal-directed program query: only the goal's "
                      "backward-reachable rules materialize, then one "
                      "goal match"),
    ("kg_rules_stratified_maintain",
     "signed-delta stratified maintenance: diff-pinned endangered legs "
     "per polarity, one survivor rematch per changed stratum, "
     "insert/delete pairs cancelled between strata"),
    ("kg_update_maintain", "DELETE/INSERT with view maintenance: DRed "
                           "for the delete half, delta-pinned insertion "
                           "fold for the insert half"),
    ("kg_graph_diff", "snapshot audit: one anti-join per direction on "
                      "distinct 3-tuples"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import queries

    spark = get_spark(master="local[8]", app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical plans of the headline queries",
           "",
           f"Generated by `python tools/plan_report.py {sf_dir}`; the",
           "properties asserted in `tests/test_plan_audit.py` are visible",
           "here (PushedFilters, ReadSchema pruning, BroadcastHashJoin,",
           "TakeOrderedAndProject, exchange counts).", ""]
    for name, why in SHOW:
        df = queries.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*{why}*", "", "```",
                buf.getvalue().rstrip(), "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOW)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
