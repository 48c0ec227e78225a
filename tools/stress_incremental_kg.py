"""Volume evidence for the incremental-KG claim: per-batch ingest cost
must stay O(batch) while the published corpus grows — previous batch
tables are carried by reference, and the degree fold touches only the
(small) stats table plus the delta.

Runs N sequential batch ingests of equal size, reports each batch's
wall; then one compaction; then verifies the final reader view equals a
full recompute over everything.  A growing per-batch wall would falsify
the append-only design.

Usage: python tools/stress_incremental_kg.py [n_batches] [docs_per_batch]
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import synth
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.plans import publish
    from jobs.incremental_kg import (ingest_batch, read_triples, compact,
                                     triple_degrees)

    spark = get_spark(app_name="stress-incremental-kg", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="lns_ikg_") + "/kg"

    full = synth.synthetic_corpus(spark, n_batches * per,
                                  partitions=128).cache()
    full.count()
    ids = sorted(r.doc_id for r in full.select("doc_id").collect())
    walls = []
    for b in range(n_batches):
        lo, hi = ids[b * per], ids[min((b + 1) * per, len(ids)) - 1]
        batch = full.filter((full.doc_id >= lo) & (full.doc_id <= hi))
        t0 = time.time()
        ingest_batch(spark, root, batch, f"day{b:03d}")
        walls.append(round(time.time() - t0, 2))
    t0 = time.time()
    compact(spark, root, "compacted")
    compact_s = round(time.time() - t0, 2)
    publish.vacuum(root)

    got = read_triples(spark, root).count()
    want = ops.triples(ops.extract_records(full)).count()
    deg_inc = {r.node: (r.out_degree, r.in_degree)
               for r in publish.read_published(
                   spark, root, "kg_degrees").collect()}
    deg_full = {r.node: (r.out_degree, r.in_degree)
                for r in triple_degrees(
                    ops.triples(ops.extract_records(full))).collect()}
    half = n_batches // 2
    drift = (sum(walls[half:]) / (n_batches - half)) / \
            (sum(walls[1:half]) / (half - 1))
    out = {"n_batches": n_batches, "docs_per_batch": per,
           "batch_walls_s": walls,
           "late_vs_early_wall_ratio": round(drift, 3),
           "compact_s": compact_s,
           "triples_match_full_recompute": got == want,
           "degrees_match_full_recompute": deg_inc == deg_full,
           "n_triples": got}
    print(json.dumps(out))
    assert got == want and deg_inc == deg_full
    assert drift < 1.5, "per-batch ingest wall grew with corpus size"
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
