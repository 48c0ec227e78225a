"""Volume stress for INCREMENTAL dedup: build the frozen-keeper index on
half a worst-case template corpus, append the other half — the per-batch
ingestion cost that replaces a full-corpus recompute.  Runs in its own
session (the verify tier of a worst-case corpus is memory-hungry; don't
inherit another stress phase's heap).

Usage: python tools/stress_incremental.py [n_docs] [threshold]
"""
from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> None:
    from legal_ner_spark.session import get_spark
    from pyspark.sql import functions as F
    from legal_ner_spark import synth
    from legal_ner_spark.operators import dedup
    from legal_ner_spark.operators.extract import TEXT_ASSEMBLY_EXPR

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 65536
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    spark = get_spark(master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = synth.synthetic_corpus(spark, n, partitions=max(64, n // 256))
    docs = corpus.select(
        "doc_id",
        F.coalesce(F.expr(TEXT_ASSEMBLY_EXPR), F.lit("")).alias("text"))
    docs.cache()
    print(f"corpus: {docs.count()} docs")

    b1 = docs.filter("pmod(xxhash64(doc_id), 2) = 0")
    b2 = docs.filter("pmod(xxhash64(doc_id), 2) = 1")
    path = tempfile.mkdtemp(prefix="dedup_idx_stress_")
    t0 = time.time()
    dedup.dedup_index_build(b1, path, threshold=threshold, mode="scale",
                            max_bucket=256)
    t_build = time.time() - t0
    t0 = time.time()
    out = dedup.dedup_index_append(b2, path, threshold=threshold,
                                   mode="scale")
    n2 = out.count()
    t_app = time.time() - t0
    print(f"index build({n - n2}): {t_build:.1f}s; append({n2}): "
          f"{t_app:.1f}s ({n2 / t_app:.0f} docs/s incremental)")
    spark.stop()


if __name__ == "__main__":
    main()
