"""Volume stress for the near-dup tier: synthesize N template-generated
docs (a WORST-CASE corpus: every doc is topically similar to every other,
J≈0.2-0.3 across the board — exactly the shape that explodes an r=1
banding) and time the production dedup paths end-to-end.

Usage: python tools/stress_dedup.py [n_docs] [threshold]
"""
from __future__ import annotations

import sys
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

    t0 = time.time()
    keep = (dedup.near_dedup(docs, threshold=threshold, mode="scale")
            .filter("doc_id = keeper_doc_id").count())
    dt = time.time() - t0
    print(f"near_dedup(scale): {n} -> {keep} keepers in {dt:.1f}s "
          f"({n / dt:.0f} docs/s)")

    t0 = time.time()
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3).count()
    dt = time.time() - t0
    print(f"simhash pairs (hamming<=3): {pairs} in {dt:.1f}s "
          f"({n / dt:.0f} docs/s)")

    spark.stop()




def passages(n: int = 65536) -> None:
    """Volume stress for duplicate_passages on the template worst case
    (every doc shares boilerplate with every other — duplicated-shingle
    volume ~= total occurrence volume, the adversarial shape for the
    re-join stage).  Usage: python tools/stress_dedup.py passages [n]."""
    from legal_ner_spark.session import get_spark
    from pyspark.sql import functions as F
    from legal_ner_spark import synth
    from legal_ner_spark.operators import dedup
    from legal_ner_spark.operators.extract import TEXT_ASSEMBLY_EXPR

    spark = get_spark(master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = synth.synthetic_corpus(spark, n, partitions=max(64, n // 256))
    docs = corpus.select(
        "doc_id",
        F.coalesce(F.expr(TEXT_ASSEMBLY_EXPR), F.lit("")).alias("text"))
    docs.cache()
    print(f"corpus: {docs.count()} docs")
    t0 = time.time()
    out = dedup.duplicate_passages(docs, n=8, min_docs=2)
    spans, shingles = out.agg(
        F.count("*"), F.sum("n_dup_shingles")).collect()[0]
    dt = time.time() - t0
    print(f"duplicate_passages: {spans} spans / {shingles} dup shingles "
          f"over {n} docs in {dt:.1f}s ({n / dt:.0f} docs/s)")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "passages":
        passages(int(sys.argv[2]) if len(sys.argv) > 2 else 65536)
    else:
        main()
