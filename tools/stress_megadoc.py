"""Mega-judgment Arrow-batch stress (VERDICT r3 ask #8, SURVEY §7.3):
plant ONE multi-MB judgment in an otherwise ordinary corpus and measure
whether the fused extraction stage survives it without a straggler
tail.

The hazard: extraction is a narrow mapInArrow stage, so one pathological
document is one task's problem — if its per-doc cost exceeds the whole
rest of the stage, the stage wall becomes that single task (straggler),
and its Arrow batch must also fit in worker memory.

Method: three timed runs (after a warm-up) —
  base   : N synthetic docs
  solo   : ONLY the mega doc (isolates its single-task cost)
  mixed  : N docs + the mega doc
A healthy stage shows wall(mixed) ≈ max(wall(base), wall(solo)) + ε:
the mega doc overlaps the other 31 cores' work instead of serializing
after it.  The tool asserts wall(mixed) < wall(base) + wall(solo)
(strict serialization would be ~the sum) and prints one JSON line.

Usage: python tools/stress_megadoc.py [n_docs] [mega_mb]
"""
from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import synth
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.schema import CORPUS_SCHEMA

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    mega_mb = float(sys.argv[2]) if len(sys.argv) > 2 else 6.0
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # the mega judgment: a realistic repeating body (sentences, statute
    # and precedent mentions that exercise the postprocessing joins) —
    # one doc of ~mega_mb MB
    para = ("The appellant was convicted under Section 302 of the Indian "
            "Penal Code and the conviction was upheld. In Suresh Kumar "
            "vs State of Haryana 1998 AIR 233 the Supreme Court held that "
            "the prosecution must prove the chain of circumstances. The "
            "Motor Vehicles Act, 1988 does not apply here. ")
    reps = max(1, int(mega_mb * 1024 * 1024 / len(para)))
    mega_text = ("IN THE SUPREME COURT OF INDIA\n"
                 "Suresh Kumar vs State of Haryana\nJUDGMENT\n"
                 + para * reps)
    mega = spark.createDataFrame(
        [("mega_doc", [{"kind": "text", "text": mega_text,
                        "media_ref": None, "offset": 0}])], CORPUS_SCHEMA)

    base = synth.synthetic_corpus(spark, n_docs, partitions=64)

    def wall(corpus):
        t0 = time.time()
        n = ops.extract_records(corpus).count()
        return time.time() - t0, n

    wall(synth.synthetic_corpus(spark, 512, partitions=16))  # warm-up
    t_base, n_base = wall(base)
    t_solo, n_solo = wall(mega)
    t_mixed, n_mixed = wall(base.unionByName(mega))

    out = {
        "n_docs": n_docs,
        "mega_chars": len(mega_text),
        "mega_mb": round(len(mega_text) / 1048576, 2),
        "wall_base_s": round(t_base, 1),
        "wall_mega_solo_s": round(t_solo, 1),
        "wall_mixed_s": round(t_mixed, 1),
        "overlap_ok": t_mixed < t_base + t_solo,
        "straggler_tail_s": round(max(0.0, t_mixed - max(t_base, t_solo)),
                                  1),
        "records_base": n_base, "records_mega": n_solo,
        "records_mixed": n_mixed,
    }
    assert n_mixed == n_base + n_solo, out
    assert out["overlap_ok"], out
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
