"""10× scale anchor for extraction (r5): the largest committed
extraction run was 65,536 docs — this tool runs the same fused
read → extract → triples job a measured DECADE up (default 655,360
synthetic docs, same generator, so the corpus scales by construction)
at local[32], plus the production resume-ledgered variant
(plans/ledger.run_with_resume) at the same N, and records:

- docs/s of the fused pipeline (comparable to the headline bench row);
- wall + per-bucket ledger stats of the ledgered bucket-atomic run
  (n_records / span checksums / HLL drift metric per bucket — the
  restart-without-recompute bookkeeping at this N);
- peak memory: VmHWM summed over the whole process tree (driver
  python, JVM, pyspark daemon + workers) read from /proc at exit.

Usage: python tools/anchor_extraction_10x.py [n_docs] [n_buckets]
Prints one JSON line; committed as BENCH_ANCHOR_10X.json + a BENCH.md row.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def _tree_peak_rss_mb() -> int:
    """Sum VmHWM (peak RSS) over this process and every descendant."""
    me = os.getpid()
    ppid, hwm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh
                              if ":" in line)
            ppid[int(d)] = int(fields.get("PPid", "0").strip())
            kb = fields.get("VmHWM", "0 kB").strip().split()[0]
            hwm[int(d)] = int(kb)
        except (OSError, ValueError):
            continue

    def mine(pid: int) -> bool:
        seen = set()
        while pid and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = ppid.get(pid, 0)
        return False

    return sum(kb for pid, kb in hwm.items() if mine(pid)) // 1024


def main() -> None:
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import synth
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.plans import ledger

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 655360
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    tmp = tempfile.mkdtemp(prefix="anchor10x_")
    spark = get_spark(master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = f"{tmp}/corpus"
    t0 = time.time()
    synth.synthetic_corpus(spark, n_docs, partitions=256) \
        .write.mode("overwrite").parquet(corpus_path)
    t_gen = time.time() - t0

    corpus = spark.read.parquet(corpus_path).repartition(256, "doc_id")
    # warm every Python worker (import + regex compile) outside the
    # measured run, same protocol as bench_scaling_cluster.py
    ops.extract_records(corpus.sample(0.01, seed=7)).count()

    t0 = time.time()
    n_triples = ops.triples(ops.extract_records(corpus)).count()
    wall = time.time() - t0

    out = f"{tmp}/ledgered"
    t0 = time.time()
    done = ledger.run_with_resume(corpus, out, n_buckets=n_buckets)
    wall_ledger = time.time() - t0
    rows = ledger.completed_buckets(out)
    n_records = sum(r["n_records"] for r in rows.values())
    ledger_docs = sum(r["n_docs"] for r in rows.values())
    # resume property at this N: an immediate re-submit must be a no-op
    t0 = time.time()
    again = ledger.run_with_resume(corpus, out, n_buckets=n_buckets)
    t_resubmit = time.time() - t0

    print(json.dumps({
        "n_docs": n_docs,
        "gen_wall_s": round(t_gen, 1),
        "fused_wall_s": round(wall, 1),
        "docs_per_sec": round(n_docs / wall, 1),
        "n_triples": int(n_triples),
        "ledgered_wall_s": round(wall_ledger, 1),
        "ledgered_docs_per_sec": round(n_docs / wall_ledger, 1),
        "ledger_buckets": len(done),
        "ledger_n_docs": ledger_docs,
        "ledger_n_records": n_records,
        "resubmit_noop_s": round(t_resubmit, 2),
        "resubmit_processed": len(again),
        "peak_tree_rss_mb": _tree_peak_rss_mb(),
    }))
    spark.stop()
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
