"""Checkpointed resume with per-partition lineage (north_rule requirement).

The corpus is processed in doc-id hash buckets.  Each completed bucket
appends (a) its records under ``records/bucket=<k>/`` and (b) a ledger row
``(bucket, status, n_docs, n_records, span_checksum, wall_ms)``.  A restart
anti-joins pending buckets against the ledger and recomputes nothing that
finished — the driver-side loop is per-*bucket* (hundreds at 100 TB), never
per-row, and each bucket is a fully distributed job.

This is deliberately not Structured Streaming: the reference is strictly
batch (SURVEY.md §2.8) and bucket-level idempotent restart is the
checkpoint model that matches Iceberg-partitioned batch jobs (atomic
replace of one partition per bucket).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as ops

LEDGER_NAME = "_ledger"


def _ledger_path(out_path: str) -> str:
    return os.path.join(out_path, LEDGER_NAME)


def completed_buckets(out_path: str) -> dict[int, dict]:
    """Read the ledger (driver-side: one tiny JSON line per bucket)."""
    path = _ledger_path(out_path)
    done: dict[int, dict] = {}
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".json"):
                with open(os.path.join(path, f)) as fh:
                    row = json.load(fh)
                if row.get("status") == "done":
                    done[row["bucket"]] = row
    return done


def _write_ledger_row(out_path: str, row: dict) -> None:
    path = _ledger_path(out_path)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".bucket_{row['bucket']:05d}.tmp")
    final = os.path.join(path, f"bucket_{row['bucket']:05d}.json")
    with open(tmp, "w") as fh:
        json.dump(row, fh)
    os.rename(tmp, final)  # atomic commit of the bucket's lineage


def run_with_resume(corpus: DataFrame, out_path: str, n_buckets: int = 8,
                    fail_after: int | None = None,
                    tasks_per_core: int = 2) -> list[int]:
    """Process corpus → records parquet bucket-by-bucket with resume.

    Each bucket job repartitions ITS OWN slice to ``tasks_per_core`` tasks
    per core before the Arrow stage: without this, every bucket job
    inherits the full corpus partitioning and runs all N splits on 1/K of
    the docs — a few docs per task, where the Python-worker round-trip
    overhead dominates (measured 2.4x at 32 cores; see BENCH.md).  The
    per-bucket shuffle moves only that bucket's docs and is the standard
    cost of partition-atomic writes.

    ``fail_after`` aborts after K buckets (test hook for kill/restart).
    Returns the bucket ids processed in this run.
    """
    done = completed_buckets(out_path)
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return []   # fully-resumed re-submit: no sizing pass, no work
    processed: list[int] = []
    cores = corpus.sparkSession.sparkContext.defaultParallelism
    # split sizing: never more splits than ~64 docs/task can fill — a
    # bucket smaller than the cluster runs on fewer tasks rather than
    # paying 32 empty Python-worker round trips.  This is one count() pass
    # over the corpus plan (a metadata read on a bare parquet/Iceberg
    # scan); it only runs when buckets are pending.
    est_bucket_docs = max(1, corpus.count() // n_buckets)
    n_splits = max(1, min(cores * tasks_per_core, est_bucket_docs // 64 or 1))
    bucketed = corpus.withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
    for b in pending:
        t0 = time.time()
        recs = ops.extract_records(
            bucketed.filter(F.col("_bucket") == b).drop("_bucket")
            .repartition(n_splits, "doc_id"))
        part_path = os.path.join(out_path, "records", f"bucket={b}")
        recs.write.mode("overwrite").parquet(part_path)
        spark = corpus.sparkSession
        written = spark.read.parquet(part_path)
        stats = written.agg(
            F.count("*").alias("n_records"),
            F.sum((F.col("rec_type") == "doc").cast("int")).alias("n_docs"),
            F.sum(F.when(F.col("rec_type") == "doc",
                         F.crc32(F.to_json("spans"))).otherwise(0))
            .alias("span_checksum"),
            # monitoring metric, not a correctness gate (SURVEY.md §2.4):
            # HLL sketch of distinct triple objects per bucket — a cheap
            # drift signal (a bucket whose distinct-entity count collapses
            # or explodes flags tagger/corpus anomalies at 100 TB without
            # a distinct-count shuffle)
            F.approx_count_distinct(
                F.when(F.col("rec_type") == "triple", F.col("obj")))
            .alias("approx_distinct_objs")).collect()[0]
        _write_ledger_row(out_path, {
            "bucket": b, "status": "done",
            "n_docs": int(stats.n_docs or 0),
            "n_records": int(stats.n_records or 0),
            "span_checksum": int(stats.span_checksum or 0),
            "approx_distinct_objs": int(stats.approx_distinct_objs or 0),
            "wall_ms": int((time.time() - t0) * 1000),
        })
        processed.append(b)
        if fail_after is not None and len(processed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
    return processed


def read_all_records(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", os.path.join(out_path, "records")) \
        .parquet(os.path.join(out_path, "records"))
