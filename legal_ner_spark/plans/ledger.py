"""Checkpointed resume with per-partition lineage (north_rule requirement).

The corpus is processed in doc-id hash buckets.  One run writes every
pending bucket in one Spark write under ``records/bucket=<k>/``, reads it
back once, then commits one ledger row ``(bucket, status, n_docs,
n_records, span_checksum, approx_distinct_objs, wall_ms)`` per bucket.
A restart skips the buckets with a row: the row is the unit of resume,
while a crash before a run's last row recomputes every bucket that run
had pending.

This is deliberately not Structured Streaming: the reference is strictly
batch (SURVEY.md §2.8) and bucket-level idempotent restart is the
checkpoint model that matches Iceberg-partitioned batch jobs (atomic
replace of the written partitions).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import extract as ops
from ..schema import RECORDS_SCHEMA

LEDGER_NAME = "_ledger"
_BUCKETED_RECORDS = T.StructType(
    RECORDS_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())])


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
    """Process corpus → records parquet, resumable per bucket.

    Four Spark jobs for any number of buckets, five once ``records/``
    holds more than 32 bucket directories (Spark then lists files in a
    job).  One scan of the pending buckets is extracted on its own
    splits, rebalanced by bucket (AQE merges small buckets into one
    write task and splits large ones) and written with dynamic partition
    overwrite.  One grouped read-back gives the counters.  Rows commit in
    bucket order (a zero row for an empty bucket); ``wall_ms`` is the
    wall time of the run that committed the row.

    ``fail_after`` raises once K rows are committed (test hook for
    kill/restart).  ``tasks_per_core`` sizes nothing and is kept for
    callers.  Returns the bucket ids processed in this run.
    """
    done = completed_buckets(out_path)
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return []   # fully-resumed re-submit: no work
    t0 = time.time()
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    if len(pending) < n_buckets:
        corpus = corpus.filter(bucket.isin(pending))
    (ops.extract_records(corpus).withColumn("bucket", bucket)
     .hint("rebalance", "bucket").write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(os.path.join(out_path, "records")))

    written = read_all_records(corpus.sparkSession, out_path).filter(
        F.col("bucket").isin(pending))
    is_doc = F.col("rec_type") == "doc"
    stats = {r.bucket: r for r in written.groupBy("bucket").agg(
        F.count("*").alias("n_records"),
        F.sum(is_doc.cast("int")).alias("n_docs"),
        F.sum(F.when(is_doc, F.crc32(F.to_json("spans"))).otherwise(0))
        .alias("span_checksum"),
        # monitoring metric, not a correctness gate (SURVEY.md §2.4): HLL
        # of distinct triple objects, a cheap per-bucket drift signal
        F.approx_count_distinct(
            F.when(F.col("rec_type") == "triple", F.col("obj")))
        .alias("approx_distinct_objs")).collect()}
    wall_ms = int((time.time() - t0) * 1000)
    for i, b in enumerate(pending, 1):
        s = stats.get(b)
        _write_ledger_row(out_path, {
            "bucket": b, "status": "done",
            **{k: int(s[k] or 0) if s else 0 for k in (
                "n_docs", "n_records", "span_checksum",
                "approx_distinct_objs")},
            "wall_ms": wall_ms})
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
    return pending


def read_all_records(spark: SparkSession, out_path: str) -> DataFrame:
    """Every written record plus its ``bucket`` partition column.  The
    schema is given, not inferred: no footer-probing job, and a run that
    wrote no partition reads as an empty table."""
    return spark.read.schema(_BUCKETED_RECORDS) \
        .option("basePath", os.path.join(out_path, "records")) \
        .parquet(os.path.join(out_path, "records"))
