"""Corpus source/sink abstraction — Iceberg in production, parquet in the
sandbox, one code path.

Production layout (north_rule):
* corpus:   Iceberg table ``(doc_id string, spans array<...>)`` partitioned
  by ``bucket(N, doc_id)`` — scan splits are balanced by construction and
  partition pruning serves the resume path.
* records:  Iceberg table partitioned by ``(rec_type, bucket(M, doc_id))``
  — every downstream view is a partition-pruned read.
* triples:  Iceberg table partitioned by ``pred`` (graph table).

The sandbox has no Iceberg catalog; ``format='parquet'`` reproduces the
same layout with directory partitioning.  Switching is one argument — no
operator changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import publish
from ..schema import CORPUS_SCHEMA


def read_corpus(spark: SparkSession, location: str,
                fmt: str = "parquet") -> DataFrame:
    """Load the corpus.  ``location`` is a path (parquet) or a catalog
    table name (iceberg)."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    return spark.read.schema(CORPUS_SCHEMA).parquet(location)


def write_corpus(df: DataFrame, location: str, fmt: str = "parquet") -> None:
    """Both branches are IDEMPOTENT full replaces — a re-run after a
    downstream failure must not double the table.  Bucket partitioning on
    Iceberg comes from the table DDL (CREATE TABLE ... PARTITIONED BY
    (bucket(N, doc_id))); createOrReplace/overwritePartitions respect it.
    Incremental appends are the ledger's job (bucket-atomic), not this
    whole-table writer's."""
    if fmt == "iceberg":
        df.writeTo(location).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(location)


def write_records(records: DataFrame, location: str,
                  fmt: str = "parquet") -> None:
    """Materialize the records table partitioned by rec_type (+ doc bucket
    on Iceberg) — every projection in operators/extract.py becomes a
    partition-pruned scan (verified via explain: PartitionFilters on
    rec_type, see BENCH.md).  Idempotent replace on both branches."""
    if fmt == "iceberg":
        records.writeTo(location).overwritePartitions()
    else:
        records.write.mode("overwrite").partitionBy("rec_type").parquet(location)


def write_triples(triples: DataFrame, location: str,
                  fmt: str = "parquet") -> None:
    """The KG graph table, partitioned by predicate.  Idempotent replace.

    The parquet branch also stores the table's ``{pred: rows}`` in
    ``_pred_counts.json`` at its root (`plans/publish.py`), summed from
    the footer row counts under each ``pred=`` directory on the driver —
    no extra Spark job — so BGP readers of the whole table skip the
    count probe.  Order: stale counts dropped → data → counts."""
    if fmt == "iceberg":
        triples.writeTo(location).overwritePartitions()
    else:
        publish.drop_pred_counts(location)
        triples.write.mode("overwrite").partitionBy("pred").parquet(location)
        publish.write_pred_counts(location,
                                  publish.footer_pred_counts(location))


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 16) -> None:
    """Bucketed, sorted table for co-located joins: two tables bucketed the
    same way join with NO exchange (Iceberg equivalent: bucket(N, col)
    partition transform + storage-partitioned joins).  This is how the
    100 TB mentions↔triples joins avoid reshuffling the big side."""
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
     .saveAsTable(table))


def write_corpus_jsonl(df: DataFrame, location: str,
                       compression: str | None = "gzip") -> None:
    """JSONL sink — the interchange format training corpora actually
    arrive in.  One JSON object per line with the spans array inline;
    gzip per part file by default (JSONL's usual wire form; splittable
    ingestion comes from many part files, not from the codec).
    Idempotent full replace like the other whole-table writers."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(location)


def read_corpus_jsonl(spark: SparkSession, location: str,
                      strict: bool = True) -> DataFrame:
    """JSONL source with the corpus schema PINNED — schema inference
    over 10^12 lines is both a full extra pass and a drift hazard (one
    malformed file would silently widen a column for the whole job).
    ``strict`` uses FAILFAST (corrupt line = loud error at the scan);
    ``strict=False`` uses PERMISSIVE, turning bad lines into nulls for
    quarantine-style ingestion."""
    mode = "FAILFAST" if strict else "PERMISSIVE"
    return (spark.read.schema(CORPUS_SCHEMA)
            .option("mode", mode).json(location))
