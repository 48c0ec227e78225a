"""spark-submit entry point for INCREMENTAL KG construction: ingest one
batch of interleaved documents, extract its triples, and publish a new
atomic snapshot in which

  - every PREVIOUS batch's triple table is carried BY REFERENCE
    (immutable ``snap=`` dirs — the new snapshot re-points at them, so
    an ingest writes O(batch), never O(corpus): the append-only Iceberg
    shape over the existing manifest machinery);
  - the small ``kg_degrees`` stats table is maintained INCREMENTALLY —
    one aggregate sums the previous degrees with the batch's degree
    rows, with no join and no recompute from the corpus (equivalence to
    full recompute is pinned by tests/test_incremental_kg.py);
  - the batch is EXTRACTED ONCE: its triple table is written first,
    its predicate counts ride that write as observed metrics, and the
    degree delta is computed from the written table, never by
    re-running extraction;
  - every triple table carries its ``{pred: rows}`` counts in
    ``_pred_counts.json`` (`plans/publish.py`), so a reader of
    ``read_triples`` plans its joins without a count probe;
  - writes go data → counts → ``kg_degrees`` → manifest flip, and the
    flip stays the single commit point: a reader sees the old corpus
    until the instant the new one is complete, and a crash mid-ingest
    leaves the published snapshot untouched (resume = re-run the same
    --snapshot-id, which is idempotent: a replay of the CURRENT
    snapshot's id reuses its batch-table name instead of minting a new
    one).

Cluster usage:

    zip -r legal_ner_spark.zip legal_ner_spark
    spark-submit --py-files legal_ner_spark.zip jobs/incremental_kg.py \
        --corpus <parquet dir of (doc_id, spans)> \
        --root <publish root> --snapshot-id 2026-08-17 [--vacuum]

Local usage: ``python jobs/incremental_kg.py --corpus … --root …
--snapshot-id …`` (``--master`` defaults to ``local[*]``).  Run this way,
``session.get_spark`` launches the driver JVM itself and maps the
class-data-sharing archive in ``~/.cache/legal_ner_spark`` (the first such
run on a host records it as the JVM exits) and starts the Python workers
from compiled pyspark bytecode kept there, which cuts the fixed start-up
cost that sits beside each batch; it also puts the repo on the workers'
``PYTHONPATH``, so the job runs from any directory.  Under ``spark-submit``
the driver JVM already runs, so ``get_spark`` leaves it untouched.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from legal_ner_spark.core.extract import PREDICATES  # noqa: E402
from legal_ner_spark.operators import extract as ops  # noqa: E402
from legal_ner_spark.plans import publish  # noqa: E402
from legal_ner_spark.schema import TRIPLES_SCHEMA  # noqa: E402

_BATCH_PREFIX = "triples_b"

DEGREES_SCHEMA = "node string, out_degree bigint, in_degree bigint"


def degree_rows(triples: DataFrame) -> DataFrame:
    """One degree contribution row per triple end: ``(subj, 1, 0)`` and
    ``(obj, 0, 1)``, in the ``kg_degrees`` schema."""
    one, zero = F.lit(1).cast("bigint"), F.lit(0).cast("bigint")
    ends = F.array(
        F.struct(F.col("subj").alias("node"), one.alias("out_degree"),
                 zero.alias("in_degree")),
        F.struct(F.col("obj").alias("node"), zero.alias("out_degree"),
                 one.alias("in_degree")))
    return triples.select(F.explode(ends).alias("e")).select("e.*")


def sum_degrees(rows: DataFrame) -> DataFrame:
    """Sum degree rows per node.  A ``kg_degrees`` table is itself a set
    of degree rows, so summing the union of the published table with a
    batch's rows equals a recompute over the whole corpus."""
    return rows.groupBy("node").agg(
        F.sum("out_degree").alias("out_degree"),
        F.sum("in_degree").alias("in_degree"))


def triple_degrees(triples: DataFrame) -> DataFrame:
    """(node, out_degree, in_degree) over one triple set."""
    return sum_degrees(degree_rows(triples))


def read_batches(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Batch triple tables as ONE pinned-schema parquet relation: no
    schema-inference job, and a bare scan whose stored predicate counts
    `kgquery` reads instead of probing."""
    return spark.read.schema(TRIPLES_SCHEMA).parquet(*paths)


def read_triples(spark: SparkSession, root: str) -> DataFrame:
    """Every published batch table — the reader's view of the whole
    triple corpus, submitting no Spark job."""
    man = publish.current_manifest(root)
    if man is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    paths = [p for t, p in sorted(man["tables"].items())
             if t.startswith(_BATCH_PREFIX)]
    if not paths:
        raise FileNotFoundError(f"no {_BATCH_PREFIX}* tables under {root}")
    return read_batches(spark, paths)


def ingest_batch(spark: SparkSession, root: str, corpus: DataFrame,
                 snapshot_id: str) -> dict:
    """Extract one batch and publish the next snapshot.  Returns the new
    manifest.

    The extraction runs once, into the batch triple table.  Its
    predicate counts (stored beside it) are observed metrics of that
    write, and the ``kg_degrees`` delta is computed from the written
    table.  Write order: batch data → counts → ``kg_degrees`` →
    manifest flip."""
    man = publish.current_manifest(root)
    prev_batches = sorted(
        t for t in (man["tables"] if man else {})
        if t.startswith(_BATCH_PREFIX))
    replay = man is not None and man.get("snapshot") == snapshot_id
    if replay:
        # replay of the current snapshot (crash after flip, rerun):
        # rewrite ITS batch table instead of minting a new one
        bname, carried = prev_batches[-1], prev_batches[:-1]
    else:
        bname = f"{_BATCH_PREFIX}{len(prev_batches):05d}"
        carried = prev_batches
    carry = {t: man["tables"][t] for t in carried} if man else {}

    bpath = os.path.join(root, bname, f"snap={snapshot_id}")
    publish.drop_pred_counts(bpath)
    # the write has no shuffle, so the observation runs in its result
    # stage, where Spark applies each task's update exactly once
    obs = Observation()
    ops.triples(ops.extract_records(corpus)).observe(
        obs, F.count(F.lit(1)).alias("_rows"),
        *[F.count_if(F.col("pred") == p).alias(p) for p in PREDICATES]
    ).write.mode("overwrite").parquet(bpath)
    counts = dict(obs.get)
    n_rows = counts.pop("_rows")
    counts = {p: n for p, n in counts.items() if n}
    tri = read_batches(spark, [bpath])
    if sum(counts.values()) != n_rows:
        # a null or foreign predicate: count the written table
        counts = publish.count_preds(tri)
    publish.write_pred_counts(bpath, counts)

    rows = degree_rows(tri)
    if replay and carried:
        # the degrees of the snapshot BEFORE the replayed one, recomputed
        # from the carried batches
        rows = rows.unionByName(
            degree_rows(read_batches(spark, list(carry.values()))))
    elif not replay and man is not None:
        rows = rows.unionByName(spark.read.schema(DEGREES_SCHEMA).parquet(
            man["tables"]["kg_degrees"]))
    new_deg = sum_degrees(rows)
    return publish.publish_tables(
        {"kg_degrees": new_deg}, root, snapshot_id,
        carry={**carry, bname: bpath})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True,
                    help="parquet dir of (doc_id, spans) documents")
    ap.add_argument("--root", required=True, help="publish root")
    ap.add_argument("--snapshot-id", required=True)
    ap.add_argument("--vacuum", action="store_true",
                    help="GC unreachable snapshots after the flip")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args()

    from legal_ner_spark.session import get_spark
    spark = get_spark(app_name="incremental-kg", master=args.master)
    corpus = spark.read.parquet(args.corpus)
    man = ingest_batch(spark, args.root, corpus, args.snapshot_id)
    print(f"published snapshot {man['snapshot']}: "
          f"{sorted(man['tables'])}")
    if args.vacuum:
        removed = publish.vacuum(args.root)
        print(f"vacuumed: {removed}")
    spark.stop()


if __name__ == "__main__":
    main()


def compact(spark: SparkSession, root: str, snapshot_id: str) -> dict:
    """Compact the accumulated per-batch triple tables into ONE table —
    the Iceberg 'rewrite data files' maintenance move: reader cost is
    O(tables) per query, so after many small ingests a compaction pass
    rewrites the union once and re-publishes.  The manifest flip is
    still the commit point (readers see either all batches or the one
    compacted table, never a mix), old snapshots stay readable until
    vacuum, and the small kg_degrees table is carried BY REFERENCE —
    compaction rewrites bytes, it must not change any answer.  Write
    order: compacted data → its counts (the sum of its sources' stored
    counts, no job) → manifest flip."""
    man = publish.current_manifest(root)
    if man is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    if snapshot_id == man.get("snapshot"):
        # mirror the ingest replay guard, but for the OPPOSITE reason:
        # the compacted table writes to triples_b00000/snap=<id> while
        # LAZILY reading the published batch dirs — if <id> is the
        # current snapshot (e.g. b00000 was written under it), the
        # overwrite target equals a read source and Spark would
        # self-overwrite its input mid-scan.  Compaction must mint a
        # fresh snapshot id.
        raise ValueError(
            f"snapshot_id {snapshot_id!r} is the currently published "
            "snapshot — compact() needs a fresh id, or the rewrite of "
            "triples_b00000 could overwrite a table it is reading")
    batches = sorted(t for t in man["tables"]
                     if t.startswith(_BATCH_PREFIX))
    if len(batches) <= 1:
        return man
    target = os.path.join(root, f"{_BATCH_PREFIX}00000",
                          f"snap={snapshot_id}")
    sources = [man["tables"][t] for t in batches]
    if os.path.normpath(target) in {os.path.normpath(p) for p in sources}:
        # same hazard via a CARRIED dir: b00000 may sit at an older
        # snapshot than the manifest's — the current-snapshot check
        # above cannot see that collision
        raise ValueError(
            f"compact target {target} is one of the batch dirs being "
            "read — pick a snapshot id no batch table was written under")
    publish.drop_pred_counts(target)
    read_batches(spark, sources).write.mode("overwrite").parquet(target)
    # the compacted rows are exactly its sources' rows: their stored
    # counts sum to its counts, with no job
    publish.write_pred_counts(target, publish.sum_pred_counts(sources))
    # publish_tables builds the manifest from carry + written tables
    # ONLY, so the stale batch entries vanish with the same atomic flip
    return publish.publish_tables(
        {}, root, snapshot_id,
        carry={"kg_degrees": man["tables"]["kg_degrees"],
               f"{_BATCH_PREFIX}00000": target})
