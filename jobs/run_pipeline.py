"""spark-submit entry point for the KG construction pipeline.

Cluster usage (north_rule deployment shape):

    zip -r legal_ner_spark.zip legal_ner_spark
    spark-submit --py-files legal_ner_spark.zip jobs/run_pipeline.py \
        --corpus  <iceberg-or-parquet path>   # omit to synthesize
        --out     <output path>               # records + _ledger + triples
        --buckets 256                         # resume granularity
        --tasks-per-core 6                    # synthetic corpus splits

One run writes every pending bucket with one
``operators.extract.extract_records`` pass over the corpus scan's own
splits: the JVM assembles each document's text and the original span
arrays ride through the Arrow stage onto the records' doc rows unchanged.
``--tasks-per-core`` only sizes the synthetic corpus (``--corpus``
omitted); a given corpus keeps its scan splits.  The triples table is
written by ``sources.corpus.write_triples`` (partitioned by pred).

Local usage: ``python jobs/run_pipeline.py --out <dir> --master 'local[4]'``.
Run this way, ``session.get_spark`` launches the driver JVM itself: it maps
the class-data-sharing archive in ``~/.cache/legal_ner_spark`` (the first
such run on a host records it as the JVM exits), starts the Python workers
from compiled pyspark bytecode kept there, sets the mode of each file and
directory it writes in-process instead of forking ``chmod`` (a local file
system compiled into a jar there), and puts the repo on the workers'
``PYTHONPATH``, so the job runs from any directory.  Under ``spark-submit``
the driver JVM already runs, so ``get_spark`` leaves it untouched.  The
printed counts come from the ledger rows and the triple table's stored
predicate counts; only an ``--out`` off the local disk counts them.

The job is resumable: re-submitting with the same --out skips completed
buckets via the lineage ledger (plans/ledger.py).  Model weights (production
spaCy pipeline) ship via --archives and load lazily per executor; the
sandbox build uses the deterministic tagger, which needs nothing.
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=None,
                    help="corpus parquet path (doc_id, spans); synthesized when omitted")
    ap.add_argument("--n-docs", type=int, default=1000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--tasks-per-core", type=int, default=6)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from legal_ner_spark.session import get_spark
    from legal_ner_spark import synth
    from legal_ner_spark.plans import ledger, publish
    from legal_ner_spark.operators import extract as ops
    from legal_ner_spark.sources import corpus as src

    spark = get_spark(app_name="legal-ner-kg", master=args.master)
    cores = spark.sparkContext.defaultParallelism
    if args.corpus:
        # no repartition here: the ledger extracts on the scan's own
        # splits (a shuffle before the Python stage costs more than it
        # spreads)
        corpus = spark.read.parquet(args.corpus)
    else:
        corpus = synth.synthetic_corpus(
            spark, args.n_docs, partitions=cores * args.tasks_per_core)

    processed = ledger.run_with_resume(corpus, args.out,
                                       n_buckets=args.buckets)
    records = ledger.read_all_records(spark, args.out)
    triples_path = os.path.join(args.out, "triples")
    src.write_triples(ops.triples(records), triples_path)
    # the counts the run already stored: the ledger rows and the triple
    # table's predicate counts; a count job only where none were stored
    # (a non-local --out)
    rows = ledger.completed_buckets(args.out)
    records_dir = os.path.join(args.out, "records")
    written = ({int(d.split("=", 1)[1]) for d in os.listdir(records_dir)
                if d.startswith("bucket=")}
               if os.path.isdir(records_dir) else None)
    n_records = (sum(r["n_records"] for r in rows.values())
                 if written is not None and written <= rows.keys()
                 else records.count())
    pred_counts = publish.read_pred_counts(triples_path)
    n_triples = (sum(pred_counts.values()) if pred_counts is not None
                 else spark.read.parquet(triples_path).count())
    summary = {
        "buckets_processed_this_run": processed,
        "n_records": n_records,
        "n_triples": n_triples,
        "ledger": {k: v["n_records"] for k, v in rows.items()},
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
