"""legal_ner_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of Legal-NLP-EkStep/legal_NER.

NOT a port: the reference is a single-process spaCy pipeline
(/root/reference/legal_ner.py, postprocessing_utils.py, data_preparation.py);
this engine re-expresses its operator semantics (SURVEY.md §2) as Spark
DataFrame plans plus Arrow-vectorized Python stages, designed for a
multi-executor cluster over an Iceberg corpus of interleaved text+media docs.

Layout
------
core/        pure-Python per-document semantics (tokenizer, spans, the faithful
             reimplementation of the reference's postprocessing DAG, the
             deterministic sandbox tagger). Used inside Arrow UDF batches AND
             directly in unit tests as the single-doc oracle.
operators/   DataFrame-native operator library: the fused extract stage,
             relational forms of the reference's joins/windows, plus the
             training-data-pipeline ops (dedup, similarity, text stats,
             multimodal plumbing).
functions/   Catalyst column-expression builders (pure F.* — no Python UDFs).
plans/       lineage ledger + checkpointed resume.
streaming/   Structured Streaming wrapper reusing the batch operators.
synth.py     deterministic synthetic corpus generator (BASELINE.json input_hint
             shape); ``synthetic_corpus`` distributes it via mapInPandas,
             seeded per doc_id.  End-to-end KG construction is
             ``operators.extract.extract_records`` → ``triples``.
zipcache.py  stat-gated zip importer cache invalidation (CPython < 3.12),
             installed on import: Python workers stop re-reading their
             zip archives at the start of every task.
daemon.py    Python worker daemon for local sessions: swaps Spark's
             python/lib zips for a compiled cache directory, then runs
             pyspark.daemon.  This package imports nothing but zipcache,
             so pyspark is never imported before the swap.
"""

from . import zipcache

zipcache.install()

__version__ = "0.1.0"
