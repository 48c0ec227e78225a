"""Engine schemas.

The corpus schema is the authoritative input shape from BASELINE.json's
input_hint; the records schema is the single long-format output of the fused
extract stage, from which the mentions / triples / cluster tables are cheap
projections (materialize once, project many — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

CORPUS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
])

# One long table holding every per-document output.  rec_type ∈
# {'doc','mention','triple','precedent_cluster','statute_cluster',
#  'pro_statute_pair'}; unused columns are null per rec_type.
RECORDS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("rec_type", T.StringType(), False),
    T.StructField("postprocess_ok", T.BooleanType()),
    # triples
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    # mentions
    T.StructField("ent_id", T.IntegerType()),
    T.StructField("sent_id", T.IntegerType()),
    T.StructField("start_char", T.IntegerType()),
    T.StructField("end_char", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("region", T.StringType()),
    # clusters / pairs
    T.StructField("cluster_id", T.IntegerType()),
    T.StructField("cluster_key", T.StringType()),
    T.StructField("member", T.StringType()),
    T.StructField("norm_provision", T.StringType()),
    T.StructField("norm_statute", T.StringType()),
    # doc rows
    T.StructField("n_sentences", T.IntegerType()),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
])

RECORD_COLUMNS = [f.name for f in RECORDS_SCHEMA.fields]

TRIPLES_COLUMNS = ["subj", "pred", "obj", "doc_id"]

# The flat triple table as `operators.extract.triples` writes it.  Readers
# of published triple tables pin it: parquet schema inference costs one
# Spark job per table read.
TRIPLES_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in TRIPLES_COLUMNS])
