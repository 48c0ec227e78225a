"""Distributed-vs-single-doc equality, the span-sequence invariant, and
determinism across parallelism — SURVEY.md §5.2/§5.5 and the BASELINE.md
correctness gates."""

import pandas as pd
import pytest

from legal_ner_spark import synth
from legal_ner_spark.core.extract import extract_document
from legal_ner_spark.operators import extract as ops

N_DOCS = 24


@pytest.fixture(scope="module")
def records(spark):
    corpus = synth.synthetic_corpus(spark, N_DOCS, partitions=6)
    recs = ops.extract_records(corpus).cache()
    recs.count()
    yield recs
    recs.unpersist()


def _golden_triples():
    golden = set()
    for i in range(N_DOCS):
        d = synth.gen_doc(i)
        r = extract_document(d["doc_id"], synth.assemble_text(d["spans"]))
        golden.update((d["doc_id"],) + t for t in r.triples)
    return golden


def test_triples_match_single_doc_oracle_exactly(records):
    """P/R vs the single-doc oracle must be 1.0 (gate is ≥0.95) — any
    distribution artifact (batching, Arrow, ordering) breaks this."""
    got = {(r.doc_id, r.subj, r.pred, r.obj)
           for r in ops.triples(records).collect()}
    golden = _golden_triples()
    assert got == golden


def test_span_sequence_invariant(records):
    """Output spans == input spans per doc: kind, text, media_ref, order
    (BASELINE.json input_hint)."""
    out = {r.doc_id: [ (s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
           for r in ops.doc_spans(records).collect()}
    for i in range(N_DOCS):
        d = synth.gen_doc(i)
        exp = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in d["spans"]]
        assert out[d["doc_id"]] == exp


def test_mentions_well_formed(records):
    m = ops.mentions(records).toPandas()
    assert (m.start_char < m.end_char).all()
    assert set(m.region.unique()) <= {"preamble", "judgment"}
    assert m.label.notna().all()


def test_determinism_across_parallelism(spark):
    """Same input ⇒ identical triples at different partition counts
    (catches order-sensitivity leaks from the greedy stages)."""
    def triples(partitions):
        corpus = synth.synthetic_corpus(spark, 12, partitions=partitions)
        return {(r.doc_id, r.subj, r.pred, r.obj)
                for r in ops.triples(ops.extract_records(corpus)).collect()}
    assert triples(1) == triples(8)


def test_reference_aggregations(records):
    provisions = ops.unique_provision_counts(records).toPandas()
    assert (provisions.freq >= 1).all()
    assert provisions.provision_of_statute.str.contains(" of ").all()
    csv = ops.csv_export(records).toPandas()
    assert set(csv.columns) == {"file_name", "entity", "label",
                                "normalised_entities"}
    assert len(csv) > 0


def test_postprocess_ok_flag_present(records):
    docs = ops.doc_spans(records).toPandas()
    assert docs.postprocess_ok.notna().all()


def test_jvm_text_assembly_matches_python(spark):
    """TEXT_ASSEMBLY_EXPR (Catalyst) must equal synth.assemble_text for
    interleaved text+media docs."""
    from pyspark.sql import functions as F
    from legal_ner_spark import synth
    from legal_ner_spark.operators.extract import TEXT_ASSEMBLY_EXPR
    corpus = synth.synthetic_corpus(spark, 32, partitions=4)
    got = {r.doc_id: r.text for r in corpus.select(
        "doc_id", F.expr(TEXT_ASSEMBLY_EXPR).alias("text")).collect()}
    for i in range(32):
        d = synth.gen_doc(i)
        assert got[d["doc_id"]] == synth.assemble_text(d["spans"])


def test_sent_mode_end_to_end_matches_core(spark):
    """text_type='sent' plumbed through the Spark operator (legal_ner.py:
    24-27 run_type knob): the fused stage's triples must exactly match the
    single-doc core in sent mode, and the knob must be live (sent vs doc
    may differ on boundary-spanning entities)."""
    corpus = synth.synthetic_corpus(spark, 16, partitions=4)
    got = {(r.doc_id, r.subj, r.pred, r.obj)
           for r in ops.triples(
               ops.extract_records(corpus, text_type="sent")).collect()}
    golden = set()
    for i in range(16):
        d = synth.gen_doc(i)
        r = extract_document(d["doc_id"], synth.assemble_text(d["spans"]),
                             text_type="sent")
        golden.update((d["doc_id"],) + t for t in r.triples)
    assert got == golden


def test_null_offset_spans_pass_through_and_assemble_identically(spark):
    """Dirty rows: a null offset must survive the Arrow round trip as null
    (not 0) on the doc row's passthrough spans, and the JVM assembly must
    equal the Python oracle (null-offset spans sort first, stably, in
    both the Python and Catalyst comparators)."""
    from legal_ner_spark.schema import CORPUS_SCHEMA
    rows = [
        ("d0", [{"kind": "text", "text": "b ", "media_ref": None, "offset": 5},
                {"kind": "text", "text": "x ", "media_ref": None, "offset": None},
                {"kind": "text", "text": "y ", "media_ref": None, "offset": None},
                {"kind": "text", "text": "a ", "media_ref": None, "offset": 1}]),
    ]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    doc = ops.extract_records(corpus) \
        .filter("rec_type = 'doc'").collect()[0]
    offsets = [s.offset for s in doc.spans]
    assert offsets == [5, None, None, 1]          # untouched, including nulls
    from pyspark.sql import functions as F
    from legal_ner_spark.operators.extract import TEXT_ASSEMBLY_EXPR
    jvm_text = corpus.select(F.expr(TEXT_ASSEMBLY_EXPR).alias("t")).collect()[0].t
    py_text = synth.assemble_text([s.asDict() for s in doc.spans])
    assert jvm_text == py_text == "x y a b "


def test_extract_records_strict_compat_toggle(spark):
    """The fixed-quirk mode must run end-to-end through the Spark
    operator and produce a records table of the same shape; strict mode
    stays the default (the parity gates depend on it)."""
    corpus = synth.synthetic_corpus(spark, 12, partitions=4)
    strict = ops.extract_records(corpus).cache()
    fixed = ops.extract_records(corpus, strict_compat=False).cache()
    assert strict.schema == fixed.schema
    assert fixed.filter("rec_type = 'doc'").count() == 12
    # fixed mode never degrades MORE docs than strict (the guarded
    # IndexError paths can only turn ok=False docs into ok=True)
    bad_strict = strict.filter("rec_type = 'doc' AND NOT postprocess_ok").count()
    bad_fixed = fixed.filter("rec_type = 'doc' AND NOT postprocess_ok").count()
    assert bad_fixed <= bad_strict
    strict.unpersist(); fixed.unpersist()
