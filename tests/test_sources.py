"""JSONL corpus source/sink: schema-pinned roundtrip + corrupt-line modes."""

import pytest

from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.sources import corpus as src


def test_jsonl_roundtrip_preserves_records(spark, tmp_path):
    """corpus → JSONL (gzip) → read back: the extraction output over
    the roundtripped corpus equals the original's — spans (media
    included) survive the JSON boundary intact."""
    corpus = synth.synthetic_corpus(spark, 12, partitions=2)
    loc = str(tmp_path / "corpus_jsonl")
    src.write_corpus_jsonl(corpus, loc)
    back = src.read_corpus_jsonl(spark, loc)
    a = sorted(str(r) for r in
               ops.extract_records(corpus)
               .select("doc_id", "rec_type", "subj", "pred", "obj")
               .collect())
    b = sorted(str(r) for r in
               ops.extract_records(back)
               .select("doc_id", "rec_type", "subj", "pred", "obj")
               .collect())
    assert a == b and len(a) > 0
    # gzip parts actually written
    import os
    assert any(f.endswith(".gz") for f in os.listdir(loc))


def test_jsonl_strict_vs_permissive(spark, tmp_path):
    """A corrupt line FAILFASTs under strict and degrades to a
    null-row under PERMISSIVE — quarantine-style ingestion."""
    loc = tmp_path / "bad_jsonl"
    loc.mkdir()
    good = ('{"doc_id": "d1", "spans": [{"kind": "text", '
            '"text": "hello", "media_ref": "", "offset": 0}]}')
    (loc / "part-0.json").write_text(good + "\n{not json at all\n")
    lax = src.read_corpus_jsonl(spark, str(loc), strict=False)
    rows = lax.collect()
    assert {r.doc_id for r in rows} == {"d1", None}
    with pytest.raises(Exception):
        src.read_corpus_jsonl(spark, str(loc), strict=True).collect()
