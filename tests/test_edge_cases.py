"""Edge-case probes for the fused extract stage: empty corpus, all-media
documents, unknown span kinds — each must flow through without error while
holding the span-sequence invariant (kind, text, media_ref, order)."""

from pyspark.sql import functions as F

from legal_ner_spark.operators import extract as ops
from legal_ner_spark.schema import CORPUS_SCHEMA


def _corpus(spark, rows):
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def test_empty_corpus_yields_zero_records(spark):
    recs = ops.extract_records(_corpus(spark, []))
    assert recs.count() == 0
    assert recs.columns[0] == "doc_id"   # schema intact on empty input


def test_all_media_doc_passes_spans_through_untouched(spark):
    spans = [
        {"kind": "image", "text": None, "media_ref": "s3://m/1.png", "offset": 0},
        {"kind": "audio", "text": None, "media_ref": "s3://m/2.wav", "offset": 1},
    ]
    recs = ops.extract_records(
        _corpus(spark, [("doc_media", spans)])).cache()
    docs = recs.filter(F.col("rec_type") == "doc").collect()
    assert len(docs) == 1
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in docs[0].spans]
    assert got == [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in spans]
    # no text content → no mentions, no triples
    assert recs.filter(F.col("rec_type").isin("mention", "triple")).count() == 0
    recs.unpersist()


def test_null_spans_rows_degrade_not_crash(spark):
    """NULL spans arrays, NULL struct elements, and NULL text values must
    degrade to empty docs (a real corpus always contains dirty rows; one
    bad row must not fail a partition) — and the doc row's spans must
    equal the input exactly: a null array stays null, null elements stay
    in place."""
    good = {"kind": "text", "text": "Section 302 of the Indian Penal Code. ",
            "media_ref": None, "offset": 1}
    rows = [
        ("doc_null_arr", None),
        ("doc_null_text", [{"kind": "text", "text": None,
                            "media_ref": None, "offset": 0}, good]),
        ("doc_null_elem", [None, good, None]),
    ]
    recs = ops.extract_records(_corpus(spark, rows)).cache()
    spans = {r.doc_id: r.spans for r in
             recs.filter(F.col("rec_type") == "doc").collect()}
    assert set(spans) == {r[0] for r in rows}
    for doc_id, want in rows:
        got = spans[doc_id]
        assert (None if got is None else
                [s if s is None else s.asDict() for s in got]) == want, doc_id
    # the null-text span and the null elements are skipped; the good span
    # still extracts
    for doc_id in ("doc_null_text", "doc_null_elem"):
        assert recs.filter(f"rec_type = 'triple' AND pred = 'part_of' "
                           f"AND doc_id = '{doc_id}'").count() >= 1
    assert recs.filter("doc_id = 'doc_null_arr' "
                       "AND rec_type = 'triple'").count() == 0
    recs.unpersist()


def test_wide_span_array_roundtrips(spark):
    """A doc with thousands of media spans (a heavily-illustrated judgment)
    must round-trip the full span array through both Arrow boundaries in
    order — the invariant column is the original array, never rebuilt."""
    spans = [{"kind": "image", "text": None,
              "media_ref": f"s3://m/{i}.png", "offset": i}
             for i in range(4000)]
    spans.append({"kind": "text",
                  "text": "Section 420 of the Indian Penal Code applies. ",
                  "media_ref": None, "offset": 4000})
    recs = ops.extract_records(_corpus(spark, [("doc_wide", spans)])).cache()
    doc = recs.filter(F.col("rec_type") == "doc").collect()[0]
    assert len(doc.spans) == 4001
    assert [s.offset for s in doc.spans] == list(range(4001))
    assert doc.spans[1234].media_ref == "s3://m/1234.png"
    assert recs.filter("rec_type = 'triple' AND pred = 'part_of'").count() >= 1
    recs.unpersist()


def test_unknown_kind_treated_as_media(spark):
    spans = [
        {"kind": "text", "text": "Section 302 of the Indian Penal Code. ",
         "media_ref": None, "offset": 0},
        {"kind": "hologram", "text": "IGNORED BY ASSEMBLY",
         "media_ref": "x://h/1", "offset": 1},
    ]
    recs = ops.extract_records(
        _corpus(spark, [("doc_mixed", spans)])).cache()
    doc = recs.filter(F.col("rec_type") == "doc").collect()[0]
    got = [(s.kind, s.text, s.media_ref, s.offset) for s in doc.spans]
    assert got == [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in spans]
    # the unknown-kind span's text must NOT leak into extraction
    mention_texts = [r.text for r in
                     recs.filter(F.col("rec_type") == "mention").collect()]
    assert not any("IGNORED" in (t or "") for t in mention_texts)
    # while the real text span still extracts
    triples = recs.filter(F.col("rec_type") == "triple")
    assert triples.filter(F.col("pred") == "part_of").count() >= 1
    recs.unpersist()


def test_parse_html_corpus_shapes_and_hidden_drop(spark):
    """HTML ingest front door: (doc_id, html) → (doc_id, text); hidden
    spans dropped, pre layout preserved, non-qualifying ids skipped."""
    from legal_ner_spark.operators.ingest import parse_html_corpus
    rows = [("d0", '<p id="p_1">A.</p><p id="nope">SKIP</p>'
                   '<pre id="pre_1">a   b\n\nc</pre>'),
            ("d1", '<p id="p_1">x <span class="hidden_text">JUNK</span>y</p>')]
    got = {r.doc_id: r.text
           for r in parse_html_corpus(
               spark.createDataFrame(rows, ["doc_id", "html"])).collect()}
    assert got["d0"] == "A.a   b\n\nc"
    assert "SKIP" not in got["d0"] and "JUNK" not in got["d1"]
    assert got["d1"] == "x y"


def test_every_query_survives_empty_tables(spark, tmp_path):
    """Robustness: EVERY driver-contract query must run (to an empty or
    synthesized result, never an exception) against a scale-factor dir
    whose tables all have zero rows — partition pruning, window frames,
    aggregations, iterative loops, and ANN index builds all hit their
    empty edge at once.  (kg_* queries synthesize their own corpus, so
    they stay non-empty by design.)"""
    from legal_ner_spark import queries as q
    empty_dir = str(tmp_path / "sf_empty")
    import os
    os.makedirs(empty_dir, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        (spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
         .limit(0).coalesce(1).write.mode("overwrite")
         .parquet(f"{empty_dir}/{t}.parquet"))
    failures = []
    for name, fn in q.QUERIES.items():
        if name.startswith("kg_"):
            continue    # synthesizes its own corpus; covered elsewhere
        try:
            fn(spark, empty_dir).count()
        except Exception as exc:          # noqa: BLE001 — recording all
            failures.append((name, f"{type(exc).__name__}: {exc}"))
    assert not failures, failures


def test_unicode_and_pathological_text_through_extract_and_dedup(spark):
    """Multi-byte text (Devanagari, emoji), whitespace-only docs, and a
    100k-char single token must flow through the fused extraction AND the
    dedup tier without errors, with char-offset mentions still slicing
    the original text correctly."""
    from legal_ner_spark.operators import dedup, extract as ops
    from legal_ner_spark.schema import CORPUS_SCHEMA
    big = "x" * 100_000
    texts = {
        "uni": "धारा ३०२ भारतीय दंड संहिता 🙂 Supreme Court of India held.",
        "ws": "   \n\n\t  ",
        "big": big + " Section 302 of the Indian Penal Code",
    }
    rows = [(k, [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
            for k, t in texts.items()]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    recs = ops.extract_records(corpus).cache()
    assert recs.filter("rec_type = 'doc'").count() == 3
    for m in ops.mentions(recs).collect():
        assert texts[m.doc_id][m.start_char:m.end_char] == m.text
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    assert dedup.simhash_near_pairs(docs, max_hamming=64).count() == 3
    kept = {r.doc_id for r in dedup.near_dedup(docs, threshold=0.9).collect()
            if r.doc_id == r.keeper_doc_id}
    assert kept == set(texts)     # no dups among these three
    recs.unpersist()
