"""The fused KG-extraction operator — one Arrow-vectorized ``mapInArrow``
pass over the corpus.

Scale rationale (SURVEY.md §2.3): every reference operator is strictly
per-document, so the whole lifecycle (span assembly → preamble split → NER →
postprocessing → triple emission) fuses into a single *narrow* stage: zero
shuffles, no driver involvement, linear scan over the corpus.  On a
1000-executor cluster this is a pure map over Iceberg file splits; the only
exchanges in the end-to-end job are the final write and any downstream
aggregations (which Spark does with map-side partial aggregation).

Skew: mega-documents are handled by small Arrow batches (session.py caps
maxRecordsPerBatch) and by the per-doc guards inside the core; a single doc
never crosses batch boundaries, and AQE rebalances the downstream exchanges.
Failure isolation: a pathological document degrades to raw-NER output with
``postprocess_ok=false`` (legal_ner.py:42-47 semantics) instead of failing
its partition.

Fixed cost per task: unpickling the UDF imports ``legal_ner_spark``, which
installs ``zipcache``, so every later task on that reused Python worker skips
CPython 3.11's ~0.2 s re-read of pyspark.zip and the spark-core jar.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import RECORDS_SCHEMA, RECORD_COLUMNS
from ..core.extract import extract_document


class _ColumnBuffer:
    """Columnar record accumulator: appending into per-column lists and
    building one Arrow RecordBatch per input batch is ~5x cheaper than
    pd.DataFrame(list_of_dicts) row materialization — this is the Arrow
    boundary of the hot path.  The ``spans`` column is not buffered: it
    is taken from the input batch's Arrow column (see _records_batch)."""

    def __init__(self):
        self.cols: dict[str, list] = {c: [] for c in _BUFFERED_COLUMNS}
        self.n = 0

    def add(self, doc_id: str, ok: bool, rec_type: str, **kw):
        cols = self.cols
        kw["doc_id"] = doc_id
        kw["postprocess_ok"] = ok
        kw["rec_type"] = rec_type
        for c in _BUFFERED_COLUMNS:
            cols[c].append(kw.get(c))
        self.n += 1

    def record_batch(self, spans: "pa.Array") -> "pa.RecordBatch":
        """Typed Arrow batch — skipping the pandas intermediate on the
        OUTPUT side is worth ~19% end-to-end (measured 9.12 s → 7.66 s
        over 32k docs at 32 cores): no object-dtype Series, no
        pandas→Arrow re-conversion in the worker."""
        arrays = [spans if f.name == "spans"
                  else pa.array(self.cols[f.name], type=f.type)
                  for f in _PA_RECORDS_SCHEMA]
        return pa.RecordBatch.from_arrays(arrays, schema=_PA_RECORDS_SCHEMA)


def _spark_to_arrow(t):
    from pyspark.sql import types as T
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.BooleanType):
        return pa.bool_()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.ArrayType):
        return pa.list_(pa.struct([
            pa.field(f.name, _spark_to_arrow(f.dataType))
            for f in t.elementType.fields]))
    raise TypeError(f"unmapped type {t}")


_PA_RECORDS_SCHEMA = pa.schema(
    [pa.field(f.name, _spark_to_arrow(f.dataType))
     for f in RECORDS_SCHEMA.fields])
_PA_SPANS_TYPE = _PA_RECORDS_SCHEMA.field("spans").type
_BUFFERED_COLUMNS = [c for c in RECORD_COLUMNS if c != "spans"]


# Catalyst equivalent of synth.assemble_text: concat of kind='text' span
# texts in offset order — the document text is assembled JVM-side, so the
# spans never become Python objects.  Null offsets sort FIRST (stable
# within), matching assemble_text's (offset is not None, offset) key — a
# bare a.offset < b.offset comparator would evaluate to null on dirty rows
# and leave null-offset spans in place, so the JVM and the Python oracle
# could assemble different texts.
TEXT_ASSEMBLY_EXPR = (
    "array_join(transform(array_sort(filter(spans, s -> s.kind = 'text'), "
    "(a, b) -> CASE WHEN a.offset IS NULL AND b.offset IS NULL THEN 0 "
    "WHEN a.offset IS NULL THEN -1 "
    "WHEN b.offset IS NULL THEN 1 "
    "WHEN a.offset < b.offset THEN -1 "
    "WHEN a.offset > b.offset THEN 1 ELSE 0 END), "
    "s -> s.text), '')")


def _records_batch(batch: "pa.RecordBatch", text_type: str = "doc",
                   strict_compat: bool = True,
                   tagger=None) -> "pa.RecordBatch":
    """One input batch ``(doc_id, spans, text)`` → one RECORDS_SCHEMA
    batch.  Only ``doc_id`` and the JVM-assembled ``text`` become Python
    values.  The doc rows' ``spans`` are one ``take`` over the input
    Arrow column (index = source row at doc rows, null elsewhere), so the
    span sequence — null arrays, null elements and null fields included —
    comes back unchanged by construction."""
    buf = _ColumnBuffer()
    src_row: list[int | None] = []
    for i, (doc_id, text) in enumerate(zip(batch.column("doc_id").to_pylist(),
                                           batch.column("text").to_pylist())):
        r = extract_document(doc_id, text, text_type=text_type,
                             strict_compat=strict_compat,
                             **({"tagger": tagger} if tagger else {}))
        n0 = buf.n
        _emit_records(doc_id, r, buf)
        src_row.append(i)                       # the doc row comes first
        src_row.extend([None] * (buf.n - n0 - 1))
    spans = pc.take(batch.column("spans"), pa.array(src_row, pa.int32()))
    return buf.record_batch(spans.cast(_PA_SPANS_TYPE))


def _emit_records(doc_id: str, r, buf: _ColumnBuffer) -> None:
    add = buf.add
    add(doc_id, r.ok, "doc", n_sentences=r.n_sentences)
    for m in r.mentions:
        add(doc_id, r.ok, "mention", ent_id=m.ent_id, sent_id=m.sent_id,
            start_char=m.start_char, end_char=m.end_char, text=m.text,
            label=m.label, region=m.region)
    for (s, p, o) in r.triples:
        add(doc_id, r.ok, "triple", subj=s, pred=p, obj=o)
    for (cid, head, member) in r.precedent_clusters:
        add(doc_id, r.ok, "precedent_cluster", cluster_id=cid,
            cluster_key=head, member=member)
    for (canonical, member) in r.statute_clusters:
        add(doc_id, r.ok, "statute_cluster", cluster_key=canonical,
            member=member)
    for (pro, sta, npro, nsta) in r.provision_statute_pairs:
        add(doc_id, r.ok, "pro_statute_pair", text=pro, member=sta,
            norm_provision=npro, norm_statute=nsta)


def extract_records(corpus: DataFrame, text_type: str = "doc",
                    strict_compat: bool = True,
                    tagger=None) -> DataFrame:
    """corpus(doc_id, spans) → long records table (RECORDS_SCHEMA).
    Narrow: no shuffle is introduced by this operator.

    One ``mapInArrow`` pass: the JVM assembles each document's text
    (TEXT_ASSEMBLY_EXPR), and the original ``spans`` column crosses the
    Arrow boundary as Arrow and lands on the 'doc' rows through one
    ``pyarrow.compute.take`` — spans never become Python objects, so the
    span-sequence invariant (kind, text, media_ref, offset, order, nulls)
    holds by construction.

    ``text_type`` ∈ {'doc','sent'} is the reference's headline
    accuracy/latency knob (legal_ner.py:24-27, README.md:159-165): 'sent'
    tags each sentence separately with offset rebase — preferred for very
    long judgments — while 'doc' tags the judgment region in one call.
    Both run inside the same fused narrow stage; the knob changes
    per-document work only, never the plan shape.

    ``strict_compat=False`` switches the per-doc postprocessing to the
    FIXED-quirk semantics (core.postprocess.postprocess_doc) — correct
    rather than byte-faithful triples; the parity/P-R gates always run
    the default strict mode.

    ``tagger`` swaps the mention detector inside the fused stage — pass
    ``core.model_tagger.load_spacy_tagger(TaggerConfig(...))`` for the
    production transformer (the callable is cloudpickled into the Arrow
    UDF; each executor worker lazy-loads the model once).  ``None`` uses
    the deterministic closed-vocabulary tagger.
    ``tests/test_model_tagger_integration.py`` drives this path with a
    real spaCy pipeline when one is installed (auto-skips here)."""
    if text_type not in ("doc", "sent"):
        raise ValueError(f"text_type must be 'doc' or 'sent', got {text_type!r}")

    # explicit projection: extra corpus columns must not cross Arrow
    assembled = corpus.select(
        "doc_id", "spans",
        F.coalesce(F.expr(TEXT_ASSEMBLY_EXPR), F.lit("")).alias("text"))

    def fn(batches):
        for b in batches:
            yield _records_batch(b, text_type, strict_compat, tagger)

    return assembled.mapInArrow(fn, RECORDS_SCHEMA)


# -- cheap projections over the (materialized) records table ----------------

def triples(records: DataFrame) -> DataFrame:
    return (records.filter(F.col("rec_type") == "triple")
            .select("subj", "pred", "obj", "doc_id"))


def mentions(records: DataFrame) -> DataFrame:
    return (records.filter(F.col("rec_type") == "mention")
            .select("doc_id", "ent_id", "sent_id", "start_char", "end_char",
                    "text", "label", "region"))


def precedent_clusters(records: DataFrame) -> DataFrame:
    return (records.filter(F.col("rec_type") == "precedent_cluster")
            .select("doc_id", "cluster_id", F.col("cluster_key").alias("head"),
                    "member"))


def statute_clusters(records: DataFrame) -> DataFrame:
    return (records.filter(F.col("rec_type") == "statute_cluster")
            .select("doc_id", F.col("cluster_key").alias("canonical"), "member"))


def provision_statute_pairs(records: DataFrame) -> DataFrame:
    return (records.filter(F.col("rec_type") == "pro_statute_pair")
            .select("doc_id", F.col("text").alias("provision"),
                    F.col("member").alias("statute"),
                    "norm_provision", "norm_statute"))


def doc_spans(records: DataFrame) -> DataFrame:
    """Original span arrays after the round trip — for the invariant check."""
    return (records.filter(F.col("rec_type") == "doc")
            .select("doc_id", "spans", "postprocess_ok", "n_sentences"))


# -- the reference's aggregations (postprocessing_utils.py:867-894) ---------

def unique_precedent_counts(records: DataFrame) -> DataFrame:
    return (precedent_clusters(records)
            .groupBy("doc_id", "head").agg(F.count("*").alias("n_members")))


def unique_provision_counts(records: DataFrame) -> DataFrame:
    """Counter of '<norm_pro> of <norm_statute>' — postprocessing_utils.py:879."""
    return (provision_statute_pairs(records)
            .withColumn("provision_of_statute",
                        F.concat_ws(" of ", "norm_provision", "norm_statute"))
            .groupBy("doc_id", "provision_of_statute")
            .agg(F.count("*").alias("freq")))


def unique_statute_counts(records: DataFrame) -> DataFrame:
    return (provision_statute_pairs(records)
            .groupBy("doc_id", "norm_statute").agg(F.count("*").alias("freq")))


def mention_label_stats(records: DataFrame) -> DataFrame:
    """Corpus entity stats (SURVEY.md §2.4 'offline' row — the
    README.md:80-96 label-count table as a live aggregation)."""
    return (mentions(records).groupBy("label")
            .agg(F.count("*").cast("bigint").alias("n_mentions"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs")))


def csv_export(records: DataFrame) -> DataFrame:
    """The reference CSV flatten (postprocessing_utils.py:825-864):
    file_name, entity, label, normalised_entities."""
    pairs = (provision_statute_pairs(records)
             .select(F.col("doc_id").alias("file_name"),
                     F.col("provision").alias("entity"),
                     F.lit("PROVISION").alias("label"),
                     F.concat_ws(" of ", "norm_provision", "norm_statute")
                     .alias("normalised_entities")))
    precs = (precedent_clusters(records)
             .select(F.col("doc_id").alias("file_name"),
                     F.col("member").alias("entity"),
                     F.lit("PRECEDENT").alias("label"),
                     F.col("head").alias("normalised_entities")))
    stats = (statute_clusters(records)
             .select(F.col("doc_id").alias("file_name"),
                     F.col("member").alias("entity"),
                     F.lit("STATUTE").alias("label"),
                     F.col("canonical").alias("normalised_entities")))
    covered = (pairs.select("file_name", "entity")
               .union(precs.select("file_name", "entity"))
               .union(stats.select("file_name", "entity")).distinct())
    residual = (mentions(records)
                .join(covered,
                      (F.col("doc_id") == F.col("file_name"))
                      & (F.col("text") == F.col("entity")), "left_anti")
                .select(F.col("doc_id").alias("file_name"),
                        F.col("text").alias("entity"), "label",
                        F.lit("").alias("normalised_entities")))
    return pairs.unionByName(precs).unionByName(stats).unionByName(residual)
