"""Incremental KG ingestion: append-only batch tables carried by
reference, degree stats folded batch-at-a-time ≡ full recompute, atomic
manifest flips, idempotent replay."""

import os

import pytest

from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.plans import publish
from jobs.incremental_kg import (ingest_batch, read_triples,
                                 sum_degrees, triple_degrees)


@pytest.fixture()
def corpora(spark):
    full = synth.synthetic_corpus(spark, 24, partitions=4).cache()
    b1 = full.filter(F.col("doc_id") < "doc_00000012")
    b2 = full.filter(F.col("doc_id") >= "doc_00000012")
    yield full, b1, b2
    full.unpersist()


def _sorted_rows(df, cols=("subj", "pred", "obj", "doc_id")):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_two_batches_equal_full_recompute(spark, tmp_path, corpora):
    full, b1, b2 = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    ingest_batch(spark, root, b2, "day2")
    got = read_triples(spark, root)
    want = ops.triples(ops.extract_records(full))
    assert _sorted_rows(got) == _sorted_rows(want)
    # incremental degree fold == recompute over the whole corpus
    deg_inc = publish.read_published(spark, root, "kg_degrees")
    deg_full = triple_degrees(want)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(deg_inc) == key(deg_full)


def test_previous_batches_carried_by_reference(spark, tmp_path, corpora):
    _, b1, b2 = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    b1_dir = publish.current_manifest(root)["tables"]["triples_b00000"]
    before = {f: os.path.getmtime(os.path.join(b1_dir, f))
              for f in os.listdir(b1_dir)}
    man2 = ingest_batch(spark, root, b2, "day2")
    after = {f: os.path.getmtime(os.path.join(b1_dir, f))
             for f in os.listdir(b1_dir)}
    assert before == after                       # not rewritten
    assert man2["tables"]["triples_b00000"] == b1_dir   # re-pointed
    assert "snap=day2" in man2["tables"]["triples_b00001"]
    # the day-1 batch dir is the day-1 snapshot dir, still reachable
    assert "snap=day1" in b1_dir
    # vacuum must keep the carried day-1 snapshot of the batch table
    removed = publish.vacuum(root)
    assert "triples_b00000" not in removed
    assert os.path.isdir(b1_dir)


def test_replay_same_snapshot_is_idempotent(spark, tmp_path, corpora):
    _, b1, b2 = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    ingest_batch(spark, root, b2, "day2")
    tri_before = _sorted_rows(read_triples(spark, root))
    deg_before = sorted(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect()))
    man = ingest_batch(spark, root, b2, "day2")      # replay
    assert sorted(t for t in man["tables"]
                  if t.startswith("triples_b")) == \
        ["triples_b00000", "triples_b00001"]         # no third table
    assert _sorted_rows(read_triples(spark, root)) == tri_before
    assert sorted(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect())) == deg_before


def test_fold_degrees_is_semigroup(spark):
    a = spark.createDataFrame([("x", 2, 1), ("y", 0, 3)],
                              "node string, out_degree bigint,"
                              " in_degree bigint")
    b = spark.createDataFrame([("y", 5, 1), ("z", 1, 0)],
                              "node string, out_degree bigint,"
                              " in_degree bigint")
    got = {r.node: (r.out_degree, r.in_degree)
           for r in sum_degrees(a.unionByName(b)).collect()}
    assert got == {"x": (2, 1), "y": (5, 4), "z": (1, 0)}


def test_compaction_preserves_reader_view(spark, tmp_path, corpora):
    """Compacting N batch tables into one must not change any answer:
    identical triple set, identical degrees (carried by reference —
    same path), one batch table afterwards, and a following ingest
    numbers itself after the compacted table."""
    from jobs.incremental_kg import compact
    full, b1, b2 = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    ingest_batch(spark, root, b2, "day2")
    before_tri = _sorted_rows(read_triples(spark, root))
    deg_path_before = publish.current_manifest(root)["tables"]["kg_degrees"]
    man = compact(spark, root, "day3-compact")
    batch_tables = [t for t in man["tables"] if t.startswith("triples_b")]
    assert batch_tables == ["triples_b00000"]
    assert "snap=day3-compact" in man["tables"]["triples_b00000"]
    assert man["tables"]["kg_degrees"] == deg_path_before   # by reference
    assert _sorted_rows(read_triples(spark, root)) == before_tri
    # vacuum drops the old per-batch snapshots but keeps the carried
    # degrees snapshot
    publish.vacuum(root)
    assert os.path.isdir(deg_path_before)
    assert _sorted_rows(read_triples(spark, root)) == before_tri
    # next ingest appends after the compacted table
    man2 = ingest_batch(spark, root, b1, "day4")
    assert sorted(t for t in man2["tables"]
                  if t.startswith("triples_b")) == \
        ["triples_b00000", "triples_b00001"]
    # self-overwrite guards: re-compacting under the CURRENT snapshot id
    # (write target could equal a read source) is rejected, as is any id
    # under which a carried batch dir was written
    import pytest
    with pytest.raises(ValueError, match="fresh id"):
        compact(spark, root, "day4")
    with pytest.raises(ValueError, match="batch dirs being read"):
        compact(spark, root, "day3-compact")  # b00000 lives at this snap
    # a genuinely fresh id still works and answers are unchanged
    compact(spark, root, "day5-compact")
    after = _sorted_rows(read_triples(spark, root))
    assert {tuple(r) for r in after} >= {tuple(r) for r in before_tri}


def test_stream_kg_ingest_matches_batch_and_restart_noop(spark, tmp_path,
                                                         corpora):
    """File-stream ingestion (one snapshot per micro-batch) produces the
    same reader view as batch extraction over the whole corpus; re-running
    the availableNow stream on the same checkpoint publishes nothing new."""
    from legal_ner_spark.streaming.stream import stream_kg_ingest
    full, b1, b2 = corpora
    in_dir = str(tmp_path / "arrivals")
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    b2.coalesce(1).write.mode("append").parquet(in_dir)
    root = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    q = stream_kg_ingest(spark, in_dir, root, ckpt)
    assert q.awaitTermination(180)
    got = _sorted_rows(read_triples(spark, root))
    want = _sorted_rows(ops.triples(ops.extract_records(full)))
    assert got == want
    man1 = publish.current_manifest(root)
    deg1 = sorted(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect()))
    # restart over the same checkpoint: nothing new arrives, no flip
    q2 = stream_kg_ingest(spark, in_dir, root, ckpt)
    assert q2.awaitTermination(120)
    assert publish.current_manifest(root) == man1
    assert sorted(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect())) == deg1


# ---------------------------------------------------------------------
# Stored predicate counts and the extract-once ingest
# ---------------------------------------------------------------------

def _probe(df):
    return {r["pred"]: r["n"] for r in
            df.groupBy("pred").agg(F.count("*").alias("n")).collect()}


def _batch_paths(root):
    man = publish.current_manifest(root)
    return [p for t, p in sorted(man["tables"].items())
            if t.startswith("triples_b")]


def test_stored_counts_equal_probe_through_lifecycle(spark, tmp_path,
                                                     corpora):
    """Every published batch table stores exactly its groupBy counts:
    after a first and a second ingest, a replay of the current
    snapshot id, and a compaction."""
    from jobs.incremental_kg import compact
    _, b1, b2 = corpora
    root = str(tmp_path / "kg")

    def check():
        for p in _batch_paths(root):
            assert publish.read_pred_counts(p) == \
                _probe(spark.read.parquet(p)), p
        assert publish.stored_pred_counts(read_triples(spark, root)) == \
            _probe(read_triples(spark, root))

    ingest_batch(spark, root, b1, "day1")
    check()
    ingest_batch(spark, root, b2, "day2")
    check()
    ingest_batch(spark, root, b2, "day2")          # replay
    check()
    compact(spark, root, "day3-compact")
    assert len(_batch_paths(root)) == 1
    check()


def test_predicates_list_every_emitted_predicate():
    """``PREDICATES`` (the ingest's observed counts) is exactly the set
    of predicates extraction emits over a synthetic corpus."""
    from legal_ner_spark.core.extract import PREDICATES, extract_document
    seen = set()
    for i in range(60):
        d = synth.gen_doc(i)
        r = extract_document(d["doc_id"], synth.assemble_text(d["spans"]))
        seen.update(t[1] for t in r.triples)
    assert seen == set(PREDICATES)


def test_unobserved_predicate_falls_back_to_probe(spark, tmp_path, corpora,
                                                  monkeypatch):
    """When the observed counts miss rows (a predicate outside
    ``PREDICATES``), the stored counts come from the count probe and stay
    exact."""
    import jobs.incremental_kg as ikg
    monkeypatch.setattr(ikg, "PREDICATES",
                        tuple(p for p in ikg.PREDICATES if p != "mentions"))
    _, b1, _ = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    (path,) = _batch_paths(root)
    counts = publish.read_pred_counts(path)
    assert counts["mentions"] > 0
    assert counts == _probe(spark.read.parquet(path))


def test_snapshot_reads_submit_no_job(spark, tmp_path, corpora, count_jobs):
    """read_triples is one pinned-schema relation (no schema-inference
    job per batch table) and its predicate counts come from the stored
    files (no probe job).  An ingest onto a published snapshot observes
    its predicate counts on the batch write and folds ``kg_degrees``
    with one aggregate and no join: at most 3 jobs."""
    from legal_ner_spark.operators.kgquery import _pred_counts
    _, b1, b2 = corpora
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, b1, "day1")
    _, n_ingest = count_jobs(lambda: ingest_batch(spark, root, b2, "day2"))
    assert n_ingest <= 3
    tri, n_read = count_jobs(lambda: read_triples(spark, root))
    assert n_read == 0
    counts, n_counts = count_jobs(lambda: _pred_counts(tri))
    assert n_counts == 0
    assert counts == _probe(tri)


def test_ingest_extracts_each_doc_once(spark, tmp_path):
    """ingest_batch runs the extraction once: the corpus generator sees
    every document exactly once per ingest (the batch table is written
    first; counts and the degree delta read the written table)."""
    import pandas as pd
    from legal_ner_spark.schema import CORPUS_SCHEMA
    seen = str(tmp_path / "generated.txt")

    def gen(batches):
        for pdf in batches:
            docs = [synth.gen_doc(int(i)) for i in pdf["id"]]
            with open(seen, "a") as fh:
                fh.write("".join(d["doc_id"] + "\n" for d in docs))
            yield pd.DataFrame(docs, columns=["doc_id", "spans"])

    def corpus(lo, hi):
        return spark.range(lo, hi, numPartitions=2).mapInPandas(
            gen, CORPUS_SCHEMA)

    def generated():
        with open(seen) as fh:
            ids = fh.read().split()
        os.remove(seen)
        return ids

    root = str(tmp_path / "kg")
    ingest_batch(spark, root, corpus(0, 6), "day1")
    first = generated()
    assert sorted(first) == [f"doc_{i:08d}" for i in range(6)]
    ingest_batch(spark, root, corpus(6, 12), "day2")
    second = generated()
    assert sorted(second) == [f"doc_{i:08d}" for i in range(6, 12)]
    # answers unchanged: degrees still equal the recompute
    deg = sorted(map(tuple, publish.read_published(
        spark, root, "kg_degrees").collect()))
    assert deg == sorted(map(tuple, triple_degrees(
        read_triples(spark, root)).collect()))
