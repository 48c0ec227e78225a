"""BGP readers of published triple tables use the predicate counts stored
with the tables; every other input falls back to the count probe, and
answers never depend on which source the counts came from."""

import os
from collections import defaultdict

import pytest

from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.operators import kgquery
from legal_ner_spark.plans import publish
from legal_ner_spark.sources import corpus as src
from jobs.incremental_kg import ingest_batch, read_triples

STAR = [("?d", "decided_by", "?court"), ("?d", "has_judge", "?judge")]
# the benchmark's reader set
KG_STAR = STAR + [("?d", "cites_precedent", "?p")]
KG_CHAIN = [("?m", "same_as", "?canon"), ("?m2", "same_as", "?canon")]


def _probe(df):
    return {r["pred"]: r["n"] for r in
            df.groupBy("pred").agg(F.count("*").alias("n")).collect()}


def _star_rows(spo):
    by = defaultdict(lambda: defaultdict(set))
    for s, p, o in spo:
        by[p][s].add(o)
    return {(d, c, j) for d, courts in by["decided_by"].items()
            for c in courts for j in by["has_judge"].get(d, ())}


def _chain_rows(spo):
    by = defaultdict(set)
    for s, p, o in spo:
        if p == "same_as":
            by[o].add(s)
    return {(m, c, m2) for c, ms in by.items() for m in ms for m2 in ms}


@pytest.fixture(scope="module")
def kg_root(spark, tmp_path_factory):
    """A two-batch incremental snapshot and its triples as Python
    tuples."""
    root = str(tmp_path_factory.mktemp("stored_counts") / "kg")
    full = synth.synthetic_corpus(spark, 16, partitions=2).cache()
    ingest_batch(spark, root, full.filter(F.col("doc_id") < "doc_00000008"),
                 "day1")
    ingest_batch(spark, root, full.filter(F.col("doc_id") >= "doc_00000008"),
                 "day2")
    full.unpersist()
    spo = {(r.subj, r.pred, r.obj) for r in read_triples(spark, root)
           .select("subj", "pred", "obj").collect()}
    return root, spo


def test_bulk_write_triples_stores_footer_counts(spark, tmp_path):
    """The partitioned bulk table stores its counts at its root (from
    the parquet footers), including a predicate whose partition
    directory name is escaped; a whole-table read uses them."""
    recs = ops.extract_records(synth.synthetic_corpus(spark, 8,
                                                      partitions=2))
    odd = spark.createDataFrame(
        [("a", "has:odd/pred", "b", "d"), ("c", "has:odd/pred", "e", "d")],
        "subj string, pred string, obj string, doc_id string")
    path = str(tmp_path / "triples")
    src.write_triples(ops.triples(recs).unionByName(odd), path)
    table = spark.read.parquet(path)
    want = _probe(table)
    assert want["has:odd/pred"] == 2
    assert publish.read_pred_counts(path) == want
    assert publish.stored_pred_counts(table) == want
    # a read of one partition directory, or of a file subset, is not the
    # table the counts describe
    one = os.path.join(path, "pred=decided_by")
    assert publish.stored_pred_counts(spark.read.parquet(one)) is None
    assert publish.stored_pred_counts(spark.read.option(
        "pathGlobFilter", "part-00000*").parquet(path)) is None


@pytest.mark.parametrize("shape", ["filtered", "aliased", "in_memory_union"])
def test_non_bare_inputs_take_the_probe(spark, kg_root, count_jobs, shape):
    root, spo = kg_root
    tri = read_triples(spark, root)
    if shape == "filtered":
        df = tri.filter(F.col("pred") != "mentions")
        want_spo = {t for t in spo if t[1] != "mentions"}
    elif shape == "aliased":
        df = tri.select(F.col("subj").alias("subj"), "pred", "obj", "doc_id")
        want_spo = spo
    else:
        extra = spark.createDataFrame(
            [("doc_x", "decided_by", "court_x", "doc_x"),
             ("doc_x", "has_judge", "judge_x", "doc_x")],
            "subj string, pred string, obj string, doc_id string")
        df = tri.unionByName(extra)
        want_spo = spo | {("doc_x", "decided_by", "court_x"),
                          ("doc_x", "has_judge", "judge_x")}
    assert publish.stored_pred_counts(df) is None
    counts, n_jobs = count_jobs(lambda: kgquery._pred_counts(df))
    assert n_jobs > 0 and counts == _probe(df)
    got = {tuple(r) for r in kgquery.bgp_match(df, STAR).collect()}
    assert got == _star_rows(want_spo)


def test_missing_counts_file_takes_the_probe(spark, tmp_path, count_jobs):
    """A crash between a batch's data and counts writes leaves a table
    without counts: readers probe, and answers are unchanged."""
    root = str(tmp_path / "kg")
    ingest_batch(spark, root, synth.synthetic_corpus(spark, 8, partitions=2),
                 "day1")
    tri = read_triples(spark, root)
    spo = {(r.subj, r.pred, r.obj) for r in
           tri.select("subj", "pred", "obj").collect()}
    path = publish.current_manifest(root)["tables"]["triples_b00000"]
    os.remove(os.path.join(path, publish.PRED_COUNTS))
    tri = read_triples(spark, root)
    assert publish.stored_pred_counts(tri) is None
    counts, n_jobs = count_jobs(lambda: kgquery._pred_counts(tri))
    assert n_jobs > 0 and counts == _probe(tri)
    got = {tuple(r) for r in kgquery.bgp_match(tri, STAR).collect()}
    assert got == _star_rows(spo)


def test_stored_counts_answers_equal_python(spark, kg_root):
    """The probe-free path gives the Python evaluation's rows, and the
    stored counts are the probe's; a plain projection and a union of
    published tables keep the stored counts (summed)."""
    root, spo = kg_root
    tri = read_triples(spark, root)
    stored = publish.stored_pred_counts(tri)
    assert stored == _probe(tri)
    got = {tuple(r) for r in kgquery.bgp_match(tri, STAR).collect()}
    assert got == _star_rows(spo)
    assert publish.stored_pred_counts(
        tri.select("subj", "pred", "obj")) == stored
    twice = publish.stored_pred_counts(tri.unionByName(tri))
    assert twice == {p: 2 * n for p, n in stored.items()}


@pytest.mark.parametrize("shape", ["star", "chain"])
def test_snapshot_star_and_chain_take_two_jobs(spark, kg_root, count_jobs,
                                               shape):
    """The benchmark's star and chain over ``read_triples`` are each one
    hub shuffle: a map stage and a result stage, no count probe, no
    broadcast, no DISTINCT stage."""
    root, spo = kg_root
    tri = read_triples(spark, root)
    pats = KG_STAR if shape == "star" else KG_CHAIN
    rows, n_jobs = count_jobs(
        lambda: kgquery.bgp_match(tri, pats).collect())
    assert n_jobs <= 2
    got = {tuple(r) for r in rows}
    assert len(got) == len(rows)
    if shape == "star":
        want = {(d, c, j, p) for d, c, j in _star_rows(spo)
                for s, pr, p in spo if s == d and pr == "cites_precedent"}
    else:
        want = _chain_rows(spo)
    assert want and got == want
