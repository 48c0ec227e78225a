"""Tests for the DataFrame-native scale-out operator variants vs the
per-doc core semantics."""

import pytest

from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.operators import relational as rel


@pytest.fixture(scope="module")
def mentions(spark):
    corpus = synth.synthetic_corpus(spark, 20, partitions=4)
    recs = ops.extract_records(corpus).cache()
    recs.count()
    yield ops.mentions(recs)
    recs.unpersist()


def test_nearest_prior_link_matches_core_when_uncontended(spark, mentions):
    """Where exactly one statute appears in a sentence, the relational form
    must agree with the greedy core's pairing."""
    links = rel.nearest_prior_provision_link(mentions).toPandas()
    assert len(links) > 0
    # every pair is provision-before-statute within one sentence by
    # construction; canonicalization column populated for IPC/CrPC forms
    assert (links.canonical_statute.isin([
        "", "Indian Penal Code", "Criminal Procedure Code", "Constitution",
        "Income Tax Act", "Motor Vehicle Act", "Industrial Dispute Act",
        "Securitisation and Reconstruction of Financial Assets and "
        "Enforcement of Securities Interest Act"])).all()


def test_exact_name_role_join(spark):
    """Operates on *pre-coref* mentions (the engine's final mentions table is
    already reconciled by the pandas stage, so feed raw rows)."""
    rows = [
        ("d1", 0, "Amit Kumar", "PETITIONER"),
        ("d1", 1, "Amit  Kumar", "OTHER_PERSON"),     # whitespace-normalized hit
        ("d1", 2, "Sunil Verma", "OTHER_PERSON"),     # no match anywhere
        ("d1", 3, "Ravi Joshi", "JUDGE"),
        ("d1", 4, "Ravi Joshi", "LAWYER"),
        ("d1", 5, "ravi joshi", "OTHER_PERSON"),      # ambiguous → unchanged
        ("d2", 6, "Amit Kumar", "OTHER_PERSON"),      # per-doc scope: no match
    ]
    m = spark.createDataFrame(rows, ["doc_id", "ent_id", "text", "label"])
    got = {r.ent_id: r.resolved_label
           for r in rel.exact_name_role_join(m).collect()}
    assert got == {1: "PETITIONER", 2: "OTHER_PERSON", 5: "OTHER_PERSON",
                   6: "OTHER_PERSON"}


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("d", 1, 2), ("d", 2, 3), ("d", 5, 6)],
        ["doc_id", "src", "dst"])
    verts = spark.createDataFrame(
        [("d", i) for i in [1, 2, 3, 5, 6, 9]], ["doc_id", "ent_id"])
    comp = {(r.ent_id): r.cluster_id
            for r in rel.connected_components(edges, verts).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[9] == 9


def test_precedent_clusters_cc_agrees_with_core_on_pairs(spark, mentions):
    """CC clustering groups the same near-duplicate precedent pairs the
    greedy core groups (the generator's duplicates are unambiguous:
    transitive chains don't occur), modulo supra members which the
    relational form doesn't ingest."""
    cc = rel.precedent_clusters_cc(mentions).toPandas()
    corpus = synth.synthetic_corpus(spark, 20, partitions=4)
    recs = ops.extract_records(corpus)
    core = ops.precedent_clusters(recs).toPandas()
    # core clusters restricted to PRECEDENT-text members (exclude supra
    # person-name members): every such pair must share a CC cluster
    core_pairs = set()
    for (doc, cid), grp in core.groupby(["doc_id", "cluster_id"]):
        ms = [m for m in grp.member if " vs " in m or " versus " in m
              or " v. " in m or " v/s " in m]
        for a in ms:
            for b in ms:
                if a < b:
                    core_pairs.add((doc, a, b))
    cc_pairs = set()
    for (doc, cid), grp in cc.groupby(["doc_id", "cluster_id"]):
        ms = sorted(grp.member)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                cc_pairs.add((doc, a, b))
    assert core_pairs <= cc_pairs


def test_token_overlap_edges_cluster_same_precedents(spark, mentions):
    """Token-overlap Jaccard edges must connect near-identical precedent
    strings (same case cited with/without its citation suffix) and must
    never connect mentions of different documents."""
    edges = rel.token_overlap_edges(mentions, jaccard_threshold=0.5)
    e = edges.toPandas()
    assert len(e) > 0
    assert (e.src < e.dst).all()
    # intra-doc: both endpoints must be PRECEDENT ent_ids of the edge's doc
    pre = mentions.filter(F.col("label") == "PRECEDENT") \
        .select("doc_id", "ent_id").toPandas()
    valid = {(r.doc_id, r.ent_id) for r in pre.itertuples()}
    for r in e.itertuples():
        assert (r.doc_id, r.src) in valid and (r.doc_id, r.dst) in valid
    comp = rel.connected_components(
        edges, mentions.filter(F.col("label") == "PRECEDENT")
        .select("doc_id", "ent_id"))
    n_clusters = comp.select("doc_id", "cluster_id").distinct().count()
    n_verts = comp.count()
    assert 0 < n_clusters <= n_verts


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Pointer jumping: a 16-edge chain (diameter 16) must converge
    within max_iter=8 — plain min-label propagation would need ~16
    rounds and raise."""
    edges = spark.createDataFrame(
        [(0, i, i + 1) for i in range(16)], ["doc_id", "src", "dst"])
    verts = spark.createDataFrame(
        [(0, i) for i in range(17)], ["doc_id", "ent_id"])
    comp = {r.ent_id: r.cluster_id
            for r in rel.connected_components(edges, verts,
                                              max_iter=8).collect()}
    assert comp == {i: 0 for i in range(17)}


def test_connected_components_durable_checkpoint_identical(spark, tmp_path):
    """checkpoint_dir (durable parquet truncation) must not change the
    labeling."""
    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 3), (1, 7, 8)], ["doc_id", "src", "dst"])
    verts = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 9), (1, 7), (1, 8)],
        ["doc_id", "ent_id"])
    base = sorted((r.doc_id, r.ent_id, r.cluster_id)
                  for r in rel.connected_components(edges, verts).collect())
    durable = sorted(
        (r.doc_id, r.ent_id, r.cluster_id)
        for r in rel.connected_components(
            edges, verts, checkpoint_dir=str(tmp_path / "cc")).collect())
    assert durable == base


def test_interval_join_matches_bruteforce(spark):
    """Binned equi-join must produce exactly the nested-loop pair set,
    each pair once, across bin-spanning intervals and random points."""
    import random
    rng = random.Random(7)
    ivs = [(i, float(rng.randrange(0, 5000)),) for i in range(40)]
    ivs = [(i, s, s + rng.randrange(1, 9000)) for i, s in
           [(i, s) for i, (i2, s) in enumerate(ivs)]]
    pts = [(j, float(rng.randrange(0, 15000)), j * 1.5) for j in range(300)]
    intervals = spark.createDataFrame(ivs, ["iv_id", "lo", "hi"])
    points = spark.createDataFrame(pts, ["pt_id", "t", "v"])
    got = sorted((r.iv_id, r.pt_id) for r in rel.interval_join(
        intervals, points, "lo", "hi", "t", bin_seconds=600).collect())
    want = sorted((i, j) for i, lo, hi in ivs
                  for j, t, _ in pts if lo <= t < hi)
    assert got == want


def test_interval_join_boundary_semantics(spark):
    """start inclusive, end exclusive — including points exactly on a
    bin edge."""
    intervals = spark.createDataFrame([(0, 100.0, 700.0)],
                                      ["iv_id", "lo", "hi"])
    points = spark.createDataFrame(
        [(0, 100.0), (1, 699.999), (2, 700.0), (3, 99.999), (4, 600.0)],
        ["pt_id", "t"])
    got = sorted(r.pt_id for r in rel.interval_join(
        intervals, points, "lo", "hi", "t", bin_seconds=600).collect())
    assert got == [0, 1, 4]


def test_interval_join_timestamp_columns(spark):
    """Timestamp (NTZ) columns bin correctly via the timestamp cast."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    intervals = spark.createDataFrame(
        [(0, base, base + dt.timedelta(hours=1))], ["iv_id", "lo", "hi"])
    points = spark.createDataFrame(
        [(0, base), (1, base + dt.timedelta(minutes=59)),
         (2, base + dt.timedelta(hours=1)),
         (3, base - dt.timedelta(seconds=1))], ["pt_id", "t"])
    got = sorted(r.pt_id for r in rel.interval_join(
        intervals, points, "lo", "hi", "t").collect())
    assert got == [0, 1]


def test_session_window_gap_boundary(spark):
    """Spark's session_window merges an event landing EXACTLY gap
    seconds after the previous one (touching windows merge); only a
    strictly larger gap breaks the session — the boundary the DuckDB
    oracle mirrors with `diff > gap` as the break
    (queries.o_session_window_counts)."""
    import datetime as dt
    from pyspark.sql import functions as F
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=1799)),
         (1, base + dt.timedelta(seconds=1799 + 1800)),
         (1, base + dt.timedelta(seconds=1799 + 1800 + 1801))],
        ["user_id", "ts"])
    out = (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
           .agg(F.count("*").alias("n")).collect())
    assert sorted(r.n for r in out) == [1, 3]


def test_skyline_2d_fuzz_vs_bruteforce(spark):
    """Random point sets (with deliberate duplicates and ties; integer
    d1, and d2 drawn non-negative, negative, and fractional): the
    bucketed strict-cummax skyline must equal brute-force dominance
    filtering exactly — duplicates of a frontier point all survive
    (neither strictly dominates the other)."""
    import random
    from legal_ner_spark.operators import relational
    rng = random.Random(11)
    draws = [lambda: rng.randrange(20), lambda: rng.randrange(20),
             lambda: rng.randrange(-30, 0), lambda: rng.randrange(-20, 20),
             lambda: rng.randrange(40) / 8, lambda: rng.randrange(-40, 40) / 8]
    for trial, draw_b in enumerate(draws):
        pts = [(i, rng.randrange(20), draw_b()) for i in range(60)]
        pts += [(100 + i, pts[i][1], pts[i][2]) for i in range(5)]
        df = spark.createDataFrame(pts, ["pid", "a", "b"])
        got = sorted((r.pid, r.a, r.b)
                     for r in relational.skyline_2d(df, "a", "b")
                     .collect())
        want = sorted(
            (p, a, b) for (p, a, b) in pts
            if not any((ya >= a and yb >= b and (ya > a or yb > b))
                       for (_, ya, yb) in pts))
        assert got == want, f"trial {trial}"


def test_skyline_2d_empty_and_single(spark):
    from legal_ner_spark.operators import relational
    empty = spark.createDataFrame([], "pid int, a int, b int")
    assert relational.skyline_2d(empty, "a", "b").count() == 0
    one = spark.createDataFrame([(1, 5, 5)], ["pid", "a", "b"])
    assert [(r.pid, r.a, r.b) for r in
            relational.skyline_2d(one, "a", "b").collect()] \
        == [(1, 5, 5)]


def _align_records(spark, rows):
    """Records for `nearest_mention_align` from ``("doc", doc_id,
    [(kind, media_ref, offset), ...])`` and ``("men", doc_id,
    start_char, ent_id, label)`` tuples."""
    from pyspark.sql import Row, types as T
    span_t = T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType())]))
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("spans", span_t),
        T.StructField("start_char", T.IntegerType()),
        T.StructField("ent_id", T.IntegerType()),
        T.StructField("label", T.StringType())])
    out = []
    for r in rows:
        if r[0] == "doc":
            out.append(Row(doc_id=r[1], rec_type="doc",
                           spans=[{"kind": k, "text": "", "media_ref": m,
                                   "offset": o} for k, m, o in r[2]],
                           start_char=None, ent_id=None, label=None))
        else:
            out.append(Row(doc_id=r[1], rec_type="mention", spans=None,
                           start_char=r[2], ent_id=r[3], label=r[4]))
    return spark.createDataFrame(out, schema)


def test_nearest_mention_align_ties_and_edges(spark):
    """Hand-built doc: media at 10 with mentions at 5 and 15
    (equidistant → prefer the PRECEDING mention); two mentions at the
    same offset (→ min ent_id); media before all mentions (→ next
    side); media-only doc drops out."""
    from legal_ner_spark.operators import multimodal
    recs = _align_records(spark, [
        ("doc", "d1", [("image", "m://a", 10), ("scan", "m://b", 2)]),
        ("men", "d1", 5, 0, "COURT"), ("men", "d1", 15, 1, "STATUTE"),
        # same offset twins: min ent_id must win
        ("doc", "d2", [("image", "m://c", 8)]),
        ("men", "d2", 8, 3, "JUDGE"), ("men", "d2", 8, 2, "COURT"),
        # media-only doc: no alignment row at all
        ("doc", "d3", [("audio", "m://d", 1)]),
    ])
    got = {(r.doc_id, r.media_ref): (r.ent_id, r.label, r.dist)
           for r in multimodal.nearest_mention_align(recs).collect()}
    assert got == {
        ("d1", "m://a"): (0, "COURT", 5),   # tie 5↔15: preceding wins
        ("d1", "m://b"): (0, "COURT", 3),   # before all: next side
        ("d2", "m://c"): (2, "COURT", 0),   # same-sc twins: min ent_id
    }


def test_media_align_oracle_keeps_identical_spans(spark, tmp_path):
    """Two identical media spans (same doc, media_ref and offset) are
    two alignment rows, in `nearest_mention_align` and in the
    ``kg_media_align`` DuckDB oracle alike."""
    duckdb = pytest.importorskip("duckdb")
    from legal_ner_spark import queries
    from legal_ner_spark.operators import multimodal
    recs = _align_records(spark, [
        ("doc", "d1", [("image", "m://a", 10), ("image", "m://a", 10),
                       ("scan", "m://b", 30)]),
        ("men", "d1", 5, 0, "COURT"), ("men", "d1", 25, 1, "STATUTE"),
    ])
    path = str(tmp_path / "recs")
    recs.write.parquet(path)
    got = sorted(tuple(r) for r in multimodal.nearest_mention_align(
        recs).collect())
    sql = queries.o_kg_media_align().replace(
        queries._KG_SQL_SRC, f"read_parquet('{path}/*.parquet')")
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want
    assert got.count(("d1", "m://a", "image", 10, 0, "COURT", 5, 5)) == 2


def test_containment_pairs_asymmetric(spark):
    """A is a verbatim subset of B: containment(A→B) = 1.0 while
    B→A stays below threshold — the asymmetry Jaccard folds away."""
    from legal_ner_spark.operators import dedup
    a = "the quick brown fox jumps over the lazy dog"
    b = a + " and then runs far away into the deep dark woods tonight"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    got = {(r.src_doc, r.in_doc): r.containment
           for r in dedup.containment_pairs(
               dedup.shingle_rows(docs), threshold=0.8).collect()}
    assert got == {(1, 2): 1.0}
    # symmetric Jaccard on the same pair is well under 0.8
    j = dedup.ngram_jaccard_pairs(dedup.shingle_rows(docs),
                                  threshold=0.0).collect()
    assert j and j[0].jaccard < 0.8


def test_normalize_entity_text_matches_core_norm(spark):
    """The column form of the reference's text normalization equals the
    core's ``_norm`` on every fixture, including tabs, newlines and
    carriage returns at the ends."""
    from legal_ner_spark.core.postprocess import _norm
    from legal_ner_spark.functions.text import normalize_entity_text
    from legal_ner_spark.queries import TEXT_FIXTURES
    texts = TEXT_FIXTURES + ["\t\tA,  b\n", "\n", " \r x"]
    got = dict(spark.createDataFrame([(t,) for t in texts], ["text"])
               .select("text", normalize_entity_text(F.col("text")))
               .collect())
    assert got == {t: _norm(t) for t in texts}
