"""RDFS/OWL entailment, SPARQL Update, and SHACL-lite shape validation
(`operators/kgquery.py`: rdfs_entail / owl_extend / update_graph /
update_graph_commit / validate_shapes).

The entailment fixtures are hand-built so every rule fires on a row the
test can name; the fixpoint gates (entail twice == entail once) are the
semantic anchor — a one-pass stratification that is NOT a fixpoint would
fail them, not just undershoot.
"""

import os

import pytest

from legal_ner_spark.operators import graph
from legal_ner_spark.operators import kgquery as kq
from legal_ner_spark.plans import publish as pub


def T(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, d) for s, p, o, d in
         ((r if len(r) == 4 else (*r, None)) for r in rows)],
        "subj string, pred string, obj string, doc_id string")


def spo_set(df):
    return {(r.subj, r.pred, r.obj)
            for r in df.select("subj", "pred", "obj").collect()}


# --- rdfs_entail -----------------------------------------------------------

@pytest.fixture(scope="module")
def rdfs_graph(spark):
    return T(spark, [
        # ontology (schema rows live in the graph)
        ("has_petitioner", "subproperty_of", "has_party"),
        ("has_respondent", "subproperty_of", "has_party"),
        ("has_party", "subproperty_of", "involves"),
        ("decided_by", "domain", "judgment"),
        ("decided_by", "range", "court"),
        ("has_party", "domain", "judgment"),
        ("judgment", "subclass_of", "legal_document"),
        ("legal_document", "subclass_of", "document"),
        ("court", "subclass_of", "institution"),
        # instance
        ("d1", "has_petitioner", "alice", "d1"),
        ("d2", "has_respondent", "bob", "d2"),
        ("d1", "decided_by", "sc", "d1"),
        ("x9", "type", "judgment"),          # asserted type feeds rdfs9
    ])


def test_rdfs_every_rule_fires(spark, rdfs_graph):
    got = spo_set(kq.rdfs_entail(rdfs_graph, derived_only=True))
    # rdfs5: subproperty transitivity
    assert ("has_petitioner", "subproperty_of", "involves") in got
    # rdfs11: subclass transitivity
    assert ("judgment", "subclass_of", "document") in got
    # rdfs7: instance triple through the CLOSED hierarchy (2 levels)
    assert ("d1", "has_party", "alice") in got
    assert ("d1", "involves", "alice") in got
    # rdfs2/rdfs3: domain/range typing
    assert ("d1", "type", "judgment") in got
    assert ("sc", "type", "court") in got
    # rdfs2 over an rdfs7-DERIVED triple (has_party has a domain)
    assert ("d2", "type", "judgment") in got
    # rdfs9 through the closed class hierarchy, over derived AND
    # asserted types
    assert ("d1", "type", "legal_document") in got
    assert ("d1", "type", "document") in got
    assert ("sc", "type", "institution") in got
    assert ("x9", "type", "document") in got


def test_rdfs_no_spurious_facts(spark, rdfs_graph):
    got = spo_set(kq.rdfs_entail(rdfs_graph, derived_only=True))
    # nothing types d2 as court, nothing gives bob a party role, no
    # reflexive subclass rows
    assert not any(s == "bob" and p != "type" for s, p, o in got)
    assert ("d2", "type", "court") not in got
    assert all(s != o for s, p, o in got
               if p in ("subclass_of", "subproperty_of"))


def test_rdfs_fixpoint_idempotent(spark, rdfs_graph):
    once = kq.rdfs_entail(rdfs_graph)
    twice = kq.rdfs_entail(once)
    assert spo_set(twice) == spo_set(once)


def test_rdfs_derived_only_excludes_asserted(spark, rdfs_graph):
    derived = kq.rdfs_entail(rdfs_graph, derived_only=True)
    assert spo_set(derived).isdisjoint(spo_set(rdfs_graph))
    full = kq.rdfs_entail(rdfs_graph)
    assert spo_set(full) == spo_set(derived) | spo_set(rdfs_graph)
    # derived rows carry no provenance
    assert derived.filter(derived.doc_id.isNotNull()).count() == 0


def test_rdfs_refuses_meta_level_schema(spark):
    g = T(spark, [("type", "subproperty_of", "relates"),
                  ("d1", "decided_by", "sc")])
    with pytest.raises(ValueError, match="rho-df"):
        kq.rdfs_entail(g)
    g2 = T(spark, [("subclass_of", "domain", "cls")])
    with pytest.raises(ValueError, match="rho-df"):
        kq.rdfs_entail(g2)


def test_rdfs_no_schema_is_identity(spark):
    g = T(spark, [("d1", "decided_by", "sc", "d1")])
    assert spo_set(kq.rdfs_entail(g)) == spo_set(g)
    assert kq.rdfs_entail(g, derived_only=True).count() == 0


# --- owl_extend ------------------------------------------------------------

@pytest.fixture(scope="module")
def owl_graph(spark):
    return T(spark, [
        ("cited_by", "inverse_of", "cites"),
        ("cites", "type", "transitive_property"),
        ("near", "type", "symmetric_property"),
        ("a", "cites", "b"), ("b", "cites", "c"), ("c", "cites", "d"),
        ("x", "near", "y"),
        # an edge asserted on the INVERSE pred must feed the closure
        ("e", "cited_by", "d"),
    ])


def test_owl_every_rule_fires(spark, owl_graph):
    got = spo_set(kq.owl_extend(owl_graph, derived_only=True))
    # transitive closure (3-hop chain)
    assert ("a", "cites", "c") in got and ("a", "cites", "d") in got
    # inverse images of asserted and closed edges
    assert ("b", "cited_by", "a") in got
    assert ("d", "cited_by", "a") in got
    # inverse_of is symmetric: the cited_by assertion yields a cites
    # edge, which then participates in the closure
    assert ("d", "cites", "e") in got
    assert ("a", "cites", "e") in got
    assert ("e", "cited_by", "a") in got
    # symmetric property
    assert ("y", "near", "x") in got


def test_owl_fixpoint_idempotent(spark, owl_graph):
    once = kq.owl_extend(owl_graph)
    twice = kq.owl_extend(once)
    assert spo_set(twice) == spo_set(once)


def test_owl_undeclared_preds_untouched(spark):
    g = T(spark, [("a", "likes", "b"), ("b", "likes", "c")])
    assert kq.owl_extend(g, derived_only=True).count() == 0


def test_owl_max_hops_bounds_closure(spark):
    chain = [("n%d" % i, "cites", "n%d" % (i + 1)) for i in range(6)]
    g = T(spark, chain + [("cites", "type", "transitive_property")])
    got = spo_set(kq.owl_extend(g, max_hops=2, derived_only=True))
    assert ("n0", "cites", "n2") in got
    assert ("n0", "cites", "n3") not in got
    # two disjoint 6-node chains with an inverse declaration: derived =
    # the closure within max_hops minus the asserted edges, plus the
    # inverse image of every closed pair — nothing leaks across chains
    chains = [(f"{c}{i}", "cites", f"{c}{i + 1}")
              for c in "pq" for i in range(5)]
    g2 = T(spark, chains + [("cites", "type", "transitive_property"),
                            ("cited_by", "inverse_of", "cites")])
    closed = {(f"{c}{i}", f"{c}{j}") for c in "pq"
              for i in range(6) for j in range(i + 1, min(i + 3, 6))}
    want = ({(s, "cites", o) for s, o in closed}
            - {(s, p, o) for s, p, o in chains}) \
        | {(o, "cited_by", s) for s, o in closed}
    assert spo_set(kq.owl_extend(g2, max_hops=2,
                                 derived_only=True)) == want


# --- update_graph ----------------------------------------------------------

@pytest.fixture()
def store_graph(spark):
    return T(spark, [
        ("d1", "decided_by", "sc", "d1"),
        ("d2", "decided_by", "hc", "d2"),
        ("d2", "decided_by", "hc", "d2b"),   # same fact, two documents
        ("d1", "has_judge", "j1", "d1"),
    ])


def test_update_delete_insert_where(spark, store_graph):
    out = kq.update_graph(store_graph,
                          where=[("?d", "decided_by", "?c")],
                          delete=[("?d", "decided_by", "?c")],
                          insert=[("?d", "heard_by", "?c")])
    assert spo_set(out) == {("d1", "has_judge", "j1"),
                            ("d1", "heard_by", "sc"),
                            ("d2", "heard_by", "hc")}
    # delete drops EVERY provenance row of a matched 3-tuple; inserts
    # are set-semantic with null provenance
    assert out.count() == 3
    assert out.filter("pred = 'heard_by' and doc_id is not null")\
        .count() == 0


def test_update_where_reads_original_graph(spark, store_graph):
    # insert template re-asserts what delete removes: per the spec both
    # instantiate from bindings over the ORIGINAL graph, so this is a
    # provenance-stripping no-op on the 3-tuple level, not a wipe
    out = kq.update_graph(store_graph,
                          where=[("?d", "decided_by", "?c")],
                          delete=[("?d", "decided_by", "?c")],
                          insert=[("?d", "decided_by", "?c")])
    assert spo_set(out) == spo_set(store_graph)


def test_update_ground_forms(spark, store_graph):
    ins = kq.update_graph(store_graph,
                          insert=[("d3", "decided_by", "sc")])
    assert ("d3", "decided_by", "sc") in spo_set(ins)
    assert ins.count() == store_graph.count() + 1
    # inserting an existing 3-tuple is a no-op
    noop = kq.update_graph(store_graph,
                           insert=[("d1", "has_judge", "j1")])
    assert noop.count() == store_graph.count()
    dele = kq.update_graph(store_graph,
                           delete=[("d2", "decided_by", "hc")])
    assert dele.count() == 2  # both provenance rows gone


def test_update_refuses_bad_input(spark, store_graph):
    with pytest.raises(ValueError, match="ground"):
        kq.update_graph(store_graph, insert=[("?d", "p", "o")])
    with pytest.raises(ValueError, match="delete and/or insert"):
        kq.update_graph(store_graph, where=[("?d", "decided_by", "?c")])
    with pytest.raises(ValueError, match="not bound"):
        kq.update_graph(store_graph,
                        where=[("?d", "decided_by", "?c")],
                        insert=[("?d", "p", "?nope")])


def test_update_graph_commit_snapshots(spark, store_graph, tmp_path):
    root = str(tmp_path / "kgstore")
    pub.publish_tables({"triples": store_graph}, root, snapshot_id="s0")
    man = kq.update_graph_commit(
        spark, root, snapshot_id="s1",
        where=[("?d", "decided_by", "?c")],
        delete=[("?d", "decided_by", "?c")],
        insert=[("?d", "heard_by", "?c")])
    assert man["snapshot"] == "s1"
    cur = pub.read_published(spark, root, "triples")
    assert ("d1", "heard_by", "sc") in spo_set(cur)
    assert not any(p == "decided_by" for _, p, _ in spo_set(cur))
    # time travel: the superseded snapshot is intact
    old = pub.read_snapshot(spark, root, "triples", "s0")
    assert spo_set(old) == spo_set(store_graph)
    # retention: a second update with retain=2 keeps s1+s2, drops s0
    kq.update_graph_commit(spark, root, snapshot_id="s2",
                           insert=[("d9", "decided_by", "sc")],
                           retain=2)
    assert spo_set(pub.read_snapshot(spark, root, "triples", "s1")) \
        == spo_set(cur)
    with pytest.raises(ValueError, match="not retained"):
        pub.read_snapshot(spark, root, "triples", "s0")
    assert ("d9", "decided_by", "sc") in spo_set(
        pub.read_published(spark, root, "triples"))


# --- validate_shapes --------------------------------------------------------

@pytest.fixture(scope="module")
def shacl_graph(spark):
    return T(spark, [
        ("d1", "decided_by", "sc"), ("d1", "decided_by", "hc"),
        ("d2", "decided_by", "sc"), ("d2", "has_judge", "j1"),
        ("d3", "decided_by", "xx"),
        ("d3", "has_judge", "J-bad"),
        # a non-focus subject: never validated
        ("p1", "part_of", "ipc"),
    ])


SHAPES = [{"shape": "JudgmentShape", "target_pred": "decided_by",
           "constraints": [
               {"path": "decided_by", "max_count": 1},
               {"path": "has_judge", "min_count": 1},
               {"path": "decided_by", "in": ["sc", "hc"]},
               {"path": "has_judge", "pattern": "^j[0-9]+$"},
           ]}]


def test_shapes_each_constraint(spark, shacl_graph):
    got = {(r.shape, r.focus, r.path, r.constraint, r.value)
           for r in kq.validate_shapes(shacl_graph, SHAPES).collect()}
    assert ("JudgmentShape", "d1", "decided_by", "max_count=1", "2") \
        in got
    assert ("JudgmentShape", "d1", "has_judge", "min_count=1", "0") \
        in got
    assert ("JudgmentShape", "d3", "decided_by", "in", "xx") in got
    assert ("JudgmentShape", "d3", "has_judge", "pattern=^j[0-9]+$",
            "J-bad") in got
    # conforming focus node produces no rows; non-focus never validated
    assert not any(f == "d2" for _, f, _, _, _ in got)
    assert not any(f == "p1" for _, f, _, _, _ in got)


def test_shapes_clean_graph_conforms(spark):
    g = T(spark, [("d1", "decided_by", "sc"), ("d1", "has_judge", "j1")])
    assert kq.validate_shapes(g, SHAPES).count() == 0


def test_shapes_refuses_empty(spark, shacl_graph):
    with pytest.raises(ValueError, match="no constraints"):
        kq.validate_shapes(shacl_graph,
                           [{"shape": "S", "target_pred": "p",
                             "constraints": []}])


# --- materialize_rules -------------------------------------------------------

ANC_PROG = [
    {"body": [("?x", "parent", "?y")], "head": ("?x", "anc", "?y")},
    {"body": [("?x", "anc", "?y"), ("?y", "parent", "?z")],
     "head": ("?x", "anc", "?z")},
]


def test_rules_ancestor_fixpoint(spark, tmp_path):
    # a 6-node chain: the linear-recursive program needs 5 semi-naive
    # rounds; the fixpoint is all 15 ordered pairs — in both truncation
    # modes (durable: the known set is a union of parquet round-trips)
    g = T(spark, [("n%d" % i, "parent", "n%d" % (i + 1))
                  for i in range(5)])
    want = {("n%d" % i, "n%d" % j)
            for i in range(5) for j in range(i + 1, 6)}
    for ckpt in (None, str(tmp_path / "ckpt")):
        out = kq.materialize_rules(g, ANC_PROG, derived_only=True,
                                   checkpoint_dir=ckpt)
        anc = {(r.subj, r.obj)
               for r in out.filter("pred = 'anc'").collect()}
        assert anc == want
        assert out.count() == len(want)  # nothing but anc facts derived


def test_rules_round_jobs_follow_the_delta(spark, count_jobs):
    # a 12-edge ancestor chain takes 12 semi-naive rounds; a round
    # deduplicates, truncates and counts only its new facts, ~8 jobs:
    # ~4 AQE stage jobs and a two-stage job for the match, one
    # localCheckpoint and 2 for the predicate-count probe (105 in all)
    g = T(spark, [("n%d" % i, "parent", "n%d" % (i + 1))
                  for i in range(12)])
    want = 12 * 13 // 2
    for run in (kq.materialize_rules, kq.materialize_rules_stratified):
        n, jobs = count_jobs(
            lambda: run(g, ANC_PROG, derived_only=True).count())
        assert n == want
        assert jobs <= 110, (run.__name__, jobs)


# a diamond a→b→d, a→c→d (and on to e): anc(a, d) comes from two
# bindings of the anc∘parent rule and, through the second rule with the
# same head, from both pinned legs of anc∘anc, all in one round
DIAMOND = [("a", "parent", "b"), ("b", "parent", "d"),
           ("a", "parent", "c"), ("c", "parent", "d"),
           ("d", "parent", "e")]
DUP_PROG = ANC_PROG + [{"body": [("?x", "anc", "?y"), ("?y", "anc", "?z")],
                        "head": ("?x", "anc", "?z")}]


def _hops(edges, directed=True):
    """``{(src, dst): fewest hops}`` over ``(src, dst)`` edges."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    out = {}
    for s in adj:
        frontier, d = {s}, 0
        while frontier:
            d += 1
            frontier = {n for f in frontier for n in adj.get(f, ())
                        if (s, n) not in out}
            out.update({(s, n): d for n in frontier})
    return out


def _as_set(df):
    """The rows of ``df``, which must hold no duplicate."""
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == len(set(rows)), sorted(rows)
    return set(rows)


def _anc(rows):
    """The ancestor facts of ``(subj, parent, obj)`` rows."""
    return {(a, "anc", b) for a, b in _hops([(s, o) for s, _, o in rows])}


@pytest.mark.parametrize("durable", [False, True])
def test_duplicate_derivations_come_back_once(spark, tmp_path, durable):
    ckpt = str(tmp_path / "ckpt") if durable else None

    def spo(df):
        return _as_set(df.select("subj", "pred", "obj"))

    g = T(spark, DIAMOND)
    drv = kq.materialize_rules(g, DUP_PROG, derived_only=True,
                               checkpoint_dir=ckpt)
    assert spo(drv) == _anc(DIAMOND)
    assert spo(kq.materialize_rules_stratified(
        g, DUP_PROG, derived_only=True, checkpoint_dir=ckpt)) == _anc(DIAMOND)

    # insertion: the batch closes the diamond, so round 0 already
    # derives anc(a, d) twice
    base = [DIAMOND[0], DIAMOND[2]]
    b1, b2 = T(spark, base), T(spark, DIAMOND[1:2] + DIAMOND[3:])
    full = b1.unionByName(kq.materialize_rules(b1, DUP_PROG,
                                               derived_only=True))
    new = kq.materialize_rules_delta(full.unionByName(b2), b2, DUP_PROG,
                                     checkpoint_dir=ckpt)
    assert spo(new) == _anc(DIAMOND) - _anc(base)

    # deletion: losing a→b endangers anc(a, d) along every derivation,
    # and a→c→d re-derives it along two
    kept = DIAMOND[1:]
    out = kq.materialize_rules_retract(T(spark, kept), drv,
                                       T(spark, DIAMOND[:1]), DUP_PROG,
                                       checkpoint_dir=ckpt)
    assert spo(out) == _anc(kept)

    edges = [(s, o) for s, _, o in DIAMOND]
    e = spark.createDataFrame(edges, "src string, dst string")
    # every bound is the graph's longest shortest path, 3 hops
    assert _as_set(kq.property_path(e, 3, checkpoint_dir=ckpt)) == {
        (s, d, h) for (s, d), h in _hops(edges).items()}
    und = {k: h for k, h in _hops(edges, directed=False).items()
           if k[0] != k[1]}
    src = spark.createDataFrame([("a",)], "node string")
    assert _as_set(graph.bfs_distances(e, src, max_depth=3,
                                       checkpoint_dir=ckpt)) == {
        ("a", 0)} | {(n, h) for (s, n), h in und.items() if s == "a"}
    lms = spark.createDataFrame([("a",), ("e",)], "node string")
    assert _as_set(graph.landmark_distances(e, lms, max_depth=3,
                                            checkpoint_dir=ckpt)) == {
        ("a", "a", 0), ("e", "e", 0)} | {
        (s, n, h) for (s, n), h in und.items() if s in ("a", "e")}


def test_rules_agree_with_closure(spark):
    # on a branchy cyclic graph the program must equal the dedicated
    # closure operator (keep_self=True: the program derives cycle
    # self-pairs exactly like path semantics)
    g = T(spark, [("a", "parent", "b"), ("b", "parent", "c"),
                  ("c", "parent", "a"), ("b", "parent", "d")])
    out = kq.materialize_rules(g, ANC_PROG, derived_only=True)
    anc = {(r.subj, r.obj) for r in out.collect()}
    cl = kq.closure(g, "parent", keep_self=True)
    want = {(r.subj, r.obj) for r in cl.collect()}
    assert anc == want


def test_rules_nonlinear_same_generation(spark):
    facts = T(spark, [("a", "up", "m1"), ("b", "up", "m2"),
                      ("m1", "flat", "m2"),
                      ("m2", "down", "b2")])
    prog = [{"body": [("?x", "flat", "?y")], "head": ("?x", "sg", "?y")},
            {"body": [("?x", "up", "?a"), ("?a", "sg", "?b"),
                      ("?b", "down", "?y")],
             "head": ("?x", "sg", "?y")}]
    out = kq.materialize_rules(facts, prog, derived_only=True)
    got = {(r.subj, r.obj) for r in out.collect()}
    assert got == {("m1", "m2"), ("a", "b2")}


def test_rules_idempotent_and_round_bound(spark):
    g = T(spark, [("n%d" % i, "parent", "n%d" % (i + 1))
                  for i in range(5)])
    once = kq.materialize_rules(g, ANC_PROG)
    twice = kq.materialize_rules(once, ANC_PROG)
    assert spo_set(twice) == spo_set(once)
    # max_rounds cuts the fixpoint short (depth > 2 pairs missing)
    cut = kq.materialize_rules(g, ANC_PROG, max_rounds=1,
                               derived_only=True)
    assert cut.count() < 15
    assert ("n0", "anc", "n1") in spo_set(cut)


def test_rules_multi_head_shares_body(spark):
    g = T(spark, [("d1", "decided_by", "sc")])
    prog = [{"body": [("?d", "decided_by", "?c")],
             "head": [("?c", "hears", "?d"), ("?d", "is", "judgment")]}]
    out = kq.materialize_rules(g, prog, derived_only=True)
    assert spo_set(out) == {("sc", "hears", "d1"),
                            ("d1", "is", "judgment")}


def test_rules_refusals(spark):
    g = T(spark, [("a", "parent", "b")])
    with pytest.raises(ValueError, match="path expression"):
        kq.materialize_rules(g, [{"body": [("?x", "parent+", "?y")],
                                  "head": ("?x", "a", "?y")}])
    with pytest.raises(ValueError, match="MONOTONE"):
        kq.materialize_rules(g, [{"body": [("?x", "parent", "?y")],
                                  "head": ("?x", "a", "?y"),
                                  "optional": [("?x", "q", "?z")]}])
    with pytest.raises(ValueError, match="at least one rule"):
        kq.materialize_rules(g, [])


# --- graph_diff --------------------------------------------------------------

def test_graph_diff_and_snapshot_audit(spark, tmp_path):
    a = T(spark, [("s", "p", "o"), ("s2", "p", "o2")])
    b = T(spark, [("s", "p", "o"), ("s3", "p", "o3")])
    got = {(r.subj, r.pred, r.obj, r.change)
           for r in kq.graph_diff(a, b).collect()}
    assert got == {("s3", "p", "o3", "added"),
                   ("s2", "p", "o2", "removed")}
    # identical graphs (and pure provenance/multiplicity changes) diff
    # to empty
    a2 = T(spark, [("s", "p", "o"), ("s", "p", "o")])
    assert kq.graph_diff(a, a2.unionByName(
        T(spark, [("s2", "p", "o2")]))).count() == 0
    # the time-travel audit loop: snapshot, update, diff the snapshots
    root = str(tmp_path / "store")
    pub.publish_tables({"triples": a}, root, snapshot_id="s0")
    kq.update_graph_commit(spark, root, snapshot_id="s1",
                           delete=[("s2", "p", "o2")],
                           insert=[("s4", "p", "o4")])
    d = kq.graph_diff(pub.read_snapshot(spark, root, "triples", "s0"),
                      pub.read_snapshot(spark, root, "triples", "s1"))
    assert {(r.subj, r.change) for r in d.collect()} == \
        {("s4", "added"), ("s2", "removed")}


# --- materialize_rules_delta (incremental insertion-only Datalog) ------------

def test_rules_delta_matches_full_recompute(spark):
    # chain edges split so recursion must cross the batch boundary:
    # batch 1 = even edges, batch 2 = odd edges of a 6-node chain
    edges = [("n%d" % i, "parent", "n%d" % (i + 1)) for i in range(5)]
    b1 = T(spark, edges[0::2])
    b2 = T(spark, edges[1::2])
    m1 = kq.materialize_rules(b1, ANC_PROG)
    full = m1.unionByName(b2)
    new = kq.materialize_rules_delta(full, b2, ANC_PROG)
    got = spo_set(full.unionByName(new))
    want = spo_set(kq.materialize_rules(b1.unionByName(b2), ANC_PROG))
    assert got == want
    # and the new facts really are new: none was in the prior fixpoint
    assert not (spo_set(new) & spo_set(m1))


def test_rules_delta_cross_batch_bridge(spark):
    # batch 1 builds two disjoint 3-node chains, batch 2 adds the ONE
    # bridging edge — every cross-chain ancestor pair must appear,
    # and nothing already derived may be re-emitted
    c1 = [("a%d" % i, "parent", "a%d" % (i + 1)) for i in range(2)]
    c2 = [("b%d" % i, "parent", "b%d" % (i + 1)) for i in range(2)]
    b1 = T(spark, c1 + c2)
    m1 = kq.materialize_rules(b1, ANC_PROG)
    bridge = T(spark, [("a2", "parent", "b0")])
    new = kq.materialize_rules_delta(m1.unionByName(bridge), bridge,
                                     ANC_PROG)
    got = {(r.subj, r.obj) for r in new.filter("pred = 'anc'").collect()}
    # exactly the anc pairs that cross the bridge — 3 sources × 3 sinks
    want = {("a%d" % i, "b%d" % j) for i in range(3) for j in range(3)}
    assert got == want
    assert new.count() == len(want)


def test_rules_delta_replay_is_noop(spark):
    edges = [("n%d" % i, "parent", "n%d" % (i + 1)) for i in range(4)]
    b1, b2 = T(spark, edges[:2]), T(spark, edges[2:])
    m1 = kq.materialize_rules(b1, ANC_PROG)
    full = m1.unionByName(b2)
    new = kq.materialize_rules_delta(full, b2, ANC_PROG)
    # replay: the batch's facts and consequences are all already known
    replay = kq.materialize_rules_delta(full.unionByName(new), b2,
                                        ANC_PROG)
    assert replay.count() == 0


def test_rules_delta_refusals(spark):
    g = T(spark, [("a", "parent", "b")])
    with pytest.raises(ValueError, match="path expression"):
        kq.materialize_rules_delta(g, g, [{"body": [("?x", "parent+",
                                                     "?y")],
                                           "head": ("?x", "a", "?y")}])
    with pytest.raises(ValueError, match="MONOTONE"):
        kq.materialize_rules_delta(g, g, [{"body": [("?x", "parent",
                                                     "?y")],
                                           "head": ("?x", "a", "?y"),
                                           "minus": [("?x", "q", "?z")]}])


def test_stream_rules_materialize_matches_batch(spark, tmp_path):
    """The continuous program over three arriving triple files must end
    with EXACTLY the batch fixpoint over the union — including ancestor
    pairs whose edges arrived in different batches — and a restart over
    the same checkpoint must change nothing."""
    import time
    from legal_ner_spark.streaming.stream import (stream_rules_materialize,
                                                  read_rules_facts)

    edges = [("n%d" % i, "parent", "n%d" % (i + 1), "d0") for i in range(5)]
    batches = [T(spark, edges[0:2]), T(spark, edges[2:4]),
               T(spark, edges[4:5])]
    in_dir = str(tmp_path / "tri_arrivals")
    now, seen = time.time(), set()
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(os.path.join(in_dir, f), (t, t))

    state = str(tmp_path / "rules_state")
    ckpt = str(tmp_path / "rules_ckpt")
    q = stream_rules_materialize(spark, in_dir, state, ckpt, ANC_PROG)
    assert q.awaitTermination(180)

    got = spo_set(read_rules_facts(spark, state))
    all_tri = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = spo_set(kq.materialize_rules(all_tri, ANC_PROG))
    assert got == want
    # no fact stored twice across batch subdirs
    assert read_rules_facts(spark, state).count() == len(want)

    # restart over the same checkpoint: a no-op
    q2 = stream_rules_materialize(spark, in_dir, state, ckpt, ANC_PROG)
    assert q2.awaitTermination(180)
    assert spo_set(read_rules_facts(spark, state)) == want
    assert read_rules_facts(spark, state).count() == len(want)

    # a bad program fails at submit, before any batch runs
    with pytest.raises(ValueError, match="MONOTONE"):
        stream_rules_materialize(
            spark, in_dir, state, ckpt,
            [{"body": [("?x", "parent", "?y")], "head": ("?x", "a", "?y"),
              "optional": [("?x", "q", "?z")]}])


# --- rdfs_rules: the rho-df fragment as a rule program -----------------------

def test_rdfs_rules_program_equals_rdfs_entail(spark, rdfs_graph):
    # the declarative program and the compiled one-pass stratification
    # must materialize the SAME entailment — every rule interaction in
    # the fixture (rdfs2 over an rdfs7-derived triple, rdfs9 over
    # derived types) exercises the semi-naive rounds
    prog_out = spo_set(kq.materialize_rules(rdfs_graph, kq.rdfs_rules(),
                                            derived_only=True))
    entail_out = spo_set(kq.rdfs_entail(rdfs_graph, derived_only=True))
    assert prog_out == entail_out


def test_rdfs_incremental_via_rules(spark, rdfs_graph):
    # INCREMENTAL RDFS: new instance facts fold into the materialized
    # entailment via materialize_rules_delta; the result must equal a
    # full rdfs_entail over the grown graph (the compiled operator is
    # rebuild-only — the program form is the maintainable path)
    m0 = kq.materialize_rules(rdfs_graph, kq.rdfs_rules())
    batch = T(spark, [("d3", "has_respondent", "carol", "d3"),
                      ("d3", "decided_by", "hc", "d3")])
    new = kq.materialize_rules_delta(m0.unionByName(batch), batch,
                                     kq.rdfs_rules())
    got = spo_set(m0.unionByName(batch).unionByName(new))
    want = spo_set(kq.rdfs_entail(rdfs_graph.unionByName(batch)))
    assert got == want
    # the fold derived the batch's full entailment chain
    new3 = spo_set(new)
    assert ("d3", "has_party", "carol") in new3
    assert ("d3", "involves", "carol") in new3
    assert ("d3", "type", "document") in new3
    assert ("hc", "type", "institution") in new3


# --- materialize_rules_retract (DRed deletion maintenance) --------------------

def _dred_check(spark, base_rows, del_rows, prog, checkpoint_dir=None):
    """retract(asserted, derived, deleted) ∪ asserted must equal the
    from-scratch fixpoint over the post-delete base."""
    base = T(spark, base_rows)
    dele = T(spark, del_rows)
    kept = base.join(dele.select("subj", "pred", "obj"),
                     on=["subj", "pred", "obj"], how="left_anti")
    drv = kq.materialize_rules(base, prog, derived_only=True,
                               checkpoint_dir=checkpoint_dir)
    new_drv = kq.materialize_rules_retract(kept, drv, dele, prog,
                                           checkpoint_dir=checkpoint_dir)
    got = spo_set(kept) | spo_set(new_drv)
    want = spo_set(kq.materialize_rules(kept, prog))
    assert got == want
    # derived-set hygiene: nothing asserted leaks into the derived set
    assert spo_set(new_drv).isdisjoint(spo_set(kept))
    return spo_set(new_drv)


def test_dred_chain_cut(spark, tmp_path):
    # cutting the middle edge of a 6-node chain must drop exactly the
    # cross-cut ancestor pairs, in both truncation modes
    edges = [("n%d" % i, "parent", "n%d" % (i + 1)) for i in range(5)]
    want = ({("n%d" % i, "n%d" % j) for i in range(3)
             for j in range(i + 1, 3)}
            | {("n%d" % i, "n%d" % j) for i in range(3, 6)
               for j in range(i + 1, 6)})
    for ckpt in (None, str(tmp_path / "ckpt")):
        new_drv = _dred_check(spark, edges, [edges[2]], ANC_PROG,
                              checkpoint_dir=ckpt)
        anc = {(s, o) for s, p, o in new_drv if p == "anc"}
        assert anc == want


def test_dred_alternative_derivation_survives(spark):
    # diamond: a→b→d and a→c→d; deleting a→b must NOT drop anc(a,d)
    # (the re-derive phase restores it through the surviving path)
    edges = [("a", "parent", "b"), ("b", "parent", "d"),
             ("a", "parent", "c"), ("c", "parent", "d")]
    new_drv = _dred_check(spark, edges, [edges[0]], ANC_PROG)
    anc = {(s, o) for s, p, o in new_drv if p == "anc"}
    assert ("a", "d") in anc          # survived via a→c→d
    assert ("a", "b") not in anc      # the deleted edge's own pair fell
    assert ("b", "d") in anc          # untouched branch intact


def test_dred_still_asserted_fact_survives(spark):
    # anc(a,x) is BOTH derived (from parent a→x) and asserted as a base
    # fact; deleting the parent edge must keep it — as an asserted fact,
    # outside the derived set
    base = [("a", "parent", "x"), ("a", "anc", "x")]
    new_drv = _dred_check(spark, base, [base[0]], ANC_PROG)
    assert ("a", "anc", "x") not in new_drv   # asserted, not derived


def test_dred_insert_then_retract_roundtrip(spark):
    # folding a batch in with the insertion delta and retracting the
    # same batch with DRed must restore the original derived set
    edges = [("n%d" % i, "parent", "n%d" % (i + 1)) for i in range(4)]
    b1, b2 = T(spark, edges[:2]), T(spark, edges[2:])
    drv1 = kq.materialize_rules(b1, ANC_PROG, derived_only=True)
    full = b1.unionByName(drv1).unionByName(b2)
    new = kq.materialize_rules_delta(full, b2, ANC_PROG)
    drv2 = drv1.unionByName(new)
    back = kq.materialize_rules_retract(b1, drv2, b2, ANC_PROG)
    assert spo_set(back) == spo_set(drv1)


def test_dred_noop_delete_of_duplicate_provenance(spark):
    # the deleted 3-tuple is still asserted (second provenance row):
    # nothing changes
    base = [("a", "parent", "b", "d1"), ("a", "parent", "b", "d2")]
    asserted = T(spark, base[:1])    # post-delete: one row remains
    drv = kq.materialize_rules(T(spark, base), ANC_PROG,
                               derived_only=True)
    out = kq.materialize_rules_retract(asserted, drv,
                                       T(spark, base[1:]), ANC_PROG)
    assert spo_set(out) == spo_set(drv)


def test_dred_nonlinear_program(spark):
    # same-generation (non-linear recursion): delete the flat edge the
    # whole relation hangs on — everything derived must fall
    facts = [("a", "up", "m1"), ("b", "up", "m2"),
             ("m1", "flat", "m2"), ("m2", "down", "b2")]
    prog = [{"body": [("?x", "flat", "?y")], "head": ("?x", "sg", "?y")},
            {"body": [("?x", "up", "?a"), ("?a", "sg", "?b"),
                      ("?b", "down", "?y")],
             "head": ("?x", "sg", "?y")}]
    new_drv = _dred_check(spark, facts, [facts[2]], prog)
    assert new_drv == set()


def test_dred_refuses_nonmonotone(spark):
    g = T(spark, [("a", "parent", "b")])
    with pytest.raises(ValueError, match="MONOTONE"):
        kq.materialize_rules_retract(
            g, g, g, [{"body": [("?x", "parent", "?y")],
                       "head": ("?x", "a", "?y"),
                       "minus": [("?x", "q", "?z")]}])


# --- update_graph_maintain (update + view maintenance) ------------------------

def _maintain_check(spark, base_rows, prog, **update):
    base = T(spark, base_rows)
    drv = kq.materialize_rules(base, prog, derived_only=True)
    na, nd = kq.update_graph_maintain(base, drv, prog, **update)
    got = spo_set(na) | spo_set(nd)
    want = spo_set(kq.materialize_rules(na, prog))
    assert got == want
    assert spo_set(nd).isdisjoint(spo_set(na))   # hygiene
    return na, nd


def test_maintain_delete_insert_where(spark):
    # rename an edge mid-chain: the fixpoint must follow BOTH halves —
    # pairs through the old edge fall, pairs through the new one rise
    prog = [{"body": [("?x", "parent", "?y")],
             "head": ("?x", "anc", "?y")},
            {"body": [("?x", "anc", "?y"), ("?y", "parent", "?z")],
             "head": ("?x", "anc", "?z")},
            {"body": [("?x", "step", "?y")],
             "head": ("?x", "anc", "?y")},
            {"body": [("?x", "anc", "?y"), ("?y", "step", "?z")],
             "head": ("?x", "anc", "?z")}]
    edges = [("n%d" % i, "parent", "n%d" % (i + 1)) for i in range(4)]
    na, nd = _maintain_check(
        spark, edges, prog,
        where=[("n1", "parent", "?y")],
        delete=[("n1", "parent", "?y")],
        insert=[("n1", "step", "?y")])
    anc = {(s, o) for s, p, o in spo_set(nd) if p == "anc"}
    # the chain is still fully connected through the step edge
    assert ("n0", "n4") in anc and ("n1", "n4") in anc
    assert ("n1", "step", "n2") in spo_set(na)
    assert ("n1", "parent", "n2") not in spo_set(na)


def test_maintain_insert_of_previously_derived_fact(spark):
    # asserting a fact the view already derived must MOVE it from the
    # derived set to the base, changing the graph not at all
    edges = [("a", "parent", "b"), ("b", "parent", "c")]
    base = T(spark, edges)
    drv = kq.materialize_rules(base, ANC_PROG, derived_only=True)
    assert ("a", "anc", "c") in spo_set(drv)
    na, nd = kq.update_graph_maintain(
        base, drv, ANC_PROG, insert=[("a", "anc", "c")])
    assert ("a", "anc", "c") in spo_set(na)
    assert ("a", "anc", "c") not in spo_set(nd)
    assert spo_set(na) | spo_set(nd) == spo_set(base) | spo_set(drv) \
        | {("a", "anc", "c")}


def test_maintain_delete_of_rederivable_fact(spark):
    # deleting a base fact that the rules still derive: it leaves the
    # base and comes BACK as a derived fact
    rows = [("a", "parent", "b"), ("a", "anc", "b")]
    base = T(spark, rows)
    drv = kq.materialize_rules(base, ANC_PROG, derived_only=True)
    na, nd = kq.update_graph_maintain(
        base, drv, ANC_PROG, delete=[("a", "anc", "b")])
    assert ("a", "anc", "b") not in spo_set(na)
    assert ("a", "anc", "b") in spo_set(nd)
    assert spo_set(na) | spo_set(nd) == spo_set(base)


def test_maintain_refuses_empty_update(spark):
    g = T(spark, [("a", "parent", "b")])
    with pytest.raises(ValueError, match="delete and/or"):
        kq.update_graph_maintain(g, g.limit(0), ANC_PROG)


# --- materialize_rules_stratified (Datalog with stratified negation) ----------

SA_CANON_PROG = [
    {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
    {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
     "head": ("?a", "eq", "?c")},
    {"body": [("?a", "eq", "?b")], "minus": [("?z", "eq", "?a")],
     "head": ("?a", "canon", "?b")},
]


def test_stratify_levels_and_order(spark):
    strata, levels = kq.stratify_rules(SA_CANON_PROG)
    assert levels == {"eq": 0, "canon": 1}
    assert strata == [[0, 1], [2]]


def test_stratified_negation_over_derived_pred(spark):
    # eq = transitive same_as closure (stratum 0); canon(a,b) = eq pairs
    # whose subject is never an eq OBJECT (stratum 1 negates stratum 0's
    # completed fixpoint): two chains a->b->c and x->y
    g = T(spark, [("a", "same_as", "b"), ("b", "same_as", "c"),
                  ("x", "same_as", "y")])
    out = spo_set(kq.materialize_rules_stratified(
        g, SA_CANON_PROG, derived_only=True))
    assert {t for t in out if t[1] == "canon"} == {
        ("a", "canon", "b"), ("a", "canon", "c"), ("x", "canon", "y")}
    assert {t for t in out if t[1] == "eq"} == {
        ("a", "eq", "b"), ("a", "eq", "c"), ("b", "eq", "c"),
        ("x", "eq", "y")}


def test_stratified_negation_inside_recursion_same_stratum(spark):
    # safe-reach: recursion WITH a minus in the recursive rule — the
    # negated pred (bad) is EDB, so the whole program is one stratum
    # and the delta rounds must apply the anti-join (_apply_minus path).
    # Chain n0..n5 with n3 bad: reach from n0 stops at n2.
    rows = [("n%d" % i, "edge", "n%d" % (i + 1)) for i in range(5)]
    rows.append(("n3", "bad", "n3"))
    prog = [
        {"body": [("?x", "edge", "?y")],
         "minus": [("?y", "bad", "?y2")],
         "head": ("?x", "sreach", "?y")},
        {"body": [("?x", "sreach", "?y"), ("?y", "edge", "?z")],
         "minus": [("?z", "bad", "?z2")],
         "head": ("?x", "sreach", "?z")},
    ]
    strata, levels = kq.stratify_rules(prog)
    assert strata == [[0, 1]] and levels == {"sreach": 0}
    out = spo_set(kq.materialize_rules_stratified(
        g := T(spark, rows), prog, derived_only=True))
    # bad blocks reaching INTO n3, not out of it: n3 still reaches n4/n5
    want = {("n%d" % i, "sreach", "n%d" % j)
            for i in range(3) for j in range(i + 1, 3)} \
        | {("n3", "sreach", "n4"), ("n3", "sreach", "n5"),
           ("n4", "sreach", "n5")}
    assert out == want


def test_stratified_three_levels(spark):
    # level 0: anc closure; level 1: leaf(x) = nodes with no child
    # (negation over base pred appearing in a recursive program keeps it
    # level 0 — negation over DERIVED anc forces level 1); level 2:
    # inner(x,y) = anc pairs whose target is NOT a leaf
    prog = ANC_PROG + [
        {"body": [("?p", "parent", "?c")],
         "minus": [("?c", "anc", "?g")],
         "head": ("?c", "is", "leaf")},
        {"body": [("?x", "anc", "?y")],
         "minus": [("?y", "is", "leaf")],
         "head": ("?x", "inner_anc", "?y")},
    ]
    strata, levels = kq.stratify_rules(prog)
    assert levels == {"anc": 0, "is": 1, "inner_anc": 2}
    g = T(spark, [("r", "parent", "m"), ("m", "parent", "l")])
    out = spo_set(kq.materialize_rules_stratified(
        g, prog, derived_only=True))
    assert ("l", "is", "leaf") in out
    assert ("m", "is", "leaf") not in out
    assert {t for t in out if t[1] == "inner_anc"} == {("r", "inner_anc", "m")}


def test_stratified_matches_monotone_on_negation_free_program(spark):
    g = T(spark, [("n%d" % i, "parent", "n%d" % (i + 1))
                  for i in range(4)])
    a = spo_set(kq.materialize_rules(g, ANC_PROG, derived_only=True))
    b = spo_set(kq.materialize_rules_stratified(
        g, ANC_PROG, derived_only=True))
    assert a == b


def test_stratified_refuses_negation_through_recursion(spark):
    # win(x) :- move(x,y), ¬win(y): the classic non-stratifiable game
    prog = [{"body": [("?x", "move", "?y")],
             "minus": [("?y", "win", "?w")],
             "head": ("?x", "win", "?x")}]
    with pytest.raises(ValueError, match="not stratifiable"):
        kq.stratify_rules(prog)


def test_stratified_refuses_variable_head_and_minus_preds(spark):
    with pytest.raises(ValueError, match="literal head"):
        kq.stratify_rules([{"body": [("?x", "p", "?y")],
                            "head": ("?x", "?p2", "?y")}])
    with pytest.raises(ValueError, match="literal predicate"):
        kq.stratify_rules([{"body": [("?x", "p", "?y")],
                            "minus": [("?y", "?q", "?z")],
                            "head": ("?x", "r", "?y")}])


def test_stratified_refuses_unanchored_minus(spark):
    g = T(spark, [("a", "p", "b")])
    prog = [{"body": [("?x", "p", "?y")],
             "minus": [("?u", "q", "?v")],
             "head": ("?x", "r", "?y")}]
    with pytest.raises(ValueError, match="shares no variable"):
        kq.materialize_rules_stratified(g, prog).collect()


def test_stratified_full_union_and_docid(spark):
    g = T(spark, [("a", "same_as", "b")])
    full = kq.materialize_rules_stratified(g, SA_CANON_PROG)
    assert set(full.columns) == {"subj", "pred", "obj", "doc_id"}
    assert spo_set(full) == {("a", "same_as", "b"), ("a", "eq", "b"),
                             ("a", "canon", "b")}


# --- materialize_rules_stratified_maintain (signed-delta maintenance) ---------

def _smaint_check(spark, old_rows, ins_rows, del_rows, prog):
    """maintained(new_base) ∪ new_base must equal the from-scratch
    stratified fixpoint over new_base; returns the new derived set."""
    old = T(spark, old_rows)
    ins, dele = T(spark, ins_rows), T(spark, del_rows)
    new_base = (old.join(dele.select("subj", "pred", "obj"),
                         on=["subj", "pred", "obj"], how="left_anti")
                .unionByName(ins).distinct())
    drv = kq.materialize_rules_stratified(old, prog, derived_only=True)
    nd = kq.materialize_rules_stratified_maintain(
        new_base, drv, ins, dele, prog)
    got = spo_set(new_base) | spo_set(nd)
    want = spo_set(kq.materialize_rules_stratified(new_base, prog))
    assert got == want, (sorted(got - want), sorted(want - got))
    assert spo_set(nd).isdisjoint(spo_set(new_base))
    return spo_set(nd)


def test_smaint_negative_insert_retracts(spark):
    # canon(a,·) holds because nothing eq-reaches a; INSERTING
    # same_as(z,a) must retract every canon(a,·) and create canon(z,·)
    # — an insert that DELETES derived facts through negation
    nd = _smaint_check(
        spark,
        [("a", "same_as", "b"), ("b", "same_as", "c")],
        [("z", "same_as", "a")], [],
        SA_CANON_PROG)
    canon = {t for t in nd if t[1] == "canon"}
    assert canon == {("z", "canon", "a"), ("z", "canon", "b"),
                     ("z", "canon", "c")}


def test_smaint_negative_delete_derives(spark):
    # DELETING same_as(z,a) makes a a root again: canon(a,·) must
    # (re)appear — a delete that INSERTS derived facts through negation
    nd = _smaint_check(
        spark,
        [("z", "same_as", "a"), ("a", "same_as", "b")],
        [], [("z", "same_as", "a")],
        SA_CANON_PROG)
    assert {t for t in nd if t[1] == "canon"} == {("a", "canon", "b")}


def test_smaint_mixed_batch(spark):
    # delete one chain's link and extend another in the same batch
    _smaint_check(
        spark,
        [("a", "same_as", "b"), ("b", "same_as", "c"),
         ("x", "same_as", "y")],
        [("y", "same_as", "w"), ("c", "same_as", "d")],
        [("b", "same_as", "c")],
        SA_CANON_PROG)


def test_smaint_deleted_but_rederivable_base_fact(spark):
    # anc(a,b) asserted AND derivable; deleting the assertion must keep
    # it visible — returned as a DERIVED fact now
    nd = _smaint_check(
        spark,
        [("a", "parent", "b"), ("a", "anc", "b")],
        [], [("a", "anc", "b")],
        ANC_PROG)
    assert ("a", "anc", "b") in nd


def test_smaint_insert_of_previously_derived_fact(spark):
    # asserting an already-derived fact: visible set unchanged; the
    # fact moves out of the derived set
    nd = _smaint_check(
        spark,
        [("a", "parent", "b"), ("b", "parent", "c")],
        [("a", "anc", "c")], [],
        ANC_PROG)
    assert ("a", "anc", "c") not in nd


def test_smaint_empty_batch_is_noop(spark):
    g = T(spark, [("a", "same_as", "b")])
    drv = kq.materialize_rules_stratified(g, SA_CANON_PROG,
                                          derived_only=True)
    nd = kq.materialize_rules_stratified_maintain(
        g, drv, g.limit(0), g.limit(0), SA_CANON_PROG)
    assert spo_set(nd) == spo_set(drv)


def test_smaint_three_level_propagation(spark):
    # leaf/inner_anc program: extending the chain r->m->l by l->n flips
    # l from leaf to inner — stratum-1 facts retract via a stratum-0
    # insert, stratum-2 facts flip both ways in one batch
    prog = ANC_PROG + [
        {"body": [("?p", "parent", "?c")],
         "minus": [("?c", "anc", "?g")],
         "head": ("?c", "is", "leaf")},
        {"body": [("?x", "anc", "?y")],
         "minus": [("?y", "is", "leaf")],
         "head": ("?x", "inner_anc", "?y")},
    ]
    nd = _smaint_check(
        spark,
        [("r", "parent", "m"), ("m", "parent", "l")],
        [("l", "parent", "n")], [],
        prog)
    assert ("l", "is", "leaf") not in nd
    assert ("n", "is", "leaf") in nd
    assert ("r", "inner_anc", "l") in nd


def test_smaint_fuzz_random_graphs(spark):
    # randomized gate: random edge sets and batch splits over all three
    # fixture programs; maintained ≡ from-scratch every time
    import random
    rnd = random.Random(20260820)
    nodes = ["n%d" % i for i in range(8)]
    progs = [SA_CANON_PROG, ANC_PROG]
    sreach = [
        {"body": [("?x", "edge", "?y")],
         "minus": [("?y", "bad", "?b")],
         "head": ("?x", "sreach", "?y")},
        {"body": [("?x", "sreach", "?y"), ("?y", "edge", "?z")],
         "minus": [("?z", "bad", "?b")],
         "head": ("?x", "sreach", "?z")},
    ]
    progs.append(sreach)
    preds = {id(SA_CANON_PROG): ["same_as"],
             id(ANC_PROG): ["parent", "anc"],
             id(sreach): ["edge", "bad"]}
    for trial in range(6):
        prog = progs[trial % len(progs)]
        ps = preds[id(prog)]
        pool = [(rnd.choice(nodes), rnd.choice(ps), rnd.choice(nodes))
                for _ in range(12)]
        old = [t for t in pool if rnd.random() < 0.7]
        dels = [t for t in old if rnd.random() < 0.3]
        ins = [t for t in pool if t not in old and rnd.random() < 0.5]
        if not (old or ins):
            continue
        _smaint_check(spark, old or [("q", ps[0], "q2")], ins, dels, prog)


# --- stream_stratified_materialize (continuous stratified Datalog) ------------

def test_stream_stratified_matches_batch(spark, tmp_path):
    """Three arriving batches under the canon program: the final state
    must equal the from-scratch stratified fixpoint over the union —
    batch 2's edge RETRACTS batch 1 canon facts through negation (z
    reaches a, so a stops being a root) — and a restart over the same
    checkpoint must change nothing."""
    import time
    from legal_ner_spark.streaming.stream import (
        stream_stratified_materialize, read_stratified_facts)

    batches = [
        T(spark, [("a", "same_as", "b", "d0")]),
        T(spark, [("b", "same_as", "c", "d0")]),
        T(spark, [("z", "same_as", "a", "d0")]),   # retracts canon(a,·)
    ]
    in_dir = str(tmp_path / "sa_arrivals")
    now, seen = time.time(), set()
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(os.path.join(in_dir, f), (t, t))

    state = str(tmp_path / "strat_state")
    ckpt = str(tmp_path / "strat_ckpt")
    q = stream_stratified_materialize(spark, in_dir, state, ckpt,
                                      SA_CANON_PROG)
    assert q.awaitTermination(240)

    all_tri = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = spo_set(kq.materialize_rules_stratified(all_tri,
                                                   SA_CANON_PROG))
    got = spo_set(read_stratified_facts(spark, state))
    assert got == want
    # the mid-stream canon facts were retracted, not shadowed: the
    # stored fixpoint holds no stale root rows at all
    drv = spo_set(read_stratified_facts(spark, state,
                                        derived_only=True))
    assert all(s == "z" for s, p, o in drv if p == "canon")
    assert read_stratified_facts(spark, state).count() == len(want)

    # restart over the same checkpoint: a no-op
    q2 = stream_stratified_materialize(spark, in_dir, state, ckpt,
                                       SA_CANON_PROG)
    assert q2.awaitTermination(240)
    assert spo_set(read_stratified_facts(spark, state)) == want

    # refusals at submit, before any batch runs
    with pytest.raises(ValueError, match="not stratifiable"):
        stream_stratified_materialize(
            spark, in_dir, state, ckpt,
            [{"body": [("?x", "move", "?y")],
              "minus": [("?y", "win", "?w")],
              "head": ("?x", "win", "?x")}])
    with pytest.raises(ValueError, match="keep_snapshots"):
        stream_stratified_materialize(spark, in_dir, state, ckpt,
                                      SA_CANON_PROG, keep_snapshots=1)


# --- stratified aggregation (aggregate rule heads) ----------------------------

DEG_PROG = [
    {"body": [("?x", "cites", "?y")], "head": ("?x", "link", "?y")},
    {"body": [("?x", "link", "?y")], "group_by": "?x",
     "agg": {"n": "count(*)"}, "head": ("?x", "out_degree", "?n")},
    {"body": [("?x", "out_degree", "?n")],
     "filters": "cast(n as int) >= 2",
     "head": ("?x", "is", "hub")},
]


def test_agg_rule_levels(spark):
    strata, levels = kq.stratify_rules(DEG_PROG)
    # the aggregate sits strictly above its input, its consumer
    # strictly above it
    assert levels == {"link": 0, "out_degree": 1, "is": 2}
    assert strata == [[0], [1], [2]]


def test_agg_rule_counts_and_consumer(spark):
    g = T(spark, [("a", "cites", "b"), ("a", "cites", "c"),
                  ("b", "cites", "c")])
    out = spo_set(kq.materialize_rules_stratified(g, DEG_PROG,
                                                  derived_only=True))
    assert ("a", "out_degree", "2") in out
    assert ("b", "out_degree", "1") in out
    assert {t for t in out if t[1] == "is"} == {("a", "is", "hub")}


def test_agg_over_recursive_closure(spark):
    # count DERIVED facts: reach-set size per node over the anc closure
    prog = ANC_PROG + [
        {"body": [("?x", "anc", "?y")], "group_by": "?x",
         "agg": {"n": "count(*)"}, "head": ("?x", "reach_count", "?n")},
    ]
    g = T(spark, [("n%d" % i, "parent", "n%d" % (i + 1))
                  for i in range(3)])
    out = spo_set(kq.materialize_rules_stratified(g, prog,
                                                  derived_only=True))
    assert ("n0", "reach_count", "3") in out
    assert ("n2", "reach_count", "1") in out


def test_agg_global_and_having(spark):
    g = T(spark, [("a", "cites", "b"), ("b", "cites", "c")])
    prog = [{"body": [("?x", "cites", "?y")],
             "agg": {"total": "count(*)"},
             "head": ("graph", "edge_count", "?total")},
            {"body": [("?x", "cites", "?y")], "group_by": "?x",
             "agg": {"n": "count(*)"}, "having": "n >= 2",
             "head": ("?x", "is", "multi")}]
    out = spo_set(kq.materialize_rules_stratified(g, prog,
                                                  derived_only=True))
    assert out == {("graph", "edge_count", "2")}


def test_agg_maintain_recomputes(spark):
    # inserting an edge updates the count AND flips the hub consumer;
    # deleting must walk counts back down — both via the wholesale
    # re-aggregate, pinned equal to from-scratch
    g = T(spark, [("a", "cites", "b"), ("a", "cites", "c"),
                  ("b", "cites", "c")])
    drv = kq.materialize_rules_stratified(g, DEG_PROG,
                                          derived_only=True)
    ins = T(spark, [("b", "cites", "d")])
    nb = g.unionByName(ins)
    nd = kq.materialize_rules_stratified_maintain(
        nb, drv, ins, g.limit(0), DEG_PROG)
    want = spo_set(kq.materialize_rules_stratified(nb, DEG_PROG))
    assert spo_set(nb) | spo_set(nd) == want
    assert ("b", "out_degree", "2") in spo_set(nd)
    assert ("b", "is", "hub") in spo_set(nd)
    # now delete back
    drv2 = nd
    nd2 = kq.materialize_rules_stratified_maintain(
        g, drv2, nb.limit(0), ins, DEG_PROG)
    assert spo_set(nd2) == spo_set(drv)


def test_agg_refuses_codefinition_and_bad_spec(spark):
    with pytest.raises(ValueError, match="BOTH an aggregate"):
        kq.stratify_rules([
            {"body": [("?x", "p", "?y")], "group_by": "?x",
             "agg": {"n": "count(*)"}, "head": ("?x", "q", "?n")},
            {"body": [("?x", "r", "?y")], "head": ("?x", "q", "?y")}])
    with pytest.raises(ValueError, match="non-empty 'agg'"):
        kq.stratify_rules([{"body": [("?x", "p", "?y")],
                            "group_by": "?x",
                            "head": ("?x", "q", "?y")}])


def test_agg_refuses_aggregation_through_recursion(spark):
    # a count over its own head predicate has no stratum
    with pytest.raises(ValueError, match="not stratifiable"):
        kq.stratify_rules([
            {"body": [("?x", "q", "?y")], "group_by": "?x",
             "agg": {"n": "count(*)"}, "head": ("?x", "q", "?n")}])


def test_agg_fuzz_maintain(spark):
    import random
    rnd = random.Random(20260821)
    nodes = ["n%d" % i for i in range(6)]
    for trial in range(4):
        pool = [(rnd.choice(nodes), "cites", rnd.choice(nodes))
                for _ in range(10)]
        old = [t for t in pool if rnd.random() < 0.7]
        dels = [t for t in old if rnd.random() < 0.3]
        ins = [t for t in pool if t not in old and rnd.random() < 0.5]
        if not (old or ins):
            continue
        _smaint_check(spark, old or [("q", "cites", "q2")], ins, dels,
                      DEG_PROG)


# --- goal-directed evaluation + why-provenance --------------------------------

GOAL_PROG = SA_CANON_PROG + [
    {"body": [("?j", "decided_by", "?c")],
     "head": ("?j", "court_link", "?c")},          # unrelated family
    {"body": [("?j", "court_link", "?c"), ("?j", "cites", "?p")],
     "head": ("?c", "saw_precedent", "?p")},
]


def test_goal_rules_prunes_to_reachable(spark):
    assert len(kq.goal_rules(GOAL_PROG, "eq")) == 2
    assert len(kq.goal_rules(GOAL_PROG, "canon")) == 3   # negation input kept
    assert len(kq.goal_rules(GOAL_PROG, "saw_precedent")) == 2
    assert kq.goal_rules(GOAL_PROG, "same_as") == []     # EDB goal


def test_goal_query_equals_full_fixpoint(spark):
    g = T(spark, [("a", "same_as", "b"), ("b", "same_as", "c"),
                  ("d1", "decided_by", "sc"), ("d1", "cites", "p1")])
    goal = kq.materialize_rules_goal(g, GOAL_PROG, ("?x", "eq", "?y"))
    full = kq.materialize_rules_stratified(g, GOAL_PROG)
    want = {(r.subj, r.obj) for r in
            full.filter(full.pred == "eq").collect()}
    assert {(r.x, r.y) for r in goal.collect()} == want
    # the negated goal routes through the stratified evaluator
    roots = kq.materialize_rules_goal(g, GOAL_PROG, ("?x", "canon", "?y"))
    assert {(r.x, r.y) for r in roots.collect()} == {
        ("a", "b"), ("a", "c")}
    # an EDB goal is a plain match over the base store
    base = kq.materialize_rules_goal(g, GOAL_PROG,
                                     ("?x", "same_as", "?y"))
    assert base.count() == 2


def test_goal_refuses_variable_pred(spark):
    g = T(spark, [("a", "same_as", "b")])
    with pytest.raises(ValueError, match="literal goal predicate"):
        kq.materialize_rules_goal(g, GOAL_PROG, ("?x", "?p", "?y"))


def test_explain_chain_derivation(spark):
    g = T(spark, [("a", "same_as", "b"), ("b", "same_as", "c")])
    drv = kq.materialize_rules_stratified(g, SA_CANON_PROG,
                                          derived_only=True)
    steps = kq.explain_derivation(g, drv, SA_CANON_PROG, ("a", "eq", "c"))
    facts = [s["fact"] for s in steps]
    assert facts[0] == ("a", "eq", "c")          # root first
    assert ("a", "eq", "b") in facts             # its derived premise
    root = steps[0]
    assert root["rule"] == 1
    assert ("b", "same_as", "c") in root["premises"]


def test_explain_negated_step_reports_minus(spark):
    g = T(spark, [("a", "same_as", "b")])
    drv = kq.materialize_rules_stratified(g, SA_CANON_PROG,
                                          derived_only=True)
    steps = kq.explain_derivation(g, drv, SA_CANON_PROG,
                                  ("a", "canon", "b"))
    assert steps[0]["fact"] == ("a", "canon", "b")
    assert steps[0]["negated"] == [("?z", "eq", "?a")]


def test_explain_aggregate_fact(spark):
    g = T(spark, [("a", "same_as", "b"), ("a", "same_as", "c")])
    prog = [{"body": [("?x", "same_as", "?y")], "group_by": "?x",
             "agg": {"n": "count(*)"}, "head": ("?x", "deg", "?n")}]
    drv = kq.materialize_rules_stratified(g, prog, derived_only=True)
    steps = kq.explain_derivation(g, drv, prog, ("a", "deg", "2"))
    assert steps[0]["rule"] == 0
    with pytest.raises(ValueError, match="not derivable"):
        kq.explain_derivation(g, drv, prog, ("a", "deg", "3"))


def test_explain_refusals(spark):
    g = T(spark, [("a", "same_as", "b")])
    drv = kq.materialize_rules_stratified(g, SA_CANON_PROG,
                                          derived_only=True)
    with pytest.raises(ValueError, match="asserted"):
        kq.explain_derivation(g, drv, SA_CANON_PROG, ("a", "same_as", "b"))
    with pytest.raises(ValueError, match="not derivable"):
        kq.explain_derivation(g, drv, SA_CANON_PROG, ("b", "eq", "a"))


def test_smaint_fuzz_mixed_negation_aggregation(spark):
    # the hardest composite: recursion (stratum 0), negation over the
    # derived closure (stratum 1), aggregation over the negation's
    # output (stratum 2) — maintained under random mixed batches must
    # still equal the from-scratch stratified fixpoint
    import random
    prog = SA_CANON_PROG + [
        {"body": [("?a", "canon", "?b")], "group_by": "?a",
         "agg": {"n": "count(*)"}, "head": ("?a", "canon_size", "?n")},
    ]
    strata, levels = kq.stratify_rules(prog)
    assert levels == {"eq": 0, "canon": 1, "canon_size": 2}
    rnd = random.Random(20260822)
    nodes = ["n%d" % i for i in range(7)]
    for trial in range(4):
        pool = [(rnd.choice(nodes), "same_as", rnd.choice(nodes))
                for _ in range(9)]
        old = [t for t in pool if rnd.random() < 0.7]
        dels = [t for t in old if rnd.random() < 0.3]
        ins = [t for t in pool if t not in old and rnd.random() < 0.5]
        if not (old or ins):
            continue
        _smaint_check(spark, old or [("q", "same_as", "q2")], ins,
                      dels, prog)
