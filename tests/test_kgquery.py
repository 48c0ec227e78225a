"""The consumer-side KG query/validation layer (operators/kgquery.py):
BGP matching, bounded property paths, same_as resolution, constraint
profiles — semantics pinned on hand-built graphs plus a brute-force BFS
cross-check and a plan audit (equi-joins only, predicate filters pushed)."""

import random
from collections import Counter

import pytest

from pyspark.sql import functions as F

from legal_ner_spark.operators import kgquery


def _triples(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, d) for s, p, o, d in rows],
        "subj string, pred string, obj string, doc_id string")


@pytest.fixture(scope="module")
def kg(spark):
    df = _triples(spark, [
        ("d1", "decided_by", "SC", "d1"),
        ("d1", "has_judge", "J. Rao", "d1"),
        ("d1", "cites_precedent", "A vs B", "d1"),
        ("d1", "cites_precedent", "C vs D", "d1"),
        ("d2", "decided_by", "HC", "d2"),
        ("d2", "has_judge", "J. Rao", "d2"),
        ("d2", "cites_precedent", "A vs B", "d2"),
        ("d3", "decided_by", "SC", "d3"),      # no judge: drops from star
        ("ipc", "same_as", "Indian Penal Code", "d1"),
        ("i.p.c.", "same_as", "Indian Penal Code", "d2"),
        ("s 302", "part_of", "ipc", "d1"),
    ]).cache()
    df.count()
    yield df
    df.unpersist()


# -------------------------------------------------------------- bgp_match

def test_bgp_star_bindings(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j"),
                                 ("?d", "cites_precedent", "?p")])
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("d1", "SC", "J. Rao", "A vs B"),
                    ("d1", "SC", "J. Rao", "C vs D"),
                    ("d2", "HC", "J. Rao", "A vs B")}
    assert out.columns == ["d", "c", "j", "p"]   # first-appearance order


def test_bgp_literal_binding_and_none(kg):
    # literal subj + literal pred, None obj (matched, not projected);
    # the two patterns share no variable → a product → refused eagerly
    with pytest.raises(ValueError, match="disconnected"):
        kgquery.bgp_match(kg, [("d1", "cites_precedent", "?p"),
                               ("?x", "same_as", None, "d1")])


def test_bgp_explicit_product(kg):
    out = kgquery.bgp_match(kg, [("d1", "decided_by", "?c"),
                                 ("?m", "same_as", None, "d1")],
                            allow_product=True)
    assert {tuple(r) for r in out.collect()} == {("SC", "ipc")}


def test_bgp_repeated_var_in_one_pattern(spark):
    t = _triples(spark, [("a", "self", "a", "x"), ("a", "self", "b", "x")])
    out = kgquery.bgp_match(t, [("?n", "self", "?n")])
    assert [tuple(r) for r in out.collect()] == [("a",)]


def test_bgp_doc_term_as_variable(kg):
    out = kgquery.bgp_match(kg, [(None, "same_as", "?canon", "?doc")])
    assert {tuple(r) for r in out.collect()} == {
        ("Indian Penal Code", "d1"), ("Indian Penal Code", "d2")}


def test_bgp_shared_graph_variable_joins(spark):
    # GRAPH ?g { ?j p ?c . ?j q ?x }: both patterns must come from the
    # SAME named graph — the cross-graph pair (d2 asserts q for j1) drops
    g = _triples(spark, [("j1", "p", "c1", "d1"),
                         ("j1", "q", "x1", "d1"),
                         ("j1", "q", "x2", "d2"),
                         ("j2", "p", "c2", "d2"),
                         ("j2", "q", "x3", "d2")])
    out = kgquery.bgp_match(g, [("?j", "p", "?c", "?g"),
                                ("?j", "q", "?x", "?g")])
    assert {tuple(r) for r in out.collect()} == {
        ("j1", "c1", "d1", "x1"), ("j2", "c2", "d2", "x3")}


def test_bgp_chain_shared_object(kg):
    out = (kgquery.bgp_match(kg, [("?m", "same_as", "?canon"),
                                  ("?m2", "same_as", "?canon")])
           .filter(F.col("m") < F.col("m2")))
    assert {tuple(r) for r in out.collect()} == {
        ("i.p.c.", "Indian Penal Code", "ipc")}


def test_bgp_optional_left_join(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                            optional=[("?d", "has_judge", "?j")])
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("d1", "SC", "J. Rao"), ("d2", "HC", "J. Rao"),
                    ("d3", "SC", None)}     # d3 has no judge → null
    assert out.columns == ["d", "c", "j"]


def test_bgp_optional_must_anchor(kg):
    with pytest.raises(ValueError, match="unanchored OPTIONAL"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          optional=[("?m", "same_as", "?canon")])


def test_bgp_minus_anti_join(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                            minus=[("?d", "cites_precedent", "?p")])
    # d3 is the only judgment citing nothing
    assert {tuple(r) for r in out.collect()} == {("d3", "SC")}
    assert out.columns == ["d", "c"]   # existential ?p never projected


def test_bgp_minus_must_anchor(kg):
    with pytest.raises(ValueError, match="unanchored MINUS"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          minus=[("?m", "same_as", "?canon")])


@pytest.fixture(scope="module")
def roles(spark):
    # d1: judge+lawyer, d2: judge only, d3: lawyer only, d4: neither
    df = _triples(spark, [
        ("d1", "decided_by", "SC", "d1"),
        ("d1", "has_judge", "J1", "d1"),
        ("d1", "has_lawyer", "L1", "d1"),
        ("d2", "decided_by", "HC", "d2"),
        ("d2", "has_judge", "J2", "d2"),
        ("d3", "decided_by", "SC", "d3"),
        ("d3", "has_lawyer", "L3", "d3"),
        ("d4", "decided_by", "HC", "d4"),
    ]).cache()
    df.count()
    yield df
    df.unpersist()


def test_bgp_exists_group_is_conjunctive(roles):
    out = kgquery.bgp_match(roles, [("?d", "decided_by", "?c")],
                            exists=[("?d", "has_judge", "?j"),
                                    ("?d", "has_lawyer", "?l")])
    assert {tuple(r) for r in out.collect()} == {("d1", "SC")}
    assert out.columns == ["d", "c"]     # group vars never projected


def test_bgp_not_exists_differs_from_minus(roles):
    # NOT EXISTS {A . B} = ¬(A ∧ B): only d1 has both roles, so d2-d4 stay
    ne = kgquery.bgp_match(roles, [("?d", "decided_by", "?c")],
                           not_exists=[("?d", "has_judge", "?j"),
                                       ("?d", "has_lawyer", "?l")])
    assert {r["d"] for r in ne.collect()} == {"d2", "d3", "d4"}
    # minus=[A, B] = ¬A ∧ ¬B: only d4 has neither role
    mi = kgquery.bgp_match(roles, [("?d", "decided_by", "?c")],
                           minus=[("?d", "has_judge", "?j"),
                                  ("?d", "has_lawyer", "?l")])
    assert {r["d"] for r in mi.collect()} == {"d4"}


def test_bgp_exists_unanchored_gate(roles):
    base = [("?d", "decided_by", "?c")]
    # group matches somewhere → EXISTS keeps all 4, NOT EXISTS drops all
    hit = [("?m", "has_lawyer", "?l")]
    assert kgquery.bgp_match(roles, base, exists=hit).count() == 4
    assert kgquery.bgp_match(roles, base, not_exists=hit).count() == 0
    # group matches nowhere → inverse
    miss = [("?m", "cites_precedent", "?p")]
    assert kgquery.bgp_match(roles, base, exists=miss).count() == 0
    ne = kgquery.bgp_match(roles, base, not_exists=miss)
    assert ne.count() == 4
    assert ne.columns == ["d", "c"]


def test_bgp_exists_null_optional_var_fails_correlation(roles):
    # documented SQL-style correlation: a null shared value (from an
    # OPTIONAL) never matches — fails EXISTS, passes NOT EXISTS
    out = kgquery.bgp_match(roles, [("?d", "decided_by", "?c")],
                            optional=[("?d", "has_judge", "?j")],
                            exists=[(None, "has_judge", "?j")])
    assert {r["d"] for r in out.collect()} == {"d1", "d2"}
    out2 = kgquery.bgp_match(roles, [("?d", "decided_by", "?c")],
                             optional=[("?d", "has_judge", "?j")],
                             not_exists=[(None, "has_judge", "?j")])
    assert {r["d"] for r in out2.collect()} == {"d3", "d4"}


def test_bgp_delta_refuses_exists(roles):
    with pytest.raises(ValueError, match="EXISTS"):
        kgquery.bgp_match_delta(roles, roles.limit(1),
                                [("?d", "decided_by", "?c")],
                                exists=[("?d", "has_judge", "?j")])
    with pytest.raises(ValueError, match="EXISTS"):
        kgquery.bgp_match_delta(roles, roles.limit(1),
                                [("?d", "decided_by", "?c")],
                                not_exists=[("?d", "has_judge", "?j")])


def test_bgp_predicate_variable(kg):
    out = kgquery.bgp_match(kg, [("d1", "?p", "?o")])
    got = {tuple(r) for r in out.collect()}
    assert ("decided_by", "SC") in got
    assert ("cites_precedent", "A vs B") in got
    assert len(got) == 4


def test_bgp_pred_stats_skips_probe(kg):
    # a wrong stats dict must not change ANSWERS, only the join order
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j")],
                            pred_stats={"decided_by": 10**9, "has_judge": 1})
    assert out.count() == 2


def test_bgp_rejects_empty_and_bad_shapes(kg):
    with pytest.raises(ValueError):
        kgquery.bgp_match(kg, [])
    with pytest.raises(ValueError):
        kgquery.bgp_match(kg, [("?a", "p")])
    with pytest.raises(ValueError, match="bad variable"):
        kgquery.bgp_match(kg, [("?not ok", "p", "?b")])


def test_bgp_solution_modifiers(kg):
    """SELECT projection → DISTINCT → ORDER BY → OFFSET → LIMIT, in
    SPARQL's order, with a descending key."""
    out = kgquery.bgp_match(
        kg, [("?d", "cites_precedent", "?p")],
        select=["?p"], order_by=["-?p"])
    assert [r.p for r in out.collect()] == ["C vs D", "A vs B"]
    out = kgquery.bgp_match(
        kg, [("?d", "cites_precedent", "?p")],
        select=["?p"], order_by=["?p"], offset=1, limit=1)
    assert [r.p for r in out.collect()] == ["C vs D"]
    # distinct applies to the PROJECTED solution: two docs cite
    # "A vs B", one row survives
    n = kgquery.bgp_match(kg, [("?d", "cites_precedent", "?p")],
                          select=["?p"]).count()
    assert n == 2


def test_bgp_modifier_guards(kg):
    with pytest.raises(ValueError, match="undeclared"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          select=["?nope"])
    with pytest.raises(ValueError, match="projected"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          select=["?c"], order_by=["?d"])
    with pytest.raises(ValueError, match="OFFSET without ORDER BY"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")], offset=2)


def test_bgp_order_limit_is_topk_not_global_sort(kg):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (a
    per-partition top-k fold) — a global Sort over the binding table
    would be the 100 TB scale-killer."""
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                            order_by=["?d"], limit=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ask(kg):
    assert kgquery.ask(kg, [("?d", "decided_by", "?c"),
                            ("?d", "has_judge", "?j")]) is True
    assert kgquery.ask(kg, [("?d", "decided_by", "nowhere")]) is False
    # options pass through; solution modifiers are refused
    assert kgquery.ask(kg, [("?d", "decided_by", "?c")],
                       not_exists=[("?d", "has_judge", "?j")]) is True
    with pytest.raises(ValueError, match="ASK is a boolean"):
        kgquery.ask(kg, [("?d", "decided_by", "?c")], limit=1)


@pytest.fixture(scope="module")
def chain(spark):
    """a -p-> b -p-> c -p-> d, plus b -q-> x, d -q-> y: enough shape to
    pin every quantifier and the sequence/alternation composition."""
    df = _triples(spark, [
        ("a", "p", "b", None), ("b", "p", "c", None),
        ("c", "p", "d", None),
        ("b", "q", "x", None), ("d", "q", "y", None),
    ]).cache()
    df.count()
    yield df
    df.unpersist()


def test_path_relation_quantifiers(chain):
    def rel(expr, **kw):
        return {(r.src, r.dst)
                for r in kgquery.path_relation(chain, expr, **kw).collect()}

    assert rel("p") == {("a", "b"), ("b", "c"), ("c", "d")}
    assert rel("p+") == {("a", "b"), ("a", "c"), ("a", "d"),
                         ("b", "c"), ("b", "d"), ("c", "d")}
    assert rel("p{2,3}") == {("a", "c"), ("a", "d"), ("b", "d")}
    assert rel("p+", max_hops=2) == {("a", "b"), ("a", "c"),
                                     ("b", "c"), ("b", "d"), ("c", "d")}
    # sequence + zero-or-one: p then optionally q
    assert rel("p/q?") == {("a", "b"), ("b", "c"), ("c", "d"),
                           ("a", "x"), ("c", "y")}
    # alternation + inverse: q-neighbors in either direction of b
    assert rel("(q|^q)") == {("b", "x"), ("x", "b"),
                             ("d", "y"), ("y", "d")}
    # leading * : identity over EVERY graph node, plus reachability
    ids = {(n, n) for n in "abcdxy"}
    assert rel("p*") == ids | rel("p+")


def test_path_negated_property_set(chain):
    """SPARQL !(...) per direction: forward members exclude forward
    edges, inverse members reversed edges, absent direction = no leg."""
    def rel(expr, **kw):
        return {(r.src, r.dst)
                for r in kgquery.path_relation(chain, expr, **kw).collect()}

    p_edges = {("a", "b"), ("b", "c"), ("c", "d")}
    q_edges = {("b", "x"), ("d", "y")}
    assert rel("!q") == p_edges                      # forward only
    assert rel("!(^q)") == {(b, a) for a, b in p_edges}  # inverse only
    assert rel("!(p|^p)") == q_edges | {(b, a) for a, b in q_edges}
    # NPS composes and quantifies like any step
    assert rel("!q/q") == {("a", "x"), ("c", "y")}
    assert rel("!q{2,2}") == {("a", "c"), ("b", "d")}
    # inside a BGP, with the everything-but estimate
    out = kgquery.bgp_match(chain, [("?s", "!q", "?o"),
                                    ("?o", "q", "?w")])
    assert {tuple(r) for r in out.collect()} == {("a", "b", "x"),
                                                 ("c", "d", "y")}


def test_path_relation_parse_errors(chain):
    for bad in ["p//q", "(p", "p)", "((p|q))", "p{3,2}", "p{0,0}", ""]:
        with pytest.raises(ValueError):
            kgquery.path_relation(chain, bad)


def test_bgp_path_pattern_joins_like_any_other(chain):
    """A path-expression predicate inside a BGP: endpoints join with a
    plain pattern on the shared variable."""
    out = kgquery.bgp_match(
        chain, [("a", "p+", "?v"), ("?v", "q", "?w")])
    assert {tuple(r) for r in out.collect()} == {("b", "x"), ("d", "y")}
    # literal on both endpoints: a 0/1-row gate (an explicit product)
    assert kgquery.bgp_match(chain, [("a", "p{3,3}", "d"),
                                     ("?s", "q", "?o")],
                             allow_product=True).count() == 2
    assert kgquery.bgp_match(chain, [("a", "p{3,4}", "a"),
                                     ("?s", "q", "?o")],
                             allow_product=True).count() == 0
    with pytest.raises(ValueError, match="doc_id"):
        kgquery.bgp_match(chain, [("?s", "p+", "?o", "doc1")])
    with pytest.raises(ValueError, match="delta-pinned"):
        kgquery.bgp_match(chain, [("?s", "p+", "?o")], sources=[chain])
    # incremental maintenance of a path query is unsound in every leg
    # position, not just the pinned one
    with pytest.raises(ValueError, match="property-path"):
        kgquery.bgp_match_delta(chain, chain.limit(1),
                                [("?s", "p+", "?o"), ("?o", "q", "?w")])
    # CONSTRUCT bodies inherit path predicates through bgp_match
    derived = kgquery.construct(chain, [("?s", "p{2,3}", "?o")],
                                ("?s", "reaches", "?o"))
    assert {(r.subj, r.obj) for r in derived.collect()} \
        == {("a", "c"), ("a", "d"), ("b", "d")}
    assert derived.columns == ["subj", "pred", "obj", "doc_id"]


def test_bgp_bind(kg):
    """BIND adds computed variables after joins/FILTER, in dict order
    (later binds see earlier ones), usable by select/order_by; rebinding
    an in-scope name is refused."""
    out = kgquery.bgp_match(
        kg, [("?d", "decided_by", "?c")],
        bind={"?cl": "lower(c)", "?tag": "concat(cl, '-', d)"},
        select=["?tag"], order_by=["?tag"])
    assert [r.tag for r in out.collect()] == ["hc-d2", "sc-d1", "sc-d3"]
    with pytest.raises(ValueError, match="rebind"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          bind={"?c": "upper(c)"})
    # two spellings of one name: the second entry is a rebind
    with pytest.raises(ValueError, match="rebind"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          bind={"?y": "1", "y": "2"})


def test_bgp_plan_is_equi_join_only(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bgp_pred_filter_reaches_parquet_scan(spark, tmp_path):
    p = str(tmp_path / "tri")
    _triples(spark, [("a", "p1", "b", "x"), ("b", "p2", "c", "x")]) \
        .write.parquet(p)
    tri = spark.read.parquet(p)
    out = kgquery.bgp_match(tri, [("?s", "p1", "?o")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,p1)" in plan


def _py_bgp(rows, pats, select=None):
    """Multiset of a BGP's bindings over (s, p, o, doc) rows by nested
    loops, one column per variable in first-appearance order (or per
    ``select`` variable)."""
    sols = [{}]
    for p in pats:
        nxt = []
        for b in sols:
            for row in rows:
                b2, ok = dict(b), True
                for term, val in zip(p, row):
                    if term is None:
                        continue
                    if term.startswith("?"):
                        ok = ok and b2.setdefault(term, val) == val
                    else:
                        ok = ok and term == val
                if ok:
                    nxt.append(b2)
        sols = nxt
    names = select or list(dict.fromkeys(
        t for p in pats for t in p if t and t.startswith("?")))
    return Counter(tuple(b[n] for n in names) for b in sols)


# (patterns, select): hub in subject, in object, in mixed positions, one
# predicate filling two slots, constant terms, a doc variable, a pattern
# no triple matches, and a projection that drops a variable
HUB_GROUPS = [
    ([("?h", "p", "?a"), ("?h", "q", "?b")], None),
    ([("?a", "p", "?h"), ("?b", "q", "?h")], None),
    ([("?x", "p", "?h"), ("?h", "q", "?y")], None),
    ([("?m", "p", "?c"), ("?m2", "p", "?c")], None),
    ([("?h", "p", "n1"), ("n2", "q", "?h"), ("?h", "r", "?z", "?g")], None),
    ([("?h", "p", "?a"), ("?h", "absent", "?b")], None),
    ([("?x", "p", "?h"), ("?h", "q", "?y")], ["?h", "?y"]),
]


def test_bgp_hub_plan_fuzz_equals_join_plan_and_python(spark):
    """Random small graphs, with (s, p, o) rows repeated under another
    doc_id: every star/chain group gives the same bindings through the
    hub plan (as a set, and as a multiset with ``distinct=False``), the
    left-deep join plan (``broadcast_rows=0``, as a multiset) and a
    Python nested-loop evaluation."""
    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(5)]
    for _ in range(2):
        rows = sorted({(rng.choice(nodes), rng.choice("pqr"),
                        rng.choice(nodes), rng.choice(["d0", "d1"]))
                       for _ in range(rng.randint(10, 30))})
        rows += [r[:3] + ("d9",) for r in rows[:4]]
        tri = _triples(spark, rows).cache()
        for pats, select in HUB_GROUPS:
            want = _py_bgp(rows, pats, select)
            for distinct, plan_kw in ((True, {}), (False, {}),
                                      (False, {"broadcast_rows": 0})):
                out = kgquery.bgp_match(tri, pats, select=select,
                                        distinct=distinct, **plan_kw)
                plan = out._jdf.queryExecution().executedPlan().toString()
                assert ("Join" in plan) == bool(plan_kw), plan
                got = Counter(tuple(r) for r in out.collect())
                assert got == (Counter(set(want)) if distinct else want), \
                    (pats, select, distinct, plan_kw, rows)
        tri.unpersist()


@pytest.mark.parametrize("shape", ["chain", "star"])
def test_bgp_hub_plan_streams_a_hot_hub(spark, shape):
    """One hub whose cross product dwarfs its input — 300 aliases of one
    canon are 90,000 chain bindings; 3 × 40 fan-outs (each row repeated
    under a second doc_id, ``distinct=False``) are 512,000 star rows.
    Each slot is its own generator, so no value holds the product, and
    the hub plan's multiset equals the join plan's."""
    if shape == "chain":
        rows = [(f"m{i}", "p", "c0", "d0") for i in range(300)]
        pats, distinct, want = [("?m", "p", "?c"), ("?m2", "p", "?c")], \
            True, 300 * 300 + 5
    else:
        rows = [("h0", p, f"{p}{i}", d) for p in "qrs" for i in range(40)
                for d in ("d0", "d1")]
        pats, distinct, want = [("?h", "q", "?a"), ("?h", "r", "?b"),
                                ("?h", "s", "?c")], False, 80 ** 3 + 5
    rows += [(f"x{i}", "p", f"c{i + 1}", "d0") for i in range(5)]
    rows += [(f"h{i + 1}", p, f"y{i}", "d0") for i in range(5) for p in "qrs"]
    tri = _triples(spark, rows)
    hub = kgquery.bgp_match(tri, pats, distinct=distinct)
    join = kgquery.bgp_match(tri, pats, distinct=distinct, broadcast_rows=0)
    plan = hub._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "flatten" not in plan, plan
    assert plan.count("Generate explode") == len(pats), plan
    assert hub.count() == want == join.count()
    assert hub.exceptAll(join).isEmpty() and join.exceptAll(hub).isEmpty()


# ----------------------------------------------------------- delta match

PATS = [("?d", "decided_by", "?c"), ("?d", "cites_precedent", "?p")]


def _bind(df):
    return {tuple(r) for r in kgquery.bgp_match(df, PATS).collect()}


def test_bgp_delta_covers_exactly_the_new_bindings(kg, spark):
    # delta: a brand-new judgment (both atoms in the delta) AND a new
    # citation for an existing judgment (one atom in delta, one in base)
    delta = _triples(spark, [
        ("d4", "decided_by", "SC", "d4"),
        ("d4", "cites_precedent", "X vs Y", "d4"),
        ("d3", "cites_precedent", "A vs B", "d3")])
    full = kg.unionByName(delta)
    rows = [tuple(r) for r in
            kgquery.bgp_match_delta(full, delta, PATS).collect()]
    new = set(rows)
    # d4's binding uses two delta atoms, so two pinned legs derive it;
    # it still comes back once
    assert len(rows) == len(new)
    base_b, full_b = _bind(kg), _bind(full)
    assert full_b - base_b <= new <= full_b
    assert ("d4", "SC", "X vs Y") in new          # both atoms from delta
    assert ("d3", "SC", "A vs B") in new          # one atom from delta
    # base-only bindings never re-derive through a delta-pinned leg
    assert ("d1", "SC", "A vs B") not in new


def test_bgp_delta_refuses_nonmonotone(kg, spark):
    delta = _triples(spark, [("d4", "decided_by", "SC", "d4")])
    with pytest.raises(ValueError, match="monotone"):
        kgquery.bgp_match_delta(kg, delta, PATS,
                                optional=[("?d", "has_judge", "?j")])
    with pytest.raises(ValueError, match="monotone"):
        kgquery.bgp_match_delta(kg, delta, PATS,
                                minus=[("?d", "has_judge", "?j")])


def test_bgp_delta_empty_delta_is_empty(kg):
    assert kgquery.bgp_match_delta(kg, kg.limit(0), PATS).count() == 0


# ---------------------------------------------------------- property_path

def _brute_pairs(edges, max_hops, symmetric):
    adj = {}
    es = list(edges) + ([(b, a) for a, b in edges] if symmetric else [])
    for a, b in es:
        adj.setdefault(a, set()).add(b)
    out = {}
    for s in {a for a, _ in es}:
        frontier, seen, d = {s}, set(), 0
        while frontier and d < max_hops:
            d += 1
            frontier = {n for f in frontier for n in adj.get(f, ())} - seen
            for n in frontier:
                out.setdefault((s, n), d)
            seen |= frontier
    return out


@pytest.mark.parametrize("symmetric", [False, True])
def test_property_path_matches_brute_bfs(spark, symmetric, tmp_path):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),   # 4-cycle
             ("b", "e"), ("x", "y")]
    e = spark.createDataFrame(edges, "src string, dst string")
    for ckpt in (None, str(tmp_path / "ckpt")):
        got = {(r.src, r.dst): r.hops
               for r in kgquery.property_path(e, 3, symmetric=symmetric,
                                              checkpoint_dir=ckpt)
               .collect()}
        assert got == _brute_pairs(edges, 3, symmetric)


def test_property_path_cycle_reaches_self(spark):
    e = spark.createDataFrame([("a", "b"), ("b", "a")],
                              "src string, dst string")
    got = {(r.src, r.dst): r.hops
           for r in kgquery.property_path(e, 4).collect()}
    # 2-cycle: self reachable at hops=2, never re-expanded after
    assert got == {("a", "b"): 1, ("b", "a"): 1,
                   ("a", "a"): 2, ("b", "b"): 2}


def test_property_path_min_hops_filter(spark):
    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "src string, dst string")
    got = {(r.src, r.dst): r.hops
           for r in kgquery.property_path(e, 3, min_hops=2).collect()}
    assert got == {("a", "c"): 2}


def test_property_path_early_exit_and_validation(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    # max_hops=5 but the graph exhausts after hop 1 → loop exits early
    assert kgquery.property_path(e, 5).count() == 1
    with pytest.raises(ValueError):
        kgquery.property_path(e, 0)
    with pytest.raises(ValueError):
        kgquery.property_path(e, 2, min_hops=3)


def test_property_path_round_jobs(spark, count_jobs):
    # a 12-edge chain: 12 rounds, the last one empty; the loop's one
    # DISTINCT a round must cost no more than the step's own did (100
    # jobs; 101 in 2 of 15 runs on a loaded host, cause not found)
    e = spark.createDataFrame([("n%d" % i, "n%d" % (i + 1))
                               for i in range(12)], "src string, dst string")
    n, jobs = count_jobs(lambda: kgquery.property_path(e, 16).count())
    assert n == 12 * 13 // 2
    assert jobs <= 101, jobs


def test_bgp_values_restricts_and_validates(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j")],
                            values={"?c": ["SC"]})
    assert {tuple(r) for r in out.collect()} == {("d1", "SC", "J. Rao")}
    with pytest.raises(ValueError, match="empty VALUES"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          values={"?c": []})
    with pytest.raises(ValueError, match="not bound by any"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          values={"?nope": ["x"]})
    # VALUES over an optional-only variable: refused, not mis-filtered
    with pytest.raises(ValueError, match="not bound by any"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          optional=[("?d", "has_judge", "?j")],
                          values={"?j": ["J. Rao"]})


def test_bgp_values_filter_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "tri_vals")
    _triples(spark, [("a", "p1", "b", "x"), ("c", "p1", "d", "x")]) \
        .write.parquet(p)
    tri = spark.read.parquet(p)
    out = kgquery.bgp_match(tri, [("?s", "p1", "?o")],
                            values={"?o": ["b", "zzz"]})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "In(obj, [b,zzz])" in plan    # the VALUES list is a scan filter
    assert {tuple(r) for r in out.collect()} == {("a", "b")}


def test_bgp_filter_expressions(kg):
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j")],
                            filters=["c != 'SC'", "length(j) > 3"])
    assert {tuple(r) for r in out.collect()} == {("d2", "HC", "J. Rao")}
    # single string accepted too
    one = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                            filters="c = 'HC'")
    assert {tuple(r) for r in one.collect()} == {("d2", "HC")}


def test_bgp_filter_pushes_to_scan(spark, tmp_path):
    p = str(tmp_path / "tri_filt")
    _triples(spark, [("a", "p1", "b", "x"), ("c", "p1", "d", "x")]) \
        .write.parquet(p)
    tri = spark.read.parquet(p)
    out = kgquery.bgp_match(tri, [("?s", "p1", "?o")], filters="o != 'b'")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Catalyst pushed the single-variable FILTER through the projection
    assert "Not(EqualTo(obj,b))" in plan
    assert {tuple(r) for r in out.collect()} == {("c", "d")}


# ----------------------------------------------------- construct / closure

def test_construct_single_rule(kg):
    # ?prov part_of ?st . ?alias same_as ?st => derived triples, null doc
    out = kgquery.construct(
        kg, body=[("?prov", "part_of", "?st"),
                  ("?alias", "same_as", "?st")],
        head=("?prov", "alias_of_statute", "?alias"))
    assert out.columns == ["subj", "pred", "obj", "doc_id"]
    got = {tuple(r) for r in out.collect()}
    # s 302 part_of ipc; aliases of ipc: nothing (same_as obj is the
    # CANONICAL 'Indian Penal Code', subj the alias) — join on ?st=ipc
    # matches no same_as obj, so test through the canonical instead
    assert got == set()
    out2 = kgquery.construct(
        kg, body=[("?a", "same_as", "?canon"),
                  ("?b", "same_as", "?canon")],
        head=("?a", "coalias", "?b"))
    got2 = {(r.subj, r.obj) for r in out2.collect()}
    assert got2 == {("ipc", "ipc"), ("ipc", "i.p.c."),
                    ("i.p.c.", "ipc"), ("i.p.c.", "i.p.c.")}
    assert all(r.pred == "coalias" and r.doc_id is None
               for r in out2.collect())


def test_construct_multi_head_and_validation(kg):
    out = kgquery.construct(
        kg, body=[("?d", "decided_by", "?c")],
        head=[("?d", "is_judgment", "true"), ("?c", "is_court", "true")])
    got = {tuple(r)[:3] for r in out.collect()}
    assert got == {("d1", "is_judgment", "true"),
                   ("d2", "is_judgment", "true"),
                   ("d3", "is_judgment", "true"),
                   ("SC", "is_court", "true"), ("HC", "is_court", "true")}
    # two templates instantiate the same triple per binding: CONSTRUCT
    # still returns a set
    rows = kgquery.construct(
        kg, body=[("?d", "decided_by", "?c")],
        head=[("?c", "is_court", "true"), ("?c", "is_court", "true")]
    ).collect()
    assert sorted(r.subj for r in rows) == ["HC", "SC"]
    with pytest.raises(ValueError, match="not bound by the body"):
        kgquery.construct(kg, body=[("?d", "decided_by", "?c")],
                          head=("?d", "p", "?unbound"))
    with pytest.raises(ValueError, match="head must be"):
        kgquery.construct(kg, body=[("?d", "decided_by", "?c")],
                          head=("?d", "p"))


def test_construct_drops_unbound_optional_heads(kg):
    # head uses an OPTIONAL variable: unmatched bindings (d3 has no
    # judge) must NOT emit an incomplete triple (SPARQL CONSTRUCT rule)
    out = kgquery.construct(
        kg, body=[("?d", "decided_by", "?c")],
        optional=[("?d", "has_judge", "?j")],
        head=("?d", "judged_by", "?j"))
    got = {(r.subj, r.obj) for r in out.collect()}
    assert got == {("d1", "J. Rao"), ("d2", "J. Rao")}   # no (d3, null)


def test_closure_symmetric_transitive(kg, spark):
    out = kgquery.closure(kg, "same_as", symmetric=True, max_hops=4)
    pairs = {(r.subj, r.obj) for r in out.collect()}
    members = {"ipc", "i.p.c.", "Indian Penal Code"}
    # full equivalence class: every ordered pair, no self-loops
    assert pairs == {(a, b) for a in members for b in members if a != b}
    assert all(r.pred == "same_as" and r.doc_id is None
               for r in out.collect())
    # directed closure of a chain a->b->c under out_pred rename
    tri = _triples(spark, [("a", "p", "b", "x"), ("b", "p", "c", "x")])
    dir_out = kgquery.closure(tri, "p", max_hops=3, out_pred="p_closed")
    got = {(r.subj, r.obj) for r in dir_out.collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c")}
    assert dir_out.first().pred == "p_closed"


def test_step_edges_inverse_and_validation(kg):
    fwd = {tuple(r) for r in kgquery._step_edges(kg, "part_of").collect()}
    inv = {tuple(r) for r in kgquery._step_edges(kg, "^part_of").collect()}
    assert fwd == {("s 302", "ipc")}
    assert inv == {("ipc", "s 302")}
    for bad in ("", "^", "^^p", None):
        with pytest.raises(ValueError):
            kgquery._step_edges(kg, bad)


def test_path_edges_alternation_union(kg):
    got = {tuple(r) for r in
           kgquery.path_edges(kg, ["part_of", "^same_as"]).collect()}
    assert got == {("s 302", "ipc"),
                   ("Indian Penal Code", "ipc"),
                   ("Indian Penal Code", "i.p.c.")}
    with pytest.raises(ValueError):
        kgquery.path_edges(kg, [])


def test_path_sequence_composition(kg):
    # provision → statute → statute's canonical name
    got = {tuple(r) for r in
           kgquery.path_sequence(kg, ["part_of", "same_as"]).collect()}
    assert got == {("s 302", "Indian Penal Code")}
    # single-step sequence == that step's edges
    one = {tuple(r) for r in kgquery.path_sequence(kg, ["part_of"]).collect()}
    assert one == {("s 302", "ipc")}
    with pytest.raises(ValueError):
        kgquery.path_sequence(kg, [])


def test_path_sequence_bag_multiplicity(spark):
    tri = _triples(spark, [
        ("a", "p", "m1", "d"), ("a", "p", "m2", "d"),
        ("m1", "q", "z", "d"), ("m2", "q", "z", "d")])
    # two distinct paths a→z: distinct collapses, bag keeps both
    assert kgquery.path_sequence(tri, ["p", "q"]).count() == 1
    assert kgquery.path_sequence(tri, ["p", "q"], distinct=False).count() == 2


def test_path_sequence_pred_pushdown(spark, tmp_path):
    p = str(tmp_path / "tri_seq")
    _triples(spark, [("a", "part_of", "b", "x"),
                     ("c", "same_as", "b", "x")]).write.parquet(p)
    tri = spark.read.parquet(p)
    out = kgquery.path_sequence(tri, ["part_of", "^same_as"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # each step's pred literal reaches its parquet scan
    assert "EqualTo(pred,part_of)" in plan
    assert "EqualTo(pred,same_as)" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


# -------------------------------------------------------------- to_ntriples

def test_ntriples_escaping_and_shape(spark):
    import hashlib
    nasty = 'a "b"\\c\nd\te\r'
    tri = _triples(spark, [(nasty, "p", "x", "d1")])
    lines = {r.line for r in kgquery.to_ntriples(tri).collect()}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (f"<urn:lner:n:{h(nasty)}> <urn:lner:p:p> "
            f"<urn:lner:n:{h('x')}> .") in lines
    want = ('a \\"b\\"\\\\c\\nd\\te\\r')
    assert (f"<urn:lner:n:{h(nasty)}> "
            f'<http://www.w3.org/2000/01/rdf-schema#label> "{want}" .'
            ) in lines
    # 1 statement + 2 node labels
    assert len(lines) == 3


def test_ntriples_statements_only_and_wellformed(kg):
    import re
    stmts = kgquery.to_ntriples(kg, labels=False).collect()
    assert len(stmts) == kg.distinct().count()   # fixture has no dup triple
    pat = re.compile(r"^<urn:lner:n:[0-9a-f]{32}> <urn:lner:p:\w+> "
                     r"<urn:lner:n:[0-9a-f]{32}> \.$")
    assert all(pat.match(r.line) for r in stmts)
    full = kgquery.to_ntriples(kg).count()
    n_nodes = (kg.select(F.col("subj").alias("t"))
               .union(kg.select("obj")).distinct().count())
    assert full == len(stmts) + n_nodes


def test_ntriples_roundtrip_nasty_strings(spark):
    rows = [('a "b"\\c\nd\te\r', "p_one", "plain", "d1"),
            ("x\\ny", "p_two", 'q"q', "d2"),      # literal backslash-n
            ("plain", "p_one", "x\\ny", "d3")]
    tri = _triples(spark, rows)
    back = kgquery.from_ntriples(kgquery.to_ntriples(tri))
    got = {(r.subj, r.pred, r.obj) for r in back.collect()}
    assert got == {(s, p, o) for s, p, o, _ in rows}
    assert all(r.doc_id is None for r in back.collect())


def test_from_ntriples_ignores_foreign_lines(spark, kg):
    nt = kgquery.to_ntriples(kg)
    extra = spark.createDataFrame(
        [("# comment",), ("<urn:other:x> <urn:other:p> <urn:other:y> .",)],
        "line string")
    back = kgquery.from_ntriples(nt.unionByName(extra))
    want = {(r.subj, r.pred, r.obj) for r in kg.collect()}
    assert {(r.subj, r.pred, r.obj) for r in back.collect()} == want


# --------------------------------------------------------- resolve_same_as

def test_resolve_rewrites_both_endpoints_and_drops_same_as(kg):
    out = kgquery.resolve_same_as(kg)
    assert out.filter(F.col("pred") == "same_as").count() == 0
    part = out.filter(F.col("pred") == "part_of").collect()
    assert [(r.subj, r.obj) for r in part] == [
        ("s 302", "Indian Penal Code")]
    # untouched rows survive byte-identical
    assert out.filter(F.col("pred") == "decided_by").count() == 3
    assert out.columns == kg.columns


def test_resolve_ambiguous_alias_takes_min_canon(spark):
    t = _triples(spark, [
        ("x", "same_as", "B-canon", "d1"),
        ("x", "same_as", "A-canon", "d2"),     # ambiguous across docs
        ("x", "rel", "y", "d1"),
    ])
    out = kgquery.resolve_same_as(t).collect()
    assert [(r.subj, r.pred, r.obj) for r in out] == [
        ("A-canon", "rel", "y")]
    # idempotent: resolving the resolved graph is a no-op
    again = kgquery.resolve_same_as(
        spark.createDataFrame(out, t.schema)).collect()
    assert [(r.subj, r.pred, r.obj) for r in again] == [
        ("A-canon", "rel", "y")]


# ------------------------------------------------------- constraint_report

def test_constraint_report_counts(spark):
    t = _triples(spark, [
        ("s1", "f", "o1", "d"), ("s1", "f", "o2", "d"),   # functional viol
        ("s2", "f", "o1", "d"),                           # inverse viol o1
        ("s1", "g", "o9", "d"),
    ])
    rows = {r.pred: r for r in kgquery.constraint_report(t).collect()}
    f = rows["f"]
    assert (f.n_triples, f.n_subjects, f.n_objects) == (3, 2, 2)
    assert f.functional_violations == 1          # s1 has two objects
    assert f.inverse_violations == 1             # o1 has two subjects
    assert f.max_out_degree == 2
    g = rows["g"]
    assert (g.functional_violations, g.inverse_violations,
            g.max_out_degree) == (0, 0, 1)


# ------------------------------------------------------ streaming twin

def test_stream_bgp_query_matches_batch(spark, tmp_path):
    """The continuous query over three arriving triple files must end
    with EXACTLY the batch bgp_match over the union, and a restart over
    the same checkpoint must change nothing."""
    import os
    import time
    from legal_ner_spark.streaming.stream import (stream_bgp_query,
                                                  read_bgp_bindings)

    b1 = _triples(spark, [("d1", "decided_by", "SC", "d1"),
                          ("d1", "cites_precedent", "A vs B", "d1")])
    b2 = _triples(spark, [("d2", "decided_by", "HC", "d2"),
                          ("d1", "cites_precedent", "C vs D", "d1")])
    b3 = _triples(spark, [("d2", "cites_precedent", "A vs B", "d2"),
                          ("d3", "decided_by", "SC", "d3")])

    in_dir = str(tmp_path / "tri_arrivals")
    now, seen = time.time(), set()
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(os.path.join(in_dir, f), (t, t))

    state = str(tmp_path / "bgp_state")
    ckpt = str(tmp_path / "bgp_ckpt")
    q = stream_bgp_query(spark, in_dir, state, ckpt, PATS)
    assert q.awaitTermination(180)

    got = {tuple(r) for r in read_bgp_bindings(spark, state).collect()}
    full = b1.unionByName(b2).unionByName(b3)
    want = {tuple(r) for r in kgquery.bgp_match(full, PATS).collect()}
    assert got == want and len(got) == 3   # d1×2 precedents + d2×1
    # no binding stored twice across batch subdirs
    assert read_bgp_bindings(spark, state).count() == len(got)

    # restart over the same checkpoint: a no-op
    q2 = stream_bgp_query(spark, in_dir, state, ckpt, PATS)
    assert q2.awaitTermination(180)
    assert {tuple(r) for r in
            read_bgp_bindings(spark, state).collect()} == want
    assert read_bgp_bindings(spark, state).count() == len(got)


def test_stream_bgp_query_rematch_mode_path_pattern(spark, tmp_path):
    """mode='rematch': a continuous PATH query (which the delta matcher
    refuses) over arriving batches ends with exactly the batch
    bgp_match over the union — including a transitive answer whose two
    edges arrived in DIFFERENT batches, the case a delta-pinned leg
    can never enumerate; no binding is stored twice."""
    import os
    import time
    from legal_ner_spark.streaming.stream import (stream_bgp_query,
                                                  read_bgp_bindings)

    pats = [("?x", "part_of+", "?y")]
    b1 = _triples(spark, [("s1", "part_of", "ch1", "d1"),
                          ("d1", "decided_by", "SC", "d1")])
    b2 = _triples(spark, [("ch1", "part_of", "act1", "d2")])

    in_dir = str(tmp_path / "tri_arrivals")
    now, seen = time.time(), set()
    for i, b in enumerate((b1, b2)):
        b.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(os.path.join(in_dir, f), (t, t))

    state = str(tmp_path / "bgp_state")
    ckpt = str(tmp_path / "bgp_ckpt")
    q = stream_bgp_query(spark, in_dir, state, ckpt, pats, mode="rematch")
    assert q.awaitTermination(180)

    got = {tuple(r) for r in read_bgp_bindings(spark, state).collect()}
    want = {tuple(r) for r in
            kgquery.bgp_match(b1.unionByName(b2), pats).collect()}
    # the cross-batch transitive pair is present
    assert ("s1", "act1") in got
    assert got == want
    assert read_bgp_bindings(spark, state).count() == len(got)

    with pytest.raises(ValueError, match="mode"):
        stream_bgp_query(spark, in_dir, state, ckpt, pats, mode="nope")


def test_stream_bgp_query_replayed_tag_overwrites(spark, tmp_path):
    """Simulated replay: re-running a batch's foreachBatch body with
    its own subdirs already committed must rewrite the same rows, not
    double them or blank them (the self-anti-join hazard)."""
    import os
    from legal_ner_spark.streaming import stream as S

    state = str(tmp_path / "st")
    tri_store = os.path.join(state, "triples")
    bind_store = os.path.join(state, "bindings")
    b1 = _triples(spark, [("d1", "decided_by", "SC", "d1"),
                          ("d1", "cites_precedent", "A vs B", "d1")])

    def run_batch(df, bid):
        # mirror of stream_bgp_query's process()
        tag = f"batch-{bid:06d}"
        delta = df.select("subj", "pred", "obj", "doc_id")
        def prior(store):
            if not os.path.isdir(store):
                return None
            return (spark.read.parquet(store)
                    .filter(F.col("batch_tag") != tag).drop("batch_tag"))
        pt = prior(tri_store)
        full = delta if pt is None else pt.unionByName(delta)
        nb = kgquery.bgp_match_delta(full, delta, PATS)
        pb = prior(bind_store)
        if pb is not None:
            nb = nb.join(pb, on=list(nb.columns), how="left_anti")
        nb.write.mode("overwrite").parquet(
            os.path.join(bind_store, f"batch_tag={tag}"))
        delta.write.mode("overwrite").parquet(
            os.path.join(tri_store, f"batch_tag={tag}"))

    run_batch(b1, 0)
    first = {tuple(r) for r in
             spark.read.parquet(bind_store).drop("batch_tag").collect()}
    assert first == {("d1", "SC", "A vs B")}
    run_batch(b1, 0)       # replay of the SAME batch id
    again = spark.read.parquet(bind_store).drop("batch_tag")
    assert {tuple(r) for r in again.collect()} == first
    assert again.count() == 1


# ------------------------------------------------ group_by / agg / union

def test_bgp_group_agg_and_having(kg):
    out = kgquery.bgp_match(
        kg, [("?d", "decided_by", "?c"), ("?d", "cites_precedent", "?p")],
        group_by="?c",
        agg={"?n_d": "count(distinct d)", "?n": "count(*)"})
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("SC", 1, 2), ("HC", 1, 1)}
    assert out.columns == ["c", "n_d", "n"]
    kept = kgquery.bgp_match(
        kg, [("?d", "decided_by", "?c"), ("?d", "cites_precedent", "?p")],
        group_by="?c", agg={"?n": "count(*)"}, having="n >= 2")
    assert {tuple(r) for r in kept.collect()} == {("SC", 2)}


def test_bgp_global_agg_and_bare_group_by(kg):
    g = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          agg={"?n": "count(*)"})
    assert [tuple(r) for r in g.collect()] == [(3,)]
    keys = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                             group_by=["?c"])
    assert {r["c"] for r in keys.collect()} == {"SC", "HC"}
    assert keys.columns == ["c"]


def test_bgp_agg_distinct_vs_multiset(kg):
    # distinct=True (default): set-semantics bindings -> d1 counts once
    s = kgquery.bgp_match(kg, [("?d", "cites_precedent", None)],
                          group_by="?d", agg={"?n": "count(*)"})
    assert {tuple(r) for r in s.collect()} == {("d1", 1), ("d2", 1)}
    # distinct=False: SPARQL multiset counting -> d1 cites twice
    m = kgquery.bgp_match(kg, [("?d", "cites_precedent", None)],
                          group_by="?d", agg={"?n": "count(*)"},
                          distinct=False)
    assert {tuple(r) for r in m.collect()} == {("d1", 2), ("d2", 1)}


def test_bgp_group_agg_validation(kg):
    with pytest.raises(ValueError, match="select cannot be combined"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          group_by="?c", agg={"?n": "count(*)"},
                          select=["?c"])
    with pytest.raises(ValueError, match="collides with a declared"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          group_by="?c", agg={"?d": "count(*)"})
    with pytest.raises(ValueError, match="undeclared variable"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          group_by="?x", agg={"?n": "count(*)"})
    with pytest.raises(ValueError, match="having requires"):
        kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                          having="c = 'SC'")


def test_bgp_union_branches_and_null_fill(kg):
    out = kgquery.bgp_union(kg, [
        [("?d", "decided_by", "?v")],
        {"patterns": [("?d", "has_judge", "?v")],
         "bind": {"?src": "'judge'"}},
    ])
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("d1", "SC", None), ("d2", "HC", None),
                    ("d3", "SC", None),
                    ("d1", "J. Rao", "judge"), ("d2", "J. Rao", "judge")}
    assert out.columns == ["d", "v", "src"]


def test_bgp_union_modifiers_and_validation(kg):
    top = kgquery.bgp_union(
        kg, [[("?d", "decided_by", "?v")],
             [("?d", "has_judge", "?v")]],
        order_by=["?d", "?v"], limit=2)
    assert [tuple(r) for r in top.collect()] == [
        ("d1", "J. Rao"), ("d1", "SC")]
    with pytest.raises(ValueError, match="branch-level"):
        kgquery.bgp_union(kg, [{"patterns": [("?d", "decided_by", "?v")],
                                "limit": 1}])
    with pytest.raises(ValueError, match="at least one group"):
        kgquery.bgp_union(kg, [])


def test_describe_list_and_dataframe_forms(kg, spark):
    want = {("ipc", "same_as", "Indian Penal Code", "d1"),
            ("s 302", "part_of", "ipc", "d1")}
    lst = kgquery.describe(kg, ["ipc"])
    assert {tuple(r) for r in lst.collect()} == want
    ids = spark.createDataFrame([("ipc",)], "node string")
    dfd = kgquery.describe(kg, ids)
    assert {tuple(r) for r in dfd.collect()} == want
    with pytest.raises(ValueError, match="exactly one column"):
        kgquery.describe(kg, kg.select("subj", "obj"))
    with pytest.raises(ValueError, match="at least one node"):
        kgquery.describe(kg, [])


def test_bgp_group_agg_plan_is_partial_hash_agg(kg):
    out = kgquery.bgp_match(
        kg, [("?d", "decided_by", "?c"), ("?d", "cites_precedent", "?p")],
        group_by="?c", agg={"?n": "count(*)"})
    plan = out._jdf.queryExecution().executedPlan().toString()
    # map-side partial + final hash aggregate, never a window/sort agg
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "SortAggregate" not in plan


def test_bgp_union_plan_is_union_node(kg):
    out = kgquery.bgp_union(kg, [[("?d", "decided_by", "?v")],
                                 [("?d", "has_judge", "?v")]])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan      # zero-shuffle combine of the branches


def test_bgp_agg_accepts_any_sql_aggregate(kg):
    # SPARQL GROUP_CONCAT via Spark's collect_list — the agg dict takes
    # any SQL aggregate expression, not a fixed function menu
    out = kgquery.bgp_match(
        kg, [("?d", "cites_precedent", "?p")], group_by="?d",
        agg={"?ps": "concat_ws('|', sort_array(collect_list(p)))"})
    assert {tuple(r) for r in out.collect()} == {
        ("d1", "A vs B|C vs D"), ("d2", "A vs B")}


def test_bgp_subquery_join_and_validation(kg):
    # SPARQL nested SELECT: courts with >= 2 judgments, joined back
    sub = kgquery.bgp_match(kg, [("?d2", "decided_by", "?c")],
                            group_by="?c",
                            agg={"?n": "count(distinct d2)"},
                            having="n >= 2")
    out = kgquery.bgp_match(kg, [("?d", "decided_by", "?c"),
                                 ("?d", "has_judge", "?j")],
                            subqueries=[sub])
    # SC has d1+d3 (n=2); only d1 has a judge.  HC has n=1 -> dropped.
    assert {tuple(r) for r in out.collect()} == {("d1", "SC", "J. Rao", 2)}
    assert out.columns == ["d", "c", "j", "n"]
    # fresh subquery columns are selectable and filterable
    sel = kgquery.bgp_match(kg, [("?d", "decided_by", "?c")],
                            subqueries=sub, select=["?c", "?n"])
    assert {tuple(r) for r in sel.collect()} == {("SC", 2)}
    with pytest.raises(ValueError, match="subquery shares no variable"):
        kgquery.bgp_match(kg, [("?m", "same_as", "?canon")],
                          subqueries=[sub])
