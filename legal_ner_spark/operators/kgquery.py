"""Declarative query + validation layer over the constructed KG.

The engine's OUTPUT is a (subj, pred, obj, doc_id) triple table (see
`operators/extract.py`, reference CSV export `postprocessing_utils.py:825-864`
re-expressed as triples per SURVEY §1.2).  A KG platform also needs the
CONSUMER side — the operators a user points at the finished graph:

- ``bgp_match``: SPARQL-style basic-graph-pattern matching — conjunctive
  triple patterns with shared variables — compiled to one hub shuffle for
  a small star or chain group, else to selectivity-ordered equi-joins
  over predicate-pushed scans of the triple table, with
  OPTIONAL (left join), MINUS (per-pattern anti join), FILTER EXISTS /
  NOT EXISTS (conjunctive sub-group semi/anti join), VALUES (scan-level
  In filters), and FILTER expressions.
- ``property_path``: bounded-length pairwise reachability (SPARQL
  ``pred{1,k}`` paths) as iterated frontier equi-joins with min-hop
  semantics and lineage truncation per hop.
- ``path_edges`` / ``path_sequence``: SPARQL path expressions — inverse
  steps (``^pred``), alternation unions, and fixed sequence composition.
- ``construct`` / ``closure``: the inference half — single-pass CONSTRUCT
  rule application, and semi-naive transitive/symmetric predicate closure
  (the recursive rule shape) emitted as derived triples.
- ``resolve_same_as``: canonicalizing rewrite of the graph through its own
  ``same_as`` edges (the entity-resolution payoff of statute clustering).
- ``constraint_report``: SHACL-lite structural validation — per-predicate
  functionality / inverse-functionality / cardinality profile.
- ``rdfs_entail`` / ``owl_extend``: schema-driven entailment
  materialization — the ρdf rule set (sub-class/sub-property closure,
  domain/range typing, type inheritance) and the OWL-RL property
  fragment (inverse-of, symmetric, transitive declarations), each a
  stratified pass of instance-scan ⋈ broadcast-ontology joins over
  semi-naive closures.
- ``update_graph`` / ``update_graph_commit``: SPARQL Update —
  ``DELETE/INSERT WHERE`` (and the ground DATA forms) as one shared BGP
  match + template instantiation + 3-tuple anti-join/union, pure or
  committed as a new store snapshot under the atomic manifest flip with
  time travel and retention.
- ``validate_shapes``: declarative SHACL-lite shapes —
  targetSubjectsOf focus selection with min/max-count, sh:in, and
  sh:pattern constraints compiled to pred-pushed scans + hash
  aggregates, violations as rows.

Scale shape: everything here is pure DataFrame filter/equi-join/aggregate.
Pattern scans are `pred = literal` filters (`pred IN (…)` for a hub group)
that reach the parquet scan as PushedFilters; join order and the hub-plan
choice come from per-predicate row counts — read from
the ``_pred_counts.json`` a published triple table stores beside its data
when the input is a bare scan of such tables (see `plans/publish.py`),
else from a ≤|preds|-row predicate-count probe (the same broadcast-stats
idiom as `search.py`'s term buckets — the probe result is a handful of
literals, never data); path expansion is one
(dst=src)-keyed shuffle per hop, bounded by the DISTINCT frontier and the
seen-pair anti-join so a dense core never re-expands.  No operator in this
module ever builds a cartesian product — disconnected patterns are refused
unless the caller explicitly opts in.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import publish
from ..plans.checkpoint import Truncator, delta_fixpoint

__all__ = ["bgp_match", "bgp_match_delta", "property_path", "path_edges",
           "path_sequence", "construct", "closure", "to_ntriples",
           "from_ntriples", "resolve_same_as", "constraint_report",
           "rdfs_entail", "owl_extend", "update_graph",
           "update_graph_commit", "validate_shapes",
           "materialize_rules", "materialize_rules_delta",
           "materialize_rules_retract", "update_graph_maintain",
           "materialize_rules_stratified", "stratify_rules",
           "materialize_rules_stratified_maintain",
           "goal_rules", "materialize_rules_goal", "explain_derivation",
           "rdfs_rules", "graph_diff"]

_TERM_COLS = ("subj", "pred", "obj", "doc_id")
_SPO = ["subj", "pred", "obj"]


def _pred_counts(triples: DataFrame) -> dict:
    """``{pred: row count}`` of a triple table, behind join order and
    broadcast hints: the counts stored with the table when ``triples``
    is a bare scan of published tables (no Spark job), else the
    selectivity probe, one ≤|preds|-row aggregate collected as
    literals."""
    stored = publish.stored_pred_counts(triples)
    return stored if stored is not None else publish.count_preds(triples)


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _var_name(term: str) -> str:
    name = term[1:]
    if not name.isidentifier():
        raise ValueError(f"bad variable name {term!r}")
    return name


def _apply_values(pdf: DataFrame, pvars, vmap: dict) -> DataFrame:
    for v in pvars:
        if v in vmap:
            pdf = pdf.filter(F.col(v).isin(vmap[v]))
    return pdf


def _join_tree(compiled, srcs, broadcast_rows: int,
               allow_product: bool) -> tuple[DataFrame, list]:
    """The required patterns' greedy left-deep join tree: cheapest
    connected pattern next, sides estimated ≤ ``broadcast_rows``
    broadcast.  Returns the bindings and their variables."""
    order = sorted(range(len(compiled)), key=lambda i: compiled[i][0])
    done: set[int] = set()
    first = order[0]
    _, out_vars, cur = compiled[first]
    out_vars = list(out_vars)
    done.add(first)
    # a delta-pinned start keeps the ACCUMULATING binding side delta-sized
    # through every join — hint it broadcast so the store patterns stream
    # through BroadcastHashJoins unshuffled (scan-only cost per leg);
    # without the hint Catalyst sees an unknown-size side and shuffles
    # the store on every hop
    cur_small = srcs[first] is not None
    while len(done) < len(compiled):
        nxt = None
        for i in order:
            if i in done:
                continue
            if set(compiled[i][1]) & set(out_vars):
                nxt = i
                break
        if nxt is None:
            if not allow_product:
                raise ValueError(
                    "disconnected pattern group (cartesian product); pass "
                    "allow_product=True to run it anyway")
            nxt = next(i for i in order if i not in done)
        est, pvars, pdf = compiled[nxt]
        shared = [v for v in out_vars if v in pvars]
        if est <= broadcast_rows:
            pdf = F.broadcast(pdf)
        elif cur_small:
            cur = F.broadcast(cur)
        cur = cur.join(pdf, on=shared, how="inner") if shared \
            else cur.crossJoin(pdf)
        out_vars += [v for v in pvars if v not in out_vars]
        done.add(nxt)
    return cur, out_vars


def _hub_var(pats) -> str | None:
    """The variable a star or chain group shares: every pattern (≥ 2,
    each with a constant non-path predicate) binds it exactly once, in
    its subject or object, and every other variable occurs once in the
    group.  None when the group has no such hub."""
    if len(pats) < 2 or any(p[1] is None or _is_var(p[1])
                            or _is_path_expr(p[1]) for p in pats):
        return None
    ends = [{_var_name(t) for t in (p[0], p[2]) if _is_var(t)}
            for p in pats]
    common = set.intersection(*ends)
    if len(common) != 1:
        return None
    hub = common.pop()
    seen = [_var_name(t) for p in pats for t in (p[0], p[2], p[3])
            if _is_var(t)]
    others = [v for v in seen if v != hub]
    if len(seen) - len(others) != len(pats) or \
            len(set(others)) != len(others):
        return None
    return hub


def _hub_match(triples: DataFrame, pats, hub: str,
               distinct: bool) -> DataFrame:
    """Bindings of a star/chain group around ``hub`` in one shuffle: one
    ``pred IN (…)`` scan; one generate emitting, per pattern ``i`` a
    triple matches (a triple can match several), the hub and a value
    ``v<i>`` holding the pattern's other variables; one ``groupBy(hub)``
    collecting each ``v<i>``; then one ``explode`` per slot, chained, so
    a group's cross product streams out a row at a time (an empty slot
    yields nothing) and no value holds more than one slot's collection —
    a hot hub's product can be far larger than its input.  Sets make
    the output DISTINCT by construction; lists (``distinct=False``)
    keep the join's multiplicities.  The structure is SQL text over
    internal column names and the (identifier) variable names, because
    every PySpark Column call costs ~1 ms of Python-side planning and
    that is most of a small query's wall time; only pattern constants
    are literal Columns."""
    n = len(pats)
    arms, fields = [], [f"hub AS `{hub}`"]
    for i, p in enumerate(pats):
        hub_col = "subj" if _is_var(p[0]) and _var_name(p[0]) == hub \
            else "obj"
        cond = F.col("pred") == F.lit(p[1])
        own = []
        for c, t in zip(_TERM_COLS, p):
            if _is_var(t) and c != hub_col:
                own.append(f"'{_var_name(t)}', {c}")
                fields.append(f"a{i}.`{_var_name(t)}` AS `{_var_name(t)}`")
            elif t is not None and c != "pred" and not _is_var(t):
                cond = cond & (F.col(c) == F.lit(t))
        # the other slots' values are untyped NULLs that array() widens;
        # a null hub matches nothing, as in a join
        val = f"named_struct({', '.join(own)})" if own else "true"
        slots = ", ".join(f"'v{j}', " + (val if j == i else "NULL")
                          for j in range(n))
        arms.append(F.when(cond, F.expr(
            f"IF({hub_col} IS NULL, NULL, "
            f"named_struct('hub', {hub_col}, {slots}))")))
    agg = "collect_set" if distinct else "collect_list"
    out = (triples.filter(F.col("pred").isin(sorted({p[1] for p in pats})))
           .select(F.inline(F.array(*arms)))
           .groupBy("hub")
           .agg(*[F.expr(f"{agg}(v{i}) AS _s{i}") for i in range(n)]))
    for i in range(n):
        out = out.selectExpr("hub", *[f"a{j}" for j in range(i)],
                             f"explode(_s{i}) AS a{i}",
                             *[f"_s{j}" for j in range(i + 1, n)])
    return out.selectExpr(*fields)


def bgp_match(triples: DataFrame, patterns, *, optional=(), minus=(),
              exists=(), not_exists=(),
              values: dict | None = None, filters=(),
              distinct: bool = True, allow_product: bool = False,
              broadcast_rows: int = 50_000,
              pred_stats: dict | None = None,
              sources=None, select=None, order_by=(),
              limit: int | None = None,
              offset: int | None = None,
              path_max_hops: int = 8,
              bind: dict | None = None,
              group_by=None, agg: dict | None = None,
              having: str | None = None,
              subqueries=()) -> DataFrame:
    """Match a conjunctive basic graph pattern against a triple table.

    ``patterns`` is a list of 3- or 4-tuples ``(subj, pred, obj[, doc])``
    where each term is a literal string, a variable (``"?name"``), or
    ``None`` (unconstrained, not projected).  Returns one column per
    variable (without the ``?``), first-appearance order, DISTINCT
    bindings by default (SPARQL ``SELECT DISTINCT`` semantics — the
    natural contract over a set-semantics triple table).

    Plan: a pattern's cost is its predicate's row count — stored with a
    published table, else probed (see ``pred_stats``) — divided by 100
    per bound term beyond the predicate.  A STAR or CHAIN group runs as
    one hub shuffle: ≥ 2 required patterns with constant predicates,
    all binding one hub variable as subject or object, every other
    variable occurring once, each pattern costed ≤ ``broadcast_rows``,
    and no OPTIONAL / MINUS / EXISTS / VALUES / FILTER / ``sources`` /
    ``subqueries`` / path pattern.  It is one ``pred IN (…)`` scan, one
    generate emitting each pattern slot a triple fills, one
    ``groupBy(hub)`` collecting each slot's values (a set, or a list
    with ``distinct=False`` so multiplicities equal the join's), and one
    chained ``explode`` per slot that streams each group's cross
    product: 2 Spark jobs.  Its rows are distinct by construction, so
    no DISTINCT exchange follows unless ``select`` drops a variable.
    The bound keeps one hub's collected input no larger than what the
    join plan broadcasts to every task (its output, like the join's, is
    the product of the hub's fan-outs); ``broadcast_rows=0`` always
    takes the join plan.  Any other group
    compiles each pattern to a filtered projection of ``triples`` (bound
    terms become pushdown-able equality predicates) and joins them
    left-deep on their shared variables, cheapest first;
    estimated-small sides get a broadcast hint (AQE still has the final
    word).  Patterns that share no variable with the accumulated join are
    a cartesian product and raise unless ``allow_product=True``.

    ``optional`` patterns (SPARQL OPTIONAL) left-join AFTER every required
    pattern, in the order given; their fresh variables come back null when
    nothing matches.  Each must share ≥1 variable with the required group
    — an unanchored optional would be a cartesian product with nulls.

    ``minus`` patterns (SPARQL MINUS) anti-join after the optionals:
    bindings with ANY match against the pattern drop.  Fresh variables
    inside a minus pattern are existential (never projected); the same
    anchoring rule applies.  Each minus pattern is applied SEPARATELY —
    ``minus=[A, B]`` means ¬A ∧ ¬B.

    ``exists`` / ``not_exists`` (SPARQL ``FILTER EXISTS { ... }`` /
    ``FILTER NOT EXISTS { ... }``) each take ONE conjunctive pattern
    group (a flat pattern list, matched as a sub-BGP), applied after
    OPTIONAL and MINUS.  This is the piece MINUS cannot express:
    ``not_exists=[A, B]`` drops bindings where A ∧ B jointly match —
    ¬(A ∧ B) — while ``minus=[A, B]`` is ¬A ∧ ¬B.  Shared-variable
    correlation is SQL-style (equality on the shared columns; a NULL
    shared value from an OPTIONAL never matches — it fails EXISTS and
    passes NOT EXISTS — where the SPARQL spec's substitution semantics
    would leave the inner variable free; divergence documented by
    choice, matching every SQL engine's correlated EXISTS).  A group
    sharing NO variable with the bindings is the constant gate the spec
    prescribes: EXISTS keeps everything iff the group matches at all,
    NOT EXISTS drops everything iff it does — decided by an eager
    limit-1 probe at compile time, the same eagerness class as the
    predicate-count probe.

    ``values`` (SPARQL VALUES, one-variable form: ``{"?v": [lit, ...]}``)
    restricts a variable to an explicit literal list.  It is compiled as
    an ``IsIn`` filter on EVERY required pattern that binds the variable
    — an In predicate that reaches the parquet scan, not a post-join
    filter — so it must name variables bound by required patterns (a
    VALUES over an optional-only variable has null-compatibility
    semantics this compiler does not implement, and is refused).  A
    valued pattern's cost estimate is discounted like any bound term
    (÷100) — a pathological list of many HOT literals can over-discount
    and earn a broadcast hint the filtered side doesn't deserve; pass
    ``broadcast_rows=0`` to disable all broadcast hints and let AQE
    decide from runtime sizes.

    ``filters`` (SPARQL FILTER) are SQL boolean expressions over the
    variable columns (``"court != 'SC'"``, ``"length(j) > 3"``), applied
    after the joins and before DISTINCT — Catalyst then pushes each one
    as deep as its referenced variables allow, so a single-variable
    filter still lands on that pattern's scan without this compiler
    doing anything; a filtered group therefore always takes the join
    plan.  Expressions must reference declared variables only.

    ``pred_stats`` (``{pred: row_count}``) overrides the counts.  Without
    it, a bare scan of published triple tables (``read_triples``, a
    ``write_triples`` table read whole) uses the counts stored with its
    tables and submits no job before the query; any other input
    (filtered, aliased, joined, in-memory, or a table whose counts file
    is missing) runs the count probe.  Pass a precomputed dict when
    issuing many queries against one derived table.

    A predicate term containing path metacharacters is a PROPERTY-PATH
    EXPRESSION (``"part_of/same_as?"``, ``"same_as+"``,
    ``"(cites_precedent|^cites_precedent){1,2}"``): the pattern matches
    the path's endpoint relation, evaluated by ``path_relation`` (one
    pred-pushed scan per step, semi-naive frontier loop for
    quantifiers, ``+``/``*`` bounded by ``path_max_hops``) and joined
    into the BGP like any other pattern.  Path patterns take no doc
    term and cannot be delta-pinned.

    ``bind`` (SPARQL BIND: ``{"?year": "substring(p, -4, 4)"}``) adds
    computed variables — SQL expressions over the declared variables —
    evaluated after the joins and FILTERs, in dict order (a later bind
    may reference an earlier one), before projection, so bound
    variables participate in ``select``/``order_by``/``filters``-free
    downstream use exactly like matched ones.  Rebinding a declared or
    earlier-bound name is refused, as in the spec.

    ``group_by`` / ``agg`` / ``having`` (SPARQL GROUP BY + aggregates):
    ``group_by`` lists grouping variables; ``agg`` maps fresh aliases to
    SQL aggregate expressions over the variable columns
    (``{"?n": "count(*)", "?top": "max(p)"}`` — COUNT/SUM/MIN/MAX/AVG/
    COUNT(DISTINCT ...) and friends, evaluated by Spark's hash
    aggregate with map-side partials, never a window); ``having`` is a
    SQL boolean over group keys + aliases applied to the aggregated
    rows (SPARQL HAVING).  ``agg`` without ``group_by`` is the global
    aggregate (``SELECT (COUNT(*) AS ?n) WHERE …``); ``group_by``
    without ``agg`` returns the distinct key combinations.  Aggregates
    compute over the DISTINCT binding set when ``distinct=True`` (the
    default — consistent with the layer's set-semantics contract over
    a set-semantics triple table); pass ``distinct=False`` for SPARQL's
    multiset counting.  ``select`` cannot be combined with grouping —
    the aggregated projection IS the keys + aliases; ``order_by``/
    ``limit``/``offset`` then act on the aggregated solutions.

    ``subqueries`` (SPARQL nested SELECT): each entry is a solution
    DataFrame — typically another ``bgp_match`` call, often an
    aggregated one — evaluated bottom-up per the spec and inner-joined
    into this group on its shared variable COLUMNS ("judgments decided
    by courts with ≥N judgments": the subquery groups per court, the
    outer group joins on ``court``).  Fresh subquery columns (aggregate
    aliases) become declared variables, projectable and FILTER-able
    like matched ones.  A subquery sharing no variable with the group
    is refused (a cartesian product).  No broadcast hint is placed —
    a subquery's size is unknowable at compile time; AQE decides from
    runtime sizes (aggregated subqueries are usually tiny and convert
    to broadcast joins at runtime).

    Solution modifiers, applied in SPARQL's order (projection →
    DISTINCT → ORDER BY → OFFSET → LIMIT): ``select`` projects a subset
    of the declared variables (``["?court", "?j"]``); ``order_by``
    sorts by variables, ``"-?v"`` for descending — with a projection it
    must reference projected variables (the same restriction SPARQL
    puts on SELECT DISTINCT); ``limit``/``offset`` slice the ordered
    solutions.  OFFSET without ORDER BY is refused — an unordered
    offset is a nondeterministic answer in a distributed engine (the
    spec says the same: without ORDER BY, LIMIT/OFFSET pick arbitrary
    solutions; LIMIT alone is allowed since "any N solutions" is a
    meaningful contract, "skip an arbitrary N" is not).  ORDER BY +
    LIMIT compiles to Spark's TakeOrderedAndProject — a per-partition
    top-k fold, never a global sort of the full binding set.

    ``sources`` (parallel to ``patterns``; entries a DataFrame or None)
    overrides the triple table for individual REQUIRED patterns — the
    hook `bgp_match_delta` uses to pin one pattern to a small delta
    while the rest read the full store.  An overridden pattern is
    assumed delta-sized: it sorts first in the join order and gets the
    broadcast hint.
    """
    if not patterns:
        raise ValueError("bgp_match needs at least one pattern")

    def _norm(ps):
        out = []
        for p in ps:
            p = tuple(p)
            if len(p) == 3:
                p = p + (None,)
            if len(p) != 4:
                raise ValueError(f"pattern must have 3 or 4 terms, got {p!r}")
            out.append(p)
        return out

    pats, opats, mpats = _norm(patterns), _norm(optional), _norm(minus)

    # selectivity probe: one ≤|preds|-row aggregate, collected as literals
    pred_counts = pred_stats if pred_stats is not None \
        else _pred_counts(triples)
    total = sum(pred_counts.values()) or 1

    def _est(p):
        est = float(total)
        if not _is_var(p[1]) and p[1] is not None:
            est = float(pred_counts.get(p[1], 0))
        # every bound term beyond the predicate sharpens the estimate;
        # the factor is crude but monotone, which is all ordering needs
        n_bound = sum(t is not None and not _is_var(t) for t in p)
        return est / (100.0 ** max(0, n_bound - (0 if _is_var(p[1]) else 1)))

    def _compile(p, src=None):
        # property-path predicate (``part_of/same_as?``, ``same_as+``,
        # ``(a|^b){1,2}`` …): the pattern's relation is the evaluated
        # path endpoints instead of a filtered triple scan — see
        # `path_relation`.  The doc term has no meaning across hops and
        # a delta pin has no sound incremental semantics for a closure
        # (one new edge can create many new paths), so both are refused.
        if p[1] is not None and not _is_var(p[1]) and _is_path_expr(p[1]):
            if p[3] is not None:
                raise ValueError(
                    f"path pattern {p[:3]!r} cannot constrain doc_id — "
                    "a multi-hop match spans documents")
            if src is not None:
                raise ValueError(
                    "a path-expression pattern cannot be delta-pinned "
                    "(a delta edge can create paths the delta does not "
                    "contain); evaluate it against the full store")
            rel = path_relation(triples, p[1], max_hops=path_max_hops,
                                checkpoint_dir=_session_ckpt(
                                    triples.sparkSession),
                                pred_stats=pred_counts,
                                broadcast_rows=broadcast_rows)
            df = rel
            seen_vars: dict[str, str] = {}
            proj = []
            for col, term in (("src", p[0]), ("dst", p[2])):
                if term is None:
                    continue
                if _is_var(term):
                    v = _var_name(term)
                    if v in seen_vars:
                        df = df.filter(F.col(seen_vars[v]) == F.col(col))
                    else:
                        seen_vars[v] = col
                        proj.append(F.col(col).alias(v))
                else:
                    df = df.filter(F.col(col) == F.lit(term))
            first_alts, _, _, first_neg = _parse_path(p[1])[0]
            named = float(sum(pred_counts.get(a.lstrip("^"), 0)
                              for a in first_alts))
            # a negated set matches everything BUT the named preds
            est = (max(float(total) - named, 1.0) if first_neg
                   else named or 1.0)
            return est, list(seen_vars), df.select(*proj)
        df = triples if src is None else src
        seen_vars: dict[str, str] = {}   # var name -> first column
        eq_pairs = []
        proj = []
        for col, term in zip(_TERM_COLS, p):
            if term is None:
                continue
            if _is_var(term):
                v = _var_name(term)
                if v in seen_vars:          # repeated var inside a pattern
                    eq_pairs.append((seen_vars[v], col))
                else:
                    seen_vars[v] = col
                    proj.append(F.col(col).alias(v))
            else:
                df = df.filter(F.col(col) == F.lit(term))
        for a, b in eq_pairs:
            df = df.filter(F.col(a) == F.col(b))
        # delta-pinned: smallest, joins first
        est = 0.0 if src is not None else _est(p)
        return est, list(seen_vars), df.select(*proj)

    if sources is not None and len(sources) != len(pats):
        raise ValueError("sources must be parallel to patterns")
    srcs = sources or [None] * len(pats)
    # a star/chain group whose patterns all fit under the broadcast bound
    # is one hub shuffle instead of a join tree (see `_hub_match`)
    hub = None
    if not (opats or mpats or exists or not_exists or values or filters
            or subqueries or sources is not None) and broadcast_rows > 0:
        hub = _hub_var(pats)
        if hub is not None and any(_est(p) > broadcast_rows for p in pats):
            hub = None
    # the hub plan's bindings are distinct by construction
    unique = hub is not None
    compiled = [] if unique else [_compile(p, s) for p, s in zip(pats, srcs)]
    ocompiled = [_compile(p) for p in opats]
    mcompiled = [_compile(p) for p in mpats]

    # VALUES: IsIn filters on every required pattern binding the variable
    if values:
        vmap = {}
        for term, lits in values.items():
            lits = list(lits)
            if not lits:
                raise ValueError(f"empty VALUES list for {term!r}")
            vmap[_var_name(term)] = lits
        required_vars = {v for _, pvars, _ in compiled for v in pvars}
        missing = set(vmap) - required_vars
        if missing:
            raise ValueError(
                f"VALUES variable(s) {sorted(missing)} not bound by any "
                "required pattern")
        compiled = [
            (est / (100.0 if set(pvars) & set(vmap) else 1.0), pvars,
             _apply_values(pdf, pvars, vmap))
            for est, pvars, pdf in compiled]

    declared = []           # projection order = first appearance in patterns
    for t in (t for p in pats + opats for t in p if _is_var(t)):
        if _var_name(t) not in declared:
            declared.append(_var_name(t))
    if unique:
        cur, out_vars = _hub_match(triples, pats, hub, distinct), declared[:]
    else:
        cur, out_vars = _join_tree(compiled, srcs, broadcast_rows,
                                   allow_product)

    # OPTIONAL patterns: left joins in caller order, anchored or refused
    for est, pvars, pdf in ocompiled:
        shared = [v for v in out_vars if v in pvars]
        if not shared:
            raise ValueError(
                "optional pattern shares no variable with the required "
                "group (unanchored OPTIONAL is a cartesian product)")
        if est <= broadcast_rows:
            pdf = F.broadcast(pdf)
        cur = cur.join(pdf, on=shared, how="left")
        out_vars += [v for v in pvars if v not in out_vars]

    # MINUS patterns: anti joins; fresh variables are existential
    for est, pvars, pdf in mcompiled:
        shared = [v for v in out_vars if v in pvars]
        if not shared:
            raise ValueError(
                "minus pattern shares no variable with the matched group "
                "(an unanchored MINUS either drops everything or nothing)")
        if est <= broadcast_rows:
            pdf = F.broadcast(pdf)
        cur = cur.join(pdf.select(*shared), on=shared, how="left_anti")

    # EXISTS / NOT EXISTS groups: each is ONE sub-BGP (conjunctive),
    # matched by a recursive bgp_match that reuses this call's predicate
    # counts (no second probe), then semi/anti-joined on the shared
    # variables.  The group's own join tree is selectivity-ordered like
    # any BGP; its estimate for the broadcast hint is the cheapest
    # pattern's (a conjunctive match is never costed above its rarest
    # atom here — AQE corrects at runtime if the join fans out).
    def _group_est(group):
        ests = []
        for p in _norm(group):
            e = float(total)
            if not _is_var(p[1]) and p[1] is not None:
                e = float(pred_counts.get(p[1], 0))
            ests.append(e)
        return min(ests) if ests else 0.0

    for group, keep_on_match in ((exists, True), (not_exists, False)):
        if not group:
            continue
        g = bgp_match(triples, group, distinct=True,
                      allow_product=allow_product,
                      broadcast_rows=broadcast_rows,
                      pred_stats=pred_counts)
        shared = [v for v in out_vars if v in g.columns]
        if shared:
            gsel = g.select(*shared)
            if _group_est(group) <= broadcast_rows:
                gsel = F.broadcast(gsel)
            cur = cur.join(gsel, on=shared,
                           how="left_semi" if keep_on_match else "left_anti")
        else:
            # constant gate: the group's truth doesn't vary per binding
            matched = not g.isEmpty()
            if matched != keep_on_match:
                cur = cur.where(F.lit(False))

    # subqueries: bottom-up-evaluated solution tables, joined on their
    # shared variable columns; fresh columns become declared variables
    for sq in ([subqueries] if isinstance(subqueries, DataFrame)
               else subqueries):
        shared = [v for v in out_vars if v in sq.columns]
        if not shared:
            raise ValueError(
                "subquery shares no variable with the group (a "
                "cartesian product); correlate it on at least one "
                "variable column")
        cur = cur.join(sq, on=shared, how="inner")
        fresh = [c for c in sq.columns if c not in out_vars]
        out_vars += fresh
        declared += [c for c in fresh if c not in declared]

    cur = cur.select(*declared)
    for fx in ([filters] if isinstance(filters, str) else filters):
        cur = cur.filter(F.expr(fx))
    if bind:
        for term, expr in bind.items():
            v = _var_name(term) if _is_var(term) else term
            if v in declared:
                raise ValueError(
                    f"BIND would rebind ?{v}, which is already bound "
                    "(SPARQL refuses BIND onto an in-scope variable)")
            cur = cur.withColumn(v, F.expr(expr))
            declared.append(v)
    grouped = False
    if agg or group_by:
        if select is not None:
            raise ValueError(
                "select cannot be combined with group_by/agg — the "
                "aggregated projection is the group keys plus the "
                "aggregate aliases")
        keys = []
        for v in ([group_by] if isinstance(group_by, str)
                  else (group_by or [])):
            n = _var_name(v) if _is_var(v) else v
            if n not in declared:
                raise ValueError(
                    f"group_by names undeclared variable ?{n} "
                    f"(declared: {declared})")
            keys.append(n)
        if distinct and not unique:
            # set-semantics default: aggregate the DISTINCT binding set
            cur = cur.distinct()
        aggs = []
        for term, expr in (agg or {}).items():
            n = _var_name(term) if _is_var(term) else term
            if n in declared:
                raise ValueError(
                    f"aggregate alias ?{n} collides with a declared "
                    "variable (SPARQL refuses rebinding, like BIND)")
            aggs.append(F.expr(expr).alias(n))
        if aggs:
            cur = cur.groupBy(*keys).agg(*aggs)
        else:                       # GROUP BY without aggregates:
            cur = cur.select(*keys).distinct()   # distinct key tuples
        if having:
            cur = cur.filter(F.expr(having))
        grouped = True
    elif having:
        raise ValueError("having requires group_by and/or agg")
    if select is not None:
        names = []
        for v in ([select] if isinstance(select, str) else select):
            n = _var_name(v) if _is_var(v) else v
            if n not in declared:
                raise ValueError(
                    f"select names undeclared variable ?{n} "
                    f"(declared: {declared})")
            names.append(n)
        cur = cur.select(*names)
        unique = unique and set(out_vars) <= set(names)
    if distinct and not grouped and not unique:
        cur = cur.distinct()
    if order_by:
        keys = []
        for o in ([order_by] if isinstance(order_by, str) else order_by):
            desc = o.startswith("-")
            raw = o[1:] if desc else o
            n = _var_name(raw) if _is_var(raw) else raw
            if n not in cur.columns:
                raise ValueError(
                    f"order_by names ?{n}, which is not in the "
                    f"projected solution ({cur.columns}) — with a "
                    "projection, ORDER BY must use projected variables")
            keys.append(F.col(n).desc() if desc else F.col(n).asc())
        cur = cur.orderBy(*keys)
    if offset:
        if not order_by:
            raise ValueError(
                "OFFSET without ORDER BY is a nondeterministic slice "
                "in a distributed engine — give order_by")
        cur = cur.offset(int(offset))
    if limit is not None:
        cur = cur.limit(int(limit))
    return cur


def ask(triples: DataFrame, patterns, **kw) -> bool:
    """SPARQL ASK: does the BGP have at least one solution?  Compiles
    the same plan as ``bgp_match`` and probes it with an eager limit-1
    (``isEmpty`` takes one row from the first non-empty partition — no
    full materialization).  Every bgp_match option except the solution
    modifiers passes through."""
    for bad in ("distinct", "select", "order_by", "limit", "offset",
                "group_by", "agg", "having"):
        if bad in kw:
            raise ValueError(f"ask() takes no {bad!r} — ASK is a "
                             "boolean, not a solution sequence")
    return not bgp_match(triples, patterns, distinct=False,
                         **kw).isEmpty()


def bgp_union(triples: DataFrame, groups, *, distinct: bool = True,
              order_by=(), limit: int | None = None,
              offset: int | None = None, **shared) -> DataFrame:
    """SPARQL UNION: alternative pattern groups whose solution sets
    union.  Each entry in ``groups`` is either a flat pattern list (a
    plain BGP branch) or a dict of ``bgp_match`` keyword arguments
    (``{"patterns": [...], "bind": {...}, "filters": [...]}``) for
    branches that need their own OPTIONAL / FILTER / BIND; ``shared``
    kwargs (e.g. ``pred_stats``, ``broadcast_rows``) apply to every
    branch, with the branch dict winning on conflict.

    Solutions combine by variable NAME with the spec's unbound-variable
    semantics: a variable bound in one branch but absent from another
    comes back null in the second branch's solutions
    (``unionByName(allowMissingColumns=True)``).  Column order is first
    appearance across branches, like ``bgp_match``'s first-appearance
    rule.  DISTINCT / ORDER BY / OFFSET / LIMIT then apply to the
    unioned solution set under ``bgp_match``'s rules (OFFSET without
    ORDER BY refused).

    Plan: each branch compiles independently (a hub shuffle or
    selectivity-ordered equi-joins, as ``bgp_match`` picks); the union
    is Spark's zero-shuffle ``Union`` node, so the only added cost is
    the final DISTINCT's hash aggregate over the combined solutions.  Branch
    solution modifiers are refused — the spec applies modifiers to the
    whole query, not per-branch."""
    if not groups:
        raise ValueError("bgp_union needs at least one group")
    parts = []
    for g in groups:
        if isinstance(g, dict):
            kw = {**shared, **g}
            pats = kw.pop("patterns")
        else:
            kw, pats = dict(shared), g
        for bad in ("distinct", "select", "order_by", "limit", "offset"):
            if bad in kw:
                raise ValueError(
                    f"branch-level {bad!r} is refused — solution "
                    "modifiers apply to the unioned solutions (pass "
                    "them to bgp_union itself)")
        parts.append(bgp_match(triples, pats, distinct=False, **kw))
    cur = parts[0]
    for p in parts[1:]:
        cur = cur.unionByName(p, allowMissingColumns=True)
    if distinct:
        cur = cur.distinct()
    if order_by:
        keys = []
        for o in ([order_by] if isinstance(order_by, str) else order_by):
            desc = o.startswith("-")
            raw = o[1:] if desc else o
            n = _var_name(raw) if _is_var(raw) else raw
            if n not in cur.columns:
                raise ValueError(
                    f"order_by names ?{n}, which is not in the unioned "
                    f"solution ({cur.columns})")
            keys.append(F.col(n).desc() if desc else F.col(n).asc())
        cur = cur.orderBy(*keys)
    if offset:
        if not order_by:
            raise ValueError(
                "OFFSET without ORDER BY is a nondeterministic slice "
                "in a distributed engine — give order_by")
        cur = cur.offset(int(offset))
    if limit is not None:
        cur = cur.limit(int(limit))
    return cur


def describe(triples: DataFrame, nodes) -> DataFrame:
    """SPARQL DESCRIBE (concise bounded description, depth 1): every
    triple whose subject OR object is one of ``nodes``.  ``nodes`` is a
    literal list — compiled to an OR of two In predicates on ONE scan,
    both pushdown-able — or a one-column DataFrame of node ids (the
    DESCRIBE-?var form, where the node set is itself a query answer):
    then each leg (subject / object) is a left-semi equi-join against
    the node set and the legs union + de-dup (a triple touching the set
    at both ends must come back once).  Returns full triple rows
    (subj, pred, obj, + whatever provenance columns the store carries).

    Scale shape: the semi-join legs shuffle on the node id only; a
    small node set (the common case — DESCRIBE of a handful of
    resources) broadcasts under AQE."""
    if isinstance(nodes, DataFrame):
        if len(nodes.columns) != 1:
            raise ValueError(
                f"nodes DataFrame must have exactly one column, got "
                f"{nodes.columns}")
        ids = nodes.toDF("node").distinct()
        s = triples.join(ids, triples["subj"] == ids["node"], "left_semi")
        o = triples.join(ids, triples["obj"] == ids["node"], "left_semi")
        return s.unionByName(o).distinct()
    nodes = list(nodes)
    if not nodes:
        raise ValueError("describe needs at least one node")
    return triples.filter(F.col("subj").isin(nodes)
                          | F.col("obj").isin(nodes)).distinct()


def property_path(edges: DataFrame, max_hops: int, *, min_hops: int = 1,
                  symmetric: bool = False,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """Pairwise bounded-length reachability: ``(src, dst, hops)`` where
    ``hops`` is the MINIMUM path length in ``[1, max_hops]`` from src to
    dst over the ``(src, dst)`` edge table, filtered to
    ``hops >= min_hops`` — the SPARQL ``pred{min,max}`` property path as
    DataFrame ops.  ``symmetric=True`` unions the reversed edges first
    (undirected reachability).  A cycle can reach back to its own source
    (``src = dst`` rows appear when a ≥1-hop loop exists), matching path
    semantics, not BFS-tree semantics.

    One (frontier.dst = edges.src) shuffle per hop; the frontier is the
    set of NEWLY reached pairs only (anti-join against everything seen),
    so a dense core is expanded once, not once per hop.  Only each hop's
    new pairs are truncated (`delta_fixpoint`; durable under
    ``checkpoint_dir`` — the cluster-safe mode).  Result size is the
    true bounded-reachability relation; that is the answer's size, not a
    plan artifact — callers bound it with ``max_hops``.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    if not 1 <= min_hops <= max_hops:
        raise ValueError("need 1 <= min_hops <= max_hops")
    trunc = Truncator(checkpoint_dir)

    e = edges.select("src", "dst")
    if symmetric:
        e = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
    e = trunc(e.distinct(), "pp_edges")
    nxt = e.select(F.col("src").alias("m"), F.col("dst").alias("ndst"))

    def step(frontier, seen, k):
        return (frontier.join(nxt, frontier.dst == F.col("m"))
                .select("src", F.col("ndst").alias("dst"))
                .withColumn("hops", F.lit(k)))

    reach = delta_fixpoint(e.withColumn("hops", F.lit(1)), step,
                           ["src", "dst"], range(2, max_hops + 1), trunc,
                           tag="pp_h")
    return reach.filter(F.col("hops") >= min_hops)


def bgp_match_delta(full: DataFrame, delta: DataFrame, patterns, *,
                    values: dict | None = None, filters=(),
                    pred_stats: dict | None = None,
                    **bgp_kwargs) -> DataFrame:
    """Incremental BGP maintenance: the NEW bindings a batch of ``delta``
    triples adds to a continuous query over a growing store — the
    semi-naive step for conjunctive queries.  ``full`` must already
    INCLUDE the delta (post-batch state).

    A new binding must use ≥1 delta triple, so the result is the union
    over pattern positions i of the match with pattern i pinned to the
    delta and every other pattern reading the full store (the delta
    pattern sorts first in each leg's join order and broadcasts).  Two
    legs re-derive a binding that uses two delta atoms; one DISTINCT
    over the legs' union absorbs it (double-derivation is why this needs
    no pre/post split).  The rule loops take the legs' bag
    (`_delta_legs`) and leave that DISTINCT to `delta_fixpoint`.

    Cost model, stated precisely: each leg's accumulating binding side
    stays delta-sized and is broadcast, so the store's pattern
    projections are SCANNED (columnar, pred-pushed) but never shuffled
    — per-batch shuffle and join state are O(batch) while a full
    rematch shuffles store-sized inputs.  The k·(k−1) store scans per
    batch are the irreducible term; against a store whose full rematch
    is already answer-sized (this engine's probe-ordered plans), the
    delta matcher's win is the O(batch) shuffle + incremental OUTPUT
    (only new bindings), not raw wall-clock at small k.

    Only MONOTONE clauses are accepted (patterns, VALUES, FILTER):
    OPTIONAL and MINUS are non-monotone — a later batch can RETRACT an
    earlier binding's nulls — so maintaining them incrementally would
    silently serve stale answers; they raise instead."""
    if bgp_kwargs.pop("optional", ()) or bgp_kwargs.pop("minus", ()):
        raise ValueError(
            "bgp_match_delta maintains monotone queries only — OPTIONAL "
            "and MINUS results can be retracted by later batches")
    if bgp_kwargs.pop("exists", ()) or bgp_kwargs.pop("not_exists", ()):
        raise ValueError(
            "bgp_match_delta cannot maintain EXISTS/NOT EXISTS — NOT "
            "EXISTS retracts, and EXISTS can newly admit an OLD binding "
            "that touches no delta triple (the semi-naive legs would "
            "miss it); rematch those queries per batch instead")
    pats = list(patterns)
    for p in pats:
        pred = tuple(p)[1]
        if pred is not None and not _is_var(pred) and _is_path_expr(pred):
            raise ValueError(
                "bgp_match_delta cannot maintain a property-path "
                f"pattern ({pred!r}): a single delta edge can create "
                "paths that contain no delta endpoint pair, so no "
                "pinned leg would enumerate them — rematch path "
                "queries per batch instead")
    if pred_stats is None:
        pred_stats = _pred_counts(full)
    return _delta_legs(full, delta, pats, values=values, filters=filters,
                       pred_stats=pred_stats, **bgp_kwargs).distinct()


def _delta_legs(full, delta, pats, **kw) -> DataFrame:
    """`bgp_match_delta`'s pinned legs, unioned as a bag: a binding
    comes once per leg that derives it."""
    n = len(pats)
    return reduce(DataFrame.unionByName, [
        bgp_match(full, pats, sources=[delta if j == i else None
                                       for j in range(n)],
                  distinct=False, **kw) for i in range(n)])


def _step_edges(triples: DataFrame, step: str) -> DataFrame:
    """``(src, dst)`` edge set of one path step: ``"pred"`` walks the
    predicate forward, ``"^pred"`` (SPARQL inverse) walks it backward.
    The predicate literal is a pushed parquet filter either way; inverse
    is a projection swap, never a second scan shape."""
    if not isinstance(step, str) or not step:
        raise ValueError(f"bad path step {step!r}")
    inv = step.startswith("^")
    p = step[1:] if inv else step
    if not p or p.startswith("^"):
        raise ValueError(f"bad path step {step!r}")
    e = triples.filter(F.col("pred") == p)
    if inv:
        return e.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
    return e.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))


def path_edges(triples: DataFrame, alts) -> DataFrame:
    """Edge set of a SPARQL alternation ``(s1|s2|...)`` — the union of
    each step's edges (steps use the ``pred`` / ``^pred`` syntax of
    `_step_edges`).  Feed the result to `property_path` to evaluate
    ``(p1|^p2){m,k}``: Catalyst plans the union as parallel pred-pushed
    scans of the one triple table, and the path iteration dedups via its
    own ``distinct``, so no extra shuffle is added here."""
    alts = list(alts)
    if not alts:
        raise ValueError("path_edges needs at least one alternative")
    out = _step_edges(triples, alts[0])
    for s in alts[1:]:
        out = out.unionByName(_step_edges(triples, s))
    return out


_PATH_META = "/|^+*?{(!"
_STEP_RE = None  # compiled lazily; ^?pred with word/dot chars


def _session_ckpt(spark) -> str | None:
    """Per-invocation durable-truncation subdirectory from the session
    config ``spark.legal_ner.checkpointDir`` (the same knob the
    iterative query wrappers honor) — None means localCheckpoint.  The
    quantifier loop inside a path expression is an iterative chain like
    any other; without this, an executor loss on a real cluster re-runs
    the whole frontier iteration."""
    base = spark.conf.get("spark.legal_ner.checkpointDir", None)
    if not base:
        return None
    import uuid
    return f"{base.rstrip('/')}/{uuid.uuid4().hex}"


def _is_path_expr(term: str) -> bool:
    """A non-variable predicate term containing path metacharacters is
    a property-path expression (plain predicates are bare identifiers —
    letters/digits/underscore/dot)."""
    return any(ch in term for ch in _PATH_META)


def _parse_path(expr: str):
    """Parse a SPARQL property-path subset into evaluation steps
    ``[(alternatives, min_hops, max_hops, negated)]`` where
    alternatives are ``pred`` / ``^pred`` step strings (``path_edges``
    syntax; with ``negated`` they are the EXCLUDED set — see
    ``_nps_edges``) and ``max_hops=None`` means unbounded (``+``/``*``,
    bounded at evaluation by ``max_hops``).  Grammar:
    ``seq := step ('/' step)*``; ``step := atom quant?``;
    ``atom := '!'? ('^'? pred | '(' alt ('|' alt)* ')')``;
    ``quant := '+' | '*' | '?' | '{m,n}'``.  One level of grouping —
    alternation inside a sequence — which covers the SPARQL paths a
    triple-pattern engine meets in practice; nested groups are refused
    loudly rather than mis-parsed."""
    import re
    global _STEP_RE
    if _STEP_RE is None:
        _STEP_RE = re.compile(
            r"^(?P<neg>!)?(?P<atom>\^?[A-Za-z_][\w.]*|\([^()]+\))"
            r"(?P<q>\+|\*|\?|\{(?P<lo>\d+),(?P<hi>\d+)\})?$")
    segs, buf, depth = [], "", 0
    for ch in expr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced ')' in path {expr!r}")
        if ch == "/" and depth == 0:
            segs.append(buf)
            buf = ""
        else:
            buf += ch
    if depth:
        raise ValueError(f"unbalanced '(' in path {expr!r}")
    segs.append(buf)
    step_re = re.compile(r"^\^?[A-Za-z_][\w.]*$")
    steps = []
    for seg in segs:
        m = _STEP_RE.match(seg.strip())
        if not m:
            raise ValueError(f"bad path step {seg!r} in {expr!r}")
        atom = m.group("atom")
        alts = ([a.strip() for a in atom[1:-1].split("|")]
                if atom.startswith("(") else [atom])
        for a in alts:
            if not step_re.match(a):
                raise ValueError(f"bad path alternative {a!r} in {expr!r}")
        q = m.group("q")
        if q is None:
            mn, mx = 1, 1
        elif q == "+":
            mn, mx = 1, None
        elif q == "*":
            mn, mx = 0, None
        elif q == "?":
            mn, mx = 0, 1
        else:
            mn, mx = int(m.group("lo")), int(m.group("hi"))
            if mx < 1 or mn > mx:
                raise ValueError(f"bad quantifier bounds in {seg!r}")
        steps.append((alts, mn, mx, bool(m.group("neg"))))
    return steps


def _nps_edges(triples: DataFrame, members) -> DataFrame:
    """Edge set of a SPARQL NEGATED PROPERTY SET ``!(p1|^p2|...)``: one
    hop by any predicate NOT named, per direction — forward members
    exclude predicates on forward edges, inverse members on reversed
    edges, and a direction with no members contributes no leg (so
    ``!p`` never matches an inverse edge and ``!(^p)`` never a forward
    one), exactly the spec's forward/inverse split.  The NOT-IN is a
    pushed parquet filter; the scan is inherently broad — that is the
    operator's semantics, not a plan artifact."""
    fwd = [m for m in members if not m.startswith("^")]
    inv = [m[1:] for m in members if m.startswith("^")]
    legs = []
    if fwd:
        legs.append(triples.filter(~F.col("pred").isin(fwd))
                    .select(F.col("subj").alias("src"),
                            F.col("obj").alias("dst")))
    if inv:
        legs.append(triples.filter(~F.col("pred").isin(inv))
                    .select(F.col("obj").alias("src"),
                            F.col("subj").alias("dst")))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _compose(left: DataFrame, right: DataFrame) -> DataFrame:
    """Relational composition left∘right on ``(src, dst)`` endpoint
    relations: one equi-join (left.dst = right.src), distinct
    endpoints."""
    r = right.select(F.col("src").alias("_m"), F.col("dst").alias("_nd"))
    return (left.join(r, left["dst"] == r["_m"])
            .select(left["src"], F.col("_nd").alias("dst")).distinct())


def path_relation(triples: DataFrame, expr: str, *, max_hops: int = 8,
                  checkpoint_dir: str | None = None,
                  pred_stats: dict | None = None,
                  broadcast_rows: int = 50_000) -> DataFrame:
    """Evaluate a property-path EXPRESSION (see ``_parse_path``) to its
    ``(src, dst)`` endpoint relation — the composition of the existing
    path operators: each step is a pred-pushed edge scan
    (``_step_edges``), alternation unions them (``path_edges``),
    negated sets scan with a pushed Not-In (``_nps_edges``),
    quantifiers run the semi-naive frontier loop (``property_path``,
    unbounded ``+``/``*`` cut at ``max_hops`` exactly like ``closure``;
    the loop stops at the true fixpoint when the graph's diameter is
    smaller), and ``/`` composes step relations with one equi-join
    each.  Zero-admitting quantifiers follow the spec: mid-sequence the
    zero case passes the incoming endpoints through (``a/p?/b``
    matches with or without the hop); at the START of a path the
    zero-length relation is the identity over every graph node.

    JOIN ORDER: relational composition is associative, so within each
    run of non-zero-admitting steps the evaluation seeds at the
    CHEAPEST step (per-predicate count probe, or the caller's
    ``pred_stats`` — ``bgp_match`` shares its probe) and grows toward
    the cheaper neighbor, keeping every intermediate near the answer's
    size instead of composing a hot⋈hot prefix first (measured 34→10 s
    on the 84M-row stress chain); estimated-small sides get a broadcast
    hint under ``broadcast_rows``.  Zero-admitting steps anchor in
    sequence position (their pass-through union needs the accumulated
    left side), splitting the runs.  Every shuffle is keyed — no
    product shape anywhere."""
    steps = _parse_path(expr)
    if pred_stats is None and len(steps) > 1:
        pred_stats = _pred_counts(triples)
    total = float(sum(pred_stats.values())) if pred_stats else 1.0

    def _est(alts, neg):
        if pred_stats is None:
            return 1.0
        named = float(sum(pred_stats.get(a.lstrip("^"), 0) for a in alts))
        return max(total - named, 1.0) if neg else (named or 1.0)

    def _edges(alts, neg):
        return _nps_edges(triples, alts) if neg \
            else path_edges(triples, alts)

    def _rel(alts, mn, mx, neg, dedup=True):
        e = _edges(alts, neg)
        if (mn, mx) == (1, 1):
            # a step composed INTO an accumulated relation skips its own
            # distinct — the post-compose distinct collapses endpoint
            # duplicates (same-pair triples from different docs), so the
            # hot table never pays a dedup exchange of its own, exactly
            # like bgp_match's undeduped pattern scans
            return e.distinct() if dedup else e
        hi = mx if mx is not None else max_hops
        return property_path(e, hi, min_hops=max(mn, 1),
                             checkpoint_dir=checkpoint_dir
                             ).select("src", "dst")

    def _hint(df, est):
        return F.broadcast(df) if est <= broadcast_rows else df

    # units in sequence order: composed non-zero runs (reordered
    # internally) and zero-admitting steps (anchored)
    units = []   # ("rel", DataFrame, est) | ("zero", alts, mx, neg)
    run: list = []

    def _flush_run():
        if not run:
            return
        ests = [_est(a, ng) for a, _, _, ng in run]
        seed = min(range(len(run)), key=lambda i: ests[i])
        cur = _rel(*run[seed])
        # the accumulator stays near the answer's size when the seed is
        # selective — hint it broadcast so the hot steps stream through
        # BroadcastHashJoins unshuffled (bgp_match's cur_small move)
        cur_small = ests[seed] <= broadcast_rows
        lo = hi = seed
        while lo > 0 or hi < len(run) - 1:
            left_est = ests[lo - 1] if lo > 0 else float("inf")
            right_est = ests[hi + 1] if hi < len(run) - 1 else float("inf")
            nxt_est = min(left_est, right_est)
            acc = F.broadcast(cur) if cur_small \
                and nxt_est > broadcast_rows else cur
            if left_est <= right_est:
                lo -= 1
                cur = _compose(_hint(_rel(*run[lo], dedup=False),
                                     left_est), acc)
            else:
                hi += 1
                cur = _compose(acc, _hint(_rel(*run[hi], dedup=False),
                                          right_est))
        units.append(("rel", cur, min(ests)))
        run.clear()

    for alts, mn, mx, neg in steps:
        if mn == 0:
            _flush_run()
            units.append(("zero", alts, mx, neg))
        else:
            run.append((alts, mn, mx, neg))
    _flush_run()

    rel = None
    for u in units:
        if u[0] == "rel":
            _, step_rel, est = u
            rel = step_rel if rel is None \
                else _compose(rel, _hint(step_rel, est))
        else:
            _, alts, mx, neg = u
            hi = mx if mx is not None else max_hops
            reach = property_path(_edges(alts, neg), hi,
                                  checkpoint_dir=checkpoint_dir
                                  ).select("src", "dst")
            if rel is None:
                nodes = (triples.select(F.col("subj").alias("src"))
                         .unionByName(triples.select(
                             F.col("obj").alias("src")))
                         .distinct())
                rel = (nodes.withColumn("dst", F.col("src"))
                       .unionByName(reach).distinct())
            else:
                rel = rel.unionByName(_compose(rel, reach)).distinct()
    return rel


def path_sequence(triples: DataFrame, steps, *,
                  distinct: bool = True) -> DataFrame:
    """SPARQL sequence path ``s1/s2/.../sk`` — the composition of the
    steps' edge relations, e.g. ``part_of/^part_of`` = provisions of the
    same statute, ``decided_by/^decided_by`` = judgments of the same
    court.  Returns ``(src, dst)`` pairs (endpoints only — sequence
    paths have fixed length, so no ``hops`` column).

    One equi-join per step, each probing a pred-pushed scan of the
    triple table — the same shape as `property_path`'s hop join but with
    a DIFFERENT edge set per hop and no seen-pair state (a fixed-length
    sequence cannot revisit).  ``distinct=False`` keeps path
    multiplicity (bag semantics) for callers that count paths.  The
    intermediate fan-out of a step through a hub endpoint is the
    answer's own size at the next step, not a plan artifact; callers
    bound it by choosing the rarer predicate first, exactly as in SPARQL
    engines' left-deep path plans."""
    steps = list(steps)
    if not steps:
        raise ValueError("path_sequence needs at least one step")
    cur = _step_edges(triples, steps[0])
    for s in steps[1:]:
        nxt = _step_edges(triples, s).withColumnRenamed("dst", "ndst")
        cur = (cur.join(nxt, cur.dst == nxt.src)
               .select(cur.src, F.col("ndst").alias("dst")))
    return cur.distinct() if distinct else cur


def construct(triples: DataFrame, body, head, *, values: dict | None = None,
              optional=(), minus=(), **bgp_kwargs) -> DataFrame:
    """SPARQL CONSTRUCT — one rule application: match ``body`` (a BGP,
    same syntax as `bgp_match` including ``optional``/``minus``/
    ``values``) and instantiate each ``head`` template
    ``(subj, pred, obj)`` per binding, returning a NEW triple table
    ``(subj, pred, obj, doc_id)`` with ``doc_id`` null (derived facts
    have no single source document — provenance-carrying callers can
    put ``?doc`` in a head term instead).

    Head terms are variables (must be bound by the body — an unbound
    head variable is a rule bug and is refused, not nulled) or literal
    strings.  Multiple head templates share ONE body match: the plan is
    the body's ``bgp_match`` plan + a union of constant-width
    projections, so a k-template rule costs one match, not k."""
    b = bgp_match(triples, body, optional=optional, minus=minus,
                  values=values, **bgp_kwargs)
    return _instantiate_templates(b, _norm_templates(head)).distinct()


def _norm_templates(tpls, kind: str = "head"):
    """Normalize one template or a list of templates to a list of
    3-tuples, refusing malformed shapes."""
    out = [tuple(h) for h in tpls] if tpls and not isinstance(
        tpls[0], str) else [tuple(tpls)]
    if not out or any(len(h) != 3 for h in out):
        raise ValueError(f"{kind} must be one or more (subj, pred, obj) "
                         "templates")
    return out


def _instantiate_templates(b: DataFrame, heads) -> DataFrame:
    """Instantiate ``(subj, pred, obj)`` templates against a binding
    table (shared by `construct` and `update_graph`): variables project
    the binding column, literals become constants; all templates share
    the ONE binding match — a union of constant-width projections over
    the same join tree, so k templates cost one match, not k.  The
    result is a bag: callers that need a set apply the DISTINCT."""
    bound = set(b.columns)
    out = None
    for h in heads:
        cols = []
        for col, term in zip(("subj", "pred", "obj"), h):
            if _is_var(term):
                v = _var_name(term)
                if v not in bound:
                    raise ValueError(
                        f"template variable {term!r} is not bound by "
                        "the body bindings")
                cols.append(F.col(v).alias(col))
            else:
                cols.append(F.lit(term).alias(col))
        t = b.select(*cols, F.lit(None).cast("string").alias("doc_id"))
        # SPARQL CONSTRUCT semantics: a template instance with an unbound
        # (null) term — possible when a head variable comes from an
        # OPTIONAL body pattern — is NOT emitted, rather than producing
        # an incomplete triple
        t = t.filter(F.col("subj").isNotNull() & F.col("pred").isNotNull()
                     & F.col("obj").isNotNull())
        out = t if out is None else out.unionByName(t)
    return out


def closure(triples: DataFrame, pred: str, *, symmetric: bool = False,
            max_hops: int = 8, out_pred: str | None = None,
            keep_self: bool = False,
            checkpoint_dir: str | None = None) -> DataFrame:
    """Transitive (optionally symmetric) closure of one predicate,
    emitted as derived triples — the recursive-rule half of CONSTRUCT
    (``S(x,y), S(y,z) => S(x,z)``; with ``symmetric=True`` also
    ``S(x,y) => S(y,x)``), e.g. closing the ``same_as`` alias dictionary
    into full equivalence classes.

    Evaluation IS `property_path`'s frontier loop, which is semi-naive
    by construction: each round joins only the DELTA (newly derived
    pairs) against the base edges and anti-joins the seen set, so a
    K-round closure never re-derives a known pair — the Datalog
    semi-naive optimization as DataFrame ops.  ``max_hops`` bounds the
    rounds (closure depth beyond it is cut — callers pick the bound the
    way SPARQL engines bound ``pred+``); reflexive pairs produced by
    cycles drop unless ``keep_self=True``."""
    e = _step_edges(triples, pred)
    pairs = property_path(e, max_hops, symmetric=symmetric,
                          checkpoint_dir=checkpoint_dir)
    if not keep_self:
        pairs = pairs.filter(F.col("src") != F.col("dst"))
    return pairs.select(
        F.col("src").alias("subj"),
        F.lit(out_pred or pred).alias("pred"),
        F.col("dst").alias("obj"),
        F.lit(None).cast("string").alias("doc_id")).distinct()


def to_ntriples(triples: DataFrame, *, base: str = "urn:lner:",
                labels: bool = True) -> DataFrame:
    """Serialize the graph as W3C N-Triples lines (one ``line`` column) —
    the interchange sink that hands the constructed KG to standard RDF
    tools.  Entity text is arbitrary (case names, statute aliases), so
    nodes get deterministic skolem IRIs ``<{base}n:md5(text)>`` — stable
    across runs and partitions, join-free — and, with ``labels=True``,
    each distinct node also emits an ``rdfs:label`` triple carrying the
    original text as an N-Triples literal (backslash, quote, LF, CR and
    TAB escaped per the spec's ECHAR productions).  Predicates are the
    engine's own ``[a-z_]`` vocabulary and map to ``<{base}p:pred>``
    directly.

    Everything is a codegen'd string expression off the triple scan — no
    join, no Python; the label leg is one distinct over the stacked
    endpoints.  Output is set-semantic (DISTINCT lines), ready for
    ``df.write.text`` sharded exactly like any other sink here."""
    def esc(c):
        for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")):
            c = F.replace(c, F.lit(a), F.lit(b))
        return c

    def node(c):
        return F.concat(F.lit(f"<{base}n:"), F.md5(c), F.lit(">"))

    stmts = triples.select(F.concat(
        node(F.col("subj")), F.lit(" "),
        F.lit(f"<{base}p:"), F.col("pred"), F.lit("> "),
        node(F.col("obj")), F.lit(" .")).alias("line"))
    if not labels:
        return stmts.distinct()
    ends = (triples.select(F.col("subj").alias("t"))
            .unionByName(triples.select(F.col("obj").alias("t"))))
    lbls = ends.select(F.concat(
        node(F.col("t")),
        F.lit(" <http://www.w3.org/2000/01/rdf-schema#label> \""),
        esc(F.col("t")), F.lit('" .')).alias("line"))
    return stmts.unionByName(lbls).distinct()


def from_ntriples(lines: DataFrame, *, base: str = "urn:lner:",
                  col: str = "line") -> DataFrame:
    """Parse `to_ntriples` output back into a ``(subj, pred, obj,
    doc_id)`` triple table — the matching source connector, so a graph
    can round-trip through its RDF interchange form (``doc_id`` is null:
    N-Triples carries no provenance).

    Statement lines give the skolem-IRI graph; rdfs:label lines give the
    IRI → original-text dictionary (ECHAR unescape uses the sentinel
    trick: ``\\\\`` is parked on NUL first so ``\\\\n`` correctly yields
    backslash + ``n``, not a newline, then the single-char escapes
    resolve, then NUL restores the backslash).  Two equi-joins rebuild
    the text-keyed triples: subj and obj each resolve through the label
    dictionary as plain shuffle joins — the dictionary scales with
    distinct NODES (corpus-sized, not row-sized), so no broadcast is
    assumed; AQE converts to broadcast at runtime when a real dictionary
    turns out small.  Lines that are neither
    statements nor labels (comments, other predicates' labels) are
    ignored, per the format's line-independent contract.

    Scope: this parses `to_ntriples` output (round-trip contract,
    property-fuzzed in tests), not arbitrary third-party N-Triples —
    and text containing a raw NUL byte is not round-trip-safe (NUL is
    the unescape parking sentinel; extracted natural text never
    contains it)."""
    stmt_re = (f"^<{base}n:([0-9a-f]{{32}})> <{base}p:([^>]+)> "
               f"<{base}n:([0-9a-f]{{32}})> \\.$")
    lbl_re = (f'^<{base}n:([0-9a-f]{{32}})> '
              f'<http://www\\.w3\\.org/2000/01/rdf-schema#label> '
              f'"(.*)" \\.$')
    c = F.col(col)
    stmts = (lines
             .select(F.regexp_extract(c, stmt_re, 1).alias("s"),
                     F.regexp_extract(c, stmt_re, 2).alias("pred"),
                     F.regexp_extract(c, stmt_re, 3).alias("o"))
             .filter(F.col("s") != ""))

    def unesc(x):
        x = F.replace(x, F.lit("\\\\"), F.lit("\x00"))
        for a, b in (("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"),
                     ('\\"', '"')):
            x = F.replace(x, F.lit(a), F.lit(b))
        return F.replace(x, F.lit("\x00"), F.lit("\\"))

    labels = (lines
              .select(F.regexp_extract(c, lbl_re, 1).alias("iri"),
                      unesc(F.regexp_extract(c, lbl_re, 2)).alias("text"))
              .filter(F.col("iri") != "").distinct())
    return (stmts
            .join(labels.withColumnRenamed("text", "subj"),
                  stmts.s == labels.iri)
            .drop("iri", "s")
            .join(labels.withColumnRenamed("text", "obj"),
                  F.col("o") == labels.iri)
            .select("subj", "pred", "obj",
                    F.lit(None).cast("string").alias("doc_id")))


def resolve_same_as(triples: DataFrame, *, pred: str = "same_as",
                    broadcast_mapping: bool = False) -> DataFrame:
    """Rewrite the graph through its own ``same_as`` edges: every subj/obj
    that appears as the alias side of a ``same_as`` triple is replaced by
    its canonical form, and the ``same_as`` rows themselves drop out —
    the entity-resolution payoff of the statute-clustering stage
    (reference `postprocessing_utils.py:660-783` emits the mention →
    canonical pairs; this operator APPLIES them to the rest of the KG).

    The mapping is made functional first (an alias with several canonical
    forms — possible across documents — deterministically takes the
    lexicographic min), so the rewrite is idempotent and order-free.  Two
    left equi-joins on the endpoint columns; pass
    ``broadcast_mapping=True`` when the dictionary is known-small, else
    the shuffle join (the mapping scales with distinct mention texts —
    corpus-sized, not row-sized).
    """
    mapping = (triples.filter(F.col("pred") == pred)
               .groupBy(F.col("subj").alias("alias"))
               .agg(F.min("obj").alias("canon")))
    if broadcast_mapping:
        mapping = F.broadcast(mapping)
    rest = triples.filter(F.col("pred") != pred)
    out_cols = rest.columns
    rest = (rest.join(mapping.withColumnRenamed("alias", "s_alias")
                      .withColumnRenamed("canon", "s_canon"),
                      rest.subj == F.col("s_alias"), "left")
            .withColumn("subj", F.coalesce("s_canon", "subj")))
    rest = (rest.join(mapping.withColumnRenamed("alias", "o_alias")
                      .withColumnRenamed("canon", "o_canon"),
                      rest.obj == F.col("o_alias"), "left")
            .withColumn("obj", F.coalesce("o_canon", "obj")))
    return rest.select(*out_cols)


def constraint_report(triples: DataFrame) -> DataFrame:
    """SHACL-lite structural profile of the graph, one row per predicate:

    - ``n_triples``, ``n_subjects``, ``n_objects`` — raw shape;
    - ``functional_violations`` — subjects with >1 distinct object (how
      far the predicate is from subj→obj functional: ``decided_by`` with
      two courts on one judgment is a flag worth raising);
    - ``inverse_violations`` — objects with >1 distinct subject (the
      inverse-functional reading; high values are normal for hub objects
      like IPC, which is exactly what the report shows);
    - ``max_out_degree`` — the hottest subject's fan-out (skew early
      warning for downstream joins).

    Two (pred, endpoint)-keyed aggregates joined on ``pred`` — a
    metadata-sized result regardless of corpus size.
    """
    by_subj = (triples.groupBy("pred", "subj")
               .agg(F.countDistinct("obj").alias("n_obj")))
    subj_side = (by_subj.groupBy("pred")
                 .agg(F.count("*").alias("n_subjects"),
                      F.sum(F.when(F.col("n_obj") > 1, 1).otherwise(0))
                      .cast("bigint").alias("functional_violations"),
                      F.max("n_obj").cast("bigint")
                      .alias("max_out_degree")))
    by_obj = (triples.groupBy("pred", "obj")
              .agg(F.countDistinct("subj").alias("n_subj")))
    obj_side = (by_obj.groupBy("pred")
                .agg(F.count("*").alias("n_objects"),
                     F.sum(F.when(F.col("n_subj") > 1, 1).otherwise(0))
                     .cast("bigint").alias("inverse_violations")))
    counts = (triples.groupBy("pred")
              .agg(F.count("*").cast("bigint").alias("n_triples")))
    return (counts.join(subj_side, "pred").join(obj_side, "pred")
            .select("pred", "n_triples",
                    F.col("n_subjects").cast("bigint").alias("n_subjects"),
                    F.col("n_objects").cast("bigint").alias("n_objects"),
                    "functional_violations", "inverse_violations",
                    "max_out_degree"))


# --- RDFS / OWL entailment ---------------------------------------------------

_RDFS_SCHEMA_PREDS = ("subclass_of", "subproperty_of", "domain", "range")

# Ontology rows an rdfs_entail closure will run driver-side: schema is
# metadata-sized by nature (a vocabulary, not a corpus); a hierarchy
# wider than this falls back to the distributed semi-naive closure.
_SCHEMA_DRIVER_CAP = 100_000


def _py_closure(edges, max_hops: int) -> dict[str, set[str]]:
    """Bounded transitive closure of a driver-side edge list:
    node → every node reachable in [1, max_hops] hops (self-pairs
    dropped, matching `closure(keep_self=False)`)."""
    adj: dict[str, set[str]] = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    out: dict[str, set[str]] = {}
    for start in adj:
        frontier = set(adj[start])
        seen = set(frontier)
        for _ in range(max_hops - 1):
            nxt = set()
            for n in frontier:
                nxt |= adj.get(n, set())
            nxt -= seen
            if not nxt:
                break
            seen |= nxt
            frontier = nxt
        seen.discard(start)
        if seen:
            out[start] = seen
    return out


def _lit_multimap(d: dict[str, set[str]]):
    """A dict[str, set[str]] as a literal ``map<string, array<string>>``
    column — the ontology compiled INTO the expression tree, so a rule
    application is ``explode(element_at(m, col))`` inside one narrow
    codegen'd stage instead of a join."""
    keys = sorted(d)
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.array(*[F.lit(v) for v in sorted(d[k])])
                  for k in keys]))


def rdfs_entail(triples: DataFrame, *, type_pred: str = "type",
                subclass_pred: str = "subclass_of",
                subproperty_pred: str = "subproperty_of",
                domain_pred: str = "domain",
                range_pred: str = "range",
                max_hops: int = 8,
                checkpoint_dir: str | None = None,
                derived_only: bool = False) -> DataFrame:
    """Materialize the RDFS entailment of the graph — the ρdf fragment
    (Muñoz/Pérez/Gutierrez, "Minimal deductive systems for RDF"): the
    schema triples live IN the graph (rows whose predicate is one of
    ``subclass_of`` / ``subproperty_of`` / ``domain`` / ``range``,
    the engine's lowercase spellings of rdfs:subClassOf etc.), and the
    standard rule set is applied to fixpoint:

    - rdfs5/rdfs11: transitive closure of ``subproperty_of`` and
      ``subclass_of`` (semi-naive, via `closure`);
    - rdfs7: ``(x p y), (p ⊑ q) ⟹ (x q y)`` through the CLOSED
      property hierarchy;
    - rdfs2/rdfs3: ``(x p y), (p domain C) ⟹ (x type C)`` and
      ``(p range C) ⟹ (y type C)`` over asserted ∪ rdfs7-derived;
    - rdfs9: ``(x type C), (C ⊑ D) ⟹ (x type D)`` through the
      closed class hierarchy, over asserted ∪ rdfs2/3-derived types.

    Because the hierarchies are pre-closed, this stratification reaches
    the fixpoint in ONE pass (the classic ρdf result; `rdfs_entail` of
    its own output adds nothing — pinned by a pytest idempotence gate).
    The degenerate meta-level cases the fragment excludes —
    ``type``/schema predicates themselves declared as sub-properties or
    given domains/ranges — are refused up front rather than silently
    half-applied.

    Plan shape: the schema is configuration-sized by nature (a
    vocabulary, not a corpus), so it is collected ONCE — the same
    handful-of-literals idiom as the search index's term-bucket pruning
    — its closures computed driver-side, and the rule set compiled INTO
    the expression tree as literal ``map<string, array<string>>``
    lookups: every rule application is ``explode(element_at(m, col))``
    inside one narrow codegen'd stage over the instance scan — zero
    joins, zero broadcasts; the only shuffles in the whole operator are
    the final DISTINCT and the ``derived_only`` anti-join.  A schema
    wider than `_SCHEMA_DRIVER_CAP` (pathological: the "ontology" is
    really data) falls back to broadcast-join rule application over the
    distributed semi-naive `closure`.  ``derived_only`` anti-joins the
    input back out, leaving just the inferred rows (doc_id null —
    derived facts have no single source document).
    """
    schema_preds = {subclass_pred, subproperty_pred, domain_pred,
                    range_pred}
    sch_rows = (triples.filter(F.col("pred").isin(*schema_preds))
                .select("subj", "pred", "obj").distinct()
                .limit(_SCHEMA_DRIVER_CAP + 1).collect())
    if len(sch_rows) > _SCHEMA_DRIVER_CAP:
        return _rdfs_entail_dist(
            triples, type_pred=type_pred, subclass_pred=subclass_pred,
            subproperty_pred=subproperty_pred, domain_pred=domain_pred,
            range_pred=range_pred, max_hops=max_hops,
            checkpoint_dir=checkpoint_dir, derived_only=derived_only)

    meta_subjects = {type_pred} | schema_preds
    if any(r.subj in meta_subjects or r.obj == type_pred
           for r in sch_rows):
        raise ValueError(
            "rdfs_entail implements the rho-df fragment: the type/schema "
            "predicates themselves may not appear as subjects of "
            "subproperty_of/domain/range or as entailment targets")

    spo = _py_closure([(r.subj, r.obj) for r in sch_rows
                       if r.pred == subproperty_pred], max_hops)
    sco = _py_closure([(r.subj, r.obj) for r in sch_rows
                       if r.pred == subclass_pred], max_hops)
    dom: dict[str, set[str]] = {}
    rng: dict[str, set[str]] = {}
    for r in sch_rows:
        if r.pred == domain_pred:
            dom.setdefault(r.subj, set()).add(r.obj)
        elif r.pred == range_pred:
            rng.setdefault(r.subj, set()).add(r.obj)

    # Compose the EFFECTIVE per-predicate rule maps driver-side, so the
    # whole stratification collapses into one flatMap over one scan:
    # - P7[p]: every (transitive) super-property of p             (rdfs7)
    # - TS[p]: subject types from p — domain of p and of each of its
    #   super-properties, closed over the class hierarchy   (rdfs2+rdfs9)
    # - TO[p]: object types likewise from range              (rdfs3+rdfs9)
    # - sco[C]: super-classes of an ASSERTED type object          (rdfs9)
    def close_cls(classes):
        out = set()
        for c in classes:
            out |= {c} | sco.get(c, set())
        return out

    TS: dict[str, set[str]] = {}
    TO: dict[str, set[str]] = {}
    for p in set(dom) | set(rng) | set(spo):
        supers = {p} | spo.get(p, set())
        s_cls = close_cls(set().union(*(dom.get(q, set())
                                        for q in supers)))
        o_cls = close_cls(set().union(*(rng.get(q, set())
                                        for q in supers)))
        if s_cls:
            TS[p] = s_cls
        if o_cls:
            TO[p] = o_cls

    spark = triples.sparkSession
    inst = triples.select("subj", "pred", "obj")
    T = "array<struct<s:string,p:string,o:string>>"
    empty = F.expr(f"CAST(array() AS {T})")

    def arm(m, keycol, mk):
        if not m:
            return None
        arr = F.element_at(_lit_multimap(m), keycol)
        return F.coalesce(F.transform(arr, mk), empty)

    s, p, o = F.col("subj"), F.col("pred"), F.col("obj")
    tp = F.lit(type_pred)

    def st(a, b, c):
        return F.struct(a.alias("s"), b.alias("p"), c.alias("o"))

    arms = [a for a in (
        arm(spo, p, lambda q: st(s, q, o)),
        arm(TS, p, lambda c: st(s, tp, c)),
        arm(TO, p, lambda c: st(o, tp, c)),
        arm(sco, F.when(p == type_pred, o), lambda d: st(s, tp, d)),
    ) if a is not None]

    legs = []
    if arms:
        gen = inst.select(F.explode(
            arms[0] if len(arms) == 1 else F.concat(*arms)).alias("t"))
        legs.append(gen.select(F.col("t.s").alias("subj"),
                               F.col("t.p").alias("pred"),
                               F.col("t.o").alias("obj")))

    # the closure triples themselves (rdfs5 / rdfs11 entailments)
    lits = ([(a, subproperty_pred, b) for a, bs in spo.items()
             for b in bs]
            + [(a, subclass_pred, b) for a, bs in sco.items()
               for b in bs])
    if lits:
        legs.append(spark.createDataFrame(
            sorted(lits), "subj string, pred string, obj string"))

    if not legs:
        derived = spark.createDataFrame(
            [], "subj string, pred string, obj string, doc_id string")
    else:
        derived = legs[0]
        for leg in legs[1:]:
            derived = derived.unionByName(leg)
        derived = (derived.distinct()
                   .join(inst, on=["subj", "pred", "obj"],
                         how="left_anti")
                   .withColumn("doc_id", F.lit(None).cast("string")))
    if derived_only:
        return derived
    return triples.select("subj", "pred", "obj", "doc_id").unionByName(
        derived)


def _rdfs_entail_dist(triples: DataFrame, *, type_pred, subclass_pred,
                      subproperty_pred, domain_pred, range_pred,
                      max_hops, checkpoint_dir,
                      derived_only) -> DataFrame:
    """`rdfs_entail`'s wide-ontology fallback: the same stratification
    with broadcast-join rule application over the distributed semi-naive
    `closure` — for the pathological schema that exceeds
    `_SCHEMA_DRIVER_CAP` rows."""
    schema_preds = {subclass_pred, subproperty_pred, domain_pred,
                    range_pred}
    meta = (triples.filter(F.col("pred").isin(*schema_preds))
            .filter(F.col("subj").isin(type_pred, *schema_preds)
                    | (F.col("obj") == type_pred)))
    if not meta.isEmpty():
        raise ValueError(
            "rdfs_entail implements the rho-df fragment: the type/schema "
            "predicates themselves may not appear as subjects of "
            "subproperty_of/domain/range or as entailment targets")

    c_spo = closure(triples, subproperty_pred, max_hops=max_hops,
                    checkpoint_dir=checkpoint_dir)
    c_sco = closure(triples, subclass_pred, max_hops=max_hops,
                    checkpoint_dir=checkpoint_dir)
    spo = F.broadcast(c_spo.select(F.col("subj").alias("sub"),
                                   F.col("obj").alias("sup")))
    sco = F.broadcast(c_sco.select(F.col("subj").alias("sub"),
                                   F.col("obj").alias("sup")))
    inst = triples.select("subj", "pred", "obj")

    d7 = (inst.join(spo, inst.pred == spo.sub)
          .select("subj", F.col("sup").alias("pred"), "obj"))
    ext = inst.unionByName(d7)

    dom = F.broadcast(triples.filter(F.col("pred") == domain_pred)
                      .select(F.col("subj").alias("p"),
                              F.col("obj").alias("cls")).distinct())
    rng = F.broadcast(triples.filter(F.col("pred") == range_pred)
                      .select(F.col("subj").alias("p"),
                              F.col("obj").alias("cls")).distinct())
    d2 = (ext.join(dom, ext.pred == dom.p)
          .select("subj", F.lit(type_pred).alias("pred"),
                  F.col("cls").alias("obj")))
    d3 = (ext.join(rng, ext.pred == rng.p)
          .select(F.col("obj").alias("subj"),
                  F.lit(type_pred).alias("pred"),
                  F.col("cls").alias("obj")))
    types = (inst.filter(F.col("pred") == type_pred)
             .unionByName(d2).unionByName(d3))

    d9 = (types.join(sco, types.obj == sco.sub)
          .select("subj", F.lit(type_pred).alias("pred"),
                  F.col("sup").alias("obj")))

    derived = (d7.unionByName(d2).unionByName(d3).unionByName(d9)
               .unionByName(c_spo.select("subj", "pred", "obj"))
               .unionByName(c_sco.select("subj", "pred", "obj"))
               .distinct()
               .join(inst, on=["subj", "pred", "obj"], how="left_anti")
               .withColumn("doc_id", F.lit(None).cast("string")))
    if derived_only:
        return derived
    return triples.select("subj", "pred", "obj", "doc_id").unionByName(
        derived)


def owl_extend(triples: DataFrame, *, type_pred: str = "type",
               inverse_pred: str = "inverse_of",
               symmetric_class: str = "symmetric_property",
               transitive_class: str = "transitive_property",
               max_hops: int = 8,
               checkpoint_dir: str | None = None,
               derived_only: bool = False) -> DataFrame:
    """Materialize the OWL-RL property-semantics fragment on top of the
    graph's own declarations: ``(p inverse_of q)`` ⟹ each ``(x p y)``
    yields ``(y q x)`` (and symmetrically, owl:inverseOf being
    symmetric); ``(p type symmetric_property)`` ⟹ ``(x p y)`` yields
    ``(y p x)``; ``(p type transitive_property)`` ⟹ p's edge set is
    transitively closed.

    Fixpoint by stratification: inverse and symmetric images are added
    FIRST (so a transitive predicate closes over edges contributed
    through its inverse), then each declared-transitive predicate's
    edges close via one shared pred-keyed semi-naive frontier loop (one
    ``(pred, dst)=(pred, src)`` shuffle per hop — all transitive
    predicates advance together, no per-predicate driver loop), then
    the inverse images of the CLOSED edges are added, which is the
    fixpoint for this fragment: a transitive pred's closure pushed
    through its inverse equals the inverse pred's own closure (pinned
    by a pytest gate on an inverse-of-transitive fixture).

    Plan shape: the declarations are ontology-sized by nature, so they
    are collected once (handful-of-literals idiom, capped by
    `_SCHEMA_DRIVER_CAP`) and the inverse/symmetric images compile into
    ONE explode over one instance scan — no joins; only the transitive
    closure stays distributed, because it runs over INSTANCE edges
    (corpus-sized) of the declared predicates.
    """
    trunc = Truncator(checkpoint_dir)

    decl_rows = (triples.filter(
        (F.col("pred") == inverse_pred)
        | ((F.col("pred") == type_pred)
           & F.col("obj").isin(symmetric_class, transitive_class)))
        .select("subj", "pred", "obj").distinct()
        .limit(_SCHEMA_DRIVER_CAP + 1).collect())
    if len(decl_rows) > _SCHEMA_DRIVER_CAP:
        raise ValueError(
            f"owl_extend found more than {_SCHEMA_DRIVER_CAP} property "
            "declarations — that is data, not an ontology; check "
            "inverse_pred/type_pred for a collision with instance "
            "predicates")
    inv_map: dict[str, set[str]] = {}
    sym_set: set[str] = set()
    tra_set: set[str] = set()
    for r in decl_rows:
        if r.pred == inverse_pred:
            inv_map.setdefault(r.subj, set()).add(r.obj)
            inv_map.setdefault(r.obj, set()).add(r.subj)
        elif r.obj == symmetric_class:
            sym_set.add(r.subj)
        else:
            tra_set.add(r.subj)

    inst = triples.select("subj", "pred", "obj")
    T = "array<struct<s:string,p:string,o:string>>"
    empty = F.expr(f"CAST(array() AS {T})")

    def st(a, b, c):
        return F.struct(a.alias("s"), b.alias("p"), c.alias("o"))

    def img_arms(df):
        """Inverse + symmetric images of a triple table as expression
        arms — one Generate, no join."""
        s, p, o = F.col("subj"), F.col("pred"), F.col("obj")
        arms = []
        if inv_map:
            arms.append(F.coalesce(
                F.transform(F.element_at(_lit_multimap(inv_map), p),
                            lambda q: st(o, q, s)), empty))
        if sym_set:
            arms.append(F.when(p.isin(*sorted(sym_set)),
                               F.array(st(o, p, s))).otherwise(empty))
        if not arms:
            return None
        gen = df.select(F.explode(
            arms[0] if len(arms) == 1 else F.concat(*arms)).alias("t"))
        return gen.select(F.col("t.s").alias("subj"),
                          F.col("t.p").alias("pred"),
                          F.col("t.o").alias("obj"))

    def img(df):
        out = img_arms(df)
        return df if out is None else df.unionByName(out)

    # no intermediate distinct — the closure's edge set dedups itself
    # and the final distinct covers the rest (a full shuffle saved)
    base = img(inst)

    # shared pred-keyed semi-naive closure of every declared-transitive
    # predicate's INSTANCE edges (rows of other predicates never enter)
    if not tra_set:
        reach = base.where(F.lit(False)).select(
            F.col("pred"), F.col("subj").alias("src"),
            F.col("obj").alias("dst"))
    else:
        e = trunc(base.where(F.col("pred").isin(*sorted(tra_set)))
                  .select("pred", F.col("subj").alias("src"),
                          F.col("obj").alias("dst"))
                  .distinct(), "owl_edges")
        nxt = e.select(F.col("pred").alias("p2"), F.col("src").alias("m"),
                       F.col("dst").alias("ndst"))

        def step(frontier, seen, k):
            return (frontier.join(nxt, (frontier.dst == F.col("m"))
                                  & (frontier.pred == F.col("p2")))
                    .select("pred", "src", F.col("ndst").alias("dst")))

        reach = delta_fixpoint(e, step, ["pred", "src", "dst"],
                               range(2, max_hops + 1), trunc,
                               tag="owl_h")
    closed = reach.select(F.col("src").alias("subj"), "pred",
                          F.col("dst").alias("obj"))

    full = base.unionByName(img(closed))
    derived = (full.join(inst, on=["subj", "pred", "obj"],
                         how="left_anti")
               .distinct()
               .withColumn("doc_id", F.lit(None).cast("string")))
    if derived_only:
        return derived
    return triples.select("subj", "pred", "obj", "doc_id").unionByName(
        derived)


# --- SPARQL Update -----------------------------------------------------------

def update_graph(triples: DataFrame, *, where=(), delete=(), insert=(),
                 values: dict | None = None, **bgp_kwargs) -> DataFrame:
    """SPARQL Update as a pure graph transform — ``DELETE {…} INSERT {…}
    WHERE {…}`` (and the ground ``DELETE DATA`` / ``INSERT DATA`` forms
    when ``where`` is empty): returns the UPDATED triple table, leaving
    the input untouched; pair with `update_graph_commit` for the
    snapshotted store form.

    Semantics follow the spec: ``where`` (a BGP — full `bgp_match`
    syntax) is evaluated ONCE against the ORIGINAL graph; both template
    sets instantiate from that same binding table (so a pred-rename
    update whose delete and insert templates overlap behaves
    atomically); deletion applies first, then insertion.  A template
    instance with an unbound term is skipped, as in CONSTRUCT.  With no
    ``where``, both template sets must be ground (no variables).

    Store semantics: ours is a provenance-carrying bag — asserted rows
    keep their ``doc_id`` and multiplicity.  DELETE drops EVERY row
    whose ``(subj, pred, obj)`` matches an instantiated delete triple,
    across all documents (SPARQL graphs have no provenance dimension);
    INSERT is set-semantic — a distinct inserted triple lands once,
    ``doc_id`` null, and only if the post-delete graph doesn't already
    assert it.

    Plan: one BGP match shared by both template sets, one left-anti
    equi-join on the 3-tuple for the delete (the instantiated delete
    set is answer-sized and typically broadcast by AQE), one anti-join
    + union for the insert.  No operator here materializes the graph.
    """
    spark = triples.sparkSession
    d_tpls = _norm_templates(delete, "delete") if delete else []
    i_tpls = _norm_templates(insert, "insert") if insert else []
    if not d_tpls and not i_tpls:
        raise ValueError("update_graph needs delete and/or insert "
                         "templates")

    if where:
        b = bgp_match(triples, where, values=values, **bgp_kwargs)
        dels = _instantiate_templates(b, d_tpls) if d_tpls else None
        ins = _instantiate_templates(b, i_tpls) if i_tpls else None
    else:
        def ground(tpls, kind):
            if any(_is_var(t) for h in tpls for t in h):
                raise ValueError(
                    f"{kind} DATA (no WHERE clause) requires ground "
                    "templates — got a variable")
            return spark.createDataFrame(
                [(s, p, o, None) for s, p, o in tpls],
                "subj string, pred string, obj string, doc_id string")
        dels = ground(d_tpls, "DELETE") if d_tpls else None
        ins = ground(i_tpls, "INSERT") if i_tpls else None

    out = triples.select("subj", "pred", "obj", "doc_id")
    if dels is not None:
        out = out.join(dels.select("subj", "pred", "obj"),
                       on=["subj", "pred", "obj"], how="left_anti")
    if ins is not None:
        fresh = (ins.select("subj", "pred", "obj").distinct()
                 .join(out.select("subj", "pred", "obj"),
                       on=["subj", "pred", "obj"], how="left_anti")
                 .withColumn("doc_id", F.lit(None).cast("string")))
        out = out.unionByName(fresh)
    return out


def update_graph_commit(spark, root: str, *, snapshot_id: str,
                        where=(), delete=(), insert=(),
                        table: str = "triples",
                        retain: int | None = None,
                        **update_kwargs) -> dict:
    """Snapshotted SPARQL Update against a PUBLISHED triple store: read
    the current snapshot through the manifest, apply `update_graph`, and
    commit the result as a NEW snapshot under the same atomic manifest
    flip every index lifecycle here uses (`plans/publish.py`) — readers
    resolve through the manifest, so they see the old graph until the
    instant the new one is complete, previous snapshots stay readable
    for time travel until retention removes them, and a crash mid-write
    leaves the manifest (and the store) on the previous snapshot.

    Returns the new manifest dict.  Superseded snapshots stay readable
    (`plans.publish.read_snapshot`) until retention removes them:
    ``retain=N`` keeps the newest N snapshot directories per table
    (mtime order, current always kept) and vacuums the rest; pass None
    to leave history intact.
    """
    import os
    cur = publish.read_published(spark, root, table)
    new = update_graph(cur, where=where, delete=delete, insert=insert,
                       **update_kwargs)
    man = publish.publish_tables({table: new}, root, snapshot_id=snapshot_id)
    if retain is not None:
        if retain < 1:
            raise ValueError("retain must be >= 1")
        tdir = os.path.join(root, table)
        snaps = sorted((e for e in os.listdir(tdir)
                        if e.startswith("snap=")),
                       key=lambda e: os.path.getmtime(
                           os.path.join(tdir, e)))
        keep = {e.split("=", 1)[1] for e in snaps[-retain:]}
        publish.vacuum(root, keep_ids=keep)
    return man


# --- SHACL-lite shape validation ---------------------------------------------

def validate_shapes(triples: DataFrame, shapes) -> DataFrame:
    """Declarative SHACL-lite validation: ``shapes`` is a list of shape
    dicts — ``{"shape": name, "target_pred": p, "constraints": [...]}``
    — where focus nodes are the distinct SUBJECTS of ``target_pred``
    (sh:targetSubjectsOf) and each constraint checks one property path
    off the focus node:

    - ``{"path": q, "min_count": n}`` / ``{"path": q, "max_count": n}``
      — sh:minCount / sh:maxCount on the focus node's q-objects
      (min_count counts 0 for a focus with no q rows, per SHACL);
    - ``{"path": q, "in": [...]}`` — sh:in, every q-object must be in
      the closed list;
    - ``{"path": q, "pattern": rx}`` — sh:pattern, every q-object must
      rlike the regex.

    Returns violation rows ``(shape, focus, path, constraint, value)``
    — value is the offending count (as a string) for cardinality
    constraints and the offending object for in/pattern — an empty
    result means the graph conforms.

    The shapes list is the SHACL shapes graph: configuration-sized,
    compiled driver-side into a union of per-constraint legs.  Each leg
    is a pred-pushed scan + hash aggregate or broadcast-list filter,
    grouped per (shape, path) so one shape's min+max on the same path
    share a single count aggregate; nothing here scales with anything
    but the instance data.
    """
    legs = []
    for sh in shapes:
        name, tgt = sh["shape"], sh["target_pred"]
        focus = (triples.filter(F.col("pred") == tgt)
                 .select(F.col("subj").alias("focus")).distinct())
        by_path = {}
        for c in sh["constraints"]:
            by_path.setdefault(c["path"], []).append(c)
        for path, cs in by_path.items():
            vals = (triples.filter(F.col("pred") == path)
                    .select(F.col("subj").alias("focus"),
                            F.col("obj").alias("value")))
            card = [c for c in cs if "min_count" in c or "max_count" in c]
            if card:
                cnt = (focus.join(vals, "focus", "left")
                       .groupBy("focus")
                       .agg(F.count("value").alias("n")))
                for c in card:
                    if "min_count" in c:
                        legs.append(
                            cnt.filter(F.col("n") < c["min_count"])
                            .select(F.lit(name).alias("shape"), "focus",
                                    F.lit(path).alias("path"),
                                    F.lit(f"min_count={c['min_count']}")
                                    .alias("constraint"),
                                    F.col("n").cast("string")
                                    .alias("value")))
                    if "max_count" in c:
                        legs.append(
                            cnt.filter(F.col("n") > c["max_count"])
                            .select(F.lit(name).alias("shape"), "focus",
                                    F.lit(path).alias("path"),
                                    F.lit(f"max_count={c['max_count']}")
                                    .alias("constraint"),
                                    F.col("n").cast("string")
                                    .alias("value")))
            fvals = focus.join(vals, "focus")
            for c in cs:
                if "in" in c:
                    legs.append(
                        fvals.filter(~F.col("value").isin(*c["in"]))
                        .select(F.lit(name).alias("shape"), "focus",
                                F.lit(path).alias("path"),
                                F.lit("in").alias("constraint"), "value"))
                if "pattern" in c:
                    legs.append(
                        fvals.filter(~F.col("value").rlike(c["pattern"]))
                        .select(F.lit(name).alias("shape"), "focus",
                                F.lit(path).alias("path"),
                                F.lit(f"pattern={c['pattern']}")
                                .alias("constraint"), "value"))
    if not legs:
        raise ValueError("shapes declare no constraints")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.distinct()


# --- Datalog rule programs ----------------------------------------------------

def _null_doc(df3: DataFrame) -> DataFrame:
    """A 3-tuple fact table as a store: derived facts carry null
    ``doc_id``."""
    return df3.withColumn("doc_id", F.lit(None).cast("string"))


def materialize_rules(triples: DataFrame, rules, *, max_rounds: int = 16,
                      checkpoint_dir: str | None = None,
                      derived_only: bool = False) -> DataFrame:
    """Run a PROGRAM of CONSTRUCT rules to fixpoint — semi-naive Datalog
    over DataFrames.  ``rules`` is a list of dicts ``{"body": [BGP
    patterns], "head": template or [templates], "values": …,
    "filters": …}`` (same syntax as `construct`); rules may feed each
    other and themselves (recursion), e.g. the classic ancestor
    program::

        [{"body": [("?x", "parent", "?y")], "head": ("?x", "anc", "?y")},
         {"body": [("?x", "anc", "?y"), ("?y", "parent", "?z")],
          "head": ("?x", "anc", "?z")}]

    Evaluation is the textbook semi-naive loop: round 0 matches every
    body against the asserted graph (`bgp_match` + shared template
    instantiation); each later round matches every body via
    `bgp_match_delta` with the PREVIOUS round's new facts as the delta
    — only bindings that use ≥1 new fact are derived, so a K-round
    program never re-derives a known fact's bindings — then anti-joins
    the instantiated heads against everything known.  The loop stops
    when a round adds nothing (true fixpoint, checked per round) or at
    ``max_rounds``.  Rule heads ground out in the graph's own terms +
    the rules' literals, so the fixpoint is finite; derived facts carry
    null ``doc_id``.

    Monotone bodies only (patterns / VALUES / FILTER): OPTIONAL, MINUS,
    EXISTS groups, and property-path predicates are refused up front —
    the delta matcher cannot maintain them (`bgp_match_delta`), and a
    non-monotone Datalog program wouldn't have a least fixpoint to
    materialize in the first place.

    Scale shape: per round, each k-pattern rule costs the delta
    matcher's k pinned legs (delta side broadcast, store side scanned
    pred-pushed, shuffle O(|new facts|)); the legs and rules union as a
    bag that meets one DISTINCT, and each round truncates only its new
    facts (`delta_fixpoint`, durable under ``checkpoint_dir``).
    Predicate stats are probed once, over the asserted store, and kept
    current by adding each round's ≤|preds|-row count of its new facts
    — the same aggregate that tells the loop it has reached fixpoint.
    """
    trunc = Truncator(checkpoint_dir)
    compiled = _compile_rules(rules)

    known3 = trunc(triples.select(*_SPO).distinct(), "rules_known0")
    full = _null_doc(known3)
    stats = _pred_counts(full)

    new = trunc(_rule_heads(compiled, full, stats).distinct()
                .join(known3, on=_SPO, how="left_anti"), "rules_d0")
    derived = _rules_seminaive(compiled, known3, new, trunc, max_rounds,
                               stats)

    derived = _null_doc(derived)
    if derived_only:
        return derived
    return triples.select("subj", "pred", "obj", "doc_id").unionByName(
        derived)


def _compile_rules(rules):
    """Shared rule-program compiler: validates monotonicity and plain
    predicates, normalizes head templates."""
    compiled = []
    for r in rules:
        body = list(r["body"])
        for p in body:
            pred = tuple(p)[1]
            if pred is not None and not _is_var(pred) \
                    and _is_path_expr(pred):
                raise ValueError(
                    "materialize_rules takes plain predicates only — "
                    f"a path expression ({pred!r}) is not incrementally "
                    "maintainable (see bgp_match_delta)")
        if any(k in r for k in ("optional", "minus", "exists",
                                "not_exists")):
            raise ValueError(
                "materialize_rules runs MONOTONE rule bodies only — "
                "OPTIONAL/MINUS/EXISTS have no least fixpoint to "
                "materialize")
        fx = r.get("filters", ())
        compiled.append((body, _norm_templates(r["head"]),
                         r.get("values"),
                         (fx,) if isinstance(fx, str) else tuple(fx)))
    if not compiled:
        raise ValueError("materialize_rules needs at least one rule")
    return compiled


def _rule_heads(compiled, store, stats=None, delta=None):
    """Union (a bag) of every rule's instantiated heads, each body
    matched over ``store`` by `bgp_match`, or, given ``delta``, by the
    pinned legs of `_delta_legs`.  ``compiled`` holds monotone rules
    (`_compile_rules`) or stratified ones (`_compile_rules_neg`).  A
    stratified rule's MINUS patterns are applied over ``store`` through
    `_apply_minus`; an aggregate rule is always one whole evaluation
    over ``store`` (`_eval_rule_once`).  ``stats`` is ``store``'s
    ``{pred: rows}``."""
    out = []
    for r in compiled:
        body, heads, mpats, values, filters, aggspec = \
            r if len(r) == 6 else (r[0], r[1], (), r[2], r[3], None)
        if aggspec is not None:
            b = _eval_rule_once(store, body, mpats, values, filters,
                                aggspec, stats)
        else:
            kw = dict(values=values, filters=filters, pred_stats=stats)
            b = bgp_match(store, body, distinct=False, **kw) \
                if delta is None else _delta_legs(store, delta, body, **kw)
            if mpats:
                b = _apply_minus(b, store, mpats, stats)
        out.append(_instantiate_templates(b, heads)
                   .select(*_SPO))
    return reduce(DataFrame.unionByName, out)


def _rules_seminaive(compiled, known3, new, trunc, max_rounds, stats,
                     tag="rules_d"):
    """The shared semi-naive continuation: given the known 3-tuple set
    and the truncated new facts (disjoint from it), run delta rounds to
    fixpoint (or ``max_rounds``) and return ``new`` plus everything
    derived after it.  ``stats`` is ``known3``'s ``{pred: rows}``; it is
    updated in place by each delta's counts, so on return it covers
    ``known3`` and the result."""
    def probe(d):
        counts = publish.count_preds(d)
        for p, n in counts.items():
            stats[p] = stats.get(p, 0) + n
        return bool(counts)

    def step(delta, seen, k):
        return _rule_heads(compiled, _null_doc(seen), stats,
                           _null_doc(delta))

    return delta_fixpoint(new, step, _SPO,
                          range(1, max_rounds + 1), trunc, known=known3,
                          probe=probe, tag=tag)


def materialize_rules_delta(full: DataFrame, delta: DataFrame, rules, *,
                            max_rounds: int = 16,
                            checkpoint_dir: str | None = None) -> DataFrame:
    """Incremental maintenance of a `materialize_rules` fixpoint under
    INSERTIONS — the rule-program analogue of `bgp_match_delta`, with
    the same contract: ``full`` is the post-batch state (the PRIOR
    FIXPOINT — asserted facts plus everything previously derived —
    already unioned with the new batch ``delta``).  Returns ONLY the
    newly derived facts (null ``doc_id``); appending them to ``full``
    yields exactly ``materialize_rules(asserted ∪ delta)`` — insert-only
    Datalog needs no DRed-style over-delete/re-derive pass because
    nothing retracts, which is also why this refuses the same
    non-monotone clauses `materialize_rules` does.

    Round 0 matches every body via `bgp_match_delta` with the BATCH as
    the delta (a new fact must use ≥1 batch triple — everything
    derivable from the prior state alone is already in ``full``); later
    rounds continue the shared semi-naive loop with each round's new
    facts as the next delta.  Per-batch cost is O(batch + new facts),
    never O(store): every leg broadcasts the delta side and scans the
    store pred-pushed without shuffling it.

    Replayed batches are safe: a delta whose 3-tuples are all already
    in ``full``'s prior portion derives nothing new (the anti-join
    absorbs re-derivations), so the result is empty and an append of it
    is a no-op."""
    trunc = Truncator(checkpoint_dir)
    compiled = _compile_rules(rules)

    known3 = trunc(full.select(*_SPO).distinct(), "rulesd_known0")
    full4 = _null_doc(known3)
    delta4 = _null_doc(delta.select(*_SPO).distinct())
    stats = _pred_counts(full4)
    new = trunc(_rule_heads(compiled, full4, stats, delta4).distinct()
                .join(known3, on=_SPO, how="left_anti"), "rulesd_d0")
    derived = _rules_seminaive(compiled, known3, new, trunc, max_rounds,
                               stats)
    return _null_doc(derived)


def materialize_rules_retract(asserted: DataFrame, derived: DataFrame,
                              deleted: DataFrame, rules, *,
                              max_rounds: int = 16,
                              checkpoint_dir: str | None = None) -> DataFrame:
    """Deletion maintenance for a `materialize_rules` fixpoint — the
    classic DRed (delete-and-rederive, Gupta/Mumick/Subrahmanian)
    two-phase algorithm, completing `materialize_rules_delta`'s
    insert-only story.  Inputs: ``asserted`` = the base facts AFTER the
    deletion, ``derived`` = the fixpoint's current derived set,
    ``deleted`` = the removed base facts.  Returns the NEW derived set
    (3-tuples, null ``doc_id``): ``asserted ∪ returned`` equals
    ``materialize_rules(asserted)`` — pinned by pytest on diamond
    graphs where an alternative derivation must survive.

    Phase 1 — over-delete: semi-naive over DELETIONS.  Seed with the
    deleted base facts; each round, every fact derivable in the OLD
    fixpoint using ≥1 endangered fact (`bgp_match_delta` with the
    deletion set as the delta) becomes endangered too — but only
    DERIVED facts can actually leave (a fact still asserted survives
    any derivation loss), so each round intersects with the derived set
    and anti-joins the still-asserted facts.  Per-round cost is
    O(endangered), never O(store): the deletion set broadcasts, the
    old fixpoint is scanned pred-pushed.

    Phase 2 — re-derive: a fact was OVER-deleted if the surviving
    facts still derive it some other way.  Round 0 is the one full
    rematch DRed is known for (every rule body over the survivors,
    heads restricted to the endangered set — there is no delta to pin:
    an alternative derivation need not touch any endangered fact);
    skipped entirely when nothing derived is endangered.  Recovered
    facts then feed the shared semi-naive insertion loop, which
    re-admits their downstream consequences; heads that were never
    endangered are already in the survivor set, so the loop's
    known-facts anti-join drops them for free.

    Same monotone-only contract as the rest of the rule machinery —
    which DRed itself requires: with negation, deleting a fact could
    ADD answers, and neither phase enumerates those."""
    trunc = Truncator(checkpoint_dir)
    compiled = _compile_rules(rules)

    a3 = trunc(asserted.select(*_SPO).distinct(), "dred_a3")
    drv3 = trunc(derived.select(*_SPO).distinct(), "dred_drv3")
    del3 = deleted.select(*_SPO).distinct()
    old_fix3 = trunc(a3.unionByName(del3).unionByName(drv3).distinct(),
                     "dred_oldfix")
    old_full4 = _null_doc(old_fix3)
    stats = _pred_counts(old_full4)

    # phase 1: over-delete — only derived, no-longer-asserted heads
    # can leave
    def endanger(d, seen, k):
        return (_rule_heads(compiled, old_full4, stats, _null_doc(d))
                .join(drv3, on=_SPO, how="left_semi")
                .join(a3, on=_SPO, how="left_anti"))

    d0 = trunc(del3.join(a3, on=_SPO, how="left_anti"), "dred_d0")
    endangered = delta_fixpoint(d0, endanger, _SPO,
                                range(1, max_rounds + 1), trunc,
                                tag="dred_d")

    survivors3 = trunc(old_fix3.join(endangered, on=_SPO, how="left_anti"),
                       "dred_surv")
    kept_derived = drv3.join(endangered, on=_SPO, how="left_anti")

    # phase 2: re-derive (only if some endangered fact could come back)
    if endangered.isEmpty():
        recovered = None
    else:
        surv4 = _null_doc(survivors3)
        sstats = _pred_counts(surv4)
        redo = trunc(_rule_heads(compiled, surv4, sstats).distinct()
                     .join(endangered, on=_SPO, how="left_semi"),
                     "dred_redo0")
        recovered = _rules_seminaive(compiled, survivors3, redo, trunc,
                                     max_rounds, sstats)

    # both parts are sets, and disjoint: recovered facts were endangered
    out = kept_derived if recovered is None \
        else kept_derived.unionByName(recovered)
    return _null_doc(out.join(a3, on=_SPO, how="left_anti"))


def update_graph_maintain(asserted: DataFrame, derived: DataFrame,
                          rules, *, where=(), delete=(), insert=(),
                          values: dict | None = None,
                          max_rounds: int = 16,
                          checkpoint_dir: str | None = None,
                          **bgp_kwargs):
    """SPARQL Update WITH materialized-view maintenance: apply a
    DELETE/INSERT WHERE to the BASE facts and carry a
    `materialize_rules` fixpoint through it — DRed
    (`materialize_rules_retract`) for the delete half, the insertion
    delta (`materialize_rules_delta`) for the insert half, in the
    spec's delete-then-insert order.  Returns ``(new_asserted,
    new_derived)``; their union equals
    ``materialize_rules(new_asserted)`` (pinned by pytest), at
    O(changed + endangered) maintenance cost instead of a from-scratch
    fixpoint.

    WHERE binds against the ORIGINAL asserted graph only (same contract
    as `update_graph`): updates manage base facts; derived facts are
    view contents, not updatable rows.  Derived-set hygiene is
    preserved: an inserted fact that was previously derived moves OUT
    of the derived set (it is asserted now), and a deleted base fact
    that remains derivable comes BACK as a derived fact."""
    spark = asserted.sparkSession
    d_tpls = _norm_templates(delete, "delete") if delete else []
    i_tpls = _norm_templates(insert, "insert") if insert else []
    if not d_tpls and not i_tpls:
        raise ValueError("update_graph_maintain needs delete and/or "
                         "insert templates")
    if where:
        b = bgp_match(asserted, where, values=values, **bgp_kwargs)
        dels = _instantiate_templates(b, d_tpls) if d_tpls else None
        ins = _instantiate_templates(b, i_tpls) if i_tpls else None
    else:
        def ground(tpls, kind):
            if any(_is_var(t) for h in tpls for t in h):
                raise ValueError(
                    f"{kind} DATA (no WHERE clause) requires ground "
                    "templates — got a variable")
            return spark.createDataFrame(
                [(s, p, o, None) for s, p, o in tpls],
                "subj string, pred string, obj string, doc_id string")
        dels = ground(d_tpls, "DELETE") if d_tpls else None
        ins = ground(i_tpls, "INSERT") if i_tpls else None

    # delete half: retract what actually leaves the base
    kept = asserted.select("subj", "pred", "obj", "doc_id")
    drv = derived.select(*_SPO).distinct()
    if dels is not None:
        deleted = (dels.select(*_SPO).distinct()
                   .join(asserted.select(*_SPO),
                         on=_SPO, how="left_semi")
                   .withColumn("doc_id", F.lit(None).cast("string")))
        kept = kept.join(deleted.select(*_SPO),
                         on=_SPO, how="left_anti")
        drv = materialize_rules_retract(
            kept, derived, deleted, rules, max_rounds=max_rounds,
            checkpoint_dir=checkpoint_dir).select(*_SPO)

    # insert half: set-semantic fresh rows, then the insertion delta
    new_asserted = kept
    if ins is not None:
        fresh = (ins.select(*_SPO).distinct()
                 .join(kept.select(*_SPO),
                       on=_SPO, how="left_anti")
                 .withColumn("doc_id", F.lit(None).cast("string")))
        new_asserted = kept.unionByName(fresh)
        drv4 = _null_doc(drv)
        full = new_asserted.unionByName(drv4)
        new = materialize_rules_delta(
            full, fresh, rules, max_rounds=max_rounds,
            checkpoint_dir=checkpoint_dir).select(*_SPO)
        drv = drv.unionByName(new)

    new_derived = (drv.distinct()
                   .join(new_asserted.select(*_SPO),
                         on=_SPO, how="left_anti")
                   .withColumn("doc_id", F.lit(None).cast("string")))
    return new_asserted, new_derived


def _compile_rules_neg(rules):
    """Rule compiler for the STRATIFIED entry point: like
    `_compile_rules` but each rule may carry ``"minus": [patterns]``
    (negated body atoms, SPARQL-MINUS semantics) and/or
    ``"group_by"``/``"agg"``/``"having"`` (an AGGREGATE rule — the head
    instantiates once per group from the aggregated bindings,
    BigDatalog/SociaLite-style, stratified like negation: aggregation
    is non-monotone in every input).  OPTIONAL/EXISTS and path
    predicates stay refused; a MINUS pattern's predicate must be a
    literal (negating an unknown predicate has no computable dependency
    graph, so it cannot be stratified).  Returns 6-tuples
    ``(body, heads, minus, values, filters, aggspec)`` with ``aggspec``
    ``None`` for plain rules."""
    compiled = []
    for r in rules:
        body = list(r["body"])
        for p in body:
            pred = tuple(p)[1]
            if pred is not None and not _is_var(pred) \
                    and _is_path_expr(pred):
                raise ValueError(
                    "materialize_rules_stratified takes plain predicates "
                    f"only — a path expression ({pred!r}) is not "
                    "fixpoint-maintainable (see bgp_match_delta)")
        if any(k in r for k in ("optional", "exists", "not_exists")):
            raise ValueError(
                "materialize_rules_stratified supports negation via "
                "'minus' only — OPTIONAL/EXISTS rule bodies are not "
                "Datalog atoms")
        mpats = [tuple(p) for p in r.get("minus", ())]
        for p in mpats:
            mp = p[1]
            if mp is None or _is_var(mp):
                raise ValueError(
                    "a rule's MINUS pattern needs a literal predicate — "
                    f"got {p!r}: negation over an unknown predicate "
                    "cannot be placed in a stratum")
            if _is_path_expr(mp):
                raise ValueError(
                    f"a rule's MINUS pattern cannot use a path "
                    f"expression ({mp!r})")
        aggspec = None
        if any(k in r for k in ("agg", "group_by", "having")):
            if not r.get("agg"):
                raise ValueError(
                    "an aggregate rule needs a non-empty 'agg' dict "
                    "(alias -> SQL aggregate expression); 'group_by'/"
                    "'having' alone are not a rule")
            aggspec = {"group_by": r.get("group_by"),
                       "agg": dict(r["agg"]),
                       "having": r.get("having")}
        heads = _norm_templates(r["head"])
        for h in heads:
            if h[1] is None or _is_var(h[1]):
                raise ValueError(
                    "materialize_rules_stratified needs literal head "
                    f"predicates — got {h!r}: a variable head predicate "
                    "makes the dependency graph (hence stratification) "
                    "undecidable; use the monotone materialize_rules "
                    "for variable-head programs")
        fx = r.get("filters", ())
        compiled.append((body, heads, mpats, r.get("values"),
                         (fx,) if isinstance(fx, str) else tuple(fx),
                         aggspec))
    if not compiled:
        raise ValueError("materialize_rules_stratified needs at least "
                         "one rule")
    return compiled


def _rule_strata(compiled):
    """Predicate-level stratification (Apt/Blair/Walker, extended to
    aggregation): derived predicates get levels such that a positive
    dependency allows the same level, while a NEGATIVE dependency, any
    dependency of an AGGREGATE rule, or a dependency ON an
    aggregate-defined predicate forces a strictly LOWER level for the
    dependee — aggregation is non-monotone in every input and its
    output must be complete before anything consumes it.  All heads of
    one rule share its level.  Returns ``(rule_levels, pred_level)``;
    raises when no assignment exists (negation or aggregation through
    recursion), or when an aggregate-defined predicate is co-defined by
    a plain rule (maintenance could not then split the predicate's
    extension between the recompute and semi-naive paths)."""
    idb = {h[1] for _, heads, _, _, _, _ in compiled for h in heads}
    agg_heads = {h[1] for _, heads, _, _, _, a in compiled
                 for h in heads if a is not None}
    plain_heads = {h[1] for _, heads, _, _, _, a in compiled
                   for h in heads if a is None}
    codef = agg_heads & plain_heads
    if codef:
        raise ValueError(
            f"predicate(s) {sorted(codef)} defined by BOTH an aggregate "
            "rule and a plain rule — an aggregate head predicate must "
            "be defined only by aggregate rules")
    level = {p: 0 for p in idb}
    bound = len(idb)
    for _ in range(bound * max(1, len(compiled)) + 1):
        changed = False
        for body, heads, mpats, _, _, aggspec in compiled:
            lo = 0
            for p in body:
                bp = tuple(p)[1]
                deps = idb if (bp is None or _is_var(bp)) else \
                    ([bp] if bp in idb else [])
                for d in deps:
                    bump = 1 if (aggspec is not None
                                 or d in agg_heads) else 0
                    lo = max(lo, level[d] + bump)
            for p in mpats:
                mp = p[1]
                if mp in idb:
                    lo = max(lo, level[mp] + 1)
            rl = max([lo] + [level[h[1]] for h in heads])
            if rl > bound:
                raise ValueError(
                    "rule program is not stratifiable — a predicate "
                    "depends negatively (or through aggregation) on "
                    "itself through recursion (level of "
                    f"{sorted(h[1] for h in heads)} exceeds the "
                    f"{bound}-predicate bound)")
            for h in heads:
                if level[h[1]] != rl:
                    level[h[1]] = rl
                    changed = True
        if not changed:
            break
    rule_levels = [max(level[h[1]] for h in heads)
                   for _, heads, _, _, _, _ in compiled]
    return rule_levels, level


def stratify_rules(rules):
    """Public stratification probe: returns ``(strata, pred_level)``
    where ``strata`` is a list of rule-index lists, lowest level first
    (evaluation order), and ``pred_level`` maps each derived predicate
    to its level.  Raises ``ValueError`` for non-stratifiable programs
    — the same check `materialize_rules_stratified` applies before
    touching any data, exposed so callers can validate programs at
    submit time."""
    compiled = _compile_rules_neg(rules)
    rule_levels, pred_level = _rule_strata(compiled)
    strata = [[] for _ in range(max(rule_levels) + 1)]
    for i, lv in enumerate(rule_levels):
        strata[lv].append(i)
    return [s for s in strata if s], pred_level


def _apply_minus(b: DataFrame, triples: DataFrame, mpats, pred_counts,
                 broadcast_rows: int = 50_000) -> DataFrame:
    """Anti-join a binding table against MINUS patterns matched over
    ``triples`` — the same semantics `bgp_match` gives its ``minus``
    argument, lifted out so the stratified semi-naive loop can apply a
    (stratum-static) negation to `bgp_match_delta` legs, which refuse
    ``minus`` themselves (sound there because stratification freezes
    every negated predicate below the running stratum)."""
    bound = set(b.columns)
    for p in mpats:
        p = tuple(p) + (None,) * (4 - len(p))
        df = triples
        seen: dict[str, str] = {}
        eq_pairs, proj = [], []
        for col, term in zip(_TERM_COLS, p):
            if term is None:
                continue
            if _is_var(term):
                v = _var_name(term)
                if v in seen:
                    eq_pairs.append((seen[v], col))
                else:
                    seen[v] = col
                    proj.append(F.col(col).alias(v))
            else:
                df = df.filter(F.col(col) == F.lit(term))
        for a, c in eq_pairs:
            df = df.filter(F.col(a) == F.col(c))
        shared = [v for v in seen if v in bound]
        if not shared:
            raise ValueError(
                "minus pattern shares no variable with the matched group "
                "(an unanchored MINUS either drops everything or nothing)")
        mdf = df.select(*proj).select(*shared)
        if float(pred_counts.get(p[1], 0)) <= broadcast_rows:
            mdf = F.broadcast(mdf)
        b = b.join(mdf, on=shared, how="left_anti")
    return b


def _eval_rule_once(full4: DataFrame, body, mpats, values, filters,
                    aggspec, pred_stats: dict | None = None) -> DataFrame:
    """One full (non-delta) evaluation of a stratified rule's body —
    the round-0 path.  Plain rules are a `bgp_match` with MINUS;
    aggregate rules add GROUP BY/aggregates/HAVING, and their binding
    columns are cast to string so numeric aggregate results land in the
    string-typed triple store the way every other term does."""
    kw = {}
    if aggspec is not None:
        kw = {"group_by": aggspec.get("group_by"),
              "agg": aggspec["agg"], "having": aggspec.get("having")}
    b = bgp_match(full4, body, minus=mpats, values=values,
                  filters=filters, pred_stats=pred_stats, **kw)
    if aggspec is not None:
        b = b.select([F.col(c).cast("string").alias(c)
                      for c in b.columns])
    return b


def materialize_rules_stratified(triples: DataFrame, rules, *,
                                 max_rounds: int = 16,
                                 checkpoint_dir: str | None = None,
                                 derived_only: bool = False) -> DataFrame:
    """Stratified Datalog WITH NEGATION — the textbook completion of
    `materialize_rules`, which refuses non-monotone bodies because an
    unrestricted program has no least fixpoint.  Stratified programs DO
    have a canonical model (the perfect model, Apt/Blair/Walker; also
    SQL:1999's recursion restriction): rules may carry ``"minus":
    [patterns]`` — negated body atoms under SPARQL-MINUS semantics —
    as long as no predicate depends negatively on itself through
    recursion.  `stratify_rules` computes the predicate levels up
    front and refuses non-stratifiable programs before touching data::

        # reachable pairs, then each root's canonical mapping:
        # canon(a,b) := eq(a,b) ∧ ¬∃z eq(z,a)   — stratum 1 negates
        # stratum 0's completed fixpoint
        [{"body": [("?a", "same_as", "?b")], "head": ("?a","eq","?b")},
         {"body": [("?a","eq","?b"), ("?b","same_as","?c")],
          "head": ("?a","eq","?c")},
         {"body": [("?a","eq","?b")], "minus": [("?z","eq","?a")],
          "head": ("?a","canon","?b")}]

    Evaluation runs the strata lowest-first; each stratum is a MONOTONE
    program over the store extended with every lower stratum's derived
    facts, so the shared semi-naive machinery applies: every round
    matches the positive body (`bgp_match` in round 0, `bgp_match_delta`
    after it) and applies the stratum's MINUS patterns by `_apply_minus`
    afterwards.  That split is sound precisely BECAUSE of
    stratification — a negated predicate's extension is complete and
    frozen before its stratum starts (facts added within a stratum carry
    that stratum's head predicates, which no same-stratum MINUS may
    name), so the anti-join is round-invariant.

    Scale shape: identical to `materialize_rules` per stratum (delta
    legs broadcast, store scanned pred-pushed, shuffle O(new facts));
    each MINUS adds one anti-join per rule evaluation whose right side
    is a pred-pushed projection (broadcast when small).  Incremental
    maintenance (`materialize_rules_delta`/`_retract`) still refuses
    negated programs — a batch can RETRACT a negation-derived fact,
    which needs DRed over the stratified model, not the monotone fold.

    Derived facts carry null ``doc_id``; ``derived_only=True`` returns
    just them."""
    trunc = Truncator(checkpoint_dir)
    compiled = _compile_rules_neg(rules)
    rule_levels, _ = _rule_strata(compiled)
    n_levels = max(rule_levels) + 1

    known3 = trunc(triples.select(*_SPO).distinct(), "strat_known")
    stats = _pred_counts(_null_doc(known3))
    derived_all = []
    for lv in range(n_levels):
        sub = [c for c, rl in zip(compiled, rule_levels) if rl == lv]
        if not sub:
            continue
        full = _null_doc(known3)
        new = (_rule_heads(sub, full, stats).distinct()
               .join(known3, on=_SPO, how="left_anti"))
        new = trunc(new, f"strat{lv}_d0")
        # aggregate rules are complete after round 0: every input is
        # strictly below this stratum and frozen, and nothing in this
        # stratum consumes their heads (the leveling forbids it)
        loop_rules = [c for c in sub if c[5] is None]
        derived = _rules_seminaive(loop_rules, known3, new, trunc,
                                   max_rounds if loop_rules else 0, stats,
                                   f"strat{lv}_d")
        # derived is distinct and disjoint from known3 (each delta is
        # anti-joined against everything known before it)
        known3 = known3.unionByName(derived)
        derived_all.append(derived)

    derived_all = _null_doc(reduce(DataFrame.unionByName, derived_all))
    if derived_only:
        return derived_all
    return triples.select("subj", "pred", "obj", "doc_id").unionByName(
        derived_all)


def materialize_rules_stratified_maintain(asserted: DataFrame,
                                          derived: DataFrame,
                                          inserts: DataFrame,
                                          deletes: DataFrame, rules, *,
                                          max_rounds: int = 16,
                                          checkpoint_dir: str | None = None
                                          ) -> DataFrame:
    """Incremental maintenance of a STRATIFIED fixpoint under a batch of
    base-fact inserts AND deletes — the signed-delta generalization of
    `materialize_rules_delta` (insert-only, monotone) and
    `materialize_rules_retract` (delete-only, monotone), which both
    refuse negated programs because negation inverts polarity: an
    INSERT into a negated predicate can RETRACT facts above it, and a
    DELETE from one can DERIVE new facts.  This is DRed extended to
    stratified negation (Gupta/Mumick/Subrahmanian §5): strata are
    processed lowest-first, each receiving the accumulated visible-input
    diffs (base batch ∪ lower strata's own output diffs, insert/delete
    pairs cancelled so a fact that merely MOVED between base and derived
    propagates as no change).

    Inputs: ``asserted`` = base facts AFTER the batch; ``derived`` = the
    prior `materialize_rules_stratified(..., derived_only=True)` set;
    ``inserts``/``deletes`` = the batch (normalized defensively: a
    delete still asserted is ignored, an insert must be asserted).
    Returns the NEW derived set: ``asserted ∪ returned`` equals the
    from-scratch stratified fixpoint over ``asserted`` — pinned by a
    fuzz gate over random graphs and batch splits.

    Per stratum, four endangerment/derivation sources are enumerated,
    each O(diff) via pinned legs (the store is scanned pred-pushed,
    never shuffled):

    - positive deletes: `bgp_match_delta` with the deletion diff pinned
      into every positive body atom (classic DRed over-delete);
    - negative INSERTS: each MINUS atom is appended to the body as a
      positive pattern pinned to the insertion diff — bindings whose
      negation just became blocked (an over-estimate, as DRed allows);
    - then delete-and-rederive: one survivor rematch restricted to the
      endangered heads + the shared semi-naive re-admission;
    - positive inserts (`bgp_match_delta` on the new store) and
      negative DELETES (MINUS atom pinned to the deletion diff, the
      full MINUS re-checked against the NEW store — the deleted
      instance must not survive through another witness) seed the
      insertion loop.

    Within a stratum every negated predicate is frozen (strictly lower
    level), so `_apply_minus` stays round-invariant exactly as in
    `materialize_rules_stratified`."""
    trunc = Truncator(checkpoint_dir)
    compiled = _compile_rules_neg(rules)
    rule_levels, pred_level = _rule_strata(compiled)
    n_levels = max(rule_levels) + 1

    def pin_pattern(m, body):
        # A MINUS atom appended to the body as a pinned positive
        # pattern must NOT capture the atom's existential variables:
        # binding them would turn the later ∃-check (`_apply_minus`
        # re-running the same atom) into an equality on the one pinned
        # witness.  Rename every variable the positive body does not
        # bind to a fresh name; only the anchor variables stay shared.
        body_vars = {_var_name(t) for p in body for t in tuple(p)
                     if t is not None and _is_var(t)}
        out = []
        for i, t in enumerate(tuple(m) + (None,) * (4 - len(m))):
            if t is not None and _is_var(t) \
                    and _var_name(t) not in body_vars:
                t = f"?__pin{i}_{_var_name(t)}"
            out.append(t)
        return tuple(out)

    base_new = trunc(asserted.select(*_SPO).distinct(), "sm_base")
    d_ins = trunc(inserts.select(*_SPO).distinct()
                  .join(base_new, on=_SPO, how="left_semi"), "sm_ins")
    d_del = trunc(deletes.select(*_SPO).distinct()
                  .join(base_new, on=_SPO, how="left_anti"), "sm_del")
    v_old = trunc(base_new.join(d_ins, on=_SPO, how="left_anti")
                  .unionByName(d_del).distinct(), "sm_vold")
    v_new = base_new
    drv3 = trunc(derived.select(*_SPO).distinct(), "sm_drv")

    p_new_all = None
    for lv in range(n_levels):
        sub = [c for c, rl in zip(compiled, rule_levels) if rl == lv]
        sub_na = [c for c in sub if c[5] is None]
        sub_ag = [c for c in sub if c[5] is not None]
        lv_preds = [p for p, l in pred_level.items() if l == lv]
        ag_preds = [h[1] for _, heads, _, _, _, _ in sub_ag
                    for h in heads]
        head_preds = [h[1] for _, heads, _, _, _, _ in sub_na
                      for h in heads]
        p_old = trunc(drv3.filter(F.col("pred").isin(lv_preds)),
                      f"sm{lv}_pold")
        has_ins, has_del = not d_ins.isEmpty(), not d_del.isEmpty()
        if not has_ins and not has_del:
            p_new_all = p_old if p_new_all is None \
                else p_new_all.unionByName(p_old)
            v_old = trunc(v_old.unionByName(p_old).distinct(),
                          f"sm{lv}_voc")
            v_new = trunc(v_new.unionByName(p_old).distinct(),
                          f"sm{lv}_vnc")
            continue

        p_old_ag = p_old.filter(F.col("pred").isin(ag_preds)) \
            if ag_preds else p_old.limit(0)
        p_old_na = p_old.filter(~F.col("pred").isin(ag_preds)) \
            if ag_preds else p_old
        f_old3 = trunc(v_old.unionByName(p_old).distinct(),
                       f"sm{lv}_fold")
        f_old4 = _null_doc(f_old3)
        so = _pred_counts(f_old4)
        di4, dd4 = _null_doc(d_ins), _null_doc(d_del)

        # ---- endangered seed: deleted same-pred base facts + bindings
        # losing a positive atom or GAINING a negated one
        cand = []
        if has_del and sub_na:
            cand.append(_rule_heads(sub_na, f_old4, so, dd4))
        for body, heads, mpats, v, f, _ in sub_na:
            if mpats and has_ins:
                for i, m in enumerate(mpats):
                    b = bgp_match(f_old4, list(body) + [pin_pattern(
                        m, body)], values=v, filters=f, pred_stats=so,
                                  sources=[None] * len(body) + [di4],
                                  distinct=False)
                    rest = [x for j, x in enumerate(mpats) if j != i]
                    if rest:
                        b = _apply_minus(b, f_old4, rest, so)
                    cand.append(_instantiate_templates(b, heads)
                                .select(*_SPO))
        e = d_del.filter(F.col("pred").isin(head_preds))
        if cand:
            e = e.unionByName(reduce(DataFrame.unionByName, cand)
                              .join(p_old_na, on=_SPO, how="left_semi"))
        e = trunc(e.distinct(), f"sm{lv}_e0")

        # ---- endangered propagation (over-delete, O(endangered)/round)
        # over the positive bodies only, an over-estimate DRed allows
        pos_rules = [(b_, h_, v_, f_) for b_, h_, _, v_, f_, _ in sub_na]

        def endanger(d, seen, k):
            return _rule_heads(pos_rules, f_old4, so, _null_doc(d)).join(
                p_old_na, on=_SPO, how="left_semi")

        if sub_na:
            e = delta_fixpoint(e, endanger, _SPO, range(1, max_rounds + 1),
                               trunc, tag=f"sm{lv}_e")
        has_e = bool(sub_na) and not e.isEmpty()

        p_kept = trunc(p_old_na.join(e, on=_SPO, how="left_anti")
                       .join(v_new, on=_SPO, how="left_anti"),
                       f"sm{lv}_kept")
        f_surv3 = trunc(v_new.unionByName(p_kept).distinct(),
                        f"sm{lv}_surv")
        f_surv4 = _null_doc(f_surv3)
        sn = _pred_counts(f_surv4)

        # ---- (re)derivation seeds over the NEW store
        seeds = []
        if has_e:
            seeds.append(_rule_heads(sub_na, f_surv4, sn)
                         .join(e, on=_SPO, how="left_semi"))
        if has_ins and sub_na:
            seeds.append(_rule_heads(sub_na, f_surv4, sn, di4))
        for body, heads, mpats, v, f, _ in sub_na:
            if mpats and has_del:
                for i, m in enumerate(mpats):
                    b = bgp_match(f_surv4, list(body) + [pin_pattern(
                        m, body)], values=v, filters=f, pred_stats=sn,
                                  sources=[None] * len(body) + [dd4],
                                  distinct=False)
                    b = _apply_minus(b, f_surv4, mpats, sn)
                    seeds.append(_instantiate_templates(b, heads)
                                 .select(*_SPO))
        if not seeds:
            gained = p_kept.limit(0)
        else:
            # ---- semi-naive re-admission/insertion loop
            seeds = trunc(reduce(DataFrame.unionByName, seeds).distinct()
                          .join(f_surv3, on=_SPO, how="left_anti"),
                          f"sm{lv}_seed")
            gained = _rules_seminaive(sub_na, f_surv3, seeds, trunc,
                                      max_rounds, sn, f"sm{lv}_n")

        # ---- aggregate rules: inputs are strictly below this
        # stratum, so a changed input means ONE wholesale re-aggregate
        # over the new visible store (pred-pushed scans + hash
        # aggregates) — incremental folding of aggregates is unsound
        # for min/max deletes and not worth the split for the rest
        new_ag = None
        if sub_ag:
            new_ag = trunc(_rule_heads(sub_ag, _null_doc(v_new)).distinct()
                           .join(v_new, on=_SPO, how="left_anti"),
                           f"sm{lv}_ag")

        p_new = p_kept.unionByName(gained)
        if new_ag is not None:
            p_new = p_new.unionByName(new_ag)
        p_new = trunc(p_new.distinct(), f"sm{lv}_pnew")
        p_new_all = p_new if p_new_all is None \
            else p_new_all.unionByName(p_new)

        # ---- propagate this stratum's own output diffs upward,
        # cancelling insert/delete pairs (a fact that moved between
        # base and derived is no visible change to higher strata)
        dp_ins = gained.join(p_old_na, on=_SPO, how="left_anti")
        dp_del = (e.join(p_old_na, on=_SPO, how="left_semi")
                  .join(p_new, on=_SPO, how="left_anti"))
        if new_ag is not None:
            dp_ins = dp_ins.unionByName(
                new_ag.join(p_old_ag, on=_SPO, how="left_anti"))
            dp_del = dp_del.unionByName(
                p_old_ag.join(new_ag, on=_SPO, how="left_anti"))
        raw_ins = d_ins.unionByName(dp_ins).distinct()
        raw_del = d_del.unionByName(dp_del).distinct()
        d_ins = trunc(raw_ins.join(raw_del, on=_SPO, how="left_anti"),
                      f"sm{lv}_di")
        d_del = trunc(raw_del.join(raw_ins, on=_SPO, how="left_anti"),
                      f"sm{lv}_dd")
        v_old = trunc(v_old.unionByName(p_old).distinct(), f"sm{lv}_vo")
        v_new = trunc(v_new.unionByName(p_new).distinct(), f"sm{lv}_vn")

    return _null_doc(p_new_all.join(base_new, on=_SPO, how="left_anti")
                     .distinct())


def goal_rules(rules, goal_pred: str):
    """Backward-reachable sub-program for a goal predicate — the
    sound half of magic-sets (predicate-level relevance pruning): keep
    exactly the rules whose head predicate the goal depends on,
    transitively, through positive atoms, MINUS atoms (negation inputs
    must be complete to answer the goal), and aggregate bodies.  A
    variable body predicate depends on every derived predicate, so it
    conservatively keeps everything reachable.  Rule order is
    preserved; a goal over a base-only predicate returns ``[]``.

    At 10^12-document scale this is the difference between
    materializing one query's closure and materializing every rule
    family the program happens to carry — `materialize_rules_goal`
    composes it with the right evaluator."""
    compiled = _compile_rules_neg(rules)
    defs: dict[str, list[int]] = {}
    for i, (_, heads, _, _, _, _) in enumerate(compiled):
        for h in heads:
            defs.setdefault(h[1], []).append(i)
    reached, keep, frontier = set(), set(), [goal_pred]
    while frontier:
        p = frontier.pop()
        if p in reached:
            continue
        reached.add(p)
        for i in defs.get(p, ()):
            if i in keep:
                continue
            keep.add(i)
            body, _, mpats, _, _, _ = compiled[i]
            for pat in list(body) + list(mpats):
                bp = tuple(pat)[1]
                if bp is None or _is_var(bp):
                    frontier.extend(defs)       # conservative: all IDB
                elif bp in defs:
                    frontier.append(bp)
    return [r for i, r in enumerate(rules) if i in keep]


def materialize_rules_goal(triples: DataFrame, rules, goal, *,
                           max_rounds: int = 16,
                           checkpoint_dir: str | None = None,
                           **match_kwargs) -> DataFrame:
    """Goal-directed rule-program query: instead of materializing the
    WHOLE program's fixpoint and filtering, prune to the goal pattern's
    backward-reachable sub-program (`goal_rules`), materialize only
    that, and `bgp_match` the goal over base ∪ sub-fixpoint.  The
    evaluator is chosen by what the sub-program needs — stratified when
    any kept rule carries ``minus`` or an aggregate, the plain monotone
    loop otherwise.  ``goal`` is one BGP pattern with a LITERAL
    predicate (a variable goal predicate can reach anything — run the
    full program for that); extra `bgp_match` kwargs (``filters``,
    ``values``, ``select``, …) pass through."""
    g = tuple(goal)
    gp = g[1] if len(g) > 1 else None
    if gp is None or _is_var(gp):
        raise ValueError(
            "materialize_rules_goal needs a literal goal predicate — a "
            "variable predicate depends on every rule; call "
            "materialize_rules on the full program instead")
    sub = goal_rules(rules, gp)
    if not sub:
        full = triples.select("subj", "pred", "obj", "doc_id")
    else:
        needs_strat = any(r.get("minus") or r.get("agg") for r in sub)
        if needs_strat:
            full = materialize_rules_stratified(
                triples, sub, max_rounds=max_rounds,
                checkpoint_dir=checkpoint_dir)
        else:
            full = materialize_rules(triples, sub, max_rounds=max_rounds,
                                     checkpoint_dir=checkpoint_dir)
    return bgp_match(full, [g], **match_kwargs)


def explain_derivation(triples: DataFrame, derived: DataFrame, rules,
                       fact, *, max_depth: int = 16) -> list[dict]:
    """WHY-provenance for one derived fact: a derivation tree showing
    ONE way the rules produce ``fact`` from asserted facts.  Returns a
    list of steps ``{"fact": (s,p,o), "rule": i, "premises": [(s,p,o),
    …], "negated": [pattern, …]}`` ordered leaves-last; asserted
    premises terminate branches (they appear in no step).  MINUS atoms
    are reported as the patterns whose ABSENCE the step relied on
    (negation has no witness row to show).  Driver-side recursion over
    a frontier of single facts — each probe is one `bgp_match` with
    the head variables pinned via VALUES against a pred-pushed scan,
    ``limit 1`` (any witness suffices for WHY-provenance); the store
    itself is never collected.  Raises if the fact is asserted (nothing
    to explain) or not derivable."""
    compiled = _compile_rules_neg(rules)
    SPO = ("subj", "pred", "obj")
    fact = tuple(fact)
    if len(fact) != 3:
        raise ValueError("fact must be a (subj, pred, obj) 3-tuple")
    full = (triples.select(*SPO)
            .unionByName(derived.select(*SPO)).distinct()
            .withColumn("doc_id", F.lit(None).cast("string")))

    def is_asserted(f):
        return not triples.filter(
            (F.col("subj") == f[0]) & (F.col("pred") == f[1])
            & (F.col("obj") == f[2])).isEmpty()

    if is_asserted(fact):
        raise ValueError(f"{fact!r} is asserted — nothing to explain")

    steps, seen = [], set()

    def derive_one(f, depth):
        if f in seen:          # already explained on another branch
            return True
        if depth > max_depth:
            return False
        for i, (body, heads, mpats, v, fx, aggspec) in enumerate(compiled):
            for h in heads:
                # unify the head template with the fact
                vals: dict[str, list] = {}
                ok = True
                for term, val in zip(h, f):
                    if _is_var(term):
                        vn = _var_name(term)
                        if vn in vals and vals[vn] != [val]:
                            ok = False
                            break
                        vals[vn] = [val]
                    elif term != val:
                        ok = False
                        break
                if not ok:
                    continue
                kw = {}
                if aggspec is not None:
                    kw = {"group_by": aggspec.get("group_by"),
                          "agg": aggspec["agg"],
                          "having": aggspec.get("having")}
                # VALUES can pin only pattern-bound variables; a head
                # variable naming an aggregate ALIAS (or anything else
                # the body does not bind) becomes a post-match filter
                body_vars = {_var_name(t) for pat in body
                             for t in tuple(pat)
                             if t is not None and _is_var(t)}
                pin = {"?" + k: vs for k, vs in vals.items()
                       if k in body_vars}
                post = {k: vs[0] for k, vs in vals.items()
                        if k not in body_vars}
                try:
                    b = bgp_match(full, body, minus=mpats,
                                  values={**(v or {}), **pin},
                                  filters=fx, **kw)
                except ValueError:
                    continue       # e.g. VALUES var unbound by this body
                if aggspec is not None:
                    b = b.select([F.col(c).cast("string").alias(c)
                                  for c in b.columns])
                for vn, val in post.items():
                    if vn not in b.columns:
                        b = b.where(F.lit(False))
                        break
                    b = b.filter(F.col(vn) == F.lit(val))
                rows = b.limit(1).collect()
                if not rows:
                    continue
                binding = rows[0].asDict()
                premises = []
                for pat in body:
                    pat = tuple(pat) + (None,) * (4 - len(pat))
                    pf = tuple(binding.get(_var_name(t)) if _is_var(t)
                               else t for t in pat[:3])
                    if None not in pf:
                        premises.append(pf)
                sub_ok = True
                if aggspec is None:
                    for pf in premises:
                        if pf == f or is_asserted(pf):
                            continue
                        if not derive_one(pf, depth + 1):
                            sub_ok = False
                            break
                if not sub_ok:
                    continue
                seen.add(f)
                steps.append({"fact": f, "rule": i,
                              "premises": premises,
                              "negated": list(mpats)})
                return True
        return False

    if not derive_one(fact, 0):
        raise ValueError(f"{fact!r} is not derivable from the rules "
                         "over this store (within max_depth)")
    steps.reverse()
    return steps


def rdfs_rules(*, type_pred: str = "type",
               subclass_pred: str = "subclass_of",
               subproperty_pred: str = "subproperty_of",
               domain_pred: str = "domain",
               range_pred: str = "range"):
    """The ρdf rule set as a `materialize_rules` program — the SAME
    entailment `rdfs_entail` materializes (pinned by a pytest equality
    gate on rdfs-valid graphs), expressed declaratively so it composes
    with the rule machinery: run it one-shot, fold instance batches in
    with `materialize_rules_delta` (INCREMENTAL RDFS — the compiled
    `rdfs_entail` is rebuild-only), or keep it standing under
    `stream_rules_materialize`.  rdfs7/2/3 use a VARIABLE predicate
    (``(?x, ?p, ?y)``), so those bodies scan the store un-pushed — the
    compiled `rdfs_entail` (schema collected once, rules as literal map
    lookups over one narrow stage) stays the fast path for one-shot
    materialization; this program is the maintainable path.

    Unlike `rdfs_entail`, a generic rule engine cannot see that
    meta-level schema rows (``type``/schema predicates as rule SUBJECTS)
    step outside the fragment — callers who need that guard get it from
    `rdfs_entail`'s refusal before switching to the program form."""
    return [
        {"body": [("?p", subproperty_pred, "?q"),
                  ("?q", subproperty_pred, "?r")],
         "head": ("?p", subproperty_pred, "?r")},          # rdfs5
        {"body": [("?c", subclass_pred, "?d"),
                  ("?d", subclass_pred, "?e")],
         "head": ("?c", subclass_pred, "?e")},             # rdfs11
        {"body": [("?p", subproperty_pred, "?q"), ("?x", "?p", "?y")],
         "head": ("?x", "?q", "?y")},                      # rdfs7
        {"body": [("?p", domain_pred, "?C"), ("?x", "?p", "?y")],
         "head": ("?x", type_pred, "?C")},                 # rdfs2
        {"body": [("?p", range_pred, "?C"), ("?x", "?p", "?y")],
         "head": ("?y", type_pred, "?C")},                 # rdfs3
        {"body": [("?x", type_pred, "?C"), ("?C", subclass_pred, "?D")],
         "head": ("?x", type_pred, "?D")},                 # rdfs9
    ]


def graph_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Set difference of two graph states as rows ``(subj, pred, obj,
    change)`` with ``change ∈ {'added', 'removed'}`` — the companion to
    `update_graph_commit`'s time travel: diff any two retained
    snapshots (``read_snapshot(s0)`` vs ``read_snapshot(s2)``) to audit
    what a window of updates did.  Distinct 3-tuple semantics
    (provenance/multiplicity changes are not changes to the GRAPH); two
    anti-joins, each side scanned once."""
    a = before.select("subj", "pred", "obj").distinct()
    b = after.select("subj", "pred", "obj").distinct()
    added = (b.join(a, on=["subj", "pred", "obj"], how="left_anti")
             .withColumn("change", F.lit("added")))
    removed = (a.join(b, on=["subj", "pred", "obj"], how="left_anti")
               .withColumn("change", F.lit("removed")))
    return added.unionByName(removed)
