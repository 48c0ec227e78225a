"""Graph analytics over the materialized triples table.

The KG output is a standard (subj, pred, obj) edge table; these operators
show the downstream-analytics path: degree views and an iterative PageRank
over the citation graph, expressed as repeated join+aggregate (the
GraphFrames pattern) with lineage truncation per iteration.

Scale shape: each PageRank iteration is one shuffle keyed by node id;
ranks are (node, double) — tiny relative to the corpus; AQE coalesces the
post-join exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def weakly_connected_components(edges: DataFrame, max_iter: int = 30,
                                checkpoint_dir: str | None = None) -> DataFrame:
    """Global weakly-connected components over an (src, dst) edge table:
    (node, component) where component = min node id of the component.
    Nodes are whatever the edge endpoints are (strings or ints).

    Round 1 is one aggregation off the checkpointed symmetric edges
    (labels start as the identity).  Each later round combines THREE
    contraction devices, all (node)-keyed shuffles over tiny (id, label)
    rows:

    1. neighbour-min — the min label crosses every edge;
    2. pointer jump through the previous labels (path doubling along
       label chains);
    3. reverse-pointer hub update — each label value h learns the min
       candidate among the vertices POINTING at it, and its pointees
       jump through the updated hub in the same round.  Without this, a
       minimum entering a star-labelled group at a leaf crawls toward
       the hub one edge per round (pointer jumps are no-ops when every
       interior label already points at the group hub — the measured
       stall shape: long chains joined by random bridges), and rounds
       degrade from log(diameter) back to diameter.

    ``checkpoint_dir`` switches lineage truncation to the durable
    parquet round-trip (cluster mode).  Isolated nodes don't appear
    (an edge table has no degree-0 vertices); left-join the node table
    and coalesce to self for full coverage."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    sym = trunc(edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"))), "wcc_edges")
    labels = trunc(sym.groupBy(F.col("src").alias("v"))
                   .agg(F.least(F.col("v"), F.min("dst")).alias("comp")),
                   "wcc_r1")
    converged = False
    for _ in range(max_iter - 1):
        nbr = (sym.join(labels.select(F.col("v").alias("dv"),
                                      F.col("comp").alias("dcomp")),
                        sym.dst == F.col("dv"))
               .groupBy(F.col("src").alias("v2"))
               .agg(F.min("dcomp").alias("nbr_comp")))
        cand0 = (labels.join(nbr, labels.v == nbr.v2, "left")
                 .select("v", F.col("comp").alias("old"),
                         F.least(F.col("comp"),
                                 F.coalesce("nbr_comp", F.col("comp")))
                         .alias("c0")))
        ptr = labels.select(F.col("v").alias("pv"),
                            F.col("comp").alias("pcomp"))
        cand1 = (cand0.join(ptr, cand0.c0 == F.col("pv"), "left")
                 .select("v", "old",
                         F.least(F.col("c0"),
                                 F.coalesce("pcomp", F.col("c0")))
                         .alias("c1")))
        hub = cand1.groupBy(F.col("old").alias("h")).agg(
            F.min("c1").alias("h_min"))
        updated = trunc(
            cand1.join(hub, cand1.old == hub.h, "left")
            .select("v",
                    F.least(F.col("c1"), F.coalesce("h_min", F.col("c1")))
                    .alias("comp"),
                    (F.col("old") != F.least(
                        F.col("c1"), F.coalesce("h_min", F.col("c1"))))
                    .alias("changed")), "wcc_labels")
        labels = updated.select("v", "comp")
        if updated.filter("changed").limit(1).count() == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"weakly_connected_components did not converge in {max_iter} "
            "iterations — raise max_iter")
    return labels.select(F.col("v").alias("node"),
                         F.col("comp").alias("component"))


def bfs_distances(edges: DataFrame, sources: DataFrame,
                  max_depth: int = 10,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """Multi-source BFS over an undirected (src, dst) edge table:
    (node, distance) for every node within ``max_depth`` hops of any
    source — e.g. distance from landmark precedents in the citation
    graph.  ``sources`` must have a ``node`` column.

    Frontier expansion: each round joins the CURRENT frontier (nodes
    first reached last round — not the whole visited set) against the
    checkpointed edges, anti-joins the visited set, and stops when the
    frontier empties — rounds = eccentricity, work per round =
    O(frontier × avg degree), the textbook Pregel shape expressed as
    DataFrame ops (`delta_fixpoint`: only each frontier is truncated).
    ``checkpoint_dir`` = durable truncation (cluster mode), same
    contract as the CC/PageRank loops."""
    from ..plans.checkpoint import Truncator, delta_fixpoint
    trunc = Truncator(checkpoint_dir)
    sym = trunc(edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"))), "bfs_edges")

    def step(frontier, seen, depth):
        return (sym.join(frontier.select(F.col("node").alias("f")),
                         sym.src == F.col("f"))
                .select(F.col("dst").alias("node"))
                .withColumn("distance", F.lit(depth)))

    return delta_fixpoint(
        trunc(sources.select("node").distinct()
              .withColumn("distance", F.lit(0)), "bfs_r0"),
        step, ["node"], range(1, max_depth + 1), trunc, tag="bfs_f")


def landmark_distances(edges: DataFrame, landmarks: DataFrame, *,
                       max_depth: int = 10, directed: bool = False,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """PER-LANDMARK hop distances — (root, node, distance) for every
    node within ``max_depth`` hops of each landmark, the landmark/pivot
    table behind closeness- and harmonic-centrality estimates and
    distance-feature exports (Brandes-style sampling: centrality over a
    bounded landmark set instead of all-pairs).  `bfs_distances` folds
    all sources into ONE distance (min over sources); this keeps the
    per-root breakdown, so state is O(|landmarks| × reached) — callers
    choose a bounded landmark sample, which is the point of the
    technique.

    Same frontier shape as `bfs_distances`, keyed by (root, node):
    each round joins the frontier against the edges once, and the loop
    distincts the (root, dst) pairs and anti-joins the visited set — work
    O(frontier × avg degree) per round, only the frontier truncated
    (`delta_fixpoint`; durable under ``checkpoint_dir``)."""
    from ..plans.checkpoint import Truncator, delta_fixpoint
    trunc = Truncator(checkpoint_dir)
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    e = trunc(e, "lmd_edges")

    def step(frontier, seen, depth):
        return (frontier.select("root", F.col("node").alias("src"))
                .join(e, "src")
                .select("root", F.col("dst").alias("node"))
                .withColumn("distance", F.lit(depth)))

    return delta_fixpoint(
        trunc(landmarks.select(F.col("node").alias("root")).distinct()
              .select("root", F.col("root").alias("node"))
              .withColumn("distance", F.lit(0)), "lmd_r0"),
        step, ["root", "node"], range(1, max_depth + 1), trunc,
        tag="lmd_f")


def shortest_paths(edges: DataFrame, sources: DataFrame, *,
                   weight_col: str = "weight", directed: bool = True,
                   max_iter: int = 30,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Multi-source WEIGHTED shortest paths — distributed Bellman-Ford
    with frontier pruning (only nodes whose tentative distance improved
    last round relax their out-edges this round): (node, dist) for
    every node reachable from any source within ``max_iter`` edge
    relaxations.  The weighted companion to `bfs_distances` (hop
    counts); weight 1.0 everywhere reproduces it.

    ``edges`` needs (src, dst, ``weight_col``); negative weights are
    refused up front (one broadcast-able min aggregate) — with them
    Bellman-Ford needs V−1 full rounds plus a negative-cycle check,
    and a min-fold over partial paths stops being monotone under the
    frontier pruning this implementation relies on.  ``max_iter``
    bounds the relaxation depth, so the result is exactly "shortest
    distance using ≤ max_iter edges" — the property the hop-bounded
    recursive-CTE oracle pins.

    Per round: frontier ⋈ edges (one pred-pushed equi-join), a min
    HashAggregate per destination, one left join against current
    distances keeping strict improvements — work O(frontier × avg
    degree), never O(V²); lineage truncated per round (durable under
    ``checkpoint_dir``, the shared CC/PageRank contract)."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    w = F.col(weight_col).cast("double")
    neg = edges.agg(F.min(w).alias("m")).collect()[0]["m"]
    if neg is not None and neg < 0:
        raise ValueError(
            f"shortest_paths requires non-negative weights — found "
            f"min({weight_col}) = {neg}; frontier-pruned Bellman-Ford "
            "is not sound under negative edges")
    e = edges.select("src", "dst", w.alias("w"))
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"), "w"))
    e = trunc(e, "sssp_edges")
    dist = trunc(sources.select("node").distinct()
                 .withColumn("dist", F.lit(0.0)), "sssp_r0")
    frontier = dist
    for it in range(1, max_iter + 1):
        cand = (e.join(frontier.select(F.col("node").alias("src"),
                                       F.col("dist").alias("fd")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("fd") + F.col("w")).alias("cd")))
        improved = (cand.join(dist, "node", "left")
                    .filter(F.col("dist").isNull()
                            | (F.col("cd") < F.col("dist")))
                    .select("node", F.col("cd").alias("dist")))
        frontier = trunc(improved, f"sssp_f{it}")
        if frontier.isEmpty():
            break
        dist = trunc(dist.join(frontier.select("node"), "node",
                               "left_anti").unionByName(frontier),
                     f"sssp_d{it}")
    return dist


def triangles(edges: DataFrame, hub_threshold: int = 4096,
              checkpoint_dir: str | None = None) -> DataFrame:
    """Triangle enumeration over an undirected edge table: rows
    (node_a, node_b, node_c) with a < b < c and all three edges present.

    ADAPTIVE orientation (r5): a one-row max-degree probe on the
    already-computed degree table picks the physical strategy — both
    paths enumerate the identical triangle set, only the wedge-corner
    choice differs:

    - max degree ≤ ``hub_threshold``: ID-oriented compact-forward —
      wedges at each triangle's min-id corner, two equi-joins, NO
      degree joins.  Per-key wedge fan-out is bounded by the probe
      (≤ C(hub_threshold, 2) rows per key — a normal task at the 4096
      default), and skipping the two degree joins + conditional
      orientation is ~2× on hub-free graphs (the r4 regression:
      kg_statute_triangles 0.42→0.88 s bought hub-proofing a small
      co-citation graph never needed).
    - otherwise: DEGREE-ORIENTED compact-forward (the web-scale shape,
      r4) — every canonical edge points from its lower-(degree, id)
      endpoint to the higher one, wedges are built at each triangle's
      LOWEST-degree corner, and one equi-join closes them.  The wedge
      join's per-key fan-out is the ORIENTED out-degree, O(√m) on any
      graph — a 10⁶-degree citation hub contributes almost no wedges
      because nearly all its edges point INTO it.

    The probe costs one tiny aggregate job (and re-decides per peel
    round inside ``ktruss``, tracking the shrinking graph).  The
    canonical edge table is lineage-truncated first, so the probe's
    pass does NOT re-execute the caller's upstream derivation (e.g. the
    records→triples→co-citation chain) — upstream runs once, probe and
    wedge joins read the materialized edges.  Every triangle is counted
    exactly once either way (corners totally ordered by id, resp.
    (degree, id)).  Input may list either direction / duplicates; it is
    canonicalized and deduped first."""
    from ..plans.checkpoint import Truncator
    e = Truncator(checkpoint_dir)(
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b")).distinct(), "tri_edges")
    deg = (e.select(F.col("a").alias("n"))
           .union(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    max_d = deg.agg(F.max("d")).collect()[0][0] or 0
    if max_d <= hub_threshold:
        w1 = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        w2 = e.select(F.col("a").alias("u"), F.col("b").alias("w"))
        wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
        closed = wedges.join(e.select(F.col("a").alias("v"),
                                      F.col("b").alias("w")),
                             ["v", "w"])
        # id orientation already yields u < v < w
        return closed.select(F.col("u").alias("node_a"),
                             F.col("v").alias("node_b"),
                             F.col("w").alias("node_c"))
    ed = (e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")),
                 "a")
          .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")),
                "b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("kv"))
    w2 = o.select(F.col("u"), F.col("v").alias("w"),
                  F.col("kv").alias("kw"))
    wedges = (o.join(w2, "u")
              .filter((F.col("kv") < F.col("kw"))
                      | ((F.col("kv") == F.col("kw"))
                         & (F.col("v") < F.col("w")))))
    closed = wedges.join(o.select(F.col("u").alias("v"),
                                  F.col("v").alias("w")), ["v", "w"])
    arr = F.array_sort(F.array("u", "v", "w"))
    return closed.select(F.element_at(arr, 1).alias("node_a"),
                         F.element_at(arr, 2).alias("node_b"),
                         F.element_at(arr, 3).alias("node_c"))


def kcore(edges: DataFrame, k: int = 2, max_iter: int = 30,
          checkpoint_dir: str | None = None) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node keeps degree ≥ k after all lower-degree nodes are
    (recursively) peeled away — the standard device for trimming the
    long tail of a citation graph down to its mutually-supported core.

    Iterative peel, each round three (node)-keyed shuffles over rows
    that only SHRINK: degree aggregate → survivors (deg ≥ k) →
    semi-join both endpoints against the survivor set.  Rounds =
    peeling depth of the graph (typically ≪ diameter); convergence =
    edge count unchanged, read off the eagerly-truncated round result
    so each round costs exactly one job.  ``checkpoint_dir`` switches
    lineage truncation to the durable parquet round-trip (cluster
    mode), same contract as the CC/BFS/PageRank loops.

    Input direction/duplicates don't matter (symmetrized + deduped,
    self-loops dropped).  Returns (node, degree) — degree WITHIN the
    core.  Nodes outside the k-core simply don't appear."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    und = (edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
           .distinct())
    sym = trunc(und.union(und.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))).distinct(),
                "kcore_edges")
    n_prev = sym.count()
    for _ in range(max_iter):
        keep = (sym.groupBy("src").agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .select(F.col("src").alias("node")))
        nxt = trunc(
            sym.join(keep.select(F.col("node").alias("src")), "src",
                     "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst",
                  "left_semi"), "kcore_round")
        n_now = nxt.count()
        sym = nxt
        if n_now == n_prev:
            return (sym.groupBy(F.col("src").alias("node"))
                    .agg(F.count("*").cast("bigint").alias("degree")))
        n_prev = n_now
    raise RuntimeError(
        f"kcore did not converge in {max_iter} rounds — raise max_iter")


def ktruss(edges: DataFrame, k: int = 3, max_iter: int = 30,
           checkpoint_dir: str | None = None) -> DataFrame:
    """k-truss decomposition membership: the maximal subgraph in which
    every EDGE sits in ≥ k−2 triangles after weaker edges are
    recursively peeled — a stronger cohesion filter than k-core (an
    edge must be mutually supported, not just its endpoints), the
    standard device for extracting the genuinely interlocking core of
    a co-citation graph.

    Iterative peel over rows that only SHRINK: each round enumerates
    triangles of the CURRENT edge set (three equi-joins, the
    ``triangles`` shape), folds each triangle into +1 support on its
    three edges, keeps edges with support ≥ k−2, and converges when
    the edge count stops changing (one job per round via the truncated
    round result — same loop contract as ``kcore``).  Returns the
    surviving canonical edges (a < b) with their support IN THE FINAL
    subgraph."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    e = trunc((edges.select(F.least("src", "dst").alias("a"),
                            F.greatest("src", "dst").alias("b"))
               .filter(F.col("a") != F.col("b")).distinct()),
              "ktruss_edges")
    n_prev = e.count()
    if k <= 2:
        # support ≥ k−2 ≤ 0 holds vacuously: the k-truss is the whole
        # graph, including triangle-free edges (which have no support
        # row inside the loop — the loop would silently drop them)
        return (e.join(_ktruss_support(e), ["a", "b"], "left")
                .select("a", "b", F.coalesce("support", F.lit(0))
                        .cast("bigint").alias("support")))

    for _ in range(max_iter):
        supp = _ktruss_support(e, checkpoint_dir=checkpoint_dir)
        nxt = trunc(supp.filter(F.col("support") >= k - 2)
                    .select("a", "b"), "ktruss_round")
        n_now = nxt.count()
        e = nxt
        if n_now == n_prev:
            return _ktruss_support(e, checkpoint_dir=checkpoint_dir)
        n_prev = n_now
    raise RuntimeError(
        f"ktruss did not converge in {max_iter} rounds — raise max_iter")


def _ktruss_support(cur: DataFrame,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """(a, b, support): per-edge triangle count over canonical edges —
    the degree-oriented enumeration (see ``triangles``) folded into +1
    per triangle side, so the peel loop inherits the hub-bounded wedge
    join each round."""
    tri = triangles(cur.select(F.col("a").alias("src"),
                               F.col("b").alias("dst")),
                    checkpoint_dir=checkpoint_dir)
    sides = tri.selectExpr(
        "stack(3, node_a, node_b, node_a, node_c, node_b, node_c) "
        "AS (a, b)")
    return sides.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("support"))


def _ranked_neighbors(nbr0: DataFrame, deg: DataFrame,
                      hub_threshold: int) -> DataFrame:
    """(nsrc, ndst, r): per-node neighbour rank in (md5-bucket, dst)
    order, realized adaptively — a one-row max-degree probe picks a
    single per-node window (cheapest on ordinary graphs) or the
    HUB-BOUNDED two-level form (per-(node, bucket) windows ~deg/256
    rows per task + a ≤256-row offset window per node).  Both plans
    realize the identical rank function; shared by `random_walks` and
    `biased_walks`."""
    max_d = deg.agg(F.max("deg")).collect()[0][0] or 0
    if max_d <= hub_threshold:
        return (nbr0.withColumn("r", F.row_number().over(
            Window.partitionBy("nsrc").orderBy("_bk", "ndst")) - 1)
            .select("nsrc", "ndst", "r"))
    cnt = (nbr0.groupBy("nsrc", "_bk")
           .agg(F.count(F.lit(1)).alias("_n")))
    woff = (Window.partitionBy("nsrc").orderBy("_bk")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = cnt.select("nsrc", "_bk",
                     F.coalesce(F.sum("_n").over(woff), F.lit(0))
                     .alias("_off"))
    return (nbr0.withColumn("_r0", F.row_number().over(
               Window.partitionBy("nsrc", "_bk").orderBy("ndst")) - 1)
            .join(off, ["nsrc", "_bk"])
            .select("nsrc", "ndst",
                    (F.col("_r0") + F.col("_off")).alias("r")))


def random_walks(edges: DataFrame, n_walks: int = 2, walk_len: int = 3,
                 salt: str = "w", hub_threshold: int = 65536,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """DeepWalk-style random-walk corpus over an undirected graph — the
    sampling pass a node-embedding trainer (word2vec over walks)
    consumes.  DETERMINISTIC: step t of walk w from node v moves to
    neighbor rank md5(salt, start, w, t, v) mod degree(v), so the
    corpus is reproducible run-to-run and partition-layout-independent
    (no Spark RNG), and the DuckDB oracle can replay it byte-for-byte.

    Scale shape: the per-node neighbor ORDER is (md5-bucket(dst), dst)
    regardless of graph shape — what changes adaptively (a one-row
    max-degree probe, same device as ``triangles``) is the PHYSICAL
    rank plan, and both plans realize the identical rank function the
    oracle replays:

    - max degree ≤ ``hub_threshold``: one window per node ordered by
      (bucket, dst) — cheapest on ordinary graphs (no extra stages);
    - hubbier: the HUB-BOUNDED two-level form — rank windows partition
      by (node, bucket) with ~deg/256 rows per task, and bucket offsets
      come from a per-node window over ≤256 count rows, so a
      10⁷-degree hub is 256 normal tasks instead of one straggler
      sorting 10⁷ rows (measured: 30.6 s → 16.0 s at a 16M-degree
      star, BENCH.md).

    Each step is then ONE equi-join of the frontier against
    (src, rank), so a length-L walk is L narrow joins with frontier
    size |nodes|·n_walks, constant across steps (the symmetrized graph
    has no dead ends: every visited node arrived over an edge).
    Returns (start_node, walk_id, step, node) rows — step 0 is the
    start itself; group by (start_node, walk_id) and sort by step to
    assemble sentences."""
    from ..plans.checkpoint import Truncator
    und0 = (edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())
    # truncated: the probe, the rank, the degree table, and every one
    # of the L step joins read the materialized symmetric adjacency —
    # without this the caller's upstream chain re-executes per consumer
    und = Truncator(checkpoint_dir)(
        und0.union(und0.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))).distinct(),
        "walk_edges")
    # distinct column names on the two helper relations — the per-step
    # loop joins them against frames derived from themselves (self-join
    # ambiguity otherwise)
    nbr0 = (und.select(F.col("src").alias("nsrc"),
                       F.col("dst").alias("ndst"))
            .withColumn("_bk", F.substring(
                F.md5(F.col("ndst").cast("string")), 1, 2)))
    deg = und.groupBy(F.col("src").alias("dnode")).agg(
        F.count(F.lit(1)).alias("deg"))
    nbr = _ranked_neighbors(nbr0, deg, hub_threshold)
    frontier = (deg.select(F.col("dnode").alias("start_node"))
                .withColumn("walk_id", F.explode(
                    F.sequence(F.lit(0), F.lit(n_walks - 1))))
                .withColumn("node", F.col("start_node")))
    out = frontier.select("start_node", "walk_id",
                          F.lit(0).cast("int").alias("step"), "node")
    cur = frontier.select("start_node", "walk_id", "node")
    for step in range(1, walk_len + 1):
        choice = (F.conv(F.substring(F.md5(F.concat_ws(
            "-", F.lit(salt), F.col("start_node"), F.col("walk_id"),
            F.lit(step), F.col("node"))), 1, 8), 16, 10).cast("bigint")
            % F.col("deg"))
        cur = (cur.join(deg, F.col("node") == F.col("dnode"))
               .withColumn("_c", choice)
               .join(nbr, (F.col("node") == F.col("nsrc"))
                     & (F.col("_c") == F.col("r")))
               .select("start_node", "walk_id",
                       F.col("ndst").alias("node")))
        out = out.unionByName(
            cur.select("start_node", "walk_id",
                       F.lit(step).cast("int").alias("step"), "node"))
    return out


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram co-occurrence pairs from a random-walk corpus — the
    (center, context) training pairs a word2vec-style node-embedding
    trainer consumes (DeepWalk/node2vec's second half; pair counts are
    also the sufficient statistic for PMI-matrix factorization).

    One equi-join of the walk table with itself on (start_node,
    walk_id) — per-key width is walk_len+1 rows, so the join is bounded
    per walk no matter how large the corpus — with the |Δstep| ≤ window
    band applied as a post-join filter, then a count aggregate.  Every
    ordered pair with 1 ≤ |Δstep| ≤ window counts, including revisits
    of the same node (they are real co-occurrences)."""
    a = walks.select("start_node", "walk_id",
                     F.col("step").alias("sa"),
                     F.col("node").alias("center"))
    b = walks.select("start_node", "walk_id",
                     F.col("step").alias("sb"),
                     F.col("node").alias("context"))
    return (a.join(b, ["start_node", "walk_id"])
            .filter((F.col("sa") != F.col("sb"))
                    & (F.abs(F.col("sa") - F.col("sb")) <= window))
            .groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def ppmi_embeddings(ppmi: DataFrame, dim: int = 8, n_iter: int = 12, *,
                    c_col: str = "center", x_col: str = "context",
                    w_col: str = "ppmi", salt: str = "pe",
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Node embeddings by truncated eigendecomposition of the (symmetric)
    PPMI matrix — the Levy-Goldberg result that skip-gram-with-negative-
    sampling factorizes shifted PMI makes this the closed-form DeepWalk
    trainer: walks → `walk_skipgrams` → PPMI (`q_kg_walk_ppmi`'s form) →
    THIS → (node, emb) with emb = Q·V·diag(√|λ|) — the paper's
    ``W = U_d·Σ_d^{1/2}`` with Σ the singular values, which for a
    symmetric matrix are |eigenvalues| over the dominant-|λ| subspace
    (exactly what subspace iteration converges to).  E·Eᵀ therefore
    reconstructs Q·|Λ|·Qᵀ, the PSD hull of the rank-d truncation; the
    SIGNED eigenvalues ride along in ``lam`` so callers can drop
    negative directions if they want the α=0.5 PSD factorization
    instead.

    Algorithm: distributed subspace (orthogonal/block-power) iteration.
    The matrix lives as sparse (c, x, w) rows, symmetrized as
    (A + Aᵀ)/2 and materialized once; the basis Q is (node,
    array<double>[dim]).  Each iteration is

      Y = A·Q   — ONE equi-join (A.x = Q.node, shuffled on node) and
                  ONE groupBy(c) with dim partial-aggregable sums
                  (per-row cost O(dim); a hub row is a map-side-combined
                  fan-in, never a straggler window), then
      Q = Y·G^(-1/2) — symmetric orthonormalization from the dim×dim
                  Gram G = YᵀY (dim(dim+1)/2 sum aggregates collected as
                  SCALARS; eigh on the driver).  The driver only ever
                  holds dim² numbers — the tall-skinny-QR idiom — so the
                  iteration scales with |V| on executors alone.

    After n_iter rounds a Rayleigh–Ritz step (T = QᵀAQ, eigh, rotate)
    aligns the basis with the eigenvectors and yields the signed
    eigenvalues, ordered by descending |λ|.  Column signs are canonicalized
    against a deterministic md5 test vector (sign of Σᵥ e_j(v)·h(v),
    h(v) ∈ {±1}), so output is reproducible across runs and engines up
    to float noise.  Init is md5-deterministic per (salt, node, j).

    Convergence is the usual linear |λ_{dim+1}/λ_dim| rate; n_iter=12
    is ample for the ~10-100× spectral decay of real PPMI matrices.
    ``dim`` must be ≤ the node count.  Returns (node, emb array<double>,
    lam array<double>) — ``lam`` is the constant descending-eigenvalue
    array stamped on every row so callers need no side channel.
    """
    import numpy as np
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)

    half = ppmi.select(F.col(c_col).alias("c"), F.col(x_col).alias("x"),
                       (F.col(w_col).cast("double") / 2.0).alias("w"))
    a = trunc(half.unionByName(
        half.select(F.col("x").alias("c"), F.col("c").alias("x"), "w"))
        .groupBy("c", "x").agg(F.sum("w").alias("w")), "pe_matrix")
    n_edges = a.count()

    # size the iteration's partitioning to the MATRIX, not the corpus
    # default: every downstream job operates on vocabulary-sized
    # relations, and materialization pins whatever partitioning the
    # matrix carries — inheriting the corpus's shuffle width schedules
    # n_iter·parts near-empty tasks.  ~500k matrix cells per partition;
    # partitioned BY THE JOIN KEY x so every A·Q join co-locates on
    # the A side.
    import math
    p = max(1, min(math.ceil(n_edges / 500_000),
                   a.rdd.getNumPartitions()))
    if p < a.rdd.getNumPartitions():
        a = trunc(a.repartition(p, "x"), "pe_matrix_p")

    nodes = a.select(F.col("c").alias("node")).distinct()
    n_nodes = nodes.count()
    if not 1 <= dim <= n_nodes:
        raise ValueError(f"dim must be in [1, {n_nodes}], got {dim}")

    def _hash_unit(col, j):
        # deterministic float in [-1, 1): md5 → 8 hex chars → int → scale
        h = F.conv(F.substring(F.md5(F.concat_ws(
            "-", F.lit(salt), col, F.lit(j))), 1, 8), 16, 10).cast("double")
        return (h % F.lit(2000003.0)) / F.lit(1000001.5) - F.lit(1.0)

    q = nodes.select("node", F.array(
        *[_hash_unit(F.col("node"), j) for j in range(dim)]).alias("q"))

    def _mul(qdf):
        # Y = A·Q: one join + one aggregate, dim sums
        j = a.join(qdf, a.x == qdf.node)
        return (j.groupBy("c")
                .agg(*[F.sum(F.col("w") * F.col("q")[i]).alias(f"y{i}")
                       for i in range(dim)])
                .select(F.col("c").alias("node"),
                        F.array(*[F.col(f"y{i}")
                                  for i in range(dim)]).alias("y")))

    def _gram(ydf, acol="y", bcol="y"):
        # dim×dim scalar matrix collected from sum aggregates
        aggs = [F.sum(F.col(acol)[i] * F.col(bcol)[j])
                for i in range(dim) for j in range(dim) if i <= j]
        row = ydf.agg(*aggs).collect()[0]
        g = np.zeros((dim, dim))
        k = 0
        for i in range(dim):
            for j in range(i, dim):
                g[i, j] = g[j, i] = row[k] or 0.0
                k += 1
        return g

    def _rotate(ydf, m, out="q"):
        # Q = Y·M, dim² scalar multiply-adds per row, pure codegen
        cols = [sum((F.col("y")[i] * float(m[i, jj]) for i in range(dim)),
                    start=F.lit(0.0)) for jj in range(dim)]
        return ydf.select("node", F.array(*cols).alias(out))

    def _orth_factor(g):
        # G^(-1/2) by eigh, eigenvalues clamped — symmetric
        # orthogonalization survives a (near-)rank-deficient Y where
        # Cholesky would not
        s, u = np.linalg.eigh(g)
        s = np.maximum(s, 1e-12 * max(float(s.max()), 1.0))
        return u @ np.diag(s ** -0.5) @ u.T

    # hot-loop state management (the MLlib-iterative idiom): the Gram
    # collect is ALREADY an action every round, so persist y and let
    # that one action both fill the cache and deliver G — one job per
    # iteration instead of three (materialize + collect + re-trunc).
    # q stays a lazy dim²-multiply projection of the cached y.  Every
    # 4th round y is hard-truncated instead (localCheckpoint) so plan
    # depth stays bounded for large n_iter; the previous round's cache
    # is dropped once the new y is materialized.
    prev = None
    for it in range(n_iter):
        if (it + 1) % 4 == 0:
            y = trunc(_mul(q), f"pe_y{it}")
            g = _gram(y)
        else:
            y = _mul(q).persist()
            g = _gram(y)                     # action: fills the cache
        q = _rotate(y, _orth_factor(g))
        if prev is not None:
            prev.unpersist()
        prev = y if y.is_cached else None

    # Rayleigh–Ritz: T = QᵀAQ, rotate Q into the Ritz basis
    z = _mul(q).persist()
    qz = q.join(z.withColumnRenamed("y", "z"), "node")
    taggs = [F.sum(F.col("q")[i] * F.col("z")[j])
             for i in range(dim) for j in range(dim)]
    trow = qz.agg(*taggs).collect()[0]
    t = np.array([[trow[i * dim + j] or 0.0 for j in range(dim)]
                  for i in range(dim)])
    t = (t + t.T) / 2.0
    lam, v = np.linalg.eigh(t)
    order = np.argsort(-np.abs(lam))    # descending singular values |λ|
    lam, v = lam[order], v[:, order]
    scale = v @ np.diag(np.sqrt(np.abs(lam)))
    e = trunc(_rotate(q.withColumnRenamed("q", "y"), scale, out="emb"),
              "pe_emb")
    z.unpersist()                       # e is hard-materialized above
    if prev is not None:
        prev.unpersist()

    # canonical signs: s_j = sign(Σ emb_j(v)·h(v)), h(v) = ±1 from md5
    hv = F.when(F.conv(F.substring(F.md5(F.concat_ws(
        "-", F.lit(salt), F.lit("sgn"), F.col("node"))), 1, 8),
        16, 10).cast("bigint") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    srow = (e.withColumn("_h", hv)
            .agg(*[F.sum(F.col("emb")[j] * F.col("_h"))
                   for j in range(dim)]).collect()[0])
    signs = [1.0 if (srow[j] or 0.0) >= 0 else -1.0 for j in range(dim)]
    lam_lit = F.array(*[F.lit(round(float(x), 6)) for x in lam])
    return e.select(
        "node",
        F.array(*[F.col("emb")[j] * signs[j] for j in range(dim)])
        .alias("emb"),
        lam_lit.alias("lam"))


def sampled_adjacency(edges: DataFrame, k: int = 2,
                      salt: str = "ns") -> DataFrame:
    """Deterministic fanout-sampled adjacency — the GNN-minibatch prep
    primitive (GraphSAGE's neighbor sampling): every node keeps at most
    ``k`` neighbors, ranked by md5(salt, src, dst), so the sample is
    reproducible, partition-layout-independent, and replayable by the
    SQL oracle.  One src-partitioned window over the symmetrized edge
    table; output ≤ k rows per node regardless of hub degree — THE
    bound that makes hop joins safe on a graph with 10⁶-degree hubs."""
    und0 = (edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())
    und = und0.union(und0.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct()
    w = Window.partitionBy("src").orderBy(
        F.md5(F.concat_ws("-", F.lit(salt), "src", "dst")), "dst")
    return (und.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k).drop("_r"))


def two_hop_sample(edges: DataFrame, k1: int = 2, k2: int = 2,
                   salt: str = "ns") -> DataFrame:
    """Two-hop sampled neighborhoods: for every node, ≤ k1 sampled
    neighbors, and for each of those ≤ k2 sampled second-hop neighbors
    (layer-shared sampling — each hop draws its own md5 salt, so the
    two layers are independent, but a node's sample is shared across
    all roots that reach it, the standard trade that keeps the join
    fan-out at k1·k2 per root instead of re-sampling per root).
    Returns (root, n1, n2) — hop joins are two bounded equi-joins."""
    h1 = sampled_adjacency(edges, k=k1, salt=f"{salt}1")
    h2 = sampled_adjacency(edges, k=k2, salt=f"{salt}2")
    return (h1.select(F.col("src").alias("root"), F.col("dst").alias("n1"))
            .join(h2.select(F.col("src").alias("n1"),
                            F.col("dst").alias("n2")), "n1")
            .select("root", "n1", "n2"))


def node_degrees(triples: DataFrame, pred: str | None = None) -> DataFrame:
    t = triples if pred is None else triples.filter(F.col("pred") == pred)
    out_d = t.groupBy(F.col("subj").alias("node")).agg(
        F.count("*").cast("bigint").alias("out_degree"))
    in_d = t.groupBy(F.col("obj").alias("node")).agg(
        F.count("*").cast("bigint").alias("in_degree"))
    return (out_d.join(in_d, "node", "full_outer")
            .fillna(0, ["out_degree", "in_degree"]))


def pagerank(triples: DataFrame, pred: str | None = None,
             damping: float = 0.85, n_iter: int = 10,
             checkpoint_dir: str | None = None,
             sources: DataFrame | None = None) -> DataFrame:
    """PageRank over the (deduplicated) edge set of one predicate.

    ``checkpoint_dir``: when set, per-iteration lineage truncation is a
    durable parquet round-trip (cluster-safe — localCheckpoint blocks
    die with their executor and kill the job mid-iteration; point this
    at HDFS/S3 on a real cluster).  Output is identical either way.

    ``sources``: PERSONALIZED PageRank — the restart vector concentrates
    on the given node set (column ``node``): p(v) = 1/|S| for v ∈ S,
    else 0; the dangling mass also restarts at the sources.  Ranks then
    measure proximity to the source set (e.g. influence of a landmark
    statute through the citation graph) instead of global centrality.
    Same iteration shape, same per-round cost."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    edges = (triples if pred is None
             else triples.filter(F.col("pred") == pred))
    edges = trunc(edges.select(F.col("subj").alias("src"),
                               F.col("obj").alias("dst")).distinct(), "edges")
    nodes = trunc(edges.select(F.col("src").alias("node"))
                  .union(edges.select(F.col("dst").alias("node")))
                  .distinct(), "nodes")
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # materialize once: out_deg feeds a join in EVERY iteration — left lazy
    # it would re-run the edges groupBy shuffle n_iter times
    out_deg = trunc(edges.groupBy("src").agg(F.count("*").alias("deg")),
                    "out_deg")
    dangling = trunc(nodes.join(out_deg.withColumnRenamed("src", "node"),
                                "node", "left_anti"), "dangling")
    if sources is not None:
        ns = sources.select("node").distinct()
        n_src = ns.count()
        if n_src == 0:
            raise ValueError("personalized pagerank needs >= 1 source node")
        nodes_p = trunc(
            nodes.join(ns.withColumn("_s", F.lit(1)), "node", "left")
            .select("node", F.when(F.col("_s") == 1, F.lit(1.0) / n_src)
                    .otherwise(F.lit(0.0)).alias("p")), "pvec")
        ranks = nodes_p.select("node", F.col("p").alias("rank"))
        for _ in range(n_iter):
            d_mass = (dangling.join(ranks, "node")
                      .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                           .alias("d_mass")))
            contrib = (edges.join(out_deg, "src")
                       .join(ranks.withColumnRenamed("node", "src"), "src")
                       .select(F.col("dst").alias("node"),
                               (F.col("rank") / F.col("deg")).alias("c")))
            ranks = trunc(
                nodes_p.join(contrib.groupBy("node")
                             .agg(F.sum("c").alias("c")), "node", "left")
                .crossJoin(F.broadcast(d_mass))
                .select("node",
                        ((1 - damping) * F.col("p")
                         + damping * (F.coalesce("c", F.lit(0.0))
                                      + F.col("d_mass") * F.col("p")))
                        .alias("rank")), "ppr")
        return ranks.withColumn("rank", F.round("rank", 6))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        # dangling nodes spread their mass uniformly (standard PageRank);
        # the mass stays a 1-row DataFrame broadcast-cross-joined into the
        # update — no .first()/collect, so each iteration costs exactly
        # ONE job (the lineage-truncating checkpoint), not two
        d_mass = (dangling.join(ranks, "node")
                  .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d_mass")))
        contrib = (edges.join(out_deg, "src")
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        ranks = (nodes.join(contrib.groupBy("node")
                            .agg(F.sum("c").alias("c")), "node", "left")
                 .crossJoin(F.broadcast(d_mass))
                 .select("node",
                         ((1 - damping) / n
                          + damping * (F.coalesce("c", F.lit(0.0))
                                       + F.col("d_mass") / n))
                         .alias("rank"))
                 )
        ranks = trunc(ranks, "ranks")
    return ranks.withColumn("rank", F.round("rank", 6))


def hits(triples: DataFrame, pred: str | None = None, n_iter: int = 8,
         checkpoint_dir: str | None = None) -> DataFrame:
    """HITS hubs & authorities over one predicate's edge set — the natural
    citation-graph complement to PageRank: judgments that cite widely are
    HUBS, precedents cited by good hubs are AUTHORITIES.

    Kleinberg's update with L1 normalization each half-step (scores sum
    to 1), so values stay bounded and the fixed-iteration unrolled SQL
    oracle reproduces them exactly.  Per iteration: two edge joins + two
    aggregations, all keyed by node id over (id, double) rows; the two
    normalizers are 1-row aggregates broadcast into the update — each
    iteration costs exactly ONE lineage-truncating job, like pagerank.
    ``checkpoint_dir`` switches truncation to the durable parquet
    round-trip (cluster mode).

    Do NOT drop the per-iteration truncation for small n_iter: each
    round references the previous hub frame from several places (the
    in-agg, the out-agg through auth, and the final join), and Spark
    re-evaluates repeated DataFrame subtrees — without truncation the
    4-iteration query measures 3.2× SLOWER (8.2 s vs 2.5 s at sf0.1);
    the checkpoint is the common-subexpression device as much as the
    lineage bound."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    edges = (triples if pred is None
             else triples.filter(F.col("pred") == pred))
    edges = trunc(edges.select(F.col("subj").alias("src"),
                               F.col("obj").alias("dst")).distinct(),
                  "hits_edges")
    nodes = trunc(edges.select(F.col("src").alias("node"))
                  .union(edges.select(F.col("dst").alias("node")))
                  .distinct(), "hits_nodes")
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)) \
                    .withColumn("auth", F.lit(0.0))
    hub = nodes.withColumn("hub", F.lit(1.0 / n))
    auth = nodes.withColumn("auth", F.lit(0.0))
    for _ in range(n_iter):
        a_raw = (edges.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("a_raw")))
        a_sum = a_raw.agg(F.sum("a_raw").alias("a_sum"))
        auth = (nodes.join(a_raw, "node", "left")
                .crossJoin(F.broadcast(a_sum))
                .select("node", (F.coalesce("a_raw", F.lit(0.0))
                                 / F.col("a_sum")).alias("auth")))
        h_raw = (edges.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("h_raw")))
        h_sum = h_raw.agg(F.sum("h_raw").alias("h_sum"))
        hub = trunc(
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_sum))
            .select("node", (F.coalesce("h_raw", F.lit(0.0))
                             / F.col("h_sum")).alias("hub")), "hits_hub")
    return (hub.join(auth, "node")
            .select("node", F.round("hub", 6).alias("hub"),
                    F.round("auth", 6).alias("auth")))


def dense_node_ids(names: DataFrame, col: str = "node",
                   prefix_len: int = 2) -> DataFrame:
    """Dictionary-encode node names to dense contiguous int64 ids
    [0, n) — the materialization step before GNN training / adjacency
    export, where string ids are dead weight.

    Assignment order is (md5(name)[:prefix_len], name): deterministic
    and engine-reproducible (md5 exists on every engine; the id equals
    row_number over that order), but NOT global lexical rank — that
    would need a global sort.  Scale shape: the per-name window
    partitions by the 16^prefix_len hash buckets (uniform under md5),
    and the only global window runs over the tiny bucket-totals table,
    broadcast back — the distributed prefix-sum pattern
    (textprep.pack_shards).  No single-partition pass over the corpus
    anywhere."""
    dn = (names.select(F.col(col).alias("node")).distinct()
          .withColumn("_b", F.substring(
              F.md5(F.col("node").cast("string")), 1, prefix_len)))
    btot = dn.groupBy("_b").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.withColumn("off", F.coalesce(F.sum("cnt").over(wb),
                                             F.lit(0)))
    wl = Window.partitionBy("_b").orderBy("node")
    return (dn.join(F.broadcast(boff.select("_b", "off")), "_b")
            .withColumn("node_id",
                        (F.row_number().over(wl) + F.col("off") - 1)
                        .cast("bigint"))
            .select("node", "node_id"))


def encode_edges(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """Remap an (src, dst) string edge list through the dense-id
    dictionary: two broadcast-or-shuffle hash joins keyed by name.  INNER
    joins — an edge endpoint absent from the dictionary is a pipeline bug
    and should surface as a count drop, not a null id."""
    return (edges
            .join(ids.select(F.col("node").alias("src"),
                             F.col("node_id").alias("src_id")), "src")
            .join(ids.select(F.col("node").alias("dst"),
                             F.col("node_id").alias("dst_id")), "dst")
            .select("src_id", "dst_id"))


def negative_samples(triples: DataFrame, ids: DataFrame, k: int = 2,
                     salt: str = "ns1") -> DataFrame:
    """Filtered negative sampling for KG-embedding training: per positive
    triple, ``k`` corrupted-object candidates drawn deterministically
    from the dense-id dictionary (md5-derived index — reproducible under
    retry/resume and replayable by the oracle), minus any corruption
    that happens to be a true triple (the standard 'filtered' setting).

    Scale shape: candidates = positives × k (a projection + explode);
    the dictionary lookup is one equi-join keyed by int64 node_id; the
    filtered-setting check is one left-anti equi-join on the triple key.
    No sampling loop, no driver state."""
    pos = triples.select("subj", "pred", "obj").distinct()
    nn = ids.agg(F.count(F.lit(1)).alias("n_nodes"))
    cand = (pos.crossJoin(F.broadcast(nn))
            .select("subj", "pred", "obj", "n_nodes",
                    F.explode(F.sequence(F.lit(1), F.lit(k)))
                    .alias("neg_ix"))
            .withColumn(
                "neg_id",
                F.pmod(F.conv(F.substring(F.md5(F.concat(
                    F.lit(salt), F.col("subj"), F.lit("|"),
                    F.col("pred"), F.lit("|"), F.col("obj"), F.lit("|"),
                    F.col("neg_ix").cast("string"))), 1, 8), 16, 10)
                    .cast("bigint"), F.col("n_nodes"))))
    neg = (cand.join(ids.select(F.col("node_id").alias("neg_id"),
                                F.col("node").alias("neg_obj")), "neg_id")
           .select("subj", "pred", "obj", "neg_ix", "neg_obj"))
    return neg.join(
        pos.select("subj", "pred", F.col("obj").alias("neg_obj")),
        ["subj", "pred", "neg_obj"], "left_anti")


def lpa_communities(edges: DataFrame, n_iter: int = 3,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Synchronous label propagation communities over an undirected
    (src, dst) edge table: each round every node adopts the most common
    label among its neighbours, ties broken by smallest label — fully
    deterministic (unlike classic asynchronous LPA), so a fixed
    iteration count unrolls into an exact SQL oracle.  Complementary to
    connected components: LPA splits a connected graph into dense
    communities instead of reachability classes.

    Per round: one neighbour-label count aggregation + one per-node
    argmax window over the aggregated (node, label) table — both keyed
    shuffles over small rows, truncation per round as in pagerank."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    sym = trunc(edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst"))).distinct(),
                "lpa_edges")
    labels = trunc(sym.select(F.col("src").alias("node")).distinct()
                   .withColumn("lab", F.col("node")), "lpa_l0")
    for _ in range(n_iter):
        cnt = (sym.join(labels.select(F.col("node").alias("dst"),
                                      "lab"), "dst")
               .groupBy(F.col("src").alias("node"), "lab")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
        labels = trunc(cnt.withColumn("_rn", F.row_number().over(w))
                       .filter("_rn = 1").select("node", "lab"), "lpa_l")
    return labels.select("node", F.col("lab").alias("community"))


def butterfly_counts(bip: DataFrame, left: str = "left",
                     right: str = "right",
                     max_left_degree: int | None = None) -> DataFrame:
    """Per-right-node butterfly (2×2-biclique) participation over a
    bipartite (left, right) edge table — the bipartite analogue of
    triangle counting and the density signal behind co-citation
    community quality: a butterfly is a pair of left nodes jointly
    connected to a pair of right nodes.  Counting goes through wedges:
    for every right pair (a < b) with ``co`` common left neighbours the
    pair closes C(co, 2) butterflies, and each endpoint participates in
    all of them, so b(v) = Σ_{pairs ∋ v} co·(co−1)/2 — exact integers
    end to end, no sampling.

    Scale shape: the only quadratic step is the per-left-node right-pair
    enumeration (Σ C(deg_left, 2)); ``max_left_degree`` drops left hubs
    above the cap BEFORE the self-join (the standard Sanei-Mehri-style
    vertex-priority mitigation reduced to its cheap prefilter), keeping
    fan-out bounded per row.  The pair aggregation and the final
    per-node sum are plain keyed shuffles."""
    ds = bip.select(F.col(left).alias("l"),
                    F.col(right).alias("r")).distinct()
    if max_left_degree is not None:
        deg = ds.groupBy("l").agg(F.count(F.lit(1)).alias("dl"))
        ds = (ds.join(deg.filter(F.col("dl") <= max_left_degree)
                      .select("l"), "l"))
    b = ds.select(F.col("l").alias("bl"), F.col("r").alias("rb"))
    co = (ds.join(b, (F.col("l") == F.col("bl"))
                  & (F.col("r") < F.col("rb")))
          .groupBy(F.col("r").alias("ra"), "rb")
          .agg(F.count(F.lit(1)).alias("co")))
    pair_bf = co.withColumn(
        "bf", F.expr("CAST((co * (co - 1)) DIV 2 AS BIGINT)"))
    per = (pair_bf.select(F.col("ra").alias("node"), "bf")
           .unionByName(pair_bf.select(F.col("rb").alias("node"), "bf"))
           .groupBy("node")
           .agg(F.sum("bf").cast("bigint").alias("butterflies")))
    return per.filter(F.col("butterflies") > 0)


def biased_walks(edges: DataFrame, n_walks: int = 2, walk_len: int = 3,
                 ret_w: int = 1, com_w: int = 2, far_w: int = 1,
                 salt: str = "b",
                 second_order_max_degree: int | None = None,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Node2vec-style SECOND-ORDER biased walks with the same
    deterministic md5 replay contract as `random_walks`: step t from
    node v (arrived from p) picks among v's neighbours n with integer
    weights ret_w (n = p, the 1/p return term), com_w (n adjacent to p,
    the distance-1 term) or far_w (the 1/q exploration term) — integer
    weights make the cumulative intervals exact, so the DuckDB oracle
    replays the corpus byte-for-byte (rational p/q reduce to integers
    by scaling).  Step 1 has no predecessor and is the uniform
    first-order step.

    Scale shape: second-order weighting is inherently per-wedge, the
    known node2vec state blow-up — this implementation never
    materializes the wedge table; each step joins the CURRENT frontier
    against the adjacency (Σ deg(v) rows over visited v only), marks
    the common-neighbour term with one LEFT equi-join against the edge
    set, and builds cumulative intervals HUB-BOUNDED: per-(walk,
    md5-bucket) prefix sums (≤ deg/256 rows per task) + a ≤256-row
    bucket-offset window per walk — a mega-hub visit is 256 normal
    tasks, the same two-level device as the first-order ranks.  The
    frontier stays |nodes|·n_walks across steps (symmetric graph, no
    dead ends).

    What no plan can bound is the per-visit Σ deg(v) itself: a walk
    standing on a 10⁷-degree hub must weigh 10⁷ wedges — the node2vec
    state blow-up in frontier form.  ``second_order_max_degree`` is
    the practical mitigation (cap-and-fall-back, the PinSAGE-style
    degree cap): visits to nodes ABOVE the cap take the uniform
    first-order step (one rank equi-join, no weighting), below it the
    exact second-order pick — hub visits cost O(1) per walk instead of
    O(deg).  None = exact second-order everywhere (the oracle-replayed
    contract)."""
    from ..plans.checkpoint import Truncator
    if min(ret_w, com_w, far_w) <= 0:
        raise ValueError("weights must be positive integers")
    trunc = Truncator(checkpoint_dir)
    und0 = (edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())
    und = trunc(
        und0.union(und0.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))).distinct(),
        "bw_edges")
    nbr = (und.select(F.col("src").alias("nsrc"),
                      F.col("dst").alias("ndst"))
           .withColumn("_bk", F.substring(
               F.md5(F.col("ndst").cast("string")), 1, 2)))
    deg = und.groupBy(F.col("src").alias("dnode")).agg(
        F.count(F.lit(1)).alias("deg"))
    rank = _ranked_neighbors(nbr, deg, hub_threshold=65536)
    starts = (deg.select(F.col("dnode").alias("start_node"))
              .withColumn("walk_id", F.explode(
                  F.sequence(F.lit(0), F.lit(n_walks - 1)))))
    out = starts.select("start_node", "walk_id",
                        F.lit(0).cast("int").alias("step"),
                        F.col("start_node").alias("node"))
    # step 1: uniform first-order (no predecessor)
    c1 = (F.conv(F.substring(F.md5(F.concat_ws(
        "-", F.lit(salt), F.col("start_node"), F.col("walk_id"),
        F.lit(1), F.col("start_node"))), 1, 8), 16, 10).cast("bigint")
        % F.col("deg"))
    cur = (starts.join(deg, F.col("start_node") == F.col("dnode"))
           .withColumn("_c", c1)
           .join(rank, (F.col("start_node") == F.col("nsrc"))
                 & (F.col("_c") == F.col("r")))
           .select("start_node", "walk_id",
                   F.col("start_node").alias("prev"),
                   F.col("ndst").alias("node")))
    out = out.unionByName(cur.select(
        "start_node", "walk_id", F.lit(1).cast("int").alias("step"),
        "node"))
    psym = und.select(F.col("src").alias("psrc"),
                      F.col("dst").alias("pdst"),
                      F.lit(1).alias("_adj"))
    for step in range(2, walk_len + 1):
        base, hub_next = cur, None
        if second_order_max_degree is not None:
            curd = cur.join(deg, F.col("node") == F.col("dnode"))
            base = (curd.filter(F.col("deg")
                                <= second_order_max_degree)
                    .select("start_node", "walk_id", "prev", "node"))
            hc = (F.conv(F.substring(F.md5(F.concat_ws(
                "-", F.lit(salt), F.col("start_node"),
                F.col("walk_id"), F.lit(step), F.col("node"))), 1, 8),
                16, 10).cast("bigint") % F.col("deg"))
            hub_next = (curd.filter(F.col("deg")
                                    > second_order_max_degree)
                        .withColumn("_c", hc)
                        .join(rank, (F.col("node") == F.col("nsrc"))
                              & (F.col("_c") == F.col("r")))
                        .select("start_node", "walk_id",
                                F.col("node").alias("prev"),
                                F.col("ndst").alias("node")))
        j = (base.join(nbr, F.col("node") == F.col("nsrc"))
             .join(psym, (F.col("prev") == F.col("psrc"))
                   & (F.col("ndst") == F.col("pdst")), "left")
             .withColumn("w", F.when(F.col("ndst") == F.col("prev"),
                                     F.lit(ret_w))
                         .when(F.col("_adj").isNotNull(), F.lit(com_w))
                         .otherwise(F.lit(far_w)).cast("bigint"))
             .select("start_node", "walk_id", "prev", "node",
                     "ndst", "_bk", "w"))
        j = trunc(j, f"bw_j{step}")
        bk_tot = (j.groupBy("start_node", "walk_id", "_bk")
                  .agg(F.sum("w").alias("_bw")))
        tot = (bk_tot.groupBy("start_node", "walk_id")
               .agg(F.sum("_bw").alias("_W")))
        woff = (Window.partitionBy("start_node", "walk_id")
                .orderBy("_bk")
                .rowsBetween(Window.unboundedPreceding, -1))
        boff = bk_tot.select(
            "start_node", "walk_id", "_bk",
            F.coalesce(F.sum("_bw").over(woff), F.lit(0)).alias("_boff"))
        win = (Window.partitionBy("start_node", "walk_id", "_bk")
               .orderBy("ndst")
               .rowsBetween(Window.unboundedPreceding, -1))
        choice = (F.conv(F.substring(F.md5(F.concat_ws(
            "-", F.lit(salt), F.col("start_node"), F.col("walk_id"),
            F.lit(step), F.col("node"))), 1, 8), 16, 10).cast("bigint")
            % F.col("_W"))
        cur = (j.withColumn("_cw", F.coalesce(
                   F.sum("w").over(win), F.lit(0)))
               .join(boff, ["start_node", "walk_id", "_bk"])
               .join(tot, ["start_node", "walk_id"])
               .withColumn("_cum", F.col("_cw") + F.col("_boff"))
               .withColumn("_ch", choice)
               .filter((F.col("_cum") <= F.col("_ch"))
                       & (F.col("_ch") < F.col("_cum") + F.col("w")))
               .select("start_node", "walk_id",
                       F.col("node").alias("prev"),
                       F.col("ndst").alias("node")))
        if hub_next is not None:
            cur = cur.unionByName(hub_next)
        out = out.unionByName(cur.select(
            "start_node", "walk_id",
            F.lit(step).cast("int").alias("step"), "node"))
    return out


def wcc_incremental(labels: DataFrame, new_edges: DataFrame,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Maintain a weakly-connected-components labelling under edge
    INSERTS without recomputing untouched components — the graph-tier
    analogue of the incremental dedup index.  Inserts only merge
    components (monotone), so maintenance is exact: endpoints unseen
    by ``labels`` enter as singletons, each new edge maps to its
    endpoint COMPONENT pair through two label equi-joins, and the
    distinct inter-component pairs form a component graph with at most
    |new edges| edges — orders of magnitude smaller than the corpus —
    on which the full `weakly_connected_components` runs.  The
    resulting (old component → merged component) remap is
    BROADCAST-joined back over the labels: the only full-size pass is
    one narrow map-side join, and component ids stay "min node id of
    the component" (min of mins), so maintained output is IDENTICAL to
    a from-scratch run over old ∪ new edges — the property the oracle
    and the fuzz test pin.  Deletes are NOT supported (they split
    components; rerun from scratch or use the DRed-style rule
    machinery), and unioned inputs are deduplicated."""
    e = (new_edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct())
    ends = (e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node"))).distinct())
    singles = (ends.join(labels.select("node"), "node", "left_anti")
               .withColumn("component", F.col("node")))
    lab2 = labels.select("node", "component").unionByName(singles)
    la = lab2.select(F.col("node").alias("src"),
                     F.col("component").alias("ca"))
    lb = lab2.select(F.col("node").alias("dst"),
                     F.col("component").alias("cb"))
    comp_edges = (e.join(la, "src").join(lb, "dst")
                  .filter(F.col("ca") != F.col("cb"))
                  .select(F.col("ca").alias("src"),
                          F.col("cb").alias("dst")).distinct())
    if comp_edges.isEmpty():
        return lab2
    merged = weakly_connected_components(comp_edges,
                                         checkpoint_dir=checkpoint_dir)
    remap = merged.select(F.col("node").alias("component"),
                          F.col("component").alias("newc"))
    return (lab2.join(F.broadcast(remap), "component", "left")
            .select("node", F.coalesce("newc", "component")
                    .alias("component")))


def select_landmarks(edges: DataFrame, k: int = 3, max_depth: int = 10,
                     checkpoint_dir: str | None = None) -> DataFrame:
    """Greedy farthest-point landmark selection — the classic 2-approx
    k-center sweep, answering the question `landmark_distances` leaves
    open (WHICH landmarks?): start from the min node id, then k−1
    times BFS from the current set and take the node farthest from all
    selected so far (unreached/disconnected counts as infinitely far;
    ties break to the smallest id — fully deterministic, so the
    unrolled recursive-CTE oracle replays the selection exactly).
    Returns (node, sel_order).

    Scale shape: k driver rounds by design (landmark sets are small —
    that's the point of the technique); each round is one multi-source
    `bfs_distances` (frontier equi-joins) + one TakeOrderedAndProject
    argmax (partial top-1 per partition, no global sort) + a 1-row
    collect.  Already-selected nodes are excluded from candidacy, so
    a fully-covered graph can't select duplicates."""
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    sym = (e.union(e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
           .filter(F.col("src") != F.col("dst")).distinct())
    from ..plans.checkpoint import Truncator
    sym = Truncator(checkpoint_dir)(sym, "klm_edges")
    nodes = sym.select(F.col("src").alias("node")).distinct()
    first = nodes.agg(F.min("node")).collect()[0][0]
    if first is None:
        return spark.createDataFrame([], "node string, sel_order int")
    sel = [first]
    inf = F.lit(2147483647)
    for _ in range(1, k):
        lms = spark.createDataFrame([(s,) for s in sel], ["node"])
        vis = bfs_distances(sym, lms, max_depth=max_depth,
                            checkpoint_dir=checkpoint_dir)
        cand = (nodes.join(lms, "node", "left_anti")
                .join(vis, "node", "left")
                .orderBy(F.desc(F.coalesce("distance", inf)),
                         F.asc("node"))
                .limit(1).collect())
        if not cand:
            break
        sel.append(cand[0]["node"])
    return spark.createDataFrame(
        [(s, i) for i, s in enumerate(sel)], ["node", "sel_order"])


def pagerank_weighted(edges: DataFrame, weight_col: str = "weight",
                      damping: float = 0.85, n_iter: int = 10,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Edge-WEIGHTED PageRank over (src, dst, weight) rows: a node
    splits its rank over out-edges proportionally to weight (parallel
    edges sum), the citation-strength variant of the uniform split —
    co-citation counts, confidence scores, or edit distances feed
    straight in.  Same iteration shape and per-round cost as
    `pagerank` (one join + one grouped sum per round, dangling mass as
    a 1-row broadcast, durable truncation per round); weights must be
    positive (a zero/negative weight would silently delete or invert
    mass — refused up front with a one-row probe)."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    e = (edges.select("src", "dst",
                      F.col(weight_col).cast("double").alias("w"))
         .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    e = trunc(e, "wpr_edges")
    bad = e.filter(F.col("w") <= 0).limit(1).count()
    if bad:
        raise ValueError("pagerank_weighted needs positive weights")
    nodes = trunc(e.select(F.col("src").alias("node"))
                  .union(e.select(F.col("dst").alias("node")))
                  .distinct(), "wpr_nodes")
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_w = trunc(e.groupBy("src").agg(F.sum("w").alias("tw")),
                  "wpr_outw")
    dangling = trunc(nodes.join(out_w.withColumnRenamed("src", "node"),
                                "node", "left_anti"), "wpr_dangling")
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        d_mass = (dangling.join(ranks, "node")
                  .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                       .alias("d_mass")))
        contrib = (e.join(out_w, "src")
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") * F.col("w") / F.col("tw"))
                           .alias("c")))
        ranks = trunc(
            nodes.join(contrib.groupBy("node")
                       .agg(F.sum("c").alias("c")), "node", "left")
            .crossJoin(F.broadcast(d_mass))
            .select("node",
                    ((1 - damping) / n
                     + damping * (F.coalesce("c", F.lit(0.0))
                                  + F.col("d_mass") / n))
                    .alias("rank")), "wpr_ranks")
    return ranks.withColumn("rank", F.round("rank", 6))


def katz(edges: DataFrame, alpha: float = 0.1, n_iter: int = 6,
         checkpoint_dir: str | None = None) -> DataFrame:
    """Katz centrality, truncated at path length ``n_iter``:
    x ← 1 + α·Aᵀx, so x(v) counts in-paths of every length ≤ n_iter
    weighted α^len — the centrality that credits a node for being
    cited by well-cited nodes WITHOUT PageRank's outflow
    normalization (a prolific citer dilutes nothing).  Fixed
    iteration count pins the same finite-truncation contract as the
    PageRank/HITS oracles; α must satisfy α < 1/λ_max for the
    untruncated series to converge (callers pick α ≪ 1/max-degree,
    the standard sufficient bound).  Per round: ONE edge equi-join +
    grouped sum, durable truncation."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    e = trunc(edges.select("src", "dst").distinct(), "katz_edges")
    nodes = trunc(e.select(F.col("src").alias("node"))
                  .union(e.select(F.col("dst").alias("node")))
                  .distinct(), "katz_nodes")
    x = nodes.withColumn("score", F.lit(1.0))
    for _ in range(n_iter):
        contrib = (e.join(x.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum("score").alias("c")))
        x = trunc(nodes.join(contrib, "node", "left")
                  .select("node",
                          (F.lit(1.0) + F.lit(alpha)
                           * F.coalesce("c", F.lit(0.0)))
                          .alias("score")), "katz_x")
    return x.withColumn("score", F.round("score", 6))


def seeded_label_propagation(edges: DataFrame, seeds: DataFrame,
                             n_iter: int = 3,
                             checkpoint_dir: str | None = None
                             ) -> DataFrame:
    """SEMI-SUPERVISED label propagation — classification, not
    community detection: ``seeds`` (node, label) are ground truth and
    NEVER change; each round every non-seed node adopts the most
    common label among its labelled neighbours (ties → smallest
    label), and nodes with no labelled neighbour stay unlabelled until
    the frontier reaches them.  Synchronous and deterministic, so a
    fixed round count unrolls into an exact SQL oracle (the community
    LPA's contract, with a seed guard).  Conflicting seed labels for
    one node are refused.  Per round: one neighbour-label count + one
    per-node argmax window — the `lpa_communities` cost shape."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    sym = trunc(edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
                .distinct(), "slp_edges")
    sd = trunc(seeds.select("node", "label").distinct(), "slp_seeds")
    dup = (sd.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
           .filter("c > 1").limit(1).count())
    if dup:
        raise ValueError("conflicting seed labels for a node")
    labels = sd
    for _ in range(n_iter):
        cnt = (sym.join(labels.select(F.col("node").alias("dst"),
                                      "label"), "dst")
               .groupBy(F.col("src").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("node").orderBy(F.desc("c"),
                                               F.asc("label"))
        prop = (cnt.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").select("node", "label")
                .join(sd.select("node"), "node", "left_anti"))
        labels = trunc(sd.unionByName(prop), "slp_labels")
    return labels
