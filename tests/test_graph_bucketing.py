"""Graph analytics over triples and bucketed co-located joins."""

import pytest

from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.operators import graph
from legal_ner_spark.sources import corpus as src


@pytest.fixture(scope="module")
def triples(spark):
    c = synth.synthetic_corpus(spark, 24, partitions=4)
    t = ops.triples(ops.extract_records(c)).cache()
    t.count()
    yield t
    t.unpersist()


def test_node_degrees(triples):
    deg = graph.node_degrees(triples, pred="part_of").toPandas()
    assert (deg.in_degree + deg.out_degree > 0).all()
    # statutes are objects of part_of: canonical IPC/CrPC names dominate
    top = deg.sort_values("in_degree", ascending=False).iloc[0]
    assert top.in_degree >= 3


def test_pagerank_converges_and_sums_to_one(spark, triples):
    pr = graph.pagerank(triples, pred="part_of", n_iter=8).toPandas()
    assert len(pr) > 0
    assert abs(pr["rank"].sum() - 1.0) < 0.05   # rank mass ~conserved
    assert (pr["rank"] > 0).all()
    # hub statutes (many provisions point at them) out-rank leaves
    hub = pr.sort_values("rank", ascending=False).iloc[0]
    assert hub["rank"] > 1.0 / len(pr)


def test_pagerank_deterministic(spark, triples):
    a = {r.node: r.rank for r in graph.pagerank(triples, "part_of", n_iter=5).collect()}
    b = {r.node: r.rank for r in graph.pagerank(triples, "part_of", n_iter=5).collect()}
    assert a == b


def test_bucketed_join_has_no_exchange(spark, tmp_path, triples):
    """Two tables bucketed on the join key sort-merge-join with zero
    shuffles — the co-location strategy for the big mentions↔triples joins
    at scale."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        src.write_bucketed(triples, "t_bucketed", "doc_id", n_buckets=8)
        docs = triples.select("doc_id").distinct() \
            .withColumn("flag", F.lit(1))
        src.write_bucketed(docs, "d_bucketed", "doc_id", n_buckets=8)
        j = (spark.table("t_bucketed")
             .join(spark.table("d_bucketed"), "doc_id"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert j.count() == triples.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS t_bucketed")
        spark.sql("DROP TABLE IF EXISTS d_bucketed")


def test_weakly_connected_components_chain_and_islands(spark):
    """Global WCC: a 12-link chain (diameter 12) must converge within
    max_iter=8 thanks to pointer jumping; a separate island keeps its own
    component; labels are the component minimum."""
    rows = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    comp = {r.node: r.component
            for r in graph.weakly_connected_components(
                edges, max_iter=8).collect()}
    assert all(comp[i] == 0 for i in range(13))
    assert all(comp[i] == 100 for i in (100, 101, 102))


def test_weakly_connected_components_durable_checkpoint(spark, tmp_path):
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["src", "dst"])
    base = sorted((r.node, r.component)
                  for r in graph.weakly_connected_components(edges).collect())
    durable = sorted(
        (r.node, r.component)
        for r in graph.weakly_connected_components(
            edges, checkpoint_dir=str(tmp_path / "wcc")).collect())
    assert durable == base == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_triangles_enumeration(spark):
    """K4 contains exactly 4 triangles; direction/duplicate edges must
    not multiply them; the dangling edge adds none."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(3, 9)]   # reversed + tail
    tri = sorted((r.node_a, r.node_b, r.node_c)
                 for r in graph.triangles(
                     spark.createDataFrame(noisy, ["src", "dst"])).collect())
    assert tri == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]


def test_triangles_both_orientations_agree(spark):
    """The adaptive probe picks id-oriented (small graphs) or
    degree-oriented (hubby graphs) wedges — both must enumerate the
    IDENTICAL triangle set.  hub_threshold=0 forces the degree path on
    the same input the default resolves to the id path.  A hub star
    with a ring closing pairs of its leaves holds exactly the ring's
    triangles, each through the hub."""
    edges = [(a, b) for a in range(5) for b in range(5) if a < b]  # K5
    edges += [(0, 9), (9, 10), (10, 0), (7, 8)]  # extra tri + tail
    edges += [(100, leaf) for leaf in range(101, 141)]  # hub star
    edges += [(101, 102), (103, 104), (105, 106)]  # ring of 3 triangles
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = sorted((r.node_a, r.node_b, r.node_c)
                  for r in graph.triangles(df).collect())
    hubproof = sorted((r.node_a, r.node_b, r.node_c)
                      for r in graph.triangles(
                          df, hub_threshold=0).collect())
    assert fast == hubproof
    assert len(fast) == 10 + 1 + 3  # C(5,3) in the K5, (0,9,10), ring
    assert all(100 in t for t in fast if max(t) > 100)


def test_bfs_distances_frontier_semantics(spark, tmp_path):
    """Min-hop distances from multiple sources; nodes beyond max_depth
    are absent; durable-checkpoint mode returns the identical frontier
    history."""
    #  0-1-2-3-4-5  chain, plus island 10-11
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)], ["src", "dst"])
    sources = spark.createDataFrame([(0,), (10,)], ["node"])
    got = {r.node: r.distance
           for r in graph.bfs_distances(edges, sources,
                                        max_depth=3).collect()}
    assert got == {0: 0, 10: 0, 1: 1, 11: 1, 2: 2, 3: 3}   # 4,5 beyond cap
    durable = {r.node: r.distance
               for r in graph.bfs_distances(
                   edges, sources, max_depth=3,
                   checkpoint_dir=str(tmp_path / "bfs")).collect()}
    assert durable == got


def test_personalized_pagerank_concentrates_on_source(spark):
    """PPR on a 2-component graph: mass must stay in the source's
    component (all other-component ranks 0) and sum to ~1; the source
    holds the largest rank."""
    tri = spark.createDataFrame(
        [("a", "part_of", "S"), ("b", "part_of", "S"), ("S", "part_of", "T"),
         ("x", "part_of", "Y")],
        ["subj", "pred", "obj"])
    src = spark.createDataFrame([("S",)], ["node"])
    ranks = {r.node: r.rank
             for r in graph.pagerank(tri, pred="part_of", n_iter=8,
                                     sources=src).collect()}
    assert ranks["x"] == 0.0 and ranks["Y"] == 0.0
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    assert ranks["S"] == max(ranks.values())
    assert ranks["T"] > 0                       # downstream of the source


def test_kcore_recursive_peel(spark):
    """A node whose degree is >= k only via peelable neighbours must fall
    in a LATER round: path 0-1-2-3-4 pendant off a 4-clique {4,5,6,7};
    the 2-core is exactly the clique — the path peels one node per
    round."""
    clique = [(a, b) for a in (4, 5, 6, 7) for b in (4, 5, 6, 7) if a < b]
    path = [(0, 1), (1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(clique + path, ["src", "dst"])
    got = {r.node: r.degree for r in graph.kcore(edges, k=2).collect()}
    assert got == {4: 3, 5: 3, 6: 3, 7: 3}


def test_kcore_whole_graph_survives(spark):
    """A cycle is its own 2-core — one round, nothing peeled."""
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    edges = spark.createDataFrame(cyc, ["src", "dst"])
    got = {r.node: r.degree for r in graph.kcore(edges, k=2).collect()}
    assert got == {i: 2 for i in range(5)}


def test_kcore_empty_core_and_raise(spark):
    """A tree has no 2-core (empty result); max_iter too small raises
    instead of silently returning a half-peeled graph."""
    tree = [(0, 1), (0, 2), (1, 3), (1, 4)]
    edges = spark.createDataFrame(tree, ["src", "dst"])
    assert graph.kcore(edges, k=2).count() == 0
    chain = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.kcore(spark.createDataFrame(chain, ["src", "dst"]),
                    k=2, max_iter=2)


def test_kcore_durable_checkpoint_identical(spark, tmp_path):
    clique = [(a, b) for a in (4, 5, 6, 7) for b in (4, 5, 6, 7) if a < b]
    edges = spark.createDataFrame(clique + [(0, 4), (0, 5)], ["src", "dst"])
    base = sorted((r.node, r.degree)
                  for r in graph.kcore(edges, k=2).collect())
    durable = sorted((r.node, r.degree) for r in graph.kcore(
        edges, k=2, checkpoint_dir=str(tmp_path / "kc")).collect())
    assert durable == base


def test_hits_normalized_and_bipartite_structure(spark, triples):
    """Hub/auth each sum to 1; with cites_precedent edges (doc -> case)
    pure sources have auth 0 and pure sinks have hub 0."""
    res = graph.hits(triples, pred="cites_precedent", n_iter=4).toPandas()
    assert abs(res.hub.sum() - 1.0) < 1e-4
    assert abs(res.auth.sum() - 1.0) < 1e-4
    docs = res[res.node.str.startswith("doc_")]
    cases = res[~res.node.str.startswith("doc_")]
    assert len(docs) and len(cases)
    assert (docs.auth == 0).all() and (docs.hub > 0).all()
    assert (cases.hub == 0).all() and (cases.auth > 0).all()


def test_hits_mutual_reinforcement(spark):
    """The doc citing the popular case outranks the doc citing the
    obscure one; the case cited by more hubs gets more authority."""
    e = spark.createDataFrame(
        [("d1", "cites", "pop"), ("d2", "cites", "pop"),
         ("d3", "cites", "pop"), ("d3", "cites", "rare"),
         ("d4", "cites", "rare")],
        "subj string, pred string, obj string")
    r = {x.node: x for x in graph.hits(e, n_iter=8).collect()}
    assert r["pop"].auth > r["rare"].auth
    assert r["d3"].hub > r["d4"].hub          # d3 also cites the popular one


def test_hits_durable_checkpoint_identical(spark, tmp_path, triples):
    a = graph.hits(triples, pred="cites_precedent", n_iter=3)
    b = graph.hits(triples, pred="cites_precedent", n_iter=3,
                   checkpoint_dir=str(tmp_path / "ck"))
    pa = a.orderBy("node").toPandas()
    pb = b.orderBy("node").toPandas()
    assert pa.equals(pb)


def test_dense_node_ids_dense_and_deterministic(spark, triples):
    nodes = triples.select(F.col("subj").alias("node")).union(
        triples.select(F.col("obj").alias("node")))
    ids = graph.dense_node_ids(nodes).toPandas()
    n = nodes.distinct().count()
    assert len(ids) == n
    assert sorted(ids.node_id) == list(range(n))        # dense, unique, 0-based
    # deterministic under different parallelism
    ids2 = graph.dense_node_ids(nodes.repartition(13)).toPandas()
    m1 = dict(zip(ids.node, ids.node_id))
    m2 = dict(zip(ids2.node, ids2.node_id))
    assert m1 == m2


def test_encode_edges_roundtrip(spark, triples):
    e = (triples.filter(F.col("pred") == "part_of")
         .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
         .distinct())
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node")))
    ids = graph.dense_node_ids(nodes)
    enc = graph.encode_edges(e, ids)
    assert enc.count() == e.count()                     # inner join lost nothing
    # decoding through the dictionary restores the original edge set
    dec = (enc.join(ids.withColumnRenamed("node_id", "src_id")
                    .withColumnRenamed("node", "src"), "src_id")
           .join(ids.withColumnRenamed("node_id", "dst_id")
                 .withColumnRenamed("node", "dst"), "dst_id")
           .select("src", "dst"))
    assert dec.exceptAll(e).count() == 0 and e.exceptAll(dec).count() == 0


def test_negative_samples_filtered_and_bounded(spark, triples):
    """≤ k negatives per positive; no emitted negative is a true triple;
    deterministic across parallelism."""
    nodes = triples.select(F.col("subj").alias("node")).union(
        triples.select(F.col("obj").alias("node")))
    ids = graph.dense_node_ids(nodes)
    neg = graph.negative_samples(triples, ids, k=2).cache()
    pos = triples.select("subj", "pred", "obj").distinct()
    n_pos = pos.count()
    assert 0 < neg.count() <= 2 * n_pos
    leaked = neg.join(
        pos.withColumnRenamed("obj", "neg_obj"),
        ["subj", "pred", "neg_obj"]).count()
    assert leaked == 0
    per = neg.groupBy("subj", "pred", "obj").count()
    assert per.agg(F.max("count")).first()[0] <= 2
    again = graph.negative_samples(triples.repartition(11), ids, k=2)
    assert sorted(map(tuple, neg.collect())) == \
        sorted(map(tuple, again.collect()))
    neg.unpersist()


def test_clustering_coeff_known_graphs(spark):
    """K4 nodes: coeff 1; a path's interior nodes: 0 (pinned through the
    query's operator composition on a hand-built edge set)."""
    from legal_ner_spark.operators import graph
    # K4 on a,b,c,d + path d-e-f (e interior, degree 2, no triangle)
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f")]
    e = spark.createDataFrame(edges, "src string, dst string")
    tri = graph.triangles(e)
    tv = {r.node: r.t for r in
          tri.selectExpr("explode(array(node_a, node_b, node_c)) AS node")
          .groupBy("node").agg(F.count(F.lit(1)).alias("t")).collect()}
    assert tv == {"a": 3, "b": 3, "c": 3, "d": 3}
    # coefficients via the same arithmetic the query uses
    deg = {"a": 3, "b": 3, "c": 3, "d": 4, "e": 2}
    coeff = {n: 2 * tv.get(n, 0) / (d * (d - 1)) for n, d in deg.items()}
    assert coeff["a"] == 1.0 and coeff["e"] == 0.0
    assert abs(coeff["d"] - 0.5) < 1e-12      # 3 triangles of C(4,2)=6


def test_lpa_splits_two_cliques_joined_by_bridge(spark):
    """Two 4-cliques joined by one bridge edge: WCC sees one component,
    LPA (3 rounds) assigns two communities split at the bridge."""
    from itertools import combinations
    cl1 = list(combinations(["a1", "a2", "a3", "a4"], 2))
    cl2 = list(combinations(["b1", "b2", "b3", "b4"], 2))
    edges = cl1 + cl2 + [("a1", "b1")]
    e = spark.createDataFrame(edges, "src string, dst string")
    res = {r.node: r.community
           for r in graph.lpa_communities(e, n_iter=3).collect()}
    a_comms = {res[n] for n in ["a1", "a2", "a3", "a4"]}
    b_comms = {res[n] for n in ["b1", "b2", "b3", "b4"]}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms
    # deterministic under parallelism
    res2 = {r.node: r.community
            for r in graph.lpa_communities(e.repartition(7),
                                           n_iter=3).collect()}
    assert res == res2


def test_ktruss_peeling(spark):
    """K4 ∪ pendant triangle ∪ chain: k=3 keeps both cliques and drops
    the bridge/chain; k=4 keeps only the K4 (each edge in 2 triangles);
    k=5 empties; k=2 keeps even triangle-free edges with support 0."""
    edges = spark.createDataFrame(
        [("n1", "n2"), ("n1", "n3"), ("n1", "n4"), ("n2", "n3"),
         ("n2", "n4"), ("n3", "n4"),                    # K4
         ("n5", "n6"), ("n6", "n7"), ("n5", "n7"),      # triangle
         ("n4", "n5"),                                  # bridge
         ("n7", "n8")],                                 # chain tail
        ["src", "dst"])
    t3 = {(r.a, r.b): r.support for r in graph.ktruss(edges, k=3).collect()}
    assert len(t3) == 9 and ("n4", "n5") not in t3 and ("n7", "n8") not in t3
    assert t3[("n5", "n6")] == 1 and t3[("n1", "n2")] == 2
    t4 = {(r.a, r.b): r.support for r in graph.ktruss(edges, k=4).collect()}
    assert set(t4) == {("n1", "n2"), ("n1", "n3"), ("n1", "n4"),
                       ("n2", "n3"), ("n2", "n4"), ("n3", "n4")}
    assert set(t4.values()) == {2}
    assert graph.ktruss(edges, k=5).count() == 0
    t2 = {(r.a, r.b): r.support for r in graph.ktruss(edges, k=2).collect()}
    assert len(t2) == 11 and t2[("n7", "n8")] == 0


def test_random_walks_deterministic_and_valid(spark):
    """Walk rows must (a) be exactly reproducible across runs and input
    partitionings, (b) follow real edges at every step, (c) match a pure
    Python md5 replay — the cross-engine determinism contract the DuckDB
    oracle relies on."""
    import hashlib
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    out1 = sorted(map(tuple, graph.random_walks(
        edges, n_walks=2, walk_len=3).collect()))
    out2 = sorted(map(tuple, graph.random_walks(
        edges.repartition(7), n_walks=2, walk_len=3).collect()))
    assert out1 == out2
    # shape: 4 nodes x 2 walks x 4 steps (0..3)
    assert len(out1) == 4 * 2 * 4
    # python replay
    und = set()
    for s, d in rows:
        und.add((s, d)); und.add((d, s))
    nbrs = {}
    for s, d in sorted(und):
        nbrs.setdefault(s, []).append(d)
    # per-node neighbor order is (md5-bucket, dst) — the hub-bounded
    # two-level rank
    for s in nbrs:
        nbrs[s].sort(key=lambda d: (hashlib.md5(d.encode())
                                    .hexdigest()[:2], d))
    expect = []
    for start in sorted(nbrs):
        for w in range(2):
            node = start
            expect.append((start, w, 0, node))
            for step in range(1, 4):
                key = f"w-{start}-{w}-{step}-{node}".encode()
                c = int(hashlib.md5(key).hexdigest()[:8], 16) % len(nbrs[node])
                node = nbrs[node][c]
                expect.append((start, w, step, node))
    assert out1 == sorted(expect)
    # the hub-bounded two-level rank plan (forced via hub_threshold=0)
    # realizes the identical rank function — same walks byte-for-byte
    out3 = sorted(map(tuple, graph.random_walks(
        edges, n_walks=2, walk_len=3, hub_threshold=0).collect()))
    assert out3 == out1
    # every transition is an edge
    by_walk = {}
    for start, w, step, node in out1:
        by_walk.setdefault((start, w), {})[step] = node
    for seq in by_walk.values():
        for t in range(3):
            assert (seq[t], seq[t + 1]) in und


def test_walk_skipgrams_window_and_counts(spark):
    """Hand-checkable walk table: pair counts must enumerate exactly the
    |Δstep| ≤ window ordered pairs, including revisited-node pairs."""
    walks = spark.createDataFrame(
        [("s", 0, 0, "a"), ("s", 0, 1, "b"), ("s", 0, 2, "a"),
         ("s", 0, 3, "c"),
         ("s", 1, 0, "a"), ("s", 1, 1, "c")],
        ["start_node", "walk_id", "step", "node"])
    got = {(r.center, r.context): r.n
           for r in graph.walk_skipgrams(walks, window=2).collect()}
    # walk 0 (a,b,a,c): step pairs with |Δ|<=2 are
    #   (0,1)(0,2)(1,2)(1,3)(2,3) + reverses; walk 1 (a,c): (0,1)+rev.
    # (a,b): a@0->b@1, a@2->b@1 = 2; (a,a): a@0<->a@2 = 2 each way;
    # (b,c): b@1->c@3 = 1; (a,c): a@2->c@3 + walk-1 a@0->c@1 = 2
    # (a@0->c@3 is Δ=3, outside the window)
    want = {("a", "b"): 2, ("b", "a"): 2, ("a", "a"): 2, ("b", "c"): 1,
            ("c", "b"): 1, ("a", "c"): 2, ("c", "a"): 2}
    assert got == want


def test_sampled_adjacency_bounds_hubs_deterministically(spark):
    """A 50-leaf hub keeps exactly k md5-ranked neighbors; the sample is
    identical across input partitionings; two-hop fan-out is bounded at
    k1*k2 per root and every hop follows a real (symmetrized) edge."""
    rows = [("hub", f"leaf{i}") for i in range(50)] + [("a", "b")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    s1 = sorted(map(tuple, graph.sampled_adjacency(edges, k=3).collect()))
    s2 = sorted(map(tuple, graph.sampled_adjacency(
        edges.repartition(5), k=3).collect()))
    assert s1 == s2
    per_src = {}
    for src, dst in s1:
        per_src.setdefault(src, []).append(dst)
    assert len(per_src["hub"]) == 3          # capped
    assert per_src["a"] == ["b"] and per_src["b"] == ["a"]   # deg < k kept
    for src in (f"leaf{i}" for i in range(50)):
        assert per_src[src] == ["hub"]
    # python replay of the md5 ranking on the hub
    import hashlib
    want = sorted((hashlib.md5(f"ns-hub-leaf{i}".encode()).hexdigest(),
                   f"leaf{i}") for i in range(50))[:3]
    assert sorted(per_src["hub"]) == sorted(d for _, d in want)
    # two-hop: bounded and edge-valid
    th = graph.two_hop_sample(edges, k1=2, k2=2).collect()
    und = {(s, d) for s, d in rows} | {(d, s) for s, d in rows}
    per_root = {}
    for r in th:
        per_root.setdefault(r.root, []).append((r.n1, r.n2))
        assert (r.root, r.n1) in und and (r.n1, r.n2) in und
    assert all(len(v) <= 4 for v in per_root.values())


def test_shortest_paths_weighted_min(spark, tmp_path):
    """Weighted SSSP must pick the cheaper of two routes: chain
    0→1→2→3 (unit edges) plus a skip edge 0→2 of weight 1.5 — dist(2)
    is 1.5 via the skip, dist(3) 2.5 through it; an unreachable island
    stays absent; durable-checkpoint mode identical."""
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 2, 1.5),
         (10, 11, 1.0)], ["src", "dst", "weight"])
    sources = spark.createDataFrame([(0,)], ["node"])
    got = {r.node: r.dist
           for r in graph.shortest_paths(edges, sources).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 1.5, 3: 2.5}
    durable = {r.node: r.dist
               for r in graph.shortest_paths(
                   edges, sources,
                   checkpoint_dir=str(tmp_path / "sssp")).collect()}
    assert durable == got


def test_shortest_paths_undirected_and_multisource(spark):
    # undirected: distance propagates against edge direction; two
    # sources compete — every node gets the min over both
    edges = spark.createDataFrame(
        [(i, i + 1, 2.0) for i in range(6)], ["src", "dst", "weight"])
    sources = spark.createDataFrame([(0,), (6,)], ["node"])
    got = {r.node: r.dist
           for r in graph.shortest_paths(edges, sources,
                                         directed=False).collect()}
    assert got == {0: 0.0, 1: 2.0, 2: 4.0, 3: 6.0,
                   4: 4.0, 5: 2.0, 6: 0.0}


def test_shortest_paths_hop_bound_and_unit_equals_bfs(spark):
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(8)], ["src", "dst", "weight"])
    sources = spark.createDataFrame([(0,)], ["node"])
    capped = {r.node: r.dist
              for r in graph.shortest_paths(edges, sources,
                                            max_iter=3).collect()}
    assert max(capped.values()) == 3.0 and len(capped) == 4
    bfs = {r.node: float(r.distance)
           for r in graph.bfs_distances(
               edges.select("src", "dst"), sources,
               max_depth=8).collect()}
    full = {r.node: r.dist
            for r in graph.shortest_paths(edges, sources, max_iter=8,
                                          directed=False).collect()}
    assert full == bfs


def test_shortest_paths_refuses_negative_weights(spark):
    edges = spark.createDataFrame([(0, 1, -1.0)],
                                  ["src", "dst", "weight"])
    sources = spark.createDataFrame([(0,)], ["node"])
    with pytest.raises(ValueError, match="non-negative"):
        graph.shortest_paths(edges, sources)


def test_landmark_distances_per_root(spark, tmp_path):
    """Per-landmark BFS keeps the root breakdown bfs_distances folds
    away: on a 5-chain with landmarks at both ends every interior node
    carries TWO rows whose distances sum to the chain length."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  ["src", "dst"])
    lms = spark.createDataFrame([(0,), (4,)], ["node"])
    rows = graph.landmark_distances(edges, lms, max_depth=6).collect()
    got = {(r.root, r.node): r.distance for r in rows}
    assert got[(0, 3)] == 3 and got[(4, 3)] == 1
    interior = [n for n in range(1, 4)]
    assert all(got[(0, n)] + got[(4, n)] == 4 for n in interior)
    # folded min matches bfs_distances
    bfs = {r.node: r.distance
           for r in graph.bfs_distances(edges, lms, max_depth=6)
           .collect()}
    import collections
    folded = collections.defaultdict(lambda: 99)
    for (root, n), d in got.items():
        folded[n] = min(folded[n], d)
    assert dict(folded) == bfs
    durable = {(r.root, r.node): r.distance
               for r in graph.landmark_distances(
                   edges, lms, max_depth=6,
                   checkpoint_dir=str(tmp_path / "lmd")).collect()}
    assert durable == got


def test_landmark_distances_directed_and_capped(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                  ["src", "dst"])
    lms = spark.createDataFrame([(2,)], ["node"])
    got = {(r.root, r.node): r.distance
           for r in graph.landmark_distances(edges, lms, max_depth=1,
                                             directed=True).collect()}
    # directed: 1 is NOT reached (edge points 1->2); cap stops at 3
    assert got == {(2, 2): 0, (2, 3): 1}


def test_butterfly_counts_hand_example(spark):
    """d1:{s1,s2,s3} d2:{s1,s2} d3:{s2,s3} — co(s1,s2)=2, co(s2,s3)=2,
    co(s1,s3)=1 → one butterfly on each 2-pair: b(s1)=1, b(s2)=2,
    b(s3)=1.  Duplicate edge rows must not inflate counts."""
    rows = [("d1", "s1"), ("d1", "s2"), ("d1", "s3"),
            ("d2", "s1"), ("d2", "s2"),
            ("d3", "s2"), ("d3", "s3"),
            ("d2", "s1")]  # duplicate edge
    bip = spark.createDataFrame(rows, ["left", "right"])
    got = {r.node: r.butterflies
           for r in graph.butterfly_counts(bip).collect()}
    assert got == {"s1": 1, "s2": 2, "s3": 1}


def test_butterfly_counts_hub_cap(spark):
    """max_left_degree=2 drops the 3-statute doc BEFORE the pair join;
    the remaining single-doc pairs close no butterflies → empty.  A cap
    no left node exceeds changes nothing."""
    rows = [("d1", "s1"), ("d1", "s2"), ("d1", "s3"),
            ("d2", "s1"), ("d2", "s2"),
            ("d3", "s2"), ("d3", "s3")]
    bip = spark.createDataFrame(rows, ["left", "right"])
    out = graph.butterfly_counts(bip, max_left_degree=2).collect()
    assert out == []
    uncapped = sorted(graph.butterfly_counts(bip).collect())
    assert sorted(graph.butterfly_counts(
        bip, max_left_degree=3).collect()) == uncapped


def _py_biased_walks(edges, n_walks, walk_len, ret_w, com_w, far_w,
                     salt="b"):
    """Pure-Python replay of graph.biased_walks' md5 contract."""
    import hashlib

    adj = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    order = {v: sorted(ns, key=lambda n: (
        hashlib.md5(str(n).encode()).hexdigest()[:2], n))
        for v, ns in adj.items()}

    def h(start, w, t, node):
        seed = f"{salt}-{start}-{w}-{t}-{node}"
        return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)

    out = []
    for start in adj:
        for w in range(n_walks):
            node, prev = start, None
            out.append((start, w, 0, node))
            for t in range(1, walk_len + 1):
                ns = order[node]
                if t == 1:
                    nxt = ns[h(start, w, t, node) % len(ns)]
                else:
                    ws = [ret_w if n == prev
                          else com_w if n in adj[prev]
                          else far_w for n in ns]
                    ch = h(start, w, t, node) % sum(ws)
                    cum = 0
                    for n, wt in zip(ns, ws):
                        if cum <= ch < cum + wt:
                            nxt = n
                            break
                        cum += wt
                prev, node = node, nxt
                out.append((start, w, t, node))
    return sorted(out)


def test_biased_walks_matches_python_replay(spark):
    """Operator output equals the pure-Python md5 replay on a graph
    with triangles (common-neighbour class exercised), a tail (return
    class forced), and asymmetric weights."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
             (1, 6)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted((r.start_node, r.walk_id, r.step, r.node)
                 for r in graph.biased_walks(
                     e, n_walks=2, walk_len=3,
                     ret_w=3, com_w=2, far_w=1).collect())
    assert got == _py_biased_walks(edges, 2, 3, 3, 2, 1)


def test_biased_walks_return_bias_dominates(spark):
    """ret_w >> others: at step 2 nearly every walk bounces back to
    its start (the 1/p return term steering the pick)."""
    edges = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    rows = graph.biased_walks(e, n_walks=2, walk_len=2,
                              ret_w=10**6, com_w=1, far_w=1).collect()
    s2 = {(r.start_node, r.walk_id): r.node
          for r in rows if r.step == 2}
    back = sum(1 for (start, _), node in s2.items() if node == start)
    assert back / len(s2) > 0.8
    with pytest.raises(ValueError, match="positive"):
        graph.biased_walks(e, ret_w=0)


def test_biased_walks_hub_fallback(spark):
    """second_order_max_degree: visits to nodes above the cap take the
    uniform first-order step (md5 mod deg), below it the exact
    second-order pick — verified against a Python replay that applies
    the same split on a star-with-ring graph."""
    import hashlib

    edges = ([(0, i) for i in range(1, 10)]
             + [(i, i + 1) for i in range(1, 9)] + [(9, 1)])
    cap = 5

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    order = {v: sorted(ns, key=lambda n: (
        hashlib.md5(str(n).encode()).hexdigest()[:2], n))
        for v, ns in adj.items()}

    def h(start, w, t, node):
        seed = f"b-{start}-{w}-{t}-{node}"
        return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)

    expect = []
    for start in adj:
        for w in range(2):
            node, prev = start, None
            expect.append((start, w, 0, node))
            for t in range(1, 4):
                ns = order[node]
                if t == 1 or len(ns) > cap:
                    nxt = ns[h(start, w, t, node) % len(ns)]
                else:
                    ws = [3 if n == prev else 2 if n in adj[prev]
                          else 1 for n in ns]
                    ch = h(start, w, t, node) % sum(ws)
                    cum = 0
                    for n, wt in zip(ns, ws):
                        if cum <= ch < cum + wt:
                            nxt = n
                            break
                        cum += wt
                prev, node = node, nxt
                expect.append((start, w, t, node))

    e = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted((r.start_node, r.walk_id, r.step, r.node)
                 for r in graph.biased_walks(
                     e, n_walks=2, walk_len=3, ret_w=3, com_w=2,
                     far_w=1, second_order_max_degree=cap).collect())
    assert got == sorted(expect)
    # the hub (deg 9) was actually visited at second-order steps, so
    # the fallback branch is exercised, and results differ from the
    # uncapped corpus
    uncapped = sorted((r.start_node, r.walk_id, r.step, r.node)
                      for r in graph.biased_walks(
                          e, n_walks=2, walk_len=3, ret_w=3, com_w=2,
                          far_w=1).collect())
    assert got != uncapped


def test_wcc_incremental_merges_and_singletons(spark):
    """Base: two chains {0-1-2} {5-6}; delta bridges them (2,5) and
    brings a brand-new component {8,9}.  Maintained labels must equal
    from-scratch WCC over the union, min-node ids included."""
    base = spark.createDataFrame([(0, 1), (1, 2), (5, 6)],
                                 ["src", "dst"])
    delta = spark.createDataFrame([(2, 5), (8, 9)], ["src", "dst"])
    labels = graph.weakly_connected_components(base)
    got = sorted((r.node, r.component)
                 for r in graph.wcc_incremental(labels, delta).collect())
    full = sorted((r.node, r.component)
                  for r in graph.weakly_connected_components(
                      base.unionByName(delta)).collect())
    assert got == full
    assert dict(got)[9] == 8 and dict(got)[6] == 0


def test_wcc_incremental_noop_delta_is_identity(spark):
    """Delta edges entirely WITHIN existing components change no
    label (the component graph is empty — no CC run at all)."""
    base = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    labels = graph.weakly_connected_components(base)
    delta = spark.createDataFrame([(0, 2)], ["src", "dst"])
    got = sorted((r.node, r.component)
                 for r in graph.wcc_incremental(labels, delta).collect())
    assert got == sorted((r.node, r.component) for r in labels.collect())


def test_wcc_incremental_fuzz_random_splits(spark):
    """Random graphs, random base/delta splits: maintained ≡
    from-scratch over the union, exactly."""
    import random
    rng = random.Random(47)
    for trial in range(3):
        n = 30
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(40)]
        edges = [e for e in edges if e[0] != e[1]]
        cut = rng.randrange(1, len(edges) - 1)
        base = spark.createDataFrame(edges[:cut], ["src", "dst"])
        delta = spark.createDataFrame(edges[cut:], ["src", "dst"])
        labels = graph.weakly_connected_components(base)
        got = sorted((r.node, r.component)
                     for r in graph.wcc_incremental(labels,
                                                    delta).collect())
        full = sorted((r.node, r.component)
                      for r in graph.weakly_connected_components(
                          spark.createDataFrame(
                              edges, ["src", "dst"])).collect())
        assert got == full, f"trial {trial}"


def test_stream_components_matches_batch(spark, tmp_path):
    """Three arriving edge batches: batch 2 bridges batch 0/1
    components, batch 3 adds a fresh one — the manifest-resolved
    labels must equal from-scratch WCC over the union after every
    run, and a restart over the same checkpoint is a no-op."""
    import os
    import time
    from legal_ner_spark.streaming.stream import (stream_components,
                                                  read_components)

    batches = [[(0, 1), (5, 6)], [(2, 5)], [(8, 9), (1, 2)]]
    in_dir = str(tmp_path / "edge_arrivals")
    now, seen = time.time(), set()
    for i, b in enumerate(batches):
        (spark.createDataFrame(b, ["src", "dst"])
         .coalesce(1).write.mode("append").parquet(in_dir))
        for f in os.listdir(in_dir):
            if f not in seen:
                seen.add(f)
                t = now + 100 * (i + 1)
                os.utime(os.path.join(in_dir, f), (t, t))

    state = str(tmp_path / "comp_state")
    ckpt = str(tmp_path / "comp_ckpt")
    q = stream_components(spark, in_dir, state, ckpt)
    assert q.awaitTermination(240)

    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], ["src", "dst"])
    want = sorted((r.node, r.component) for r in
                  graph.weakly_connected_components(all_edges).collect())
    got = sorted((r.node, r.component)
                 for r in read_components(spark, state).collect())
    assert got == want
    assert dict(got)[6] == 0 and dict(got)[9] == 8

    q2 = stream_components(spark, in_dir, state, ckpt)
    assert q2.awaitTermination(240)
    assert sorted((r.node, r.component)
                  for r in read_components(spark, state).collect()) \
        == want

    with pytest.raises(ValueError, match="keep_snapshots"):
        stream_components(spark, in_dir, state, ckpt, keep_snapshots=1)


def test_stream_components_starts_on_empty_dir(spark, tmp_path):
    """With an explicit edge schema the stream starts before the first
    edge file lands; edges written later are picked up by the restart.
    Without one, an empty directory is refused with a clear error."""
    import os
    from legal_ner_spark.streaming.stream import (stream_components,
                                                  read_components)

    in_dir, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    os.makedirs(in_dir)
    with pytest.raises(ValueError, match="edge_schema"):
        stream_components(spark, in_dir, state, ckpt)
    schema = "src bigint, dst bigint"
    q = stream_components(spark, in_dir, state, ckpt, edge_schema=schema)
    assert q.awaitTermination(240)
    spark.createDataFrame([(3, 4), (4, 7)], schema) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_components(spark, in_dir, state, ckpt, edge_schema=schema)
    assert q.awaitTermination(240)
    assert sorted((r.node, r.component) for r in
                  read_components(spark, state).collect()) \
        == [(3, 3), (4, 3), (7, 3)]


def test_select_landmarks_chain_and_disconnected(spark):
    """5-chain: seed 0 → farthest 4 → midpoint 2.  Disconnected
    {0-1},{5-6}: unreached counts as infinitely far (5 picked second),
    then the d=1 tie breaks to the min id (1)."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  ["src", "dst"])
    got = sorted((r.node, r.sel_order)
                 for r in graph.select_landmarks(chain, k=3,
                                                 max_depth=6).collect())
    assert got == [(0, 0), (2, 2), (4, 1)]

    disc = spark.createDataFrame([(0, 1), (5, 6)], ["src", "dst"])
    got = sorted((r.node, r.sel_order)
                 for r in graph.select_landmarks(disc, k=3,
                                                 max_depth=6).collect())
    assert got == [(0, 0), (1, 2), (5, 1)]


def test_sampled_triangle_estimator_contract(spark):
    """DOULION sampling is a deterministic md5 coin: the same K12
    yields the same thinned graph twice, its triangles are a subset of
    the exact ones, and the estimate is exactly 64x the sampled
    count (p = 1/4, 1/p^3)."""
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{j:02d}") for i in range(12)
         for j in range(i + 1, 12)], ["src", "dst"])
    keep = (F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("src"), F.col("dst"))), 1, 8), 16, 10)
        .cast("bigint") % 4 == 0)
    s1 = sorted(map(tuple, edges.filter(keep).collect()))
    s2 = sorted(map(tuple, edges.filter(keep).collect()))
    assert s1 == s2 and 0 < len(s1) < 66
    tri_s = set(map(tuple, graph.triangles(
        spark.createDataFrame(s1, ["src", "dst"])).collect()))
    tri_x = set(map(tuple, graph.triangles(edges).collect()))
    assert len(tri_x) == 220 and tri_s <= tri_x


def test_pagerank_weighted_contract(spark):
    """Uniform weights reduce to the unweighted operator (same ranks
    to 1e-9), total mass stays 1, a heavier edge pulls rank toward its
    target, and non-positive weights are refused."""
    tri = spark.createDataFrame(
        [("a", "cites", "b", "d"), ("b", "cites", "c", "d"),
         ("c", "cites", "a", "d"), ("a", "cites", "c", "d")],
        ["subj", "pred", "obj", "doc_id"])
    uw = {r.node: r.rank for r in graph.pagerank(
        tri, n_iter=6).collect()}
    e1 = tri.select(F.col("subj").alias("src"),
                    F.col("obj").alias("dst"),
                    F.lit(2.0).alias("weight"))
    ww = {r.node: r.rank for r in graph.pagerank_weighted(
        e1, n_iter=6).collect()}
    assert ww == uw
    assert abs(sum(ww.values()) - 1.0) < 1e-4
    skew = e1.withColumn("weight", F.when(
        (F.col("src") == "a") & (F.col("dst") == "c"), F.lit(99.0))
        .otherwise(F.lit(1.0)))
    ws = {r.node: r.rank for r in graph.pagerank_weighted(
        skew, n_iter=6).collect()}
    assert ws["c"] > ww["c"] and ws["b"] < ww["b"]
    with pytest.raises(ValueError, match="positive"):
        graph.pagerank_weighted(e1.withColumn("weight", F.lit(0.0)))


def test_katz_counts_weighted_paths(spark):
    """Chain a→b→c with α=0.1, 3 rounds: closed form —
    katz(c) = 1 + α·katz(b) = 1 + α(1 + α·katz(a)) = 1.11,
    katz(a) = 1 (nothing cites it).  A second citer of c adds
    exactly α more."""
    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    got = {r.node: r.score for r in graph.katz(e, alpha=0.1,
                                               n_iter=3).collect()}
    assert got == {"a": 1.0, "b": 1.1, "c": 1.11}
    e2 = spark.createDataFrame([("a", "b"), ("b", "c"), ("z", "c")],
                               ["src", "dst"])
    got2 = {r.node: r.score for r in graph.katz(e2, alpha=0.1,
                                                n_iter=3).collect()}
    assert got2["c"] == round(got["c"] + 0.1, 6)


def test_community_quality_metrics_exact(spark):
    """Two triangles + a bridge: per-community e_in/vol/cut/q_scaled
    recomputed in Python from the operator's own labels must match,
    and the global identities Σvol = 2m, Σe_in + Σcut/2 = m hold."""
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    comm = {r.node: r.community
            for r in graph.lpa_communities(e, n_iter=1).collect()}
    m = len(edges)
    import collections
    ein = collections.Counter()
    vol = collections.Counter()
    nn = collections.Counter()
    deg = collections.Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
        if comm[a] == comm[b]:
            ein[comm[a]] += 1
    for v, c in comm.items():
        vol[c] += deg[v]
        nn[c] += 1
    want = sorted((c, nn[c], ein[c], vol[c], vol[c] - 2 * ein[c],
                   4 * m * ein[c] - vol[c] ** 2) for c in nn)

    lab = spark.createDataFrame(list(comm.items()),
                                ["node", "community"])
    # rebuild the query shape over raw frames
    la = lab.select(F.col("node").alias("src"),
                    F.col("community").alias("ca"))
    lb = lab.select(F.col("node").alias("dst"),
                    F.col("community").alias("cb"))
    je = e.join(la, "src").join(lb, "dst")
    got_ein = {r.ca: r.n for r in
               je.filter("ca = cb").groupBy("ca")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got_ein == {c: v for c, v in ein.items()}
    assert sum(vol.values()) == 2 * m
    assert sum(ein.values()) + sum(
        vol[c] - 2 * ein[c] for c in nn) // 2 == m
    assert all(q <= 4 * m * m for (_, _, _, _, _, q) in want)


def test_seeded_label_propagation_contract(spark):
    """Seeds are immutable, majorities decide, ties break to the
    smaller label, unreached nodes stay unlabelled, and conflicting
    seeds are refused.  Star: seeds a=X, b=X, c=Y all touch hub h →
    h gets X (2 vs 1); spoke s off h gets X at round 2; isolated
    island (i-j, no seeds) stays unlabelled."""
    edges = [("a", "h"), ("b", "h"), ("c", "h"), ("h", "s"),
             ("i", "j")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y")], ["node", "label"])
    got = {r.node: r.label
           for r in graph.seeded_label_propagation(
               e, seeds, n_iter=2).collect()}
    assert got == {"a": "X", "b": "X", "c": "Y", "h": "X", "s": "X"}
    with pytest.raises(ValueError, match="conflicting"):
        graph.seeded_label_propagation(
            e, spark.createDataFrame([("a", "X"), ("a", "Y")],
                                     ["node", "label"]))
