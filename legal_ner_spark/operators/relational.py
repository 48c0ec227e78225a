"""DataFrame-native (order-insensitive) forms of the reference's matching /
clustering operators — the documented scale-out alternatives to the per-doc
greedy pandas stage (SURVEY.md §2.3).

The fused pandas stage is the parity path (bit-exact greedy semantics); the
operators here are the forms you reach for when a future corpus breaks the
"tens of entities per doc" assumption: pure joins + windows + iterative
joins, no Python in the loop, every shuffle keyed by doc_id (or constant-size
cluster labels), AQE-skew-splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import statute_canon, normalize_entity_text


def nearest_prior_provision_link(mentions: DataFrame) -> DataFrame:
    """Relational statute↔provision pairing: per (doc, sentence), each
    STATUTE takes the nearest preceding PROVISION
    (postprocessing_utils.py:374-387 without the greedy 'pop': when two
    statutes compete for one provision the reference consumes it
    first-come; this form lets both claim it — divergence documented, the
    parity path is the pandas stage)."""
    sta = (mentions.filter(F.col("label") == "STATUTE")
           .select("doc_id", "sent_id",
                   F.col("ent_id").alias("statute_ent_id"),
                   F.col("text").alias("statute_text"),
                   F.col("start_char").alias("sta_start")))
    pro = (mentions.filter(F.col("label") == "PROVISION")
           .select(F.col("doc_id").alias("pdoc"), F.col("sent_id").alias("psent"),
                   F.col("ent_id").alias("provision_ent_id"),
                   F.col("text").alias("provision_text"),
                   F.col("end_char").alias("pro_end")))
    j = sta.join(pro, (F.col("doc_id") == F.col("pdoc"))
                 & (F.col("sent_id") == F.col("psent"))
                 & (F.col("pro_end") <= F.col("sta_start")))
    w = Window.partitionBy("doc_id", "statute_ent_id").orderBy(
        F.desc("pro_end"), F.desc("provision_ent_id"))
    return (j.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("doc_id", "statute_ent_id", "statute_text",
                    "provision_ent_id", "provision_text",
                    statute_canon(F.col("statute_text")).alias("canonical_statute")))


def exact_name_role_join(mentions: DataFrame) -> DataFrame:
    """map_exact_other_person (postprocessing_utils.py:221-247) as a
    self-join: OTHER_PERSON relabels to the unique label of same-normalized-
    text entities when that label is a person role."""
    norm = mentions.withColumn("norm", normalize_entity_text(F.col("text")))
    other = (norm.filter(F.col("label") == "OTHER_PERSON")
             .select("doc_id", "ent_id", "text", "norm"))
    rest = (norm.filter(F.col("label") != "OTHER_PERSON")
            .select(F.col("doc_id").alias("rdoc"), F.col("norm").alias("rnorm"),
                    F.col("label").alias("rlabel")))
    agg = (rest.groupBy("rdoc", "rnorm")
           .agg(F.countDistinct("rlabel").alias("n_labels"),
                F.min("rlabel").alias("the_label")))
    joined = other.join(
        agg, (other.doc_id == agg.rdoc) & (other.norm == agg.rnorm), "left")
    role = (F.col("n_labels") == 1) & F.col("the_label").isin(
        "PETITIONER", "RESPONDENT", "JUDGE", "WITNESS", "LAWYER")
    return joined.select(
        "doc_id", "ent_id", "text",
        F.when(role, F.col("the_label")).otherwise(F.lit("OTHER_PERSON"))
        .alias("resolved_label"))


def precedent_edges(mentions: DataFrame, threshold: int = 5) -> DataFrame:
    """Similarity edges between PRECEDENT mentions of one document:
    Levenshtein(petitioner)<t AND Levenshtein(respondent)<t, or citation
    equality — the reference's greedy absorption criteria
    (postprocessing_utils.py:100-116) as a symmetric relation.
    ``F.levenshtein`` is JVM-native; the join is keyed by doc_id only."""
    from ..functions.text import VS_RE, CIT_RE, PRE_CIT_RE, PRE_VS_RE

    # lazy-prefix extraction = match.start() semantics (see functions/
    # text.py: an instr() on the matched string splits at an earlier
    # literal occurrence)
    pre = (mentions.filter(F.col("label") == "PRECEDENT")
           .withColumn("cit", F.regexp_extract("text", CIT_RE, 0))
           .withColumn("body", F.when(F.col("cit") == "", F.col("text"))
                       .otherwise(F.regexp_extract("text", PRE_CIT_RE, 1)))
           .withColumn("vs", F.regexp_extract("body", VS_RE, 0))
           .withColumn("pet", F.when(F.col("vs") == "", F.lit(None)).otherwise(
               F.trim(F.regexp_extract("body", PRE_VS_RE, 1))))
           .withColumn("res", F.when(F.col("vs") == "", F.lit(None)).otherwise(
               F.trim(F.regexp_replace("body", PRE_VS_RE, ""))))
           .select("doc_id", "ent_id", "text", "pet", "res", "cit"))
    b = pre.select(F.col("doc_id").alias("bdoc"), F.col("ent_id").alias("bent"),
                   F.col("pet").alias("bpet"), F.col("res").alias("bres"),
                   F.col("cit").alias("bcit"))
    # 3-arg levenshtein (Spark ≥3.5) early-exits once the banded DP
    # exceeds the bound — same result as `levenshtein(a,b) < threshold`
    # (≥0 iff distance ≤ threshold-1), mirroring the bounded DP the
    # Python core uses, at a fraction of the comparator cost on long
    # non-matching names
    sim = ((F.levenshtein("pet", "bpet", threshold - 1) >= 0)
           & (F.levenshtein("res", "bres", threshold - 1) >= 0))
    cit_eq = (F.col("cit") != "") & (F.col("cit") == F.col("bcit"))
    return (pre.join(b, (F.col("doc_id") == F.col("bdoc"))
                     & (F.col("ent_id") < F.col("bent"))
                     & (sim | cit_eq))
            .select("doc_id", F.col("ent_id").alias("src"),
                    F.col("bent").alias("dst")))


def token_overlap_edges(mentions: DataFrame,
                        jaccard_threshold: float = 0.5) -> DataFrame:
    """Token-set Jaccard similarity edges between PRECEDENT mentions of one
    document — the 'token-overlap connected components' variant the
    north_star names alongside the Levenshtein form.  Relational shape:
    explode distinct lowercase tokens, self-join on (doc_id, token) (never
    an all-pairs cross join — candidate pairs must share ≥1 token), count
    the intersection, Jaccard against the union.  Feed the edges to
    ``connected_components``."""
    pre = (mentions.filter(F.col("label") == "PRECEDENT")
           .select("doc_id", "ent_id",
                   F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
                   .alias("toks"))
           .filter(F.size("toks") > 0))
    toks = pre.select("doc_id", "ent_id", F.explode("toks").alias("tok"))
    sizes = pre.select("doc_id", "ent_id", F.size("toks").alias("n"))
    b = toks.select(F.col("doc_id").alias("bdoc"),
                    F.col("ent_id").alias("bent"), F.col("tok").alias("btok"))
    inter = (toks.join(b, (F.col("doc_id") == F.col("bdoc"))
                       & (F.col("ent_id") < F.col("bent"))
                       & (F.col("tok") == F.col("btok")))
             .groupBy("doc_id", "ent_id", "bent")
             .agg(F.count("*").alias("inter")))
    sa = sizes.withColumnRenamed("ent_id", "ent_id").withColumnRenamed("n", "na")
    sb = sizes.select(F.col("doc_id").alias("sdoc"),
                      F.col("ent_id").alias("bent2"), F.col("n").alias("nb"))
    return (inter.join(sa, ["doc_id", "ent_id"])
            .join(sb, (F.col("doc_id") == F.col("sdoc"))
                  & (F.col("bent") == F.col("bent2")))
            .withColumn("jaccard",
                        F.col("inter") / (F.col("na") + F.col("nb")
                                          - F.col("inter")))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("doc_id", F.col("ent_id").alias("src"),
                    F.col("bent").alias("dst")))


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Label-propagation connected components over (doc_id, src, dst) edges:
    each vertex converges to the minimum ent_id of its component.

    Iterative join plan (GraphFrames-style): per iteration one shuffle on
    (doc_id, vertex); labels are ints, AQE coalesces the tiny post-filter
    exchanges.  Each round applies neighbour-min, a POINTER JUMP (min
    with the current label's own label — path halving) AND a
    reverse-pointer hub update (each label value learns the min
    candidate of its pointees — see graph.weakly_connected_components
    for why the jump alone stalls on star-labelled chains), so rounds
    scale with log(diameter) rather than diameter; the convergence flag
    is materialized into the truncated frame, so the per-round probe
    scans tiny checkpointed blocks instead of running an old-vs-new join.

    ``checkpoint_dir``: when set, lineage truncation is a durable
    parquet round-trip (cluster-safe; localCheckpoint blocks die with
    their executor) — identical output.

    Raises RuntimeError if propagation has not converged after
    ``max_iter`` iterations (a component whose diameter exceeds the cap
    would otherwise be silently emitted fragmented — wrong clusters
    without any signal)."""
    from ..plans.checkpoint import Truncator
    trunc = Truncator(checkpoint_dir)
    sym = trunc(edges.select("doc_id", "src", "dst")
                .union(edges.select("doc_id", F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
                .select(F.col("doc_id").alias("e_doc"), "src", "dst"),
                "sym")  # break lineage to the source DF —
    # avoids self-join ambiguity when edges and vertices derive from the
    # same mentions frame, and keeps the per-iteration plan flat
    labels = trunc(vertices.select("doc_id", F.col("ent_id").alias("v"),
                                   F.col("ent_id").alias("comp")),
                   "labels_init")
    converged = False
    for _ in range(max_iter):
        nbr_min = (sym.join(labels, (F.col("e_doc") == F.col("doc_id"))
                            & (F.col("dst") == F.col("v")))
                   .select(F.col("e_doc").alias("doc_id"),
                           F.col("src").alias("v"),
                           F.col("comp").alias("nbr_comp"))
                   .groupBy("doc_id", "v")
                   .agg(F.min("nbr_comp").alias("nbr_comp")))
        cand0 = (labels.join(nbr_min, ["doc_id", "v"], "left")
                 .select("doc_id", "v", F.col("comp").alias("old"),
                         F.least(F.col("comp"),
                                 F.coalesce("nbr_comp", F.col("comp")))
                         .alias("c0")))
        ptr = labels.select(F.col("doc_id").alias("p_doc"),
                            F.col("v").alias("pv"),
                            F.col("comp").alias("pcomp"))
        cand1 = (cand0.join(ptr, (F.col("doc_id") == F.col("p_doc"))
                            & (F.col("c0") == F.col("pv")), "left")
                 .select("doc_id", "v", "old",
                         F.least(F.col("c0"),
                                 F.coalesce("pcomp", F.col("c0")))
                         .alias("c1")))
        # reverse-pointer hub update (see graph.weakly_connected_components)
        hub = (cand1.groupBy(F.col("doc_id").alias("h_doc"),
                             F.col("old").alias("h"))
               .agg(F.min("c1").alias("h_min")))
        new_comp = F.least(F.col("c1"), F.coalesce("h_min", F.col("c1")))
        updated = trunc(
            cand1.join(hub, (F.col("doc_id") == F.col("h_doc"))
                       & (F.col("old") == F.col("h")), "left")
            .select("doc_id", "v", new_comp.alias("comp"),
                    (F.col("old") != new_comp).alias("changed")),
            "labels")
        labels = updated.select("doc_id", "v", "comp")
        if updated.filter("changed").limit(1).count() == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — raise max_iter (components need ~log(diameter) "
            "rounds of pointer-jumped min-label propagation)")
    return labels.select("doc_id", F.col("v").alias("ent_id"),
                         F.col("comp").alias("cluster_id"))


def precedent_clusters_cc(mentions: DataFrame, threshold: int = 5) -> DataFrame:
    """Distributed precedent coreference: similarity edges → connected
    components → head = longest member (token count, first-wins →
    min ent_id among longest).  The order-free counterpart of the greedy
    clustering; multi-member components only, like
    postprocessing_utils.py:186-188."""
    # token_len parity with the greedy path: Python str.split() ignores
    # leading/trailing whitespace and gives 0 for empty — trim + guard
    # (a bare split('\s+') counts a phantom empty token on padded text)
    token_len = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+")))
    verts = (mentions.filter(F.col("label") == "PRECEDENT")
             .select("doc_id", "ent_id", "text", token_len.alias("token_len")))
    comp = connected_components(precedent_edges(mentions, threshold),
                                verts.select("doc_id", "ent_id"))
    members = verts.join(comp, ["doc_id", "ent_id"])
    sizes = (members.groupBy("doc_id", "cluster_id")
             .agg(F.count("*").alias("n_members")))
    multi = members.join(sizes.filter("n_members > 1"), ["doc_id", "cluster_id"])
    w = Window.partitionBy("doc_id", "cluster_id").orderBy(
        F.desc("token_len"), F.asc("ent_id"))
    heads = (multi.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
             .select("doc_id", "cluster_id", F.col("text").alias("head")))
    return (multi.join(heads, ["doc_id", "cluster_id"])
            .select("doc_id", "cluster_id", "head",
                    F.col("text").alias("member"), "ent_id"))


def interval_join(intervals: DataFrame, points: DataFrame,
                  start_col: str, end_col: str, ts_col: str,
                  bin_seconds: int = 3600) -> DataFrame:
    """Pure range join (no shared key): pair every interval
    [start, end) with every point whose timestamp falls inside it —
    the shape Spark would otherwise plan as a BroadcastNestedLoopJoin /
    CartesianProduct, which is O(|L|·|R|) and unrunnable at 10^12 rows.

    Binned equi-join strategy: quantize time into ``bin_seconds`` bins;
    an interval is exploded to the bins it covers, a point belongs to
    exactly ONE bin, and the join becomes an equi-join on the bin id
    followed by the exact range predicate.  Each qualifying pair is
    produced exactly once (the point side is never exploded), so no
    dedup pass is needed.

    Scale calculus: candidate volume = Σ|interval|/bin · points-per-bin;
    ``bin_seconds`` trades interval fan-out (len/bin rows per interval)
    against bin selectivity (points per bin) — set it near the median
    interval length.  A burst bin is ordinary equi-join skew: AQE
    skew-split handles it, no custom salting needed.  Columns from both
    inputs are preserved (callers project first to keep shuffle width
    down)."""
    def secs(df, col):
        # TIMESTAMP_NTZ has no direct double cast (Spark 4); route through
        # TIMESTAMP — both sides reinterpret in the same session tz, and
        # binning only needs a consistent monotonic epoch
        c = F.col(col)
        if dict(df.dtypes)[col].startswith("timestamp"):
            c = c.cast("timestamp")
        return c.cast("double")

    iv = intervals.withColumn(
        "_bin", F.explode(F.sequence(
            F.floor(secs(intervals, start_col) / bin_seconds).cast("bigint"),
            F.floor(secs(intervals, end_col) / bin_seconds).cast("bigint"))))
    pt = points.withColumn(
        "_bin", F.floor(secs(points, ts_col) / bin_seconds).cast("bigint"))
    return (iv.join(pt, "_bin")
            .filter((F.col(ts_col) >= F.col(start_col))
                    & (F.col(ts_col) < F.col(end_col)))
            .drop("_bin"))


def skyline_2d(df: DataFrame, d1: str, d2: str,
               n_buckets: int = 256) -> DataFrame:
    """Exact 2-D skyline (Pareto frontier, both dimensions maximized)
    WITHOUT the quadratic dominance join and WITHOUT a global window:
    a row is dominated iff (a) some row with a STRICTLY larger d1 has
    d2 ≥ its d2, or (b) some OTHER row with the same d1 has a strictly
    larger d2.  (a) is a running strict-prefix max of d2 over
    descending d1, decomposed hub-safely: range-bucket d1 by a one-row
    max probe (≤``n_buckets`` buckets), take per-bucket maxes, fold
    the tiny bucket table with an exclusive cummax window, and inside
    each bucket use a RANGE frame (``rangeBetween`` on integer d1, so
    ties are excluded exactly); (b) is one groupBy(d1) max joined
    back.  Work: two keyed shuffles + one ≤n_buckets window — the
    standard distributed-skyline local/global split expressed
    declaratively.  ``d1`` must be integral (the strict RANGE frame
    needs unit steps); ``d2`` may be any orderable numeric — negative
    and fractional values compare as given.  Extend to k dims by
    iterating: skyline(k) ⊆ skyline on any 2 of the dims."""
    d = df.withColumn("_d1", F.col(d1).cast("bigint")) \
          .withColumn("_d2", F.col(d2))
    mx = d.agg(F.max("_d1").alias("m")).collect()[0][0]
    if mx is None:
        return df.limit(0)
    width = max(1, (int(mx) // n_buckets) + 1)
    d = d.withColumn("_bk", F.floor(F.col("_d1") / width))
    bmax = d.groupBy("_bk").agg(F.max("_d2").alias("_bm"))
    whigh = (Window.orderBy(F.desc("_bk"))
             .rowsBetween(Window.unboundedPreceding, -1))
    # ≤ n_buckets rows: the only unpartitioned window, by construction
    boff = bmax.withColumn("_hi", F.max("_bm").over(whigh))
    wstrict = (Window.partitionBy("_bk").orderBy(F.desc("_d1"))
               .rangeBetween(Window.unboundedPreceding, -1))
    ties = d.groupBy("_d1").agg(F.max("_d2").alias("_tm"),
                                F.count(F.lit(1)).alias("_tc"))
    out = (d.withColumn("_s1", F.max("_d2").over(wstrict))
           .join(F.broadcast(boff.select("_bk", "_hi")), "_bk")
           .join(ties, "_d1")
           # null-safe: a null _s1/_hi means no row with a larger d1
           # exists, which dominates nothing whatever the sign of d2
           .withColumn("_dom1",
                       F.coalesce(F.col("_s1") >= F.col("_d2"), F.lit(False))
                       | F.coalesce(F.col("_hi") >= F.col("_d2"),
                                    F.lit(False)))
           .withColumn("_dom2", F.col("_tm") > F.col("_d2"))
           .filter(~F.col("_dom1") & ~F.col("_dom2")))
    return out.drop("_d1", "_d2", "_bk", "_s1", "_hi", "_tm", "_tc",
                    "_dom1", "_dom2")
