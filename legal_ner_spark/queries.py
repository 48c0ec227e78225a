"""Driver-contract query suite: one entry per operator family, each with a
DuckDB oracle (ANSI SQL) where SQL-expressible.

Parity strategy: KG scalar operators (SURVEY.md §2.2) run over inline VALUES
fixtures generated from the same Python constants on both sides, so the
Spark query and its oracle cannot drift; join/window/agg operators run over
the driver parquet tables; the order-sensitive full KG pipeline runs
rows-only (no SQL form exists — SURVEY.md §2.3).

Every computed column is aliased identically in the Spark plan and the SQL.
Floating aggregates are rounded (4 dp; 2 dp for currency sums) so the two
engines' summation orders cannot flip the value hash.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.postprocess import STATUTE_CANON
from .functions.text import statute_canon, normalize_entity_text, VS_RE, CIT_RE
from . import synth
from .operators import extract as ops

# --------------------------------------------------------------------------
# fixtures — single source of truth for Spark AND oracle VALUES
# --------------------------------------------------------------------------

STATUTE_FIXTURES = [
    "I.P.C", "IPC", "Indian Penal Code", "Penal code",
    "Code of Criminal Procedure", "Crpc", "Cr.P.C.", "Criminal Procedure Code",
    "Constitution of India", "Constitution", "constitution of india",
    "Income Tax Act", "I.T. Act", "Motor Vehicles Act", "M.V. act",
    "Industrial Disputes Act", "I.D. Act", "sarfaesi act", "SARFAESI Act",
    "Evidence Act", "Arbitration and Conciliation Act", "",
    # repeats for the frequency aggregation (README.md:265 example shape)
    "IPC", "IPC", "Crpc", "Crpc", "Crpc", "Constitution",
]

PRECEDENT_FIXTURES = [
    "Madhu Limaye vs State of Mahrashtra 2016 AIR 54",
    "Madhu Limaye v. State of Maharashtra",
    "Amit Kumar versus State of Kerala (2005) 4 SCC 120",
    "Sunil Verma v/s Union of India AIR 1978 SC 597",
    "State of Punjab v. Phil Rani and Anr",
    "2001 SCC 5",
    "Ramesh Patil",
    # adversarial: 'vs' appears literally inside the petitioner before the
    # real separator — regression guard for match-position (not instr) split
    "Avs Corporation vs State of Punjab",
    # adversarial: newline inside the petitioner before the separator —
    # regression guard for the dotall lazy prefix ('.' excludes \n in
    # Java/RE2; the core's match.start() slicing is newline-safe)
    "Rakesh\nSharma vs State of Goa 1999 AIR 12",
]

NAME_FIXTURES = [
    "amit kumar @ raju", "sunil verma alias bablu", "ravi shankar",
    "meena kavita sharma", "rajesh", "prakash @ pk alias lambu",
]

TEXT_FIXTURES = [
    "  Amit   KUMAR, s/o  Rajesh ", "State of  Maharashtra,,",
    "plain text", "", "A,B ,  C",
    # whitespace other than spaces at the ends ('\v' is left out: RE2's
    # \s, the DuckDB oracle's, does not match it)
    "\tA", "B\n", "\r\n C \t D\r",
]

PREAMBLE_FIXTURES = [
    "IN THE COURT\nX .... Y\n\nJUDGMENT\nbody text here",
    "PARTIES\nORDER\nmore",
    "COMMON ORDER was passed",
    "no keyword at all",
    "header J U D G M E N T trailer",
]

COMPOUND_FIXTURES = [
    "Sections 147, 148 and 149", "Section 302", "Articles 14 and 21",
    "Sections 34/120B", "Section 5 read with rules",
]

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _values_sql(rows: list[str], col: str = "text") -> str:
    vals = ", ".join(f"({_sql_quote(r)})" for r in rows)
    return f"(VALUES {vals}) AS fx({col})"


def _fixture_df(spark: SparkSession, rows: list[str], col: str = "text"):
    return spark.createDataFrame([(r,) for r in rows], [col])


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _ckpt_dir(spark: SparkSession) -> str | None:
    """Durable lineage-truncation directory for the ITERATIVE query
    wrappers (WCC/PageRank/HITS/k-truss/LPA/walk chains).  Unset
    (default), the operators truncate via ``localCheckpoint`` — fine
    single-node, but blocks die with their executor on a real cluster,
    re-running the whole iteration chain on executor loss.  Set

        spark.conf.set("spark.legal_ner.checkpointDir", "hdfs://...")

    (or pass it at session build / spark-submit --conf) and every
    iterative wrapper round-trips its per-round state through durable
    parquet under a per-invocation subdirectory instead — the
    cluster-safe mode the operators have always exposed as
    ``checkpoint_dir``; this config is how the QUERY layer reaches it.
    Results are identical either way (pinned by the operators' durable
    -equality tests).

    RETENTION: each invocation's uuid subdirectory is disposable the
    moment its query result is materialized — nothing here deletes
    them (the parquet round-trips must outlive the returned lazy
    DataFrame, so the query layer cannot know when).  Point the config
    at a scratch location with a TTL/lifecycle policy (the standard
    checkpoint-dir practice), or sweep <base>/* on a schedule."""
    base = spark.conf.get("spark.legal_ner.checkpointDir", None)
    if not base:
        return None
    import uuid
    # unique per invocation: Truncator numbers its round-trips within
    # one instance, so two queries sharing a literal dir would
    # overwrite each other's rounds
    return f"{base.rstrip('/')}/{uuid.uuid4().hex}"


# --------------------------------------------------------------------------
# §2.2 scalar operators over fixtures
# --------------------------------------------------------------------------

def q_statute_canon(spark, sf_dir):
    """check_stat dictionary as a constant-folded CASE chain
    (postprocessing_utils.py:591-622)."""
    return (_fixture_df(spark, STATUTE_FIXTURES)
            .select("text", statute_canon(F.col("text")).alias("canonical"))
            .distinct())


def o_statute_canon():
    when = " ".join(
        f"WHEN regexp_matches(text, {_sql_quote(pat)}) THEN {_sql_quote(canon)}"
        for pat, canon in STATUTE_CANON)
    return (f"SELECT DISTINCT text, CASE {when} ELSE '' END AS canonical "
            f"FROM {_values_sql(STATUTE_FIXTURES)}")


def q_statute_canon_freq(spark, sf_dir):
    """Canonical-statute frequency (README.md:265 shape) with the empty
    bucket dropped — unique_statute_count semantics."""
    return (_fixture_df(spark, STATUTE_FIXTURES)
            .select(statute_canon(F.col("text")).alias("canonical"))
            .filter(F.col("canonical") != "")
            .groupBy("canonical")
            .agg(F.count("*").cast("bigint").alias("freq")))


def o_statute_canon_freq():
    when = " ".join(
        f"WHEN regexp_matches(text, {_sql_quote(pat)}) THEN {_sql_quote(canon)}"
        for pat, canon in STATUTE_CANON)
    return (f"SELECT canonical, count(*)::BIGINT AS freq FROM ("
            f"SELECT CASE {when} ELSE '' END AS canonical "
            f"FROM {_values_sql(STATUTE_FIXTURES)}) "
            f"WHERE canonical <> '' GROUP BY canonical")


from .functions.text import PRE_CIT_RE, PRE_VS_RE


def q_precedent_split(spark, sf_dir):
    """split_precedents (postprocessing_utils.py:121-143): citation prefix
    cut at the citation MATCH position, then vs-split at the vs MATCH
    position into petitioner/respondent."""
    df = _fixture_df(spark, PRECEDENT_FIXTURES)
    df = df.withColumn("cit", F.regexp_extract("text", CIT_RE, 0))
    df = df.withColumn(
        "body", F.when(F.col("cit") == "", F.col("text"))
        .otherwise(F.regexp_extract("text", PRE_CIT_RE, 1)))
    df = df.withColumn("vs", F.regexp_extract("body", VS_RE, 0))
    return df.select(
        "text",
        F.when(F.col("vs") == "", F.lit(None)).otherwise(
            F.trim(F.regexp_extract("body", PRE_VS_RE, 1))).alias("pet"),
        F.when(F.col("vs") == "", F.lit(None)).otherwise(
            F.trim(F.regexp_replace("body", PRE_VS_RE, ""))).alias("res"),
        "cit")


def o_precedent_split():
    return f"""
WITH base AS (
  SELECT text, regexp_extract(text, {_sql_quote(CIT_RE)}, 0) AS cit
  FROM {_values_sql(PRECEDENT_FIXTURES)}
), body AS (
  SELECT text, cit,
         CASE WHEN cit = '' THEN text
              ELSE regexp_extract(text, {_sql_quote(PRE_CIT_RE)}, 1) END AS body
  FROM base
), vs AS (
  SELECT text, cit, body,
         regexp_extract(body, {_sql_quote(VS_RE)}, 0) AS vs
  FROM body
)
SELECT text,
       CASE WHEN vs = '' THEN NULL
            ELSE trim(regexp_extract(body, {_sql_quote(PRE_VS_RE)}, 1)) END AS pet,
       CASE WHEN vs = '' THEN NULL
            ELSE trim(regexp_replace(body, {_sql_quote(PRE_VS_RE)}, '')) END AS res,
       cit
FROM vs"""


def q_alias_split(spark, sf_dir):
    """check_alias (postprocessing_utils.py:250-262): explode on @|alias."""
    return (_fixture_df(spark, NAME_FIXTURES, "name")
            .select("name", F.explode(F.expr(
                "transform(split(name, '@|alias'), x -> trim(x))")).alias("part")))


def o_alias_split():
    return (f"SELECT name, trim(unnest(str_split_regex(name, '@|alias'))) AS part "
            f"FROM {_values_sql(NAME_FIXTURES, 'name')}")


def q_name_separate(spark, sf_dir):
    """separate_name (postprocessing_utils.py:265-278) columnar form:
    last token + rest for multi-token names."""
    df = _fixture_df(spark, NAME_FIXTURES, "name")
    parts = F.split("name", " ")
    multi = F.size(parts) > 1
    return df.select(
        "name",
        F.when(multi, F.element_at(parts, -1)).otherwise(F.col("name"))
        .alias("last_name"),
        F.when(multi, F.array_join(F.slice(parts, 1, F.size(parts) - 1), " "))
        .otherwise(F.lit(None)).alias("rest_name"))


def o_name_separate():
    return f"""
SELECT name,
       CASE WHEN len(string_split(name, ' ')) > 1
            THEN string_split(name, ' ')[-1] ELSE name END AS last_name,
       CASE WHEN len(string_split(name, ' ')) > 1
            THEN array_to_string(string_split(name, ' ')[1:len(string_split(name,' '))-1], ' ')
            ELSE NULL END AS rest_name
FROM {_values_sql(NAME_FIXTURES, 'name')}"""


def q_normalize_text(spark, sf_dir):
    """Text normalization (postprocessing_utils.py:224-226)."""
    return (_fixture_df(spark, TEXT_FIXTURES)
            .select("text", normalize_entity_text(F.col("text")).alias("norm")))


def o_normalize_text():
    return (r"SELECT text, lower(replace(trim(regexp_replace(text, '\s+', ' ', 'g')), ',', '')) AS norm "
            f"FROM {_values_sql(TEXT_FIXTURES)}")


# single source of truth — the engine's own ordered keyword list (first
# match wins); a local copy here would silently desynchronize the
# relational query + oracle from the actual preamble split
from .core.preamble import PREAMBLE_END_KEYWORDS as _KEYWORDS


def q_preamble_keyword(spark, sf_dir):
    """Keyword-anywhere preamble offset (data_preparation.py:47-53):
    ordered first match, offset = match end."""
    expr = F.lit(0)
    for kw in reversed(_KEYWORDS):
        pos = F.instr(F.col("text"), kw)
        expr = F.when(pos > 0, pos - 1 + len(kw)).otherwise(expr)
    return (_fixture_df(spark, PREAMBLE_FIXTURES)
            .select("text", expr.cast("int").alias("kw_end")))


def o_preamble_keyword():
    cases = " ".join(
        f"WHEN instr(text, {_sql_quote(kw)}) > 0 "
        f"THEN instr(text, {_sql_quote(kw)}) - 1 + {len(kw)}"
        for kw in _KEYWORDS)
    return (f"SELECT text, (CASE {cases} ELSE 0 END)::INT AS kw_end "
            f"FROM {_values_sql(PREAMBLE_FIXTURES)}")


def q_compound_split(spark, sf_dir):
    """seperate_provision (postprocessing_utils.py:786-821) relational form:
    split compound provisions, singularize the keyword, keep offsets out
    (char bookkeeping lives in the pandas stage)."""
    df = _fixture_df(spark, COMPOUND_FIXTURES)
    df = df.withColumn("segs", F.split("text", ",|and|/|or|&"))
    df = df.withColumn(
        "kw", F.regexp_replace(
            F.element_at(F.split(F.trim(F.element_at("segs", 1)), " "), 1),
            "s$", ""))
    df = df.withColumn("combined", F.expr(
        "exists(segs, s -> length(trim(s)) > 0 AND "
        "(trim(s) rlike '^[A-Za-z ]+$' AND NOT trim(s) rlike '[0-9]' "
        " OR trim(s) rlike '^[^0-9A-Za-z]'))"))
    single = df.filter((F.size("segs") == 1) | F.col("combined")).select(
        "text", F.col("text").alias("norm_provision"))
    split = (df.filter((F.size("segs") > 1) & ~F.col("combined"))
             .select("text", "kw", F.explode(F.expr(
                 "filter(transform(segs, s -> trim(s)), s -> length(s) > 0)"))
                 .alias("seg"))
             .select("text", F.when(
                 F.col("seg").rlike("^[0-9]"),
                 F.concat_ws(" ", "kw", "seg")).otherwise(
                 F.concat_ws(" ", "kw",
                             F.regexp_replace("seg", r"^\S+\s+", "")))
                 .alias("norm_provision")))
    return single.unionByName(split)


def o_compound_split():
    return f"""
WITH base AS (
  SELECT text, str_split_regex(text, ',|and|/|or|&') AS segs
  FROM {_values_sql(COMPOUND_FIXTURES)}
), kwd AS (
  SELECT text, segs,
         regexp_replace(string_split(trim(segs[1]), ' ')[1], 's$', '') AS kw,
         len(list_filter(segs, s -> length(trim(s)) > 0 AND
             ((regexp_matches(trim(s), '^[A-Za-z ]+$') AND NOT regexp_matches(trim(s), '[0-9]'))
              OR regexp_matches(trim(s), '^[^0-9A-Za-z]')))) > 0 AS combined
  FROM base
)
SELECT text, text AS norm_provision FROM kwd WHERE len(segs) = 1 OR combined
UNION ALL
SELECT text,
       CASE WHEN regexp_matches(seg, '^[0-9]') THEN kw || ' ' || seg
            ELSE kw || ' ' || regexp_replace(seg, '^\\S+\\s+', '') END AS norm_provision
FROM (
  SELECT text, kw, unnest(list_filter(list_transform(segs, s -> trim(s)),
                                      s -> length(s) > 0)) AS seg
  FROM kwd WHERE len(segs) > 1 AND NOT combined
)"""


# --------------------------------------------------------------------------
# §2.3 join/window analogues over the events table
# --------------------------------------------------------------------------

def q_nearest_prior_link(spark, sf_dir):
    """The statute↔provision sentence-window nearest-prior join
    (postprocessing_utils.py:374-387) as its relational form: every
    'purchase' pairs with the nearest preceding 'click' of the same user.
    Scale: shuffle on user_id only; AQE splits skewed users."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"))
    j = p.join(c, (p.user_id == c.cuser) & (c.cts <= p.pts))
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc("cts"), F.desc("click_id"))
    return (j.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("user_id", "purchase_id", "click_id"))


def o_nearest_prior_link():
    return """
SELECT user_id, purchase_id, click_id FROM (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM events p JOIN events c
    ON p.user_id = c.user_id AND c.ts <= p.ts
   AND p.event_type = 'purchase' AND c.event_type = 'click'
) WHERE rn = 1"""


def q_asof_last_before(spark, sf_dir):
    """Supra as-of join (postprocessing_utils.py:51-64): each 'error' event
    resolves to the last prior non-error event of the same user."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("ets"))
    o = ev.filter(F.col("event_type") != "error").select(
        F.col("user_id").alias("ouser"), F.col("event_id").alias("prior_id"),
        F.col("ts").alias("ots"))
    j = e.join(o, (e.user_id == o.ouser) & (o.ots < e.ets))
    w = Window.partitionBy("error_id").orderBy(F.desc("ots"), F.desc("prior_id"))
    return (j.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("user_id", "error_id", "prior_id"))


def o_asof_last_before():
    return """
SELECT user_id, error_id, prior_id FROM (
  SELECT e.user_id, e.event_id AS error_id, o.event_id AS prior_id,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.ts DESC, o.event_id DESC) AS rn
  FROM events e JOIN events o
    ON e.user_id = o.user_id AND o.ts < e.ts
   AND e.event_type = 'error' AND o.event_type <> 'error'
) WHERE rn = 1"""


def q_ambiguity_prune(spark, sf_dir):
    """remove_ambiguous_names (postprocessing_utils.py:281-298) shape: keys
    mapping to exactly one distinct label survive.  Keyed on
    (l_orderkey → l_returnflag): non-vacuous at EVERY test scale factor —
    the earlier o_custkey→o_orderstatus form returned 0 rows at sf0.001,
    making the parity check empty there."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (li.groupBy("l_orderkey")
            .agg(F.countDistinct("l_returnflag").alias("n_flags"),
                 F.min("l_returnflag").alias("the_flag"))
            .filter("n_flags = 1")
            .select(F.col("l_orderkey").alias("orderkey"), "the_flag"))


def o_ambiguity_prune():
    return ("SELECT l_orderkey AS orderkey, min(l_returnflag) AS the_flag "
            "FROM lineitem GROUP BY l_orderkey "
            "HAVING count(DISTINCT l_returnflag) = 1")


def q_cluster_head(spark, sf_dir):
    """set_main_cluster head selection (postprocessing_utils.py:162-167):
    max-by with deterministic tie-break."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("o_orderkey").alias("head_orderkey"),
                    F.round("o_totalprice", 2).alias("head_totalprice")))


def o_cluster_head():
    return """
SELECT custkey, head_orderkey, head_totalprice FROM (
  SELECT o_custkey AS custkey, o_orderkey AS head_orderkey,
         round(o_totalprice, 2) AS head_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1"""


def q_overlap_containment(spark, sf_dir):
    """remove_overlapping_entities' containment core
    (postprocessing_utils.py:338-353) relational form: drop intervals
    strictly contained in another interval of the same group."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber",
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(F.col("l_shipdate").cast("date"),
                   F.col("l_quantity").cast("int")).alias("e"))
        .distinct())  # (orderkey, linenumber) is not unique in this corpus
    other = li.select(F.col("l_orderkey").alias("ok2"),
                      F.col("l_linenumber").alias("ln2"),
                      F.col("s").alias("s2"), F.col("e").alias("e2"))
    return (li.join(other, (F.col("l_orderkey") == F.col("ok2"))
                    & (F.col("l_linenumber") != F.col("ln2"))
                    & (F.col("s2") <= F.col("s")) & (F.col("e2") >= F.col("e"))
                    & ((F.col("s2") < F.col("s")) | (F.col("e2") > F.col("e"))),
                    "left_anti")
            .select(F.col("l_orderkey").alias("orderkey"),
                    F.col("l_linenumber").alias("linenumber"),
                    F.col("s").cast("string").alias("start_date"),
                    F.col("e").cast("string").alias("end_date")))


def o_overlap_containment():
    return """
WITH iv AS (
  SELECT DISTINCT l_orderkey, l_linenumber, l_shipdate::DATE AS s,
         (l_shipdate::DATE + to_days(l_quantity::INT))::DATE AS e
  FROM lineitem
)
SELECT a.l_orderkey AS orderkey, a.l_linenumber AS linenumber,
       a.s::VARCHAR AS start_date, a.e::VARCHAR AS end_date
FROM iv a
WHERE NOT EXISTS (
  SELECT 1 FROM iv b
  WHERE b.l_orderkey = a.l_orderkey AND b.l_linenumber <> a.l_linenumber
    AND b.s <= a.s AND b.e >= a.e AND (b.s < a.s OR b.e > a.e))"""


# --------------------------------------------------------------------------
# TPC-H skeleton (joins/aggs the KG tables exercise at scale)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").cast("bigint").alias("count_order")))


def o_tpch_q1():
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


def q_tpch_q3(spark, sf_dir):
    """Join + agg + deterministic top-10 (broadcast the small dimension —
    customer fits in memory at any SF after the segment filter)."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    j = (orders.join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
         .join(li, li.l_orderkey == orders.o_orderkey))
    agg = (j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("revenue")))
    # Distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition partial top-10, merged on the driver) — no global
    # single-partition Window at any scale.
    return (agg.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)
            .select(F.col("o_orderkey").alias("orderkey"), "revenue",
                    F.col("o_orderdate").cast("date").alias("orderdate"),
                    F.col("o_orderpriority").alias("orderpriority")))


def o_tpch_q3():
    return """
SELECT orderkey, revenue, orderdate, orderpriority FROM (
  SELECT o.o_orderkey AS orderkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
         o.o_orderdate::DATE AS orderdate, o.o_orderpriority AS orderpriority,
         row_number() OVER (
           ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC,
                    o.o_orderkey ASC) AS rn
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
) WHERE rn <= 10"""


def q_tpch_q5(spark, sf_dir):
    """Multi-way join with broadcast dimensions (region/nation/supplier are
    tiny at every SF — never shuffled)."""
    region = spark.read.parquet(_t(sf_dir, "region"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
         .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select(F.col("n_name").alias("nation"), "revenue"))


def o_tpch_q5():
    return """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name"""


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): the two nation
    roles are DIFFERENT broadcast copies of one tiny table, name-filtered
    before the join so only the two relevant nations ever ship; lineitem
    is the only shuffled side (its date filter pushes into the scan)."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") <= "1997-12-31")))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    pair = ("NATION_1", "NATION_2")
    n1 = (nation.filter(F.col("n_name").isin(*pair))
          .select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation")))
    n2 = (nation.filter(F.col("n_name").isin(*pair))
          .select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("cust_nation")))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .filter(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def o_tpch_q7():
    return """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate)::INT AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
    AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY supp_nation, cust_nation, l_year"""


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers land in the 0 bucket, two-level aggregation —
    the first keyed by customer (shuffle on c_custkey), the second over
    the tiny counts table.  The driver's orders table has no o_comment,
    so the exclusion filter is on o_orderpriority (same plan shape)."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = (spark.read.parquet(_t(sf_dir, "orders"))
              .filter(F.col("o_orderpriority") != "1-URGENT"))
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").cast("bigint").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").cast("bigint").alias("custdist")))


def o_tpch_q13():
    return """
SELECT c_count, count(*)::BIGINT AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count"""


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority audit): big-big shuffle join
    orders↔lineitem with the year filter pushed into the lineitem scan,
    conditional counts by priority class per line status.  The driver's
    lineitem has no l_shipmode/receiptdate, so the group key is
    l_linestatus and the date window is on l_shipdate (same plan
    shape, per the q13 precedent)."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01")))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint")
                 .alias("high_line_count"),
                 F.sum(F.when(urgent, 0).otherwise(1)).cast("bigint")
                 .alias("low_line_count")))


def o_tpch_q12():
    return """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         ::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END)
         ::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_linestatus"""


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the argmax via a 1-row broadcast max joined back — the
    scalar-subquery plan that avoids any global sort.  Revenue rounds
    to 2dp BEFORE the max on both engines so the comparison is
    value-exact."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01")))
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("total_revenue"))
    sup = spark.read.parquet(_t(sf_dir, "supplier"))
    return (rev.join(F.broadcast(mx), "total_revenue")
            .join(F.broadcast(sup),
                  F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


def o_tpch_q15():
    return """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)"""


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): for 'F'
    orders, late lines (ship lag > 60 days — the driver's lineitem has
    no receipt/commit dates, so lateness is l_shipdate vs o_orderdate;
    same plan shape) whose order HAS another supplier (the EXISTS) but
    NO other late supplier (the NOT EXISTS).  Both correlated
    subqueries collapse into per-order WINDOW aggregates over the same
    late-flagged join — distinct-supplier and distinct-late-supplier
    counts as collect_set sizes partitioned by order — so lineitem is
    scanned ONCE and shuffled once on l_orderkey (a groupBy+rejoin
    formulation would scan the fact table twice; plan-audited);
    supplier+nation broadcast."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    orders = (spark.read.parquet(_t(sf_dir, "orders"))
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    lines = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .withColumn("late",
                         F.datediff(F.to_date("l_shipdate"),
                                    F.to_date("o_orderdate")) > 60))
    wo = Window.partitionBy("l_orderkey")
    lines = (lines
             .withColumn("nsupp", F.size(F.collect_set("l_suppkey")
                                         .over(wo)))
             .withColumn("nlate", F.size(F.collect_set(
                 F.when(F.col("late"), F.col("l_suppkey"))).over(wo))))
    sup = spark.read.parquet(_t(sf_dir, "supplier"))
    nat = spark.read.parquet(_t(sf_dir, "nation"))
    sn = (sup.join(nat, sup.s_nationkey == nat.n_nationkey)
          .filter(F.col("n_name") == "NATION_3")
          .select("s_suppkey", "s_name"))
    return (lines.filter(F.col("late") & (F.col("nsupp") >= 2)
                         & (F.col("nlate") == 1))
            .join(F.broadcast(sn),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("numwait")))


def o_tpch_q21():
    return """
WITH lines AS (
  SELECT l.l_orderkey, l.l_suppkey,
         datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE) > 60
           AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, count(*)::BIGINT AS numwait
FROM lines l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE l1.late AND n.n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s.s_name"""


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no RECENT orders — scalar-average
    broadcast + left-anti join on o_custkey, grouped by nation (the
    driver's customer has no c_phone country code, and every customer
    has SOME order, so dormancy is 'none since 1999'; same plan shape —
    the date filter pushes into the orders scan before the anti join)."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = (spark.read.parquet(_t(sf_dir, "orders"))
              .filter(F.col("o_orderdate") >= "1999-01-01"))
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("__avg")))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg"))
            .join(orders.select(F.col("o_custkey").alias("c_custkey")),
                  "c_custkey", "left_anti")
            .groupBy(F.col("c_nationkey").cast("bigint")
                     .alias("cntrycode"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


def o_tpch_q22():
    return """
SELECT c_nationkey::BIGINT AS cntrycode, count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= '1999-01-01')
GROUP BY c_nationkey"""


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part in a region) adapted
    to this schema (no partsupp table — lineitem is the part↔supplier
    offer relation, l_extendedprice the offer price): the correlated
    `price = min(price per part)` subquery decorrelated into a per-part
    min aggregate joined back, every dimension broadcast, lineitem the
    only shuffled side.  DISTINCT because a supplier can hit the min on
    several line items of the same part."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    nat = spark.read.parquet(_t(sf_dir, "nation"))
    reg = spark.read.parquet(_t(sf_dir, "region"))
    eu = (supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
          .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_acctbal", "s_name", "n_name"))
    p5 = part.filter(F.col("p_size") == 5).select("p_partkey")
    offers = (li.join(F.broadcast(p5), li.l_partkey == p5.p_partkey)
              .join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey"))
              .select("p_partkey", "s_acctbal", "s_name", "n_name",
                      F.col("l_extendedprice").alias("price")))
    minc = offers.groupBy("p_partkey").agg(F.min("price").alias("min_price"))
    return (offers.join(F.broadcast(minc), "p_partkey")
            .filter(F.col("price") == F.col("min_price"))
            .select(F.round("s_acctbal", 2).alias("s_acctbal"), "s_name",
                    "n_name", F.col("p_partkey").cast("bigint")
                    .alias("p_partkey"),
                    F.round("min_price", 2).alias("min_price"))
            .distinct()
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(25))


def o_tpch_q2():
    return """
SELECT * FROM (
  SELECT DISTINCT round(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name,
         l.l_partkey::BIGINT AS p_partkey,
         round(l.l_extendedprice, 2) AS min_price
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 5
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
  WHERE l.l_extendedprice = (
    SELECT min(l2.l_extendedprice) FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      AND r2.r_name = 'EUROPE'
    WHERE l2.l_partkey = l.l_partkey)
) ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 25"""


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year) adapted
    (no partsupp: profit = revenue, the supplycost·qty term has no
    source column — documented drop): part-name filter broadcast,
    supplier→nation broadcast, the one big-big shuffle is
    lineitem ⋈ orders on the order key for the year."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    nat = spark.read.parquet(_t(sf_dir, "nation"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    red = part.filter(F.col("p_name").contains("red")).select("p_partkey")
    sn = (supp.join(F.broadcast(nat),
                    supp.s_nationkey == nat.n_nationkey)
          .select("s_suppkey", "n_name"))
    return (li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
            .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").alias("o_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("profit"))
            .orderBy("nation", F.desc("o_year")))


def o_tpch_q9():
    return """
SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY nation, o_year DESC"""


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important part values for one nation's
    suppliers) adapted (no partsupp: value = Σ l_extendedprice of the
    nation's line items per part): the global-total threshold is a
    1-row aggregate broadcast via crossJoin — the scalar-subquery
    idiom — so the HAVING > fraction·total costs no second scan."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    nat = spark.read.parquet(_t(sf_dir, "nation"))
    s7 = (supp.join(F.broadcast(nat.filter(F.col("n_name") == "NATION_7")),
                    supp.s_nationkey == F.col("n_nationkey"))
          .select("s_suppkey"))
    val = (li.join(F.broadcast(s7), li.l_suppkey == s7.s_suppkey)
           .groupBy("l_partkey")
           .agg(F.sum("l_extendedprice").alias("value")))
    thr = val.agg((F.sum("value") * 0.001).alias("thresh"))
    return (val.crossJoin(F.broadcast(thr))
            .filter(F.col("value") > F.col("thresh"))
            .select(F.col("l_partkey").cast("bigint").alias("p_partkey"),
                    F.round("value", 2).alias("value"))
            .orderBy(F.desc("value"), "p_partkey"))


def o_tpch_q11():
    return """
WITH v AS (
  SELECT l.l_partkey, sum(l.l_extendedprice) AS value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
    AND n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT l_partkey::BIGINT AS p_partkey, round(value, 2) AS value
FROM v WHERE value > (SELECT sum(value) * 0.001 FROM v)
ORDER BY value DESC, p_partkey"""


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per part profile) adapted
    (lineitem is the part↔supplier relation): count-DISTINCT suppliers
    per (brand, type, size) over the filtered part set, excluding a
    complaint-supplier list via broadcast LEFT ANTI — the NOT IN
    (subquery) rewrite that never builds a null-aware nested loop."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    keep = part.filter((F.col("p_brand") != "Brand#5")
                       & (F.col("p_type") != "PROMO")
                       & F.col("p_size").isin(1, 4, 7))         .select("p_partkey", "p_brand", "p_type", "p_size")
    excl = supp.filter(F.col("s_name").endswith("7")).select("s_suppkey")
    return (li.join(F.broadcast(keep), li.l_partkey == keep.p_partkey)
            .join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey,
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("l_suppkey").cast("bigint")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type",
                     "p_size"))


def o_tpch_q16():
    return """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 7)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_name LIKE '%7')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess supply of a part family)
    adapted (no ps_availqty: a supplier qualifies when its 1997 shipped
    quantity of 'small %' parts exceeds half the average over
    qualifying suppliers): nested aggregate — per-supplier sums, then a
    1-row avg broadcast back — followed by a broadcast semi-join into
    the supplier dimension."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    nat = spark.read.parquet(_t(sf_dir, "nation"))
    small = part.filter(F.col("p_name").startswith("small"))         .select("p_partkey")
    qty = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                     & (F.col("l_shipdate") < "1998-01-01"))
           .join(F.broadcast(small), li.l_partkey == small.p_partkey)
           .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q")))
    thr = qty.agg((F.avg("q") * 0.5).alias("t"))
    keep = (qty.crossJoin(F.broadcast(thr)).filter(F.col("q") > F.col("t"))
            .select("l_suppkey"))
    return (supp.join(F.broadcast(keep),
                      supp.s_suppkey == keep.l_suppkey, "left_semi")
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .select("s_name", "n_name")
            .orderBy("s_name"))


def o_tpch_q20():
    return """
WITH q AS (
  SELECT l.l_suppkey, sum(l.l_quantity) AS q
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
  WHERE l.l_shipdate >= '1997-01-01' AND l.l_shipdate < '1998-01-01'
  GROUP BY l.l_suppkey
)
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM q
                      WHERE q > (SELECT avg(q) * 0.5 FROM q))
ORDER BY s.s_name"""


def q_windowed_counts(spark, sf_dir):
    """The streaming windowed-agg operator on its batch leg (watermark is
    a no-op on batch): tumbling 10-minute counts per event_type — one
    definition shared by backfill and the live stream
    (streaming/stream.windowed_event_counts; stream-vs-batch equality is
    pytest-gated, late-data dropping has its own checkpointed test)."""
    from .streaming.stream import windowed_event_counts
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (windowed_event_counts(ev, "10 minutes", "30 minutes")
            .select(F.col("window_start").cast("timestamp_ntz")
                    .alias("window_start"),
                    F.col("window_end").cast("timestamp_ntz")
                    .alias("window_end"),
                    "event_type", "n_events"))


def o_windowed_counts():
    return """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
         AS window_end,
       event_type, count(*)::BIGINT AS n_events
FROM events
GROUP BY 1, 2, event_type"""


# --------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# --------------------------------------------------------------------------

def q_tpch_q6(spark, sf_dir):
    """Forecast revenue change — pure pushed-down filter + single agg."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                      & (F.col("l_shipdate") < F.lit("1997-01-01"))
                      & (F.col("l_discount") >= 0.03)
                      & (F.col("l_discount") <= 0.05)
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue"),
                 F.count("*").cast("bigint").alias("n_rows")))


def o_tpch_q6():
    return """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.05 AND l_quantity < 24"""


def q_tpch_q4(spark, sf_dir):
    """Order-priority counts for orders with at least one returned line
    (TPC-H Q4 shape adapted to this schema's columns: the EXISTS predicate
    is returnflag='R' instead of commit<receipt).  Left-SEMI join — the
    probe side streams, the build side deduplicates by key, no row
    multiplication."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (orders
            .filter((F.col("o_orderdate") >= F.lit("1996-07-01"))
                    & (F.col("o_orderdate") < F.lit("1996-10-01")))
            .join(returned, orders.o_orderkey == returned.l_orderkey,
                  "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("order_count")))


def o_tpch_q4():
    return """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority"""


def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape): the correlated
    scalar subquery `l_quantity < 0.2 * avg(l_quantity per part)`
    decorrelated into a per-part aggregate joined back — the standard
    Catalyst rewrite, written explicitly.  The brand part list is tiny →
    broadcast; the per-part averages are computed once, map-side partial
    agg, then broadcast-joined."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    brand = part.filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    avgq = (li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
            .groupBy("l_partkey")
            .agg((0.2 * F.avg("l_quantity")).alias("qty_thresh")))
    return (li.join(F.broadcast(avgq), "l_partkey")
            .filter(F.col("l_quantity") < F.col("qty_thresh"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
                 .alias("avg_yearly"),
                 F.count("*").cast("bigint").alias("n_rows")))


def o_tpch_q17():
    return """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*)::BIGINT AS n_rows
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)"""


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): share = conditional sum /
    total sum inside ONE aggregate over the 8-way join — no second pass;
    every dimension broadcasts, lineitem is the only shuffled side."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    orders = (spark.read.parquet(_t(sf_dir, "orders"))
              .filter((F.col("o_orderdate") >= "1995-01-01")
                      & (F.col("o_orderdate") <= "1996-12-31")))
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    region = spark.read.parquet(_t(sf_dir, "region"))
    n1 = nation.select(F.col("n_nationkey").alias("c_nkey"),
                       F.col("n_regionkey").alias("c_rkey"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nkey"),
                       F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                 li.l_partkey == part.p_partkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
         .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
         .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
               F.col("c_rkey") == F.col("r_regionkey")))
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                      .otherwise(0.0)) / F.sum(vol), 4)
                .alias("mkt_share")))


def o_tpch_q8():
    return """
SELECT year(o.o_orderdate)::INT AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
         AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
JOIN orders o ON l.l_orderkey = o.o_orderkey
  AND o.o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
GROUP BY 1"""


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item revenue, top 20 customers): the
    returnflag filter pushes into the lineitem scan; customer/nation
    broadcast; the cut is TakeOrdered on the rounded revenue."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .filter(F.col("l_returnflag") == "R"))
    orders = (spark.read.parquet(_t(sf_dir, "orders"))
              .filter((F.col("o_orderdate") >= "1995-07-01")
                      & (F.col("o_orderdate") < "1995-10-01")))
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation),
               cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20))


def o_tpch_q10():
    return """
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= '1995-07-01' AND o.o_orderdate < '1995-10-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey LIMIT 20"""


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promo revenue share): conditional/total ratio in one
    aggregate; part broadcasts, the month filter pushes into the
    lineitem scan."""
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .filter((F.col("l_shipdate") >= "1995-09-01")
                  & (F.col("l_shipdate") < "1995-10-01")))
    part = spark.read.parquet(_t(sf_dir, "part"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg(F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "ECONOMY", vol)
                              .otherwise(0.0)) / F.sum(vol), 4)
                .alias("promo_revenue")))


def o_tpch_q14():
    return """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'ECONOMY'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
         AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= '1995-09-01' AND l.l_shipdate < '1995-10-01'"""


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume orders): the HAVING pre-aggregates
    lineitem to per-order quantity BEFORE any join (the classic
    aggregate-then-join rewrite — the join input shrinks from 6M rows
    to the qualifying orders), then customer broadcasts."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey",
                    F.col("o_orderdate").cast("date").cast("string")
                    .alias("o_orderdate"),
                    "o_totalprice",
                    F.round("total_qty", 2).alias("total_qty"))
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .limit(100))


def o_tpch_q18():
    return """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice, round(t.total_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) t
JOIN orders o ON t.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100"""


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (disjunctive brand/size/quantity predicates): the OR-of-
    ANDs stays a single scan-side filter after the broadcast part join —
    Catalyst extracts the common p_partkey equi-key so no fallback to a
    nested-loop join."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 25)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 35)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40)))
    return (j.filter(cond)
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def o_tpch_q19():
    return """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size <= 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size <= 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size <= 35
       AND l.l_quantity BETWEEN 20 AND 40)"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) —
    the lag/cumsum window idiom; per-user session stats.  Relational
    counterpart of stateful stream sessionization; shuffle on user_id
    only."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)))
    sess = marked.withColumn(
        "session_seq", F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event"),
                 (F.max(F.col("ts").cast("timestamp").cast("long"))
                  - F.min(F.col("ts").cast("timestamp").cast("long"))).cast("bigint")
                 .alias("duration_sec")))


def o_sessionize():
    return """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM marked
)
SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event,
       (max(floor(epoch(ts))) - min(floor(epoch(ts))))::BIGINT AS duration_sec
FROM sess GROUP BY user_id, session_seq"""


def q_session_window_counts(spark, sf_dir):
    """Native ``session_window`` sessionization (30-min gap): the SAME
    operator Structured Streaming runs incrementally with state —
    declaring it in batch means backfill and live stream share one
    definition (streaming/stream.py holds the readStream twin of the
    windowed aggs).  Spark merges an event landing EXACTLY gap seconds
    after the previous one (windows touch ⇒ merge — pinned by
    tests/test_relational.py::test_session_window_gap_boundary), so the
    oracle's island detection breaks only on diff > 1800 s.  One user_id
    exchange, session merge inside the aggregate."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (ev.groupBy("user_id",
                       F.session_window(F.col("ts").cast("timestamp"),
                                        "30 minutes").alias("sw"))
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.col("sw.start").cast("timestamp_ntz")
                    .alias("session_start"),
                    "n_events", "sum_value"))


def o_session_window_counts():
    return """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS seq
  FROM marked
)
SELECT user_id::BIGINT AS user_id, min(ts) AS session_start,
       count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, seq"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash — groupBy shuffles only the 32-byte hash,
    with map-side partial aggregation."""
    from .operators import dedup
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (dedup.exact_duplicates(docs)
            .withColumn("keeper_doc_id", F.col("keeper_doc_id").cast("bigint")))


def o_dedup_exact():
    return ("SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_copies, "
            "min(doc_id)::BIGINT AS keeper_doc_id FROM documents "
            "GROUP BY md5(text)")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup by 3-gram Jaccard ≥ 0.12 over a bounded doc subset (the
    all-pairs form; the LSH variant below is the scale path)."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .filter(F.col("doc_id") < 200))
    return (dedup.ngram_jaccard_pairs(dedup.shingle_rows(docs), threshold=0.12)
            .select(F.col("doc_a").cast("bigint").alias("doc_a"),
                    F.col("doc_b").cast("bigint").alias("doc_b"), "jaccard"))


def o_dedup_ngram_jaccard():
    return f"""
WITH sh AS ({_SHINGLE3_SQL.format(pred="doc_id < 200")}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a::BIGINT AS doc_a, i.doc_b::BIGINT AS doc_b,
       round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(i.inter / (sa.n + sb.n - i.inter), 4) >= 0.12"""


def q_dedup_containment(spark, sf_dir):
    """ASYMMETRIC shingle containment |A∩B|/|A| ≥ 0.8
    (`dedup.containment_pairs`) — the quote/subset detector: a doc
    wholly lifted into a longer one scores ≈1 here but low Jaccard,
    which is why curation pipelines run both.  Intersections computed
    once per unordered pair, emitted both directions with each side's
    own denominator."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .filter(F.col("doc_id") < 200))
    return (dedup.containment_pairs(dedup.shingle_rows(docs),
                                    threshold=0.8)
            .select(F.col("src_doc").cast("bigint").alias("src_doc"),
                    F.col("in_doc").cast("bigint").alias("in_doc"),
                    "containment"))


def o_dedup_containment():
    return f"""
WITH sh AS ({_SHINGLE3_SQL.format(pred="doc_id < 200")}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sized AS (
  SELECT i.da, i.db, i.i, sa.n AS na, sb.n AS nb
  FROM inter i JOIN sizes sa ON i.da = sa.doc_id
               JOIN sizes sb ON i.db = sb.doc_id
), dirs AS (
  SELECT da AS src_doc, db AS in_doc, round(i * 1.0 / na, 4)
           AS containment FROM sized
  UNION ALL
  SELECT db, da, round(i * 1.0 / nb, 4) FROM sized
)
SELECT src_doc::BIGINT AS src_doc, in_doc::BIGINT AS in_doc,
       containment
FROM dirs WHERE containment >= 0.8"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash LSH candidates, 8 bands × 4 rows: the band signature
    concatenates 4 independent double-hashed min-hashes, so
    P(candidate) = 1-(1-J^4)^8 — ~0.03 at J=0.2 instead of the r=1 form's
    0.59, which is what keeps the candidate set linear on
    topically-similar corpora.  Shuffle is on (band, signature) —
    constant-size keys, no all-pairs blowup (the 100 TB path)."""
    from .operators import dedup
    # the documents table is one small file → one split; re-split so the
    # shingle explode + hash parallelizes (at production scale the Iceberg
    # scan yields balanced splits on its own).  Width = cluster parallelism,
    # not a constant: oversplitting tiny inputs just buys task overhead.
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    sigs = dedup.minhash_signatures(dedup.shingle_rows(docs),
                                    n_bands=8, rows_per_band=4)
    return (dedup.lsh_candidates(sigs)
            .select("band", F.col("doc_a").cast("bigint").alias("doc_a"),
                    F.col("doc_b").cast("bigint").alias("doc_b")))


def _hex8_int_sql(expr: str, start: int) -> str:
    """DuckDB: integer value of 8 hex chars of ``expr`` starting at
    1-based ``start`` — positional nibble sum, equal to Spark's
    conv(substring(expr, start, 8), 16, 10)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substring({expr}, {start + k}, 1)) - 1) "
        f"* {16 ** (7 - k)}" for k in range(8))
    return f"({terms})"


def o_dedup_minhash_lsh():
    from .operators.dedup import _MINHASH_PRIME
    return f"""
WITH sh AS ({_SHINGLE3_SQL.format(pred="1 = 1")}
), hh AS (
  SELECT doc_id, {_hex8_int_sql('m', 1)}::BIGINT AS h1,
         {_hex8_int_sql('m', 9)}::BIGINT AS h2
  FROM (SELECT doc_id, md5(shingle) AS m FROM sh)
), mins AS (
  SELECT doc_id, i.i AS i, min((h1 + i.i * h2) % {_MINHASH_PRIME}) AS mn
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT AS i) i
  GROUP BY doc_id, i.i
), sigs AS (
  SELECT doc_id, (i // 4)::INT AS band,
         md5(string_agg(mn::VARCHAR, '-' ORDER BY i)) AS sig
  FROM mins GROUP BY doc_id, (i // 4)
)
SELECT DISTINCT a.band, a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id"""


_SHINGLE3_SQL = """
  SELECT doc_id, unnest(list_distinct([
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           for i in generate_series(1, greatest(len(toks) - 2, 0))])) AS shingle
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents WHERE {pred})"""


def q_minhash_estimate_pairs(spark, sf_dir):
    """Estimator-quality census for the MinHash family: per
    shingle-sharing pair (bounded subset), the INTEGER count of equal
    minima (cn32 of 32 — E[cn32/32] = true Jaccard), the estimate at
    4dp, and the exact Jaccard next to it — the observability view
    that justifies the banding thresholds with data instead of the
    textbook formula.  Everything except the two single-division
    roundings is integer arithmetic, so the cross-engine hash is
    stable; the oracle replays the identical Kirsch-Mitzenmacher
    double-hash family."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .filter(F.col("doc_id") < 200))
    sh = dedup.shingle_rows(docs)
    mins = (dedup._minhash_inputs(sh).groupBy("doc_id")
            .agg(*dedup._minima_aggs(32)))
    pairs = (dedup.ngram_jaccard_pairs(sh, threshold=0.0)
             .select(F.col("doc_a").cast("bigint").alias("doc_a"),
                     F.col("doc_b").cast("bigint").alias("doc_b"),
                     "jaccard"))
    a = mins.select(F.col("doc_id").cast("bigint").alias("doc_a"),
                    *[F.col(f"m{i}").alias(f"a{i}") for i in range(32)])
    b = mins.select(F.col("doc_id").cast("bigint").alias("doc_b"),
                    *[F.col(f"m{i}").alias(f"b{i}") for i in range(32)])
    cn32 = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
               for i in range(32))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .withColumn("cn32", cn32.cast("bigint"))
            .select("doc_a", "doc_b", "cn32",
                    F.round(F.col("cn32") / 32, 4).alias("est"),
                    "jaccard"))


def o_minhash_estimate_pairs():
    from .operators.dedup import _MINHASH_PRIME
    return f"""
WITH sh AS ({_SHINGLE3_SQL.format(pred="doc_id < 200")}
), hh AS (
  SELECT doc_id, {_hex8_int_sql('m', 1)}::BIGINT AS h1,
         {_hex8_int_sql('m', 9)}::BIGINT AS h2
  FROM (SELECT doc_id, md5(shingle) AS m FROM sh)
), mins AS (
  SELECT doc_id, i.i AS i,
         min((h1 + i.i * h2) % {_MINHASH_PRIME}) AS mn
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT
                      AS i) i
  GROUP BY doc_id, i.i
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), cn AS (
  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
         SUM(CASE WHEN ma.mn = mb.mn THEN 1 ELSE 0 END) AS cn32
  FROM mins ma JOIN mins mb
    ON ma.i = mb.i AND ma.doc_id < mb.doc_id
  GROUP BY ma.doc_id, mb.doc_id
)
SELECT i.doc_a::BIGINT AS doc_a, i.doc_b::BIGINT AS doc_b,
       cn.cn32::BIGINT AS cn32,
       round(cn.cn32 / 32.0, 4) AS est,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
FROM inter i
JOIN cn ON cn.doc_a = i.doc_a AND cn.doc_b = i.doc_b
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id"""


def q_near_dedup(spark, sf_dir):
    """The composed production dedup flow in one call: banded MinHash
    candidates → exact Jaccard verification on candidates only →
    connected components over verified pairs → keeper = smallest doc_id
    per component.  One row per doc; ``doc_id = keeper_doc_id`` IS the
    deduplicated corpus.  The oracle reproduces the identical hash
    family, candidates, verify tier, and components (recursive CTE
    transitive closure) in DuckDB."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    return (dedup.near_dedup(docs, threshold=0.12,
                             checkpoint_dir=_ckpt_dir(spark))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("keeper_doc_id").cast("bigint")
                    .alias("keeper_doc_id")))


def o_near_dedup():
    from .operators.dedup import _MINHASH_PRIME
    return f"""
WITH RECURSIVE sh AS ({_SHINGLE3_SQL.format(pred="1 = 1")}
), hh AS (
  SELECT doc_id, {_hex8_int_sql('m', 1)}::BIGINT AS h1,
         {_hex8_int_sql('m', 9)}::BIGINT AS h2
  FROM (SELECT doc_id, md5(shingle) AS m FROM sh)
), mins AS (
  SELECT doc_id, i.i AS i, min((h1 + i.i * h2) % {_MINHASH_PRIME}) AS mn
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT AS i) i
  GROUP BY doc_id, i.i
), sigs AS (
  SELECT doc_id, (i // 4)::INT AS band,
         md5(string_agg(mn::VARCHAR, '-' ORDER BY i)) AS sig
  FROM mins GROUP BY doc_id, (i // 4)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
), verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.12
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src::BIGINT AS doc_id, min(dst)::BIGINT AS keeper_doc_id
FROM reach GROUP BY src"""


def _minhash_sig_ctes(src: str, suf: str) -> str:
    """The (md5 → double-hash → 32 minima → 8 band sigs) CTE chain over
    a shingle CTE ``src``, suffixed so several instances can share one
    WITH block — the same hash family as the Spark operators."""
    from .operators.dedup import _MINHASH_PRIME
    return f"""hh{suf} AS (
  SELECT doc_id, {_hex8_int_sql('m', 1)}::BIGINT AS h1,
         {_hex8_int_sql('m', 9)}::BIGINT AS h2
  FROM (SELECT doc_id, md5(shingle) AS m FROM {src})
), mins{suf} AS (
  SELECT doc_id, i.i AS i, min((h1 + i.i * h2) % {_MINHASH_PRIME}) AS mn
  FROM hh{suf} CROSS JOIN (SELECT unnest(generate_series(0, 31))::BIGINT AS i) i
  GROUP BY doc_id, i.i
), sigs{suf} AS (
  SELECT doc_id, (i // 4)::INT AS band,
         md5(string_agg(mn::VARCHAR, '-' ORDER BY i)) AS sig
  FROM mins{suf} GROUP BY doc_id, (i // 4)
)"""


def q_near_dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup — the flow a 10^12-doc corpus
    actually runs: build the frozen-keeper index over the first batch
    (even doc_ids), then dedup the second batch (odd doc_ids) AGAINST
    the index (banded candidates vs the keeper-sig table + within-batch
    pairs, exact verification, WCC, min-keeper resolution) without
    rescanning batch 1.  Returns the combined corpus-wide assignment;
    batch-1 rows are byte-identical to a plain near_dedup of batch 1
    (frozen).  The index is COMPACTED between build and append (all four
    tables rewritten under an atomic manifest flip), so this oracle row
    also proves compaction changes no answer — the append resolves the
    keeper surface through the manifest."""
    import tempfile
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    path = tempfile.mkdtemp(prefix="dedup_idx_")
    dedup.dedup_index_build(docs.filter("doc_id % 2 = 0"), path,
                            threshold=0.12)
    dedup.dedup_index_compact(spark, path)
    dedup.dedup_index_append(docs.filter("doc_id % 2 = 1"), path,
                             threshold=0.12)
    return (dedup.dedup_index_read(spark, path, "keepers")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("keeper_doc_id").cast("bigint")
                    .alias("keeper_doc_id")))


def q_near_dedup_reconciled(spark, sf_dir):
    """Keeper-drift reconciliation for the frozen-keeper index
    (operators/dedup.dedup_index_reconcile): build over even doc_ids,
    append odds (frozen-keeper assignments — drift docs whose only
    match is a forgotten non-keeper member are missed), then reconcile
    with the FULL corpus as the window: near-dedup re-runs over window
    ∪ keeper surface and every stored assignment is REBASED under the
    atomic manifest flip.  With a full-corpus window the rebased index
    must equal a fresh near_dedup of the corpus exactly — so the oracle
    is the plain near_dedup SQL, and a value-exact match proves the
    reconcile rebase (remap of out-of-window members through their old
    keepers + window-row replacement + keeper-surface rebuild) loses
    and invents nothing."""
    import tempfile
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    path = tempfile.mkdtemp(prefix="dedup_idx_rec_")
    dedup.dedup_index_build(docs.filter("doc_id % 2 = 0"), path,
                            threshold=0.12)
    dedup.dedup_index_append(docs.filter("doc_id % 2 = 1"), path,
                             threshold=0.12)
    dedup.dedup_index_reconcile(docs, path, threshold=0.12)
    return (dedup.dedup_index_read(spark, path, "keepers")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("keeper_doc_id").cast("bigint")
                    .alias("keeper_doc_id")))


def o_near_dedup_incremental():
    from .operators.dedup import _MINHASH_PRIME  # noqa: F401 (via helper)
    j = "round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.12"
    return f"""
WITH RECURSIVE sh1 AS ({_SHINGLE3_SQL.format(pred="doc_id % 2 = 0")}
), {_minhash_sig_ctes('sh1', '1')}, cand1 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs1 a JOIN sigs1 b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
), sizes1 AS (
  SELECT doc_id, count(*) AS n_sh FROM sh1 GROUP BY doc_id
), inter1 AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand1 c JOIN sh1 a ON a.doc_id = c.doc_a
               JOIN sh1 b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
), verified1 AS (
  SELECT i.doc_a, i.doc_b
  FROM inter1 i JOIN sizes1 sa ON sa.doc_id = i.doc_a
                JOIN sizes1 sb ON sb.doc_id = i.doc_b
  WHERE {j}
), edges1 AS (
  SELECT doc_a AS a, doc_b AS b FROM verified1
  UNION SELECT doc_b, doc_a FROM verified1
), reach1(src, dst) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % 2 = 0
  UNION
  SELECT r.src, e.b FROM reach1 r JOIN edges1 e ON r.dst = e.a
), keepers1 AS (
  SELECT src AS doc_id, min(dst) AS keeper FROM reach1 GROUP BY src
), reps1 AS (
  SELECT DISTINCT keeper AS doc_id FROM keepers1
), shk AS (
  SELECT s.doc_id, s.shingle FROM sh1 s JOIN reps1 USING (doc_id)
), {_minhash_sig_ctes('shk', 'k')}, sh2 AS (
{_SHINGLE3_SQL.format(pred="doc_id % 2 = 1")}
), {_minhash_sig_ctes('sh2', '2')}, cand2 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs2 a JOIN sigs2 b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
  UNION
  SELECT DISTINCT a.doc_id, k.doc_id
  FROM sigs2 a JOIN sigsk k ON a.band = k.band AND a.sig = k.sig
), sh_all AS (
  SELECT doc_id, shingle FROM sh2 UNION ALL SELECT doc_id, shingle FROM shk
), sizes_all AS (
  SELECT doc_id, count(*) AS n_sh FROM sh_all GROUP BY doc_id
), inter2 AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand2 c JOIN sh_all a ON a.doc_id = c.doc_a
               JOIN sh_all b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
), verified2 AS (
  SELECT i.doc_a, i.doc_b
  FROM inter2 i JOIN sizes_all sa ON sa.doc_id = i.doc_a
                JOIN sizes_all sb ON sb.doc_id = i.doc_b
  WHERE {j}
), edges2 AS (
  SELECT doc_a AS a, doc_b AS b FROM verified2
  UNION SELECT doc_b, doc_a FROM verified2
), reach2(src, dst) AS (
  SELECT DISTINCT a, a FROM edges2
  UNION
  SELECT r.src, e.b FROM reach2 r JOIN edges2 e ON r.dst = e.a
), comp AS (
  SELECT src AS node, min(dst) AS component FROM reach2 GROUP BY src
), comp_keeper AS (
  SELECT c.component, min(c.node) AS kmin
  FROM comp c JOIN reps1 r ON c.node = r.doc_id
  GROUP BY c.component
), keepers2 AS (
  SELECT d.doc_id,
         COALESCE(ck.kmin, c.component, d.doc_id) AS keeper
  FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
  LEFT JOIN comp c ON c.node = d.doc_id
  LEFT JOIN comp_keeper ck ON ck.component = c.component
)
SELECT doc_id::BIGINT AS doc_id, keeper::BIGINT AS keeper_doc_id
FROM keepers1
UNION ALL
SELECT doc_id::BIGINT, keeper::BIGINT FROM keepers2"""


def q_duplicate_passages(spark, sf_dir):
    """Sub-document duplicate-passage spans (Lee et al. 2107.06499 style):
    maximal token ranges covered by 8-grams occurring in >= 2 docs —
    boilerplate/template detection below the whole-doc dedup granularity.
    Three relational stages (shingle-count / re-join / per-doc islands),
    shuffle volume proportional to the DUPLICATED text, not the corpus."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text"))
    return dedup.duplicate_passages(docs, n=8, min_docs=2)


def o_duplicate_passages():
    return """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS sh
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, len(t) - 7)) AS i) s
  WHERE len(t) >= 8
),
dup AS (
  SELECT sh FROM occ GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (sh)),
marked AS (
  SELECT doc_id, pos,
         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1
                  ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM marked
)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + 8)::BIGINT AS span_end,
       count(*)::BIGINT AS n_dup_shingles
FROM isl GROUP BY doc_id, g"""


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: corpus docs sharing 3-gram shingles
    with an eval set (docs 0-19 standing in for the benchmark).  The eval
    shingle set is broadcast — the corpus side never shuffles, which is
    what makes decontamination tractable at 10^12 docs."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return (textprep.contamination(corpus, bench, n=3)
            .withColumn("doc_id", F.col("doc_id").cast("bigint")))


def o_contamination():
    bsh = _SHINGLE3_SQL.format(pred="doc_id < 20")
    dsh = _SHINGLE3_SQL.format(pred="doc_id >= 20")
    return f"""
WITH bsh AS (SELECT DISTINCT shingle FROM ({bsh})),
dsh AS ({dsh}),
totals AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY doc_id),
hits AS (SELECT doc_id, count(*) AS n_hits
         FROM dsh JOIN bsh USING (shingle) GROUP BY doc_id)
SELECT t.doc_id::BIGINT AS doc_id, t.n_shingles::BIGINT AS n_shingles,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0) / t.n_shingles, 4) AS contamination
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id"""


PII_FIXTURES = [
    (0, "contact john.doe@example.com for the docket 1234567 copy"),
    (1, "no personal data here"),
    (2, "call 9876543210 or mail a.b@c.org and x@y.io today"),
    (3, "short num 12345 stays"),
    (4, "Mixed-case John.Doe@Example.COM must redact too"),
]


def q_curation_pipeline(spark, sf_dir):
    """The composed pre-training curation flow
    (operators/textprep.curation_pipeline) — the CCNet/FineWeb recipe
    as ONE declarative plan: language gate (stop-token mass ≥ 0.05) →
    quality gate (composite ≥ 0.3) → order-insensitive fingerprint
    dedup (keeper = min doc_id) → benchmark decontamination (3-gram
    overlap vs the doc_id < 20 eval set, ratio < 0.2).  Returns the
    curated-corpus manifest: surviving docs with their per-stage
    features.  Every stage has a standalone oracled query (lang_id,
    quality_score, doc_fingerprint, contamination); this row pins the
    COMPOSITION — stage order, survivor re-filtering, and the
    no-shingle → contamination-0 edge all at once."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (textprep.curation_pipeline(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20), STOPWORDS)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                "n_tokens", "stop_ratio", "quality", "contamination"))


def o_curation_pipeline():
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    sh = _SHINGLE3_SQL.format(pred="doc_id >= 20")
    bsh = _SHINGLE3_SQL.format(pred="doc_id < 20")
    return f"""
WITH feat AS (
  SELECT doc_id, len(toks)::INT AS n_tokens,
         round(len(list_filter(toks, t -> t IN ({stop})))
               / len(toks), 4) AS stop_ratio,
         round(least(len(toks) / 100.0, 1.0)
               * (1 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                      / length(text)), 4) AS quality,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks
        FROM documents WHERE doc_id >= 20)
),
gated AS (
  SELECT * FROM feat WHERE stop_ratio >= 0.05 AND quality >= 0.3
),
deduped AS (
  SELECT doc_id, n_tokens, stop_ratio, quality FROM (
    SELECT g.*, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM gated g)
  WHERE doc_id = keeper
),
bsh AS (SELECT DISTINCT shingle FROM ({bsh})),
dsh AS (SELECT s.* FROM ({sh}) s JOIN deduped USING (doc_id)),
tot AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
hits AS (SELECT doc_id, count(*) AS h
         FROM dsh JOIN bsh USING (shingle) GROUP BY doc_id),
cont AS (
  SELECT t.doc_id, round(coalesce(h.h, 0) / t.n, 4) AS contamination
  FROM tot t LEFT JOIN hits h USING (doc_id)
)
SELECT d.doc_id::BIGINT AS doc_id, d.n_tokens, d.stop_ratio, d.quality,
       coalesce(c.contamination, 0.0) AS contamination
FROM deduped d LEFT JOIN cont c USING (doc_id)
WHERE coalesce(c.contamination, 0.0) < 0.2"""


def q_user_activity_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity metric that separates single-purpose accounts
    (entropy ≈ 0) from broad ones (≈ ln #types); the user-modeling
    analogue of the corpus diversity scores.  Two grouped aggregates
    (user×type counts, then the per-user entropy fold over ≤ #types
    terms); users sorted nowhere — pure keyed shuffles."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    ut = (ev.groupBy("user_id", "event_type")
          .agg(F.count(F.lit(1)).alias("c")))
    un = ut.groupBy("user_id").agg(F.sum("c").alias("n"),
                                   F.count(F.lit(1)).alias("n_types"))
    return (ut.join(un, "user_id")
            .groupBy("user_id")
            .agg(F.max("n").cast("bigint").alias("n_events"),
                 F.max("n_types").cast("bigint").alias("n_types"),
                 F.round(-F.sum((F.col("c") / F.col("n"))
                                * F.log(F.col("c") / F.col("n"))), 4)
                 .alias("entropy")))


def o_user_activity_entropy():
    return """
WITH ut AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
un AS (SELECT user_id, sum(c) AS n, count(*) AS n_types
       FROM ut GROUP BY user_id)
SELECT ut.user_id, MAX(un.n)::BIGINT AS n_events,
       MAX(un.n_types)::BIGINT AS n_types,
       round(-SUM((ut.c * 1.0 / un.n) * ln(ut.c * 1.0 / un.n)), 4)
         AS entropy
FROM ut JOIN un USING (user_id)
GROUP BY ut.user_id"""


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the events quasi-identifier
    (event_type, event day): group sizes below k mark re-identifiable
    rows — the governance gate that runs NEXT TO pii_redact in a
    training-data release (scrubbing direct identifiers does nothing
    about quasi-identifier uniqueness).  One grouped count + one
    conditional aggregate; at 100 TB both are partial-aggregated
    map-side."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    g = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.count(F.lit(1)).alias("n")))
    k = F.lit(5)
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n") < k, 1).otherwise(0)).cast("bigint")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
        .cast("bigint").alias("rows_at_risk"),
        F.min("n").cast("bigint").alias("min_group"))


def o_k_anonymity():
    return """
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT count(*)::BIGINT AS n_groups,
       SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT
         AS n_small_groups,
       SUM(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT
         AS rows_at_risk,
       MIN(n)::BIGINT AS min_group
FROM g"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails, ≥6-digit runs) with per-doc hit counts —
    pure regex projection over planted fixtures (the driver documents
    table contains no digits/emails, so fixtures give a non-trivial value
    check; the operator itself is table-shape-agnostic)."""
    from .operators import textprep
    docs = spark.createDataFrame(PII_FIXTURES, ["doc_id", "text"])
    return textprep.pii_redact(docs)


def o_pii_redact():
    rows = ", ".join(f"({i}, {_sql_quote(t)})" for i, t in PII_FIXTURES)
    return rf"""
WITH f(doc_id, text) AS (VALUES {rows})
SELECT doc_id::BIGINT AS doc_id,
       regexp_replace(
         regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}',
                        '<EMAIL>', 'g'),
         '\d{{6,}}', '<NUM>', 'g') AS clean_text,
       len(regexp_extract_all(text,
           '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{{2,}}'))::INT AS n_emails,
       len(regexp_extract_all(text, '\d{{6,}}'))::INT AS n_numbers
FROM f"""


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing (2,000 whitespace tokens per training
    shard, doc_id order preserved) via a distributed prefix-sum: the only
    global ordering runs over per-bucket totals (corpus/100 rows), never
    the corpus itself."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.pack_shards(docs, token_budget=2000, bucket_size=100)


def o_pack_shards():
    return r"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(str_split_regex(text, '\s+'))::BIGINT AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       floor((cum - n_tokens) / 2000)::BIGINT AS shard_id
FROM c"""


def q_prepare_training_corpus(spark, sf_dir):
    """The composed training-data front door in one call: quality filter →
    exact dedup (keep lowest doc_id per content hash) → token-budget shard
    packing.  One content-hash shuffle + the distributed prefix-sum."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.prepare_training_corpus(
        docs, min_quality=0.3, token_budget=2000, bucket_size=100)


def o_prepare_training_corpus():
    return r"""
WITH scored AS (
  SELECT doc_id::BIGINT AS doc_id, text,
         round(least(len(string_split(text, ' ')) / 100.0, 1.0)
               * (1 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                      / length(text)), 4) AS quality
  FROM documents
), kept AS (SELECT * FROM scored WHERE quality >= 0.3),
deduped AS (
  SELECT doc_id, text, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
), t AS (
  SELECT doc_id, quality,
         len(str_split_regex(text, '\s+'))::BIGINT AS n_tokens
  FROM deduped
), c AS (
  SELECT doc_id, quality, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, quality, n_tokens,
       floor((cum - n_tokens) / 2000)::BIGINT AS shard_id
FROM c"""


SAMPLE_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}


def q_corpus_sample(spark, sf_dir):
    """Deterministic hash-stratified sampling — the data-MIXING primitive
    (per-language keep rates).  keep ⇔ md5-derived key < rate·1e6; pure
    projection+filter, zero shuffle, reproducible under retry/resume and
    composable across rate changes (prefix property).  Oracle replays the
    identical hash arithmetic, so membership is value-exact, not
    statistical."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (textprep.sample_corpus(docs, SAMPLE_RATES, strat_col="lang",
                                   default_rate=0.0, salt="mix1")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "stratum",
                    F.col("sample_key").cast("bigint").alias("sample_key")))


def o_corpus_sample():
    when = " ".join(
        f"WHEN lang = '{v}' THEN {r}"
        for v, r in sorted(SAMPLE_RATES.items()))
    return f"""
WITH keyed AS (
  SELECT doc_id::BIGINT AS doc_id, lang AS stratum,
         ('0x' || substr(md5('mix1' || doc_id::VARCHAR), 1, 8))::UBIGINT
           % 1000000 AS sample_key,
         CASE {when} ELSE 0.0 END AS rate
  FROM documents
)
SELECT doc_id, stratum, sample_key::BIGINT AS sample_key
FROM keyed WHERE sample_key < rate * 1000000"""


def q_conversion_join(spark, sf_dir):
    """Click→purchase attribution within 1 hour per user — the BATCH
    twin of the stream-stream time-bounded join (`streaming.
    conversion_join`); one definition serves backfill and the live
    stream, and the stream-vs-batch equality test closes the loop."""
    from .streaming.stream import conversion_join
    ev = spark.read.parquet(_t(sf_dir, "events"))
    out = conversion_join(ev.filter(F.col("event_type") == "click"),
                          ev.filter(F.col("event_type") == "purchase"))
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("click_id").cast("bigint").alias("click_id"),
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        "click_ts", "purchase_ts", "purchase_value")


def o_conversion_join():
    return """
SELECT c.user_id::BIGINT AS user_id, c.event_id::BIGINT AS click_id,
       p.event_id::BIGINT AS purchase_id, c.ts AS click_ts,
       p.ts AS purchase_ts, round(p.value, 2) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"""


def q_corpus_expectations(spark, sf_dir):
    """Data-contract validation gate over documents + events: null keys,
    empty text, out-of-enum event types, null timestamps, negative
    values, duplicate event ids — all row-local checks folded into ONE
    aggregation pass per table, uniqueness as its own key-shuffle row."""
    from .operators import quality
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    ev = spark.read.parquet(_t(sf_dir, "events"))
    doc_checks = quality.check_constraints(docs, {
        "doc_id_null": F.col("doc_id").isNull(),
        "doc_text_empty": F.col("text").isNull()
                          | (F.length("text") == 0),
        "doc_lang_missing": F.col("lang").isNull(),
    })
    ev_checks = quality.check_constraints(ev, {
        "event_ts_null": F.col("ts").isNull(),
        "event_user_null": F.col("user_id").isNull(),
        "event_type_unknown": ~F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"),
        "event_value_negative": F.col("value") < 0,
    })
    uniq = quality.check_unique(ev, ["event_id"])
    return doc_checks.unionByName(ev_checks).unionByName(uniq)


def o_corpus_expectations():
    return """
SELECT 'doc_id_null' AS check_name,
       count(*) FILTER (doc_id IS NULL)::BIGINT AS n_violations,
       round(count(*) FILTER (doc_id IS NULL) / count(*), 4)
         AS violation_rate
FROM documents
UNION ALL
SELECT 'doc_text_empty',
       count(*) FILTER (text IS NULL OR length(text) = 0)::BIGINT,
       round(count(*) FILTER (text IS NULL OR length(text) = 0)
             / count(*), 4)
FROM documents
UNION ALL
SELECT 'doc_lang_missing', count(*) FILTER (lang IS NULL)::BIGINT,
       round(count(*) FILTER (lang IS NULL) / count(*), 4)
FROM documents
UNION ALL
SELECT 'event_ts_null', count(*) FILTER (ts IS NULL)::BIGINT,
       round(count(*) FILTER (ts IS NULL) / count(*), 4)
FROM events
UNION ALL
SELECT 'event_user_null', count(*) FILTER (user_id IS NULL)::BIGINT,
       round(count(*) FILTER (user_id IS NULL) / count(*), 4)
FROM events
UNION ALL
SELECT 'event_type_unknown',
       count(*) FILTER (event_type NOT IN
         ('click', 'view', 'purchase', 'signup', 'error'))::BIGINT,
       round(count(*) FILTER (event_type NOT IN
         ('click', 'view', 'purchase', 'signup', 'error')) / count(*), 4)
FROM events
UNION ALL
SELECT 'unique_event_id',
       (count(*) - count(DISTINCT event_id))::BIGINT,
       round((count(*) - count(DISTINCT event_id)) / count(*), 4)
FROM events
UNION ALL
SELECT 'event_value_negative',
       count(*) FILTER (value < 0)::BIGINT,
       round(count(*) FILTER (value < 0) / count(*), 4)
FROM events"""


def q_grouped_topk(spark, sf_dir):
    """Top-3 terms per language by frequency: the per-group top-k idiom
    done scale-safe — the window runs over the AGGREGATED (lang, term)
    count table (vocab-sized), never the exploded token stream; the
    count itself has the salted two-phase path (`vocab_topk`) when a
    single term dominates."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    counts = (docs.select("lang",
                          F.explode(F.split(F.lower("text"), " "))
                          .alias("term"))
              .groupBy("lang", "term")
              .agg(F.count("*").cast("bigint").alias("n")))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(),
                                           F.col("term"))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("lang", "term", "n",
                    F.col("rnk").cast("int").alias("rnk")))


def o_grouped_topk():
    return """
SELECT lang, term, n, rnk FROM (
  SELECT lang, term, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, term)::INT AS rnk
  FROM (
    SELECT lang, term, count(*)::BIGINT AS n
    FROM (SELECT lang,
                 unnest(string_split(lower(text), ' ')) AS term
          FROM documents)
    GROUP BY lang, term
  )
) WHERE rnk <= 3"""


def q_quality_outliers(spark, sf_dir):
    """Per-language statistical outlier flagging: docs whose token count
    deviates > 2 sigma from their language's mean (corpus-monitoring /
    filter-debug primitive).  One aggregate pass for the per-lang
    moments, broadcast back over the scan — no shuffle of the docs."""
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "lang",
                    F.size(F.split(F.lower("text"), " "))
                    .alias("n_tokens")))
    stats = (docs.groupBy("lang")
             .agg(F.avg("n_tokens").alias("mu"),
                  F.stddev_pop("n_tokens").alias("sigma")))
    z = F.round((F.col("n_tokens") - F.col("mu")) / F.col("sigma"), 4)
    return (docs.join(F.broadcast(stats), "lang")
            .withColumn("z", z)
            .filter(F.abs(F.col("z")) > 2.0)
            .select("doc_id", "lang",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "z"))


def o_quality_outliers():
    return """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents
),
stats AS (
  SELECT lang, avg(n_tokens) AS mu, stddev_pop(n_tokens) AS sigma
  FROM toks GROUP BY lang
)
SELECT t.doc_id, t.lang, t.n_tokens::BIGINT AS n_tokens,
       round((t.n_tokens - s.mu) / s.sigma, 4) AS z
FROM toks t JOIN stats s USING (lang)
WHERE abs(round((t.n_tokens - s.mu) / s.sigma, 4)) > 2.0"""


def q_kmv_distinct(spark, sf_dir):
    """Mergeable K-Minimum-Values cardinality sketch: distinct users per
    event type at k=64 (two-phase salted partials, bounded merge — the
    persistable alternative to HLL's opaque registers).  The oracle
    rebuilds the SKETCH bit-exactly (md5-derived 60-bit hashes), so the
    gate covers sketch contents + estimate, not a tolerance band."""
    from .operators import sketch
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (sketch.kmv_sketch(ev, "event_type", "user_id",
                              k=64, n_salts=8)
            .withColumnRenamed("grp", "event_type"))


def o_kmv_distinct():
    return """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT::BIGINT
           AS h
  FROM events
),
sk AS (
  SELECT event_type, list_slice(list_sort(list(h)), 1, 64) AS sketch
  FROM h GROUP BY event_type
)
SELECT event_type, len(sketch)::BIGINT AS sketch_size,
       round(CASE WHEN len(sketch) < 64 THEN len(sketch)::DOUBLE
             ELSE 63.0 * 1152921504606846976.0 / sketch[64] END, 4)
         AS est_distinct,
       md5(array_to_string(sketch, ',')) AS sketch_digest
FROM sk"""


def q_cms_freq(spark, sf_dir):
    """Count-min-sketch point frequencies: build a depth=4 × width=256
    CMS over events.user_id (ONE bounded aggregation — at most
    depth·width cells survive regardless of input size), then probe the
    first 32 user ids map-side against the broadcast sketch.  The oracle
    rebuilds the sketch cell-exactly from the same md5 hash family, so
    the gate covers the sketch contents, not a tolerance band; estimates
    are upper bounds (est ≥ true) by construction."""
    from .operators import sketch
    ev = spark.read.parquet(_t(sf_dir, "events"))
    cms = sketch.cms_build(ev, "user_id", depth=4, width=256)
    probes = spark.range(1, 33).withColumnRenamed("id", "user_id")
    return (sketch.cms_query(cms, probes, "user_id", depth=4, width=256)
            .select(F.col("item").cast("bigint").alias("user_id"), "est"))


def o_cms_freq():
    return """
WITH rs AS (SELECT unnest(generate_series(0, 3)) AS r),
cells AS (
  SELECT r,
         ('0x' || substr(md5(r::VARCHAR || '|' || user_id::VARCHAR),
                         1, 8))::UBIGINT % 256 AS c,
         count(*)::BIGINT AS cnt
  FROM events CROSS JOIN rs
  GROUP BY r, c
),
probes AS (SELECT unnest(generate_series(1, 32)) AS user_id),
pc AS (
  SELECT user_id, r,
         ('0x' || substr(md5(r::VARCHAR || '|' || user_id::VARCHAR),
                         1, 8))::UBIGINT % 256 AS c
  FROM probes CROSS JOIN rs
)
SELECT user_id::BIGINT AS user_id,
       min(coalesce(cnt, 0))::BIGINT AS est
FROM pc LEFT JOIN cells USING (r, c)
GROUP BY user_id"""


def q_cms_join_size(spark, sf_dir):
    """Pre-execution join-size estimation from sketches: |clicks ⋈
    purchases on user_id| bounded above by the count-min inner-product
    estimator — the planner reads two depth×width sketches instead of
    scanning either side (pick broadcast/shuffle/salt BEFORE the join).
    Oracle rebuilds both sketches and the min-of-dot-products from the
    same md5 family, value-exact."""
    from .operators import sketch
    ev = spark.read.parquet(_t(sf_dir, "events"))
    a = sketch.cms_build(ev.filter(F.col("event_type") == "click"),
                         "user_id", depth=4, width=256)
    b = sketch.cms_build(ev.filter(F.col("event_type") == "purchase"),
                         "user_id", depth=4, width=256)
    return sketch.cms_join_size(spark, a, b, depth=4)


def o_cms_join_size():
    cell = ("('0x' || substr(md5(r::VARCHAR || '|' || user_id::VARCHAR),"
            " 1, 8))::UBIGINT % 256")
    return f"""
WITH rs AS (SELECT unnest(generate_series(0, 3)) AS r),
a AS (
  SELECT r, {cell} AS c, count(*)::BIGINT AS cnt
  FROM events CROSS JOIN rs WHERE event_type = 'click' GROUP BY r, c
),
b AS (
  SELECT r, {cell} AS c, count(*)::BIGINT AS cnt
  FROM events CROSS JOIN rs WHERE event_type = 'purchase' GROUP BY r, c
),
dots AS (
  SELECT rs.r, coalesce(sum(a.cnt * b.cnt), 0) AS dot
  FROM rs LEFT JOIN a ON a.r = rs.r
          LEFT JOIN b ON b.r = a.r AND b.c = a.c
  GROUP BY rs.r
)
SELECT min(dot)::BIGINT AS est_join_size FROM dots"""


def q_resample_daily(spark, sf_dir):
    """Time-series gap filling: per-user daily event counts with missing
    days materialized as 0 between each user's first and last activity —
    the resample step every windowed model needs before training.
    Per-user `sequence(first_day, last_day, 1 day)` explode keeps the
    generated rows proportional to the OUTPUT, joined back left; no
    calendar cross join (which at 10^12 keys × days would dwarf the
    data)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    per_day = (ev.groupBy(F.col("user_id").cast("bigint")
                          .alias("user_id"),
                          F.date_trunc("day", F.col("ts")).alias("day"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    days = (per_day.groupBy("user_id")
            .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
            .select("user_id", F.explode(F.expr(
                "sequence(d0, d1, interval 1 day)")).alias("day")))
    return (days.join(per_day, ["user_id", "day"], "left")
            .select("user_id", "day",
                    F.coalesce("n_events", F.lit(0)).cast("bigint")
                    .alias("n_events")))


def o_resample_daily():
    return """
WITH per_day AS (
  SELECT user_id::BIGINT AS user_id, date_trunc('day', ts) AS day,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, unnest(generate_series(min(day), max(day),
                                         INTERVAL 1 DAY)) AS day
  FROM per_day GROUP BY user_id
)
SELECT s.user_id, s.day,
       coalesce(p.n_events, 0)::BIGINT AS n_events
FROM spans s LEFT JOIN per_day p USING (user_id, day)"""


BM25_TERMS = ["join", "merge", "vector", "spark"]


def q_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (Lucene idf variant): top-20 docs for a
    4-term query.  Posting-list-sized explode (filtered to query terms in
    the scan stage), broadcast df/avgdl, TakeOrdered top-k — the audit /
    subset-pull primitive of a corpus pipeline."""
    from .operators import search
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (search.bm25_topk(docs, BM25_TERMS, k=20)
            .withColumn("doc_id", F.col("doc_id").cast("bigint")))


def o_bm25_topk():
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM base),
toks AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM toks
  WHERE term IN ({terms}) GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT doc_id, bm25 FROM (
  SELECT tf.doc_id,
         round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4)
           AS bm25
  FROM tf JOIN dft USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
) ORDER BY bm25 DESC, doc_id LIMIT 20"""


def q_bm25_index_topk(spark, sf_dir):
    """BM25 served from the MATERIALIZED inverted index (build-once
    posting lists partitioned by term-hash bucket, partition-pruned
    query).  Result must equal the inline ``bm25_topk`` exactly — the
    oracle is the same SQL, so the gate proves the index round-trip is
    lossless."""
    from pathlib import Path
    from .operators import search
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sf_tag = Path(sf_dir.rstrip("/")).name
    path = str(Path(__file__).resolve().parent.parent / ".artifacts"
               / f"text_index_{sf_tag}_{os.getpid()}")
    search.build_text_index(docs, path)
    return (search.query_text_index(spark, path, BM25_TERMS, k=20)
            .withColumn("doc_id", F.col("doc_id").cast("bigint")))


def q_bm25_index_incremental(spark, sf_dir):
    """BM25 served from an INCREMENTALLY grown inverted index
    (operators/search.append_text_index + compact_text_index): build
    over even doc_ids, append the odd batch as a second segment,
    COMPACT the segments back to one under the atomic manifest flip,
    then query.  BM25's sufficient statistics (tf/dl per doc, df and
    (n_docs, avgdl) per corpus) all fold across segments, so the oracle
    is the plain full-corpus BM25 — a value-exact match proves both the
    append and the compaction are lossless."""
    from pathlib import Path
    from .operators import search
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sf_tag = Path(sf_dir.rstrip("/")).name
    path = str(Path(__file__).resolve().parent.parent / ".artifacts"
               / f"text_index_inc_{sf_tag}_{os.getpid()}")
    search.build_text_index(docs.filter("doc_id % 2 = 0"), path)
    search.append_text_index(docs.filter("doc_id % 2 = 1"), path)
    search.compact_text_index(spark, path)
    return (search.query_text_index(spark, path, BM25_TERMS, k=20)
            .withColumn("doc_id", F.col("doc_id").cast("bigint")))


def q_bm25_index_stats(spark, sf_dir):
    """Observability census of a SEGMENTED BM25 index
    (operators/search.text_index_stats) — the pre-serve go/no-go row:
    posting volume, vocabulary size, the widest posting list (the
    degenerate-term scan bound), corpus stats, segment count.  Built as
    build(evens) + append(odds) so the census provably folds across
    segments; the oracle recomputes every figure from the raw
    documents, so a value-exact match proves the segmented index holds
    exactly the corpus's posting statistics."""
    from pathlib import Path
    from .operators import search
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    sf_tag = Path(sf_dir.rstrip("/")).name
    path = str(Path(__file__).resolve().parent.parent / ".artifacts"
               / f"text_index_stats_{sf_tag}_{os.getpid()}")
    search.build_text_index(docs.filter("doc_id % 2 = 0"), path)
    search.append_text_index(docs.filter("doc_id % 2 = 1"), path)
    return search.text_index_stats(spark, path)


def o_bm25_index_stats():
    return """
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
tf AS (
  SELECT doc_id, unnest(toks) AS term FROM base
),
posting AS (SELECT DISTINCT doc_id, term FROM tf),
dfs AS (SELECT term, count(*) AS df FROM posting GROUP BY term)
SELECT (SELECT count(*) FROM posting)::BIGINT AS n_postings,
       (SELECT count(*) FROM dfs)::BIGINT AS n_terms,
       (SELECT max(df) FROM dfs)::BIGINT AS max_df,
       (SELECT count(*) FROM base)::BIGINT AS n_docs,
       (SELECT round(avg(len(toks)), 4) FROM base) AS avgdl,
       2::INT AS n_segments"""


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query vector (queries = vec_id < 5).
    Baseline ANN path; ranks on the rounded score for cross-engine
    determinism.  Scale path: broadcast the query set, partial top-k per
    partition via the window, no all-pairs shuffle."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    q = (similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    c = (similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
         .select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")))
    return (similarity.brute_force_topk(q, c, k=5)
            .withColumn("neighbor_id", F.col("neighbor_id").cast("bigint")))


def o_similarity_topk():
    return """
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id::BIGINT AS neighbor_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4)
           AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) DESC,
                    c.vec_id ASC)::INT AS rnk
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 5 AND c.vec_id >= 5
) WHERE rnk <= 5"""


def q_lang_id(spark, sf_dir):
    """Stopword-ratio language heuristic (training-data lang filter)."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .withColumn("toks", F.split(F.lower("text"), " ")))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size("toks").cast("int").alias("n_tokens"),
        F.round(F.expr(f"size(filter(toks, t -> t IN ({stop})))") / F.size("toks"), 4)
        .alias("stop_ratio"),
        F.when(F.expr(f"size(filter(toks, t -> t IN ({stop})))") / F.size("toks")
               >= 0.1, "en").otherwise("unk").alias("lang_guess"))


def o_lang_id():
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
SELECT doc_id::BIGINT AS doc_id, len(toks)::INT AS n_tokens,
       round(len(list_filter(toks, t -> t IN ({stop}))) / len(toks), 4) AS stop_ratio,
       CASE WHEN len(list_filter(toks, t -> t IN ({stop}))) / len(toks) >= 0.1
            THEN 'en' ELSE 'unk' END AS lang_guess
FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)"""


def q_quality_score(spark, sf_dir):
    """Document quality features: token count, mean word length, non-alnum
    ratio, composite score."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    n_tok = F.size(F.split("text", " "))
    alpha_chars = F.length(F.regexp_replace("text", "[^a-z0-9]", ""))
    punct = F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_tok.cast("int").alias("n_tokens"),
        F.round(alpha_chars / n_tok, 4).alias("avg_word_len"),
        F.round(punct / F.length("text"), 4).alias("punct_ratio"),
        F.round(F.least(n_tok / F.lit(100.0), F.lit(1.0))
                * (1 - punct / F.length("text")), 4).alias("quality"))


def o_quality_score():
    return """
SELECT doc_id::BIGINT AS doc_id,
       len(string_split(text, ' '))::INT AS n_tokens,
       round(length(regexp_replace(text, '[^a-z0-9]', '', 'g'))
             / len(string_split(text, ' ')), 4) AS avg_word_len,
       round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
             / length(text), 4) AS punct_ratio,
       round(least(len(string_split(text, ' ')) / 100.0, 1.0)
             * (1 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                    / length(text)), 4) AS quality
FROM documents"""


def q_token_count(spark, sf_dir):
    """Whitespace + word-regex token counts (BPE-ish proxy)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(F.split("text", r"\s+")).cast("int").alias("ws_tokens"),
        F.expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").cast("int")
        .alias("word_tokens"))


def o_token_count():
    return r"""
SELECT doc_id::BIGINT AS doc_id,
       len(str_split_regex(text, '\s+'))::INT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+'))::INT AS word_tokens
FROM documents"""


def q_doc_fingerprint(spark, sf_dir):
    """Order-insensitive content fingerprint (md5 of the sorted distinct
    token set) — dedup key robust to token shuffling."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(
            F.split(F.lower("text"), " "))), " ")).alias("fingerprint"))


def o_doc_fingerprint():
    return ("SELECT doc_id::BIGINT AS doc_id, "
            "md5(array_to_string(list_sort(list_distinct("
            "string_split(lower(text), ' '))), ' ')) AS fingerprint "
            "FROM documents")


CASE_TYPE_FIXTURES = [
    (0, "assessee challenged the order under the income-tax act provisions"),
    (1, "charged under section 302 of the penal code and the arms act"),
    (2, "divorce petition under the marriage act before the family court"),
    (3, "claim under the motor vehicles act for the accident compensation"),
    (4, "dispute over the land acquisition act award and the stamp act"),
    (5, "reference under the industrial disputes act regarding retrenchment"),
    (6, "writ petition under article 226 of the constitution of india"),
    (7, "proceedings under the sarfaesi act read with the rdb act"),
    (8, "a plain contract dispute mentioning no statute keywords at all"),
    (9, "penal code charge in a matter also citing the income-tax act"),
]


def q_case_type(spark, sf_dir):
    """The reference's naive case-type classification
    (representative_judgments_sample/README.md): 8 types, each defined by
    the act-name phrases of its IndianKanoon query; first matching type
    in table order wins, 'other' on no match.  A 110-phrase
    constant-folded CASE chain over lower(text) — pure codegen
    projection, the same shape as statute_canon."""
    from .core.casetypes import CASE_TYPE_KEYWORDS
    df = (spark.createDataFrame(CASE_TYPE_FIXTURES, ["doc_id", "text"])
          .withColumn("_lt", F.lower("text")))
    expr = F.lit("other")
    for name, phrases in reversed(CASE_TYPE_KEYWORDS):
        cond = None
        for p in phrases:
            c = F.instr(F.col("_lt"), p) > 0
            cond = c if cond is None else (cond | c)
        expr = F.when(cond, F.lit(name)).otherwise(expr)
    return df.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                     expr.alias("case_type"))


def o_case_type():
    from .core.casetypes import CASE_TYPE_KEYWORDS
    whens = []
    for name, phrases in CASE_TYPE_KEYWORDS:
        cond = " OR ".join(f"instr(_lt, {_sql_quote(p)}) > 0"
                           for p in phrases)
        whens.append(f"WHEN ({cond}) THEN {_sql_quote(name)}")
    rows = ", ".join(f"({i}, {_sql_quote(t)})" for i, t in CASE_TYPE_FIXTURES)
    return f"""
WITH f(doc_id, text) AS (VALUES {rows}),
l AS (SELECT doc_id, lower(text) AS _lt FROM f)
SELECT doc_id::BIGINT AS doc_id,
       CASE {' '.join(whens)} ELSE 'other' END AS case_type
FROM l"""


def q_repetition_score(spark, sf_dir):
    """Within-document repetition ratio (corpus-filtering signal: highly
    repetitive docs are boilerplate/spam): 1 - distinct_3grams/total_3grams,
    0 for docs too short to have a 3-gram.  Pure projection over the
    token array — no shuffle, codegen'd."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = F.split(F.lower("text"), " ")
    total = F.greatest(F.size(toks) - F.lit(2), F.lit(0))
    # same zip-of-shifted-slices shingle construction as dedup.shingle_rows,
    # WITHOUT array_distinct (we need the total count), distinct via set size
    shingles = F.expr(
        "CASE WHEN size(toks) >= 3 THEN "
        "transform(arrays_zip(slice(toks, 1, size(toks)-2), "
        "slice(toks, 2, size(toks)-2), slice(toks, 3, size(toks)-2)), "
        "x -> concat(x['0'], ' ', x['1'], ' ', x['2'])) ELSE array() END")
    return (docs.withColumn("toks", toks)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    total.cast("bigint").alias("n_3grams"),
                    F.when(total > 0,
                           F.round(1 - F.size(F.array_distinct(shingles))
                                   / total, 4))
                    .otherwise(F.lit(0.0)).alias("repetition")))


def o_repetition_score():
    return r"""
SELECT doc_id::BIGINT AS doc_id,
       greatest(len(toks) - 2, 0)::BIGINT AS n_3grams,
       CASE WHEN len(toks) >= 3 THEN
         round(1 - len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       for i in generate_series(1, len(toks) - 2)]))
                   / (len(toks) - 2), 4)
       ELSE 0.0 END AS repetition
FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)"""


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head: top-50 tokens by frequency THROUGH the
    salted two-phase aggregation (operators/skew.py) — token frequency is
    the canonical power-law skew ('the'/'of' dominate like IPC/CrPC in
    the statute dimension), and the salted path is result-identical to a
    plain groupBy, which is exactly what the oracle checks.  The final
    top-k compiles to TakeOrderedAndProject (partial top-k per
    partition, no global sort)."""
    from .operators import skew
    toks = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.explode(F.split(F.lower("text"), " ")).alias("token")))
    counts = skew.salted_two_phase_count(toks, "token", n_salts=16)
    return (counts.orderBy(F.desc("n"), F.asc("token")).limit(50)
            .select("token", F.col("n").cast("bigint").alias("n")))


def o_vocab_topk():
    return """
SELECT token, count(*)::BIGINT AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 50"""


def q_collocations(spark, sf_dir):
    """Collocation mining: adjacent word bigrams with count ≥ 5 scored
    by PMI − ln 2 against unigram marginals — the classic corpus-linguistics
    signal for multiword expressions ('supreme court', 'penal code').
    Bigrams come from the zip-shift device (two O(1) field reads per
    position, the shingle_rows trick at n=2); counts are grouped
    aggregates; marginals and the total broadcast into one projection;
    the score is a single log, rounded — the statute-PMI shape applied
    to the token stream.  The unigram marginals count both bigram slots
    (total 2t), so log(n·2t / (c1·c2)) is PMI − ln 2: rankings are PMI's,
    the ``pmi`` column is offset by the constant ln 2."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.select(F.split(F.lower("text"), " ").alias("toks"))
    big = (toks.select(F.explode(F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform("
        "arrays_zip(slice(toks, 1, size(toks) - 1), "
        "slice(toks, 2, size(toks) - 1)), x -> struct(x['0'] AS w1, "
        "x['1'] AS w2)) ELSE array() END")).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .filter(F.col("w1").rlike("^[a-z]+$")
                & F.col("w2").rlike("^[a-z]+$")))
    bc = (big.groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("n")).filter("n >= 5"))
    uni = (big.select(F.col("w1").alias("w"))
           .unionByName(big.select(F.col("w2").alias("w")))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    tot = big.agg(F.count(F.lit(1)).alias("t"))
    return (bc
            .join(uni.select(F.col("w").alias("w1"),
                             F.col("c").alias("c1")), "w1")
            .join(uni.select(F.col("w").alias("w2"),
                             F.col("c").alias("c2")), "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", F.col("n").cast("bigint").alias("n"),
                    F.round(F.log(F.col("n") * 2 * F.col("t")
                                  / (F.col("c1") * F.col("c2"))), 4)
                    .alias("pmi")))


def o_collocations():
    return """
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
),
big AS (
  SELECT b[1] AS w1, b[2] AS w2 FROM (
    SELECT unnest([[toks[i], toks[i+1]]
                   for i in generate_series(1,
                       greatest(len(toks) - 1, 0))]) AS b
    FROM toks)
  WHERE regexp_matches(b[1], '^[a-z]+$')
    AND regexp_matches(b[2], '^[a-z]+$')
),
bc AS (SELECT w1, w2, count(*) AS n FROM big GROUP BY w1, w2
       HAVING count(*) >= 5),
uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT w1 AS w FROM big UNION ALL SELECT w2 FROM big) GROUP BY w
),
tot AS (SELECT count(*) AS t FROM big)
SELECT bc.w1, bc.w2, bc.n::BIGINT AS n,
       round(ln(bc.n * 2.0 * tot.t / (u1.c * u2.c)), 4) AS pmi
FROM bc JOIN uni u1 ON bc.w1 = u1.w
        JOIN uni u2 ON bc.w2 = u2.w, tot"""


def q_exact_median_quantity(spark, sf_dir):
    """EXACT grouped order statistics (p25/median/p75 of l_quantity per
    returnflag) WITHOUT sorting the fact table: l_quantity has a
    bounded domain (1..50), so a (flag, value) histogram + a cumulative
    window over ≤50 rows per group + three conditional rank picks give
    exact discrete quantiles — the value-histogram device that replaces
    approx_percentile when the domain is enumerable (status codes,
    ratings, bounded counts).  Ranks are ceil fractions in INTEGER
    arithmetic ((n+3) div 4 etc.) so both engines pick identically."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    h = (li.groupBy(F.col("l_returnflag").alias("f"),
                    F.col("l_quantity").cast("double").alias("v"))
         .agg(F.count(F.lit(1)).alias("c")))
    t = h.groupBy("f").agg(F.sum("c").alias("n"))
    from pyspark.sql import Window
    w = (Window.partitionBy("f").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (h.join(t, "f")
           .withColumn("cum", F.sum("c").over(w)))
    r25 = F.expr("(n + 3) DIV 4")
    r50 = F.expr("(n + 1) DIV 2")
    r75 = F.expr("(3 * n + 3) DIV 4")
    return (cum.groupBy(F.col("f").alias("l_returnflag"))
            .agg(F.max("n").cast("bigint").alias("n"),
                 F.min(F.when(F.col("cum") >= r25, F.col("v")))
                 .alias("p25"),
                 F.min(F.when(F.col("cum") >= r50, F.col("v")))
                 .alias("median"),
                 F.min(F.when(F.col("cum") >= r75, F.col("v")))
                 .alias("p75")))


def o_exact_median_quantity():
    return """
WITH h AS (
  SELECT l_returnflag AS f, l_quantity::DOUBLE AS v, count(*) AS c
  FROM lineitem GROUP BY f, v
),
t AS (SELECT f, sum(c) AS n FROM h GROUP BY f),
cum AS (
  SELECT h.f, h.v, t.n,
         sum(h.c) OVER (PARTITION BY h.f ORDER BY h.v) AS cum
  FROM h JOIN t USING (f)
)
SELECT f AS l_returnflag, MAX(n)::BIGINT AS n,
       MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS p25,
       MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS median,
       MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS p75
FROM cum GROUP BY f"""


def q_tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keywords (top-3) over a bounded doc subset:
    tf·log(N/df) with smooth-free idf, ties → lexicographic — the
    keyword-extraction primitive under tagging/routing pipelines.
    Shapes: term counts are one grouped aggregate; df and N are tiny
    broadcast joins; the per-doc top-3 is a per-doc window (bounded by
    the doc's vocabulary, never a global sort).  Scored to 4dp with a
    deterministic (score desc, term asc) pick so the cross-engine
    hash is stable."""
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .filter(F.col("doc_id") < 500))
    toks = (docs.select("doc_id",
                        F.explode(F.split(F.lower("text"), " "))
                        .alias("term"))
            .filter(F.col("term").rlike("^[a-z]{3,}$")))
    tf = (toks.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (tf.join(df, "term").crossJoin(F.broadcast(n))
            .withColumn("score", F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df")), 4))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", F.col("rk").cast("bigint").alias("rk"),
                    "term", "score"))


def o_tfidf_keywords():
    return """
WITH docs AS (SELECT * FROM documents WHERE doc_id < 500),
toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
    FROM docs)
  WHERE regexp_matches(t, '^[a-z]{3,}$')
),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM toks GROUP BY doc_id, term),
idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM docs),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n * 1.0 / idf.df), 4) AS score
  FROM tf JOIN idf USING (term), n
)
SELECT doc_id, rk, term, score FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rk
  FROM scored)
WHERE rk <= 3"""


def q_bpe_pair_stats(spark, sf_dir):
    """BPE merge-candidate census — iteration 0 of byte-pair-encoding
    tokenizer training: adjacent symbol-pair frequencies over the
    corpus, top-50 = the merge table head.  Words bounded to 2..20
    lowercase chars pin per-row fan-out at ≤19 pairs (the scale
    contract); the pair space is ≤26² keys so partial (map-side)
    aggregation collapses the shuffle to a few hundred rows per
    partition — extreme key skew with NO salting needed, the case
    where two-phase hash aggregation alone is the right plan.  Each
    further BPE iteration is this same census re-run over the merged
    symbol sequences; the loop is driver orchestration, the heavy step
    stays this shape."""
    words = (spark.read.parquet(_t(sf_dir, "documents"))
             .select(F.explode(F.split(F.lower("text"), " "))
                     .alias("w"))
             .filter(F.col("w").rlike("^[a-z]+$")
                     & F.length("w").between(2, 20)))
    pairs = words.select(F.explode(F.expr(
        "transform(sequence(1, length(w) - 1), "
        "i -> substring(w, i, 2))")).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(50))


def o_bpe_pair_stats():
    return """
WITH w AS (
  SELECT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                 FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 20
),
pos AS (SELECT w, unnest(range(1, length(w))) AS i FROM w)
SELECT substr(w, i, 2) AS pair, count(*)::BIGINT AS n
FROM pos GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 8 on the 64-bit nibble-majority
    fingerprint) over the FULL documents table — the pigeonhole-banded
    equi-join makes the unbounded form scale-safe, and the result is
    EXACT, so the all-pairs DuckDB form below is a true oracle."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    return (dedup.simhash_near_pairs(docs, max_hamming=8)
            .select(F.col("doc_a").cast("bigint").alias("doc_a"),
                    F.col("doc_b").cast("bigint").alias("doc_b"), "hamming"))


def o_simhash_pairs():
    # 64-bit fingerprint: bit i = majority vote of bit (i%4) of md5 hex
    # nibble (i//4) — identical arithmetic to dedup.simhash_segments; the
    # oracle verifies the banded Spark plan against brute-force all-pairs
    hexp = "0123456789abcdef"
    votes = ", ".join(
        f"sum(CASE WHEN ((instr('{hexp}', substring(md5(tok), {i // 4 + 1}, 1)) - 1) "
        f"& {1 << (i % 4)}) > 0 THEN 1 ELSE -1 END) AS v{i}" for i in range(64))
    from .operators.dedup import segment_sizes
    segs, start = [], 0
    for s, width in enumerate(segment_sizes(64, 9)):   # max_hamming=8 → 9 segs
        bits = " + ".join(
            f"(CASE WHEN v{start + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(width))
        segs.append(f"CAST({bits} AS BIGINT) AS s{s}")
        start += width
    ham = " + ".join(f"bit_count(xor(a.s{s}, b.s{s}))" for s in range(9))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), votes AS (
  SELECT doc_id, {votes} FROM toks GROUP BY doc_id
), sh AS (
  SELECT doc_id, {', '.join(segs)} FROM votes
)
SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
       ({ham})::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE ({ham}) <= 8"""


def q_embedding_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥ 0.35 — the synthetic vectors are
    near-orthogonal; production near-dup uses ≥ 0.95) over the FULL
    embeddings table via LSH buckets: candidate generation is an equi-join
    on (table, signature), no all-pairs join in the plan.  The oracle
    mirrors the identical deterministic hyperplanes, so the approximate-
    by-bucketing result is still exactly checkable."""
    from .operators import similarity
    # single-file parquet → one split; re-split so signature computation
    # parallelizes (production scans yield balanced splits on their own)
    emb = (spark.read.parquet(_t(sf_dir, "embeddings"))
           .repartition(spark.sparkContext.defaultParallelism, "vec_id"))
    # dim=64 matches the testdata embeddings; the operator takes dim as a
    # parameter for other corpora
    return (similarity.lsh_near_pairs(emb, threshold=0.35, dim=64)
            .select(F.col("id_a").cast("bigint").alias("id_a"),
                    F.col("id_b").cast("bigint").alias("id_b"), "cos_sim"))


def o_embedding_near_pairs():
    from .operators.similarity import hyperplanes
    dim, n_planes, n_tables = 64, 8, 2
    sig_selects = []
    for t in range(n_tables):
        bits = []
        for j, plane in enumerate(hyperplanes(dim, n_planes, t)):
            lit = "[" + ", ".join(str(x) for x in plane) + "]::DOUBLE[]"
            bits.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0 "
                        f"THEN {1 << j} ELSE 0 END)")
        sig_selects.append(f"SELECT vec_id, ({' + '.join(bits)})::INT AS sig, "
                           f"{t} AS tbl FROM e")
    sigs = "\nUNION ALL\n".join(sig_selects)
    cos = ("round(list_dot_product(ea.v, eb.v) / "
           "(sqrt(list_dot_product(ea.v, ea.v)) * "
           "sqrt(list_dot_product(eb.v, eb.v))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS ({sigs}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a::BIGINT AS id_a, c.id_b::BIGINT AS id_b, {cos} AS cos_sim
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
WHERE {cos} >= 0.35"""


def q_range_partition_hist(spark, sf_dir):
    """Deterministic range-partition plan: md5-hash sample of orders
    (retry/resume-stable — Spark's own RangePartitioner sample is not
    reproducible), equal-depth cuts at integer-exact ranks
    ceil(i·n/32), then every row routed bucket = #cuts < value via ONE
    broadcast cut array — zero shuffles of the table (plan-audited).
    The histogram output exposes the planned layout: per-bucket row
    count and [lo, hi] value range.  Oracle rebuilds sample, cuts, and
    routing from the same hash family — bit-exact, no float
    interpolation anywhere."""
    from .plans import partitioning as rp
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cuts = rp.range_cuts(orders, "o_totalprice", "o_orderkey",
                         n_buckets=32, sample_rate=0.05)
    b = rp.assign_buckets(orders, "o_totalprice", cuts)
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


def o_range_partition_hist():
    return """
WITH sample AS (
  SELECT o_totalprice AS v FROM orders
  WHERE ('0x' || substr(md5('rp1' || o_orderkey::VARCHAR),
                        1, 8))::UBIGINT % 1000000 < 50000
),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM sample
),
positions AS (
  SELECT DISTINCT ceil(i * (SELECT count(*) FROM sample) / 32) AS p
  FROM (SELECT unnest(generate_series(1, 31)) AS i)
),
cuts AS (SELECT v AS cut FROM ranked JOIN positions ON rn = p),
b AS (
  SELECT o_totalprice,
         (SELECT count(*) FROM cuts WHERE cut < o_totalprice) AS bucket
  FROM orders
)
SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM b GROUP BY bucket"""


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering layout — the multi-dimension file
    layout behind Delta/Iceberg OPTIMIZE ZORDER: each dimension
    range-bucketed to 4 bits via deterministic sampled cuts, bits
    interleaved into zkey by pure Catalyst shift/AND arithmetic (zero
    shuffles), then the planned layout exposed as 32 zkey ranges with
    their zone maps (min/max per dimension).  Tight boxes in BOTH
    dimensions at once are what make single-column predicates prune
    files under either column — test_partitioning.py measures the
    pruning win against a 1-d sorted layout.  Oracle rebuilds samples,
    cuts, buckets, and the interleave bit-for-bit."""
    from .plans import partitioning as rp
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cuts_p = rp.range_cuts(orders, "o_totalprice", "o_orderkey",
                           n_buckets=16, sample_rate=0.05, salt="z1")
    cuts_c = rp.range_cuts(orders, "o_custkey", "o_orderkey",
                           n_buckets=16, sample_rate=0.05, salt="z2")
    b = rp.assign_buckets(orders, "o_totalprice", cuts_p, "bp")
    b = rp.assign_buckets(b, "o_custkey", cuts_c, "bc")
    z = rp.zorder_key(b, ["bp", "bc"], bits=4)
    return (z.groupBy(F.floor(F.col("zkey") / 8).cast("bigint")
                      .alias("zrange"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.round(F.min("o_totalprice"), 2).alias("price_lo"),
                 F.round(F.max("o_totalprice"), 2).alias("price_hi"),
                 F.min("o_custkey").cast("bigint").alias("cust_lo"),
                 F.max("o_custkey").cast("bigint").alias("cust_hi")))


def o_zorder_layout():
    interleave = " + ".join(
        f"(((bp >> {j}) & 1) << {2 * j}) + (((bc >> {j}) & 1) << {2 * j + 1})"
        for j in range(4))
    return f"""
WITH sp AS (
  SELECT o_totalprice AS v FROM orders
  WHERE ('0x' || substr(md5('z1' || o_orderkey::VARCHAR),
                        1, 8))::UBIGINT % 1000000 < 50000
),
rp_ AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM sp),
pp AS (SELECT DISTINCT ceil(i * (SELECT count(*) FROM sp) / 16) AS p
       FROM (SELECT unnest(generate_series(1, 15)) AS i)),
cp AS (SELECT v AS cut FROM rp_ JOIN pp ON rn = p),
sc AS (
  SELECT o_custkey AS v FROM orders
  WHERE ('0x' || substr(md5('z2' || o_orderkey::VARCHAR),
                        1, 8))::UBIGINT % 1000000 < 50000
),
rc AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM sc),
pc_ AS (SELECT DISTINCT ceil(i * (SELECT count(*) FROM sc) / 16) AS p
        FROM (SELECT unnest(generate_series(1, 15)) AS i)),
cc AS (SELECT v AS cut FROM rc JOIN pc_ ON rn = p),
b AS (
  SELECT o_totalprice, o_custkey,
         (SELECT count(*) FROM cp WHERE cut < o_totalprice) AS bp,
         (SELECT count(*) FROM cc WHERE cut < o_custkey) AS bc
  FROM orders
),
z AS (SELECT *, {interleave} AS zkey FROM b)
SELECT (zkey // 8)::BIGINT AS zrange, count(*)::BIGINT AS n_rows,
       round(min(o_totalprice), 2) AS price_lo,
       round(max(o_totalprice), 2) AS price_hi,
       min(o_custkey)::BIGINT AS cust_lo,
       max(o_custkey)::BIGINT AS cust_hi
FROM z GROUP BY 1"""


CDC_CUTOFF = "2024-01-16 00:00:00"


def q_cdc_user_state(spark, sf_dir):
    """CDC change-log replay with tombstones: events become an op stream
    (signup→I, error→D, else U) applied in TWO stages — snapshot from
    the first half-month, then the second half applied over it — and the
    oracle folds the WHOLE log in one pass.  Their equality is the
    composition law that makes incremental daily applies equivalent to a
    full rebuild (also pinned by test_maintenance.py on adversarial
    delete/re-insert logs).  Scale shape: one hash exchange per side,
    folded window reuses the changes-side partitioning."""
    from .plans import maintenance as mt
    ev = spark.read.parquet(_t(sf_dir, "events"))
    ops_df = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts", F.col("event_id").cast("bigint").alias("event_id"),
        F.when(F.col("event_type") == "signup", "I")
         .when(F.col("event_type") == "error", "D")
         .otherwise("U").alias("op"),
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"))
    cut = F.lit(CDC_CUTOFF).cast("timestamp")
    empty = spark.createDataFrame(
        [], "user_id bigint, last_type string, last_value double")
    base = mt.cdc_apply(empty, ops_df.filter(F.col("ts") < cut),
                        ["user_id"], ["last_type", "last_value"],
                        ["ts", "event_id"])
    return mt.cdc_apply(base, ops_df.filter(F.col("ts") >= cut),
                        ["user_id"], ["last_type", "last_value"],
                        ["ts", "event_id"])


def o_cdc_user_state():
    return """
WITH ops AS (
  SELECT user_id::BIGINT AS user_id, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error' THEN 'D' ELSE 'U' END AS op,
         event_type AS last_type, round(value, 4) AS last_value
  FROM events
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops
)
SELECT user_id, last_type, last_value
FROM latest WHERE rn = 1 AND op <> 'D'"""


def q_scd2_user_runs(spark, sf_dir):
    """SCD-2 dimension build: change-point compress each user's event
    log into runs of identical event_type with [valid_from, valid_to)
    intervals (NULL valid_to = current version) — the dimension shape an
    as-of join consumes.  One exchange end to end: the run filter and
    both window passes share the user_id hash partitioning (plan-audited
    in test_maintenance.py)."""
    from .plans import maintenance as mt
    ev = spark.read.parquet(_t(sf_dir, "events"))
    out = mt.scd2_versions(ev, ["user_id"], "event_type", "ts",
                           tie_cols=["event_id"])
    return out.select(F.col("user_id").cast("bigint").alias("user_id"),
                      F.col("version_n").cast("bigint").alias("version_n"),
                      "attr", "valid_from", "valid_to")


def o_scd2_user_runs():
    return """
WITH o AS (
  SELECT user_id::BIGINT AS user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), runs AS (
  SELECT user_id, ts AS valid_from, event_id, event_type FROM o
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY valid_from, event_id)::BIGINT
         AS version_n,
       event_type AS attr, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_id) AS valid_to
FROM runs"""


def q_table_profile(spark, sf_dir):
    """ANALYZE-style one-pass column profile of the documents table —
    rows / nulls / exact distincts / min-max / avg length per column in
    ONE aggregation (multi-DISTINCT via Expand, one shuffle).  The
    first thing a CBO, skew planner, or data-contract monitor asks of a
    new table; at 10^12 rows the exact distincts swap for the KMV
    sketch with the same output contract."""
    from .operators.quality import profile_table
    return profile_table(spark.read.parquet(_t(sf_dir, "documents")))


def o_table_profile():
    cols = {"doc_id": "int", "text": "str", "lang": "str",
            "source": "str", "n_chars": "int"}
    parts = []
    for c, kind in cols.items():
        if kind == "str":
            mm = (f"min({c}) AS min_s, max({c}) AS max_s, "
                  f"round(avg(length({c})), 4) AS avg_len")
        else:
            mm = (f"min({c})::VARCHAR AS min_s, max({c})::VARCHAR AS "
                  f"max_s, NULL::DOUBLE AS avg_len")
        parts.append(f"""
SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       sum(({c} IS NULL)::INT)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct, {mm}
FROM documents""")
    return "\nUNION ALL".join(parts)


def q_approx_counts(spark, sf_dir):
    """Approximate query processing on the cheap: per-type event counts
    estimated from a deterministic 10% md5 sample of event_id,
    Horvitz-Thompson scaled ×10.  Same retry-stable hash family as
    `corpus_sample`, so the 'approximate' answer is REPRODUCIBLE — the
    oracle replays the sample and matches value-exactly; the error vs
    the true counts is the (documented) sampling error, not
    nondeterminism.  Scan + filter + one tiny agg: the 100 TB shape for
    dashboard-grade counts."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    key = F.pmod(F.conv(F.substring(
        F.md5(F.concat(F.lit("aqp1"), F.col("event_id").cast("string"))),
        1, 8), 16, 10).cast("bigint"), F.lit(1000000))
    return (ev.filter(key < 100000)
            .groupBy("event_type")
            .agg((F.count(F.lit(1)) * 10).cast("bigint")
                 .alias("est_events")))


def o_approx_counts():
    return """
SELECT event_type, (count(*) * 10)::BIGINT AS est_events
FROM events
WHERE ('0x' || substr(md5('aqp1' || event_id::VARCHAR),
                      1, 8))::UBIGINT % 1000000 < 100000
GROUP BY event_type"""


def q_column_histogram(spark, sf_dir):
    """Equi-width histogram of o_totalprice in 32 bins — the other half
    of the ANALYZE stats (`table_profile` gives moments/NDV, this gives
    shape).  Two-pass: a one-row min/max aggregate broadcast back over
    the scan, then bin = floor((v-min)/width) clamped so v=max lands in
    the last bin.  Bin edges are exact float arithmetic replayed by the
    oracle."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    mm = orders.agg(F.min("o_totalprice").alias("__lo"),
                    F.max("o_totalprice").alias("__hi"))
    binned = (orders.crossJoin(F.broadcast(mm))
              .withColumn("bin", F.least(
                  F.lit(31),
                  F.floor((F.col("o_totalprice") - F.col("__lo")) * 32.0
                          / (F.col("__hi") - F.col("__lo"))))
                  .cast("bigint")))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


def o_column_histogram():
    return """
WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
            FROM orders)
SELECT least(31, floor((o_totalprice - lo) * 32.0 / (hi - lo)))::BIGINT
         AS bin,
       count(*)::BIGINT AS n_rows,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders CROSS JOIN mm
GROUP BY 1"""


def q_asof_enrich(spark, sf_dir):
    """Point-in-time feature join (the label-leakage-safe feature-store
    join): an account-status SCD-2 dimension built from signup/error
    events, then every purchase enriched with the status valid AT its
    timestamp — never a later version.  Union + carry-forward window
    (one exchange + sort), NOT a non-equi range join; purchases before
    any status version keep NULL."""
    from .plans import maintenance as mt
    ev = spark.read.parquet(_t(sf_dir, "events"))
    dim = mt.scd2_versions(
        ev.filter(F.col("event_type").isin("signup", "error")),
        ["user_id"], "event_type", "ts", tie_cols=["event_id"])
    facts = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id",
                     F.col("event_id").alias("purchase_id"), "ts",
                     F.round("value", 4).alias("value")))
    out = mt.asof_dimension_join(facts, dim, ["user_id"], "attr", "ts",
                                 version_order_col="version_n")
    return out.select(F.col("user_id").cast("bigint").alias("user_id"),
                      F.col("purchase_id").cast("bigint")
                      .alias("purchase_id"), "ts", "value",
                      F.col("attr").alias("status"))


def o_asof_enrich():
    return """
WITH chg AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE event_type IN ('signup', 'error')
), o AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM chg
), runs AS (
  SELECT user_id, ts AS valid_from, event_id, event_type FROM o
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
), v AS (
  SELECT user_id, valid_from, event_type AS attr,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY valid_from, event_id) AS version_n
  FROM runs
), facts AS (
  SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS purchase_id,
         ts, round(value, 4) AS value
  FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT f.*, v.attr,
         row_number() OVER (PARTITION BY f.purchase_id
                            ORDER BY v.valid_from DESC,
                                     v.version_n DESC) AS rn
  FROM facts f LEFT JOIN v
    ON f.user_id = v.user_id AND v.valid_from <= f.ts
)
SELECT user_id, purchase_id, ts, value, attr AS status
FROM ranked WHERE rn = 1"""


def q_perplexity_score(spark, sf_dir):
    """Corpus-LM perplexity filtering (the standard quality gate for
    training data): a bigram model with add-one smoothing estimated
    from the corpus itself, then each document scored by its mean
    negative log-likelihood — high scores flag boilerplate-free but
    incoherent text, low scores flag templated text.  Shapes: one
    bigram explode reused for both the model counts and the scoring
    join (Spark caches nothing here — two passes over the exploded
    bigrams, both ending in key-hash joins on md5-sized keys); V is the
    distinct-unigram count broadcast as a literal 1-row frame."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.lower(F.col("text")), " ").alias("ts"))
    big = toks.select(
        "doc_id",
        F.explode(F.arrays_zip(
            F.slice("ts", 1, F.size("ts") - 1),
            F.slice("ts", 2, F.size("ts") - 1))).alias("bg")) \
        .select("doc_id", F.col("bg.0").alias("w1"),
                F.col("bg.1").alias("w2"))
    uni = toks.select("doc_id", F.explode("ts").alias("w1"))
    c_bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    c_un = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    v = uni.agg(F.countDistinct("w1").alias("v"))
    scored = (big.join(c_bi, ["w1", "w2"]).join(c_un, "w1")
              .crossJoin(F.broadcast(v))
              .withColumn("nll", -F.log((F.col("cb") + 1)
                                        / (F.col("cu") + F.col("v")))))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.avg("nll"), 4).alias("mean_nll")))


def o_perplexity_score():
    return """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(lower(text), ' ') AS ts
  FROM documents
),
uni AS (SELECT doc_id, unnest(ts) AS w1 FROM toks),
big AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)
),
c_bi AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
c_un AS (SELECT w1, count(*) AS cu FROM uni GROUP BY w1),
v AS (SELECT count(DISTINCT w1) AS v FROM uni)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(-ln((cb + 1.0) / (cu + v)))::DOUBLE, 4) AS mean_nll
FROM big JOIN c_bi USING (w1, w2) JOIN c_un USING (w1) CROSS JOIN v
GROUP BY doc_id"""


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    md5-derived uniforms): top-100 documents by ln(u)/n_chars — the
    data-mixing draw that favours long docs yet stays reproducible
    under retry/resume.  Plan: projection + TakeOrderedAndProject, no
    shuffle.  The oracle replays the identical hash + key arithmetic,
    so the SELECTION is value-exact, not statistical."""
    from .operators.textprep import weighted_sample
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = weighted_sample(docs, "n_chars", "doc_id", k=100)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "lang",
                      F.col("n_chars").cast("bigint").alias("n_chars"))


def o_weighted_sample():
    return """
SELECT doc_id::BIGINT AS doc_id, lang, n_chars::BIGINT AS n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         ln((('0x' || substr(md5('ws1' || doc_id::VARCHAR),
                             1, 8))::UBIGINT + 1) / 4294967297.0)
           / n_chars AS k
  FROM documents WHERE n_chars > 0
  ORDER BY k DESC, doc_id LIMIT 100
)"""


def q_user_transitions(spark, sf_dir):
    """First-order behaviour model: event-type transition matrix with
    per-source probabilities — lead() over each user's timeline (one
    user_id exchange), bigram counts, then P(dst|src) via the tiny
    per-source totals window.  The Markov-chain input every
    next-event-prediction baseline starts from."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.withColumn("dst", F.lead("event_type").over(w))
             .filter(F.col("dst").isNotNull())
             .select(F.col("event_type").alias("src"), "dst"))
    counts = (pairs.groupBy("src", "dst")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = Window.partitionBy("src")
    return counts.withColumn(
        "p", F.round(F.col("n") / F.sum("n").over(tot), 4))


def o_user_transitions():
    return """
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
), counts AS (
  SELECT src, dst, count(*)::BIGINT AS n FROM pairs
  WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       round(n / sum(n) OVER (PARTITION BY src), 4) AS p
FROM counts"""


def q_funnel(spark, sf_dir):
    """Ordered funnel (signup → click → purchase, strictly increasing
    timestamps): earliest completion time of each step via chained
    conditional window-mins over ONE user_id partitioning — the final
    per-user groupBy reuses the same exchange, so the whole funnel is a
    single shuffle (greedy earliest-step is optimal for
    earliest-completion funnels, which is why nested mins = the fold)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id")
    step = lambda typ, after: F.min(  # noqa: E731
        F.when((F.col("event_type") == typ)
               & (F.col("ts") > after if after is not None else F.lit(True)),
               F.col("ts"))).over(w)
    d = ev.withColumn("t1", step("signup", None))
    d = d.withColumn("t2", step("click", F.col("t1")))
    d = d.withColumn("t3", step("purchase", F.col("t2")))
    return (d.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
            .agg(F.min("t1").alias("ts_signup"),
                 F.min("t2").alias("ts_click"),
                 F.min("t3").alias("ts_purchase"))
            .withColumn("steps_reached",
                        (F.col("ts_signup").isNotNull().cast("int")
                         + F.col("ts_click").isNotNull().cast("int")
                         + F.col("ts_purchase").isNotNull().cast("int"))
                        .cast("bigint")))


def o_funnel():
    return """
WITH u AS (SELECT DISTINCT user_id FROM events),
t1 AS (SELECT user_id, min(ts) AS ts_signup FROM events
       WHERE event_type = 'signup' GROUP BY user_id),
t2 AS (SELECT e.user_id, min(e.ts) AS ts_click
       FROM events e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > t1.ts_signup
       GROUP BY e.user_id),
t3 AS (SELECT e.user_id, min(e.ts) AS ts_purchase
       FROM events e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > t2.ts_click
       GROUP BY e.user_id)
SELECT u.user_id::BIGINT AS user_id, ts_signup, ts_click, ts_purchase,
       ((ts_signup IS NOT NULL)::INT + (ts_click IS NOT NULL)::INT
        + (ts_purchase IS NOT NULL)::INT)::BIGINT AS steps_reached
FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity ISO week, then
    distinct-user counts per (cohort, week offset) — the triangle table
    behind every retention curve.  Two aggregations, both keyed on
    user_id then (cohort, offset); countDistinct is exact (the KMV
    sketch is the approximate tier for when cohort×offset×users
    explodes)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    first = (ev.groupBy("user_id")
             .agg(F.min(F.date_trunc("week", F.col("ts")))
                  .alias("cohort")))
    act = (ev.select("user_id",
                     F.date_trunc("week", F.col("ts")).alias("wk"))
           .distinct())
    return (act.join(first, "user_id")
            .groupBy("cohort",
                     (F.datediff(F.to_date("wk"), F.to_date("cohort"))
                      / 7).cast("bigint").alias("week_offset"))
            .agg(F.countDistinct("user_id").cast("bigint")
                 .alias("n_users")))


def o_cohort_retention():
    return """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort
  FROM events GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        FROM events)
SELECT cohort,
       (datediff('day', cohort::DATE, wk::DATE) // 7)::BIGINT
         AS week_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM act JOIN first USING (user_id)
GROUP BY 1, 2"""


def q_user_last_event(spark, sf_dir):
    """CDC/upsert compaction: the LATEST event per user (ts desc,
    event_id desc tie-break) — the state-table view a streaming upsert
    sink maintains, expressed as the rank-1 window so batch backfill and
    the stream share semantics.  Scale shape: one hash exchange on
    user_id, rank pushed to per-partition TakeOrdered by Catalyst."""
    events = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                              F.desc("event_id"))
    return (events.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.col("event_id").cast("bigint").alias("last_event_id"),
                    F.col("event_type").alias("last_type"),
                    F.round("value", 4).alias("last_value")))


def o_user_last_event():
    return """
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS last_event_id,
       event_type AS last_type, round(value, 4) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
    ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1"""


def q_rolling_events(spark, sf_dir):
    """Per-user trailing-24h activity at every event: RANGE-framed
    window (value-based frame over epoch seconds, not row counts) —
    count and volume of the user's events in the preceding day.  One
    hash exchange on user_id + per-partition sort; the frame is
    evaluated with a sliding two-pointer pass, never a per-row rescan.
    Range frames are tie-safe (equal timestamps are peers on both
    engines), so the result is deterministic without an event_id
    tie-break."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    # frame over unix MICROS, not seconds: a seconds cast truncates and
    # admits/rejects boundary events differently from the oracle's exact
    # INTERVAL arithmetic
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-86400 * 1_000_000, 0))
    return (ev.select(F.col("user_id").cast("bigint").alias("user_id"),
                      F.col("event_id").cast("bigint").alias("event_id"),
                      F.count("*").over(w).cast("bigint").alias("n_24h"),
                      F.round(F.sum("value").over(w), 2).alias("sum_24h")))


def o_rolling_events():
    return """
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
       count(*) OVER w::BIGINT AS n_24h,
       round(sum(value) OVER w, 2) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)"""


def q_interval_events(spark, sf_dir):
    """Keyless range join via time-binned equi-join: high-value events
    (value > 150) open a 1-hour alert window; count + sum every event
    inside each window.  Naive Spark plans this as a nested-loop — the
    binning rewrite (operators/relational.py interval_join) turns it
    into an exploded equi-join on the hour bin + exact range filter,
    the only range-join form that survives 10^12×10^12.  Plan-audited
    (tests/test_plan_audit.py) to contain no NestedLoop/Cartesian."""
    from .operators.relational import interval_join
    ev = spark.read.parquet(_t(sf_dir, "events"))
    anchors = (ev.filter(F.col("value") > 150)
               .select(F.col("event_id").alias("anchor_id"),
                       F.col("ts").alias("w_start"),
                       (F.col("ts") + F.expr("INTERVAL 1 HOUR"))
                       .alias("w_end")))
    joined = interval_join(anchors, ev.select("ts", "value"),
                           "w_start", "w_end", "ts", bin_seconds=3600)
    return (joined.groupBy("anchor_id")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("anchor_id").cast("bigint").alias("anchor_id"),
                    "n_events", "sum_value"))


def o_interval_events():
    return """
WITH a AS (
  SELECT event_id AS anchor_id, ts AS w_start,
         ts + INTERVAL 1 HOUR AS w_end
  FROM events WHERE value > 150
)
SELECT a.anchor_id::BIGINT AS anchor_id, count(*)::BIGINT AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM a JOIN events e ON e.ts >= a.w_start AND e.ts < a.w_end
GROUP BY a.anchor_id"""


def q_quality_quantiles(spark, sf_dir):
    """Corpus quality DISTRIBUTION per detected language: exact
    percentiles (p10/p50/p90) of the composite quality score — the
    filter-threshold-picking analytics a training-data pipeline runs
    before choosing cutoffs.  Exact `percentile` (linear interpolation)
    so the DuckDB `quantile_cont` oracle matches to 4 dp; at 100 TB the
    same query swaps to `percentile_approx` (sketch-mergeable, one pass)
    with no plan-shape change."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .withColumn("toks", F.split(F.lower("text"), " ")))
    n_tok = F.size("toks")
    punct = F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
    quality = F.round(F.least(n_tok / F.lit(100.0), F.lit(1.0))
                      * (1 - punct / F.length("text")), 4)
    lang = F.when(
        F.expr(f"size(filter(toks, t -> t IN ({stop})))") / n_tok >= 0.1,
        "en").otherwise("unk")
    base = docs.select(lang.alias("lang_guess"), quality.alias("q"))
    return (base.groupBy("lang_guess")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.round(F.expr("percentile(q, 0.1)"), 4).alias("q10"),
                 F.round(F.expr("percentile(q, 0.5)"), 4).alias("q50"),
                 F.round(F.expr("percentile(q, 0.9)"), 4).alias("q90")))


def o_quality_quantiles():
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH base AS (
  SELECT CASE WHEN len(list_filter(toks, t -> t IN ({stop}))) / len(toks) >= 0.1
              THEN 'en' ELSE 'unk' END AS lang_guess,
         round(least(len(toks) / 100.0, 1.0)
               * (1 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                      / length(text)), 4) AS q
  FROM (SELECT text, string_split(lower(text), ' ') AS toks FROM documents)
)
SELECT lang_guess, count(*)::BIGINT AS n_docs,
       round(quantile_cont(q, 0.1), 4) AS q10,
       round(quantile_cont(q, 0.5), 4) AS q50,
       round(quantile_cont(q, 0.9), 4) AS q90
FROM base GROUP BY lang_guess"""


def q_corpus_rollup(spark, sf_dir):
    """OLAP rollup over the corpus dimensions: per-(lang, source) /
    per-lang / grand-total doc counts and char volume in ONE pass —
    Catalyst expands the rollup into grouping sets and keeps the
    partial aggregation map-side, so the 10^12-row table is read and
    shuffled once for all three granularities (vs three separate
    scans).  Null grouping keys are coalesced to 'ALL' so the hash
    compare is unambiguous across engines."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (docs.rollup("lang", "source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    F.coalesce("source", F.lit("ALL")).alias("source"),
                    "n_docs", "total_chars", "avg_chars"))


def o_corpus_rollup():
    return """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY ROLLUP (lang, source)"""


def q_quantize_embeddings(spark, sf_dir):
    """int8 embedding quantization for the vector STORE (4× smaller than
    float32 at <0.1% cosine error — at trillion-vector scale a storage
    tier, not a rounding detail).  The quantized vector is compared via
    an md5 digest of its comma-joined values, so the oracle checks every
    component without array-type comparison ambiguity."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qd = similarity.quantize_embeddings(emb)
    return qd.select(F.col("vec_id").cast("bigint").alias("vec_id"),
                     F.round("scale", 6).alias("scale"),
                     F.md5(F.array_join("q", ",")).alias("q_digest"))


def o_quantize_embeddings():
    return """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS ma FROM e)
SELECT vec_id::BIGINT AS vec_id, round(ma / 127.0, 6) AS scale,
       md5(array_to_string(
         CASE WHEN ma = 0 THEN list_transform(v, x -> 0::TINYINT)
              ELSE list_transform(v, x -> round(x / (ma / 127.0))::TINYINT)
         END, ',')) AS q_digest
FROM m"""


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (random-hyperplane signatures, exact rerank within
    bucket) — the data-independent scale path for similarity search.
    Approximate by bucketing but fully deterministic: the md5-parity
    hyperplanes and ±1 signature arithmetic are SQL-expressible, so the
    DuckDB oracle reproduces the exact bucket structure and rerank."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    return (similarity.lsh_ann_topk(qs, cs, 64, k=5, n_planes=8)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
                    "cos_sim", "rnk"))


def o_ann_lsh_topk():
    from .operators.similarity import hyperplanes
    dim, n_planes, n_tables = 64, 8, 2
    sig_selects = []
    for t in range(n_tables):
        bits = []
        for j, plane in enumerate(hyperplanes(dim, n_planes, t)):
            lit = "[" + ", ".join(str(x) for x in plane) + "]::DOUBLE[]"
            bits.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0 "
                        f"THEN {1 << j} ELSE 0 END)")
        sig_selects.append(f"SELECT vec_id, ({' + '.join(bits)})::INT AS sig, "
                           f"{t} AS tbl FROM e")
    sigs = "\nUNION ALL\n".join(sig_selects)
    cos = ("round(list_dot_product(qe.v, ne.v) / "
           "(sqrt(list_dot_product(qe.v, qe.v)) * "
           "sqrt(list_dot_product(ne.v, ne.v))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS ({sigs}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.vec_id < 5 AND c.vec_id >= 5
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT cd.query_id::BIGINT AS query_id, cd.neighbor_id::BIGINT AS neighbor_id,
         {cos} AS cos_sim,
         row_number() OVER (PARTITION BY cd.query_id
           ORDER BY {cos} DESC, cd.neighbor_id ASC)::INT AS rnk
  FROM cand cd JOIN e qe ON qe.vec_id = cd.query_id
               JOIN e ne ON ne.vec_id = cd.neighbor_id
) WHERE rnk <= 5"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN (deterministic coarse quantizer, inverted-list
    equi-join, exact rerank within probed lists) — the data-adaptive scale
    path for similarity search.  Fully deterministic (seed centroids =
    lowest-vec_id vectors, 4-dp-rounded scores, id tie-breaks) → exact
    DuckDB oracle despite being an ANN structure."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    return (similarity.ivf_ann_topk(qs, cs, k=5, n_centroids=8, n_probe=2)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
                    "cos_sim", "rnk"))


def o_ann_ivf_topk():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 8)
),
lists AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM (
    SELECT c.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct WHERE c.vec_id >= 5)
  WHERE crn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT q.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e q CROSS JOIN cents ct WHERE q.vec_id < 5)
  WHERE crn <= 2
),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (centroid_id)
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT c.query_id::BIGINT AS query_id, c.neighbor_id::BIGINT AS neighbor_id,
         {cos.format(a='qe.v', b='ne.v')} AS cos_sim,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY {cos.format(a='qe.v', b='ne.v')} DESC,
                    c.neighbor_id ASC) AS rnk
  FROM cand c JOIN e qe ON qe.vec_id = c.query_id
              JOIN e ne ON ne.vec_id = c.neighbor_id
) WHERE rnk <= 5"""


def q_ann_ivf_incremental(spark, sf_dir):
    """IVF ANN served from an INCREMENTALLY grown materialized index
    (operators/similarity.append_ivf_index + compact_ivf_index): build
    over the even-id half of the candidates (centroids trained on that
    batch and then FROZEN), append the odd half as a second list
    segment, COMPACT under the atomic manifest flip, then query.  Under
    fixed centroids list membership is per-vector, so the oracle is the
    same IVF SQL with centroids seeded from the even batch — value-
    exact proves append + compaction change no answer."""
    from pathlib import Path
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    sf_tag = Path(sf_dir.rstrip("/")).name
    path = str(Path(__file__).resolve().parent.parent / ".artifacts"
               / f"ivf_index_inc_{sf_tag}_{os.getpid()}")
    similarity.build_ivf_index(cs.filter(F.col("vec_id") % 2 == 0), path,
                               n_centroids=8)
    similarity.append_ivf_index(cs.filter(F.col("vec_id") % 2 == 1), path)
    similarity.compact_ivf_index(spark, path)
    return (similarity.query_ivf_index(spark, path, qs, k=5, n_probe=2)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint")
                    .alias("neighbor_id"), "cos_sim", "rnk"))


def o_ann_ivf_incremental():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id >= 5 AND vec_id % 2 = 0
        ORDER BY vec_id LIMIT 8)
),
lists AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM (
    SELECT c.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct WHERE c.vec_id >= 5)
  WHERE crn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT q.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e q CROSS JOIN cents ct WHERE q.vec_id < 5)
  WHERE crn <= 2
),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (centroid_id)
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT c.query_id::BIGINT AS query_id, c.neighbor_id::BIGINT AS neighbor_id,
         {cos.format(a='qe.v', b='ne.v')} AS cos_sim,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY {cos.format(a='qe.v', b='ne.v')} DESC,
                    c.neighbor_id ASC) AS rnk
  FROM cand c JOIN e qe ON qe.vec_id = c.query_id
              JOIN e ne ON ne.vec_id = c.neighbor_id
) WHERE rnk <= 5"""


def q_ann_ivf_stats(spark, sf_dir):
    """Observability census of a SEGMENTED IVF index
    (operators/similarity.ivf_index_stats) — the frozen-quantizer
    DRIFT detector: list-size distribution + imbalance ratio, the row
    a pipeline watches to schedule the rebuild the append docstring
    prescribes.  Built as build(evens, centroids frozen from evens) +
    append(odds); the oracle recomputes the assignment counts from raw
    vectors, so value-exact proves the segmented lists hold exactly
    the corpus's assignment distribution."""
    from pathlib import Path
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    sf_tag = Path(sf_dir.rstrip("/")).name
    path = str(Path(__file__).resolve().parent.parent / ".artifacts"
               / f"ivf_index_stats_{sf_tag}_{os.getpid()}")
    similarity.build_ivf_index(cs.filter(F.col("vec_id") % 2 == 0), path,
                               n_centroids=8)
    similarity.append_ivf_index(cs.filter(F.col("vec_id") % 2 == 1), path)
    return similarity.ivf_index_stats(spark, path)


def o_ann_ivf_stats():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id >= 5 AND vec_id % 2 = 0
        ORDER BY vec_id LIMIT 8)
),
lists AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct WHERE c.vec_id >= 5)
  WHERE crn = 1
),
per AS (SELECT centroid_id, count(*) AS n FROM lists GROUP BY centroid_id)
SELECT sum(n)::BIGINT AS n_vectors, count(*)::BIGINT AS n_lists,
       max(n)::BIGINT AS max_list,
       round(max(n) / avg(n), 4) AS imbalance, 2::INT AS n_segments
FROM per"""


def q_ann_ivf_q_topk(spark, sf_dir):
    """IVF ANN served from the int8 STORE (quantized=True): index built
    from floats, rerank vectors round-trip through the 4×-smaller
    (scale, int8[]) representation, queries stay float — the production
    split proving the quantized tier is USABLE, not just writable.
    Deterministic end-to-end, so the oracle reproduces the quantize →
    dequantize → rerank arithmetic exactly."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    return (similarity.ivf_ann_topk(qs, cs, k=5, n_centroids=8, n_probe=2,
                                    quantized=True)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
                    "cos_sim", "rnk"))


def o_ann_ivf_q_topk():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eq AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x ->
                (round(x / (ma / 127.0))::TINYINT)::DOUBLE * (ma / 127.0))
         END AS v
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma FROM e) m
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 8)
),
lists AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM (
    SELECT c.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct WHERE c.vec_id >= 5)
  WHERE crn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT q.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e q CROSS JOIN cents ct WHERE q.vec_id < 5)
  WHERE crn <= 2
),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (centroid_id)
)
SELECT query_id, neighbor_id, cos_sim, rnk FROM (
  SELECT c.query_id::BIGINT AS query_id, c.neighbor_id::BIGINT AS neighbor_id,
         {cos.format(a='qe.v', b='ne.v')} AS cos_sim,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY {cos.format(a='qe.v', b='ne.v')} DESC,
                    c.neighbor_id ASC) AS rnk
  FROM cand c JOIN e qe ON qe.vec_id = c.query_id
              JOIN eq ne ON ne.vec_id = c.neighbor_id
) WHERE rnk <= 5"""


INGEST_FIXTURES = [
    "a  b\n\n\n\nc http://www.judis.nic.in tail",
    "Sentence one.\nNext line",
    "multiple   spaces\tand tabs",
    "trailing run   ",
    "::: Uploaded on - 01/02/2020  ::: Downloaded on - 03/04/2021 at 10:00 ::: rest",
    "body text SIGNATURE NOT VERIFIED SIGNED BY: Registrar X\nSigning Date:12.03.2021 tail",
]


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantized ANN (Jégou et al. 2011): 64-dim corpus encoded
    as 4-byte codes (m=4 subspaces × 16 centroids), queries score via the
    ADC distance table — m array lookups per candidate, zero candidate-
    side float math.  Deterministic seeding + rounded-argmin make the
    full codebook→encode→ADC pipeline value-exact against the oracle."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    cents = similarity.pq_centroids(cs, m=4, ksub=16, d=64)
    codes = similarity.pq_encode(cs, cents, m=4, d=64)
    return (similarity.pq_topk(qs, cents, codes, k=5, m=4, ksub=16, d=64)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint")
                    .alias("neighbor_id"),
                    "pq_dist", "rnk"))


def o_ann_pq_topk():
    d2 = ("round(list_dot_product({a}, {a}) "
          "- 2 * list_dot_product({a}, {b}) "
          "+ list_dot_product({b}, {b}), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT vec_id, s.subspace,
         list_slice(v, s.subspace * 16 + 1, s.subspace * 16 + 16) AS sv
  FROM e, (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
cents AS (
  SELECT sub.subspace, seeds.centroid_id, sub.sv AS cv
  FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id
    FROM (SELECT vec_id FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16)
  ) seeds JOIN sub USING (vec_id)
),
enc AS (
  SELECT vec_id, subspace, centroid_id AS code FROM (
    SELECT s.vec_id, s.subspace, c.centroid_id,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
             ORDER BY {d2.format(a='s.sv', b='c.cv')} ASC,
                      c.centroid_id ASC) AS rn
    FROM sub s JOIN cents c USING (subspace)
    WHERE s.vec_id >= 5)
  WHERE rn = 1
),
qd AS (
  SELECT s.vec_id AS query_id, s.subspace, c.centroid_id,
         {d2.format(a='s.sv', b='c.cv')} AS d2
  FROM sub s JOIN cents c USING (subspace)
  WHERE s.vec_id < 5
),
scored AS (
  SELECT q.query_id, enc.vec_id AS neighbor_id, round(sum(q.d2), 4)
           AS pq_dist
  FROM enc JOIN qd q
    ON q.subspace = enc.subspace AND q.centroid_id = enc.code
  GROUP BY 1, 2
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       pq_dist, rnk FROM (
  SELECT query_id, neighbor_id, pq_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY pq_dist ASC, neighbor_id ASC)::INT AS rnk
  FROM scored
) WHERE rnk <= 5"""


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition (FAISS `IVF8,PQ4` shape, no-residual): coarse
    probes prune to ~n_probe/n_centroids of the corpus, PQ ADC scores
    only the pruned candidates — the layout that serves 10^12 vectors
    from codes.  Both stages reuse their standalone deterministic
    constructions, so the whole composition is value-exact vs DuckDB."""
    from .operators import similarity
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qs = similarity.prepare_vectors(emb.filter(F.col("vec_id") < 5))
    cs = similarity.prepare_vectors(emb.filter(F.col("vec_id") >= 5))
    return (similarity.ivfpq_topk(qs, cs, k=5, n_centroids=8, n_probe=2,
                                  m=4, ksub=16, d=64)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("neighbor_id").cast("bigint")
                    .alias("neighbor_id"),
                    "pq_dist", "rnk"))


def o_ann_ivfpq_topk():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    d2 = ("round(list_dot_product({a}, {a}) "
          "- 2 * list_dot_product({a}, {b}) "
          "+ list_dot_product({b}, {b}), 4)")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coarse AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 8)
),
lists AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM (
    SELECT c.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN coarse ct WHERE c.vec_id >= 5)
  WHERE crn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT q.vec_id, ct.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e q CROSS JOIN coarse ct WHERE q.vec_id < 5)
  WHERE crn <= 2
),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (centroid_id)
),
sub AS (
  SELECT vec_id, s.subspace,
         list_slice(v, s.subspace * 16 + 1, s.subspace * 16 + 16) AS sv
  FROM e, (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
pqcents AS (
  SELECT sub.subspace, seeds.pq_centroid_id, sub.sv AS cv
  FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
             AS pq_centroid_id
    FROM (SELECT vec_id FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT 16)
  ) seeds JOIN sub USING (vec_id)
),
enc AS (
  SELECT vec_id, subspace, pq_centroid_id AS code FROM (
    SELECT s.vec_id, s.subspace, c.pq_centroid_id,
           row_number() OVER (PARTITION BY s.vec_id, s.subspace
             ORDER BY {d2.format(a='s.sv', b='c.cv')} ASC,
                      c.pq_centroid_id ASC) AS rn
    FROM sub s JOIN pqcents c USING (subspace)
    WHERE s.vec_id >= 5)
  WHERE rn = 1
),
qd AS (
  SELECT s.vec_id AS query_id, s.subspace, c.pq_centroid_id,
         {d2.format(a='s.sv', b='c.cv')} AS d2
  FROM sub s JOIN pqcents c USING (subspace)
  WHERE s.vec_id < 5
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, round(sum(q.d2), 4) AS pq_dist
  FROM cand
  JOIN enc ON enc.vec_id = cand.neighbor_id
  JOIN qd q ON q.query_id = cand.query_id
           AND q.subspace = enc.subspace
           AND q.pq_centroid_id = enc.code
  GROUP BY 1, 2
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       pq_dist, rnk FROM (
  SELECT query_id, neighbor_id, pq_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY pq_dist ASC, neighbor_id ASC)::INT AS rnk
  FROM scored
) WHERE rnk <= 5"""


def q_ingest_clean(spark, sf_dir):
    """Ingest text-hygiene chain (data_preparation.py:175-181,240-252)."""
    from .operators.ingest import clean_judgment_text
    return (_fixture_df(spark, INGEST_FIXTURES)
            .select("text", clean_judgment_text(F.col("text")).alias("cleaned")))


def o_ingest_clean():
    # RE2 has no lookahead: `\s+(?!\s*$)` (collapse all runs except the
    # trailing one) is expressed as rtrim-collapse-reappend, equivalent on
    # any input; backreference syntax is \1 (Java/Spark uses $1).
    return r"""
WITH f AS (
  SELECT text,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, 'http://www\.judis\.nic\.in(\s*?\x0c\s*?)?', '', 'g'),
               '(::: Uploaded on - \d\d/\d\d/\d\d\d\d\s+)?::: Downloaded on - .{5,50}:::', '', 'g'),
             'https://www\.mhc\.tn\.gov\.in/judis/(\s*?\x0c\s*?)?', '', 'g'),
           '(?si)Signature Not Verified Signed By:.{5,100}Signing Date:\d\d\.\d\d\.\d\d\d\d(.{1,50}Page \d+\s*?! of \d+\s*?!\s*?\d\d:\d\d:\d\d)?', '', 'g') AS t
  FROM """ + _values_sql(INGEST_FIXTURES) + r"""
), c1 AS (
  SELECT text,
         regexp_replace(regexp_replace(t, '\s+$', ''), '\s+', ' ', 'g') ||
         COALESCE(regexp_extract(t, '\s+$'), '') AS t
  FROM f
), c2 AS (
  SELECT text, regexp_replace(t, '([."?])\n', '\1 \n\n', 'g') AS t FROM c1
), c3 AS (
  SELECT text, regexp_replace(t, '\n{3,}', E'\n\n', 'g') AS t FROM c2
)
SELECT text, trim(t) AS cleaned FROM c3"""


HTML_FIXTURES = [
    # qualifying p + non-qualifying p (no id prefix) + pre keeps layout
    '<html><p id="p_1">Hello  world.\nNext</p><p id="x9">SKIPPED</p>'
    '<pre id="pre_2">  kept   layout\n\n\nlines</pre></html>',
    # entity unescape + hidden_text span dropped (constant-True quirk)
    '<p id="p_1">A &amp; B &lt;tag&gt; &quot;q&quot;</p>'
    '<blockquote id="blockquote_9">Quote '
    '<span class="hidden_text">GARBAGE</span>text</blockquote>',
    # footer pattern stripped after assembly
    '<p id="p_1">visit http://www.judis.nic.in now</p>',
    # sentence-break newline preserved at fragment end (trailing run is
    # exempt from the whitespace collapse, so the break regex fires)
    '<p id="p_3">One sentence.\n</p><p id="p_4">Two</p>',
    # no qualifying tags at all
    'no tags at all',
    # blockquote id prefix on a p tag qualifies (reference checks the id
    # prefix independently of the tag name)
    '<p id="blockquote_7">cross tagged</p>',
]


def q_html_to_text(spark, sf_dir):
    """HTML fetch-side parse re-expressed Spark-first
    (data_preparation.py:202-254 minus the network GET): id-filtered
    p/blockquote/pre fragments, hidden-text drop, per-fragment layout
    normalization with pre exempted, entity unescape, footer strip."""
    from .operators.ingest import html_to_text
    return (_fixture_df(spark, HTML_FIXTURES, "html")
            .select("html", html_to_text("html").alias("text")))


def o_html_to_text():
    from .operators.ingest import (_HTML_FRAGMENT_RE, _HIDDEN_RE, _TAG_RE,
                                   _ENTITIES)
    strip = (f"regexp_replace(regexp_replace(x, {_sql_quote(_HIDDEN_RE)}, "
             f"'', 'g'), {_sql_quote(_TAG_RE)}, '', 'g')")

    def unescape(e):
        for ent, rep in _ENTITIES:
            e = f"replace({e}, '{ent}', {_sql_quote(rep)})"
        return e

    # RE2 has no lookahead: \s+(?!\s*$) = rtrim-collapse + re-append the
    # trailing run (same device as o_ingest_clean)
    def collapse(e):
        # NOT rtrim(): SQL rtrim strips spaces only, and the trailing run
        # here can be newlines — whitespace-rtrim via regex
        e = (f"(regexp_replace(regexp_replace({e}, '\\s+$', ''), "
             f"'\\s+', ' ', 'g') || "
             f"COALESCE(regexp_extract({e}, '\\s+$'), ''))")
        # replacement MUST be an E-string: in a standard SQL string the
        # rewrite engine silently drops the '\n' escapes
        e = f"regexp_replace({e}, '([.\"?])\\n', E'\\\\1 \\n\\n', 'g')"
        return f"regexp_replace({e}, '\\n{{2,}}', E'\\n\\n', 'g')"

    pre_b = unescape(strip)
    nonpre_b = unescape(collapse(strip))
    footers = "t"
    for pat in [
        r"http://www\.judis\.nic\.in(\s*?\x0c\s*?)?",
        r"(::: Uploaded on - \d\d/\d\d/\d\d\d\d\s+)?::: Downloaded on - .{5,50}:::",
        r"https://www\.mhc\.tn\.gov\.in/judis/(\s*?\x0c\s*?)?",
        r"(?si)Signature Not Verified Signed By:.{5,100}Signing Date:"
        r"\d\d\.\d\d\.\d\d\d\d(.{1,50}Page \d+\s*?! of \d+\s*?!\s*?\d\d:\d\d:\d\d)?",
    ]:
        footers = f"regexp_replace({footers}, {_sql_quote(pat)}, '', 'g')"
    return f"""
WITH frags AS (
  SELECT html, regexp_extract_all(html, {_sql_quote(_HTML_FRAGMENT_RE)}) AS fr
  FROM {_values_sql(HTML_FIXTURES, 'html')}
), assembled AS (
  -- regexp_extract_all returns NULL (not []) on zero matches in DuckDB
  SELECT html, COALESCE(array_to_string(list_transform(fr,
    x -> CASE WHEN x LIKE '<pre%' THEN {pre_b} ELSE {nonpre_b} END), ''), '')
    AS t
  FROM frags
)
SELECT html, trim({footers}) AS text FROM assembled"""


# --------------------------------------------------------------------------
# full KG pipeline (order-sensitive — rows-only checks, SURVEY.md §5.4)
# --------------------------------------------------------------------------

def _kg_records(spark, sf_dir):
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    n = max(24, min(120, docs.count() // 8))
    corpus = synth.synthetic_corpus(spark, n)
    return ops.extract_records(corpus)


# The kg_* aggregates run over a records table MATERIALIZED to a fixed
# parquet path: that splits the flagship path into (a) the order-sensitive
# per-doc extraction (pytest-gated: P/R = 1.0 vs the single-doc oracle,
# determinism, parallelism invariance — no SQL form exists) and (b) the
# relational aggregation half, which the DuckDB oracles below verify over
# the very same parquet files.  Materialization happens once per
# (process, sf_dir) — the extraction stage runs once, not once per query.
# repo-root-relative (derived from this file), not a hard-coded absolute
# path — the kg_* query/oracle pairs must work from any checkout location
# pid-stamped so concurrent processes (pytest + oracle gate + bench on
# one host) never overwrite each other's materialization mid-read; the
# oracle SQL below embeds the same path, so query and oracle always
# agree within a process
_KG_RECORDS_PATH = str(
    Path(__file__).resolve().parent.parent / ".artifacts"
    / f"kg_records_{os.getpid()}")
_KG_SQL_SRC = f"read_parquet('{_KG_RECORDS_PATH}/*.parquet')"
_kg_materialized_for: str | None = None


def _prune_stale_kg_records() -> None:
    """Remove sibling kg_records_<pid> dirs whose owning process is gone
    — each process materializes its own copy (concurrency safety), so
    without this the artifacts dir grows by ~1 MB per pytest/bench/gate
    process forever."""
    import shutil
    art = Path(_KG_RECORDS_PATH).parent
    if not art.is_dir():
        return
    for d in art.glob("kg_records_*"):
        pid = d.name.rsplit("_", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)          # raises if the pid is gone
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass                          # alive under another uid: keep


def _kg_records_parquet(spark, sf_dir):
    global _kg_materialized_for
    if _kg_materialized_for != sf_dir:
        _prune_stale_kg_records()
        (_kg_records(spark, sf_dir)
         .write.mode("overwrite").parquet(_KG_RECORDS_PATH))
        _kg_materialized_for = sf_dir
    return spark.read.parquet(_KG_RECORDS_PATH)


def q_kg_triples(spark, sf_dir):
    """Triples projection over the materialized records.  The oracle
    checks the materialization + pruned-scan projection half (DuckDB
    reads the same parquet); the EXTRACTION half has no SQL form and is
    gated by pytest instead — P/R = 1.0 vs the single-doc reference
    oracle, determinism, and parallelism invariance
    (tests/test_pipeline_spark.py)."""
    return ops.triples(_kg_records_parquet(spark, sf_dir))


def o_kg_triples():
    return (f"SELECT subj, pred, obj, doc_id FROM {_KG_SQL_SRC} "
            "WHERE rec_type = 'triple'")


def q_kg_mentions(spark, sf_dir):
    """Mentions projection over the materialized records (oracle scope:
    see q_kg_triples)."""
    return ops.mentions(_kg_records_parquet(spark, sf_dir))


def o_kg_mentions():
    return ("SELECT doc_id, ent_id, sent_id, start_char, end_char, "
            f"text, label, region FROM {_KG_SQL_SRC} "
            "WHERE rec_type = 'mention'")


def q_kg_provision_counts(spark, sf_dir):
    return ops.unique_provision_counts(_kg_records_parquet(spark, sf_dir))


def o_kg_provision_counts():
    return f"""
SELECT doc_id, concat_ws(' of ', norm_provision, norm_statute)
         AS provision_of_statute,
       count(*)::BIGINT AS freq
FROM {_KG_SQL_SRC} WHERE rec_type = 'pro_statute_pair'
GROUP BY doc_id, concat_ws(' of ', norm_provision, norm_statute)"""


def q_kg_label_stats(spark, sf_dir):
    """Corpus entity stats over the pipeline's mentions (README.md:80-96)."""
    return ops.mention_label_stats(_kg_records_parquet(spark, sf_dir))


def o_kg_label_stats():
    return f"""
SELECT label, count(*)::BIGINT AS n_mentions,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM {_KG_SQL_SRC} WHERE rec_type = 'mention' GROUP BY label"""


def q_kg_pagerank(spark, sf_dir):
    """PageRank over the part_of citation graph of the materialized
    triples (iterative join+agg with lazy broadcast dangling mass).  The
    iteration count is FIXED (4), so the oracle unrolls the power
    iteration into four CTE layers — the one 'iterative, surely
    non-SQL' query turns out to be exactly checkable."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return graph.pagerank(tri, pred="part_of", n_iter=4,
                          checkpoint_dir=_ckpt_dir(spark))


def o_kg_pagerank(n_iter: int = 4, damping: float = 0.85):
    it = """
d{i} AS (
  SELECT coalesce(sum(r.rank), 0) AS dm
  FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
),
c{i} AS (
  SELECT e.dst AS node, sum(r.rank / o.deg) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src JOIN r{p} r ON r.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         (1 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(c.c, 0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn))
           AS rank
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1, d=damping)
                     for i in range(1, n_iter + 1))
    return f"""
WITH edges AS (
  SELECT DISTINCT subj AS src, obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{iters}
SELECT node, round(rank, 6) AS rank FROM r{n_iter}"""


def q_kg_pagerank_weighted(spark, sf_dir):
    """Edge-weighted PageRank over the symmetric co-citation graph —
    rank splits proportionally to HOW OFTEN two statutes are co-cited,
    not just whether (`graph.pagerank_weighted`): the centrality that
    separates a statute with one strong partner from one with many
    weak ones.  4 unrolled iterations, weighted outflow and dangling
    handled as in the uniform operator; the oracle unrolls the same
    weighted power iteration."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("sb"))
    co = (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                  & (F.col("statute") < F.col("sb")))
          .groupBy(F.col("statute").alias("a"), F.col("sb").alias("b"))
          .agg(F.count(F.lit(1)).alias("co")))
    edges = (co.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                       F.col("co").alias("weight"))
             .unionByName(co.select(
                 F.col("b").alias("src"), F.col("a").alias("dst"),
                 F.col("co").alias("weight"))))
    return graph.pagerank_weighted(edges, n_iter=4,
                                   checkpoint_dir=_ckpt_dir(spark))


def o_kg_pagerank_weighted(n_iter: int = 4, damping: float = 0.85):
    it = """
d{i} AS (
  SELECT coalesce(sum(r.rank), 0) AS dm
  FROM r{p} r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL
),
c{i} AS (
  SELECT e.dst AS node, sum(r.rank * e.w / o.tw) AS c
  FROM edges e JOIN outw o ON e.src = o.src JOIN r{p} r ON r.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         (1 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(c.c, 0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn))
           AS rank
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1, d=damping)
                     for i in range(1, n_iter + 1))
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
),
co AS (
  SELECT a.statute AS a, b.statute AS b, count(*)::DOUBLE AS co
  FROM ds a JOIN ds b ON a.doc_id = b.doc_id AND a.statute < b.statute
  GROUP BY a.statute, b.statute
),
edges AS (
  SELECT a AS src, b AS dst, co AS w FROM co
  UNION ALL
  SELECT b, a, co FROM co
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{iters}
SELECT node, round(rank, 6) AS rank FROM r{n_iter}"""


def q_kg_katz(spark, sf_dir):
    """Katz centrality over the directed citation graph (doc →
    precedent): credit for being cited by well-cited nodes WITHOUT
    outflow normalization — the complement to PageRank in the
    centrality family (`graph.katz`, α=0.1, 6 truncated rounds,
    oracle = the same unrolled recurrence)."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = (tri.filter(F.col("pred") == "cites_precedent")
         .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                 F.concat(F.lit("p:"), "obj").alias("dst")))
    return graph.katz(e, alpha=0.1, n_iter=6,
                      checkpoint_dir=_ckpt_dir(spark))


def o_kg_katz(alpha: float = 0.1, n_iter: int = 6):
    it = """
x{i} AS (
  SELECT n.node, 1.0 + {a} * coalesce(c.c, 0) AS score
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(x.score) AS c
    FROM edges e JOIN x{p} x ON x.node = e.src
    GROUP BY e.dst) c ON n.node = c.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1, a=alpha)
                     for i in range(1, n_iter + 1))
    return f"""
WITH edges AS (
  SELECT DISTINCT 'd:' || doc_id AS src, 'p:' || obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'
    AND pred = 'cites_precedent'
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
x0 AS (SELECT node, 1.0 AS score FROM nodes),
{iters}
SELECT node, round(score, 6) AS score FROM x{n_iter}"""


def q_kg_ppr(spark, sf_dir):
    """PERSONALIZED PageRank from the most-cited statute (tie-break:
    name): proximity of every node in the part_of graph to the landmark
    — 'how close is this provision/statute to the IPC's neighbourhood'.
    Restart vector on the source, dangling mass restarts at the source;
    fixed 4 iterations, so the oracle unrolls the power iteration with
    the personalized restart term."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    src = (tri.filter(F.col("pred") == "part_of")
           .groupBy(F.col("obj").alias("node"))
           .agg(F.count("*").alias("cnt"))
           .orderBy(F.desc("cnt"), F.asc("node")).limit(1).select("node"))
    return graph.pagerank(tri, pred="part_of", n_iter=4, sources=src,
                          checkpoint_dir=_ckpt_dir(spark))


def o_kg_ppr(n_iter: int = 4, damping: float = 0.85):
    it = """
d{i} AS (
  SELECT coalesce(sum(r.rank), 0) AS dm
  FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
),
c{i} AS (
  SELECT e.dst AS node, sum(r.rank / o.deg) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src JOIN r{p} r ON r.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         (1 - {d}) * n.p
         + {d} * (coalesce(c.c, 0) + (SELECT dm FROM d{i}) * n.p) AS rank
  FROM nodesp n LEFT JOIN c{i} c ON n.node = c.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1, d=damping)
                     for i in range(1, n_iter + 1))
    return f"""
WITH edges AS (
  SELECT DISTINCT subj AS src, obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
srcs AS (
  SELECT obj AS node
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
  GROUP BY obj ORDER BY count(*) DESC, obj LIMIT 1
),
nodesp AS (
  SELECT n.node,
         CASE WHEN n.node IN (SELECT node FROM srcs)
              THEN 1.0 / (SELECT count(*) FROM srcs) ELSE 0.0 END AS p
  FROM nodes n
),
r0 AS (SELECT node, p AS rank FROM nodesp),
{iters}
SELECT node, round(rank, 6) AS rank FROM r{n_iter}"""


def q_kg_statute_degree(spark, sf_dir):
    """Graph analytics over the materialized triples: in-degree of statute
    nodes under part_of."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return (tri.filter(F.col("pred") == "part_of")
            .groupBy(F.col("obj").alias("statute"))
            .agg(F.count("*").cast("bigint").alias("in_degree"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs")))


def o_kg_statute_degree():
    return f"""
SELECT obj AS statute, count(*)::BIGINT AS in_degree,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
GROUP BY obj"""


def q_kg_statute_cocitation(spark, sf_dir):
    """Corpus-level graph: co-citation edges between canonical statutes —
    (a, b) weighted by the number of documents citing both under part_of.
    Cross-DOCUMENT analytics (everything else in the KG path is per-doc):
    distinct (doc, statute) pairs self-join on doc_id, then aggregate.
    At 10^12 docs the join is bounded by statutes-per-doc (small), never
    doc-pairs; the hot IPC-CrPC edge is exactly the salted-agg use case."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("statute_b"))
    return (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                    & (F.col("statute") < F.col("statute_b")))
            .groupBy(F.col("statute").alias("statute_a"), "statute_b")
            .agg(F.count("*").cast("bigint").alias("n_docs")))


def o_kg_statute_cocitation():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
)
SELECT a.statute AS statute_a, b.statute AS statute_b,
       count(*)::BIGINT AS n_docs
FROM ds a JOIN ds b ON a.doc_id = b.doc_id AND a.statute < b.statute
GROUP BY a.statute, b.statute"""


def q_kg_precedent_components(spark, sf_dir):
    """Corpus-level case communities: weakly-connected components of the
    bipartite doc ↔ precedent citation graph (docs joined by shared
    cited precedents).  Runs the global pointer-jumped CC operator —
    log(diameter) rounds of (node)-keyed shuffles over (id, label) rows,
    durable-checkpoint capable — the 10^12-doc shape for community
    discovery over the KG."""
    from .operators.graph import weakly_connected_components
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    edges = (tri.filter(F.col("pred") == "cites_precedent")
             .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                     F.concat(F.lit("p:"), "obj").alias("dst"))
             .distinct())
    return weakly_connected_components(edges,
                                       checkpoint_dir=_ckpt_dir(spark))


def o_kg_precedent_components():
    return f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'd:' || doc_id AS a, 'p:' || obj AS b
  FROM {{src}} WHERE rec_type = 'triple' AND pred = 'cites_precedent'
), edges AS (
  SELECT a, b FROM e0 UNION SELECT b, a FROM e0
), nodes AS (
  SELECT DISTINCT a AS n FROM edges
), reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS node, min(dst) AS component FROM reach GROUP BY src""".format(
        src=_KG_SQL_SRC)


def q_kg_components_incremental(spark, sf_dir):
    """Incrementally MAINTAINED case communities
    (`graph.wcc_incremental`): the citation graph arrives in two
    batches (md5-split on doc_id), the base batch is labelled by the
    full CC operator, and the delta batch merges in through the
    component-graph path — two label equi-joins, a CC run over ≤|delta|
    component edges, one broadcast remap over the labels.  The oracle
    is the SAME from-scratch closure `kg_precedent_components` uses
    over ALL edges: maintained labels must be identical, including
    min-node component ids (min-of-mins survives the rebase) and
    delta-only nodes entering as singletons before merging."""
    from .operators.graph import (weakly_connected_components,
                                  wcc_incremental)
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    edges = (tri.filter(F.col("pred") == "cites_precedent")
             .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                     F.concat(F.lit("p:"), "obj").alias("dst"))
             .distinct())
    base = edges.filter(F.md5(F.col("src")) < "8")
    delta = edges.filter(~(F.md5(F.col("src")) < "8"))
    labels = weakly_connected_components(
        base, checkpoint_dir=_ckpt_dir(spark))
    return wcc_incremental(labels, delta,
                           checkpoint_dir=_ckpt_dir(spark))


def o_kg_components_incremental():
    # the from-scratch closure over ALL edges — maintenance must
    # change nothing
    return o_kg_precedent_components()


def q_kg_statute_triangles(spark, sf_dir):
    """Triangles in the statute co-citation graph (triples of statutes
    pairwise co-cited by at least one document) — the classic
    graph-analytics aggregate, expressed as three equi-joins over
    canonicalized a<b edges; no cross product at any scale."""
    from .operators.graph import triangles
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("statute_b"))
    edges = (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                     & (F.col("statute") < F.col("statute_b")))
             .select(F.col("statute").alias("src"),
                     F.col("statute_b").alias("dst")).distinct())
    return triangles(edges, checkpoint_dir=_ckpt_dir(spark))


def o_kg_statute_triangles():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
), e AS (
  SELECT DISTINCT a.statute AS a, b.statute AS b
  FROM ds a JOIN ds b ON a.doc_id = b.doc_id AND a.statute < b.statute
)
SELECT e1.a AS node_a, e1.b AS node_b, e2.b AS node_c
FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"""


def q_kg_triangles_sampled(spark, sf_dir):
    """DOULION-style sampled triangle counting — the trillion-edge
    scale trick: keep each canonical edge with p = 1/4 (md5-keyed, so
    the 'coin' is deterministic and both engines flip the SAME coins),
    enumerate triangles on the thinned graph, scale by 1/p³ = 64.
    Variance falls as the graph grows (Tsourakakis 2009); the exact
    count stays available as `kg_statute_triangles`.  On the thinned
    graph the adaptive-orientation operator runs as usual."""
    from .operators.graph import triangles
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("statute_b"))
    edges = (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                     & (F.col("statute") < F.col("statute_b")))
             .select(F.col("statute").alias("src"),
                     F.col("statute_b").alias("dst")).distinct())
    keep = (F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("src"), F.col("dst"))), 1, 8), 16, 10)
        .cast("bigint") % 4 == 0)
    sampled = edges.filter(keep)
    return (triangles(sampled)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
            .select("n_sampled",
                    (F.col("n_sampled") * 64).cast("bigint")
                    .alias("estimate")))


def o_kg_triangles_sampled():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
), e AS (
  SELECT DISTINCT a.statute AS a, b.statute AS b
  FROM ds a JOIN ds b ON a.doc_id = b.doc_id AND a.statute < b.statute
), es AS (
  SELECT a, b FROM e
  WHERE (('0x' || substr(md5(a || '|' || b), 1, 8))::UBIGINT % 4) = 0
), t AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM es e1 JOIN es e2 ON e2.a = e1.b
             JOIN es e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT count(*)::BIGINT AS n_sampled,
       (count(*) * 64)::BIGINT AS estimate
FROM t"""


def q_digest_prune_agg(spark, sf_dir):
    """Pre-shuffle semi-join pruning: lineitem is first filtered through
    a broadcast of the urgent orders' 64-bit key digests (8 bytes/key —
    rows with no match die at the scan, before the shuffle), then the
    EXACT semi-join + aggregate runs over the survivors.  The digest
    pass is a superset filter (collisions ≈ 2^-64), so the composed
    result is value-exact; at 10^8+ keys the same role is played by
    Spark's runtime Bloom injection (plan-audited in tests)."""
    from .operators.skew import digest_semi_prune
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    pruned = digest_semi_prune(li, urgent, "l_orderkey", "o_orderkey")
    exact = pruned.join(
        F.broadcast(urgent.select(F.col("o_orderkey").alias("l_orderkey"))),
        "l_orderkey", "left_semi")
    return (exact.groupBy("l_returnflag")
            .agg(F.count("*").cast("bigint").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def o_digest_prune_agg():
    return """
SELECT l_returnflag, count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag"""


def q_kg_kcore(spark, sf_dir):
    """4-core of the doc ↔ statute citation graph: recursively peel
    nodes of degree < 4 until the mutually-supported core remains —
    the standard trim that separates the KG's dense legal core (IPC/
    CrPC-heavy practice areas and the judgments resting on them) from
    the long tail.  Iterative peel with shrink-only rounds; oracle is
    the same peel UNROLLED 8 rounds (fixpoint-stable: converged rounds
    are no-ops, and the operator itself converges in ≤ 3 rounds at
    these scales — it RAISES if max_iter is hit, so a silent
    under-unroll cannot slip through)."""
    from .operators.graph import kcore
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                  F.concat(F.lit("s:"), "obj").alias("dst")).distinct())
    return kcore(ds, k=4, max_iter=8, checkpoint_dir=_ckpt_dir(spark))


def o_kg_kcore(k: int = 4, rounds: int = 8):
    sql = f"""
WITH ds AS (
  SELECT DISTINCT 'd:' || doc_id AS a, 's:' || obj AS b
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
), e0 AS MATERIALIZED (
  SELECT a, b FROM ds UNION SELECT b AS a, a AS b FROM ds
)"""
    # AS MATERIALIZED: each round references the previous round twice; an
    # inlined CTE chain would expand to 2^rounds copies of the base scan
    for i in range(1, rounds + 1):
        sql += f""", n{i} AS MATERIALIZED (
  SELECT a FROM e{i-1} GROUP BY a HAVING count(*) >= {k}
), e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i-1} e
  JOIN n{i} x ON e.a = x.a JOIN n{i} y ON e.b = y.a
)"""
    return sql + f"""
SELECT a AS node, count(*)::BIGINT AS degree FROM e{rounds} GROUP BY a"""


def q_kg_media_stats(spark, sf_dir):
    """Interleaved-corpus media inventory over the materialized records:
    per media kind, span count, distinct carrying docs, distinct refs —
    the data model's multimodal half exercised through the ORACLED path
    (spans ride the Arrow boundary untouched and land on the 'doc'
    rows; DuckDB unnests the very same parquet array)."""
    recs = _kg_records_parquet(spark, sf_dir)
    return (recs.filter("rec_type = 'doc'")
            .select("doc_id", F.explode("spans").alias("s"))
            .filter("s.kind <> 'text'")
            .groupBy(F.col("s.kind").alias("kind"))
            .agg(F.count("*").cast("bigint").alias("n_spans"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.countDistinct("s.media_ref").cast("bigint")
                 .alias("n_refs")))


def o_kg_media_stats():
    return f"""
SELECT s.kind AS kind, count(*)::BIGINT AS n_spans,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(DISTINCT s.media_ref)::BIGINT AS n_refs
FROM (SELECT doc_id, unnest(spans) AS s
      FROM {_KG_SQL_SRC} WHERE rec_type = 'doc')
WHERE s.kind <> 'text'
GROUP BY s.kind"""


def q_kg_media_align(spark, sf_dir):
    """Media-to-mention alignment (`multimodal.nearest_mention_align`):
    every media span linked to its nearest entity mention by char
    offset (ties → preceding mention, then min ent_id) — the
    figure/scan-to-entity edge of the interleaved data model.  The
    Spark side is the sort-merge as-of shape (two per-doc windows over
    the unioned offset stream, linear in spans); the oracle is the
    per-doc quadratic argmin it must equal exactly."""
    from .operators import multimodal
    return multimodal.nearest_mention_align(
        _kg_records_parquet(spark, sf_dir))


def o_kg_media_align():
    return f"""
WITH media AS (
  SELECT doc_id, s.kind AS kind, s.media_ref AS media_ref,
         s."offset"::BIGINT AS pos, row_number() OVER () AS span_no
  FROM (SELECT doc_id, unnest(spans) AS s FROM {_KG_SQL_SRC}
        WHERE rec_type = 'doc')
  WHERE s.kind <> 'text'
),
men AS (SELECT doc_id, start_char::BIGINT AS sc,
               ent_id::BIGINT AS ent_id, label
        FROM {_KG_SQL_SRC} WHERE rec_type = 'mention'),
j AS (
  SELECT m.doc_id, m.media_ref, m.kind, m.pos,
         n.ent_id, n.label, n.sc, abs(n.sc - m.pos) AS dist,
         row_number() OVER (
           PARTITION BY m.doc_id, m.span_no
           ORDER BY abs(n.sc - m.pos),
                    CASE WHEN n.sc <= m.pos THEN 0 ELSE 1 END,
                    n.ent_id) AS rn
  FROM media m JOIN men n USING (doc_id)
)
SELECT doc_id, media_ref, kind, pos AS offset, ent_id, label,
       sc AS start_char, dist::BIGINT AS dist
FROM j WHERE rn = 1"""


def q_kg_citation_distance(spark, sf_dir):
    """Multi-hop reachability over the KG: BFS distance (≤ 6 hops) from
    the landmark precedents (every precedent cited by ≥ 2 documents)
    through the doc ↔ precedent citation graph — frontier-expansion
    rounds over the checkpointed edge table, the Pregel shape as
    DataFrame ops."""
    from .operators.graph import bfs_distances
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = (tri.filter(F.col("pred") == "cites_precedent")
         .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                 F.concat(F.lit("p:"), "obj").alias("dst"))
         .distinct())
    sources = (e.groupBy("dst").agg(F.countDistinct("src").alias("n"))
               .filter("n >= 2").select(F.col("dst").alias("node")))
    return bfs_distances(e, sources, max_depth=6,
                         checkpoint_dir=_ckpt_dir(spark))


def o_kg_citation_distance():
    return f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'd:' || doc_id AS a, 'p:' || obj AS b
  FROM {{src}} WHERE rec_type = 'triple' AND pred = 'cites_precedent'
), edges AS (
  SELECT a, b FROM e0 UNION SELECT b, a FROM e0
), srcs AS (
  SELECT b FROM e0 GROUP BY b HAVING count(DISTINCT a) >= 2
), walk(node, d) AS (
  SELECT b, 0 FROM srcs
  UNION
  SELECT e.b, w.d + 1 FROM walk w JOIN edges e ON e.a = w.node
  WHERE w.d < 6
)
SELECT node, min(d)::INT AS distance FROM walk GROUP BY node""".format(
        src=_KG_SQL_SRC)


def q_salted_join_agg(spark, sf_dir):
    """Skew-proof large-to-medium equi-join: lineitem ⋈ part through
    ``salted_join`` (small side replicated per salt, big side salted, join
    on (key, salt)) then brand revenue.  Result-identical to the plain
    join — the oracle IS the plain join — while the hottest part key's
    rows spread over n_salts reducers; the pattern for
    known-hot-key joins whose small side exceeds the broadcast
    threshold (IPC/CrPC-grade skew in KG terms)."""
    from .operators import skew
    li = (spark.read.parquet(_t(sf_dir, "lineitem"))
          .withColumnRenamed("l_partkey", "partkey"))
    pt = (spark.read.parquet(_t(sf_dir, "part"))
          .withColumnRenamed("p_partkey", "partkey"))
    j = skew.salted_join(li, pt.select("partkey", "p_brand"), "partkey",
                         n_salts=8)
    return (j.groupBy("p_brand")
            .agg(F.count("*").cast("bigint").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def o_salted_join_agg():
    return """
SELECT p_brand, count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p_brand"""


def q_kg_hits(spark, sf_dir):
    """HITS hubs/authorities over the citation graph: judgments that cite
    widely are hubs, precedents cited by good hubs are authorities.
    Fixed 4 iterations with L1 normalization each half-step, so the
    oracle unrolls the mutual-reinforcement recurrence exactly (the
    pagerank playbook)."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return graph.hits(tri, pred="cites_precedent", n_iter=4,
                      checkpoint_dir=_ckpt_dir(spark))


def o_kg_hits(n_iter: int = 4):
    # MATERIALIZED + window-sum normalization: scalar subqueries against
    # chained CTEs make DuckDB re-inline (and per-row re-evaluate) the
    # whole prefix of the recurrence — 4 levels of that is effectively
    # n^4 re-evaluations and never finishes; sum() OVER () computes the
    # normalizer in the same pass (NULLs from the left join are ignored,
    # so the window total equals the raw-score total)
    it = """
ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS a_raw
  FROM edges e JOIN h{p} h ON h.node = e.src GROUP BY e.dst
),
a{i} AS MATERIALIZED (
  SELECT n.node, coalesce(ar.a_raw, 0) / sum(ar.a_raw) OVER () AS auth
  FROM nodes n LEFT JOIN ar{i} ar ON n.node = ar.node
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS h_raw
  FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
),
h{i} AS MATERIALIZED (
  SELECT n.node, coalesce(hr.h_raw, 0) / sum(hr.h_raw) OVER () AS hub
  FROM nodes n LEFT JOIN hr{i} hr ON n.node = hr.node
)"""
    iters = ",".join(it.format(i=i, p=i - 1) for i in range(1, n_iter + 1))
    return f"""
WITH edges AS (
  SELECT DISTINCT subj AS src, obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'cites_precedent'
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes),
{iters}
SELECT h.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
FROM h{n_iter} h JOIN a{n_iter} a USING (node)"""


def q_kg_node_ids(spark, sf_dir):
    """Dense int64 id dictionary over every KG node (distinct subj ∪ obj
    of the triples) — the GNN-export encoding step.  Ids are a
    distributed prefix-sum over md5-prefix buckets, never a global
    sort; the oracle replays the exact (bucket, name) order with one
    row_number."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    nodes = tri.select(F.col("subj").alias("node")).union(
        tri.select(F.col("obj").alias("node")))
    return graph.dense_node_ids(nodes)


def o_kg_node_ids():
    return f"""
WITH tri AS (SELECT subj, obj FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'),
nodes AS (SELECT subj AS node FROM tri UNION SELECT obj FROM tri)
SELECT node,
       (row_number() OVER (ORDER BY substring(md5(node), 1, 2), node)
        - 1)::BIGINT AS node_id
FROM nodes"""


def q_kg_edges_encoded(spark, sf_dir):
    """part_of edge list remapped through the dense-id dictionary —
    (src_id, dst_id) int64 pairs ready for adjacency/GNN consumption;
    two name-keyed hash joins, inner so a dictionary miss surfaces as a
    count drop."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    nodes = tri.select(F.col("subj").alias("node")).union(
        tri.select(F.col("obj").alias("node")))
    ids = graph.dense_node_ids(nodes)
    e = (tri.filter(F.col("pred") == "part_of")
         .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
         .distinct())
    return graph.encode_edges(e, ids)


def o_kg_edges_encoded():
    return f"""
WITH tri AS (SELECT * FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'),
nodes AS (SELECT subj AS node FROM tri UNION SELECT obj FROM tri),
ids AS (
  SELECT node,
         (row_number() OVER (ORDER BY substring(md5(node), 1, 2), node)
          - 1)::BIGINT AS node_id
  FROM nodes
),
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM tri
      WHERE pred = 'part_of')
SELECT s.node_id AS src_id, d.node_id AS dst_id
FROM e JOIN ids s ON e.src = s.node JOIN ids d ON e.dst = d.node"""


def q_kg_adjacency(spark, sf_dir):
    """Adjacency-list export of the part_of graph: per source node the
    sorted, deduplicated neighbour list (joined to one string for
    engine-neutral hashing) plus out-degree — the other standard graph
    materialization format next to the encoded edge list."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return (tri.filter(F.col("pred") == "part_of")
            .groupBy(F.col("subj").alias("src"))
            .agg(F.concat_ws("|", F.sort_array(F.collect_set("obj")))
                 .alias("neighbors"),
                 F.size(F.collect_set("obj")).cast("bigint")
                 .alias("out_degree")))


def o_kg_adjacency():
    return f"""
SELECT subj AS src,
       array_to_string(list(DISTINCT obj ORDER BY obj), '|') AS neighbors,
       count(DISTINCT obj)::BIGINT AS out_degree
FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
GROUP BY subj"""


# dirty statute surface forms for the fuzzy linking tier — typos, OCR
# noise, reorderings the regex dictionary (STATUTE_CANON) cannot catch,
# plus true negatives that must NOT link at the 0.3 threshold
ENTITY_LINK_FIXTURES = [
    "Indain Penal Code",                      # transposition typo
    "Indian  Penal\tCode, 1860",              # whitespace + year suffix
    "Criminal Procedure Code (Amendment)",
    "Crminal Procedure Code",                 # dropped letter
    "Income Tax Act 1961",
    "Income-Tax Act",
    "Motor Vehical Act",                      # OCR-style vowel swap
    "Motor Vehicles Act",
    "Industrail Dispute Act",
    "Industrial Disputes Act, 1947",
    "Constitutional",                         # shares 'constitution' stem
    "The Constitution",
    "Limitation Act",                         # true negative
    "Bananas Act",                            # true negative
    "ipc",                                    # acronym: no trigram overlap
]


def q_entity_link_fuzzy(spark, sf_dir):
    """Fuzzy entity linking: dirty statute surface forms → canonical
    dictionary entries by character-trigram Jaccard (threshold 0.3,
    best-1 per mention) — the complementary tier to the regex
    canonicalizer for misspellings/OCR noise.  Broadcast dictionary
    trigrams; the only shuffle is the blocked (mention, candidate)
    count."""
    from .operators import linking
    mentions = _fixture_df(spark, ENTITY_LINK_FIXTURES, col="mention")
    canon = sorted({c for _, c in STATUTE_CANON})
    dictionary = _fixture_df(spark, canon, col="entity")
    return linking.trigram_link(mentions, dictionary, threshold=0.3)


def o_entity_link_fuzzy(threshold: float = 0.3):
    canon = sorted({c for _, c in STATUTE_CANON})
    return f"""
WITH m0 AS (SELECT DISTINCT text AS mention
            FROM {_values_sql(ENTITY_LINK_FIXTURES)}),
mn AS (
  SELECT mention,
         trim(regexp_replace(lower(mention), '[^a-z0-9]+', ' ', 'g')) AS nm
  FROM m0
),
mt AS (
  SELECT mention,
         list_distinct(list_transform(
           generate_series(1, length(nm) - 2),
           i -> substring(nm, i, 3))) AS tg
  FROM mn WHERE length(nm) >= 3
),
me AS (SELECT mention, len(tg) AS m_sz, unnest(tg) AS tg FROM mt),
d0 AS (SELECT DISTINCT text AS entity
       FROM {_values_sql(canon)}),
dn AS (
  SELECT entity,
         trim(regexp_replace(lower(entity), '[^a-z0-9]+', ' ', 'g')) AS nd
  FROM d0
),
dt AS (
  SELECT entity,
         list_distinct(list_transform(
           generate_series(1, length(nd) - 2),
           i -> substring(nd, i, 3))) AS tg
  FROM dn WHERE length(nd) >= 3
),
de AS (SELECT entity, len(tg) AS e_sz, unnest(tg) AS tg FROM dt),
j AS (
  SELECT mention, m_sz, entity, e_sz, count(*) AS inter
  FROM me JOIN de USING (tg)
  GROUP BY mention, m_sz, entity, e_sz
),
s AS (
  SELECT mention, entity,
         inter / (m_sz + e_sz - inter) AS score
  FROM j
),
r AS (
  SELECT mention, entity, score,
         row_number() OVER (PARTITION BY mention
                            ORDER BY score DESC, entity) AS rn
  FROM s WHERE score >= {threshold}
)
SELECT mention, entity, round(score, 4) AS score FROM r WHERE rn = 1"""


def q_stratified_sample(spark, sf_dir):
    """Per-language stratified sample (k=20 per stratum) via the
    md5-uniform draw — the data-balance primitive for training mixes;
    one per-stratum window, no global sort."""
    from .operators import textprep
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "lang", "n_chars"))
    return textprep.stratified_sample(docs, "lang", "doc_id", 20)


def o_stratified_sample():
    return """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id::BIGINT AS doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('ss1' || doc_id::VARCHAR), doc_id) AS rn
  FROM documents) t
WHERE rn <= 20"""


def q_kg_negative_samples(spark, sf_dir):
    """Filtered negative sampling for KG-embedding training: 2 corrupted
    objects per positive triple, drawn by md5 index from the dense node
    dictionary, minus accidental true triples.  Projection + explode +
    two equi-joins — no sampling loop."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    nodes = tri.select(F.col("subj").alias("node")).union(
        tri.select(F.col("obj").alias("node")))
    ids = graph.dense_node_ids(nodes)
    return graph.negative_samples(tri, ids, k=2)


def o_kg_negative_samples(k: int = 2):
    return f"""
WITH tri0 AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
              WHERE rec_type = 'triple'),
tri AS (SELECT DISTINCT subj, pred, obj FROM tri0),
nodes AS (SELECT subj AS node FROM tri0 UNION SELECT obj FROM tri0),
ids AS (
  SELECT node,
         (row_number() OVER (ORDER BY substring(md5(node), 1, 2), node)
          - 1)::BIGINT AS node_id
  FROM nodes
),
nn AS (SELECT count(*) AS n_nodes FROM ids),
cand AS (
  SELECT t.subj, t.pred, t.obj, s.j::INT AS neg_ix,
         (('0x' || substr(md5('ns1' || t.subj || '|' || t.pred || '|'
                              || t.obj || '|' || s.j::VARCHAR), 1, 8))
          ::UBIGINT % (SELECT n_nodes FROM nn))::BIGINT AS neg_id
  FROM tri t, unnest(generate_series(1, {k})) AS s(j)
),
neg AS (
  SELECT c.subj, c.pred, c.obj, c.neg_ix, i.node AS neg_obj
  FROM cand c JOIN ids i ON c.neg_id = i.node_id
)
SELECT n.subj, n.pred, n.obj, n.neg_ix, n.neg_obj
FROM neg n LEFT JOIN tri t2
  ON n.subj = t2.subj AND n.pred = t2.pred AND n.neg_obj = t2.obj
WHERE t2.subj IS NULL"""


def q_kg_statute_pmi(spark, sf_dir):
    """Pointwise mutual information of statute co-citation: which statute
    pairs co-occur in documents MORE than their individual popularity
    predicts (PMI > 0) — the association-mining layer over the raw
    co-citation counts.  Pair counts come from the bounded per-doc
    self-join; marginals and the doc total are tiny aggregates broadcast
    into the final projection."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    nd = ds.agg(F.countDistinct("doc_id").alias("n_total"))
    marg = ds.groupBy("statute").agg(F.count(F.lit(1)).alias("c"))
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("statute_b"))
    pairs = (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                     & (F.col("statute") < F.col("statute_b")))
             .groupBy(F.col("statute").alias("statute_a"), "statute_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    return (pairs
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_a"),
                F.col("c").alias("c_a"))), "statute_a")
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_b"),
                F.col("c").alias("c_b"))), "statute_b")
            .crossJoin(F.broadcast(nd))
            .select("statute_a", "statute_b", "n_docs",
                    F.round(F.log(F.col("n_docs") * F.col("n_total")
                                  / (F.col("c_a") * F.col("c_b"))), 4)
                    .alias("pmi")))


def o_kg_statute_pmi():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
),
nd AS (SELECT count(DISTINCT doc_id) AS n_total FROM ds),
marg AS (SELECT statute, count(*) AS c FROM ds GROUP BY statute),
pairs AS (
  SELECT a.statute AS statute_a, b.statute AS statute_b,
         count(*)::BIGINT AS n_docs
  FROM ds a JOIN ds b
    ON a.doc_id = b.doc_id AND a.statute < b.statute
  GROUP BY a.statute, b.statute
)
SELECT p.statute_a, p.statute_b, p.n_docs,
       round(ln(p.n_docs * (SELECT n_total FROM nd)
                / (ma.c * mb.c)), 4) AS pmi
FROM pairs p
JOIN marg ma ON p.statute_a = ma.statute
JOIN marg mb ON p.statute_b = mb.statute"""


def q_mixture_sample(spark, sf_dir):
    """Temperature-based mixture sampling (alpha = 0.5): per-language
    quotas ∝ count^alpha — tail languages upsampled relative to their
    raw share, the multilingual-LM data-mix rule — then the md5-uniform
    per-stratum draw."""
    from .operators import textprep
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang"))
    return textprep.mixture_sample(docs, "lang", "doc_id", 100, alpha=0.5)


def o_mixture_sample(k_total: int = 100, alpha: float = 0.5):
    return f"""
WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
quota AS (
  SELECT lang,
         greatest(1, floor({k_total} * pow(c, {alpha})
                           / sum(pow(c, {alpha})) OVER ()))::INT AS q
  FROM cnt
),
ranked AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('mx1' || doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
SELECT r.lang, r.doc_id
FROM ranked r JOIN quota USING (lang)
WHERE r.rn <= quota.q"""


def q_dataset_split(spark, sf_dir):
    """Deterministic 80/10/10 train/valid/test assignment by salted hash
    bucket — survives re-runs, insertions, and engine swaps (no seed
    stream, no row order); pure projection, zero shuffle."""
    from .operators import textprep
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "lang"))
    return textprep.hash_split(docs, "doc_id")


def o_dataset_split():
    return """
SELECT doc_id::BIGINT AS doc_id, lang,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5('sp1' || doc_id::VARCHAR), 1, 8))::UBIGINT
           % 100 AS b
  FROM documents) t"""


def q_ngram_diversity(spark, sf_dir):
    """Distinct-2 diversity (self-repetition metric for generated/crawled
    text): distinct bigrams / total bigrams per document — low values
    flag template spam and degenerate decoding.  Pure projection over
    the token array (no explode, no shuffle): bigrams materialize as an
    in-row array and both counts come from array ops."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.lower(F.col("text")), " ").alias("ts"))
    bg = toks.filter(F.size("ts") >= 2).withColumn(
        "bg", F.expr("transform(sequence(1, size(ts) - 1),"
                     " i -> concat(ts[i-1], ' ', ts[i]))"))
    return bg.select(
        "doc_id",
        F.size("bg").cast("bigint").alias("n_bigrams"),
        F.round(F.size(F.array_distinct("bg")) / F.size("bg"), 4)
        .alias("distinct2"))


def o_ngram_diversity():
    return """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS ts
  FROM documents
),
bg AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(ts) - 1),
                        i -> ts[i] || ' ' || ts[i + 1]) AS bg
  FROM toks WHERE len(ts) >= 2
)
SELECT doc_id, len(bg)::BIGINT AS n_bigrams,
       round(len(list_distinct(bg)) / len(bg), 4) AS distinct2
FROM bg"""


def q_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log(freq) on log(rank) (healthy natural text ≈ −1; templated or
    synthetic text flattens).  Rank is computed DISTRIBUTED: ties rank
    within their frequency class via a freq-partitioned window, and the
    class offset comes from the tiny (distinct-freq → count) table's
    cumulative window — the prefix-sum idiom again, no global window
    over the vocabulary."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    vocab = (docs.select(F.explode(F.split(F.lower("text"), " "))
                         .alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    ftot = vocab.groupBy("f").agg(F.count(F.lit(1)).alias("nf"))
    wcum = (Window.orderBy(F.desc("f"))
            .rowsBetween(Window.unboundedPreceding, -1))
    foff = ftot.withColumn("off", F.coalesce(F.sum("nf").over(wcum),
                                             F.lit(0)))
    wtie = Window.partitionBy("f").orderBy("w")
    ranked = (vocab.join(F.broadcast(foff.select("f", "off")), "f")
              .withColumn("rank", F.row_number().over(wtie) + F.col("off")))
    return (ranked
            .select(F.log("rank").alias("lx"), F.log("f").alias("ly"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
                 F.round(F.covar_pop("lx", "ly") / F.var_pop("lx"), 4)
                 .alias("zipf_slope")))


def o_zipf_slope():
    return """
WITH vocab AS (
  SELECT w, count(*) AS f FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
  GROUP BY w
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rank FROM vocab
)
SELECT count(*)::BIGINT AS n_vocab,
       round(regr_slope(ln(f), ln(rank)), 4) AS zipf_slope
FROM ranked"""


def q_skyline_docs(spark, sf_dir):
    """Pareto frontier of the corpus on (length, vocabulary richness)
    — the curation view that separates 'long but repetitive' from
    'rich but tiny' documents without committing to a weighting
    between the two (`relational.skyline_2d`).  Exact 2-D skyline with
    NO dominance self-join and NO global window: strict-prefix max
    over descending length decomposed into ≤256 range buckets + RANGE
    tie-exact frames, plus one same-length groupBy for the tie rule.
    The oracle is the textbook NOT EXISTS dominance predicate —
    quadratic, which is exactly why the Spark side doesn't do it that
    way."""
    from .operators import relational
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    d = docs.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("len_chars"),
        F.size(F.array_distinct(F.split(F.lower("text"), " ")))
        .cast("bigint").alias("distinct_tokens"))
    return relational.skyline_2d(d, "len_chars", "distinct_tokens") \
        .select("doc_id", "len_chars", "distinct_tokens")


def o_skyline_docs():
    return """
WITH d AS (
  SELECT doc_id, n_chars::BIGINT AS len_chars,
         len(list_distinct(string_split(lower(text), ' ')))::BIGINT
           AS distinct_tokens
  FROM documents
)
SELECT doc_id, len_chars, distinct_tokens
FROM d x
WHERE NOT EXISTS (
  SELECT 1 FROM d y
  WHERE y.len_chars >= x.len_chars
    AND y.distinct_tokens >= x.distinct_tokens
    AND (y.len_chars > x.len_chars
         OR y.distinct_tokens > x.distinct_tokens))"""


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve — the tokenizer-sizing report: what
    fraction of all token OCCURRENCES the top-k vocabulary covers, for
    k ∈ {100, 1k, 10k} (the elbow of this curve is how vocab sizes get
    chosen).  Rank is the same DISTRIBUTED freq-partitioned device as
    `zipf_slope` (tie windows within a frequency class + a tiny
    broadcast cumulative-offset table — no global window over the
    vocabulary); the three coverages then fold into ONE conditional
    aggregate pass, unpivoted driver-free via an inline array."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    vocab = (docs.select(F.explode(F.split(F.lower("text"), " "))
                         .alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    ftot = vocab.groupBy("f").agg(F.count(F.lit(1)).alias("nf"))
    wcum = (Window.orderBy(F.desc("f"))
            .rowsBetween(Window.unboundedPreceding, -1))
    foff = ftot.withColumn("off", F.coalesce(F.sum("nf").over(wcum),
                                             F.lit(0)))
    wtie = Window.partitionBy("f").orderBy("w")
    ranked = (vocab.join(F.broadcast(foff.select("f", "off")), "f")
              .withColumn("rank",
                          F.row_number().over(wtie) + F.col("off")))
    ks = [100, 1000, 10000]
    row = ranked.agg(
        *[F.sum(F.when(F.col("rank") <= k, F.col("f")).otherwise(0))
          .alias(f"c{k}") for k in ks],
        F.sum("f").alias("total"))
    return (row.select(F.explode(F.array(*[
                F.struct(F.lit(k).cast("bigint").alias("k"),
                         F.col(f"c{k}").cast("bigint").alias("covered"))
                for k in ks])).alias("s"), "total")
            .select(F.col("s.k").alias("k"),
                    F.col("s.covered").alias("covered"),
                    F.round(F.col("s.covered") / F.col("total"), 4)
                    .alias("coverage")))


def o_vocab_coverage():
    return """
WITH vocab AS (
  SELECT w, count(*) AS f FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
  GROUP BY w
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rank FROM vocab
),
tot AS (SELECT SUM(f) AS total FROM vocab),
cov AS (
  SELECT k, SUM(CASE WHEN rank <= k THEN f ELSE 0 END)::BIGINT
            AS covered
  FROM ranked, (SELECT unnest([100, 1000, 10000]) AS k) ks
  GROUP BY k
)
SELECT k::BIGINT AS k, covered,
       round(covered * 1.0 / total, 4) AS coverage
FROM cov, tot"""


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_corpus_pivot(spark, sf_dir):
    """source × language contingency table via PIVOT with pinned values
    (dynamic pivots collect the value set to the driver — pinning keeps
    the plan one pass).  Missing cells coalesce to 0 so the shape is
    engine-neutral."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    p = (docs.groupBy("source").pivot("lang", _PIVOT_LANGS)
         .agg(F.count(F.lit(1))))
    return p.select(
        "source",
        *[F.coalesce(F.col(lang), F.lit(0)).cast("bigint").alias(lang)
          for lang in _PIVOT_LANGS])


def o_corpus_pivot():
    cells = ", ".join(
        f"count(*) FILTER (lang = '{lang}')::BIGINT AS {lang}"
        for lang in _PIVOT_LANGS)
    return f"SELECT source, {cells} FROM documents GROUP BY source"


def q_chunk_windows(spark, sf_dir, window: int = 64, stride: int = 48):
    """Sliding-window sequence chunking (the tokenize-and-chunk step that
    turns documents into fixed-length training sequences, stride <
    window for overlap): per doc, chunk i covers tokens
    [i·stride, i·stride + window).  Chunk count uses pure integer
    arithmetic (1 + ⌈(n−W)/S⌉ via floordiv) so both engines agree
    exactly; the explode fans out ∝ OUTPUT chunks, and everything else
    is in-row array slicing — no shuffle at all."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.lower(F.col("text")), " ").alias("ts"))
    n = F.size("ts")
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.floor((n - window + stride - 1) / stride) + 1).cast("int")
    chunks = (toks.withColumn("n_chunks", n_chunks)
              .select("doc_id", "ts",
                      F.explode(F.expr("sequence(0, n_chunks - 1)"))
                      .alias("chunk_ix")))
    body = F.slice("ts", F.col("chunk_ix") * stride + 1, window)
    return chunks.select(
        "doc_id", "chunk_ix",
        F.size(body).cast("bigint").alias("n_tokens"),
        F.array_join(body, " ").alias("chunk_text"))


def o_chunk_windows(window: int = 64, stride: int = 48):
    return f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(lower(text), ' ') AS ts
  FROM documents
),
counted AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) <= {window} THEN 1
              ELSE ((len(ts) - {window} + {stride} - 1) // {stride}) + 1
         END::INT AS n_chunks
  FROM toks
),
ex AS (
  SELECT doc_id, ts, s.i::INT AS chunk_ix
  FROM counted, unnest(generate_series(0, n_chunks - 1)) AS s(i)
)
SELECT doc_id, chunk_ix,
       len(list_slice(ts, chunk_ix * {stride} + 1,
                      chunk_ix * {stride} + {window}))::BIGINT AS n_tokens,
       array_to_string(list_slice(ts, chunk_ix * {stride} + 1,
                                  chunk_ix * {stride} + {window}), ' ')
         AS chunk_text
FROM ex"""


def q_oov_rate(spark, sf_dir, vocab_k: int = 1000):
    """Out-of-vocabulary rate per document against the corpus top-k
    vocabulary (the coverage check run before committing to a tokenizer
    vocab).  Vocab cut = TakeOrdered over the aggregated vocab (partial
    per-partition top-k, deterministic (freq desc, token) tie-break),
    broadcast into a left join over the exploded tokens; one doc_id
    aggregation closes it."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tok = (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       F.explode(F.split(F.lower("text"), " "))
                       .alias("w")))
    vocab = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("w")).limit(vocab_k)
             .select("w", F.lit(1).alias("_in")))
    return (tok.join(F.broadcast(vocab), "w", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.round(F.avg(F.when(F.col("_in").isNull(), 1.0)
                               .otherwise(0.0)), 4).alias("oov_rate")))


def o_oov_rate(vocab_k: int = 1000):
    return f"""
WITH tok AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY w
    ORDER BY c DESC, w LIMIT {vocab_k}) t
)
SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(CASE WHEN v.w IS NULL THEN 1.0 ELSE 0.0 END), 4)
         AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id"""


def q_dedup_prefix_filter(spark, sf_dir):
    """EXACT set-similarity join (prefix filtering, AllPairs/PPJoin):
    every doc pair with 5-gram-shingle Jaccard ≥ 4/5.  The oracle is the
    brute-force all-pairs join — equality proves the prefix filter has
    NO false negatives, the property the approximate tiers (minhash /
    simhash) trade away."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "text"))
    return dedup.prefix_filter_pairs(docs, t_num=4, t_den=5, n=5)


def o_dedup_prefix_filter(t_num: int = 4, t_den: int = 5, n: int = 5):
    return f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS t
  FROM documents
),
tok AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + {n} - 1), ' ') AS shingle
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, len(t) - {n} + 1)) AS i) s
  WHERE len(t) >= {n}
),
sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.s + sb.s - i), 4) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE {t_den} * i >= {t_num} * (sa.s + sb.s - i)"""


def q_dedup_posting_stats(spark, sf_dir):
    """Observability row for the prefix-filter hot-posting guard
    (operators/dedup.prefix_posting_stats): posting-width census of the
    rarity-ordered prefix index — total postings, how many the join's
    df-bound decomposes (df, not true width: exactly what
    prefix_filter_pairs blocks by), the widest true posting, the
    candidate-pair volume the prefix join will emit, and the
    blocked-cell fan-out the df-based decomposition will create.  The
    oracle replays the IDENTICAL global order (df asc, md5 sub-bucket,
    shingle), integer prefix length, and df-based blocking, so a
    value-exact match proves the stats describe the same cells the join
    actually builds.  max_posting=2 here so the oversize branch is
    exercised at sf0.01."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "text"))
    return dedup.prefix_posting_stats(docs, t_num=4, t_den=5, n=5,
                                      max_posting=2)


def o_dedup_posting_stats(t_num: int = 4, t_den: int = 5, n: int = 5,
                          mp: int = 2):
    return f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS t
  FROM documents
),
tok AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + {n} - 1), ' ') AS shingle
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, len(t) - {n} + 1)) AS i) s
  WHERE len(t) >= {n}
),
dfq AS (SELECT shingle, count(*) AS df FROM tok GROUP BY shingle),
ranked AS (
  SELECT shingle, row_number() OVER (
    ORDER BY df, substr(md5(shingle), 1, 2), shingle) AS rk
  FROM dfq
),
sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id),
pfx AS (
  SELECT t.doc_id, t.shingle
  FROM tok t JOIN ranked r USING (shingle) JOIN sz USING (doc_id)
  QUALIFY row_number() OVER (PARTITION BY t.doc_id ORDER BY r.rk)
          <= s - (({t_num} * s + {t_den} - 1) // {t_den}) + 1
),
w AS (SELECT p.shingle, count(*) AS w, max(df) AS df
      FROM pfx p JOIN dfq USING (shingle) GROUP BY p.shingle)
SELECT count(*)::BIGINT AS n_postings,
       coalesce(sum((df > {mp})::INT), 0)::BIGINT AS n_oversize,
       coalesce(max(w), 0)::BIGINT AS max_width,
       coalesce(sum(w * (w - 1) / 2), 0)::BIGINT AS cand_pairs,
       coalesce(sum(CASE WHEN df > {mp}
                    THEN ((df - 1) // {mp} + 1) * ((df - 1) // {mp} + 2) / 2
                    ELSE 1 END), 0)::BIGINT AS blocked_cells
FROM w"""


_SEMDEDUP_ASSIGN_SQL = """e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT c.vec_id, c.v, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos_vc} DESC, ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct) WHERE crn = 1
)"""


def _semdedup_assign_sql() -> str:
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return _SEMDEDUP_ASSIGN_SQL.format(
        cos_vc=cos.format(a="c.v", b="ct.cv")), cos


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) — embedding-level semantic
    deduplication (operators/dedup.semantic_dedup): cluster the corpus
    embeddings with the deterministic IVF quantizer, compare cosine
    pairs only WITHIN a cluster, connect components over
    above-threshold pairs, keeper = lowest vec_id per component.  The
    tier above MinHash/prefix in the dedup ladder — catches
    paraphrases that share no lexical shingles.  threshold=0.35 on the
    synthetic embeddings (their max within-cluster cosine is ~0.49;
    production text-embedding corpora use 0.95+) so components are
    non-trivial at every SF."""
    from .operators import dedup
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return (dedup.semantic_dedup(emb, n_clusters=8, threshold=0.35,
                                 checkpoint_dir=_ckpt_dir(spark))
            .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                    F.col("centroid_id").cast("int").alias("centroid_id"),
                    F.col("keeper_vec_id").cast("bigint")
                    .alias("keeper_vec_id")))


def o_semantic_dedup():
    assign, cos = _semdedup_assign_sql()
    return f"""
WITH RECURSIVE {assign},
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id
    AND {cos.format(a='a.v', b='b.v')} >= 0.35
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
)
SELECT a.vec_id::BIGINT AS vec_id, a.centroid_id::INT AS centroid_id,
       k.keeper::BIGINT AS keeper_vec_id
FROM assigned a
JOIN (SELECT src, min(dst) AS keeper FROM reach GROUP BY src) k
  ON k.src = a.vec_id"""


def q_semantic_dedup_diverse(spark, sf_dir):
    """semantic_dedup with the PAPER's keeper policy (SemDeDup §3:
    within each duplicate group keep the example LEAST similar to its
    cluster centroid — the one adding the most diversity; id
    tie-break), vs the default min-id policy the incremental flows
    prefer.  Same candidate/component tiers; only the representative
    choice differs — the oracle re-ranks each component by
    centroid-cosine in SQL."""
    from .operators import dedup
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return (dedup.semantic_dedup(emb, n_clusters=8, threshold=0.35,
                                 keep="diverse",
                                 checkpoint_dir=_ckpt_dir(spark))
            .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                    F.col("centroid_id").cast("int").alias("centroid_id"),
                    F.col("keeper_vec_id").cast("bigint")
                    .alias("keeper_vec_id")))


def o_semantic_dedup_diverse():
    assign, cos = _semdedup_assign_sql()
    return f"""
WITH RECURSIVE {assign},
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id
    AND {cos.format(a='a.v', b='b.v')} >= 0.35
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
),
comps AS (SELECT src AS vec_id, min(dst) AS comp FROM reach GROUP BY src),
simz AS (
  SELECT a.vec_id, a.centroid_id, c.comp,
         {cos.format(a='a.v', b='ct.cv')} AS ccos
  FROM assigned a JOIN comps c USING (vec_id)
                  JOIN cents ct USING (centroid_id)
),
reps AS (
  SELECT comp, vec_id AS keeper FROM (
    SELECT comp, vec_id, row_number() OVER (
      PARTITION BY comp ORDER BY ccos ASC, vec_id ASC) AS rn
    FROM simz) WHERE rn = 1
)
SELECT s.vec_id::BIGINT AS vec_id, s.centroid_id::INT AS centroid_id,
       r.keeper::BIGINT AS keeper_vec_id
FROM simz s JOIN reps r USING (comp)"""


def q_semantic_dedup_incremental(spark, sf_dir):
    """Incremental SEMANTIC dedup — the embedding-tier twin of
    near_dedup_incremental, completing the index family (MinHash /
    BM25 / IVF / semantic all build → append → compact): build the
    semantic index over even vec_ids (centroids trained on that batch
    and FROZEN), COMPACT under the atomic manifest flip, append the
    odd batch against the frozen keeper surface (within-batch pairs +
    batch × keeper-rep pairs, components, min-keeper resolution),
    return the combined corpus-wide assignment.  Even rows are frozen
    byte-identical to a plain semantic_dedup of the even batch; the
    oracle replays the identical two-phase frozen-keeper semantics in
    SQL, and its value-exact match also proves compaction changes no
    answer."""
    import tempfile
    from .operators import dedup
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    path = tempfile.mkdtemp(prefix="sem_idx_")
    dedup.semantic_index_build(emb.filter("vec_id % 2 = 0"), path,
                               n_clusters=8, threshold=0.35)
    dedup.semantic_index_compact(spark, path)
    dedup.semantic_index_append(emb.filter("vec_id % 2 = 1"), path,
                                threshold=0.35)
    return (dedup.semantic_index_read(spark, path, "keepers")
            .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                    F.col("centroid_id").cast("int").alias("centroid_id"),
                    F.col("keeper_vec_id").cast("bigint")
                    .alias("keeper_vec_id")))


def o_semantic_dedup_incremental():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8)
),
assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT c.vec_id, c.v, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct) WHERE crn = 1
),
pairs1 AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
    AND {cos.format(a='a.v', b='b.v')} >= 0.35
),
edges1 AS (
  SELECT ia AS a, ib AS b FROM pairs1 UNION SELECT ib, ia FROM pairs1
),
reach1(src, dst) AS (
  SELECT vec_id, vec_id FROM e WHERE vec_id % 2 = 0
  UNION
  SELECT r.src, ed.b FROM reach1 r JOIN edges1 ed ON r.dst = ed.a
),
keepers1 AS (
  SELECT src AS vec_id, min(dst) AS keeper FROM reach1 GROUP BY src
),
reps1 AS (SELECT DISTINCT keeper AS vec_id FROM keepers1),
pairs_nn AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id AND a.vec_id % 2 = 1 AND b.vec_id % 2 = 1
    AND {cos.format(a='a.v', b='b.v')} >= 0.35
),
pairs_nk AS (
  SELECT a.vec_id AS ia, k.vec_id AS ib
  FROM assigned a JOIN assigned k USING (centroid_id)
                  JOIN reps1 r ON r.vec_id = k.vec_id
  WHERE a.vec_id % 2 = 1
    AND {cos.format(a='a.v', b='k.v')} >= 0.35
),
edges2 AS (
  SELECT ia AS a, ib AS b FROM pairs_nn
  UNION SELECT ib, ia FROM pairs_nn
  UNION SELECT ia, ib FROM pairs_nk
  UNION SELECT ib, ia FROM pairs_nk
),
reach2(src, dst) AS (
  SELECT vec_id, vec_id FROM e WHERE vec_id % 2 = 1
  UNION
  SELECT r.src, ed.b FROM reach2 r JOIN edges2 ed ON r.dst = ed.a
),
keepers2 AS (
  SELECT r.src AS vec_id,
         coalesce(min(CASE WHEN rp.vec_id IS NOT NULL THEN r.dst END),
                  min(r.dst)) AS keeper
  FROM reach2 r LEFT JOIN reps1 rp ON rp.vec_id = r.dst
  GROUP BY r.src
),
unioned AS (
  SELECT vec_id, keeper FROM keepers1
  UNION ALL SELECT vec_id, keeper FROM keepers2
)
SELECT u.vec_id::BIGINT AS vec_id, a.centroid_id::INT AS centroid_id,
       u.keeper::BIGINT AS keeper_vec_id
FROM unioned u JOIN assigned a USING (vec_id)"""


def q_semantic_dedup_reconciled(spark, sf_dir):
    """Full-window reconcile of the incremental semantic index
    (operators/dedup.semantic_index_reconcile): build over evens,
    append odds (accumulating the frozen-keeper drift), then reconcile
    over the FULL corpus — the rebase-preserving rebuild.  The oracle
    is a single-phase fresh semantic dedup under the FROZEN
    even-trained quantizer: its value-exact match proves reconcile
    closes every drift miss and the explicit-edge rebase neither
    splits nor invents clusters (the semantic twin of
    ``near_dedup_reconciled``)."""
    import tempfile
    from .operators import dedup
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    path = tempfile.mkdtemp(prefix="sem_rec_")
    dedup.semantic_index_build(emb.filter("vec_id % 2 = 0"), path,
                               n_clusters=8, threshold=0.35)
    dedup.semantic_index_append(emb.filter("vec_id % 2 = 1"), path,
                                threshold=0.35)
    dedup.semantic_index_reconcile(emb, path, threshold=0.35)
    return (dedup.semantic_index_read(spark, path, "keepers")
            .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                    F.col("centroid_id").cast("int").alias("centroid_id"),
                    F.col("keeper_vec_id").cast("bigint")
                    .alias("keeper_vec_id")))


def o_semantic_dedup_reconciled():
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 4)")
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT * FROM e WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8)
),
assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT c.vec_id, c.v, ct.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY {cos.format(a='c.v', b='ct.cv')} DESC,
                      ct.centroid_id ASC) AS crn
    FROM e c CROSS JOIN cents ct) WHERE crn = 1
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id
    AND {cos.format(a='a.v', b='b.v')} >= 0.35
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
)
SELECT r.src::BIGINT AS vec_id, a.centroid_id::INT AS centroid_id,
       min(r.dst)::BIGINT AS keeper_vec_id
FROM reach r JOIN assigned a ON a.vec_id = r.src
GROUP BY r.src, a.centroid_id"""


def q_semantic_dedup_stats(spark, sf_dir):
    """Pre-run census for semantic_dedup
    (operators/dedup.semantic_dedup_stats): cluster sizes, the exact
    within-cluster comparison volume Σ s·(s−1)/2 the dedup will pay,
    and the hot-centroid imbalance detector — the go/no-go row logged
    before committing a SemDeDup pass, same contract as
    lsh_bucket_stats / prefix_posting_stats."""
    from .operators import dedup
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return dedup.semantic_dedup_stats(emb, n_clusters=8)


def o_semantic_dedup_stats():
    assign, _ = _semdedup_assign_sql()
    return f"""
WITH {assign},
sizes AS (SELECT centroid_id, count(*) AS s FROM assigned GROUP BY 1)
SELECT count(*)::BIGINT AS n_clusters,
       sum(s)::BIGINT AS n_vectors,
       max(s)::BIGINT AS max_cluster,
       sum(s * (s - 1) / 2)::BIGINT AS cand_pairs,
       round(max(s) / avg(s), 4) AS imbalance
FROM sizes"""


def _cocitation_edges(spark, sf_dir):
    """Canonical (a < b) undirected statute co-citation edges — shared
    base for the triangle/coefficient/assortativity analytics."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("sb"))
    return (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                    & (F.col("statute") < F.col("sb")))
            .select(F.col("statute").alias("a"), F.col("sb").alias("b"))
            .distinct())


_COCITE_EDGES_SQL = f"""
  SELECT DISTINCT x.statute AS a, y.statute AS b
  FROM (SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'part_of') x
  JOIN (SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'part_of') y
    ON x.doc_id = y.doc_id AND x.statute < y.statute"""


def q_kg_ktruss(spark, sf_dir):
    """3-truss of the statute co-citation graph: the maximal subgraph
    where every EDGE sits in ≥1 triangle after recursive peeling —
    stronger cohesion than k-core (mutually supported edges, not just
    endpoints), the trimming pass before computing clique-ish statute
    families.  Spark peels to the fixpoint; the oracle unrolls enough
    MATERIALIZED rounds that the fixpoint is reached at this SF, then
    reads the final per-edge support."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    return graph.ktruss(e.select(F.col("a").alias("src"),
                                 F.col("b").alias("dst")), k=3,
                        checkpoint_dir=_ckpt_dir(spark))


def o_kg_ktruss(k: int = 3, rounds: int = 6):
    sql = f"""
WITH e0 AS MATERIALIZED ({_COCITE_EDGES_SQL}
)"""
    for i in range(1, rounds + 1):
        sql += f""", s{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS support FROM (
    SELECT x.a AS a, x.b AS b
    FROM e{i-1} x JOIN e{i-1} y ON x.b = y.a
    JOIN e{i-1} z ON z.a = x.a AND z.b = y.b
    UNION ALL
    SELECT x.b AS a, y.b AS b
    FROM e{i-1} x JOIN e{i-1} y ON x.b = y.a
    JOIN e{i-1} z ON z.a = x.a AND z.b = y.b
    UNION ALL
    SELECT x.a AS a, y.b AS b
    FROM e{i-1} x JOIN e{i-1} y ON x.b = y.a
    JOIN e{i-1} z ON z.a = x.a AND z.b = y.b
  ) sides GROUP BY a, b
), e{i} AS MATERIALIZED (
  SELECT a, b FROM s{i} WHERE support >= {k - 2}
)"""
    return sql + f"""
SELECT a, b, support::BIGINT AS support FROM s{rounds}
WHERE support >= {k - 2}
  AND EXISTS (SELECT 1 FROM e{rounds} e WHERE e.a = s{rounds}.a
              AND e.b = s{rounds}.b)"""


def q_kg_random_walks(spark, sf_dir):
    """DeepWalk corpus over the statute co-citation graph: 2
    deterministic walks of length 3 from every node — the sampling pass
    a node-embedding trainer consumes.  Every step is md5-seeded
    (salt, start, walk, step, node) mod degree, so the oracle replays
    the identical corpus byte-for-byte: a value-exact match proves the
    walk transition function, the neighbor ranking, and the degree
    table all agree across engines."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    return graph.random_walks(e.select(F.col("a").alias("src"),
                                       F.col("b").alias("dst")),
                              n_walks=2, walk_len=3,
                              checkpoint_dir=_ckpt_dir(spark))


def _walk_sql_parts(n_walks: int = 2, walk_len: int = 3):
    """(cte_body, union_select) for the deterministic-walk replay —
    shared by the walk-corpus oracle and the skip-gram oracle."""
    ctes = f"""ds AS MATERIALIZED ({_COCITE_EDGES_SQL}
), sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM ds UNION
  SELECT b AS src, a AS dst FROM ds
), nbr AS MATERIALIZED (
  -- per-node neighbor order is (md5-bucket, dst) — the hub-bounded
  -- two-level rank the Spark side uses; any deterministic bijection
  -- works, both engines must just agree on it
  SELECT src, dst,
         row_number() OVER (PARTITION BY src
                            ORDER BY substr(md5(dst::VARCHAR), 1, 2),
                                     dst) - 1 AS r
  FROM sym
), deg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM sym GROUP BY src
), w0 AS MATERIALIZED (
  SELECT src AS start_node, w AS walk_id, src AS node
  FROM deg, (SELECT unnest(generate_series(0, {n_walks - 1})) AS w)
)"""
    for t in range(1, walk_len + 1):
        ctes += f""", w{t} AS MATERIALIZED (
  SELECT c.start_node, c.walk_id, n.dst AS node
  FROM w{t-1} c
  JOIN deg d ON c.node = d.src
  JOIN nbr n ON n.src = c.node
   AND n.r = (('0x' || substr(md5(
         'w-' || c.start_node || '-' || c.walk_id::VARCHAR
         || '-' || '{t}' || '-' || c.node), 1, 8))::UBIGINT
       % d.deg::UBIGINT)::BIGINT
)"""
    parts = [f"SELECT start_node, walk_id::INT AS walk_id, "
             f"{t}::INT AS step, node FROM w{t}"
             for t in range(walk_len + 1)]
    return ctes, "\nUNION ALL\n".join(parts)


def o_kg_random_walks(n_walks: int = 2, walk_len: int = 3):
    ctes, union = _walk_sql_parts(n_walks, walk_len)
    return f"WITH {ctes}\n{union}"


def q_kg_biased_walks(spark, sf_dir):
    """Node2vec-style SECOND-ORDER walk corpus over the statute
    co-citation graph (`graph.biased_walks`): integer weights
    (ret=1, com=2, far=1 — i.e. p=q=2 scaled by 2) steer each step by
    where the walk CAME FROM, and every interval pick is md5-seeded, so
    the unrolled DuckDB replay below is byte-exact — a value match
    proves the wedge weighting (return / common-neighbour / explore),
    the two-level cumulative intervals, and the modulus all agree
    across engines.  The per-wedge state is never materialized: each
    step weighs only the live frontier's neighbourhoods."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    return graph.biased_walks(e.select(F.col("a").alias("src"),
                                       F.col("b").alias("dst")),
                              n_walks=2, walk_len=3,
                              ret_w=1, com_w=2, far_w=1,
                              checkpoint_dir=_ckpt_dir(spark))


def _biased_walk_sql_parts(n_walks: int = 2, walk_len: int = 3,
                           ret_w: int = 1, com_w: int = 2,
                           far_w: int = 1):
    """(cte_body, union_select) replaying `graph.biased_walks`: step 1
    is the uniform rank pick; steps ≥2 weigh each neighbour by the
    node2vec return/common/explore class and pick the cumulative
    interval (ordered by (md5-bucket, dst), exclusive prefix sum)
    containing md5 mod total-weight."""
    ctes = f"""ds AS MATERIALIZED ({_COCITE_EDGES_SQL}
), sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM ds UNION
  SELECT b AS src, a AS dst FROM ds
), nbr AS MATERIALIZED (
  SELECT src, dst, substr(md5(dst::VARCHAR), 1, 2) AS bk,
         row_number() OVER (PARTITION BY src
                            ORDER BY substr(md5(dst::VARCHAR), 1, 2),
                                     dst) - 1 AS r
  FROM sym
), deg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM sym GROUP BY src
), w0 AS MATERIALIZED (
  SELECT src AS start_node, w AS walk_id, src AS node
  FROM deg, (SELECT unnest(generate_series(0, {n_walks - 1})) AS w)
), w1 AS MATERIALIZED (
  SELECT c.start_node, c.walk_id, c.node AS prev, n.dst AS node
  FROM w0 c
  JOIN deg d ON c.node = d.src
  JOIN nbr n ON n.src = c.node
   AND n.r = (('0x' || substr(md5(
         'b-' || c.start_node || '-' || c.walk_id::VARCHAR
         || '-' || '1' || '-' || c.node), 1, 8))::UBIGINT
       % d.deg::UBIGINT)::BIGINT
)"""
    for t in range(2, walk_len + 1):
        ctes += f""", j{t} AS MATERIALIZED (
  SELECT c.start_node, c.walk_id, c.prev, c.node, n.dst AS ndst, n.bk,
         CASE WHEN n.dst = c.prev THEN {ret_w}
              WHEN s2.src IS NOT NULL THEN {com_w}
              ELSE {far_w} END AS w
  FROM w{t-1} c
  JOIN nbr n ON n.src = c.node
  LEFT JOIN sym s2 ON s2.src = c.prev AND s2.dst = n.dst
), w{t} AS MATERIALIZED (
  SELECT start_node, walk_id, node AS prev, ndst AS node FROM (
    SELECT j.*,
      COALESCE(SUM(w) OVER (PARTITION BY start_node, walk_id
               ORDER BY bk, ndst
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum,
      SUM(w) OVER (PARTITION BY start_node, walk_id) AS tw,
      (('0x' || substr(md5(
          'b-' || start_node || '-' || walk_id::VARCHAR
          || '-' || '{t}' || '-' || node), 1, 8))::UBIGINT
        % (SUM(w) OVER (PARTITION BY start_node, walk_id))::UBIGINT
      )::BIGINT AS ch
    FROM j{t} j
  ) WHERE cum <= ch AND ch < cum + w
)"""
    parts = ["SELECT start_node, walk_id::INT AS walk_id, 0::INT AS "
             "step, node FROM w0"]
    parts += [f"SELECT start_node, walk_id::INT AS walk_id, "
              f"{t}::INT AS step, node FROM w{t}"
              for t in range(1, walk_len + 1)]
    return ctes, "\nUNION ALL\n".join(parts)


def o_kg_biased_walks(n_walks: int = 2, walk_len: int = 3):
    ctes, union = _biased_walk_sql_parts(n_walks, walk_len)
    return f"WITH {ctes}\n{union}"


def q_kg_biased_skipgrams(spark, sf_dir):
    """The node2vec training pairs: skip-gram (center, context) counts
    over the SECOND-ORDER walk corpus — what distinguishes node2vec
    embeddings from DeepWalk is exactly that this pair table comes
    from biased walks.  Same bounded per-walk self-join as
    `kg_walk_skipgrams`; the oracle stacks the skip-gram join on the
    byte-exact biased replay."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    walks = graph.biased_walks(e.select(F.col("a").alias("src"),
                                        F.col("b").alias("dst")),
                               n_walks=2, walk_len=3,
                               ret_w=1, com_w=2, far_w=1,
                               checkpoint_dir=_ckpt_dir(spark))
    return graph.walk_skipgrams(walks, window=2)


def o_kg_biased_skipgrams(window: int = 2):
    ctes, union = _biased_walk_sql_parts()
    return f"""WITH {ctes}, walks AS MATERIALIZED (
{union}
)
SELECT a.node AS center, b.node AS context, count(*)::BIGINT AS n
FROM walks a JOIN walks b
  ON a.start_node = b.start_node AND a.walk_id = b.walk_id
WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
GROUP BY a.node, b.node"""


def q_kg_walk_skipgrams(spark, sf_dir):
    """Skip-gram (center, context) pair counts from the deterministic
    walk corpus — the word2vec training pairs / PMI sufficient
    statistic that completes the DeepWalk export: edges → walks →
    pairs.  One self-equi-join on (start_node, walk_id), bounded at
    walk_len+1 rows per key, |Δstep| ≤ window band as a post-join
    filter."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    walks = graph.random_walks(e.select(F.col("a").alias("src"),
                                        F.col("b").alias("dst")),
                               n_walks=2, walk_len=3,
                               checkpoint_dir=_ckpt_dir(spark))
    return graph.walk_skipgrams(walks, window=2)


def o_kg_walk_skipgrams(window: int = 2):
    ctes, union = _walk_sql_parts()
    return f"""WITH {ctes}, walks AS MATERIALIZED (
{union}
)
SELECT a.node AS center, b.node AS context, count(*)::BIGINT AS n
FROM walks a JOIN walks b
  ON a.start_node = b.start_node AND a.walk_id = b.walk_id
WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
GROUP BY a.node, b.node"""


def q_kg_walk_ppmi(spark, sf_dir):
    """PPMI scores over the walk skip-gram counts — the matrix whose
    factorization IS word2vec/DeepWalk embeddings (Levy & Goldberg
    2014): ppmi(c, x) = max(0, log(n(c,x)·N / (n(c)·n(x)))).  Marginals
    ride tiny aggregates joined back (the N total is a 1-row broadcast
    via crossJoin — the scalar-subquery idiom); zero rows are dropped so
    the matrix stays sparse."""
    from .operators import graph
    from .plans.checkpoint import Truncator
    e = _cocitation_edges(spark, sf_dir)
    walks = graph.random_walks(e.select(F.col("a").alias("src"),
                                        F.col("b").alias("dst")),
                               n_walks=2, walk_len=3,
                               checkpoint_dir=_ckpt_dir(spark))
    # the pair table feeds FOUR consumers (two marginals, the total,
    # the main join); truncate once or the whole walk chain re-runs
    # per consumer (measured 10.9 s → ~2.5 s)
    pairs = Truncator(_ckpt_dir(spark))(
        graph.walk_skipgrams(walks, window=2), "ppmi_pairs")
    nc = pairs.groupBy("center").agg(F.sum("n").alias("n_c"))
    nx = pairs.groupBy("context").agg(F.sum("n").alias("n_x"))
    tot = pairs.agg(F.sum("n").alias("n_tot"))
    return (pairs.join(nc, "center").join(nx, "context")
            .crossJoin(F.broadcast(tot))
            .withColumn("ppmi", F.round(F.greatest(F.lit(0.0), F.log(
                F.col("n") * F.col("n_tot")
                / (F.col("n_c") * F.col("n_x")))), 4))
            .filter(F.col("ppmi") > 0)
            .select("center", "context",
                    F.col("n").cast("bigint").alias("n"), "ppmi"))


def o_kg_walk_ppmi(window: int = 2):
    ctes, union = _walk_sql_parts()
    return f"""WITH {ctes}, walks AS MATERIALIZED (
{union}
), pairs AS MATERIALIZED (
  SELECT a.node AS center, b.node AS context, count(*) AS n
  FROM walks a JOIN walks b
    ON a.start_node = b.start_node AND a.walk_id = b.walk_id
  WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
  GROUP BY a.node, b.node
)
SELECT center, context, n::BIGINT AS n,
       round(greatest(0.0, ln(n * (SELECT sum(n) FROM pairs)
             / (nc.n_c * nx.n_x))), 4) AS ppmi
FROM pairs
JOIN (SELECT center AS c2, sum(n) AS n_c FROM pairs GROUP BY center) nc
  ON center = nc.c2
JOIN (SELECT context AS x2, sum(n) AS n_x FROM pairs GROUP BY context) nx
  ON context = nx.x2
WHERE round(greatest(0.0, ln(n * (SELECT sum(n) FROM pairs)
       / (nc.n_c * nx.n_x))), 4) > 0"""


def _walk_ppmi_df(spark, sf_dir):
    """Shared walks → skip-grams → PPMI chain (q_kg_walk_ppmi's exact
    form) feeding the embedding queries."""
    from .operators import graph
    from .plans.checkpoint import Truncator
    e = _cocitation_edges(spark, sf_dir)
    walks = graph.random_walks(e.select(F.col("a").alias("src"),
                                        F.col("b").alias("dst")),
                               n_walks=2, walk_len=3,
                               checkpoint_dir=_ckpt_dir(spark))
    pairs = Truncator(_ckpt_dir(spark))(
        graph.walk_skipgrams(walks, window=2), "emb_pairs")
    nc = pairs.groupBy("center").agg(F.sum("n").alias("n_c"))
    nx = pairs.groupBy("context").agg(F.sum("n").alias("n_x"))
    tot = pairs.agg(F.sum("n").alias("n_tot"))
    return (pairs.join(nc, "center").join(nx, "context")
            .crossJoin(F.broadcast(tot))
            .withColumn("ppmi", F.greatest(F.lit(0.0), F.log(
                F.col("n") * F.col("n_tot")
                / (F.col("n_c") * F.col("n_x")))))
            .filter(F.col("ppmi") > 0)
            .select("center", "context", "ppmi"))


def q_kg_node_embeddings(spark, sf_dir):
    """DeepWalk node embeddings in closed form — the END of the chain
    whose pieces are oracled standalone (kg_random_walks →
    kg_walk_skipgrams → kg_walk_ppmi): truncated SVD of the PPMI matrix
    by distributed subspace iteration (`graph.ppmi_embeddings`,
    Levy & Goldberg 2014).  Per iteration: ONE equi-join + ONE
    map-side-combinable aggregate; the driver holds only dim² scalars.

    No SQL oracle — an iterative eigensolve has no ANSI-SQL form (the
    driver records the weaker rows-only check); correctness is gated by
    tests/test_embeddings.py instead: eigenvalues + rank-k
    reconstruction vs numpy on planted-spectrum matrices, orthogonality
    EᵀE = diag(|λ|), determinism across runs, and symmetrization."""
    from .operators import graph
    ppmi = _walk_ppmi_df(spark, sf_dir)
    # n_iter=5: the statute co-citation PPMI has ~10× spectral decay, so
    # 5 rounds + the Rayleigh-Ritz rotation is converged well past the
    # 4-dp level; eigen-ACCURACY on hard spectra is pytest-gated with
    # n_iter=25 (tests/test_embeddings.py), this row is the
    # chain-composition + throughput gate
    return graph.ppmi_embeddings(ppmi, dim=4, n_iter=5,
                                 checkpoint_dir=_ckpt_dir(spark))


def q_kg_embedding_neighbors(spark, sf_dir):
    """Nearest statutes in the LEARNED embedding space — the payoff
    query of the representation-learning chain: cosine top-2 neighbors
    per node over `q_kg_node_embeddings`' vectors, via the similarity
    tier's unit-vector rerank.  At this vocabulary (tens of statutes)
    the broadcast brute tier is the right plan; at web scale the same
    vectors feed `build_ivf_index` / `ann_ivf_topk` unchanged.  No SQL
    oracle (inherits the eigensolve); rows-only + pytest gates."""
    from .operators import graph, similarity
    emb = q_kg_node_embeddings(spark, sf_dir).select("node", "emb")
    qv = emb.select(F.col("node").alias("query_id"),
                    F.col("emb").alias("qv"))
    cv = emb.select(F.col("node").alias("neighbor_id"),
                    F.col("emb").alias("cv"))
    out = similarity.brute_force_topk(qv, cv, k=3)
    # drop the trivial self-match, keep 2 true neighbors
    return (out.filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("r", F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("cos_sim"), "neighbor_id")))
            .filter(F.col("r") <= 2)
            .select("query_id", "neighbor_id", "r"))


def q_kg_truss_communities(spark, sf_dir):
    """Connected components of the 3-truss — statute FAMILIES whose
    every membership edge is triangle-supported: the truss peel removes
    weak bridges first, so the surviving components are the genuinely
    interlocking co-citation cores (a cleaner community signal than raw
    WCC, which one noisy edge can merge).  Composition: ktruss →
    weakly_connected_components, both already oracled standalone."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    ck = _ckpt_dir(spark)
    truss = graph.ktruss(e.select(F.col("a").alias("src"),
                                  F.col("b").alias("dst")), k=3,
                         checkpoint_dir=ck)
    comp = graph.weakly_connected_components(
        truss.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        checkpoint_dir=ck)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .select(F.col("component").alias("family_head"), "n_nodes"))


def o_kg_truss_communities(k: int = 3, rounds: int = 6):
    truss = o_kg_ktruss(k=k, rounds=rounds)
    return f"""
WITH RECURSIVE truss AS MATERIALIZED ({truss}
), reach(node, label) AS (
  SELECT a AS node, least(a, b) AS label FROM truss
  UNION
  SELECT b AS node, least(a, b) AS label FROM truss
  UNION
  SELECT CASE WHEN t.a = r.node THEN t.b ELSE t.a END AS node, r.label
  FROM reach r JOIN truss t ON r.node IN (t.a, t.b)
)
SELECT label AS family_head, count(*)::BIGINT AS n_nodes FROM (
  SELECT node, min(label) AS label FROM reach GROUP BY node
) GROUP BY label"""


def q_kg_neighbor_sample(spark, sf_dir):
    """GraphSAGE-style two-hop sampled neighborhoods over the statute
    co-citation graph: ≤2 md5-ranked neighbors per node per hop, hop
    joins bounded at k1·k2 rows per root no matter how hot the hubs.
    The oracle replays the identical md5 ranking, so value-exactness
    proves the sampling is deterministic and engine-independent."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    return graph.two_hop_sample(e.select(F.col("a").alias("src"),
                                         F.col("b").alias("dst")),
                                k1=2, k2=2)


def o_kg_neighbor_sample(k1: int = 2, k2: int = 2, salt: str = "ns"):
    hop = """
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
      PARTITION BY src ORDER BY md5('{salt}' || '-' || src || '-' || dst),
      dst) AS r
    FROM sym) WHERE r <= {k}"""
    return f"""
WITH ds AS MATERIALIZED ({_COCITE_EDGES_SQL}
), sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM ds UNION
  SELECT b AS src, a AS dst FROM ds
), h1 AS MATERIALIZED ({hop.format(salt=salt + '1', k=k1)}
), h2 AS MATERIALIZED ({hop.format(salt=salt + '2', k=k2)}
)
SELECT h1.src AS root, h1.dst AS n1, h2.dst AS n2
FROM h1 JOIN h2 ON h1.dst = h2.src"""


def q_kg_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per statute in the co-citation
    graph: 2·T(v) / (d(v)·(d(v)−1)) — how interlinked a statute's
    neighbourhood is.  Triangle counts come from the three-equi-join
    enumeration (each triangle touches its 3 corners via one explode);
    degrees from the symmetric edge aggregation."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    tri = graph.triangles(e.select(F.col("a").alias("src"),
                                   F.col("b").alias("dst")))
    tv = (tri.select(F.explode(F.array("node_a", "node_b", "node_c"))
                     .alias("node"))
          .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    deg = (e.select(F.col("a").alias("node"))
           .union(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    return (deg.join(tv, "node", "left")
            .filter(F.col("d") >= 2)
            .select("node", F.col("d").cast("bigint").alias("degree"),
                    F.coalesce("t", F.lit(0)).cast("bigint")
                    .alias("n_triangles"),
                    F.round(2.0 * F.coalesce("t", F.lit(0))
                            / (F.col("d") * (F.col("d") - 1)), 4)
                    .alias("clustering_coeff")))


def o_kg_clustering_coeff():
    return f"""
WITH e AS ({_COCITE_EDGES_SQL}),
tri AS (
  SELECT ab.a AS na, ab.b AS nb, bc.b AS nc
  FROM e ab JOIN e bc ON ab.b = bc.a JOIN e ac
    ON ac.a = ab.a AND ac.b = bc.b
),
tv AS (
  SELECT node, count(*) AS t FROM (
    SELECT na AS node FROM tri UNION ALL
    SELECT nb FROM tri UNION ALL SELECT nc FROM tri) u
  GROUP BY node
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
  GROUP BY node
)
SELECT deg.node, deg.d::BIGINT AS degree,
       coalesce(tv.t, 0)::BIGINT AS n_triangles,
       round(2.0 * coalesce(tv.t, 0) / (deg.d * (deg.d - 1)), 4)
         AS clustering_coeff
FROM deg LEFT JOIN tv ON deg.node = tv.node
WHERE deg.d >= 2"""


def q_kg_assortativity(spark, sf_dir):
    """Degree assortativity of the co-citation graph: Pearson r between
    endpoint degrees over the symmetric edge list (negative = hubs link
    to the periphery, the typical citation shape).  One degree
    aggregation broadcast into both edge roles, one corr aggregate."""
    e = _cocitation_edges(spark, sf_dir)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (sym.groupBy(F.col("a").alias("node"))
           .agg(F.count(F.lit(1)).alias("d")))
    j = (sym.join(F.broadcast(deg.select(F.col("node").alias("a"),
                                         F.col("d").alias("da"))), "a")
         .join(F.broadcast(deg.select(F.col("node").alias("b"),
                                      F.col("d").alias("db"))), "b"))
    return j.agg(F.count(F.lit(1)).cast("bigint").alias("n_edge_ends"),
                 F.round(F.corr("da", "db"), 4).alias("assortativity"))


def o_kg_assortativity():
    return f"""
WITH e AS ({_COCITE_EDGES_SQL}),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a)
SELECT count(*)::BIGINT AS n_edge_ends,
       round(corr(da.d, db.d), 4) AS assortativity
FROM sym JOIN deg da ON sym.a = da.node JOIN deg db ON sym.b = db.node"""


def q_kg_component_sizes(spark, sf_dir):
    """Component-size histogram of the citation communities (size →
    how many components): the connectivity summary read off the CC
    labels with two tiny aggregations."""
    from .operators.graph import weakly_connected_components
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    edges = (tri.filter(F.col("pred") == "cites_precedent")
             .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                     F.concat(F.lit("p:"), "obj").alias("dst"))
             .distinct())
    comp = weakly_connected_components(edges,
                                       checkpoint_dir=_ckpt_dir(spark))
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("size"))
            .groupBy("size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
            .select(F.col("size").cast("bigint").alias("size"),
                    "n_components"))


def o_kg_component_sizes():
    return f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'd:' || doc_id AS a, 'p:' || obj AS b
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'cites_precedent'
), edges AS (
  SELECT a, b FROM e0 UNION SELECT b, a FROM e0
), nodes AS (
  SELECT DISTINCT a AS n FROM edges
), reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), comp AS (
  SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
)
SELECT size::BIGINT AS size, count(*)::BIGINT AS n_components
FROM (SELECT component, count(*) AS size FROM comp GROUP BY component) t
GROUP BY size"""


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER over distinct cited-precedent names:
    lexical rank WITHOUT a global sort (2-char-prefix buckets + tiny
    cumulative offsets), rank÷window block equi-join, edit-distance ≤ 6
    verify — catches 'vs'/'versus' + OCR variants of the same case that
    sit adjacent in sort order."""
    from .operators import linking
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    names = (tri.filter(F.col("pred") == "cites_precedent")
             .select(F.col("obj").alias("name")).distinct())
    return linking.sorted_neighborhood_pairs(
        names, key_col="name", id_col="name", window=3, max_edit=6)


def o_sorted_neighborhood(window: int = 3, max_edit: int = 6):
    return f"""
WITH m AS (
  SELECT DISTINCT obj AS key FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'cites_precedent'
),
n AS (
  SELECT key,
         trim(regexp_replace(lower(key), '[^a-z0-9]+', ' ', 'g')) AS nk
  FROM m
),
ranked AS (
  SELECT key, nk, row_number() OVER (ORDER BY nk, key) AS rank
  FROM n WHERE length(nk) > 0
)
SELECT a.key AS id_a, b.key AS id_b, a.key AS key_a, b.key AS key_b,
       levenshtein(a.nk, b.nk)::INT AS edit_distance
FROM ranked a JOIN ranked b
  ON b.rank > a.rank AND b.rank - a.rank <= {window}
WHERE levenshtein(a.nk, b.nk) <= {max_edit}"""


def q_kg_related_cases(spark, sf_dir):
    """Distance-2 neighborhood size in the bipartite citation graph: for
    each document, how many OTHER documents share at least one cited
    precedent — the 'related cases' feature.  One self-join on the
    precedent key (bounded by citations-per-precedent, never doc
    pairs), one distinct aggregate."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = (tri.filter(F.col("pred") == "cites_precedent")
         .select("doc_id", F.col("obj").alias("prec")).distinct())
    other = e.select(F.col("doc_id").alias("odoc"), "prec")
    return (e.join(other, "prec")
            .filter(F.col("doc_id") != F.col("odoc"))
            .groupBy("doc_id")
            .agg(F.countDistinct("odoc").cast("bigint")
                 .alias("n_related")))


def o_kg_related_cases():
    return f"""
WITH e AS (
  SELECT DISTINCT doc_id, obj AS prec FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'cites_precedent'
)
SELECT a.doc_id, count(DISTINCT b.doc_id)::BIGINT AS n_related
FROM e a JOIN e b ON a.prec = b.prec AND a.doc_id <> b.doc_id
GROUP BY a.doc_id"""


def q_kg_media_density(spark, sf_dir):
    """Interleaved-corpus media density joined to KG yield: per document,
    media-span fraction and the triple count its text spans produced —
    the data-quality view that surfaces 'media-heavy docs yield fewer
    triples'.  Span stats come from in-row array predicates (no
    explode); the triple counts ride a left join so zero-triple docs
    keep a row."""
    recs = _kg_records_parquet(spark, sf_dir)
    docs = (recs.filter("rec_type = 'doc'")
            .select("doc_id",
                    F.size("spans").cast("bigint").alias("n_spans"),
                    F.size(F.filter("spans", lambda s:
                                    s["kind"] != F.lit("text")))
                    .cast("bigint").alias("n_media")))
    tc = (recs.filter("rec_type = 'triple'")
          .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triples")))
    return (docs.join(tc, "doc_id", "left")
            .select("doc_id", "n_spans", "n_media",
                    F.round(F.col("n_media") / F.col("n_spans"), 4)
                    .alias("media_frac"),
                    F.coalesce("n_triples", F.lit(0)).cast("bigint")
                    .alias("n_triples")))


def o_kg_media_density():
    return f"""
WITH d AS (
  SELECT doc_id, len(spans)::BIGINT AS n_spans,
         len(list_filter(spans, s -> s.kind <> 'text'))::BIGINT AS n_media
  FROM {_KG_SQL_SRC} WHERE rec_type = 'doc'
),
tc AS (
  SELECT doc_id, count(*) AS n_triples FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' GROUP BY doc_id
)
SELECT d.doc_id, d.n_spans, d.n_media,
       round(d.n_media * 1.0 / d.n_spans, 4) AS media_frac,
       coalesce(tc.n_triples, 0)::BIGINT AS n_triples
FROM d LEFT JOIN tc ON d.doc_id = tc.doc_id"""


def q_hybrid_rrf(spark, sf_dir, k_leg: int = 50, k: int = 20,
                 rrf_k: int = 60):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    SIGIR'09): the BM25 lexical leg and the cosine vector leg each
    produce a top-50 ranking (both legs reuse the EXACT oracled
    operators — round-before-rank determinism), fused by
    Σ 1/(60 + rank) over a full-outer id join, top-20.  The modern
    RAG-serving read path: each leg is the already-scale-shaped
    operator; fusion touches only 2 × 50 rows."""
    from .operators import search, similarity
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    lex = (search.bm25_topk(docs, BM25_TERMS, k=k_leg)
           .withColumn("doc_id", F.col("doc_id").cast("bigint")))
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    q = (similarity.prepare_vectors(emb.filter(F.col("vec_id") == 0))
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    c = (similarity.prepare_vectors(emb.filter(F.col("vec_id") > 0))
         .select(F.col("vec_id").alias("neighbor_id"),
                 F.col("v").alias("cv")))
    vec = (similarity.brute_force_topk(q, c, k=k_leg)
           .select(F.col("neighbor_id").cast("bigint").alias("doc_id"),
                   F.col("rnk").alias("vec_rank")))
    fused = (lex.join(vec, "doc_id", "full_outer")
             .select("doc_id",
                     F.round(F.coalesce(1.0 / (rrf_k + F.col("lex_rank")),
                                        F.lit(0.0))
                             + F.coalesce(1.0 / (rrf_k
                                                 + F.col("vec_rank")),
                                          F.lit(0.0)), 6).alias("rrf"),
                     F.coalesce("lex_rank", F.lit(0)).cast("int")
                     .alias("lex_rank"),
                     F.coalesce("vec_rank", F.lit(0)).cast("int")
                     .alias("vec_rank")))
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(k)


def o_hybrid_rrf(k_leg: int = 50, k: int = 20, rrf_k: int = 60):
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM base),
tk AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM tk
  WHERE term IN ({terms}) GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM (
    SELECT tf.doc_id,
           round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * 2.2
                     / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4)
             AS bm25
    FROM tf JOIN dft USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {k_leg})
),
vec AS (
  SELECT neighbor_id AS doc_id, rnk AS vec_rank FROM (
    SELECT c.vec_id::BIGINT AS neighbor_id,
           row_number() OVER (
             ORDER BY round(
               list_dot_product(q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]))), 4) DESC,
             c.vec_id ASC) AS rnk
    FROM embeddings q CROSS JOIN embeddings c
    WHERE q.vec_id = 0 AND c.vec_id > 0
  ) WHERE rnk <= {k_leg}
)
SELECT doc_id,
       round(coalesce(1.0 / ({rrf_k} + lex_rank), 0)
             + coalesce(1.0 / ({rrf_k} + vec_rank), 0), 6) AS rrf,
       coalesce(lex_rank, 0)::INT AS lex_rank,
       coalesce(vec_rank, 0)::INT AS vec_rank
FROM lex FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT {k}"""


def q_kg_court_profiles(spark, sf_dir):
    """Court-level KG rollup: join the decided_by edges with each doc's
    part_of statutes — per court, caseload, statute breadth, and the
    modal statute (deterministic max_by tie-break) — a star join ACROSS
    predicates of the same triple table, partition-prunable by pred."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    db = (tri.filter(F.col("pred") == "decided_by")
          .select("doc_id", F.col("obj").alias("court")).distinct())
    st = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    cs = (db.join(st, "doc_id")
          .groupBy("court", "statute")
          .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("court").orderBy(F.desc("n"), F.asc("statute"))
    top = (cs.withColumn("_rn", F.row_number().over(w))
           .filter("_rn = 1")
           .select("court", F.col("statute").alias("top_statute"),
                   F.col("n").cast("bigint").alias("top_statute_docs")))
    base = (db.join(st, "doc_id", "left")
            .groupBy("court")
            .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.countDistinct("statute").cast("bigint")
                 .alias("n_statutes")))
    return base.join(top, "court", "left")


def o_kg_court_profiles():
    return f"""
WITH db AS (
  SELECT DISTINCT doc_id, obj AS court FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'decided_by'
),
st AS (
  SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of'
),
cs AS (
  SELECT court, statute, count(*) AS n
  FROM db JOIN st USING (doc_id) GROUP BY court, statute
),
top AS (
  SELECT court, statute AS top_statute, n::BIGINT AS top_statute_docs
  FROM (SELECT court, statute, n,
               row_number() OVER (PARTITION BY court
                                  ORDER BY n DESC, statute) AS rn
        FROM cs) t
  WHERE rn = 1
),
base AS (
  SELECT db.court, count(DISTINCT db.doc_id)::BIGINT AS n_docs,
         count(DISTINCT st.statute)::BIGINT AS n_statutes
  FROM db LEFT JOIN st ON db.doc_id = st.doc_id
  GROUP BY db.court
)
SELECT base.court, base.n_docs, base.n_statutes,
       top.top_statute, top.top_statute_docs
FROM base LEFT JOIN top ON base.court = top.court"""


def q_kg_canonical_citations(spark, sf_dir):
    """Alias-resolved statute citations: rewrite part_of objects through
    the per-doc same_as edges (alias → canonical statute), then count —
    the canonicalization join every downstream consumer wants instead of
    raw surface forms.  Left join + coalesce so unaliased citations pass
    through."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    po = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("subj").alias("provision"),
                  F.col("obj").alias("statute")))
    sa = (tri.filter(F.col("pred") == "same_as")
          .select(F.col("doc_id").alias("sa_doc"),
                  F.col("subj").alias("sa_alias"),
                  F.col("obj").alias("canonical")).distinct())
    return (po.join(sa, (po.doc_id == F.col("sa_doc"))
                    & (po.statute == F.col("sa_alias")), "left")
            .select("doc_id",
                    F.coalesce("canonical", "statute")
                    .alias("canonical_statute"))
            .groupBy("canonical_statute")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_citations"),
                 F.countDistinct("doc_id").cast("bigint")
                 .alias("n_docs")))


def o_kg_canonical_citations():
    return f"""
WITH po AS (
  SELECT doc_id, subj AS provision, obj AS statute FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of'
),
sa AS (
  SELECT DISTINCT doc_id, subj AS alias, obj AS canonical
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'same_as'
)
SELECT coalesce(sa.canonical, po.statute) AS canonical_statute,
       count(*)::BIGINT AS n_citations,
       count(DISTINCT po.doc_id)::BIGINT AS n_docs
FROM po LEFT JOIN sa
  ON po.doc_id = sa.doc_id AND po.statute = sa.alias
GROUP BY coalesce(sa.canonical, po.statute)"""


def q_kg_judge_profiles(spark, sf_dir):
    """Per-judge rollup across three role predicates: caseload, courts
    served, distinct lawyers appearing — the multi-countDistinct rides
    ONE Expand-based aggregation after the per-doc star join (no
    per-metric re-scan)."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    j = (tri.filter(F.col("pred") == "has_judge")
         .select("doc_id", F.col("obj").alias("judge")).distinct())
    c = (tri.filter(F.col("pred") == "decided_by")
         .select("doc_id", F.col("obj").alias("court")).distinct())
    l = (tri.filter(F.col("pred") == "has_lawyer")
         .select("doc_id", F.col("obj").alias("lawyer")).distinct())
    return (j.join(c, "doc_id", "left").join(l, "doc_id", "left")
            .groupBy("judge")
            .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.countDistinct("court").cast("bigint").alias("n_courts"),
                 F.countDistinct("lawyer").cast("bigint")
                 .alias("n_lawyers")))


def o_kg_judge_profiles():
    return f"""
WITH j AS (SELECT DISTINCT doc_id, obj AS judge FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple' AND pred = 'has_judge'),
c AS (SELECT DISTINCT doc_id, obj AS court FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'decided_by'),
l AS (SELECT DISTINCT doc_id, obj AS lawyer FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'has_lawyer')
SELECT j.judge, count(DISTINCT j.doc_id)::BIGINT AS n_docs,
       count(DISTINCT c.court)::BIGINT AS n_courts,
       count(DISTINCT l.lawyer)::BIGINT AS n_lawyers
FROM j LEFT JOIN c ON j.doc_id = c.doc_id
       LEFT JOIN l ON j.doc_id = l.doc_id
GROUP BY j.judge"""


def q_kg_node_similarity(spark, sf_dir):
    """Neighbor-set Jaccard between statutes (neighbors = citing docs):
    the graph-native near-duplicate detector for KG nodes — candidates
    for same_as merging surface as pairs with high overlap.  Reuses the
    co-citation counts (bounded per-doc self-join) + broadcast
    marginals; |union| = c_a + c_b − co."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    marg = ds.groupBy("statute").agg(F.count(F.lit(1)).alias("c"))
    b = ds.select(F.col("doc_id").alias("bdoc"),
                  F.col("statute").alias("sb"))
    co = (ds.join(b, (F.col("doc_id") == F.col("bdoc"))
                  & (F.col("statute") < F.col("sb")))
          .groupBy(F.col("statute").alias("statute_a"),
                   F.col("sb").alias("statute_b"))
          .agg(F.count(F.lit(1)).alias("co")))
    return (co
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_a"),
                F.col("c").alias("c_a"))), "statute_a")
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_b"),
                F.col("c").alias("c_b"))), "statute_b")
            .select("statute_a", "statute_b",
                    F.round(F.col("co")
                            / (F.col("c_a") + F.col("c_b") - F.col("co")),
                            4).alias("neighbor_jaccard")))


def o_kg_node_similarity():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of'
),
marg AS (SELECT statute, count(*) AS c FROM ds GROUP BY statute),
co AS (
  SELECT a.statute AS statute_a, b.statute AS statute_b,
         count(*) AS co
  FROM ds a JOIN ds b ON a.doc_id = b.doc_id AND a.statute < b.statute
  GROUP BY a.statute, b.statute
)
SELECT co.statute_a, co.statute_b,
       round(co.co * 1.0 / (ma.c + mb.c - co.co), 4) AS neighbor_jaccard
FROM co JOIN marg ma ON co.statute_a = ma.statute
        JOIN marg mb ON co.statute_b = mb.statute"""


def q_dedup_stats(spark, sf_dir):
    """Corpus-reduction summary off the composed near-dedup assignment:
    docs, surviving keepers, reduction fraction, largest duplicate
    cluster — the one-row report a training-data run logs per shard."""
    from .operators import dedup
    docs = (spark.read.parquet(_t(sf_dir, "documents"))
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    nd = dedup.near_dedup(docs, threshold=0.5,
                          checkpoint_dir=_ckpt_dir(spark))
    per = nd.groupBy("keeper_doc_id").agg(F.count(F.lit(1)).alias("sz"))
    return (nd.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                   F.countDistinct("keeper_doc_id").cast("bigint")
                   .alias("n_keepers"))
            .crossJoin(F.broadcast(
                per.agg(F.max("sz").cast("bigint")
                        .alias("max_cluster"))))
            .select("n_docs", "n_keepers",
                    F.round(1.0 - F.col("n_keepers") / F.col("n_docs"), 4)
                    .alias("reduction"),
                    "max_cluster"))


def o_dedup_stats():
    return f"""
SELECT n_docs, n_keepers,
       round(1.0 - n_keepers * 1.0 / n_docs, 4) AS reduction,
       (SELECT max(sz) FROM (
          SELECT count(*) AS sz FROM ({o_near_dedup()}) g
          GROUP BY keeper_doc_id) m)::BIGINT AS max_cluster
FROM (
  SELECT count(*)::BIGINT AS n_docs,
         count(DISTINCT keeper_doc_id)::BIGINT AS n_keepers
  FROM ({o_near_dedup()}) t) s"""


def q_kg_path_counts(spark, sf_dir):
    """Exact distinct-path counting by dynamic programming on the
    succession DAG (unit + skip edges): c_t = Aᵀ·c_{t-1} starting from
    the chain heads, summed over lengths 1..4 — path COUNTS, not
    reachability: a node reachable via the skip and the two-step route
    counts 3 paths at the right lengths.  Integers end to end (the
    counting analogue of the Katz recurrence, weight 1); per round one
    edge equi-join + grouped sum."""
    from pyspark.sql import Window
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    dec = (tri.filter(F.col("pred") == "decided_by")
           .select(F.col("subj").alias("doc"),
                   F.col("obj").alias("court")).distinct())
    seq = dec.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("court").orderBy("doc")))
    a = seq.select("court", F.col("doc").alias("src"),
                   F.col("rn").alias("ra"))
    b = seq.select("court", F.col("doc").alias("dst"),
                   F.col("rn").alias("rb"))
    e = (a.join(b, ["court"])
         .filter((F.col("rb") == F.col("ra") + 1)
                 | (F.col("rb") == F.col("ra") + 2))
         .select("src", "dst"))
    cur = (seq.filter(F.col("rn") == 1)
           .select(F.col("doc").alias("node"))
           .withColumn("c", F.lit(1).cast("bigint")))
    total = None
    for _ in range(4):
        cur = (e.join(cur.withColumnRenamed("node", "src"), "src")
               .groupBy(F.col("dst").alias("node"))
               .agg(F.sum("c").alias("c")))
        total = cur if total is None else total.unionByName(cur)
    return (total.groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("n_paths")))


def o_kg_path_counts(n_iter: int = 4):
    it = """
c{i} AS (
  SELECT e.dst AS node, sum(c.c) AS c
  FROM e JOIN c{p} c ON c.node = e.src GROUP BY e.dst
)"""
    iters = ",".join(it.format(i=i, p=i - 1)
                     for i in range(1, n_iter + 1))
    parts = " UNION ALL ".join(
        f"SELECT node, c FROM c{i}" for i in range(1, n_iter + 1))
    return f"""
WITH dec AS (SELECT DISTINCT subj AS doc, obj AS court
             FROM {_KG_SQL_SRC}
             WHERE rec_type = 'triple' AND pred = 'decided_by'),
seq AS (SELECT doc, court,
               ROW_NUMBER() OVER (PARTITION BY court ORDER BY doc) AS rn
        FROM dec),
e AS (SELECT a.doc AS src, b.doc AS dst
      FROM seq a JOIN seq b ON a.court = b.court
       AND (b.rn = a.rn + 1 OR b.rn = a.rn + 2)),
c0 AS (SELECT doc AS node, 1::BIGINT AS c FROM seq WHERE rn = 1),
{iters}
SELECT node, SUM(c)::BIGINT AS n_paths
FROM ({parts}) GROUP BY node"""


def q_kg_rich_club(spark, sf_dir):
    """Rich-club coefficient of the statute co-citation graph at
    k ∈ {1,2,4,8}: among nodes with degree > k, what fraction of
    possible edges exist — do the hubs form their own dense club
    (IPC/CrPC co-cited with each other) or spread their citations?
    One conditional-aggregate pass over the degree-joined edge list +
    one over the degree table, unpivoted driver-free; integers
    throughout, one division rounded at the end."""
    e = _cocitation_edges(spark, sf_dir)
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    ks = [1, 2, 4, 8]
    ej = (e.join(deg.select(F.col("node").alias("a"),
                            F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("deg").alias("db")), "b"))
    erow = ej.agg(*[F.sum(F.when((F.col("da") > k)
                                 & (F.col("db") > k), 1).otherwise(0))
                    .alias(f"e{k}") for k in ks])
    nrow = deg.agg(*[F.sum(F.when(F.col("deg") > k, 1).otherwise(0))
                     .alias(f"n{k}") for k in ks])
    row = erow.crossJoin(F.broadcast(nrow))
    return (row.select(F.explode(F.array(*[
                F.struct(F.lit(k).cast("bigint").alias("k"),
                         F.col(f"n{k}").cast("bigint")
                         .alias("n_rich"),
                         F.col(f"e{k}").cast("bigint")
                         .alias("e_rich"))
                for k in ks])).alias("s"))
            .select("s.k", "s.n_rich", "s.e_rich",
                    F.when(F.col("s.n_rich") >= 2, F.round(
                        2.0 * F.col("s.e_rich")
                        / (F.col("s.n_rich")
                           * (F.col("s.n_rich") - 1)), 4))
                    .alias("phi")))


def o_kg_rich_club():
    return f"""
WITH e0 AS ({_COCITE_EDGES_SQL}),
deg AS (
  SELECT n AS node, count(*) AS deg FROM (
    SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n
),
ej AS (
  SELECT e0.a, e0.b, da.deg AS da, db.deg AS db
  FROM e0 JOIN deg da ON e0.a = da.node JOIN deg db ON e0.b = db.node
),
ks AS (SELECT unnest([1, 2, 4, 8]) AS k),
er AS (
  SELECT k, SUM(CASE WHEN da > k AND db > k THEN 1 ELSE 0 END)
            AS e_rich
  FROM ej, ks GROUP BY k
),
nr AS (
  SELECT k, SUM(CASE WHEN deg > k THEN 1 ELSE 0 END) AS n_rich
  FROM deg, ks GROUP BY k
)
SELECT er.k::BIGINT AS k, nr.n_rich::BIGINT AS n_rich,
       er.e_rich::BIGINT AS e_rich,
       CASE WHEN nr.n_rich >= 2 THEN
         round(2.0 * er.e_rich / (nr.n_rich * (nr.n_rich - 1)), 4)
       END AS phi
FROM er JOIN nr USING (k)"""


def q_kg_degree_histogram(spark, sf_dir):
    """Log2-bucketed degree distribution of BOTH sides of the
    doc↔statute bipartite graph — the power-law fingerprint a
    partitioner reads before choosing salts (the skew report names the
    hot keys; this shows the whole tail shape).  The bucket is
    bit-length − 1 (length(bin(deg)) − 1), NOT floor(log2(·)) — pure
    integer arithmetic, so the cross-engine hash can never
    float-mismatch; buckets aggregate map-side to ≤64 rows per side."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())

    def hist(keyed, side):
        deg = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("deg"))
        return (deg.groupBy((F.length(F.bin("deg")) - 1)
                            .cast("bigint").alias("bucket"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
                .withColumn("side", F.lit(side)))

    d = hist(ds.select(F.col("doc_id").cast("string").alias("k")),
             "doc")
    s = hist(ds.select(F.col("statute").alias("k")), "statute")
    return d.unionByName(s).select("side", "bucket", "n_nodes")


def o_kg_degree_histogram():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'part_of'
),
dd AS (SELECT doc_id, count(*) AS deg FROM ds GROUP BY doc_id),
sd AS (SELECT statute, count(*) AS deg FROM ds GROUP BY statute)
SELECT 'doc' AS side, (length(bin(deg)) - 1)::BIGINT AS bucket,
       count(*)::BIGINT AS n_nodes
FROM dd GROUP BY bucket
UNION ALL
SELECT 'statute', (length(bin(deg)) - 1)::BIGINT, count(*)::BIGINT
FROM sd GROUP BY 2"""


def q_kg_skew_report(spark, sf_dir):
    """Hot-key diagnosis over the part_of edges: per statute, share of
    all citations and the running cumulative share in popularity order —
    the report that tells a planner which keys need salting (IPC/CrPC
    dominate exactly as the reference corpus predicts).  The cumulative
    window runs over the tiny aggregated statute table."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    cnt = (tri.filter(F.col("pred") == "part_of")
           .groupBy(F.col("obj").alias("statute"))
           .agg(F.count(F.lit(1)).alias("n")))
    tot = cnt.agg(F.sum("n").alias("tot"))
    w = (Window.orderBy(F.desc("n"), F.asc("statute"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (cnt.crossJoin(F.broadcast(tot))
            .withColumn("cum", F.sum("n").over(w))
            .select("statute", F.col("n").cast("bigint").alias("n_edges"),
                    F.round(F.col("n") / F.col("tot"), 4).alias("share"),
                    F.round(F.col("cum") / F.col("tot"), 4)
                    .alias("cum_share")))


def o_kg_skew_report():
    return f"""
WITH cnt AS (
  SELECT obj AS statute, count(*) AS n FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of' GROUP BY obj
),
tot AS (SELECT sum(n) AS tot FROM cnt)
SELECT statute, n::BIGINT AS n_edges,
       round(n / tot, 4) AS share,
       round(sum(n) OVER (ORDER BY n DESC, statute
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) / tot, 4) AS cum_share
FROM cnt CROSS JOIN tot"""


def q_kg_lpa_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (3 rounds, most-common
    neighbour label, min-label tie-break) over the statute co-citation
    graph — dense communities rather than reachability classes.  The
    fixed round count unrolls into the exact oracle."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    return graph.lpa_communities(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        n_iter=3, checkpoint_dir=_ckpt_dir(spark))


def o_kg_lpa_communities(n_iter: int = 3):
    it = """
l{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT e.a AS node, l.lab,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.lab) AS rn
    FROM sym e JOIN l{p} l ON l.node = e.b
    GROUP BY e.a, l.lab) t
  WHERE rn = 1
)"""
    iters = ",".join(it.format(i=i, p=i - 1) for i in range(1, n_iter + 1))
    return f"""
WITH e0 AS ({_COCITE_EDGES_SQL}),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
{iters}
SELECT node, lab AS community FROM l{n_iter}"""


def q_kg_citation_years(spark, sf_dir):
    """Temporal profile of the citation graph: decade histogram of the
    years embedded in cited-precedent names (the recency skew the
    retrieval tier should know about).  Pure projection + one tiny
    aggregate; precedents without a parseable year are excluded on both
    engines identically (empty-match normalize)."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    yr = (tri.filter(F.col("pred") == "cites_precedent")
          .select(F.regexp_extract("obj", r"\b(19|20)[0-9]{2}\b", 0)
                  .alias("y"))
          .filter(F.col("y") != "")
          .select(F.col("y").cast("int").alias("year")))
    return (yr.groupBy((F.floor(F.col("year") / 10) * 10)
                       .cast("int").alias("decade"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_citations")))


def o_kg_citation_years():
    return f"""
WITH yr AS (
  SELECT coalesce(regexp_extract(obj, '\\b(19|20)[0-9]{{2}}\\b', 0), '')
           AS y
  FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'cites_precedent'
)
SELECT ((y::INT // 10) * 10)::INT AS decade,
       count(*)::BIGINT AS n_citations
FROM yr WHERE y <> '' GROUP BY 1"""


def q_sliding_window_counts(spark, sf_dir):
    """OVERLAPPING window counts (10-minute windows sliding every 5):
    Spark's `window(ts, dur, slide)` emits each event into dur/slide
    windows — the smoothing variant the tumbling `windowed_counts`
    doesn't cover, and the same definition Structured Streaming runs
    incrementally.  The oracle reproduces Spark's epoch-aligned window
    assignment by generating both member windows per event."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (ev.groupBy(F.window("ts", "10 minutes", "5 minutes"),
                       "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(F.col("window.start").cast("timestamp_ntz")
                    .alias("window_start"),
                    F.col("window.end").cast("timestamp_ntz")
                    .alias("window_end"),
                    "event_type", "n_events"))


def o_sliding_window_counts():
    # each event belongs to exactly 2 epoch-aligned windows: the ones
    # starting at bucket(ts, 5m) and bucket(ts, 5m) - 5m
    return """
WITH w AS (
  SELECT event_type,
         unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts)
                   - INTERVAL '5 minutes']) AS window_start
  FROM events
)
SELECT window_start,
       window_start + INTERVAL '10 minutes' AS window_end,
       event_type, count(*)::BIGINT AS n_events
FROM w GROUP BY window_start, event_type"""


def q_corpus_cube(spark, sf_dir):
    """CUBE over (lang, source): all four granularities — (l,s), per-l,
    per-s, grand total — in one Expand-based pass (the rollup's sibling;
    rollup omits the per-source slice).  Same 'ALL' sentinel so the
    cross-engine hash is unambiguous."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (docs.cube("lang", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"))
            .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    F.coalesce("source", F.lit("ALL")).alias("source"),
                    "n_docs", "total_chars"))


def o_corpus_cube():
    return """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY CUBE (lang, source)"""


def q_daily_anomalies(spark, sf_dir):
    """Volume-anomaly detection on the event stream: per (event_type,
    day) counts z-scored against that type's own daily distribution —
    the monitoring query a pipeline runs over its ingest ledger.  One
    (type, day) aggregation; the per-type moments table is tiny and
    broadcast back; |z| ≥ 2 flags."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    mom = (daily.groupBy("event_type")
           .agg(F.avg("n").alias("mu"),
                F.stddev_pop("n").alias("sd")))
    return (daily.join(F.broadcast(mom), "event_type")
            .filter(F.col("sd") > 0)
            .select("event_type", "day",
                    F.col("n").cast("bigint").alias("n_events"),
                    F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4)
                    .alias("z"),
                    (F.abs((F.col("n") - F.col("mu")) / F.col("sd"))
                     >= 2).alias("is_anomaly")))


def o_daily_anomalies():
    return """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*) AS n
  FROM events GROUP BY event_type, ts::DATE
),
mom AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.day, d.n::BIGINT AS n_events,
       round((d.n - m.mu) / m.sd, 4) AS z,
       abs((d.n - m.mu) / m.sd) >= 2 AS is_anomaly
FROM daily d JOIN mom m USING (event_type)
WHERE m.sd > 0"""


def q_embedding_class_stats(spark, sf_dir):
    """Per-class embedding geometry: class centroid (element-wise mean
    via posexplode → (label, dim) aggregate → re-assembled ordered
    array) and mean cosine of members to their centroid — the
    cluster-cohesion report for a labeled vector store.  Centroids are
    tiny and broadcast back over the scan; no pairwise work."""
    from .operators.similarity import prepare_vectors, cosine_expr
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    v = prepare_vectors(emb).join(emb.select("vec_id", "label"), "vec_id")
    pos = v.select("label", F.posexplode("v").alias("i", "x"))
    cent = (pos.groupBy("label", "i").agg(F.avg("x").alias("c"))
            .groupBy("label")
            .agg(F.expr("transform(array_sort(collect_list(struct(i, c))),"
                        " s -> s.c)").alias("cv")))
    j = v.join(F.broadcast(cent), "label")
    return (j.select("label", cosine_expr("v", "cv").alias("cos"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.round(F.avg("cos"), 4).alias("mean_cos_to_centroid")))


def o_embedding_class_stats():
    return """
WITH pos AS (
  SELECT label, s.i, embedding[s.i]::DOUBLE AS x
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS s(i)
),
cent AS (
  SELECT label, list(c ORDER BY i) AS cv FROM (
    SELECT label, i, avg(x) AS c FROM pos GROUP BY label, i) t
  GROUP BY label
),
cos AS (
  SELECT e.label,
         list_dot_product(e.embedding::DOUBLE[], c.cv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.cv, c.cv))) AS cs
  FROM embeddings e JOIN cent c USING (label)
)
SELECT label, count(*)::BIGINT AS n_vectors,
       round(avg(cs), 4) AS mean_cos_to_centroid
FROM cos GROUP BY label"""


def q_kg_label_cooccurrence(spark, sf_dir):
    """Sentence-level label co-occurrence matrix over the mentions table
    (which entity types appear together in one sentence — the signal the
    reference's sentence-window statute↔provision linker exploits,
    measured corpus-wide).  Distinct (doc, sent, label) self-join
    bounded by labels-per-sentence (≤ 14 types), never mention pairs."""
    recs = _kg_records_parquet(spark, sf_dir)
    m = (recs.filter("rec_type = 'mention'")
         .select("doc_id", "sent_id", "label").distinct())
    b = m.select(F.col("doc_id").alias("bd"), F.col("sent_id").alias("bs"),
                 F.col("label").alias("label_b"))
    return (m.join(b, (F.col("doc_id") == F.col("bd"))
                   & (F.col("sent_id") == F.col("bs"))
                   & (F.col("label") < F.col("label_b")))
            .groupBy(F.col("label").alias("label_a"), "label_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sentences")))


def o_kg_label_cooccurrence():
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, sent_id, label FROM {_KG_SQL_SRC}
  WHERE rec_type = 'mention'
)
SELECT a.label AS label_a, b.label AS label_b,
       count(*)::BIGINT AS n_sentences
FROM m a JOIN m b
  ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.label < b.label
GROUP BY a.label, b.label"""


def q_kg_bridge_edges(spark, sf_dir):
    """Bridge edges of the co-citation graph: edges whose endpoints land
    in DIFFERENT label-propagation communities — the inter-community
    backbone (what a partitioner would cut).  Two label joins over the
    canonical edge list; communities come from ONE deterministic LPA
    round — converged LPA on a dense co-citation graph collapses to a
    single community (kg_lpa_communities shows that), while the
    one-round majority labelling keeps the local structure whose cut
    edges are the interesting ones."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    comm = graph.lpa_communities(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        n_iter=1, checkpoint_dir=_ckpt_dir(spark))
    return (e.join(comm.select(F.col("node").alias("a"),
                               F.col("community").alias("ca")), "a")
            .join(comm.select(F.col("node").alias("b"),
                              F.col("community").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
            .select("a", "b", "ca", "cb"))


def o_kg_bridge_edges(n_iter: int = 3):
    it = """
l{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT e.a AS node, l.lab,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.lab) AS rn
    FROM sym e JOIN l{p} l ON l.node = e.b
    GROUP BY e.a, l.lab) t
  WHERE rn = 1
)"""
    iters = ",".join(it.format(i=i, p=i - 1) for i in range(1, n_iter + 1))
    return f"""
WITH e0 AS ({_COCITE_EDGES_SQL}),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
{iters}
SELECT e0.a, e0.b, la.lab AS ca, lb.lab AS cb
FROM e0 JOIN l{n_iter} la ON e0.a = la.node
        JOIN l{n_iter} lb ON e0.b = lb.node
WHERE la.lab <> lb.lab"""


def q_kg_label_propagation(spark, sf_dir):
    """Semi-supervised court attribution of precedents
    (`graph.seeded_label_propagation`): doc nodes are SEEDED with
    their decided_by court, labels propagate across the doc↔precedent
    citation graph (2 synchronous rounds), so every cited precedent
    gets the majority court of its citers — classification over the
    KG, with the seeds immutable (unlike community LPA).  Ties break
    to the smallest court name; the oracle unrolls both rounds with
    the seed guard."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = (tri.filter(F.col("pred") == "cites_precedent")
         .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                 F.concat(F.lit("p:"), "obj").alias("dst"))
         .distinct())
    seeds = (tri.filter(F.col("pred") == "decided_by")
             .select(F.concat(F.lit("d:"), "subj").alias("node"),
                     F.col("obj").alias("label"))
             .groupBy("node").agg(F.min("label").alias("label")))
    return graph.seeded_label_propagation(
        e, seeds, n_iter=2, checkpoint_dir=_ckpt_dir(spark))


def o_kg_label_propagation(n_iter: int = 2):
    it = """
l{i} AS MATERIALIZED (
  SELECT node, label FROM seeds
  UNION ALL
  SELECT node, label FROM (
    SELECT e.src AS node, l.label,
           row_number() OVER (PARTITION BY e.src
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM sym e JOIN l{p} l ON l.node = e.dst
    GROUP BY e.src, l.label) t
  WHERE rn = 1 AND node NOT IN (SELECT node FROM seeds)
)"""
    iters = ",".join(it.format(i=i, p=i - 1)
                     for i in range(1, n_iter + 1))
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'd:' || doc_id AS src, 'p:' || obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'
    AND pred = 'cites_precedent'
),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
seeds AS (
  SELECT 'd:' || subj AS node, MIN(obj) AS label
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'decided_by'
  GROUP BY subj
),
l0 AS (SELECT node, label FROM seeds),
{iters}
SELECT node, label FROM l{n_iter}"""


def q_kg_community_quality(spark, sf_dir):
    """Community QUALITY report over the one-round LPA labelling:
    per community its size, internal edges, volume, cut, and the
    INTEGER-SCALED modularity term 4m·e_in − vol² (global modularity
    Q = Σ q_scaled / 4m² — kept scaled so the cross-engine hash can
    never float-mismatch; conductance is cut/min(vol, 2m−vol) off the
    same columns).  The metrics that decide whether a partitioner
    should cut on these communities."""
    from .operators import graph
    e = _cocitation_edges(spark, sf_dir)
    comm = graph.lpa_communities(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        n_iter=1, checkpoint_dir=_ckpt_dir(spark))
    lab = comm.select("node", F.col("community").alias("lab"))
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    ein = (e.join(lab.select(F.col("node").alias("a"),
                             F.col("lab").alias("ca")), "a")
           .join(lab.select(F.col("node").alias("b"),
                            F.col("lab").alias("cb")), "b")
           .filter(F.col("ca") == F.col("cb"))
           .groupBy(F.col("ca").alias("community"))
           .agg(F.count(F.lit(1)).alias("e_in")))
    vol = (lab.join(deg, "node")
           .groupBy(F.col("lab").alias("community"))
           .agg(F.count(F.lit(1)).alias("n_nodes"),
                F.sum("deg").alias("vol")))
    m = e.agg(F.count(F.lit(1)).alias("m"))
    return (vol.join(ein, "community", "left")
            .crossJoin(F.broadcast(m))
            .select("community",
                    F.col("n_nodes").cast("bigint").alias("n_nodes"),
                    F.coalesce("e_in", F.lit(0)).cast("bigint")
                    .alias("e_in"),
                    F.col("vol").cast("bigint").alias("vol"),
                    (F.col("vol") - 2 * F.coalesce("e_in", F.lit(0)))
                    .cast("bigint").alias("cut"),
                    (4 * F.col("m") * F.coalesce("e_in", F.lit(0))
                     - F.col("vol") * F.col("vol")).cast("bigint")
                    .alias("q_scaled")))


def o_kg_community_quality():
    return f"""
WITH e0 AS ({_COCITE_EDGES_SQL}),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
l1 AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT e.a AS node, l.lab,
           row_number() OVER (PARTITION BY e.a
                              ORDER BY count(*) DESC, l.lab) AS rn
    FROM sym e JOIN l0 l ON l.node = e.b
    GROUP BY e.a, l.lab) t
  WHERE rn = 1
),
deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY a),
ein AS (
  SELECT la.lab AS community, count(*) AS e_in
  FROM e0 JOIN l1 la ON e0.a = la.node JOIN l1 lb ON e0.b = lb.node
  WHERE la.lab = lb.lab GROUP BY la.lab
),
vol AS (
  SELECT l.lab AS community, count(*) AS n_nodes, sum(d.deg) AS vol
  FROM l1 l JOIN deg d ON d.node = l.node GROUP BY l.lab
),
m AS (SELECT count(*) AS m FROM e0)
SELECT v.community, v.n_nodes::BIGINT AS n_nodes,
       coalesce(e.e_in, 0)::BIGINT AS e_in, v.vol::BIGINT AS vol,
       (v.vol - 2 * coalesce(e.e_in, 0))::BIGINT AS cut,
       (4 * m.m * coalesce(e.e_in, 0) - v.vol * v.vol)::BIGINT
         AS q_scaled
FROM vol v LEFT JOIN ein e ON v.community = e.community, m"""


def q_kg_ambiguous_provisions(spark, sf_dir):
    """KG-quality gate: provision surface forms linked to MORE than one
    statute across the corpus — the ambiguity the reference's
    sentence-window heuristic can only resolve locally, surfaced
    globally for review.  One aggregate + sorted alias list for an
    unambiguous cross-engine hash."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return (tri.filter(F.col("pred") == "part_of")
            .groupBy(F.col("subj").alias("provision"))
            .agg(F.countDistinct("obj").alias("n_statutes"),
                 F.concat_ws("|", F.sort_array(F.collect_set("obj")))
                 .alias("statutes"))
            .filter(F.col("n_statutes") >= 2)
            .select("provision",
                    F.col("n_statutes").cast("bigint").alias("n_statutes"),
                    "statutes"))


def o_kg_ambiguous_provisions():
    return f"""
SELECT subj AS provision,
       count(DISTINCT obj)::BIGINT AS n_statutes,
       array_to_string(list(DISTINCT obj ORDER BY obj), '|') AS statutes
FROM {_KG_SQL_SRC}
WHERE rec_type = 'triple' AND pred = 'part_of'
GROUP BY subj HAVING count(DISTINCT obj) >= 2"""


def q_gopher_quality(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 §A1.1 — the published rule
    set MassiveText/RefinedWeb/FineWeb descend from) over the corpus:
    word-count bounds, mean-word-length band, symbol-to-word ratio,
    alphabetic-word fraction, distinct-stopword floor — every feature,
    every per-rule verdict, and the conjunction, in one zero-shuffle
    projection (operators/textprep.gopher_rules).  min_words=30 splits
    this corpus (docs run ~10-110 words); the paper's 50/100k bounds
    are the defaults."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.gopher_rules(docs, min_words=30)


def o_gopher_quality():
    stops = ", ".join(f"'{s}'" for s in
                      ("the", "a", "of", "to", "and", "in",
                       "be", "that", "have", "with"))
    return f"""
WITH feat AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(string_split(lower(text), ' '))::INT AS n_words,
         round(length(replace(text, ' ', ''))
               / len(string_split(lower(text), ' ')), 4) AS mean_word_len,
         round((len(string_split(text, '#')) - 1
                + len(str_split_regex(text, '\\.\\.\\.')) - 1)
               / len(string_split(lower(text), ' ')), 4) AS symbol_ratio,
         round(len(list_filter(string_split(lower(text), ' '),
                               t -> regexp_matches(t, '[a-z]')))
               / len(string_split(lower(text), ' ')), 4) AS alpha_word_frac,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                            [{stops}]))::INT AS stop_hits
  FROM documents)
SELECT *,
       least(r_word_count, r_mean_word_len, r_symbol_ratio,
             r_alpha_words, r_stopwords) AS pass_all
FROM (
  SELECT *,
         (n_words >= 30 AND n_words <= 100000)::INT AS r_word_count,
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0)::INT
           AS r_mean_word_len,
         (symbol_ratio <= 0.1)::INT AS r_symbol_ratio,
         (alpha_word_frac >= 0.8)::INT AS r_alpha_words,
         (stop_hits >= 2)::INT AS r_stopwords
  FROM feat)"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher REPETITION rules (Rae et al. 2021 §A1.1 — the half
    gopher_quality doesn't cover): fraction of characters in the most
    common 2-gram, and fraction of characters covered by 3-grams
    occurring more than once — the latter exact via per-doc interval
    union (a char under several duplicated grams counts once, the
    published semantics).  Token offsets, lead-chain grams, and the
    union are all doc_id-partitioned windows — one corpus shuffle.
    dup_n=3 (the paper sweeps 5-10 on web text) because the synthetic
    vocabulary is ~25 words: 3-gram collisions exist at every SF, so
    the rule actually fires."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.gopher_repetition(docs, top_n=2, dup_n=3)


def o_gopher_repetition():
    return """
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id, length(text) AS n_chars,
         string_split(lower(text), ' ') AS ts
  FROM documents),
tok AS (
  SELECT doc_id, n_chars, i - 1 AS pos, ts[i] AS tok
  FROM base, unnest(generate_series(1, len(ts))) AS t(i)),
off AS (
  SELECT *, coalesce(sum(length(tok) + 1) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gstart
  FROM tok),
g2 AS (
  SELECT doc_id, n_chars,
         tok || ' ' || lead(tok, 1) OVER w AS gram,
         lead(gstart, 1) OVER w + length(lead(tok, 1) OVER w) AS gend
  FROM off WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY gend IS NOT NULL),
top AS (
  SELECT doc_id,
         round(c * length(gram) / n_chars, 4) AS top_ngram_frac
  FROM (SELECT doc_id, n_chars, gram, count(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY count(*) DESC, length(gram) DESC, gram DESC)
               AS rn
        FROM g2 GROUP BY doc_id, n_chars, gram)
  WHERE rn = 1),
g3 AS (
  SELECT doc_id, n_chars,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
           AS gram,
         gstart,
         lead(gstart, 2) OVER w + length(lead(tok, 2) OVER w) AS gend
  FROM off WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY gend IS NOT NULL),
dup AS (
  SELECT doc_id, gram FROM g3 GROUP BY doc_id, gram HAVING count(*) > 1),
covered AS (
  SELECT doc_id, sum(greatest(0, gend - greatest(pmax, gstart)))
           AS dup_chars
  FROM (SELECT g3.*, coalesce(max(gend) OVER (
            PARTITION BY doc_id ORDER BY gstart, gend
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pmax
        FROM g3 JOIN dup USING (doc_id, gram))
  GROUP BY doc_id)
SELECT *, least(r_top_ngram, r_dup_ngram) AS pass_all FROM (
  SELECT d.doc_id::BIGINT AS doc_id,
         coalesce(t.top_ngram_frac, 0.0) AS top_ngram_frac,
         round(coalesce(c.dup_chars, 0) / length(d.text), 4)
           AS dup_ngram_frac,
         (coalesce(t.top_ngram_frac, 0.0) <= 0.20)::INT AS r_top_ngram,
         (round(coalesce(c.dup_chars, 0) / length(d.text), 4)
          <= 0.15)::INT AS r_dup_ngram
  FROM documents d
  LEFT JOIN top t ON t.doc_id = d.doc_id
  LEFT JOIN covered c ON c.doc_id = d.doc_id)"""


_DSIR_SQL = """
toks AS (
  SELECT doc_id::BIGINT AS doc_id, source,
         string_split(lower(text), ' ') AS ts
  FROM documents),
grams AS (
  SELECT doc_id, source, unnest(ts) AS g FROM toks
  UNION ALL
  SELECT doc_id, source, ts[i] || ' ' || ts[i + 1] AS g
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS t(i)),
feat AS (
  SELECT doc_id, source,
         (('0x' || substr(md5('dsir' || g), 1, 8))::UBIGINT
          % 256)::INT AS bucket
  FROM grams),
c_r AS (SELECT bucket, count(*) AS cr FROM feat GROUP BY bucket),
c_t AS (SELECT bucket, count(*) AS ct FROM feat
        WHERE source = 'src0' GROUP BY bucket),
n_r AS (SELECT count(*) AS nr FROM feat),
n_t AS (SELECT count(*) AS nt FROM feat WHERE source = 'src0'),
w AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams,
         round(sum(ln((coalesce(ct, 0) + 1.0) / (nt + 256.0))
                   - ln((cr + 1.0) / (nr + 256.0))), 4) AS logw
  FROM feat JOIN c_r USING (bucket)
            LEFT JOIN c_t USING (bucket)
            CROSS JOIN n_r CROSS JOIN n_t
  GROUP BY doc_id)"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score every doc by
    how target-like its hashed uni+bigram bag is, logw = Σ_b c(b)·
    (ln p_target(b) − ln p_raw(b)), Laplace-smoothed, 256 buckets —
    target = the ``src0`` slice of the corpus, raw = the whole corpus.
    The standard estimator for carving a domain-matched subset out of
    a crawl.  Plan: both distributions are 256-row broadcast
    aggregates; the corpus gram table shuffles once (the per-doc
    sum)."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.dsir_weights(docs, docs.filter("source = 'src0'"))


def o_dsir_weights():
    return f"WITH {_DSIR_SQL}\nSELECT doc_id, n_grams, logw FROM w"


def q_dsir_resample(spark, sf_dir):
    """DSIR's sampling half: k=100 docs without replacement with
    probability ∝ exp(logw) via Gumbel-top-k (key = logw + Gumbel(0,1)
    from the md5 uniform — reproducible under retry and replayable by
    the oracle).  Plan: dsir_weights + projection +
    TakeOrderedAndProject."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.dsir_resample(docs, docs.filter("source = 'src0'"),
                                  k=100)


def o_dsir_resample():
    return f"""
WITH {_DSIR_SQL}
SELECT doc_id, n_grams, logw, gumbel_key FROM (
  SELECT *,
         round(logw - ln(-ln(
             (('0x' || substr(md5('dsir-g' || doc_id::VARCHAR), 1, 8))
              ::UBIGINT + 1.0) / 4294967297.0)), 4) AS gumbel_key
  FROM w)
ORDER BY gumbel_key DESC, doc_id LIMIT 100"""


def q_source_quota_sample(spark, sf_dir):
    """Per-domain quota cap (C4/RefinedWeb keep ≤N pages per host so
    mega-domains don't dominate the mix): the 10 docs per source whose
    md5 uniform ranks smallest — exact, and hub-bounded via
    skew.bounded_topk_per_key (radix-cell prefix sums decide whole
    cells; only the per-source boundary cell is ranked, so a 90%-one-
    domain crawl cannot produce a straggler window)."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (textprep.source_quota_sample(docs, quota=10)
            .select("doc_id", "source"))


def o_source_quota_sample():
    return """
SELECT doc_id, source FROM (
  SELECT doc_id::BIGINT AS doc_id, source,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5('sq1' || doc_id::VARCHAR), doc_id) AS rn
  FROM documents) WHERE rn <= 10"""


def q_quality_classifier(spark, sf_dir):
    """FastText-style hashed bag-of-words linear quality scorer (the
    CCNet/FineWeb-Edu model-based filtering stage): token → md5 bucket
    (1,024), score = sigmoid(mean bucket weight), keep = score ≥ 0.5.
    Weights are deterministic md5-derived stand-ins with the exact
    production plan shape — a trained model swaps in as a broadcast
    (bucket, w) table, pinned output-equal by test.  Plan: ONE
    zero-exchange projection (hash, weight, and mean all inside
    transform/aggregate lambdas over the token array)."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return textprep.quality_classifier(docs)


_QCLS_SQL = """
toks AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(lower(text), ' ') AS ts
  FROM documents),
t AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS tok FROM toks),
s AS (
  SELECT doc_id, n,
         (('0x' || substr(md5('qcls-b' || tok), 1, 8))::UBIGINT
          % 1024)::INT AS bucket
  FROM t),
m AS (
  SELECT doc_id, any_value(n)::INT AS n_tokens,
         round(sum((('0x' || substr(md5('qcls-w' || bucket::VARCHAR),
                                    1, 8))::UBIGINT
                    / 4294967295.0) * 2 - 1) / any_value(n), 4) AS margin
  FROM s GROUP BY doc_id)"""


def o_quality_classifier():
    return f"""
WITH {_QCLS_SQL}
SELECT doc_id, n_tokens, margin,
       round(1.0 / (1.0 + exp(-margin)), 4) AS score,
       (round(1.0 / (1.0 + exp(-margin)), 4) >= 0.5)::INT AS keep
FROM m"""


def q_curation_pipeline_v2(spark, sf_dir):
    """The round's two new curation stages COMPOSED, the FineWeb-Edu
    shape: model-based gate (hashed linear classifier, score ≥ 0.5)
    first, then the per-domain quota cap (3 docs/source) over the
    survivors — gate before cap so a low-quality page can never crowd a
    good one out of its domain's quota.  Plan: the zero-exchange
    classifier projection fuses into the scan; the quota stage sees
    only survivors."""
    from .operators import textprep
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    scored = (textprep.quality_classifier(docs)
              .filter("keep = 1").select("doc_id", "score"))
    kept = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       "source").join(scored, "doc_id")
    return (textprep.source_quota_sample(kept, quota=3)
            .select("doc_id", "source", "score"))


def o_curation_pipeline_v2():
    return f"""
WITH {_QCLS_SQL},
kept AS (
  SELECT m.doc_id, d.source,
         round(1.0 / (1.0 + exp(-margin)), 4) AS score
  FROM m JOIN documents d ON d.doc_id::BIGINT = m.doc_id
  WHERE round(1.0 / (1.0 + exp(-margin)), 4) >= 0.5)
SELECT doc_id, source, score FROM (
  SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY md5('sq1' || doc_id::VARCHAR), doc_id) AS rn
  FROM kept) WHERE rn <= 3"""


def q_kg_bgp_star(spark, sf_dir):
    """SPARQL-style basic-graph-pattern STAR query over the constructed
    KG — the consumer-side declarative layer: bindings of

        ?d decided_by ?court .  ?d has_judge ?judge .
        ?d cites_precedent ?p

    compiled by ``kgquery.bgp_match`` to one hub shuffle around ``?d``:
    one predicate-pushed ``pred IN (…)`` scan, one ``groupBy(d)``
    collecting each pattern's values, and one chained ``explode`` per
    pattern streaming each group's cross product — no join, no
    broadcast, no DISTINCT (the pattern sizes come from a
    ≤9-row predicate-count probe; a pattern above ``broadcast_rows``
    would take the join plan)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(tri, [("?d", "decided_by", "?court"),
                                   ("?d", "has_judge", "?judge"),
                                   ("?d", "cites_precedent", "?p")])


def o_kg_bgp_star():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court, b.obj AS judge, c.obj AS p
FROM t a
JOIN t b ON b.subj = a.subj
JOIN t c ON c.subj = a.subj
WHERE a.pred = 'decided_by' AND b.pred = 'has_judge'
  AND c.pred = 'cites_precedent'"""


def q_kg_bgp_optional(spark, sf_dir):
    """BGP with a SPARQL OPTIONAL clause: every judgment with its court,
    plus its cited precedents WHEN it cites any (null otherwise) — the
    left-join leg of the pattern compiler.  An unanchored optional is
    refused as a cartesian product; this one anchors on ?d."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(tri, [("?d", "decided_by", "?court")],
                             optional=[("?d", "cites_precedent", "?p")])


def o_kg_bgp_optional():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court, b.obj AS p
FROM t a LEFT JOIN t b ON b.subj = a.subj AND b.pred = 'cites_precedent'
WHERE a.pred = 'decided_by'"""


def q_kg_bgp_minus(spark, sf_dir):
    """BGP with a SPARQL MINUS clause: judgments (with their court) that
    cite NO precedent — the anti-join leg of the pattern compiler; the
    minus pattern's ?p is existential and never projected."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(tri, [("?d", "decided_by", "?court")],
                             minus=[("?d", "cites_precedent", "?p")])


def o_kg_bgp_minus():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court
FROM t a
WHERE a.pred = 'decided_by' AND NOT EXISTS (
  SELECT 1 FROM t b WHERE b.pred = 'cites_precedent' AND b.subj = a.subj)"""


def q_kg_bgp_chain(spark, sf_dir):
    """BGP CHAIN through a shared object variable — alias co-reference
    pairs: ``?m same_as ?canon . ?m2 same_as ?canon`` with the
    ``?m < ?m2`` half-matrix cut applied as a plain DataFrame filter on
    the returned bindings (the layer composes with ordinary Spark).
    Both patterns hang off the hub ``?canon``, so ``bgp_match`` runs one
    hub shuffle: each ``same_as`` triple fills both slots of its
    object's group, and the group's cross product, streamed by one
    ``explode`` per slot, is the pairs — no self-join."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    b = kgquery.bgp_match(tri, [("?m", "same_as", "?canon"),
                                ("?m2", "same_as", "?canon")])
    return b.filter(F.col("m") < F.col("m2"))


def o_kg_bgp_chain():
    return f"""
WITH t AS (SELECT subj, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple' AND pred = 'same_as')
SELECT DISTINCT a.subj AS m, a.obj AS canon, b.subj AS m2
FROM t a JOIN t b ON b.obj = a.obj
WHERE a.subj < b.subj"""


def q_kg_path_bounded(spark, sf_dir):
    """Bounded property path (SPARQL ``cites_precedent{2,3}`` over the
    undirected citation graph): every (src, dst) pair within 2-3 hops
    with its MINIMUM hop count — hops=2 pairs are doc-doc
    co-citation + precedent-precedent co-occurrence; hops=3 reaches the
    neighbours' precedents.  One frontier equi-join per hop, newly
    reached pairs only (anti-join vs seen), lineage truncated per hop."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = (tri.filter(F.col("pred") == "cites_precedent")
         .select(F.concat(F.lit("d:"), "doc_id").alias("src"),
                 F.concat(F.lit("p:"), "obj").alias("dst")))
    return kgquery.property_path(e, 3, min_hops=2, symmetric=True,
                                 checkpoint_dir=_ckpt_dir(spark))


def o_kg_path_bounded():
    return f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'd:' || doc_id AS src, 'p:' || obj AS dst
  FROM {_KG_SQL_SRC} WHERE rec_type = 'triple' AND pred = 'cites_precedent'
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), walk(src, dst, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT w.src, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.dst
  WHERE w.d < 3
)
SELECT src, dst, min(d)::INT AS hops FROM walk
GROUP BY src, dst HAVING min(d) >= 2"""


def q_kg_bgp_values(spark, sf_dir):
    """BGP with a SPARQL VALUES clause: judgments + judges, with the
    court variable restricted to two literal courts.  The VALUES list
    compiles to an In filter on the pattern scan (plan-audited in
    tests), not a post-join filter."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?court"), ("?d", "has_judge", "?j")],
        values={"?court": ["Supreme Court Of India",
                           "High Court Of Delhi"]})


def o_kg_bgp_values():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court, b.obj AS j
FROM t a JOIN t b ON b.subj = a.subj AND b.pred = 'has_judge'
WHERE a.pred = 'decided_by'
  AND a.obj IN ('Supreme Court Of India', 'High Court Of Delhi')"""


def q_kg_bgp_exists(spark, sf_dir):
    """BGP with a SPARQL FILTER EXISTS group: judgments + courts where
    the judgment BOTH cites a precedent and names a lawyer.  The group
    is one conjunctive sub-BGP semi-joined on the shared ?d — the shape
    MINUS cannot express (minus=[A, B] is ¬A ∧ ¬B; this is A ∧ B)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?court")],
        exists=[("?d", "cites_precedent", "?p"),
                ("?d", "has_lawyer", "?l")])


def o_kg_bgp_exists():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court
FROM t a
WHERE a.pred = 'decided_by' AND EXISTS (
  SELECT 1 FROM t b JOIN t c ON c.subj = b.subj
  WHERE b.pred = 'cites_precedent' AND c.pred = 'has_lawyer'
    AND b.subj = a.subj)"""


def q_kg_bgp_groupagg(spark, sf_dir):
    """SPARQL GROUP BY + aggregates + HAVING inside the BGP compiler —
    per-court citation volume: group the (judgment, court, precedent)
    bindings by court, count distinct judgments and total citation
    bindings, keep courts with ≥2 citations.  Unlike `kg_bgp_filter_agg`
    (plain DataFrame groupBy over the binding table) this is the
    query-layer's own GROUP BY/HAVING leg — Spark hash aggregate with
    map-side partials over the set-semantics binding set."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?court"),
              ("?d", "cites_precedent", "?p")],
        group_by="?court",
        agg={"?n_judgments": "count(distinct d)",
             "?n_citations": "count(*)"},
        having="n_citations >= 2")


def o_kg_bgp_groupagg():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
b AS (SELECT DISTINCT a.subj AS d, a.obj AS court, c.obj AS p
      FROM t a JOIN t c ON c.subj = a.subj AND c.pred = 'cites_precedent'
      WHERE a.pred = 'decided_by')
SELECT court, count(DISTINCT d)::BIGINT AS n_judgments,
       count(*)::BIGINT AS n_citations
FROM b GROUP BY court HAVING count(*) >= 2"""


def q_kg_bgp_union(spark, sf_dir):
    """SPARQL UNION of two branches with a branch-tagging BIND —
    every judgment's court attributions and judge attributions as one
    (d, v, rel) solution set.  Each branch compiles independently; the
    union is Spark's zero-shuffle Union node plus one DISTINCT; a
    variable absent from a branch null-fills per the spec
    (both branches bind ?rel here, so no nulls in this instance)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_union(tri, [
        {"patterns": [("?d", "decided_by", "?v")],
         "bind": {"?rel": "'court'"}},
        {"patterns": [("?d", "has_judge", "?v")],
         "bind": {"?rel": "'judge'"}},
    ])


def o_kg_bgp_union():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT subj AS d, obj AS v, 'court' AS rel FROM t
WHERE pred = 'decided_by'
UNION
SELECT DISTINCT subj AS d, obj AS v, 'judge' AS rel FROM t
WHERE pred = 'has_judge'"""


def q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE (depth-1 bounded description) of a queried node
    set — every triple touching any statute that has provisions (the
    DESCRIBE-?var form: the node set is itself a query answer, so the
    legs are left-semi equi-joins, subject and object, unioned)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    nodes = tri.filter(F.col("pred") == "part_of").select("obj")
    return kgquery.describe(tri, nodes)


def o_kg_describe():
    return f"""
WITH t AS (SELECT subj, pred, obj, doc_id FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
n AS (SELECT DISTINCT obj AS node FROM t WHERE pred = 'part_of')
SELECT DISTINCT subj, pred, obj, doc_id FROM t
WHERE subj IN (SELECT node FROM n) OR obj IN (SELECT node FROM n)"""


def q_kg_bgp_subquery(spark, sf_dir):
    """SPARQL nested SELECT (subquery): judgments + judges restricted
    to courts with ≥3 distinct judgments — the inner query groups per
    court (GROUP BY + HAVING leg), the outer BGP joins it on the shared
    ?court column; the aggregate alias ?n_d rides into the outer
    solution.  The subquery's aggregated table is runtime-tiny, so AQE
    converts the correlation join to a broadcast."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    sub = kgquery.bgp_match(tri, [("?d2", "decided_by", "?court")],
                            group_by="?court",
                            agg={"?n_d": "count(distinct d2)"},
                            having="n_d >= 3")
    return kgquery.bgp_match(tri, [("?d", "decided_by", "?court"),
                                   ("?d", "has_judge", "?j")],
                             subqueries=[sub])


def o_kg_bgp_subquery():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
sub AS (SELECT obj AS court, count(DISTINCT subj)::BIGINT AS n_d
        FROM t WHERE pred = 'decided_by'
        GROUP BY obj HAVING count(DISTINCT subj) >= 3)
SELECT DISTINCT a.subj AS d, a.obj AS court, b.obj AS j, s.n_d
FROM t a
JOIN t b ON b.subj = a.subj AND b.pred = 'has_judge'
JOIN sub s ON s.court = a.obj
WHERE a.pred = 'decided_by'"""


def q_kg_bgp_not_exists(spark, sf_dir):
    """BGP with SPARQL FILTER NOT EXISTS — ¬(cites ∧ lawyer), i.e.
    judgments missing the citation or the lawyer (or both).  Contrast
    with `q_kg_bgp_minus` (¬each-pattern separately): the pytest suite
    pins the two shapes apart on a fixture where they disagree."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?court")],
        not_exists=[("?d", "cites_precedent", "?p"),
                    ("?d", "has_lawyer", "?l")])


def o_kg_bgp_not_exists():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS d, a.obj AS court
FROM t a
WHERE a.pred = 'decided_by' AND NOT EXISTS (
  SELECT 1 FROM t b JOIN t c ON c.subj = b.subj
  WHERE b.pred = 'cites_precedent' AND c.pred = 'has_lawyer'
    AND b.subj = a.subj)"""


def q_kg_construct_rule(spark, sf_dir):
    """SPARQL CONSTRUCT — one rule application over the finished graph:
    ``?prov part_of ?st . ?alias same_as ?st => ?prov part_of_alias
    ?alias`` — derived triples linking each provision to every ALIAS of
    its statute.  One body match, one constant-width head projection;
    derived facts carry a null doc_id (no single source document)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.construct(
        tri,
        body=[("?prov", "part_of", "?st"), ("?alias", "same_as", "?st")],
        head=("?prov", "part_of_alias", "?alias"))


def o_kg_construct_rule():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS subj, 'part_of_alias' AS pred, b.subj AS obj,
       CAST(NULL AS VARCHAR) AS doc_id
FROM t a JOIN t b ON b.obj = a.obj AND b.pred = 'same_as'
WHERE a.pred = 'part_of'"""


def q_kg_same_as_closure(spark, sf_dir):
    """Recursive rule: symmetric + transitive closure of ``same_as`` —
    the alias dictionary closed into full equivalence classes, emitted
    as derived triples.  Semi-naive by construction (property_path's
    delta-frontier loop): each round joins only NEWLY derived pairs
    against the base edges; reflexive pairs from the symmetric 2-cycles
    drop."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.closure(tri, "same_as", symmetric=True, max_hops=4,
                           checkpoint_dir=_ckpt_dir(spark))


def o_kg_same_as_closure():
    return f"""
WITH RECURSIVE t AS (
  SELECT subj, pred, obj FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'
), e AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE pred = 'same_as'
  UNION
  SELECT DISTINCT obj AS src, subj AS dst FROM t WHERE pred = 'same_as'
), walk(src, dst, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT w.src, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.dst
  WHERE w.d < 4
)
SELECT DISTINCT src AS subj, 'same_as' AS pred, dst AS obj,
       CAST(NULL AS VARCHAR) AS doc_id
FROM walk WHERE src <> dst"""


def q_kg_export_ntriples(spark, sf_dir):
    """W3C N-Triples export of the constructed graph — skolem node IRIs
    (md5 of the entity text, deterministic and join-free), the engine's
    predicate vocabulary as IRIs, plus rdfs:label literals carrying the
    original text with spec ECHAR escaping.  One codegen'd string
    expression off the triple scan; ready for ``write.text``."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.to_ntriples(tri)


def o_kg_export_ntriples():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
stmt AS (
  SELECT '<urn:lner:n:' || md5(subj) || '> <urn:lner:p:' || pred ||
         '> <urn:lner:n:' || md5(obj) || '> .' AS line FROM t
), ends AS (
  SELECT subj AS x FROM t UNION SELECT obj AS x FROM t
), lbl AS (
  SELECT '<urn:lner:n:' || md5(x) ||
         '> <http://www.w3.org/2000/01/rdf-schema#label> "' ||
         replace(replace(replace(replace(replace(x,
           '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'),
           chr(9), '\\t') || '" .' AS line FROM ends
)
SELECT DISTINCT line FROM
  (SELECT line FROM stmt UNION ALL SELECT line FROM lbl)"""


def q_kg_bgp_filter_agg(spark, sf_dir):
    """FILTER + aggregation over BGP bindings — precedent breadth per
    High Court: match (judgment, court) × (judgment, precedent), FILTER
    the court variable with a SQL predicate (Catalyst pushes the
    single-variable LIKE through the join to the pattern scan), then a
    plain groupBy over the binding table — the query layer feeding the
    engine's analytics tier directly."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    b = kgquery.bgp_match(tri, [("?d", "decided_by", "?court"),
                                ("?d", "cites_precedent", "?p")],
                          filters="court LIKE 'High Court%'")
    return (b.groupBy("court")
            .agg(F.countDistinct("p").alias("n_precedents"),
                 F.countDistinct("d").alias("n_judgments")))


def o_kg_bgp_filter_agg():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT a.obj AS court,
       COUNT(DISTINCT b.obj) AS n_precedents,
       COUNT(DISTINCT a.subj) AS n_judgments
FROM t a JOIN t b ON b.subj = a.subj AND b.pred = 'cites_precedent'
WHERE a.pred = 'decided_by' AND a.obj LIKE 'High Court%'
GROUP BY a.obj"""


def q_kg_bgp_slice(spark, sf_dir):
    """SPARQL solution modifiers end-to-end: SELECT (projection to
    ?court ?j) DISTINCT ORDER BY (court asc, judge desc) OFFSET 5
    LIMIT 10 over a two-pattern BGP.  The total order on both projected
    variables makes the slice deterministic — the refusal path (OFFSET
    without ORDER BY) is pytest-gated; ORDER BY + LIMIT compiles to a
    top-k fold (TakeOrderedAndProject), not a global sort."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?court"), ("?d", "has_judge", "?j")],
        select=["?court", "?j"], order_by=["?court", "-?j"],
        offset=5, limit=10)


def o_kg_bgp_slice():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.obj AS court, b.obj AS j
FROM t a JOIN t b ON b.subj = a.subj AND b.pred = 'has_judge'
WHERE a.pred = 'decided_by'
ORDER BY court ASC, j DESC LIMIT 10 OFFSET 5"""


def q_kg_bgp_ask(spark, sf_dir):
    """SPARQL ASK over two BGPs: one that matches (a judgment decided
    by a court that also cites a precedent) and one that cannot (a
    court that decides itself), returned as a single boolean row.  ask
    probes the compiled plan with an eager limit-1 — no full binding
    materialization."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    yes = kgquery.ask(tri, [("?d", "decided_by", "?c"),
                            ("?d", "cites_precedent", "?p")])
    no = kgquery.ask(tri, [("?c", "decided_by", "?c")])
    return spark.createDataFrame([(yes, no)],
                                 "matched boolean, self_decided boolean")


def o_kg_bgp_ask():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT EXISTS(SELECT 1 FROM t a JOIN t b ON b.subj = a.subj
              AND b.pred = 'cites_precedent'
              WHERE a.pred = 'decided_by') AS matched,
       EXISTS(SELECT 1 FROM t WHERE pred = 'decided_by'
              AND subj = obj) AS self_decided"""


def q_kg_bgp_path_quant(spark, sf_dir):
    """Property-path expression INSIDE a BGP pattern: provisions
    resolved to their statute under ``part_of/same_as?`` — one hop to
    the statute alias, then zero-or-one canonicalization hops, so the
    result carries BOTH the alias and (where an alias entry exists) the
    canonical name, per SPARQL zero-admitting-quantifier semantics.
    Compiled by `path_relation`: two pred-pushed scans, one equi-join,
    the zero case a union — no closure loop runs for a bounded
    quantifier."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(tri, [("?prov", "part_of/same_as?", "?stat")],
                             order_by=["?prov", "?stat"])


def o_kg_bgp_path_quant():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
po AS (SELECT subj AS prov, obj AS stat FROM t WHERE pred = 'part_of')
SELECT DISTINCT prov, stat FROM (
  SELECT prov, stat FROM po
  UNION ALL
  SELECT po.prov, s.obj AS stat
  FROM po JOIN t s ON s.subj = po.stat AND s.pred = 'same_as')
ORDER BY prov, stat"""


def q_kg_bgp_path_nps(spark, sf_dir):
    """SPARQL negated property set inside a BGP: judgments related to
    anything by an edge that is NOT a mention and NOT a party/lawyer
    role, i.e. ``!(mentions|has_judge|has_lawyer|has_petitioner|
    has_respondent)`` — the citation/decision/structure skeleton of the
    graph.  The exclusion list compiles to a pushed Not-In parquet
    filter (forward leg only — no ^members, so no inverse edges per the
    spec's direction split)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?s", "!(mentions|has_judge|has_lawyer|has_petitioner"
                     "|has_respondent)", "?o")],
        order_by=["?s", "?o"])


def o_kg_bgp_path_nps():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT subj AS s, obj AS o FROM t
WHERE pred NOT IN ('mentions', 'has_judge', 'has_lawyer',
                   'has_petitioner', 'has_respondent')
ORDER BY s, o"""


def q_kg_bgp_bind(spark, sf_dir):
    """SPARQL BIND: computed variables over BGP bindings — the court's
    lowercase form and its judgment count tag, projected and sorted.
    BIND expressions evaluate after joins in dict order (the second
    references the first) and feed select/order_by like matched
    variables."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(
        tri, [("?d", "decided_by", "?c")],
        bind={"?cl": "lower(c)", "?ln": "length(cl)"},
        select=["?cl", "?ln"], order_by=["?cl"])


def o_kg_bgp_bind():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT lower(obj) AS cl, length(lower(obj)) AS ln
FROM t WHERE pred = 'decided_by'
ORDER BY cl"""


def q_kg_roundtrip_ntriples(spark, sf_dir):
    """Round-trip through the RDF interchange form: export the graph as
    N-Triples, parse it back (`from_ntriples` — skolem-statement regex +
    label-dictionary unescape + two resolution joins), and the result
    must be value-exact against the ORIGINAL triple table — the oracle
    here is the plain triple scan, which makes the export/import pair
    self-certifying (any escaping or parsing defect breaks equality)."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.from_ntriples(kgquery.to_ntriples(tri)).distinct()


def o_kg_roundtrip_ntriples():
    return f"""
SELECT DISTINCT subj, pred, obj, CAST(NULL AS VARCHAR) AS doc_id
FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'"""


def q_kg_path_seq(spark, sf_dir):
    """SPARQL sequence path ``part_of/^same_as`` — every provision paired
    with each ALIAS of its statute: forward along provision→statute,
    then backward through the same_as dictionary (inverse step).  One
    pred-pushed equi-join per step; the inverse is a projection swap of
    the same triple scan, never a different scan shape."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.path_sequence(tri, ["part_of", "^same_as"])


def o_kg_path_seq():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS src, b.subj AS dst
FROM t a JOIN t b ON b.obj = a.obj AND b.pred = 'same_as'
WHERE a.pred = 'part_of'"""


def q_kg_path_alt(spark, sf_dir):
    """Bounded path over a SPARQL alternation with an inverse member —
    ``(part_of|^same_as){1,2}``: reach through EITHER the
    provision→statute edge or the canonical→alias edge, min-hop
    semantics.  The alternation is a union of two pred-pushed
    projections of the one triple table; the path iteration dedups it,
    so the alternation itself adds no shuffle."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    e = kgquery.path_edges(tri, ["part_of", "^same_as"])
    return kgquery.property_path(e, 2, min_hops=1,
                                 checkpoint_dir=_ckpt_dir(spark))


def o_kg_path_alt():
    return f"""
WITH RECURSIVE t AS (
  SELECT subj, pred, obj FROM {_KG_SQL_SRC} WHERE rec_type = 'triple'
), e AS (
  SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE pred = 'part_of'
  UNION
  SELECT DISTINCT obj AS src, subj AS dst FROM t WHERE pred = 'same_as'
), walk(src, dst, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT w.src, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.dst
  WHERE w.d < 2
)
SELECT src, dst, min(d)::INT AS hops FROM walk GROUP BY src, dst"""


def q_kg_resolved_triples(spark, sf_dir):
    """The KG rewritten through its own ``same_as`` edges — every
    endpoint that appears as an alias is replaced by its canonical form
    (deterministic min when a cross-document alias is ambiguous) and the
    ``same_as`` rows drop out: the entity-resolution payoff of statute
    clustering applied to the whole graph.  Two left equi-joins."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.resolve_same_as(tri)


def o_kg_resolved_triples():
    return f"""
WITH t AS (SELECT subj, pred, obj, doc_id FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
m AS (SELECT subj AS alias, min(obj) AS canon FROM t
      WHERE pred = 'same_as' GROUP BY subj)
SELECT coalesce(ms.canon, r.subj) AS subj, r.pred,
       coalesce(mo.canon, r.obj) AS obj, r.doc_id
FROM t r
LEFT JOIN m ms ON r.subj = ms.alias
LEFT JOIN m mo ON r.obj = mo.alias
WHERE r.pred <> 'same_as'"""


def q_kg_constraint_report(spark, sf_dir):
    """SHACL-lite validation profile of the graph, one row per
    predicate: functionality / inverse-functionality violation counts,
    endpoint cardinalities, and the hottest subject's fan-out (the skew
    early-warning for downstream joins).  Two (pred, endpoint)-keyed
    aggregates joined on pred — metadata-sized output at any corpus
    size."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.constraint_report(tri)


def o_kg_constraint_report():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
s AS (SELECT pred, subj, count(DISTINCT obj) AS n_obj
      FROM t GROUP BY pred, subj),
ss AS (SELECT pred, count(*)::BIGINT AS n_subjects,
              sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END)::BIGINT
                AS functional_violations,
              max(n_obj)::BIGINT AS max_out_degree
       FROM s GROUP BY pred),
o AS (SELECT pred, obj, count(DISTINCT subj) AS n_subj
      FROM t GROUP BY pred, obj),
oo AS (SELECT pred, count(*)::BIGINT AS n_objects,
              sum(CASE WHEN n_subj > 1 THEN 1 ELSE 0 END)::BIGINT
                AS inverse_violations
       FROM o GROUP BY pred),
c AS (SELECT pred, count(*)::BIGINT AS n_triples FROM t GROUP BY pred)
SELECT c.pred, c.n_triples, ss.n_subjects, oo.n_objects,
       ss.functional_violations, oo.inverse_violations, ss.max_out_degree
FROM c JOIN ss ON ss.pred = c.pred JOIN oo ON oo.pred = c.pred"""


# The RDFS ontology both kg_rdfs_entail legs share: schema triples for
# the engine's own predicate vocabulary — property hierarchy with a
# 2-level chain (exercises rdfs5 transitivity), domain/range typing,
# and a class hierarchy with a 2-level chain (rdfs11).
_RDFS_ONTOLOGY = [
    ("has_petitioner", "subproperty_of", "has_party"),
    ("has_respondent", "subproperty_of", "has_party"),
    ("has_party", "subproperty_of", "involves"),
    ("has_judge", "subproperty_of", "involves"),
    ("has_lawyer", "subproperty_of", "involves"),
    ("decided_by", "domain", "judgment"),
    ("decided_by", "range", "court"),
    ("cites_precedent", "domain", "judgment"),
    ("part_of", "domain", "provision"),
    ("part_of", "range", "statute"),
    ("judgment", "subclass_of", "legal_document"),
    ("legal_document", "subclass_of", "document"),
    ("provision", "subclass_of", "legal_text"),
    ("statute", "subclass_of", "legal_text"),
    ("legal_text", "subclass_of", "document"),
]


def _rdfs_values_cte():
    rows = ",\n  ".join(f"('{s}', '{p}', '{o}')"
                        for s, p, o in _RDFS_ONTOLOGY)
    return f"sch(subj, pred, obj) AS (VALUES\n  {rows})"


def q_kg_rdfs_entail(spark, sf_dir):
    """RDFS entailment materialization (ρdf rule set) of the extracted
    KG under a fixed ontology for the engine's predicate vocabulary:
    sub-property/sub-class closures (rdfs5/11, semi-naive), instance
    propagation through the closed property hierarchy (rdfs7),
    domain/range typing (rdfs2/3), and type inheritance (rdfs9) — the
    derived rows only.  Every rule application is an instance scan ⋈
    broadcast ontology closure; the oracle runs the same stratification
    with recursive CTEs."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    sch = spark.createDataFrame(
        [(s, p, o, None) for s, p, o in _RDFS_ONTOLOGY],
        "subj string, pred string, obj string, doc_id string")
    return (kgquery.rdfs_entail(tri.unionByName(sch), derived_only=True)
            .select("subj", "pred", "obj"))


def o_kg_rdfs_entail():
    return f"""
WITH RECURSIVE
t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple'),
{_rdfs_values_cte()},
g AS (SELECT subj, pred, obj FROM t UNION SELECT * FROM sch),
spo AS (
  SELECT subj AS sub, obj AS sup FROM g WHERE pred = 'subproperty_of'
  UNION
  SELECT spo.sub, e.obj FROM spo
  JOIN g e ON e.pred = 'subproperty_of' AND e.subj = spo.sup),
sco AS (
  SELECT subj AS sub, obj AS sup FROM g WHERE pred = 'subclass_of'
  UNION
  SELECT sco.sub, e.obj FROM sco
  JOIN g e ON e.pred = 'subclass_of' AND e.subj = sco.sup),
d7 AS (SELECT g.subj, spo.sup AS pred, g.obj
       FROM g JOIN spo ON g.pred = spo.sub),
ext AS (SELECT subj, pred, obj FROM g UNION SELECT * FROM d7),
d2 AS (SELECT ext.subj AS subj, 'type' AS pred, s.obj AS obj
       FROM ext JOIN g s ON s.pred = 'domain' AND s.subj = ext.pred),
d3 AS (SELECT ext.obj AS subj, 'type' AS pred, s.obj AS obj
       FROM ext JOIN g s ON s.pred = 'range' AND s.subj = ext.pred),
types AS (SELECT subj, obj FROM g WHERE pred = 'type'
          UNION SELECT subj, obj FROM d2
          UNION SELECT subj, obj FROM d3),
d9 AS (SELECT ty.subj, 'type' AS pred, sco.sup AS obj
       FROM types ty JOIN sco ON ty.obj = sco.sub),
der AS (SELECT * FROM d7 UNION SELECT * FROM d2 UNION SELECT * FROM d3
        UNION SELECT * FROM d9
        UNION SELECT sub, 'subproperty_of', sup FROM spo
          WHERE sub <> sup
        UNION SELECT sub, 'subclass_of', sup FROM sco WHERE sub <> sup)
SELECT subj, pred, obj FROM der
EXCEPT SELECT subj, pred, obj FROM g"""


def q_kg_owl_extend(spark, sf_dir):
    """OWL-RL property-fragment materialization of the extracted KG
    under its own declarations: cited_by as the inverse of
    cites_precedent, cites_precedent transitive, same_as symmetric —
    inverse/symmetric images first, one shared pred-keyed semi-naive
    closure, then inverse images of the closed edges (the fixpoint for
    this fragment); derived rows only."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    decl = spark.createDataFrame(
        [("cited_by", "inverse_of", "cites_precedent", None),
         ("cites_precedent", "type", "transitive_property", None),
         ("same_as", "type", "symmetric_property", None)],
        "subj string, pred string, obj string, doc_id string")
    return (kgquery.owl_extend(tri.unionByName(decl), derived_only=True)
            .select("subj", "pred", "obj"))


def o_kg_owl_extend():
    return f"""
WITH RECURSIVE
t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple'),
decl(subj, pred, obj) AS (VALUES
  ('cited_by', 'inverse_of', 'cites_precedent'),
  ('cites_precedent', 'type', 'transitive_property'),
  ('same_as', 'type', 'symmetric_property')),
g AS (SELECT subj, pred, obj FROM t UNION SELECT * FROM decl),
inv AS (SELECT subj AS p, obj AS q FROM g WHERE pred = 'inverse_of'
        UNION
        SELECT obj, subj FROM g WHERE pred = 'inverse_of'),
sym AS (SELECT DISTINCT subj AS p FROM g
        WHERE pred = 'type' AND obj = 'symmetric_property'),
tra AS (SELECT DISTINCT subj AS p FROM g
        WHERE pred = 'type' AND obj = 'transitive_property'),
base AS (SELECT subj, pred, obj FROM g
         UNION
         SELECT g.obj, i.q, g.subj FROM g JOIN inv i ON g.pred = i.p
         UNION
         SELECT g.obj, g.pred, g.subj FROM g JOIN sym s ON g.pred = s.p),
e AS (SELECT DISTINCT b.pred, b.subj AS src, b.obj AS dst
      FROM base b JOIN tra ON b.pred = tra.p),
reach AS (SELECT pred, src, dst FROM e
          UNION
          SELECT r.pred, r.src, e.dst FROM reach r
          JOIN e ON e.pred = r.pred AND e.src = r.dst),
closed AS (SELECT src AS subj, pred, dst AS obj FROM reach),
civ AS (SELECT c.obj AS subj, i.q AS pred, c.subj AS obj
        FROM closed c JOIN inv i ON c.pred = i.p),
full_g AS (SELECT * FROM base UNION SELECT * FROM closed
           UNION SELECT * FROM civ)
SELECT subj, pred, obj FROM full_g
EXCEPT SELECT subj, pred, obj FROM g"""


def q_kg_update_rename(spark, sf_dir):
    """SPARQL Update — DELETE {?d decided_by ?c} INSERT {?d heard_by ?c}
    WHERE {?d decided_by ?c} against the extracted KG: the WHERE binds
    once over the original graph, deletion drops every provenance row of
    each matched 3-tuple, insertion lands set-semantic with null
    provenance.  One shared BGP match, one anti-join, one union — the
    full updated graph comes back."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.update_graph(
        tri, where=[("?d", "decided_by", "?c")],
        delete=[("?d", "decided_by", "?c")],
        insert=[("?d", "heard_by", "?c")])


def o_kg_update_rename():
    return f"""
WITH t AS (SELECT subj, pred, obj, doc_id FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT subj, pred, obj, doc_id FROM t WHERE pred <> 'decided_by'
UNION ALL
SELECT DISTINCT subj, 'heard_by' AS pred, obj, NULL AS doc_id
FROM t WHERE pred = 'decided_by'"""


_SHACL_SHAPES = [{
    "shape": "JudgmentShape", "target_pred": "decided_by",
    "constraints": [
        {"path": "decided_by", "max_count": 1},
        {"path": "has_judge", "min_count": 1},
        {"path": "cites_precedent", "max_count": 3},
    ]}]


def q_kg_shacl_validate(spark, sf_dir):
    """Declarative SHACL-lite validation of the extracted KG: every
    judgment (subject of decided_by) must name exactly one court, at
    least one judge, and at most three precedent citations — violations
    come back as rows (empty result = conforming graph).  Each
    constraint is a pred-pushed scan + per-focus hash aggregate; min and
    max on the same path share one count."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.validate_shapes(tri, _SHACL_SHAPES)


def o_kg_shacl_validate():
    return f"""
WITH t AS (SELECT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple'),
focus AS (SELECT DISTINCT subj AS focus FROM t
          WHERE pred = 'decided_by'),
c_db AS (SELECT f.focus, count(v.obj) AS n FROM focus f
         LEFT JOIN t v ON v.pred = 'decided_by' AND v.subj = f.focus
         GROUP BY f.focus),
c_hj AS (SELECT f.focus, count(v.obj) AS n FROM focus f
         LEFT JOIN t v ON v.pred = 'has_judge' AND v.subj = f.focus
         GROUP BY f.focus),
c_cp AS (SELECT f.focus, count(v.obj) AS n FROM focus f
         LEFT JOIN t v ON v.pred = 'cites_precedent' AND v.subj = f.focus
         GROUP BY f.focus)
SELECT DISTINCT 'JudgmentShape' AS shape, focus,
       'decided_by' AS path, 'max_count=1' AS "constraint",
       CAST(n AS VARCHAR) AS value
FROM c_db WHERE n > 1
UNION
SELECT DISTINCT 'JudgmentShape', focus, 'has_judge', 'min_count=1',
       CAST(n AS VARCHAR)
FROM c_hj WHERE n < 1
UNION
SELECT DISTINCT 'JudgmentShape', focus, 'cites_precedent',
       'max_count=3', CAST(n AS VARCHAR)
FROM c_cp WHERE n > 3"""


def q_kg_rules_program(spark, sf_dir):
    """Datalog rule PROGRAM run to fixpoint (semi-naive, every round's
    delta pinned into each body position): the transitive closure of
    the alias dictionary expressed as the classic 2-rule linear
    recursion — same_as ⊆ eq; eq ∘ same_as ⊆ eq — a second
    implementation path for the relation `kg_same_as_closure` oracles,
    derived rows only."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
    ]
    return (kgquery.materialize_rules(tri, prog, derived_only=True)
            .select("subj", "pred", "obj"))


def o_kg_rules_program():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'eq' AS pred, obj FROM r"""


def q_kg_bgp_graph(spark, sf_dir):
    """SPARQL named-graph (GRAPH) query: the 4th pattern position binds
    the graph term — this store's named graphs are the judgment docs
    that assert each triple (``doc_id`` provenance), so

        GRAPH ?g { ?j decided_by ?c . ?j cites_precedent ?p }

    returns only pairs asserted by the SAME document: both patterns
    join on ?j AND ?g.  Exercises graph-variable binding + the shared
    graph variable across patterns."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    return kgquery.bgp_match(tri, [("?j", "decided_by", "?c", "?g"),
                                   ("?j", "cites_precedent", "?p", "?g")])


def o_kg_bgp_graph():
    return f"""
WITH t AS (SELECT DISTINCT subj, pred, obj, doc_id FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT DISTINCT a.subj AS j, a.obj AS c, a.doc_id AS g, b.obj AS p
FROM t a JOIN t b ON b.subj = a.subj AND b.doc_id = a.doc_id
WHERE a.pred = 'decided_by' AND b.pred = 'cites_precedent'"""


def q_kg_rules_incremental(spark, sf_dir):
    """The SAME fixpoint as `kg_rules_program`, computed INCREMENTALLY:
    the same_as facts arrive in two deterministic batches (md5 split on
    subj); batch 1 is materialized to fixpoint, batch 2 folds in via
    `materialize_rules_delta` (insertion-only semi-naive maintenance —
    only consequences that use ≥1 batch-2 fact are derived).  Returning
    the union's eq facts makes the recursive-CTE oracle a proof that
    the incremental path loses and invents nothing across the batch
    boundary."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
    ]
    sa = tri.filter(F.col("pred") == "same_as")
    b1 = sa.filter(F.md5(F.col("subj")) < "8")
    b2 = sa.filter(~(F.md5(F.col("subj")) < "8"))
    m1 = kgquery.materialize_rules(b1, prog)
    full = m1.unionByName(b2.select("subj", "pred", "obj", "doc_id"))
    new = kgquery.materialize_rules_delta(full, b2, prog)
    return (full.unionByName(new).filter(F.col("pred") == "eq")
            .select("subj", "pred", "obj").distinct())


def o_kg_rules_incremental():
    return o_kg_rules_program()


def q_kg_rules_retract(spark, sf_dir):
    """DRed deletion maintenance: materialize the alias-closure fixpoint
    over ALL same_as facts, then retract the md5-upper half of the base
    facts via `materialize_rules_retract` (over-delete endangered
    consequences, re-derive survivors with alternative derivations).
    Returning kept-base ∪ maintained-derived makes the recursive-CTE
    oracle over the REMAINING facts a proof that DRed converged to the
    from-scratch fixpoint."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
    ]
    sa = tri.filter(F.col("pred") == "same_as")
    dele = sa.filter(~(F.md5(F.col("subj")) < "8"))
    kept = sa.filter(F.md5(F.col("subj")) < "8")
    drv = kgquery.materialize_rules(sa, prog, derived_only=True)
    new_drv = kgquery.materialize_rules_retract(kept, drv, dele, prog)
    return (kept.select("subj", "pred", "obj")
            .unionByName(new_drv.select("subj", "pred", "obj"))
            .distinct())


def o_kg_rules_retract():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'
        AND md5(subj) < '8'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'same_as' AS pred, obj FROM e
UNION
SELECT subj, 'eq' AS pred, obj FROM r"""


def q_kg_rules_stratified(spark, sf_dir):
    """Stratified Datalog with NEGATION: stratum 0 closes the alias
    dictionary transitively (eq), stratum 1 then derives each chain
    root's canonical mapping — canon(a,b) := eq(a,b) ∧ ¬∃z eq(z,a) —
    a MINUS over a DERIVED predicate, which the monotone
    `materialize_rules` refuses and `materialize_rules_stratified`
    places in a higher stratum.  The recursive-CTE + anti-join oracle
    pins the perfect-model semantics end-to-end."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
        {"body": [("?a", "eq", "?b")], "minus": [("?z", "eq", "?a")],
         "head": ("?a", "canon", "?b")},
    ]
    return (kgquery.materialize_rules_stratified(
        tri.filter(F.col("pred") == "same_as"), prog, derived_only=True)
        .select("subj", "pred", "obj"))


def o_kg_rules_stratified():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'eq' AS pred, obj FROM r
UNION
SELECT subj, 'canon' AS pred, obj FROM r a
WHERE NOT EXISTS (SELECT 1 FROM r z WHERE z.obj = a.subj)"""


def q_kg_rules_aggregate(spark, sf_dir):
    """Stratified AGGREGATION in rule heads (BigDatalog/SociaLite
    lineage): close the alias dictionary transitively (recursive
    stratum 0), then derive each subject's reach-set size as a fact —
    an aggregate rule whose input is a DERIVED predicate, placed in its
    own stratum (aggregation is non-monotone in every input, so its
    inputs must be complete first).  Numeric aggregates land in the
    string-typed triple store via a cast, pinned by the CAST in the
    recursive-CTE + GROUP BY oracle."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
        {"body": [("?a", "eq", "?b")], "group_by": "?a",
         "agg": {"n": "count(*)"},
         "head": ("?a", "eq_count", "?n")},
    ]
    return (kgquery.materialize_rules_stratified(
        tri.filter(F.col("pred") == "same_as"), prog, derived_only=True)
        .select("subj", "pred", "obj"))


def o_kg_rules_aggregate():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'eq' AS pred, obj FROM r
UNION
SELECT subj, 'eq_count' AS pred, CAST(COUNT(*) AS VARCHAR) AS obj
FROM r GROUP BY subj"""


def q_kg_shortest_paths(spark, sf_dir):
    """Weighted multi-source shortest paths (frontier-pruned
    Bellman-Ford, `graph.shortest_paths`) over a judgment-succession
    DAG: per court, judgments ordered by id form a chain with
    unit-successor edges (weight 2) and skip edges (weight 3) — the
    cheapest route mixes them, so a min-fold that relaxed edges in the
    wrong order or double-counted a frontier would diverge from the
    hop-bounded recursive-CTE oracle.  max_iter=12 on BOTH sides pins
    the identical "shortest using ≤12 edges" contract.  (The per-court
    ROW_NUMBER builds the small succession dimension, not the path
    search — courts are a bounded dimension; the frontier loop is the
    operator under test.)"""
    from .operators import graph
    from pyspark.sql import Window
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    dec = (tri.filter(F.col("pred") == "decided_by")
           .select(F.col("subj").alias("doc"),
                   F.col("obj").alias("court")).distinct())
    seq = dec.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("court").orderBy("doc")))
    a = seq.select("court", F.col("doc").alias("src"),
                   F.col("rn").alias("ra"))
    b = seq.select("court", F.col("doc").alias("dst"),
                   F.col("rn").alias("rb"))
    e1 = (a.join(b, ["court"]).filter(F.col("rb") == F.col("ra") + 1)
          .select("src", "dst", F.lit(2.0).alias("weight")))
    e2 = (a.join(b, ["court"]).filter(F.col("rb") == F.col("ra") + 2)
          .select("src", "dst", F.lit(3.0).alias("weight")))
    sources = seq.filter(F.col("rn") == 1).select(
        F.col("doc").alias("node")).distinct()
    out = graph.shortest_paths(e1.unionByName(e2), sources,
                               max_iter=12)
    return out.select("node", F.col("dist").cast("bigint").alias("dist"))


def o_kg_shortest_paths():
    return f"""
WITH RECURSIVE
dec AS (SELECT DISTINCT subj AS doc, obj AS court FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'decided_by'),
seq AS (SELECT doc, court,
               ROW_NUMBER() OVER (PARTITION BY court ORDER BY doc) AS rn
        FROM dec),
e AS (SELECT a.doc AS src, b.doc AS dst, CAST(2.0 AS DOUBLE) AS w
      FROM seq a JOIN seq b ON a.court = b.court AND b.rn = a.rn + 1
      UNION ALL
      SELECT a.doc, b.doc, CAST(3.0 AS DOUBLE)
      FROM seq a JOIN seq b ON a.court = b.court AND b.rn = a.rn + 2),
p AS (SELECT DISTINCT doc AS node, CAST(0.0 AS DOUBLE) AS d, 0 AS hops
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT e.dst, p.d + e.w, p.hops + 1
      FROM p JOIN e ON e.src = p.node WHERE p.hops < 12)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM p GROUP BY node"""


def q_kg_harmonic_centrality(spark, sf_dir):
    """Landmark harmonic centrality (`graph.landmark_distances`):
    per-landmark BFS over the undirected per-court succession chains,
    then h(v) = Σ_roots 1/d(root, v) — scaled by 27720 (lcm 1..12) so
    every term is an exact integer and the cross-engine comparison is
    hash-exact (float summation order would not be).  Landmarks = each
    court's first judgment; max_depth=12 on both sides pins the same
    bounded-horizon estimate (the Brandes-sampling shape: centrality
    from a bounded pivot set, not all-pairs)."""
    from .operators import graph
    from pyspark.sql import Window
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    dec = (tri.filter(F.col("pred") == "decided_by")
           .select(F.col("subj").alias("doc"),
                   F.col("obj").alias("court")).distinct())
    seq = dec.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("court").orderBy("doc")))
    a = seq.select("court", F.col("doc").alias("src"),
                   F.col("rn").alias("ra"))
    b = seq.select("court", F.col("doc").alias("dst"),
                   F.col("rn").alias("rb"))
    edges = (a.join(b, ["court"])
             .filter(F.col("rb") == F.col("ra") + 1)
             .select("src", "dst"))
    lms = seq.filter(F.col("rn") == 1).select(
        F.col("doc").alias("node")).distinct()
    lmd = graph.landmark_distances(edges, lms, max_depth=12)
    return (lmd.filter(F.col("distance") > 0)
            .groupBy("node")
            .agg(F.sum(F.lit(27720) / F.col("distance"))
                 .cast("bigint").alias("h")))


def o_kg_harmonic_centrality():
    return f"""
WITH RECURSIVE
dec AS (SELECT DISTINCT subj AS doc, obj AS court FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'decided_by'),
seq AS (SELECT doc, court,
               ROW_NUMBER() OVER (PARTITION BY court ORDER BY doc) AS rn
        FROM dec),
e0 AS (SELECT a.doc AS src, b.doc AS dst
       FROM seq a JOIN seq b ON a.court = b.court AND b.rn = a.rn + 1),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
p AS (SELECT DISTINCT doc AS root, doc AS node, 0 AS hops
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT p.root, e.dst, p.hops + 1
      FROM p JOIN e ON e.src = p.node WHERE p.hops < 12),
m AS (SELECT root, node, MIN(hops) AS d FROM p GROUP BY root, node)
SELECT node, CAST(SUM(27720 / d) AS BIGINT) AS h
FROM m WHERE d > 0 GROUP BY node"""


def q_kg_butterflies(spark, sf_dir):
    """Per-statute butterfly (2×2-biclique) participation over the
    doc–statute bipartite citation graph (`graph.butterfly_counts`):
    the bipartite analogue of triangle counting — a butterfly is two
    docs jointly citing two statutes, the density unit co-citation
    community metrics build on.  Counted exactly through right-pair
    wedges (C(co,2) per co-citation pair), integers end to end; the
    left-hub cap (docs citing >64 statutes dropped pre-join) is the
    shape that bounds the quadratic step at corpus scale."""
    from .operators import graph
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")))
    out = graph.butterfly_counts(ds, left="doc_id", right="statute",
                                 max_left_degree=64)
    return out.select(F.col("node").alias("statute"), "butterflies")


def o_kg_butterflies():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of'
),
kept AS (
  SELECT doc_id FROM ds GROUP BY doc_id HAVING count(*) <= 64
),
dsf AS (SELECT ds.* FROM ds JOIN kept USING (doc_id)),
co AS (
  SELECT a.statute AS ra, b.statute AS rb, count(*) AS co
  FROM dsf a JOIN dsf b
    ON a.doc_id = b.doc_id AND a.statute < b.statute
  GROUP BY a.statute, b.statute
),
pair_bf AS (SELECT ra, rb, CAST(co * (co - 1) / 2 AS BIGINT) AS bf
            FROM co),
per AS (
  SELECT ra AS statute, bf FROM pair_bf
  UNION ALL
  SELECT rb, bf FROM pair_bf
)
SELECT statute, CAST(SUM(bf) AS BIGINT) AS butterflies
FROM per GROUP BY statute HAVING SUM(bf) > 0"""


def q_kg_link_prediction(spark, sf_dir):
    """Link-prediction scores for statute pairs over the hub-filtered
    doc–statute bipartite graph (docs citing 2..12 statutes — dropping
    hub common neighbours is standard practice AND the scale guard on
    the quadratic pair step): common-neighbour count, resource
    allocation Σ_docs 1/deg(doc) scaled by 27720 (lcm 1..12) so every
    term is an exact integer, and preferential attachment c_a·c_b.
    Adamic-Adar is this same plan with a 1/ln weight; RA is used here
    because its bounded-denominator form is hash-exact cross-engine."""
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    ds = (tri.filter(F.col("pred") == "part_of")
          .select("doc_id", F.col("obj").alias("statute")).distinct())
    deg = (ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
           .filter((F.col("dl") >= 2) & (F.col("dl") <= 12)))
    dsf = ds.join(deg, "doc_id")
    marg = dsf.groupBy("statute").agg(F.count(F.lit(1)).alias("c"))
    b = dsf.select(F.col("doc_id").alias("bdoc"),
                   F.col("statute").alias("statute_b"))
    pairs = (dsf.join(b, (F.col("doc_id") == F.col("bdoc"))
                      & (F.col("statute") < F.col("statute_b")))
             .groupBy(F.col("statute").alias("statute_a"), "statute_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cn"),
                  F.sum(F.lit(27720).cast("bigint") / F.col("dl"))
                  .cast("bigint").alias("ra_scaled")))
    return (pairs
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_a"),
                F.col("c").alias("c_a"))), "statute_a")
            .join(F.broadcast(marg.select(
                F.col("statute").alias("statute_b"),
                F.col("c").alias("c_b"))), "statute_b")
            .select("statute_a", "statute_b", "cn", "ra_scaled",
                    (F.col("c_a") * F.col("c_b")).cast("bigint")
                    .alias("pa")))


def o_kg_link_prediction():
    return f"""
WITH ds AS (
  SELECT DISTINCT doc_id, obj AS statute FROM {_KG_SQL_SRC}
  WHERE rec_type = 'triple' AND pred = 'part_of'
),
deg AS (
  SELECT doc_id, count(*) AS dl FROM ds GROUP BY doc_id
  HAVING count(*) BETWEEN 2 AND 12
),
dsf AS (SELECT ds.doc_id, ds.statute, deg.dl
        FROM ds JOIN deg USING (doc_id)),
marg AS (SELECT statute, count(*) AS c FROM dsf GROUP BY statute),
pairs AS (
  SELECT a.statute AS statute_a, b.statute AS statute_b,
         count(*)::BIGINT AS cn,
         CAST(SUM(27720 / a.dl) AS BIGINT) AS ra_scaled
  FROM dsf a JOIN dsf b
    ON a.doc_id = b.doc_id AND a.statute < b.statute
  GROUP BY a.statute, b.statute
)
SELECT p.statute_a, p.statute_b, p.cn, p.ra_scaled,
       CAST(ma.c * mb.c AS BIGINT) AS pa
FROM pairs p JOIN marg ma ON p.statute_a = ma.statute
             JOIN marg mb ON p.statute_b = mb.statute"""


def q_kg_eccentricity(spark, sf_dir):
    """Landmark eccentricity bounds (`graph.landmark_distances` again,
    aggregated the other way): per node the MAX hop distance to the
    landmark set is a lower bound on true eccentricity, and the global
    max of the column is the standard double-sweep diameter lower
    bound; n_roots counts the landmarks that reached the node within
    the horizon (coverage diagnostic for the landmark sample).  Same
    succession-chain graph and depth-12 horizon as the harmonic query,
    so the per-root BFS is pinned by two independent aggregations."""
    from .operators import graph
    from pyspark.sql import Window
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    dec = (tri.filter(F.col("pred") == "decided_by")
           .select(F.col("subj").alias("doc"),
                   F.col("obj").alias("court")).distinct())
    seq = dec.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("court").orderBy("doc")))
    a = seq.select("court", F.col("doc").alias("src"),
                   F.col("rn").alias("ra"))
    b = seq.select("court", F.col("doc").alias("dst"),
                   F.col("rn").alias("rb"))
    edges = (a.join(b, ["court"])
             .filter(F.col("rb") == F.col("ra") + 1)
             .select("src", "dst"))
    lms = seq.filter(F.col("rn") == 1).select(
        F.col("doc").alias("node")).distinct()
    lmd = graph.landmark_distances(edges, lms, max_depth=12)
    return (lmd.groupBy("node")
            .agg(F.max("distance").cast("bigint").alias("ecc_lb"),
                 F.count(F.lit(1)).cast("bigint").alias("n_roots")))


def o_kg_eccentricity():
    return f"""
WITH RECURSIVE
dec AS (SELECT DISTINCT subj AS doc, obj AS court FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'decided_by'),
seq AS (SELECT doc, court,
               ROW_NUMBER() OVER (PARTITION BY court ORDER BY doc) AS rn
        FROM dec),
e0 AS (SELECT a.doc AS src, b.doc AS dst
       FROM seq a JOIN seq b ON a.court = b.court AND b.rn = a.rn + 1),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
p AS (SELECT DISTINCT doc AS root, doc AS node, 0 AS hops
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT p.root, e.dst, p.hops + 1
      FROM p JOIN e ON e.src = p.node WHERE p.hops < 12),
m AS (SELECT root, node, MIN(hops) AS d FROM p GROUP BY root, node)
SELECT node, CAST(MAX(d) AS BIGINT) AS ecc_lb,
       CAST(COUNT(*) AS BIGINT) AS n_roots
FROM m GROUP BY node"""


def q_kg_landmark_select(spark, sf_dir):
    """Greedy farthest-point landmark selection over the succession
    chains (`graph.select_landmarks`, k=3, horizon 12): the 2-approx
    k-center sweep that answers WHICH landmarks the
    harmonic/eccentricity estimators should use — min-id seed, then
    argmax-of-min-distance with unreached = ∞ and min-id ties, fully
    deterministic, replayed by an unrolled recursive-CTE oracle (one
    BFS block per selection round)."""
    from .operators import graph
    from pyspark.sql import Window
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    dec = (tri.filter(F.col("pred") == "decided_by")
           .select(F.col("subj").alias("doc"),
                   F.col("obj").alias("court")).distinct())
    seq = dec.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("court").orderBy("doc")))
    a = seq.select("court", F.col("doc").alias("src"),
                   F.col("rn").alias("ra"))
    b = seq.select("court", F.col("doc").alias("dst"),
                   F.col("rn").alias("rb"))
    edges = (a.join(b, ["court"])
             .filter(F.col("rb") == F.col("ra") + 1)
             .select("src", "dst"))
    return graph.select_landmarks(edges, k=3, max_depth=12,
                                  checkpoint_dir=_ckpt_dir(spark))


def o_kg_landmark_select():
    return f"""
WITH RECURSIVE
dec AS (SELECT DISTINCT subj AS doc, obj AS court FROM {_KG_SQL_SRC}
        WHERE rec_type = 'triple' AND pred = 'decided_by'),
seq AS (SELECT doc, court,
               ROW_NUMBER() OVER (PARTITION BY court ORDER BY doc) AS rn
        FROM dec),
e0 AS (SELECT a.doc AS src, b.doc AS dst
       FROM seq a JOIN seq b ON a.court = b.court AND b.rn = a.rn + 1),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
nodes AS (SELECT DISTINCT src AS n FROM e),
m0 AS (SELECT MIN(n) AS v FROM nodes),
b1(node, d) AS (
  SELECT v, 0 FROM m0
  UNION
  SELECT e.dst, b1.d + 1 FROM b1 JOIN e ON e.src = b1.node
  WHERE b1.d < 12
),
d1 AS (SELECT node, MIN(d) AS d FROM b1 GROUP BY node),
m1 AS (SELECT n.n AS v FROM nodes n LEFT JOIN d1 ON d1.node = n.n
       WHERE n.n NOT IN (SELECT v FROM m0)
       ORDER BY COALESCE(d1.d, 2147483647) DESC, n.n LIMIT 1),
b2(node, d) AS (
  SELECT v, 0 FROM (SELECT v FROM m0 UNION ALL SELECT v FROM m1) s
  UNION
  SELECT e.dst, b2.d + 1 FROM b2 JOIN e ON e.src = b2.node
  WHERE b2.d < 12
),
d2 AS (SELECT node, MIN(d) AS d FROM b2 GROUP BY node),
m2 AS (SELECT n.n AS v FROM nodes n LEFT JOIN d2 ON d2.node = n.n
       WHERE n.n NOT IN (SELECT v FROM m0 UNION ALL
                         SELECT v FROM m1)
       ORDER BY COALESCE(d2.d, 2147483647) DESC, n.n LIMIT 1)
SELECT v AS node, 0::INT AS sel_order FROM m0
UNION ALL SELECT v, 1::INT FROM m1
UNION ALL SELECT v, 2::INT FROM m2"""


def q_kg_rules_goal(spark, sf_dir):
    """Goal-directed rule-program query (the sound half of magic sets):
    the program carries the alias-closure family AND an unrelated
    decided_by family; the goal pattern ("?a", "eq", "?b") prunes to
    the 2 backward-reachable rules, materializes only that
    sub-fixpoint, and matches the goal — at store scale the unrelated
    family is never evaluated.  The oracle is the plain closure CTE:
    pruning must change the answer not at all."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
        {"body": [("?j", "decided_by", "?c")],
         "head": ("?j", "court_link", "?c")},
        {"body": [("?j", "court_link", "?c"),
                  ("?j", "cites_precedent", "?p")],
         "head": ("?c", "saw_precedent", "?p")},
    ]
    src = tri.filter(F.col("pred").isin("same_as", "decided_by",
                                        "cites_precedent"))
    return (kgquery.materialize_rules_goal(src, prog, ("?a", "eq", "?b"))
            .select(F.col("a").alias("subj"), F.col("b").alias("obj")))


def o_kg_rules_goal():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, obj FROM r"""


def q_kg_rules_stratified_maintain(spark, sf_dir):
    """Signed-delta maintenance of a STRATIFIED fixpoint: materialize
    eq+canon over the full alias dictionary, then retract the md5-upper
    half of the base edges through
    `materialize_rules_stratified_maintain` — deletions must both
    remove eq pairs (DRed over-delete/re-derive) and ADD canon facts
    (chain members becoming roots when their in-edge leaves: negation
    inverts the delete's polarity).  Returning kept-base ∪ maintained
    derived makes the from-scratch oracle over the REMAINING edges a
    proof the signed-delta propagation converged."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
        {"body": [("?a", "eq", "?b")], "minus": [("?z", "eq", "?a")],
         "head": ("?a", "canon", "?b")},
    ]
    sa = tri.filter(F.col("pred") == "same_as")
    kept = sa.filter(F.md5(F.col("subj")) < "8")
    dele = sa.filter(~(F.md5(F.col("subj")) < "8"))
    drv = kgquery.materialize_rules_stratified(sa, prog,
                                               derived_only=True)
    nd = kgquery.materialize_rules_stratified_maintain(
        kept, drv, sa.limit(0), dele, prog)
    return (kept.select("subj", "pred", "obj")
            .unionByName(nd.select("subj", "pred", "obj"))
            .distinct())


def o_kg_rules_stratified_maintain():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'
        AND md5(subj) < '8'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'same_as' AS pred, obj FROM e
UNION
SELECT subj, 'eq' AS pred, obj FROM r
UNION
SELECT subj, 'canon' AS pred, obj FROM r a
WHERE NOT EXISTS (SELECT 1 FROM r z WHERE z.obj = a.subj)"""


def q_kg_update_maintain(spark, sf_dir):
    """SPARQL Update WITH view maintenance: rename the md5-upper half
    of the same_as dictionary to alias_of (DELETE + INSERT WHERE) while
    carrying the eq fixpoint through the change — DRed retracts the
    deleted edges' endangered consequences, the insertion delta
    re-admits them through the renamed edges.  The program closes over
    BOTH preds, so connectivity is invariant: the oracle is the plain
    closure over the ORIGINAL graph plus the renamed base rows — the
    maintained fixpoint must lose and invent nothing."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    prog = [
        {"body": [("?a", "same_as", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "alias_of", "?b")], "head": ("?a", "eq", "?b")},
        {"body": [("?a", "eq", "?b"), ("?b", "same_as", "?c")],
         "head": ("?a", "eq", "?c")},
        {"body": [("?a", "eq", "?b"), ("?b", "alias_of", "?c")],
         "head": ("?a", "eq", "?c")},
    ]
    sa = tri.filter(F.col("pred") == "same_as")
    drv = kgquery.materialize_rules(sa, prog, derived_only=True)
    na, nd = kgquery.update_graph_maintain(
        sa, drv, prog,
        where=[("?a", "same_as", "?b")],
        filters="md5(a) >= '8'",
        delete=[("?a", "same_as", "?b")],
        insert=[("?a", "alias_of", "?b")])
    return (na.select("subj", "pred", "obj")
            .unionByName(nd.select("subj", "pred", "obj"))
            .distinct())


def o_kg_update_maintain():
    return f"""
WITH RECURSIVE
e AS (SELECT DISTINCT subj, obj FROM {_KG_SQL_SRC}
      WHERE rec_type = 'triple' AND pred = 'same_as'),
r AS (SELECT subj, obj FROM e
      UNION
      SELECT r.subj, e.obj FROM r JOIN e ON e.subj = r.obj)
SELECT subj, 'same_as' AS pred, obj FROM e WHERE md5(subj) < '8'
UNION
SELECT subj, 'alias_of' AS pred, obj FROM e WHERE md5(subj) >= '8'
UNION
SELECT subj, 'eq' AS pred, obj FROM r"""


def q_kg_graph_diff(spark, sf_dir):
    """Graph diff between two store states — the update audit: the
    extracted KG before vs after the `kg_update_rename` DELETE/INSERT,
    as (subj, pred, obj, change) rows.  Two anti-joins on distinct
    3-tuples."""
    from .operators import kgquery
    tri = ops.triples(_kg_records_parquet(spark, sf_dir))
    after = kgquery.update_graph(
        tri, where=[("?d", "decided_by", "?c")],
        delete=[("?d", "decided_by", "?c")],
        insert=[("?d", "heard_by", "?c")])
    return kgquery.graph_diff(tri, after)


def o_kg_graph_diff():
    return f"""
WITH t AS (SELECT DISTINCT subj, pred, obj FROM {_KG_SQL_SRC}
           WHERE rec_type = 'triple')
SELECT subj, 'heard_by' AS pred, obj, 'added' AS change
FROM t WHERE pred = 'decided_by'
UNION
SELECT subj, pred, obj, 'removed' AS change
FROM t WHERE pred = 'decided_by'"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "statute_canon": q_statute_canon,
    "statute_canon_freq": q_statute_canon_freq,
    "precedent_split": q_precedent_split,
    "alias_split": q_alias_split,
    "name_separate": q_name_separate,
    "normalize_text": q_normalize_text,
    "preamble_keyword": q_preamble_keyword,
    "compound_split": q_compound_split,
    "nearest_prior_link": q_nearest_prior_link,
    "asof_last_before": q_asof_last_before,
    "ambiguity_prune": q_ambiguity_prune,
    "cluster_head": q_cluster_head,
    "overlap_containment": q_overlap_containment,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q4": q_tpch_q4,
    "tpch_q2": q_tpch_q2,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q16": q_tpch_q16,
    "tpch_q20": q_tpch_q20,
    "tpch_q17": q_tpch_q17,
    "tpch_q7": q_tpch_q7,
    "tpch_q13": q_tpch_q13,
    "tpch_q8": q_tpch_q8,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q18": q_tpch_q18,
    "tpch_q19": q_tpch_q19,
    "tpch_q12": q_tpch_q12,
    "tpch_q15": q_tpch_q15,
    "tpch_q21": q_tpch_q21,
    "tpch_q22": q_tpch_q22,
    "windowed_counts": q_windowed_counts,
    "sessionize": q_sessionize,
    "session_window_counts": q_session_window_counts,
    "user_last_event": q_user_last_event,
    "funnel": q_funnel,
    "cohort_retention": q_cohort_retention,
    "table_profile": q_table_profile,
    "approx_counts": q_approx_counts,
    "column_histogram": q_column_histogram,
    "asof_enrich": q_asof_enrich,
    "weighted_sample": q_weighted_sample,
    "user_transitions": q_user_transitions,
    "perplexity_score": q_perplexity_score,
    "cdc_user_state": q_cdc_user_state,
    "scd2_user_runs": q_scd2_user_runs,
    "range_partition_hist": q_range_partition_hist,
    "zorder_layout": q_zorder_layout,
    "interval_events": q_interval_events,
    "rolling_events": q_rolling_events,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "minhash_estimate_pairs": q_minhash_estimate_pairs,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "near_dedup": q_near_dedup,
    "near_dedup_incremental": q_near_dedup_incremental,
    "near_dedup_reconciled": q_near_dedup_reconciled,
    "duplicate_passages": q_duplicate_passages,
    "bm25_topk": q_bm25_topk,
    "bm25_index_topk": q_bm25_index_topk,
    "bm25_index_incremental": q_bm25_index_incremental,
    "bm25_index_stats": q_bm25_index_stats,
    "kmv_distinct": q_kmv_distinct,
    "cms_freq": q_cms_freq,
    "cms_join_size": q_cms_join_size,
    "resample_daily": q_resample_daily,
    "grouped_topk": q_grouped_topk,
    "quality_outliers": q_quality_outliers,
    "corpus_expectations": q_corpus_expectations,
    "conversion_join": q_conversion_join,
    "similarity_topk": q_similarity_topk,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "quality_quantiles": q_quality_quantiles,
    "corpus_rollup": q_corpus_rollup,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_score": q_repetition_score,
    "case_type": q_case_type,
    "vocab_topk": q_vocab_topk,
    "bpe_pair_stats": q_bpe_pair_stats,
    "tfidf_keywords": q_tfidf_keywords,
    "exact_median_quantity": q_exact_median_quantity,
    "collocations": q_collocations,
    "simhash_pairs": q_simhash_pairs,
    "embedding_near_pairs": q_embedding_near_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "quantize_embeddings": q_quantize_embeddings,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_incremental": q_ann_ivf_incremental,
    "ann_ivf_stats": q_ann_ivf_stats,
    "ann_ivf_q_topk": q_ann_ivf_q_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "contamination": q_contamination,
    "curation_pipeline": q_curation_pipeline,
    "gopher_quality": q_gopher_quality,
    "gopher_repetition": q_gopher_repetition,
    "dsir_weights": q_dsir_weights,
    "dsir_resample": q_dsir_resample,
    "source_quota_sample": q_source_quota_sample,
    "quality_classifier": q_quality_classifier,
    "curation_pipeline_v2": q_curation_pipeline_v2,
    "pii_redact": q_pii_redact,
    "k_anonymity": q_k_anonymity,
    "user_activity_entropy": q_user_activity_entropy,
    "pack_shards": q_pack_shards,
    "prepare_training_corpus": q_prepare_training_corpus,
    "corpus_sample": q_corpus_sample,
    "ingest_clean": q_ingest_clean,
    "html_to_text": q_html_to_text,
    "kg_triples": q_kg_triples,
    "kg_mentions": q_kg_mentions,
    "kg_provision_counts": q_kg_provision_counts,
    "kg_label_stats": q_kg_label_stats,
    "kg_statute_degree": q_kg_statute_degree,
    "kg_statute_cocitation": q_kg_statute_cocitation,
    "kg_precedent_components": q_kg_precedent_components,
    "kg_components_incremental": q_kg_components_incremental,
    "kg_statute_triangles": q_kg_statute_triangles,
    "kg_triangles_sampled": q_kg_triangles_sampled,
    "kg_kcore": q_kg_kcore,
    "kg_citation_distance": q_kg_citation_distance,
    "kg_hits": q_kg_hits,
    "kg_node_ids": q_kg_node_ids,
    "kg_edges_encoded": q_kg_edges_encoded,
    "kg_adjacency": q_kg_adjacency,
    "entity_link_fuzzy": q_entity_link_fuzzy,
    "stratified_sample": q_stratified_sample,
    "kg_negative_samples": q_kg_negative_samples,
    "kg_statute_pmi": q_kg_statute_pmi,
    "mixture_sample": q_mixture_sample,
    "dataset_split": q_dataset_split,
    "ngram_diversity": q_ngram_diversity,
    "zipf_slope": q_zipf_slope,
    "vocab_coverage": q_vocab_coverage,
    "skyline_docs": q_skyline_docs,
    "corpus_pivot": q_corpus_pivot,
    "chunk_windows": q_chunk_windows,
    "oov_rate": q_oov_rate,
    "dedup_prefix_filter": q_dedup_prefix_filter,
    "dedup_posting_stats": q_dedup_posting_stats,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_diverse": q_semantic_dedup_diverse,
    "semantic_dedup_incremental": q_semantic_dedup_incremental,
    "semantic_dedup_reconciled": q_semantic_dedup_reconciled,
    "semantic_dedup_stats": q_semantic_dedup_stats,
    "kg_ktruss": q_kg_ktruss,
    "kg_random_walks": q_kg_random_walks,
    "kg_biased_walks": q_kg_biased_walks,
    "kg_biased_skipgrams": q_kg_biased_skipgrams,
    "kg_walk_skipgrams": q_kg_walk_skipgrams,
    "kg_neighbor_sample": q_kg_neighbor_sample,
    "kg_walk_ppmi": q_kg_walk_ppmi,
    "kg_node_embeddings": q_kg_node_embeddings,
    "kg_embedding_neighbors": q_kg_embedding_neighbors,
    "kg_truss_communities": q_kg_truss_communities,
    "kg_bgp_star": q_kg_bgp_star,
    "kg_bgp_optional": q_kg_bgp_optional,
    "kg_bgp_minus": q_kg_bgp_minus,
    "kg_bgp_values": q_kg_bgp_values,
    "kg_bgp_exists": q_kg_bgp_exists,
    "kg_bgp_groupagg": q_kg_bgp_groupagg,
    "kg_bgp_union": q_kg_bgp_union,
    "kg_describe": q_kg_describe,
    "kg_bgp_subquery": q_kg_bgp_subquery,
    "kg_rdfs_entail": q_kg_rdfs_entail,
    "kg_owl_extend": q_kg_owl_extend,
    "kg_update_rename": q_kg_update_rename,
    "kg_shacl_validate": q_kg_shacl_validate,
    "kg_bgp_graph": q_kg_bgp_graph,
    "kg_rules_program": q_kg_rules_program,
    "kg_rules_incremental": q_kg_rules_incremental,
    "kg_rules_retract": q_kg_rules_retract,
    "kg_rules_stratified": q_kg_rules_stratified,
    "kg_rules_aggregate": q_kg_rules_aggregate,
    "kg_rules_goal": q_kg_rules_goal,
    "kg_shortest_paths": q_kg_shortest_paths,
    "kg_harmonic_centrality": q_kg_harmonic_centrality,
    "kg_butterflies": q_kg_butterflies,
    "kg_link_prediction": q_kg_link_prediction,
    "kg_eccentricity": q_kg_eccentricity,
    "kg_landmark_select": q_kg_landmark_select,
    "kg_rules_stratified_maintain": q_kg_rules_stratified_maintain,
    "kg_update_maintain": q_kg_update_maintain,
    "kg_graph_diff": q_kg_graph_diff,
    "kg_bgp_not_exists": q_kg_bgp_not_exists,
    "kg_bgp_filter_agg": q_kg_bgp_filter_agg,
    "kg_bgp_chain": q_kg_bgp_chain,
    "kg_bgp_slice": q_kg_bgp_slice,
    "kg_bgp_ask": q_kg_bgp_ask,
    "kg_bgp_path_quant": q_kg_bgp_path_quant,
    "kg_bgp_path_nps": q_kg_bgp_path_nps,
    "kg_bgp_bind": q_kg_bgp_bind,
    "kg_construct_rule": q_kg_construct_rule,
    "kg_same_as_closure": q_kg_same_as_closure,
    "kg_export_ntriples": q_kg_export_ntriples,
    "kg_roundtrip_ntriples": q_kg_roundtrip_ntriples,
    "kg_path_bounded": q_kg_path_bounded,
    "kg_path_seq": q_kg_path_seq,
    "kg_path_alt": q_kg_path_alt,
    "kg_resolved_triples": q_kg_resolved_triples,
    "kg_constraint_report": q_kg_constraint_report,
    "kg_clustering_coeff": q_kg_clustering_coeff,
    "kg_assortativity": q_kg_assortativity,
    "kg_component_sizes": q_kg_component_sizes,
    "sorted_neighborhood": q_sorted_neighborhood,
    "kg_related_cases": q_kg_related_cases,
    "kg_media_density": q_kg_media_density,
    "hybrid_rrf": q_hybrid_rrf,
    "kg_court_profiles": q_kg_court_profiles,
    "kg_canonical_citations": q_kg_canonical_citations,
    "kg_judge_profiles": q_kg_judge_profiles,
    "kg_node_similarity": q_kg_node_similarity,
    "dedup_stats": q_dedup_stats,
    "kg_skew_report": q_kg_skew_report,
    "kg_degree_histogram": q_kg_degree_histogram,
    "kg_rich_club": q_kg_rich_club,
    "kg_path_counts": q_kg_path_counts,
    "kg_lpa_communities": q_kg_lpa_communities,
    "kg_citation_years": q_kg_citation_years,
    "sliding_window_counts": q_sliding_window_counts,
    "corpus_cube": q_corpus_cube,
    "daily_anomalies": q_daily_anomalies,
    "embedding_class_stats": q_embedding_class_stats,
    "kg_label_cooccurrence": q_kg_label_cooccurrence,
    "kg_bridge_edges": q_kg_bridge_edges,
    "kg_community_quality": q_kg_community_quality,
    "kg_label_propagation": q_kg_label_propagation,
    "kg_ambiguous_provisions": q_kg_ambiguous_provisions,
    "kg_media_stats": q_kg_media_stats,
    "kg_media_align": q_kg_media_align,
    "salted_join_agg": q_salted_join_agg,
    "digest_prune_agg": q_digest_prune_agg,
    "kg_pagerank": q_kg_pagerank,
    "kg_pagerank_weighted": q_kg_pagerank_weighted,
    "kg_katz": q_kg_katz,
    "kg_ppr": q_kg_ppr,
}

ORACLES = {
    "statute_canon": o_statute_canon(),
    "statute_canon_freq": o_statute_canon_freq(),
    "precedent_split": o_precedent_split(),
    "alias_split": o_alias_split(),
    "name_separate": o_name_separate(),
    "normalize_text": o_normalize_text(),
    "preamble_keyword": o_preamble_keyword(),
    "compound_split": o_compound_split(),
    "nearest_prior_link": o_nearest_prior_link(),
    "asof_last_before": o_asof_last_before(),
    "ambiguity_prune": o_ambiguity_prune(),
    "cluster_head": o_cluster_head(),
    "overlap_containment": o_overlap_containment(),
    "tpch_q1": o_tpch_q1(),
    "tpch_q3": o_tpch_q3(),
    "tpch_q5": o_tpch_q5(),
    "tpch_q6": o_tpch_q6(),
    "tpch_q4": o_tpch_q4(),
    "tpch_q2": o_tpch_q2(),
    "tpch_q9": o_tpch_q9(),
    "tpch_q11": o_tpch_q11(),
    "tpch_q16": o_tpch_q16(),
    "tpch_q20": o_tpch_q20(),
    "tpch_q17": o_tpch_q17(),
    "tpch_q7": o_tpch_q7(),
    "tpch_q13": o_tpch_q13(),
    "tpch_q8": o_tpch_q8(),
    "tpch_q10": o_tpch_q10(),
    "tpch_q14": o_tpch_q14(),
    "tpch_q18": o_tpch_q18(),
    "tpch_q19": o_tpch_q19(),
    "tpch_q12": o_tpch_q12(),
    "tpch_q15": o_tpch_q15(),
    "tpch_q21": o_tpch_q21(),
    "tpch_q22": o_tpch_q22(),
    "windowed_counts": o_windowed_counts(),
    "sessionize": o_sessionize(),
    "session_window_counts": o_session_window_counts(),
    "user_last_event": o_user_last_event(),
    "funnel": o_funnel(),
    "cohort_retention": o_cohort_retention(),
    "table_profile": o_table_profile(),
    "approx_counts": o_approx_counts(),
    "column_histogram": o_column_histogram(),
    "asof_enrich": o_asof_enrich(),
    "weighted_sample": o_weighted_sample(),
    "user_transitions": o_user_transitions(),
    "perplexity_score": o_perplexity_score(),
    "cdc_user_state": o_cdc_user_state(),
    "scd2_user_runs": o_scd2_user_runs(),
    "range_partition_hist": o_range_partition_hist(),
    "zorder_layout": o_zorder_layout(),
    "interval_events": o_interval_events(),
    "rolling_events": o_rolling_events(),
    "dedup_exact": o_dedup_exact(),
    "dedup_ngram_jaccard": o_dedup_ngram_jaccard(),
    "dedup_containment": o_dedup_containment(),
    "minhash_estimate_pairs": o_minhash_estimate_pairs(),
    "dedup_minhash_lsh": o_dedup_minhash_lsh(),
    "near_dedup": o_near_dedup(),
    "near_dedup_incremental": o_near_dedup_incremental(),
    "near_dedup_reconciled": o_near_dedup(),
    "duplicate_passages": o_duplicate_passages(),
    "bm25_topk": o_bm25_topk(),
    "bm25_index_topk": o_bm25_topk(),
    "bm25_index_incremental": o_bm25_topk(),
    "bm25_index_stats": o_bm25_index_stats(),
    "kmv_distinct": o_kmv_distinct(),
    "cms_freq": o_cms_freq(),
    "cms_join_size": o_cms_join_size(),
    "resample_daily": o_resample_daily(),
    "grouped_topk": o_grouped_topk(),
    "quality_outliers": o_quality_outliers(),
    "corpus_expectations": o_corpus_expectations(),
    "conversion_join": o_conversion_join(),
    "similarity_topk": o_similarity_topk(),
    "lang_id": o_lang_id(),
    "quality_score": o_quality_score(),
    "quality_quantiles": o_quality_quantiles(),
    "corpus_rollup": o_corpus_rollup(),
    "token_count": o_token_count(),
    "doc_fingerprint": o_doc_fingerprint(),
    "repetition_score": o_repetition_score(),
    "case_type": o_case_type(),
    "vocab_topk": o_vocab_topk(),
    "bpe_pair_stats": o_bpe_pair_stats(),
    "tfidf_keywords": o_tfidf_keywords(),
    "exact_median_quantity": o_exact_median_quantity(),
    "collocations": o_collocations(),
    "simhash_pairs": o_simhash_pairs(),
    "embedding_near_pairs": o_embedding_near_pairs(),
    "ann_lsh_topk": o_ann_lsh_topk(),
    "quantize_embeddings": o_quantize_embeddings(),
    "ann_ivf_topk": o_ann_ivf_topk(),
    "ann_ivf_incremental": o_ann_ivf_incremental(),
    "ann_ivf_stats": o_ann_ivf_stats(),
    "ann_ivf_q_topk": o_ann_ivf_q_topk(),
    "ann_pq_topk": o_ann_pq_topk(),
    "ann_ivfpq_topk": o_ann_ivfpq_topk(),
    "contamination": o_contamination(),
    "curation_pipeline": o_curation_pipeline(),
    "gopher_quality": o_gopher_quality(),
    "gopher_repetition": o_gopher_repetition(),
    "dsir_weights": o_dsir_weights(),
    "dsir_resample": o_dsir_resample(),
    "source_quota_sample": o_source_quota_sample(),
    "quality_classifier": o_quality_classifier(),
    "curation_pipeline_v2": o_curation_pipeline_v2(),
    "pii_redact": o_pii_redact(),
    "k_anonymity": o_k_anonymity(),
    "user_activity_entropy": o_user_activity_entropy(),
    "pack_shards": o_pack_shards(),
    "prepare_training_corpus": o_prepare_training_corpus(),
    "corpus_sample": o_corpus_sample(),
    "ingest_clean": o_ingest_clean(),
    "html_to_text": o_html_to_text(),
    "kg_triples": o_kg_triples(),
    "kg_mentions": o_kg_mentions(),
    "kg_provision_counts": o_kg_provision_counts(),
    "kg_label_stats": o_kg_label_stats(),
    "kg_statute_degree": o_kg_statute_degree(),
    "kg_statute_cocitation": o_kg_statute_cocitation(),
    "kg_precedent_components": o_kg_precedent_components(),
    "kg_components_incremental": o_kg_components_incremental(),
    "kg_statute_triangles": o_kg_statute_triangles(),
    "kg_triangles_sampled": o_kg_triangles_sampled(),
    "kg_kcore": o_kg_kcore(),
    "kg_citation_distance": o_kg_citation_distance(),
    "kg_hits": o_kg_hits(),
    "kg_node_ids": o_kg_node_ids(),
    "kg_edges_encoded": o_kg_edges_encoded(),
    "kg_adjacency": o_kg_adjacency(),
    "entity_link_fuzzy": o_entity_link_fuzzy(),
    "stratified_sample": o_stratified_sample(),
    "kg_negative_samples": o_kg_negative_samples(),
    "kg_statute_pmi": o_kg_statute_pmi(),
    "mixture_sample": o_mixture_sample(),
    "dataset_split": o_dataset_split(),
    "ngram_diversity": o_ngram_diversity(),
    "zipf_slope": o_zipf_slope(),
    "vocab_coverage": o_vocab_coverage(),
    "skyline_docs": o_skyline_docs(),
    "corpus_pivot": o_corpus_pivot(),
    "chunk_windows": o_chunk_windows(),
    "oov_rate": o_oov_rate(),
    "dedup_prefix_filter": o_dedup_prefix_filter(),
    "dedup_posting_stats": o_dedup_posting_stats(),
    "semantic_dedup": o_semantic_dedup(),
    "semantic_dedup_diverse": o_semantic_dedup_diverse(),
    "semantic_dedup_incremental": o_semantic_dedup_incremental(),
    "semantic_dedup_reconciled": o_semantic_dedup_reconciled(),
    "semantic_dedup_stats": o_semantic_dedup_stats(),
    "kg_ktruss": o_kg_ktruss(),
    "kg_random_walks": o_kg_random_walks(),
    "kg_biased_walks": o_kg_biased_walks(),
    "kg_biased_skipgrams": o_kg_biased_skipgrams(),
    "kg_walk_skipgrams": o_kg_walk_skipgrams(),
    "kg_neighbor_sample": o_kg_neighbor_sample(),
    "kg_walk_ppmi": o_kg_walk_ppmi(),
    "kg_truss_communities": o_kg_truss_communities(),
    "kg_bgp_star": o_kg_bgp_star(),
    "kg_bgp_optional": o_kg_bgp_optional(),
    "kg_bgp_minus": o_kg_bgp_minus(),
    "kg_bgp_values": o_kg_bgp_values(),
    "kg_bgp_exists": o_kg_bgp_exists(),
    "kg_bgp_groupagg": o_kg_bgp_groupagg(),
    "kg_bgp_union": o_kg_bgp_union(),
    "kg_describe": o_kg_describe(),
    "kg_bgp_subquery": o_kg_bgp_subquery(),
    "kg_rdfs_entail": o_kg_rdfs_entail(),
    "kg_owl_extend": o_kg_owl_extend(),
    "kg_update_rename": o_kg_update_rename(),
    "kg_shacl_validate": o_kg_shacl_validate(),
    "kg_bgp_graph": o_kg_bgp_graph(),
    "kg_rules_program": o_kg_rules_program(),
    "kg_rules_incremental": o_kg_rules_incremental(),
    "kg_rules_retract": o_kg_rules_retract(),
    "kg_rules_stratified": o_kg_rules_stratified(),
    "kg_rules_aggregate": o_kg_rules_aggregate(),
    "kg_rules_goal": o_kg_rules_goal(),
    "kg_shortest_paths": o_kg_shortest_paths(),
    "kg_harmonic_centrality": o_kg_harmonic_centrality(),
    "kg_butterflies": o_kg_butterflies(),
    "kg_link_prediction": o_kg_link_prediction(),
    "kg_eccentricity": o_kg_eccentricity(),
    "kg_landmark_select": o_kg_landmark_select(),
    "kg_rules_stratified_maintain": o_kg_rules_stratified_maintain(),
    "kg_update_maintain": o_kg_update_maintain(),
    "kg_graph_diff": o_kg_graph_diff(),
    "kg_bgp_not_exists": o_kg_bgp_not_exists(),
    "kg_bgp_filter_agg": o_kg_bgp_filter_agg(),
    "kg_bgp_chain": o_kg_bgp_chain(),
    "kg_bgp_slice": o_kg_bgp_slice(),
    "kg_bgp_ask": o_kg_bgp_ask(),
    "kg_bgp_path_quant": o_kg_bgp_path_quant(),
    "kg_bgp_path_nps": o_kg_bgp_path_nps(),
    "kg_bgp_bind": o_kg_bgp_bind(),
    "kg_construct_rule": o_kg_construct_rule(),
    "kg_same_as_closure": o_kg_same_as_closure(),
    "kg_export_ntriples": o_kg_export_ntriples(),
    "kg_roundtrip_ntriples": o_kg_roundtrip_ntriples(),
    "kg_path_bounded": o_kg_path_bounded(),
    "kg_path_seq": o_kg_path_seq(),
    "kg_path_alt": o_kg_path_alt(),
    "kg_resolved_triples": o_kg_resolved_triples(),
    "kg_constraint_report": o_kg_constraint_report(),
    "kg_clustering_coeff": o_kg_clustering_coeff(),
    "kg_assortativity": o_kg_assortativity(),
    "kg_component_sizes": o_kg_component_sizes(),
    "sorted_neighborhood": o_sorted_neighborhood(),
    "kg_related_cases": o_kg_related_cases(),
    "kg_media_density": o_kg_media_density(),
    "hybrid_rrf": o_hybrid_rrf(),
    "kg_court_profiles": o_kg_court_profiles(),
    "kg_canonical_citations": o_kg_canonical_citations(),
    "kg_judge_profiles": o_kg_judge_profiles(),
    "kg_node_similarity": o_kg_node_similarity(),
    "dedup_stats": o_dedup_stats(),
    "kg_skew_report": o_kg_skew_report(),
    "kg_degree_histogram": o_kg_degree_histogram(),
    "kg_rich_club": o_kg_rich_club(),
    "kg_path_counts": o_kg_path_counts(),
    "kg_lpa_communities": o_kg_lpa_communities(),
    "kg_citation_years": o_kg_citation_years(),
    "sliding_window_counts": o_sliding_window_counts(),
    "corpus_cube": o_corpus_cube(),
    "daily_anomalies": o_daily_anomalies(),
    "embedding_class_stats": o_embedding_class_stats(),
    "kg_label_cooccurrence": o_kg_label_cooccurrence(),
    "kg_bridge_edges": o_kg_bridge_edges(1),
    "kg_community_quality": o_kg_community_quality(),
    "kg_label_propagation": o_kg_label_propagation(),
    "kg_ambiguous_provisions": o_kg_ambiguous_provisions(),
    "kg_media_stats": o_kg_media_stats(),
    "kg_media_align": o_kg_media_align(),
    "salted_join_agg": o_salted_join_agg(),
    "digest_prune_agg": o_digest_prune_agg(),
    "kg_pagerank": o_kg_pagerank(),
    "kg_pagerank_weighted": o_kg_pagerank_weighted(),
    "kg_katz": o_kg_katz(),
    "kg_ppr": o_kg_ppr(),
    # every query has an oracle row; for kg_triples/kg_mentions the oracle
    # scope is the materialization + projection half — the pandas
    # extraction half has no SQL form and is pytest-gated (P/R = 1.0,
    # determinism, parallelism invariance)
}
