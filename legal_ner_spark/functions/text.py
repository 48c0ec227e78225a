"""Catalyst column-expression builders for the reference's scalar operators
(SURVEY.md §2.2) — pure ``pyspark.sql.functions``, whole-stage-codegen'd,
no Python on the hot path.

Each builder cites the reference function it re-expresses.  The same regex
constants drive the DuckDB oracle SQL (queries.py), so Spark/oracle parity
is by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..core.postprocess import STATUTE_CANON

# Reference vs/citation regexes (postprocessing_utils.py:123-124), with the
# inline (?i) hoisted to the front — equivalent in both Java regex and RE2.
VS_RE = r'(?i)\b((v(\.|/)*s*\.*)|versus)\s+'
CIT_RE = (r'(\(\d+\)|\d+|\[\d+\])\s*(\(\d+\)|\d+|\[\d+\])*\s*[A-Z\.]+\s*'
          r'(\(\d+\)|\d+|\[\d+\])*\s*')

# Lazy-prefix forms: group 1 = text strictly before the FIRST regex match
# (match.start() semantics in one regexp_extract).  NEVER locate the match
# with instr() on the matched string — a literal occurrence earlier in the
# text ('Avs Corporation vs ...') splits at the wrong point.  The prefix
# is dotall ((?s:…)): '.' excludes newlines in both Java regex and RE2, so
# a PRECEDENT whose citation/vs separator sits after a newline would
# otherwise fail the prefix match entirely — diverging from the core's
# match.start() slicing, which is newline-safe by construction.
PRE_CIT_RE = r'^((?s:.*?))(?:' + CIT_RE + r')'
PRE_VS_RE = r'^((?s:.*?))(?:' + VS_RE + r')'


def statute_canon(col: Column) -> Column:
    """check_stat dictionary (postprocessing_utils.py:591-622) as a single
    constant-folded CASE chain — first match wins, '' on miss."""
    expr = F.lit("")
    for pat, canon in reversed(STATUTE_CANON):
        expr = F.when(col.rlike(pat), F.lit(canon)).otherwise(expr)
    return expr


def normalize_entity_text(col: Column) -> Column:
    """`' '.join(t.split()).lower().replace(',', '')`
    (postprocessing_utils.py:224-226).  Whitespace runs collapse to one
    space before the trim, which strips spaces only."""
    return F.lower(F.regexp_replace(
        F.trim(F.regexp_replace(col, r'\s+', ' ')), ',', ''))


def precedent_citation(col: Column) -> Column:
    """First citation match — split_precedents (postprocessing_utils.py:127)."""
    return F.regexp_extract(col, CIT_RE, 0)
