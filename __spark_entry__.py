"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG query: build the deterministic judgment
corpus (size tied to the sf0.001 documents table), run the fused zero-shuffle
extraction pipeline, return the triples DataFrame.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data-pipeline operators; oracles are
DuckDB-ANSI SQL over the same parquet tables (or shared VALUES fixtures).
All 84 queries carry an oracle; for the two order-sensitive extraction
outputs (kg_triples/kg_mentions) the oracle scope is the materialization +
projection half — the pandas extraction half has no SQL form (SURVEY.md
§2.3) and is pytest-gated instead (P/R = 1.0, determinism,
parallelism invariance).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this module from any cwd — make the package findable
_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def _ship_package(spark: SparkSession) -> None:
    """Make legal_ner_spark importable inside executor Python workers
    regardless of the driver's cwd (the production shape is spark-submit
    --py-files legal_ner_spark.zip; here we build and addPyFile the same
    zip on the fly, once per session)."""
    if getattr(_ship_package, "_done", None) is spark:
        return
    import pathlib
    import tempfile
    import zipfile

    pkg = pathlib.Path(_REPO) / "legal_ner_spark"
    # name the zip by content hash — a pid-keyed reuse could ship STALE
    # code after a source edit in a long-lived driver (or a recycled pid)
    files = sorted(pkg.rglob("*.py"))
    import hashlib
    h = hashlib.sha256()
    for p in files:
        h.update(p.read_bytes())
    z = (pathlib.Path(tempfile.gettempdir())
         / f"legal_ner_spark_{h.hexdigest()[:16]}.zip")
    if not z.exists():
        with zipfile.ZipFile(z, "w") as zf:
            for p in files:
                zf.write(p, p.relative_to(pkg.parent))
    spark.sparkContext.addPyFile(str(z))
    _ship_package._done = spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    from legal_ner_spark import synth
    from legal_ner_spark.operators import extract as ops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = max(16, min(64, docs.count() // 10))
    corpus = synth.synthetic_corpus(spark, n)
    return ops.triples(ops.extract_records(corpus))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from legal_ner_spark.queries import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from legal_ner_spark.queries import ORACLES
    return dict(ORACLES)
