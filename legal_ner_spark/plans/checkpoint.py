"""Lineage truncation for the iterative tier (CC, PageRank, near-dedup,
fixpoints), and the one delta loop every semi-naive operator runs.

Iterative DataFrame algorithms grow their logical plan every round; some
truncation device is mandatory or analysis time explodes.  Two tiers:

- ``localCheckpoint`` (default, ``checkpoint_dir=None``): blocks live in
  executor memory/disk.  Cheapest, and fine single-node — but on a real
  cluster losing ONE executor mid-iteration makes the truncated lineage
  unrecoverable and fails the job.
- durable parquet round-trip (``checkpoint_dir`` set): each round writes
  to ``{checkpoint_dir}/{tag}`` and reads it back.  Survives executor
  loss (the 100 TB path — point it at HDFS/S3); costs one write+read of
  a tiny (id, label) table per round.

``Truncator`` hands out UNIQUE paths per call — a round-trip must never
overwrite the path the incoming plan is still reading from.  Numbering
skips any path that already exists, so two calls that share a
``checkpoint_dir`` never overwrite each other's rounds either (the
results of a fixpoint are unions of its round-trips, read lazily).

``delta_fixpoint`` is the semi-naive loop shared by the Datalog rule
programs, DRed over-deletion, property paths, the OWL transitive
frontier and the BFS operators: a round truncates only its new delta,
and the known set and the result stay unions of those truncated leaves,
so a round's cost follows its delta, not the store.  The loop owns the
DISTINCT; steps return bags.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame


class Truncator:
    """Per-job lineage truncation: ``t(df, "tag")`` returns an
    equivalent DataFrame whose plan is a leaf.  Thread one instance
    through an iterative operator; pass ``checkpoint_dir`` for durable
    (cluster-safe) truncation, leave ``None`` for localCheckpoint."""

    def __init__(self, checkpoint_dir: str | None = None):
        self.checkpoint_dir = checkpoint_dir
        self._n = 0

    def __call__(self, df: DataFrame, tag: str = "step") -> DataFrame:
        if self.checkpoint_dir is None:
            ck = df.localCheckpoint(eager=True)
            return _reset_stats(ck)
        while True:
            self._n += 1
            path = f"{self.checkpoint_dir}/{self._n:04d}_{tag}"
            try:
                df.write.mode("errorifexists").parquet(path)
            except AnalysisException as e:
                if e.getCondition() != "PATH_ALREADY_EXISTS":
                    raise
                continue
            return df.sparkSession.read.parquet(path)


def _reset_stats(ck: DataFrame) -> DataFrame:
    """Rebuild a checkpointed DataFrame as a fresh LogicalRDD WITHOUT the
    origin plan's statistics.

    ``localCheckpoint`` (Spark ≥3.4) preserves the replaced plan's
    sizeInBytes estimate on the new leaf.  In an iterative join loop that
    COMPOUNDS: each round's estimate is a PRODUCT over the previous
    round's already-compounded leaves, so the BigInt grows by a constant
    FACTOR of digits per round — by round ~17 of a 3-joins-per-round CC
    loop the driver is multiplying 10^8-digit integers and each
    checkpoint takes minutes (measured: 0.3 s/round → 68 s/round by
    round 22).  Wrapping the ALREADY-MATERIALIZED checkpoint RDD in a
    fresh LogicalRDD drops the stat (leaf reverts to
    ``defaultSizeInBytes``), keeping planning O(1) per round.  Costs
    nothing at runtime — the RDD is reused, not recomputed.

    Uses ``SparkSession.internalCreateDataFrame`` (stable since 2.x but
    not public API) — any failure falls back to the plain checkpoint,
    which is correct but re-exposes the compounding on high-round loops.
    The durable branch needs none of this: a parquet read's stats come
    from file sizes."""
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - depends on Spark internals
        return ck


def delta_fixpoint(delta: DataFrame, step, keys, rounds, trunc: Truncator,
                   *, tag: str, known: DataFrame | None = None,
                   probe=None) -> DataFrame:
    """Run a semi-naive delta loop and return the seed ``delta`` plus
    every round's new delta.

    ``delta`` is the truncated seed; ``known`` (optional) is what was
    known before it, disjoint from it.  ``probe(delta)`` runs once on
    the seed and once on each round's delta, and the loop stops at the
    first falsy answer or when ``rounds`` runs out.  In round ``k`` the
    known set first grows by the current delta; ``step(delta, seen, k)``
    returns candidate rows, where ``seen`` is that known set projected
    to ``keys``; the distinct candidates whose ``keys`` are not in
    ``seen``, truncated, are the next delta.

    The loop owns the DISTINCT; steps return bags and need not
    deduplicate.  The DISTINCT sits before the anti-join: placed after
    it, the ancestor program took ~15 % more Spark jobs.

    Only the delta is ever truncated.  ``seen`` and the result are
    unions of truncated leaves, so no round copies, re-truncates or
    probes anything store-sized.  ``probe`` defaults to an emptiness
    test; Datalog callers pass one that adds the delta's ``{pred:
    rows}`` to their running statistics, which is also the emptiness
    test."""
    if probe is None:
        def probe(d):
            return not d.isEmpty()
    seen = None if known is None else known.select(*keys)
    out = delta
    live = probe(delta)
    for k in rounds:
        if not live:
            break
        d = delta.select(*keys)
        seen = d if seen is None else seen.unionByName(d)
        delta = trunc(step(delta, seen, k).distinct()
                      .join(seen, list(keys), "left_anti"), f"{tag}{k}")
        out = out.unionByName(delta)
        live = probe(delta)
    return out
