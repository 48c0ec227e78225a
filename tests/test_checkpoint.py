"""Lineage-truncation regression tests (plans/checkpoint.py).

The silent failure mode these guard: ``localCheckpoint`` preserves the
replaced plan's sizeInBytes statistic, and an iterative join loop
COMPOUNDS it (each round's estimate multiplies the previous round's
already-compounded leaves) — by round ~17 the driver multiplies
10^8-digit BigIntegers and each checkpoint takes minutes.  Truncator
rebuilds the checkpointed RDD as a fresh LogicalRDD, dropping the stat.
"""

from pyspark.sql import functions as F

from legal_ner_spark.plans.checkpoint import Truncator


def _stat_digits(df):
    return len(str(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes()))


def test_truncator_keeps_stats_bounded_across_rounds(spark):
    """15 rounds of a 3-reference join loop: with raw localCheckpoint the
    size estimate grows by a constant factor of DIGITS per round
    (~3× digits/round → 10^6+ digits by round 15); through Truncator it
    must stay at the 19-digit defaultSizeInBytes forever."""
    trunc = Truncator(None)
    labels = trunc(spark.range(50).select(F.col("id").alias("v"),
                                          F.col("id").alias("comp")), "init")
    for _ in range(15):
        a = labels.select(F.col("v").alias("av"), F.col("comp").alias("ac"))
        b = labels.select(F.col("v").alias("bv"), F.col("comp").alias("bc"))
        nxt = (labels.join(a, labels.comp == F.col("av"), "left")
               .join(b, labels.v == F.col("bv"), "left")
               .select("v", F.least(
                   F.col("comp"),
                   F.coalesce("ac", F.col("comp")),
                   F.coalesce("bc", F.col("comp"))).alias("comp")))
        labels = trunc(nxt, "round")
        assert _stat_digits(labels) <= 25, \
            "checkpoint stats compounding — _reset_stats regressed"
    assert labels.count() == 50


def test_query_layer_threads_durable_checkpoint_config(spark, tmp_path):
    """The session config ``spark.legal_ner.checkpointDir`` must reach
    the iterative q_* wrappers: with it set, an iterative query's
    per-round state round-trips through durable parquet under the dir
    (the executor-loss-safe mode — localCheckpoint blocks die with
    their executor), per-invocation-isolated, with answers identical to
    the localCheckpoint run.  The resume property itself: rounds live
    as plain parquet, so a restarted driver can re-read any round — the
    same contract test_truncator_durable_rounds_write_distinct_paths
    pins at the Truncator layer."""
    import os
    from legal_ner_spark import queries
    SF = "/root/testdata/sf0.001"
    base = {r.family_head: r.n_nodes
            for r in queries.QUERIES["kg_truss_communities"](
                spark, SF).collect()}
    ck = str(tmp_path / "ck")
    spark.conf.set("spark.legal_ner.checkpointDir", ck)
    try:
        durable = {r.family_head: r.n_nodes
                   for r in queries.QUERIES["kg_truss_communities"](
                       spark, SF).collect()}
        walks = queries.QUERIES["kg_random_walks"](spark, SF).count()
    finally:
        spark.conf.unset("spark.legal_ner.checkpointDir")
    assert durable == base and walks > 0
    # per-invocation subdirs, each holding numbered parquet round-trips
    invocations = os.listdir(ck)
    assert len(invocations) >= 2  # truss-communities + walks at least
    rounds = [d for inv in invocations
              for d in os.listdir(os.path.join(ck, inv))]
    assert rounds and all(r.split("_", 1)[0].isdigit() for r in rounds)
    # the rounds ARE restartable state: plain parquet, re-readable
    some = os.path.join(ck, invocations[0], sorted(
        os.listdir(os.path.join(ck, invocations[0])))[0])
    assert spark.read.parquet(some).count() >= 0


def test_truncator_durable_rounds_write_distinct_paths(spark, tmp_path):
    """The durable branch must never overwrite the path the incoming plan
    still reads from — every call gets a fresh numbered directory."""
    trunc = Truncator(str(tmp_path))
    df = spark.range(10).select(F.col("id"))
    a = trunc(df, "step")
    b = trunc(a.select((F.col("id") + 1).alias("id")), "step")
    assert sorted(r.id for r in b.collect()) == list(range(1, 11))
    import os
    dirs = sorted(os.listdir(tmp_path))
    assert dirs == ["0001_step", "0002_step"]


def test_truncators_sharing_a_dir_never_overwrite(spark, tmp_path):
    """Two calls that share a ``checkpoint_dir`` each number their
    round-trips from 1; the second must skip the first's paths, whose
    results may still be read lazily (a fixpoint's result is a union of
    its round-trips)."""
    import os
    a = Truncator(str(tmp_path))(spark.range(3), "step")
    b = Truncator(str(tmp_path))(spark.range(5), "step")
    assert sorted(r.id for r in a.collect()) == [0, 1, 2]
    assert b.count() == 5
    assert sorted(os.listdir(tmp_path)) == ["0001_step", "0002_step"]
