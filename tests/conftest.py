import uuid

import pytest

from legal_ner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # One session serves every test, and the iterative operators (fixpoints,
    # reconcile rounds, streaming micro-batches) re-plan the same query
    # shapes many times.  Spark's default codegen cache keeps only 100
    # compiled classes, so those shapes were recompiled over and over; a
    # larger cache reuses them (same generated code, fewer Janino compiles).
    s = get_spark(app_name="legal-ner-spark-tests", master="local[4]",
                  shuffle_partitions=4,
                  extra_conf={"spark.sql.codegen.cache.maxEntries": "5000"})
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` returns ``fn()`` and the number of Spark jobs it
    submitted, counted through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
