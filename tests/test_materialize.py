"""The deployment-aware materialization primitive (round 14): local mode
must behave exactly like the localCheckpoint it replaced — same rows,
lineage actually cut — for both the fan-out (sever=False) and the
severing (sever=True) call forms, lazily and eagerly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensanctions_spark.session import materialize


@pytest.mark.parametrize("eager", [False, True])
@pytest.mark.parametrize("sever", [False, True])
def test_materialize_local_rows_and_cut(spark, eager, sever):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = df.transform(materialize, eager=eager, sever=sever)
    assert sorted(r["x"] for r in out.collect()) == [2 * i for i in range(100)]
    # local mode = localCheckpoint: the optimized plan no longer contains
    # the Range source — it reads the checkpointed RDD
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_materialize_survives_reuse(spark):
    # the fan-out shape the helper exists for: one frame, two consumers
    base = spark.range(50).withColumn("g", F.col("id") % 5)
    cut = base.transform(materialize, eager=False)
    a = cut.groupBy("g").count()
    b = cut.agg(F.sum("id").alias("s"))
    assert a.count() == 5
    assert b.collect()[0]["s"] == sum(range(50))


def test_sever_fallback_warns_once(caplog):
    """A cluster master with no checkpoint dir falls back to
    localCheckpoint for sever=True — and says so, once, naming the
    setting that gives the reliable cut."""
    import logging

    from opensanctions_spark import session

    class _Context:
        master = "spark://cluster:7077"

        def getCheckpointDir(self):
            return None

    class _Frame:
        class sparkSession:
            sparkContext = _Context()

        def localCheckpoint(self, eager):
            return ("local", eager)

    session._warn_sever_fallback.cache_clear()
    with caplog.at_level(logging.WARNING, logger="opensanctions_spark.session"):
        assert materialize(_Frame(), eager=False, sever=True) == ("local", False)
        assert materialize(_Frame(), sever=True) == ("local", True)
    warnings = [r for r in caplog.records if "localCheckpoint" in r.getMessage()]
    assert len(warnings) == 1
    assert "setCheckpointDir" in warnings[0].getMessage()
