"""profiling.profile: the run record read from Spark's status stores
with the UI disabled (the session default)."""

import pytest
from pyspark.sql import functions as F

from geosparql_etl_spark.profiling import profile


def _counts(spark):
    return spark.range(200).groupBy((F.col("id") % 3).alias("k")).count()


def test_record_reads_the_run_with_the_ui_off(spark):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    rec = profile(spark, lambda: _counts(spark))
    assert {"analysis", "optimization", "planning"} <= set(rec["phases_ms"])
    assert rec["run_s"] >= rec["execute_s"] > 0
    assert rec["jobs"] >= 1 and rec["stages"] >= 2 and rec["tasks"] > 0
    assert rec["shuffle_write_bytes"] > 0
    assert rec["janino"]["compiles"] >= 0
    aggs = [n for n in rec["sql_nodes"] if n["name"] == "HashAggregate"]
    assert any(n["metrics"].get("number of output rows") == 3 for n in aggs)


def test_job_after_the_call_is_not_counted(spark):
    sc = spark.sparkContext
    df = _counts(spark)
    inside = {}

    def call():
        df.collect()
        inside["tags"] = set(sc.getJobTags())

    rec = profile(spark, call)
    (tag,) = inside["tags"] - set(sc.getJobTags())
    df.collect()
    tagged = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert rec["jobs"] >= 1 and len(tagged) == rec["jobs"]
    assert "run_s" in rec and "phases_ms" not in rec


def test_raising_callable_removes_the_tag_and_reraises(spark):
    sc = spark.sparkContext
    before = set(sc.getJobTags())

    def boom():
        assert len(sc.getJobTags()) == len(before) + 1
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        profile(spark, boom)
    assert set(sc.getJobTags()) == before
