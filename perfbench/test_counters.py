"""Status-store counters work with ``spark.ui.enabled=false``."""

from pyspark.sql import functions as F

import counters


def test_shuffle_op_reports_bytes_and_jobs(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    counters.set_group(sc, "pytest:shuffle")
    try:
        spark.range(50_000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id")).collect()
    finally:
        counters.set_group(sc, None)
    c = counters.job_counters(sc, counters.group_job_ids(sc, "pytest:shuffle"))
    assert c.jobs == len(sc.statusTracker().getJobIdsForGroup("pytest:shuffle")) >= 1
    assert c.shuffle_bytes > 0
    assert c.run_s > 0
    assert c.tasks >= c.stages >= 2
    assert c.failed_tasks == 0


def test_jobs_outside_the_group_are_not_counted(spark):
    sc = spark.sparkContext
    spark.range(10).collect()
    assert counters.group_job_ids(sc, "pytest:never-used") == []
