"""The sink must read every output column, so the text kernels run.

A plain ``count()`` lets Catalyst prune every column it does not read:
the lemmatize projection and the HTML-extraction Python stage disappear
from the plan. These tests fail if the benchmark's sink drifts back to a
pruned shape.
"""

from bbcnews_scraper_nlp_spark.queries import REGISTRY

import harness


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lemmatize_kernel_survives_the_sink(spark, data_dir):
    df = REGISTRY["p13_lemmatize"].fn(spark, data_dir)
    assert "array_join" in executed_plan(harness.checksum_frame(df))
    # the guard means something: a count() sink prunes the kernel away
    assert "array_join" not in executed_plan(df.groupBy().count())


def test_python_arrow_stage_survives_the_sink(spark, data_dir):
    df = REGISTRY["s4_html_extract"].fn(spark, data_dir)
    assert "MapInPandas" in executed_plan(harness.checksum_frame(df))


def test_checksum_reads_every_column(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    n, h = harness.checksum(df)
    n2, h2 = harness.checksum(spark.createDataFrame([(1, "a"), (2, "c")], "k long, v string"))
    assert n == n2 == 2
    assert h != h2
