"""Session defaults that change how every query runs."""

from __future__ import annotations


def test_codegen_cache_outlives_a_round_of_distinct_plans(spark):
    """Whole-stage codegen caches compiled classes by their source, and
    Spark's default cache holds 100. A second round over the same 150
    distinct plans must compile nothing: with the default, every class
    of the round is evicted before it comes back, and Janino compiles
    each one again."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    queries = [f"SELECT id * {i} + {i} AS v FROM range(3)" for i in range(150)]
    for q in queries:
        spark.sql(q).collect()
    before = compiles.getCount()
    for q in queries:
        spark.sql(q).collect()
    assert compiles.getCount() - before == 0
