"""The generated-class cache holds a session's plans: with Spark's
default of 100 entries one pass of the three corpus keys evicts its own
classes, so a repeat pass recompiled ~60 of them."""

from __future__ import annotations

from presto_on_ray_spark import suite
from presto_on_ray_spark.caching import release_cached

KEYS = ("dedup_neardup_clusters", "text_classifier_distilled", "split_leakage_safe")


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_pass_reuses_generated_classes(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    suite.load_all()

    def one_pass():
        for key in KEYS:
            suite.QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_cached()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= 10
