"""Warm queries reuse their compiled classes.

Spark caches generated classes per JVM; with its 100-entry default a
pass over the headline queries (about 400 classes) evicted its own
classes, so every warm query recompiled them. ``get_spark`` sizes the
cache to the working set.
"""

from finance_etl_spark import plans
from finance_etl_spark.session import CODEGEN_CACHE_ENTRIES


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == CODEGEN_CACHE_ENTRIES


def test_warm_headline_pass_reuses_compiled_classes(spark, sf_dir):
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount
    names = sorted(plans.headline_queries())
    assert len(names) == 20

    counts = [compiles()]
    for _ in range(2):
        for name in names:
            plans.get(name).build(spark, sf_dir).collect()
        spark.catalog.clearCache()
        counts.append(compiles())
    first, second = counts[1] - counts[0], counts[2] - counts[1]
    assert second <= 0.1 * first, (first, second)
