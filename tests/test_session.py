"""Session factory confs that only take effect at session build."""

from __future__ import annotations


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_warm_round(spark):
    # 150 plans whose literals are inlined into the generated code, so
    # each one is a distinct whole-stage class: more than Spark's default
    # cache of 100, fewer than get_spark's maxEntries.
    plans = [spark.range(8).selectExpr(f"id * {i} + {i}") for i in range(150)]

    def run():
        for df in plans:
            df.write.format("noop").mode("overwrite").save()

    run()
    warm = _compiles(spark)
    run()
    assert _compiles(spark) == warm
