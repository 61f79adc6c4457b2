"""The engine session sizes Spark's generated-code cache to its working
set (``session.CODEGEN_CACHE_ENTRIES``): a warm re-run of plans that
already compiled compiles nothing, even when the plans' classes
outnumber Spark's default bound of 100."""

from __future__ import annotations

from mtg_bulk_database_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_rerun_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    # the inlined int literal makes every plan's generated code distinct:
    # 60 plans × 2 classes each is more than the default bound holds
    def one_round() -> None:
        for i in range(60):
            spark.range(3).selectExpr(f"id * 7 + {i} AS v").collect()

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0
