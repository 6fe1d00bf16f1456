"""The session factory's engine settings, checked on the shared test
session that ``get_spark`` built."""

from __future__ import annotations

from etl_cortex_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

#: the warehouse refresh of perfbench's ``warehouse_sql`` workload
REFRESH = (
    "flagship_events_medallion",
    "c17_tpch_q1",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "c10_join_inner_agg",
    "c26_window_ranking",
    "c32_topk_per_group",
    "a13_dedup_keep_latest",
    "d01_exact_dedup",
)


def test_repeated_refresh_compiles_no_classes(spark):
    """The second of two back-to-back refreshes finds every generated
    class in the codegen cache. Spark's default cache of 100 entries is
    smaller than the refresh's ~140 classes, so its LRU order evicts
    each class before the next refresh asks for it again."""

    def refresh():
        for q in REFRESH:
            QUERIES[q](spark, SF).write.format("noop").mode("overwrite").save()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    refresh()
    before = compiles.getCount()
    refresh()
    assert compiles.getCount() - before == 0
