"""The code cache holds the engine's working set.

Every query plans and generates its Java source again on each run; Spark
compiles a class only when the same source is missing from its code
cache. At Spark's default size (100 entries in 4 LRU segments) the
second pass below recompiled 105 classes that the first had compiled.
``get_spark`` sizes the cache so a repeated working set compiles
nothing.
"""

from __future__ import annotations

from transitdata_monitor_data_collector_spark.plans import load_all
from transitdata_monitor_data_collector_spark.session import codegen_compilations

#: the panels of the benchmark's dashboard workload
PANELS = (
    "mqtt_fanout_window_rate",
    "promql_rate_window",
    "prometheus_histogram_buckets",
    "timeseries_gap_fill_locf",
    "promql_alert_for_duration",
    "rate_over_store",
)


def test_repeated_dashboard_pass_compiles_nothing(spark, sf_dir):
    registry = load_all()

    def dashboard_pass() -> int:
        before = codegen_compilations(spark)
        for name in PANELS:
            # a cache left by the previous pass would skip the plans under it
            spark.catalog.clearCache()
            registry[name].build(spark, sf_dir).collect()
        return codegen_compilations(spark) - before

    dashboard_pass()
    assert dashboard_pass() == 0
