"""Prometheus text exposition tests (MetricsEndpoint.java:17-24 serving
surface; Micrometer naming conventions for counter/gauge/summary)."""

from __future__ import annotations

from transitdata_monitor_data_collector_spark.sinks.prometheus import (
    render_counter,
    render_gauge,
    render_page,
    render_summary,
)


def test_counter_rendering(spark):
    df = spark.createDataFrame(
        [("tcp://a:1883", "/hfp/v2/journey/#", 12345),
         ("tcp://a:1883", "unknown", 7)],
        "broker string, topic_filter string, n long",
    ).orderBy("topic_filter")
    text = render_counter(
        "mqtt_messages_received_total", df, "n", ["broker", "topic_filter"],
        "Total number of received MQTT messages",
    )
    assert "# TYPE mqtt_messages_received_total counter" in text
    assert (
        'mqtt_messages_received_total{broker="tcp://a:1883",'
        'topic_filter="/hfp/v2/journey/#"} 12345.0' in text
    )
    assert 'topic_filter="unknown"} 7.0' in text


def test_gauge_rendering(spark):
    df = spark.createDataFrame(
        [("https://x/feed", 1)], "url string, up int"
    )
    text = render_gauge("gtfsrt_last_scrape_success", df, "up", ["url"])
    assert 'gtfsrt_last_scrape_success{url="https://x/feed"} 1.0' in text


def test_summary_rendering_count_sum_max(spark):
    # count=3 total=370 max=150 — GtfsRtMetricsRegistryTest.java:204-224
    df = spark.createDataFrame(
        [("u", 3, 370, 150)], "url string, c long, s long, m long"
    )
    text = render_summary("gtfsrt_entity_count", df, "c", "s", "m", ["url"])
    assert 'gtfsrt_entity_count_count{url="u"} 3.0' in text
    assert 'gtfsrt_entity_count_sum{url="u"} 370.0' in text
    assert "# TYPE gtfsrt_entity_count_max gauge" in text
    assert 'gtfsrt_entity_count_max{url="u"} 150.0' in text


def test_label_escaping(spark):
    df = spark.createDataFrame([('he said "hi"\n', 1)], "l string, v int")
    text = render_gauge("g", df, "v", ["l"])
    assert 'l="he said \\"hi\\"\\n"' in text


def test_null_value_renders_nan(spark):
    df = spark.createDataFrame([("a", None)], "l string, v double")
    assert "g{l=\"a\"} NaN" in render_gauge("g", df, "v", ["l"])


def test_page_concatenation(spark):
    df = spark.createDataFrame([("a", 1)], "l string, v int")
    page = render_page(
        {
            "c": render_counter("c_total", df, "v", ["l"]),
            "g": render_gauge("g", df, "v", ["l"]),
        }
    )
    assert page.index("c_total") < page.index("# TYPE g gauge")
    assert page.endswith("\n")


def test_runtime_metrics_after_microbatch(spark, tmp_path):
    """Engine self-observability (reference Main.java:37 JvmMemoryMetrics
    analog): after a real stateful micro-batch, the runtime page exposes
    JVM heap, scheduler load, and per-query progress + state-store rows."""
    import json

    from transitdata_monitor_data_collector_spark.sinks.prometheus import (
        render_runtime,
    )
    from transitdata_monitor_data_collector_spark.sources.mqtt import (
        register_sources,
    )

    msgs = [
        {"broker": "b1", "topic": "/a", "ts": "2024-01-01T00:00:01"},
        {"broker": "b1", "topic": "/b", "ts": "2024-01-01T00:00:02"},
        {"broker": "b2", "topic": "/c", "ts": "2024-01-01T00:00:03"},
    ]
    p = tmp_path / "m.jsonl"
    p.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
    register_sources(spark)
    stream = (
        spark.readStream.format("mqtt-replay").option("path", str(p)).load()
    )
    from pyspark.sql import functions as F

    q = (
        stream.observe("probe", F.count(F.lit(1)).alias("rows"))
        .groupBy("broker")
        .count()
        .writeStream.format("memory")
        .queryName("rt_probe")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        text = render_runtime(spark, [q])
    finally:
        q.stop()
    assert "# TYPE jvm_memory_used_bytes gauge" in text
    assert "jvm_memory_max_bytes " in text
    assert "spark_default_parallelism " in text
    assert 'spark_streaming_batch_id{query="rt_probe"}' in text
    assert 'spark_streaming_processed_rows_per_second{query="rt_probe"}' in text
    # the groupBy is stateful: state-store rows must be visible (2 brokers)
    state_lines = [
        ln for ln in text.splitlines()
        if ln.startswith("spark_streaming_state_rows_total{")
    ]
    assert state_lines and any(
        float(ln.rsplit(" ", 1)[1]) >= 2 for ln in state_lines
    )
    # df.observe metrics from the last batch surface as labeled gauges
    obs_lines = [
        ln for ln in text.splitlines()
        if ln.startswith('spark_streaming_observed{query="rt_probe"')
        and 'observation="probe"' in ln and 'metric="rows"' in ln
    ]
    assert obs_lines, "observed metrics missing from runtime page"


def test_runtime_metrics_served_over_http(spark):
    """render_runtime composes into the /metrics page end to end."""
    import urllib.request

    from transitdata_monitor_data_collector_spark.serving import (
        MonitorHttpServer,
    )
    from transitdata_monitor_data_collector_spark.sinks.prometheus import (
        render_runtime,
    )
    from transitdata_monitor_data_collector_spark.streaming.health import (
        HealthStatus,
    )

    ok = HealthStatus(ok=True, http_status=200, detail="OK")
    srv = MonitorHttpServer(
        liveness=lambda: ok,
        readiness=lambda: ok,
        metrics_page=lambda: render_runtime(spark, []),
        port=0,
    ).start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics", timeout=10
        ).read().decode()
    finally:
        srv.close()
    assert "jvm_memory_used_bytes" in body
    assert "spark_active_jobs" in body


def test_runtime_renders_codegen_compilations(spark):
    """``spark_codegen_compilations_total`` is a counter that stays put
    while a query whose generated classes are cached runs again: a fresh
    build of the same plan generates the same source, a cache hit."""
    from transitdata_monitor_data_collector_spark.sinks.prometheus import (
        render_runtime,
    )

    def compilations() -> float:
        text = render_runtime(spark, [])
        assert "# TYPE spark_codegen_compilations_total counter" in text
        (line,) = [
            ln for ln in text.splitlines()
            if ln.startswith("spark_codegen_compilations_total ")
        ]
        return float(line.split()[1])

    def run() -> list:
        return (
            spark.range(1000)
            .selectExpr("id % 7 AS k", "id * 3 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .collect()
        )

    run()
    before = compilations()
    assert before >= 1
    run()
    assert compilations() == before
