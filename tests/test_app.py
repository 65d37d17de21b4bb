"""The composed collector app: replay stream in, counters + envelopes out."""

from __future__ import annotations

import json

import pytest

from transitdata_monitor_data_collector_spark.app import CollectorApp
from transitdata_monitor_data_collector_spark.config import EngineConfig


CONFIG = EngineConfig.from_mapping(
    {
        "port": 8080,
        "gtfsrt.urls": ["http://feed.example/gtfsrt"],
        "gtfsrt.pollInterval": "PT30S",
        "gtfsrt.clientTimeout": "PT5S",
        "mqtt.clientId": "test-app",
        "mqtt.connectionTimeout": "PT15S",
        "mqtt.keepAliveInterval": "PT20S",
        "mqtt.qos": 0,
        "mqtt.brokers": [
            {
                "address": "tcp://mqtt.hsl.fi:1883",
                "topicFilters": ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/#"],
            }
        ],
    }
)


@pytest.fixture()
def replay_stream(spark, tmp_path):
    path = tmp_path / "messages.jsonl"
    rows = []
    for i in range(60):
        rows.append(
            {
                "broker": "tcp://mqtt.hsl.fi:1883",
                "topic": "/hfp/v2/journey/ongoing/vp/bus",
                "ts": f"2024-01-01T00:00:{i:02d}",
            }
        )
    rows.append(
        {
            "broker": "tcp://mqtt.hsl.fi:1883",
            "topic": "/unrelated/topic",
            "ts": "2024-01-01T00:00:30",
        }
    )
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

    register_sources(spark)
    return spark.readStream.format("mqtt-replay").option("path", str(path)).load()


def test_app_counters_and_metrics_page(spark, replay_stream):
    app = CollectorApp(spark, CONFIG, replay_stream).start()
    try:
        app.process_available()
        counts = {
            (r["broker"], r["topic_filter"]): r["messages_received_total"]
            for r in app.counter_table().collect()
        }
        key = ("tcp://mqtt.hsl.fi:1883", "/hfp/v2/journey/#")
        assert counts[key] == 60
        # fan-out: same messages also count toward the second filter
        assert counts[("tcp://mqtt.hsl.fi:1883", "/hfp/v2/journey/ongoing/+/#")] == 60
        assert counts[("tcp://mqtt.hsl.fi:1883", "unknown")] == 1
        page = app.metrics_page()
        assert "# TYPE mqtt_messages_received_total counter" in page
        assert 'topic_filter="/hfp/v2/journey/#"' in page
        assert app.liveness().ok
        assert app.readiness().ok
    finally:
        app.stop()


@pytest.fixture()
def replay_stream_batched(spark, tmp_path):
    """Multi-batch replay (rowsPerBatch) with tail sentinels past the
    rate job's 2-minute watermark, so append-mode windows FINALIZE: the
    00:00 window's 60 messages, then sentinels at 00:05 / 00:10 that
    advance the watermark across batches."""
    path = tmp_path / "messages_tail.jsonl"
    rows = []
    for i in range(60):
        rows.append(
            {
                "broker": "tcp://mqtt.hsl.fi:1883",
                "topic": "/hfp/v2/journey/ongoing/vp/bus",
                "ts": f"2024-01-01T00:00:{i:02d}",
            }
        )
    for m in (5, 10):
        rows.append(
            {
                "broker": "tcp://mqtt.hsl.fi:1883",
                "topic": "/hfp/v2/journey/ongoing/vp/bus",
                "ts": f"2024-01-01T00:{m:02d}:00",
            }
        )
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

    register_sources(spark)
    return (
        spark.readStream.format("mqtt-replay")
        .option("path", str(path))
        .option("rowsPerBatch", "30")
        .load()
    )


def test_app_envelope_sink_emits_finalized_windows_once(
    spark, replay_stream_batched
):
    """The ADVICE regression: update mode re-emitted in-progress windows
    with partial counts. Append mode must emit each finalized window
    EXACTLY once, with the complete count."""
    batches = []

    def sink(batch_df, _batch_id):
        batches.extend(batch_df.collect())

    app = CollectorApp(
        spark, CONFIG, replay_stream_batched, envelope_sink=sink
    ).start()
    try:
        app.process_available()
        rated = [r for r in batches if r["topic_filter"] == "/hfp/v2/journey/#"]
        assert rated
        seen = {}
        for r in rated:
            key = r["window_start"]
            assert key not in seen, f"window {key} emitted more than once"
            seen[key] = r
        import datetime

        w0 = seen[datetime.datetime(2024, 1, 1, 0, 0)]
        assert w0["n"] == 60  # finalized count, never a partial
        assert round(w0["rate_msg_s"], 6) == 1.0
        # the 00:10 window is still open (watermark) -> must NOT be posted
        assert datetime.datetime(2024, 1, 1, 0, 10) not in seen
    finally:
        app.stop()


def test_app_gtfsrt_scrapes_into_metrics_page(spark, replay_stream):
    import dataclasses

    from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
        encode_feed_message,
    )

    def fetcher(url):
        body = encode_feed_message("2.0", 1700000000, entity_ids=["a", "b", "c"])
        return 200, body

    fast = dataclasses.replace(
        CONFIG, gtfsrt_poll_interval_s=2.0, gtfsrt_client_timeout_s=1.0
    )
    app = CollectorApp(
        spark, fast, replay_stream, gtfsrt_fetcher=fetcher
    ).start()
    try:
        app.process_available()
        import time

        deadline = time.time() + 30
        while not app._scrape_rows and time.time() < deadline:
            time.sleep(0.5)
        assert app._scrape_rows, "no scrape fired within 30s"
        page = app.metrics_page()
        assert "gtfsrt_entity_count_count" in page
        assert 'gtfsrt_scrape_attempts_total{url="http://feed.example/gtfsrt",result="success"}' in page
        assert 'gtfsrt_last_scrape_success{url="http://feed.example/gtfsrt"} 1' in page
    finally:
        app.stop()


def test_build_broker_streams_unions_replay(spark, tmp_path):
    import dataclasses
    import json as _json

    from transitdata_monitor_data_collector_spark.app import build_broker_streams
    from transitdata_monitor_data_collector_spark.config import MqttBrokerConfig

    path = tmp_path / "replay.jsonl"
    path.write_text(
        "\n".join(
            _json.dumps(
                {"broker": b, "topic": "/hfp/v2/journey/x", "ts": "2024-01-01T00:00:00"}
            )
            for b in ["tcp://a:1883", "tcp://b:1883"]
        )
        + "\n"
    )
    two_brokers = dataclasses.replace(
        CONFIG,
        mqtt_brokers=(
            MqttBrokerConfig("tcp://a:1883", ("/hfp/v2/journey/#",)),
            MqttBrokerConfig("tcp://b:1883", ("/hfp/v2/journey/#",)),
        ),
    )
    stream = build_broker_streams(
        spark, two_brokers, source_format="mqtt-replay",
        extra_options={"path": str(path)},
    )
    assert stream.isStreaming
    app = CollectorApp(spark, two_brokers, stream).start()
    try:
        app.process_available()
        counts = {
            (r["broker"], r["topic_filter"]): r["messages_received_total"]
            for r in app.counter_table().collect()
        }
        # each broker's reader replays the file; rows keep their broker col
        assert counts[("tcp://a:1883", "/hfp/v2/journey/#")] == 2
        assert counts[("tcp://b:1883", "/hfp/v2/journey/#")] == 2
    finally:
        app.stop()


def test_app_full_azure_pipeline(spark, replay_stream_batched, tmp_path):
    import json as _json

    from transitdata_monitor_data_collector_spark.app import (
        mqtt_azure_envelope_sink,
    )
    from transitdata_monitor_data_collector_spark.sinks.azure import (
        AzureMonitorSink,
        TokenCache,
    )

    posts = []

    def poster(body, token):
        posts.append((body, token))
        return 200, "{}"

    cache = TokenCache(
        path=str(tmp_path / "tok"), initial_token="tok-1", refresh=lambda: "tok-1"
    )
    cache.ensure_exists()
    sink = AzureMonitorSink(post=poster, tokens=cache)
    app = CollectorApp(
        spark, CONFIG, replay_stream_batched,
        envelope_sink=mqtt_azure_envelope_sink(sink),
    ).start()
    try:
        app.process_available()
        assert posts, "no envelope reached the Azure poster"
        env = _json.loads(posts[-1][0])
        base = env["data"]["baseData"]
        assert base["metric"] == "MQTT Message Rate"
        assert base["namespace"] == "MQTT"
        assert base["dimNames"] == ["Topic"]
        keys = {s["dimValues"][0] for s in base["series"]}
        # sanitized: '#' -> '*', '+' -> '^' (mqtt_data_collector.py:299-302)
        assert "tcp://mqtt.hsl.fi:1883:/hfp/v2/journey/*" in keys
        assert "tcp://mqtt.hsl.fi:1883:/hfp/v2/journey/ongoing/^/*" in keys
    finally:
        app.stop()


@pytest.fixture()
def replay_with_connection_events(spark, tmp_path):
    """Message stream interleaved with $connection meta-events: connect,
    20 messages, an unexpected drop, reconnect, 10 messages."""
    path = tmp_path / "conn.jsonl"
    broker = "tcp://mqtt.hsl.fi:1883"
    rows = [
        {"broker": broker, "topic": "$connection", "payload": "connect",
         "ts": "2024-01-01T00:00:00"},
    ]
    for i in range(20):
        rows.append({"broker": broker, "topic": "/hfp/v2/journey/ongoing/vp/bus",
                     "ts": f"2024-01-01T00:00:{i + 1:02d}"})
    rows.append({"broker": broker, "topic": "$connection",
                 "payload": "connection_lost", "ts": "2024-01-01T00:00:30"})
    rows.append({"broker": broker, "topic": "$connection", "payload": "connect",
                 "ts": "2024-01-01T00:01:00"})
    for i in range(10):
        rows.append({"broker": broker, "topic": "/hfp/v2/journey/ongoing/vp/bus",
                     "ts": f"2024-01-01T00:01:{i + 1:02d}"})
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

    register_sources(spark)
    return spark.readStream.format("mqtt-replay").option("path", str(path)).load()


def test_app_connection_meters(spark, replay_with_connection_events):
    """mqtt_connected gauge + mqtt_connection_lost counter end-to-end
    (MqttTopicMonitorListener.java:61-70,119-122)."""
    app = CollectorApp(spark, CONFIG, replay_with_connection_events).start()
    try:
        app.process_available()
        conn = {r["broker"]: r for r in app.connection_table().collect()}
        state = conn["tcp://mqtt.hsl.fi:1883"]
        assert state["connected"] == 1  # reconnected after the drop
        assert state["connection_lost_total"] == 1
        # counters must NOT have counted the $connection meta-events
        counts = {
            (r["broker"], r["topic_filter"]): r["messages_received_total"]
            for r in app.counter_table().collect()
        }
        assert counts[("tcp://mqtt.hsl.fi:1883", "/hfp/v2/journey/#")] == 30
        assert ("tcp://mqtt.hsl.fi:1883", "unknown") not in counts
        page = app.metrics_page()
        assert "# TYPE mqtt_connected gauge" in page
        assert 'mqtt_connected{broker="tcp://mqtt.hsl.fi:1883"} 1' in page
        assert "# TYPE mqtt_connection_lost counter" in page
        assert 'mqtt_connection_lost{broker="tcp://mqtt.hsl.fi:1883"} 1' in page
    finally:
        app.stop()


def test_connection_spans_feed_disconnect_correction(
    spark, replay_with_connection_events
):
    """A2's started_at/stopped_at inputs derived from REAL connection
    events (mqtt_data_collector.py:99-134): after a reconnect the span
    restarts and stopped_at is NULL again."""
    from pyspark.sql import functions as F

    from transitdata_monitor_data_collector_spark.functions.rates import (
        corrected_msg_rate,
    )
    from transitdata_monitor_data_collector_spark.streaming.jobs import (
        connection_spans,
        run_to_memory,
    )

    spans = run_to_memory(
        spark,
        connection_spans(replay_with_connection_events),
        output_mode="complete",
    )
    row = spans.collect()[0]
    # latest connect is 00:01:00; the 00:00:30 drop precedes it -> NULL
    assert row["stopped_at"] is None
    import datetime

    started = datetime.datetime(2024, 1, 1, 0, 1, 0, tzinfo=datetime.timezone.utc)
    assert row["started_at"] == started.timestamp()

    # feed the A2 correction: still-connected path divides by now - started
    now_s = started.timestamp() + 100.0
    rate = (
        spans.select(
            corrected_msg_rate(
                F.lit(10).cast("long"),
                F.col("started_at"),
                F.col("stopped_at"),
                F.lit(now_s),
                keep_alive_secs=20.0,
            ).alias("rate")
        )
        .collect()[0]["rate"]
    )
    assert rate == pytest.approx(10 / 100.0)


def test_ephemeral_checkpoints_are_removed(spark, replay_stream):
    """run_to_memory and a CollectorApp start/stop leave no checkpoint
    dir behind in either checkpoint base."""
    import os
    import tempfile

    from transitdata_monitor_data_collector_spark.streaming.jobs import run_to_memory

    bases = [b for b in ("/dev/shm", tempfile.gettempdir()) if os.path.isdir(b)]

    def checkpoints():
        return {b: sum(e.startswith("ckpt_") for e in os.listdir(b)) for b in bases}

    before = checkpoints()
    assert run_to_memory(spark, replay_stream).count() == 61
    app = CollectorApp(spark, CONFIG, replay_stream).start()
    try:
        app.process_available()
    finally:
        app.stop()
    assert checkpoints() == before


def test_scrape_stream_and_store_bench_leave_tmpdir_unchanged(spark):
    """A scheduled_scrape_stream started without a checkpoint_dir and
    stopped, and a small measure_store_to_serving, add no entry to
    TMPDIR."""
    import os
    import tempfile

    from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
        encode_feed_message,
        scheduled_scrape_stream,
    )
    from transitdata_monitor_data_collector_spark.streaming.ingest_bench import (
        measure_store_to_serving,
    )

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    q = scheduled_scrape_stream(
        spark,
        ["https://a/feed"],
        lambda url: (200, encode_feed_message("2.0", 0, ["e"])),
        poll_interval="1 seconds",
    )
    q.stop()
    assert not q.isActive
    out = measure_store_to_serving(spark, n_msgs=2_000, rows_per_batch=1_000)
    assert out["conserved"], out
    assert sorted(set(os.listdir(tmp)) - before) == []
