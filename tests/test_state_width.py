"""One state-width rule for every stateful query the engine starts:
min(session spark.sql.shuffle.partitions, STATE_WIDTH), set only while the
query starts — the session's own width never changes under a running
query, so sink jobs and concurrent reads keep it."""

from __future__ import annotations

import json
import threading
import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from transitdata_monitor_data_collector_spark.app import CollectorApp
from transitdata_monitor_data_collector_spark.config import EngineConfig
from transitdata_monitor_data_collector_spark.sinks import parquet
from transitdata_monitor_data_collector_spark.streaming import jobs

WIDTH_KEY = "spark.sql.shuffle.partitions"
BROKER = "tcp://mqtt.hsl.fi:1883"
FILTERS = ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/#"]
CONFIG = EngineConfig.from_mapping(
    {
        "port": 8080,
        "gtfsrt.urls": [],
        "gtfsrt.pollInterval": "PT30S",
        "gtfsrt.clientTimeout": "PT5S",
        "mqtt.clientId": "test-state-width",
        "mqtt.connectionTimeout": "PT15S",
        "mqtt.keepAliveInterval": "PT20S",
        "mqtt.qos": 0,
        "mqtt.brokers": [{"address": BROKER, "topicFilters": FILTERS}],
    }
)


class _ProgressLog(StreamingQueryListener):
    """Progress events of the queries started while the listener is on."""

    def __init__(self):
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        with self._lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def wait(self, timeout: float = 60.0) -> list[dict]:
        """Every progress event of the started queries, once all of them
        have reported termination (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.started and self.started <= self.terminated:
                    break
            time.sleep(0.05)
        with self._lock:
            return [e for e in self.events if e["id"] in self.started]


@pytest.fixture()
def replay_stream(spark, tmp_path):
    path = tmp_path / "messages.jsonl"
    rows = [
        {
            "broker": BROKER,
            "topic": "/hfp/v2/journey/ongoing/vp/bus",
            "ts": f"2024-01-01T00:{i // 60:02d}:{i % 60:02d}",
        }
        for i in range(0, 240, 4)
    ]
    path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    from transitdata_monitor_data_collector_spark.sources.mqtt import (
        register_sources,
    )

    register_sources(spark)
    return (
        spark.readStream.format("mqtt-replay")
        .option("path", str(path))
        .option("rowsPerBatch", "20")
        .load()
    )


# Each runner drives one engine entry point over the replay stream and
# returns the session width read from inside its foreachBatch sink (None
# for the memory sink, which has no foreachBatch).


def _run_to_memory(spark, stream, tmp_path, monkeypatch):
    jobs.run_to_memory(
        spark, jobs.cumulative_counter_job(stream, FILTERS), output_mode="update"
    )
    return None


def _merge_job(spark, stream, tmp_path, monkeypatch):
    seen = []
    merge_upsert = parquet.merge_upsert

    def spy(*args, **kwargs):
        seen.append(spark.conf.get(WIDTH_KEY))
        return merge_upsert(*args, **kwargs)

    monkeypatch.setattr(parquet, "merge_upsert", spy)
    jobs.stream_merge_counter_job(
        spark, stream, str(tmp_path / "counters"), FILTERS
    )
    return seen


def _collector_app(spark, stream, tmp_path, monkeypatch):
    seen = []

    def envelope_sink(batch_df, _batch_id):
        seen.append(spark.conf.get(WIDTH_KEY))
        batch_df.collect()

    app = CollectorApp(spark, CONFIG, stream, envelope_sink=envelope_sink).start()
    try:
        app.process_available()
    finally:
        app.stop()
    return seen


@pytest.mark.parametrize("width", [2, 8])
@pytest.mark.parametrize(
    "run",
    [_run_to_memory, _merge_job, _collector_app],
    ids=["run_to_memory", "stream_merge_counter_job", "CollectorApp"],
)
def test_state_width_rule(spark, replay_stream, tmp_path, monkeypatch, run, width):
    prev = spark.conf.get(WIDTH_KEY)
    spark.conf.set(WIDTH_KEY, str(width))
    log = _ProgressLog()
    spark.streams.addListener(log)
    try:
        sink_widths = run(spark, replay_stream, tmp_path, monkeypatch)
        events = log.wait()
        after = spark.conf.get(WIDTH_KEY)
    finally:
        spark.streams.removeListener(log)
        spark.conf.set(WIDTH_KEY, prev)

    stateful = [e for e in events if e["stateOperators"]]
    # every query started is stateful and reported its state stores
    assert {e["id"] for e in stateful} == log.started
    instances = {
        op["numStateStoreInstances"]
        for e in stateful
        for op in e["stateOperators"]
    }
    assert instances == {min(width, jobs.STATE_WIDTH)}
    # the session's own width is untouched during and after the run
    assert after == str(width)
    if sink_widths is not None:
        assert sink_widths and set(sink_widths) == {str(width)}


def test_concurrent_starts_restore_the_session_width(spark):
    """Starts from several threads never leave the session pinned."""
    import sys

    seen = []

    class _Writer:  # stands in for a DataStreamWriter: records the width
        def start(self):
            seen.append(spark.conf.get(WIDTH_KEY))
            time.sleep(0.01)

    prev = spark.conf.get(WIDTH_KEY)
    interval = sys.getswitchinterval()
    spark.conf.set(WIDTH_KEY, "8")
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(
                target=lambda: [
                    jobs.start_stateful(spark, _Writer()) for _ in range(5)
                ]
            )
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        after = spark.conf.get(WIDTH_KEY)
    finally:
        sys.setswitchinterval(interval)
        spark.conf.set(WIDTH_KEY, prev)
    assert len(seen) == 80 and set(seen) == {str(jobs.STATE_WIDTH)}
    assert after == "8"
