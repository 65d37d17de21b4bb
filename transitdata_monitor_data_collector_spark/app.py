"""The composed collector application — the engine's ``Main``.

Wires config -> sources -> streaming jobs -> serving/sinks the way the
reference's entry points do (Main.java:30-65 for the exporter;
mqtt_data_collector.py:141-215 for the Python collector), but as one
Spark application:

- per-broker MQTT streams are unioned into one message stream
  (Main.java:76-85's listener-per-broker becomes ``unionByName``);
- the cumulative counter job (update mode) feeds the Prometheus
  ``/metrics`` text view (MetricsEndpoint.java:17-24);
- the windowed rate job feeds the Azure envelope sink per window
  (mqtt_data_collector.py:192-253);
- liveness/readiness wrap the StreamingQuery handles
  (HealthEndpoint.java:17-43).

Everything injectable: tests pass the replay source and a fake poster;
production passes ``format("mqtt")`` streams and a real HTTP client. The
app owns query lifecycle (start/stop), nothing else — each piece remains
usable on its own.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from transitdata_monitor_data_collector_spark.config import EngineConfig
from transitdata_monitor_data_collector_spark.sinks import prometheus
from transitdata_monitor_data_collector_spark.streaming import health, jobs

__all__ = ["CollectorApp"]


@dataclass
class CollectorApp:
    """One running collector: counter + rate jobs over a message stream.

    ``message_stream`` is the unioned multi-broker MQTT stream (or the
    replay source in tests). ``envelope_sink`` is called once per rate
    window micro-batch with the per-(broker, filter) rate DataFrame —
    wire ``AzureMonitorSink.for_each_batch`` here in production, or a
    list-appender in tests. ``None`` disables the sink job.
    """

    spark: SparkSession
    config: EngineConfig
    message_stream: DataFrame
    envelope_sink: object | None = None
    gtfsrt_fetcher: object | None = None
    _queries: list = field(default_factory=list)
    _ticker_queries: list = field(default_factory=list)
    _counter_view: str = ""
    _connection_view: str = ""
    _scrape_rows: list = field(default_factory=list)
    _checkpoints: list = field(default_factory=list)

    def start(self) -> "CollectorApp":
        # per-broker filter sets (Main.java:76-85): each message is matched
        # against its own broker's filters only — no cross-broker counting,
        # no double-count for filters shared by several brokers
        filters = {
            b.address: list(b.topic_filters) for b in self.config.mqtt_brokers
        }
        run_id = uuid.uuid4().hex[:8]

        # each stateful query starts at the engine's one state-width rule
        def start_query(writer):
            return jobs.start_stateful(
                self.spark, writer.option("checkpointLocation", self._checkpoint())
            )

        # counter job -> in-memory serving table for /metrics
        self._counter_view = f"mqtt_counters_{run_id}"
        counters = jobs.cumulative_counter_job(self.message_stream, filters)
        self._queries.append(
            start_query(
                counters.writeStream.format("memory")
                .queryName(self._counter_view)
                .outputMode("update")
            )
        )

        # connection-state job -> mqtt_connected gauge + connection_lost
        # counter per broker (MqttTopicMonitorListener.java:61-70,119-122)
        self._connection_view = f"mqtt_connection_{run_id}"
        conn = jobs.connection_state_job(self.message_stream)
        self._queries.append(
            start_query(
                conn.writeStream.format("memory")
                .queryName(self._connection_view)
                .outputMode("update")
            )
        )

        # rate job -> envelope sink (skipped when no sink is wired).
        # APPEND mode, not update: update would re-emit every in-progress
        # 60 s window per micro-batch with partial counts (rate =
        # n_so_far/60) — repeated under-reported posts per window, each
        # with a fresh time_str. Append + the job's 2-minute watermark
        # emits each window exactly once, finalized, matching the
        # reference's one-post-per-window cadence
        # (mqtt_data_collector.py:192-253).
        if self.envelope_sink is not None:
            rates = jobs.windowed_rate_job(self.message_stream, filters)
            self._queries.append(
                start_query(
                    rates.writeStream.foreachBatch(self.envelope_sink)
                    .outputMode("append")
                )
            )
        # GTFS-RT scrape schedule (GtfsRtMetricsExporter.java:37-42):
        # fixed-rate micro-batch trigger at config.gtfsrt_poll_interval_s
        if self.gtfsrt_fetcher is not None and self.config.gtfsrt_urls:
            from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
                classify_scrape,
            )

            urls = list(self.config.gtfsrt_urls)
            fetcher = self.gtfsrt_fetcher
            rows_out = self._scrape_rows

            def scrape_batch(batch_df, _batch_id) -> None:
                import time as _time

                if batch_df.isEmpty():
                    return
                now = int(_time.time())
                rows_out.extend(classify_scrape(u, fetcher, now) for u in urls)
                # bounded history: keep the most recent scrape outcomes
                # only — a long-running app must not grow driver memory
                # (the reference's registry is similarly last-state-only)
                if len(rows_out) > 10_000:
                    del rows_out[: len(rows_out) - 10_000]

            ticker = (
                self.spark.readStream.format("rate")
                .option("rowsPerSecond", 1)
                .load()
            )
            secs = max(1, int(self.config.gtfsrt_poll_interval_s))
            # tracked separately: a rate ticker never drains, so it must
            # not participate in process_available()'s processAllAvailable
            self._ticker_queries.append(
                ticker.writeStream.trigger(processingTime=f"{secs} seconds")
                .option("checkpointLocation", self._checkpoint())
                .foreachBatch(scrape_batch)
                .start()
            )
        return self

    def _checkpoint(self) -> str:
        """A fresh per-query checkpoint dir, removed by :meth:`stop`."""
        path = tempfile.mkdtemp(prefix="ckpt_app_")
        self._checkpoints.append(path)
        return path

    # -- serving surface ---------------------------------------------------

    def scrape_table(self) -> DataFrame:
        """All scrape outcomes so far (driver-accumulated: the URL list is
        a handful of feeds — GtfsRtMetricsExporter polls each on a fixed
        schedule; this is deliberately driver-side state like the
        reference's in-memory registry)."""
        from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
            SCRAPE_SCHEMA,
        )

        return self.spark.createDataFrame(self._scrape_rows, SCRAPE_SCHEMA)

    def counter_table(self) -> DataFrame:
        """Latest counter state per (broker, topic_filter): update mode
        emits one row per key per micro-batch, so serve the max (the
        counter is monotonic)."""
        from pyspark.sql import functions as F

        return (
            self.spark.table(self._counter_view)
            .groupBy("broker", "topic_filter")
            .agg(F.max("messages_received_total").alias("messages_received_total"))
        )

    def connection_table(self) -> DataFrame:
        """Latest connection state per broker: update mode re-emits a row
        per micro-batch, so serve the latest by event time (the
        connection_lost counter is monotonic, the gauge travels with its
        timestamp)."""
        from pyspark.sql import functions as F

        t = self.spark.table(self._connection_view)
        latest = F.max(
            F.struct("last_event_ts", "connected", "connection_lost_total")
        )
        return t.groupBy("broker").agg(
            latest.getField("connected").alias("connected"),
            F.max("connection_lost_total").alias("connection_lost_total"),
        )

    def metrics_page(self) -> str:
        """Prometheus text exposition of every meter the reference exports
        (MetricsEndpoint.java:17-24; GtfsRtMetricsRegistry.java:25-66;
        MqttTopicMonitorListener.java:61-70 for the connection meters)."""
        sections = {
            "mqtt_messages_received_total": prometheus.render_counter(
                "mqtt_messages_received_total",
                self.counter_table(),
                value_col="messages_received_total",
                label_cols=["broker", "topic_filter"],
                help_text="Messages received per broker and topic filter",
            ),
            "mqtt_connected": prometheus.render_gauge(
                "mqtt_connected",
                self.connection_table(),
                value_col="connected",
                label_cols=["broker"],
                help_text="MQTT connection status (1 = connected, "
                "0 = disconnected)",
            ),
            "mqtt_connection_lost": prometheus.render_counter(
                "mqtt_connection_lost",
                self.connection_table(),
                value_col="connection_lost_total",
                label_cols=["broker"],
                help_text="MQTT connection lost",
            ),
        }
        if self._scrape_rows:
            from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
                scrape_metrics,
            )

            meters = scrape_metrics(self.scrape_table())
            sections["gtfsrt_entity_count"] = prometheus.render_summary(
                "gtfsrt_entity_count",
                meters["gtfsrt_summaries"],
                count_col="entity_count_count",
                sum_col="entity_count_sum",
                max_col="entity_count_max",
                label_cols=["url"],
                help_text="Feed entity count per scrape",
            )
            sections["gtfsrt_scrape_attempts_total"] = prometheus.render_counter(
                "gtfsrt_scrape_attempts_total",
                meters["gtfsrt_scrape_attempts_total"],
                value_col="attempts_total",
                label_cols=["url", "result"],
                help_text="Scrape attempts per url and result",
            )
            sections["gtfsrt_last_scrape_success"] = prometheus.render_gauge(
                "gtfsrt_last_scrape_success",
                meters["gtfsrt_last_scrape_success"],
                value_col="last_scrape_success",
                label_cols=["url"],
                help_text="1 if the most recent scrape succeeded",
            )
        return prometheus.render_page(sections)

    def liveness(self) -> health.HealthStatus:
        return health.liveness()

    def readiness(self) -> health.HealthStatus:
        return health.readiness(self._queries + self._ticker_queries)

    # -- lifecycle ---------------------------------------------------------

    def process_available(self) -> None:
        """Drain everything currently available (test/replay path)."""
        for q in self._queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self._queries + self._ticker_queries:
            q.stop()
        self._queries.clear()
        self._ticker_queries.clear()
        # every query is stopped: its checkpoint is never read again
        for path in self._checkpoints:
            shutil.rmtree(path, ignore_errors=True)
        self._checkpoints.clear()


def build_broker_streams(
    spark: SparkSession,
    config: EngineConfig,
    source_format: str = "mqtt",
    extra_options: dict | None = None,
) -> DataFrame:
    """Config-driven multi-broker fan-in (Main.java:76-85: one listener
    per broker, merged). One streaming reader per configured broker —
    each with ITS OWN topic filters pushed into SUBSCRIBE and the
    config's qos/keep-alive — unioned by name into the single message
    stream ``CollectorApp`` consumes. Pass ``source_format="mqtt-replay"``
    plus a per-test path option for deterministic runs."""
    import json as _json

    from transitdata_monitor_data_collector_spark.sources.mqtt import (
        register_sources,
    )

    if not config.mqtt_brokers:
        raise ValueError("config has no mqtt brokers")
    register_sources(spark)
    streams = []
    for broker in config.mqtt_brokers:
        reader = (
            spark.readStream.format(source_format)
            .option("broker", broker.address)
            .option("topicFilters", _json.dumps(list(broker.topic_filters)))
            .option("qos", str(config.mqtt_qos))
            .option("keepAlive", str(int(config.mqtt_keep_alive_interval_s)))
        )
        for k, v in (extra_options or {}).items():
            reader = reader.option(k, v)
        streams.append(reader.load())
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def mqtt_azure_envelope_sink(azure_sink, metric: str = "MQTT Message Rate"):
    """Adapt ``AzureMonitorSink`` to the windowed-rate job's output: derive
    the reference's dimension key (``{addr}:{name}:{port}`` becomes
    ``broker:topic_filter`` here, mqtt_data_collector.py:196-198; ``#``/
    ``+`` sanitization happens inside the sink's series builder,
    :299-302) and delegate each micro-batch to the sink's envelope+retry
    path. Wire the result as ``CollectorApp(envelope_sink=...)``."""
    from pyspark.sql import functions as F

    inner = azure_sink.for_each_batch(
        metric=metric,
        namespace="MQTT",
        dim_names=["Topic"],
        key_col="series_key",
        value_col="rate_msg_s",
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        inner(
            batch_df.withColumn(
                "series_key", F.concat_ws(":", "broker", "topic_filter")
            ),
            batch_id,
        )

    return fn
