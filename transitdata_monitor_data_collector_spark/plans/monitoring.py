"""Monitoring-domain operator surface (SURVEY.md §2.1-2.7, §3).

These queries reproduce the reference's actual computations — per-filter
message rates with wildcard fan-out, cumulative counters, PromQL-style
``rate()``, gauges, distribution summaries, scrape-outcome classification —
over the driver-generated ``events`` table. An MQTT message stream is
synthesized from ``events`` with a dialect-shared SQL fragment (identical
text runs in Spark SQL and DuckDB), so every query is oracle-checkable.

Scale notes: the fan-out is a codegen'd literal-regex projection (no join,
no shuffle); all aggregates are keyed by (broker, topic_filter, window) —
naturally partitionable; the only shuffles are the final groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
    filter_to_regex,
    with_topic_filter_fanout,
)
from transitdata_monitor_data_collector_spark.plans import register, table

# The 9 dashboard topic filters (grafana/mqtt-dashboard.json:92-820).
DASHBOARD_FILTERS = [
    "/hfp/v2/journey/ongoing/apc/#",
    "/hfp/v2/journey/#",
    "/hfp/v2/journey/ongoing/+/+/+/+/7280/#",
    "/hfp/v2/journey/ongoing/+/ferry/#",
    "/hfp/v2/journey/ongoing/+/metro/#",
    "gtfsrt/v2/fi/hsl/tu",
    "gtfsrt/dev/fi/hsl/sa",
    "gtfsrt/dev/fi/hsl/tu",
    "gtfsrt/dev/fi/hsl/vp/#",
]

# Dialect-shared SQL (valid in Spark SQL AND DuckDB): synthesize an MQTT
# message stream from the events table. Topic shapes mirror the real HFP /
# GTFS-RT vocabulary (FIXTURES.md §1).
TOPIC_SQL = """CASE
  WHEN event_type = 'purchase' AND user_id % 7 = 0 THEN 'gtfsrt/v2/fi/hsl/tu'
  WHEN event_type = 'purchase' AND user_id % 7 = 1 THEN 'gtfsrt/dev/fi/hsl/sa'
  WHEN event_type = 'purchase' AND user_id % 7 = 2
       THEN concat('gtfsrt/dev/fi/hsl/vp/', CAST(user_id AS STRING))
  WHEN event_type = 'purchase' THEN concat('ext/telemetry/', CAST(user_id AS STRING))
  ELSE concat('/hfp/v2/journey/ongoing/',
              CASE WHEN event_type = 'error' THEN 'apc' ELSE 'vp' END, '/',
              CASE WHEN event_type = 'click' THEN 'bus'
                   WHEN event_type = 'view' THEN 'ferry'
                   WHEN event_type = 'signup' THEN 'metro'
                   ELSE 'bus' END, '/',
              CAST(user_id AS STRING), '/',
              CAST(event_id % 100 AS STRING), '/',
              CASE WHEN user_id % 13 = 0 THEN '7280'
                   ELSE CAST(user_id % 97 AS STRING) END,
              '/extra')
END"""

BROKER_SQL = """CASE WHEN user_id % 3 = 0 THEN 'tcp://mqtt.hsl.fi:1883'
     ELSE 'wss://mqtt-dev.hsl.fi:443' END"""

# DuckDB-side messages CTE (same fragment, same aliases).
_MSGS_CTE = f"""msgs AS (
  SELECT {BROKER_SQL} AS broker, {TOPIC_SQL} AS topic, ts, event_id
  FROM events
)"""

# DuckDB-side fan-out with unknown bucket: LEFT JOIN against the compiled
# regex registry; multi-match fan-out falls out of the join.
_FILTER_VALUES = ",\n    ".join(
    f"('{f}', '{filter_to_regex(f)}')" for f in DASHBOARD_FILTERS
)
_FANOUT_CTE = f"""filters(topic_filter, rx) AS (VALUES
    {_FILTER_VALUES}
),
fanned AS (
  SELECT m.broker, m.ts,
         coalesce(f.topic_filter, 'unknown') AS topic_filter
  FROM msgs m LEFT JOIN filters f
    ON regexp_matches(regexp_replace(m.topic, '/+$', ''), f.rx)
)"""


def messages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized MQTT message stream as a DataFrame.

    The events scan is spread across cores before the per-row regex
    fan-out — a single-split local file would otherwise run the 9-pattern
    match single-threaded (no-op on multi-split inputs)."""
    from transitdata_monitor_data_collector_spark.partitioning import (
        spread_small_input,
    )

    return spread_small_input(table(spark, sf_dir, "events"), "event_id").select(
        F.expr(BROKER_SQL).alias("broker"),
        F.expr(TOPIC_SQL).alias("topic"),
        "ts",
        "event_id",
    )


def fanned_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_topic_filter_fanout(messages_df(spark, sf_dir), DASHBOARD_FILTERS)


# ---------------------------------------------------------------------------
# A1+A2+P7+J3 — THE flagship: per-(broker, filter) message rate over 60 s
# tumbling windows with wildcard fan-out and unknown bucket.
# ---------------------------------------------------------------------------


@register(
    "mqtt_fanout_window_rate",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE}
    SELECT time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           broker, topic_filter, count(*) AS n,
           round(count(*) / 60.0, 6) AS rate_msg_s
    FROM fanned
    GROUP BY 1, 2, 3
    ORDER BY window_start, broker, topic_filter
    """,
    doc="SURVEY §2.4 A1/A2 + §2.2 P7 + §2.5 J3: 60 s tumbling count -> rate per "
    "(broker, topic_filter) with multi-filter fan-out and unknown bucket "
    "(mqtt_data_collector.py:95-134,176-215; MqttTopicMonitorListener.java:125-135).",
    tags=("monitoring", "flagship"),
)
def mqtt_fanout_window_rate(spark, sf_dir):
    fanned = fanned_df(spark, sf_dir)
    return (
        fanned.groupBy(
            F.window("ts", "60 seconds").start.alias("window_start"),
            "broker",
            "topic_filter",
        )
        .agg(F.count("*").alias("n"))
        .withColumn("rate_msg_s", F.round(F.col("n") / 60.0, 6))
        .orderBy("window_start", "broker", "topic_filter")
    )


@register(
    "mqtt_counter_totals",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE}
    SELECT broker, topic_filter, count(*) AS messages_received_total
    FROM fanned GROUP BY 1, 2 ORDER BY broker, topic_filter
    """,
    doc="A3 cumulative counter per (broker, topic_filter) "
    "(mqtt_messages_received_total, MqttTopicMonitorListener.java:73-92).",
    tags=("monitoring",),
)
def mqtt_counter_totals(spark, sf_dir):
    return (
        fanned_df(spark, sf_dir)
        .groupBy("broker", "topic_filter")
        .agg(F.count("*").alias("messages_received_total"))
        .orderBy("broker", "topic_filter")
    )


@register(
    "mqtt_unknown_share",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE}
    SELECT broker,
           CAST(sum(CASE WHEN topic_filter = 'unknown' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unknown,
           count(*) AS n_total,
           round(sum(CASE WHEN topic_filter = 'unknown' THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS unknown_share
    FROM fanned GROUP BY broker ORDER BY broker
    """,
    doc="J4 unknown-bucket accounting (MqttTopicMonitorListener.java:126-129).",
    tags=("monitoring",),
)
def mqtt_unknown_share(spark, sf_dir):
    unknown = F.when(F.col("topic_filter") == "unknown", 1).otherwise(0)
    return (
        fanned_df(spark, sf_dir)
        .groupBy("broker")
        .agg(
            F.sum(unknown).alias("n_unknown"),
            F.count("*").alias("n_total"),
            F.round(F.sum(unknown) / F.count("*").cast("double"), 6).alias(
                "unknown_share"
            ),
        )
        .orderBy("broker")
    )


@register(
    "grafana_panel_hfp_journey",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE}
    SELECT time_bucket(INTERVAL '60 seconds', ts) AS window_start,
           broker, count(*) AS n
    FROM fanned
    WHERE regexp_matches(broker, '.*mqtt\\.hsl\\.fi.*')
      AND topic_filter = '/hfp/v2/journey/#'
    GROUP BY 1, 2 ORDER BY window_start, broker
    """,
    doc="P6 regex label selector + exact filter selector — the Grafana panel "
    "series select (grafana/mqtt-dashboard.json:183).",
    tags=("monitoring",),
)
def grafana_panel_hfp_journey(spark, sf_dir):
    fanned = fanned_df(spark, sf_dir).filter(
        F.col("broker").rlike(".*mqtt\\.hsl\\.fi.*")
        & (F.col("topic_filter") == "/hfp/v2/journey/#")
    )
    return (
        fanned.groupBy(
            F.window("ts", "60 seconds").start.alias("window_start"), "broker"
        )
        .agg(F.count("*").alias("n"))
        .orderBy("window_start", "broker")
    )


# All 9 dashboard panels: (panel_id, broker regex, topic_filter selector)
# in dashboard order (grafana/mqtt-dashboard.json:92,183,274,365,456,547,
# 638,729,820). Brokers absent from the synthetic stream yield empty
# series, exactly as the live dashboard renders them.
DASHBOARD_PANELS = [
    (1, ".*hsl-mqtt-lab-d.*", "/hfp/v2/journey/ongoing/apc/#"),
    (2, ".*mqtt\\.hsl\\.fi.*", "/hfp/v2/journey/#"),
    (3, ".*mqtt\\.hsl\\.fi.*", "/hfp/v2/journey/ongoing/+/+/+/+/7280/#"),
    (4, ".*mqtt\\.hsl\\.fi.*", "/hfp/v2/journey/ongoing/+/ferry/#"),
    (5, ".*mqtt\\.hsl\\.fi.*", "/hfp/v2/journey/ongoing/+/metro/#"),
    (6, ".*pred\\.rt\\.hsl\\.fi.*", "gtfsrt/v2/fi/hsl/tu"),
    (7, ".*test91\\.rt\\.hsl\\.fi.*", "gtfsrt/dev/fi/hsl/sa"),
    (8, ".*test91\\.rt\\.hsl\\.fi.*", "gtfsrt/dev/fi/hsl/tu"),
    (9, ".*transitdata-dev-mqtt-broker.*", "gtfsrt/dev/fi/hsl/vp/#"),
]

_PANEL_VALUES = ",\n    ".join(
    f"({pid}, '{re}', '{tf}')" for pid, re, tf in DASHBOARD_PANELS
)


@register(
    "grafana_dashboard_all_panels",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE},
    rates AS (
      SELECT time_bucket(INTERVAL '60 seconds', ts) AS window_start,
             broker, topic_filter, count(*) AS n
      FROM fanned GROUP BY 1, 2, 3
    ),
    panels(panel_id, broker_re, panel_filter) AS (VALUES
    {_PANEL_VALUES}
    )
    SELECT panel_id, window_start, broker, n,
           round(n / 60.0, 6) AS rate_msg_s
    FROM rates r JOIN panels p
      ON r.topic_filter = p.panel_filter
     AND regexp_matches(r.broker, p.broker_re)
    ORDER BY panel_id, window_start, broker
    """,
    doc="The ENTIRE reference dashboard in one query: the rate series is "
    "aggregated once per (window, broker, topic_filter), then the 9 panel "
    "selectors (grafana/mqtt-dashboard.json:92-820) join as a broadcast "
    "9-row dimension (equi on topic_filter + regex residual on broker) — "
    "panel mapping costs nothing at any scale because it runs on the "
    "aggregate, never the raw message log. Panels whose brokers are not "
    "in the stream render empty, as on the live dashboard.",
    tags=("monitoring",),
)
def grafana_dashboard_all_panels(spark, sf_dir):
    rates = (
        fanned_df(spark, sf_dir)
        .groupBy(
            F.window("ts", "60 seconds").start.alias("window_start"),
            "broker",
            "topic_filter",
        )
        .agg(F.count("*").alias("n"))
    )
    panels = spark.createDataFrame(
        DASHBOARD_PANELS, ["panel_id", "broker_re", "panel_filter"]
    )
    return (
        rates.join(
            F.broadcast(panels),
            (F.col("topic_filter") == F.col("panel_filter"))
            & F.regexp_like(F.col("broker"), F.col("broker_re")),
        )
        .select(
            "panel_id",
            "window_start",
            "broker",
            "n",
            F.round(F.col("n") / 60.0, 6).alias("rate_msg_s"),
        )
        .orderBy("panel_id", "window_start", "broker")
    )


@register(
    "legend_mean_max",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_FANOUT_CTE},
    rates AS (
      SELECT time_bucket(INTERVAL '60 seconds', ts) AS w, broker, topic_filter,
             count(*) / 60.0 AS rate
      FROM fanned GROUP BY 1, 2, 3
    )
    SELECT broker, topic_filter,
           round(avg(rate), 6) AS mean_rate, round(max(rate), 6) AS max_rate
    FROM rates GROUP BY 1, 2 ORDER BY broker, topic_filter
    """,
    doc="A6 legend calcs: mean & max of each rate series over the range "
    "(grafana/mqtt-dashboard.json:75-79).",
    tags=("monitoring",),
)
def legend_mean_max(spark, sf_dir):
    rates = (
        fanned_df(spark, sf_dir)
        .groupBy(F.window("ts", "60 seconds").alias("w"), "broker", "topic_filter")
        .agg((F.count("*") / 60.0).alias("rate"))
    )
    return (
        rates.groupBy("broker", "topic_filter")
        .agg(
            F.round(F.avg("rate"), 6).alias("mean_rate"),
            F.round(F.max("rate"), 6).alias("max_rate"),
        )
        .orderBy("broker", "topic_filter")
    )


# ---------------------------------------------------------------------------
# A7 — PromQL rate(): counter-delta with reset guard, and max-min-per-window.
# Counter series synthesized with artificial resets (mod), matching the
# FIXTURES.md §7 counter_samples shape.
# ---------------------------------------------------------------------------

# Counter synthesis must be EXACT: a running DOUBLE window-sum is not
# engine-reproducible (window aggregation order/algorithm is an
# implementation detail; at 5x data the ulp drift crossed round()'s
# half-boundary — caught by the k=5 stress sweep). values carry exactly
# 2 decimals, so accumulate centi-units in BIGINT (exact, algorithm-
# independent), wrap at 100000 centi = the same 1000.0 counter range,
# and divide once — bit-identical doubles on both engines.
_COUNTER_CTE = """counter_samples AS (
  SELECT event_type, ts, event_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              % 100000 AS DOUBLE) / 100.0 AS counter
  FROM events
)"""


@register(
    "promql_rate_lag",
    oracle=f"""
    WITH {_COUNTER_CTE}
    SELECT event_type, ts,
           round(CASE WHEN counter - lag(counter) OVER w < 0 THEN counter
                      ELSE counter - lag(counter) OVER w END
                 / (date_part('epoch', ts) - date_part('epoch', lag(ts) OVER w)), 6)
             AS rate
    FROM counter_samples
    WHERE event_type IN ('click', 'error')
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    QUALIFY lag(ts) OVER w IS NOT NULL
      AND date_part('epoch', ts) <> date_part('epoch', lag(ts) OVER w)
    ORDER BY event_type, ts, event_id
    """,
    doc="A7/W1 PromQL rate() as lag-delta with counter-reset guard "
    "(grafana/mqtt-dashboard.json:92; resets per SURVEY §2.7 T4).",
    tags=("monitoring", "promql"),
)
def promql_rate_lag(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    samples = ev.select(
        "event_type",
        "ts",
        "event_id",
        ((F.sum(F.round(F.col("value") * 100).cast("long")).over(wc) % 100000).cast("double") / 100.0).alias("counter"),
    ).filter(F.col("event_type").isin("click", "error"))
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    delta = F.col("counter") - F.lag("counter").over(w)
    # Fractional-second epoch (ts.cast(double) = micros/1e6) to match
    # DuckDB's date_part('epoch', ts); unix_timestamp would truncate to
    # whole seconds and merge sub-second-adjacent samples.
    epoch = F.col("ts").cast("double")
    dt = epoch - F.lag(epoch).over(w)
    return (
        samples.select(
            "event_type",
            "ts",
            "event_id",
            F.round(
                F.when(delta < 0, F.col("counter")).otherwise(delta) / dt, 6
            ).alias("rate"),
            dt.alias("_dt"),
        )
        .filter(F.col("_dt").isNotNull() & (F.col("_dt") != 0))
        .select("event_type", "ts", "rate")
        .orderBy("event_type", "ts")
    )


@register(
    "promql_rate_window",
    oracle=f"""
    WITH {_COUNTER_CTE}
    SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS window_start,
           round((max(counter) - min(counter)) / (6.0 * 3600.0), 8) AS rate
    FROM counter_samples GROUP BY 1, 2 ORDER BY event_type, window_start
    """,
    doc="A7 PromQL rate() as (max-min)/interval per tumbling window — the "
    "shuffle-friendly 100 TB formulation (one agg, no per-row window function).",
    tags=("monitoring", "promql"),
)
def promql_rate_window(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    samples = ev.select(
        "event_type", "ts", ((F.sum(F.round(F.col("value") * 100).cast("long")).over(wc) % 100000).cast("double") / 100.0).alias("counter")
    )
    return (
        samples.groupBy(
            "event_type", F.window("ts", "6 hours").start.alias("window_start")
        )
        .agg(
            F.round((F.max("counter") - F.min("counter")) / (6.0 * 3600.0), 8).alias(
                "rate"
            )
        )
        .orderBy("event_type", "window_start")
    )


# ---------------------------------------------------------------------------
# A4 / A5 — DistributionSummary and gauge-last semantics.
# ---------------------------------------------------------------------------


@register(
    "distribution_summary",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total,
           round(max(value), 4) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="A4 Micrometer DistributionSummary = (count, sum, max) per key "
    "(GtfsRtMetricsRegistry.java:26-39; semantics test :204-224).",
    tags=("monitoring",),
)
def distribution_summary(spark, sf_dir):
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "gauge_last_value",
    oracle="""
    SELECT user_id, round(value, 4) AS last_value,
           CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS up
    FROM (
      SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
    doc="A5 gauge = last value per key ordered by time "
    "(gtfsrt_last_scrape_success, GtfsRtMetricsRegistry.java:40-44).",
    tags=("monitoring",),
)
def gauge_last_value(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.round("value", 4).alias("last_value"),
            F.when(F.col("event_type") == "error", 0).otherwise(1).alias("up"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# P8 — scrape-outcome classification matrix (GtfsRtMetricsExporter.java:49-78).
# ---------------------------------------------------------------------------

_OUTCOME_SQL = """CASE
  WHEN event_type IN ('click', 'view', 'purchase') THEN 'success'
  WHEN event_type = 'signup' THEN
    concat('http_', CAST(CASE user_id % 3 WHEN 0 THEN 404 WHEN 1 THEN 500
                         ELSE 503 END AS STRING))
  WHEN user_id % 3 = 0 THEN 'parse_error'
  WHEN user_id % 3 = 1 THEN 'io_error'
  ELSE 'unknown_error'
END"""


@register(
    "scrape_outcome_counts",
    oracle=f"""
    SELECT concat('https://feed', CAST(user_id % 4 AS STRING)) AS url,
           {_OUTCOME_SQL} AS outcome,
           count(*) AS attempts
    FROM events GROUP BY 1, 2 ORDER BY url, outcome
    """,
    doc="P8 error classification CASE + A3 per-(url, result) counters "
    "(GtfsRtMetricsExporter.java:54-77; test matrix GtfsRtMetricsExporterTest.java:84-325).",
    tags=("monitoring",),
)
def scrape_outcome_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.concat(
                F.lit("https://feed"), (F.col("user_id") % 4).cast("string")
            ).alias("url"),
            F.expr(_OUTCOME_SQL).alias("outcome"),
        )
        .groupBy("url", "outcome")
        .agg(F.count("*").alias("attempts"))
        .orderBy("url", "outcome")
    )


@register(
    "gtfsrt_delay_by_route",
    oracle="""
    WITH base AS (
      SELECT concat('R', CAST(user_id % 7 AS STRING)) AS route_id,
             event_id % 2 = 0 AS is_vehicle,
             CAST(event_id % 1200 AS INT) - 300 AS delay,
             (event_id % 80) / 4.0 AS speed,
             60.0 + (user_id % 64) / 64.0 AS lat,
             24.0 + (event_id % 128) / 128.0 AS lon
      FROM events
    )
    SELECT route_id,
           CAST(sum(CASE WHEN is_vehicle THEN 1 ELSE 0 END) AS BIGINT) AS n_vehicle,
           CAST(sum(CASE WHEN NOT is_vehicle THEN 1 ELSE 0 END) AS BIGINT) AS n_trip_update,
           round(avg(CASE WHEN NOT is_vehicle THEN delay END), 6) AS avg_delay,
           min(CASE WHEN NOT is_vehicle THEN delay END) AS min_delay,
           max(CASE WHEN NOT is_vehicle THEN delay END) AS max_delay,
           round(avg(CASE WHEN is_vehicle THEN speed END), 6) AS avg_speed,
           min(CASE WHEN is_vehicle THEN lat END) AS min_lat,
           max(CASE WHEN is_vehicle THEN lat END) AS max_lat,
           min(CASE WHEN is_vehicle THEN lon END) AS min_lon,
           max(CASE WHEN is_vehicle THEN lon END) AS max_lon
    FROM base GROUP BY route_id ORDER BY route_id
    """,
    doc="Full GTFS-RT FeedEntity decode, end-to-end: events rows are "
    "rendered into REAL protobuf FeedMessage bodies (one feed per URL, "
    "applyInPandas encode), decoded back with the wire-format parser "
    "(decode_feed_entities), then aggregated per route — delay "
    "distribution from TripUpdates, speed + lat/lon bounding box from "
    "VehiclePositions. The oracle computes the same stats directly from "
    "events, so the driver hash proves the encoder+decoder round-trip "
    "bit-exactly (floats chosen float32-exact: speed quarters, lat 1/64, "
    "lon 1/128 steps). Extends the reference's header-only read "
    "(GtfsRtMetricsExporter.java:60-63) to entity granularity; fixture "
    "shape mirrors GtfsRtMetricsExporterTest.java:327-337.",
    tags=("monitoring", "gtfsrt", "decode"),
)
def gtfsrt_delay_by_route(spark, sf_dir):
    import pandas as pd

    from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
        decode_feed_entities,
        encode_feed_message,
        encode_trip_update_entity,
        encode_vehicle_entity,
    )

    # Each (url, poll) group becomes ONE FeedMessage body — modeling
    # successive poll rounds of the same feed URL. Sharding the encode on
    # a poll key (instead of 4 whole-URL groups) keeps every pandas group
    # and every encoded body small and bounded regardless of fact size:
    # at 100 TB this is the difference between 4 OOM-ing tasks and an
    # embarrassingly parallel encode.
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.concat(F.lit("https://feed"), (F.col("user_id") % 4).cast("string")).alias(
            "url"
        ),
        (F.col("event_id") % 64).alias("poll"),
    )

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ents = []
        for eid, uid in zip(pdf["event_id"], pdf["user_id"]):
            eid, uid = int(eid), int(uid)
            route = f"R{uid % 7}"
            if eid % 2 == 0:
                ents.append(
                    encode_vehicle_entity(
                        f"v-{eid}",
                        route_id=route,
                        vehicle_id=f"bus-{uid}",
                        speed=(eid % 80) / 4.0,
                        latitude=60.0 + (uid % 64) / 64.0,
                        longitude=24.0 + (eid % 128) / 128.0,
                    )
                )
            else:
                ents.append(
                    encode_trip_update_entity(
                        f"t-{eid}",
                        route_id=route,
                        trip_id=f"trip-{eid}",
                        delay=eid % 1200 - 300,
                    )
                )
        body = encode_feed_message(timestamp=1700000000, entities=ents)
        return pd.DataFrame({"url": [pdf["url"].iloc[0]], "body": [body]})

    feeds = ev.groupBy("url", "poll").applyInPandas(
        encode_group, "url string, body binary"
    )
    entities = decode_feed_entities(feeds)
    is_vp = F.col("kind") == "vehicle"
    return (
        entities.groupBy("route_id")
        .agg(
            F.sum(is_vp.cast("int")).alias("n_vehicle"),
            F.sum((~is_vp).cast("int")).alias("n_trip_update"),
            F.round(F.avg(F.when(~is_vp, F.col("tu_delay"))), 6).alias("avg_delay"),
            F.min(F.when(~is_vp, F.col("tu_delay"))).alias("min_delay"),
            F.max(F.when(~is_vp, F.col("tu_delay"))).alias("max_delay"),
            F.round(F.avg(F.when(is_vp, F.col("speed"))), 6).alias("avg_speed"),
            F.min(F.when(is_vp, F.col("latitude"))).alias("min_lat"),
            F.max(F.when(is_vp, F.col("latitude"))).alias("max_lat"),
            F.min(F.when(is_vp, F.col("longitude"))).alias("min_lon"),
            F.max(F.when(is_vp, F.col("longitude"))).alias("max_lon"),
        )
        .orderBy("route_id")
    )


@register(
    "gtfsrt_stop_delay_profile",
    oracle="""
    WITH stops AS (
      SELECT concat('S', CAST(event_id % 40 AS STRING)) AS stop_id,
             CAST(event_id % 600 AS INT) - 120 AS arrival_delay,
             CAST(event_id % 600 AS INT) - 120 + 15 AS departure_delay,
             CAST(1 + event_id % 3 AS INT) AS stop_sequence
      FROM events WHERE event_id % 2 = 1
    )
    SELECT stop_id,
           CAST(count(*) AS BIGINT) AS n_updates,
           CAST(sum(arrival_delay) AS BIGINT) AS sum_arrival_delay,
           max(arrival_delay) AS max_arrival_delay,
           CAST(sum(departure_delay - arrival_delay) AS BIGINT) AS sum_dwell_change,
           max(stop_sequence) AS max_seq
    FROM stops GROUP BY stop_id ORDER BY stop_id
    """,
    doc="Nested StopTimeUpdate decode path, end-to-end: odd events become "
    "TripUpdates carrying ONE stop-time update each (signed arrival + "
    "departure delays, stop sequence), rendered to real protobuf, decoded "
    "back (decode_feed_entities), the nested array EXPLODED, and per-stop "
    "delay stats aggregated — hash-equal to the oracle computing directly "
    "from events. Verifies the repeated-message + nested StopTimeEvent "
    "arm of the wire parser (gtfs-realtime.proto StopTimeUpdate{1,2,3,4}) "
    "that gtfsrt_delay_by_route's top-level fields do not touch.",
    tags=("monitoring", "gtfsrt", "decode"),
)
def gtfsrt_stop_delay_profile(spark, sf_dir):
    import pandas as pd

    from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
        decode_feed_entities,
        encode_feed_message,
        encode_trip_update_entity,
    )

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            F.concat(
                F.lit("https://feed"), (F.col("user_id") % 4).cast("string")
            ).alias("url"),
            # poll-round shard: bounded groups/bodies (see gtfsrt_delay_by_route)
            (F.col("event_id") % 64).alias("poll"),
        )
    )

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ents = []
        for eid in pdf["event_id"]:
            eid = int(eid)
            delay = eid % 600 - 120
            ents.append(
                encode_trip_update_entity(
                    f"t-{eid}",
                    trip_id=f"trip-{eid}",
                    stop_time_updates=[
                        (1 + eid % 3, f"S{eid % 40}", delay, delay + 15)
                    ],
                )
            )
        return pd.DataFrame(
            {"url": [pdf["url"].iloc[0]], "body": [encode_feed_message(entities=ents)]}
        )

    feeds = ev.groupBy("url", "poll").applyInPandas(
        encode_group, "url string, body binary"
    )
    stu = decode_feed_entities(feeds).select(
        F.explode("stop_time_updates").alias("s")
    )
    return (
        stu.select(
            F.col("s.stop_id").alias("stop_id"),
            F.col("s.arrival_delay").alias("arrival_delay"),
            F.col("s.departure_delay").alias("departure_delay"),
            F.col("s.stop_sequence").alias("stop_sequence"),
        )
        .groupBy("stop_id")
        .agg(
            F.count("*").alias("n_updates"),
            F.sum("arrival_delay").alias("sum_arrival_delay"),
            F.max("arrival_delay").alias("max_arrival_delay"),
            F.sum(F.col("departure_delay") - F.col("arrival_delay")).alias(
                "sum_dwell_change"
            ),
            F.max("stop_sequence").alias("max_seq"),
        )
        .orderBy("stop_id")
    )


# ---------------------------------------------------------------------------
# T2 / T7 — sliding windows and session windows.
# ---------------------------------------------------------------------------


@register(
    "sliding_window_rate",
    oracle="""
    WITH expanded AS (
      SELECT event_type,
             time_bucket(INTERVAL '60 seconds', ts)
               - unnest(generate_series(0, 4)) * INTERVAL '60 seconds' AS window_start
      FROM events
    )
    SELECT window_start, event_type, count(*) AS n,
           round(count(*) / 300.0, 6) AS rate
    FROM expanded GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    doc="T2 sliding window (5 min window, 1 min slide — PromQL $__rate_interval "
    "lookback, dashboard refresh 30 s over 1 h, mqtt-dashboard.json:830).",
    tags=("monitoring", "window"),
)
def sliding_window_rate(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "5 minutes", "1 minute").start.alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .withColumn("rate", F.round(F.col("n") / 300.0, 6))
        .orderBy("window_start", "event_type")
    )


@register(
    "session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             -- >= : Spark session windows are [start, last+gap), so an event
             -- at exactly last+gap starts a NEW session
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      SELECT user_id, ts,
             -- total order (ts, event_id): under duplicate timestamps a
             -- ts-only ROWS cum-sum can split a tie group across session
             -- boundaries (tie order is engine-nondeterministic), while
             -- Spark's native session_window merges same-ts events always
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="T7 session windows (30 min gap) — Spark session_window vs "
    "gaps-and-islands oracle.",
    tags=("monitoring", "window"),
)
def session_windows(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "events_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s ON e.user_id = s.user_id
       AND e.ts > s.t_signup AND e.ts <= s.t_signup + INTERVAL '12 hours'
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
       AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL '12 hours'
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    doc="Ordered funnel over the event stream: signup -> first click "
    "within 12 h of signup -> first purchase within 12 h of that click, "
    "counting users surviving each stage (150 -> 28 -> 11 at sf0.01). "
    "Three user-keyed aggregation passes with interval-bounded joins — "
    "each stage shuffles once on user_id and AQE reuses the exchange; no "
    "window over the raw event log, no self cross-join.",
    tags=("monitoring", "events", "join"),
)
def events_funnel(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(
            (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_signup")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week,
                           date_trunc('week', e.ts)) // 7 AS INTEGER)
               AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM active GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    doc="Retention cohorts: users grouped by first-seen ISO week, counted "
    "in each subsequent active week — the standard growth-analytics "
    "matrix. One user-keyed aggregate for cohort assignment, a broadcast-"
    "able join back onto the log, then DISTINCT + count; no per-week "
    "scans, no self cross-join, all keys uniform.",
    tags=("monitoring", "events", "agg"),
)
def events_retention_cohorts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# T8 — dedup (the raw -> raw-deduplicated topic pattern).
# ---------------------------------------------------------------------------


@register(
    "dedup_keyed_first",
    oracle="""
    SELECT user_id, event_type, event_id, round(value, 4) AS value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    doc="T8 deterministic keyed dedup (raw -> raw-deduplicated, "
    "pulsar_data_collector.py:22-33); dropDuplicates made deterministic via "
    "min-event_id representative.",
    tags=("monitoring", "dedup"),
)
def dedup_keyed_first(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id", F.round("value", 4).alias("value")
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# P4/F6 — pulsar backlog threshold scan (topics_with_big_backlog.sh).
# ---------------------------------------------------------------------------


@register(
    "pulsar_big_backlog",
    oracle="""
    SELECT o_orderkey AS topic_id,
           CAST(round(o_totalprice * 10000, 0) AS BIGINT) AS backlog_bytes,
           CAST(floor(round(o_totalprice * 10000, 0) / 1e9) AS BIGINT) AS backlog_gb
    FROM orders
    WHERE CAST(round(o_totalprice * 10000, 0) AS BIGINT) >= 1000000000
    ORDER BY backlog_bytes DESC, topic_id
    """,
    doc="P4 threshold + F6 unit conversion: backlogSize >= 1 GB report "
    "(topics_with_big_backlog.sh:30-33, stats_of_all_topics.sh:31-36).",
    tags=("monitoring",),
)
def pulsar_big_backlog(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    # round before the long cast: Spark cast truncates, DuckDB cast rounds —
    # rounding first makes both exact on the integer-valued double
    backlog = F.round(F.col("o_totalprice") * 10000, 0).cast("long")
    return (
        o.select(
            F.col("o_orderkey").alias("topic_id"),
            backlog.alias("backlog_bytes"),
            F.floor(backlog / 1e9).cast("long").alias("backlog_gb"),
        )
        .filter(F.col("backlog_bytes") >= 1_000_000_000)
        .orderBy(F.desc("backlog_bytes"), "topic_id")
    )


@register(
    "rate_disconnect_correction",
    oracle="""
    WITH spans AS (
      SELECT event_id,
             CAST(event_id % 500 AS BIGINT)          AS msg_count,
             CASE WHEN user_id % 11 = 0 THEN NULL
                  ELSE CAST(0.0 AS DOUBLE) END       AS started_at,
             CASE WHEN user_id % 3 = 0
                  THEN CAST(user_id % 90 AS DOUBLE)
                  ELSE NULL END                      AS stopped_at,
             CAST(70.0 AS DOUBLE)                    AS now_s
      FROM events
    )
    SELECT event_id,
           round(CASE
             WHEN started_at IS NULL THEN NULL
             WHEN stopped_at IS NOT NULL
                  AND stopped_at - started_at < least(25.0, 10.0 * 20.0)
               THEN NULL
             WHEN stopped_at IS NOT NULL
               THEN msg_count / (stopped_at - started_at - 2.0 * 20.0)
             ELSE msg_count / (now_s - started_at)
           END, 6) + 0.0 AS rate
    FROM spans ORDER BY event_id
    """,
    doc="A2 disconnect/elapsed correction (mqtt_data_collector.py:99-134): "
    "discard windows shorter than min(25, 10*keep_alive); subtract "
    "2*keep_alive detection lag on disconnect; NULL for never-connected. "
    "Pure Column expression (functions/rates.py), exercised over spans "
    "synthesized from events.",
    tags=("monitoring", "rate"),
)
def rate_disconnect_correction(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.rates import (
        corrected_msg_rate,
    )

    ev = table(spark, sf_dir, "events")
    spans = ev.select(
        "event_id",
        (F.col("event_id") % 500).alias("msg_count"),
        F.when(F.col("user_id") % 11 == 0, F.lit(None))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("started_at"),
        F.when(F.col("user_id") % 3 == 0, (F.col("user_id") % 90).cast("double"))
        .otherwise(F.lit(None))
        .alias("stopped_at"),
        F.lit(70.0).alias("now_s"),
    )
    # `+ 0.0` on both sides: the reference allows a *negative* corrected
    # elapsed, so msg_count=0 rows yield IEEE -0.0.  DuckDB's round keeps
    # -0.0 while Spark's BigDecimal round normalizes to +0.0; adding 0.0
    # (IEEE: -0.0 + 0.0 = +0.0) makes both emit the same bit pattern.
    return spans.select(
        "event_id",
        (
            F.round(
                corrected_msg_rate(
                    F.col("msg_count"),
                    F.col("started_at"),
                    F.col("stopped_at"),
                    F.col("now_s"),
                    keep_alive_secs=20.0,
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("rate"),
    ).orderBy("event_id")


@register(
    "promql_increase_windowed",
    oracle=f"""
    WITH {_COUNTER_CTE},
    uniq AS (
      SELECT event_type, ts, max(counter) AS counter
      FROM counter_samples GROUP BY 1, 2
    ),
    step AS (
      SELECT event_type, ts,
             CASE WHEN lag(counter) OVER w IS NULL THEN 0
                  WHEN counter - lag(counter) OVER w < 0 THEN counter
                  ELSE counter - lag(counter) OVER w END AS inc
      FROM uniq WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    )
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
           round(sum(inc), 6) AS increase
    FROM step GROUP BY 1, 2 ORDER BY event_type, window_start
    """,
    doc="A7 PromQL increase() via functions/promql.increase_windowed: "
    "reset-guarded lag deltas summed per tumbling window. Samples are "
    "deduped to one per (series, ts) first so the lag order is total.",
    tags=("monitoring", "promql"),
)
def promql_increase_windowed(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.promql import (
        increase_windowed,
    )

    ev = table(spark, sf_dir, "events")
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    samples = (
        ev.select(
            "event_type", "ts", ((F.sum(F.round(F.col("value") * 100).cast("long")).over(wc) % 100000).cast("double") / 100.0).alias("counter")
        )
        .groupBy("event_type", "ts")
        .agg(F.max("counter").alias("counter"))
    )
    return increase_windowed(samples, ["event_type"], "6 hours").orderBy(
        "event_type", "window_start"
    )


@register(
    "rate_over_store",
    oracle=f"""
    WITH {_COUNTER_CTE},
    uniq AS (
      SELECT event_type, ts, max(counter) AS counter
      FROM counter_samples GROUP BY 1, 2
    ),
    pruned AS (
      SELECT * FROM uniq
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
    ),
    step AS (
      SELECT event_type, ts,
             CASE WHEN lag(counter) OVER w IS NULL THEN 0.0
                  WHEN counter - lag(counter) OVER w < 0 THEN counter
                  ELSE counter - lag(counter) OVER w END AS inc
      FROM pruned WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    )
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
           round(sum(inc), 6) AS increase,
           round(round(sum(inc), 6) / 21600.0, 8) AS rate_per_s
    FROM step GROUP BY 1, 2 ORDER BY event_type, window_start
    """,
    doc="The full Grafana-panel path over the AT-REST history store: "
    "counter samples are materialized into a dt-partitioned parquet store "
    "(sinks/parquet.write_time_partitioned), then queried with a date "
    "range that prunes directories (PartitionFilters, asserted in "
    "tests/test_plans.py) and the reset-guarded windowed rate "
    "(functions/promql.rate_over_store). The oracle applies the same "
    "date cut to the same samples — the store is just a materialization. "
    "Store is written once per sf_dir (guarded by _SUCCESS).",
    tags=("monitoring", "promql", "store"),
)
def rate_over_store_panel(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from transitdata_monitor_data_collector_spark.functions.promql import (
        rate_over_store,
    )
    from transitdata_monitor_data_collector_spark.sinks.parquet import (
        write_time_partitioned,
    )

    ev = table(spark, sf_dir, "events")
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    uniq = (
        ev.select(
            "event_type", "ts", ((F.sum(F.round(F.col("value") * 100).cast("long")).over(wc) % 100000).cast("double") / 100.0).alias("counter")
        )
        .groupBy("event_type", "ts")
        .agg(F.max("counter").alias("counter"))
    )
    # v2 = exact centi-integer counter synthesis (round-5): versioning the
    # cache key makes a definition change invalidate stale stores instead
    # of silently serving old counters. The key also fingerprints the
    # SOURCE file (size + mtime): a path whose content changes — the
    # stress tool rebuilds spark-warehouse/stress_sf in place for each k
    # — must invalidate too (a stale k=10 store served k=20 data before
    # this, caught by the k=20 sweep).
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    fingerprint = f"{sf_dir}:v2:{st.st_size}:{st.st_mtime_ns}"
    store = os.path.join(
        tempfile.gettempdir(),
        "tmdc_rate_store_"
        + hashlib.md5(fingerprint.encode()).hexdigest()[:12],
    )
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        write_time_partitioned(
            uniq, store, ts_col="ts", sort_cols=("event_type",), mode="overwrite"
        )
    out = rate_over_store(
        spark,
        store,
        keys=["event_type"],
        window_duration="6 hours",
        date_from="2024-01-05",
        date_to="2024-01-09",
    )
    return out.select(
        "window_start", "event_type", "increase", "rate_per_s"
    ).orderBy("event_type", "window_start")


# Per-broker filter registries (Main.java:76-85: one listener per broker,
# each with its own topicFilters). Split the dashboard registry: the prod
# broker watches HFP journeys, the dev broker watches GTFS-RT topics.
PER_BROKER_FILTERS = {
    "tcp://mqtt.hsl.fi:1883": DASHBOARD_FILTERS[:5],
    "wss://mqtt-dev.hsl.fi:443": DASHBOARD_FILTERS[5:],
}

_PB_FILTER_VALUES = ",\n    ".join(
    f"('{b}', '{f}', '{filter_to_regex(f)}')"
    for b, fs in PER_BROKER_FILTERS.items()
    for f in fs
)
_PB_FANOUT_CTE = f"""filters(broker, topic_filter, rx) AS (VALUES
    {_PB_FILTER_VALUES}
),
fanned AS (
  SELECT m.broker, m.ts,
         coalesce(f.topic_filter, 'unknown') AS topic_filter
  FROM msgs m LEFT JOIN filters f
    ON m.broker = f.broker
   AND regexp_matches(regexp_replace(m.topic, '/+$', ''), f.rx)
)"""


@register(
    "mqtt_per_broker_counter_totals",
    oracle=f"""
    WITH {_MSGS_CTE},
    {_PB_FANOUT_CTE}
    SELECT broker, topic_filter, count(*) AS messages_received_total
    FROM fanned GROUP BY 1, 2 ORDER BY broker, topic_filter
    """,
    doc="A3 counters with PER-BROKER filter registries "
    "(functions/mqtt_match.with_per_broker_fanout): each message matched "
    "only against its own broker's filters — a filter on two brokers "
    "cannot double-count, and messages from a broker without that filter "
    "land in its unknown bucket. Still a pure projection (CASE over "
    "broker selecting literal-regex arrays), no join.",
    tags=("monitoring",),
)
def mqtt_per_broker_counter_totals(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
        with_per_broker_fanout,
    )

    fanned = with_per_broker_fanout(messages_df(spark, sf_dir), PER_BROKER_FILTERS)
    return (
        fanned.groupBy("broker", "topic_filter")
        .agg(F.count("*").alias("messages_received_total"))
        .orderBy("broker", "topic_filter")
    )


# ---------------------------------------------------------------------------
# Prometheus histogram buckets: the exposition format's cumulative le-bucket
# series for a DistributionSummary. The scale-right plan assigns each row
# ONE bucket (CASE), aggregates to at most n_types x n_buckets rows, densifies
# against a literal bucket grid, and takes a running sum per type — a single
# fact shuffle on low-cardinality keys, never a buckets-x-rows fan-out.
# ---------------------------------------------------------------------------

_HISTO_LES = [1.0, 5.0, 10.0, 50.0, 100.0]


@register(
    "prometheus_histogram_buckets",
    oracle="""
    WITH bucketed AS (
        SELECT event_type,
               CASE WHEN value <= 1.0 THEN 0 WHEN value <= 5.0 THEN 1
                    WHEN value <= 10.0 THEN 2 WHEN value <= 50.0 THEN 3
                    WHEN value <= 100.0 THEN 4 ELSE 5 END AS bucket_idx,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT event_type, bucket_idx, le
        FROM (SELECT DISTINCT event_type FROM events),
             (VALUES (0, '1'), (1, '5'), (2, '10'), (3, '50'), (4, '100'),
                     (5, '+Inf')) b(bucket_idx, le)
    )
    SELECT g.event_type, g.le,
           CAST(sum(coalesce(n, 0)) OVER (
               PARTITION BY g.event_type ORDER BY g.bucket_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_count
    FROM grid g LEFT JOIN bucketed USING (event_type, bucket_idx)
    ORDER BY g.event_type, g.bucket_idx
    """,
    doc="Prometheus histogram exposition (le-bucket cumulative counts) for "
    "the DistributionSummary meter (GtfsRtMetricsRegistry.java:26-39; the "
    "reference's summaries surface max/sum — this adds the bucket series a "
    "Prometheus histogram would export). Cumulative counts come from a "
    "running-sum window over per-bucket partial counts, not a per-row "
    "buckets-x fan-out.",
    tags=("monitoring", "agg", "window"),
)
def prometheus_histogram_buckets(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bucket_idx = F.lit(len(_HISTO_LES))
    for i, le in reversed(list(enumerate(_HISTO_LES))):
        bucket_idx = F.when(F.col("value") <= le, i).otherwise(bucket_idx)
    bucketed = ev.groupBy(
        "event_type", bucket_idx.alias("bucket_idx")
    ).agg(F.count("*").alias("n"))
    les = [*[str(int(v)) for v in _HISTO_LES], "+Inf"]
    grid_b = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("bucket_idx"), F.lit(le).alias("le"))
                for i, le in enumerate(les)
            ]
        )
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .select("event_type", grid_b.alias("b"))
        .select("event_type", "b.bucket_idx", "b.le")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(bucketed, ["event_type", "bucket_idx"], "left")
        .withColumn(
            "cumulative_count",
            F.sum(F.coalesce(F.col("n"), F.lit(0))).over(w).cast("bigint"),
        )
        .select("event_type", "le", "cumulative_count", "bucket_idx")
        .orderBy("event_type", "bucket_idx")
        .drop("bucket_idx")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + LOCF: what a Grafana panel does implicitly when it
# connects points across empty intervals. Dense per-minute grid per series
# (sequence/explode from the series' own min/max — no driver-side loop),
# left join of observed per-minute gauges, then last-observation-carried-
# forward via an ignore-nulls window.
# ---------------------------------------------------------------------------


@register(
    "timeseries_gap_fill_locf",
    oracle="""
    WITH obs AS (
        SELECT event_type, date_trunc('minute', ts) AS minute,
               sum(CAST(round(value, 4) AS DECIMAL(18, 4))) AS val_sum,
               count(*) AS n
        FROM events WHERE event_type IN ('error', 'signup')
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(minute) AS tmin, max(minute) AS tmax
        FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT event_type,
               unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS minute
        FROM bounds
    )
    SELECT g.event_type, g.minute,
           round(last_value(round(CAST(val_sum AS DOUBLE) / n, 4)
                            IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.minute
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS gauge_locf
    FROM grid g LEFT JOIN obs USING (event_type, minute)
    ORDER BY g.event_type, g.minute
    """,
    doc="Gap fill + last-observation-carried-forward over per-minute gauge "
    "series — the dense-grid semantics Grafana applies to the reference's "
    "sparse scrape gauges (GtfsRtMetricsRegistry.java:40-44). The grid is "
    "sequence()/explode from per-series bounds (distributed, no driver "
    "loop); LOCF is one last(ignorenulls) window per series. Per-minute "
    "means go through exact decimal sums so Spark's partial aggregation "
    "matches DuckDB bit-for-bit.",
    tags=("monitoring", "window", "timeseries"),
)
def timeseries_gap_fill_locf(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "signup")
    )
    obs = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(
        F.sum(F.round("value", 4).cast("decimal(18,4)")).alias("val_sum"),
        F.count("*").alias("n"),
    )
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("minute").alias("tmin"), F.max("minute").alias("tmax"))
        .select(
            "event_type",
            F.explode(
                F.sequence("tmin", "tmax", F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute"),
        )
    )
    gauge = F.round(F.col("val_sum").cast("double") / F.col("n"), 4)
    w = (
        W.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(obs, ["event_type", "minute"], "left")
        .withColumn("gauge_locf", F.round(F.last(gauge, ignorenulls=True).over(w), 4))
        .select("event_type", "minute", "gauge_locf")
        .orderBy("event_type", "minute")
    )


# ---------------------------------------------------------------------------
# Trailing-window z-score anomaly detection. All moments come from exact
# DECIMAL window sums (sum, sum of squares) so the derived mean/std — and
# therefore the emitted z-scores — are bit-identical across engines and
# across Spark's own frame-evaluation order.
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH scored AS (
      SELECT event_type, event_id, ts, value,
             CAST(sum(CAST(round(value, 4) AS DECIMAL(18, 4))) OVER w
                  AS DOUBLE) AS s1,
             CAST(sum(CAST(round(value * value, 4) AS DECIMAL(28, 4))) OVER w
                  AS DOUBLE) AS s2,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type
                   ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, value, zscore
    FROM (
      SELECT event_type, event_id, round(value, 4) AS value, n,
             -- CASE guards the sqrt LAZILY (guaranteed by the SQL
             -- standard on both engines): the rounded-sum moments can go
             -- slightly NEGATIVE for near-constant windows (s2 sums
             -- round(v*v, 4) while s1 sums round(v, 4) — the two
             -- roundings need not agree within ~1e-4 of zero variance),
             -- where Spark's sqrt returns NaN (row silently excluded)
             -- but DuckDB RAISES — first tripped at stress k=20, where
             -- 20x duplication creates many such windows. A non-positive
             -- variance window has no meaningful z anyway -> NULL.
             CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
                  THEN round((value - s1 / n)
                             / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)
             END AS zscore
      FROM scored
    )
    WHERE n >= 30 AND abs(zscore) > 3.0
    ORDER BY event_type, event_id
    """,
    doc="Trailing-1h z-score anomaly detector per metric series (the "
    "alerting-layer analog of the dashboard's rate panels): a RANGE "
    "window over event-time epoch seconds accumulates exact decimal "
    "(sum, sum-of-squares, count), mean/std derive from those in double, "
    "and rows with |z| > 3 after >= 30 observations are flagged. The "
    "window is one sort per series partition; no self-join, no "
    "per-row subquery — the O(n log n) shape that survives 100 TB.",
    tags=("monitoring", "window", "timeseries"),
)
def events_anomaly_zscore(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    # ORDER BY integer MICROseconds, not a seconds cast: cast-to-long
    # truncates sub-second precision, silently shifting which rows fall
    # inside the trailing hour vs an oracle ordering on exact epoch —
    # the frame must be identical down to the microsecond on both sides
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    s1 = F.sum(F.round("value", 4).cast("decimal(18,4)")).over(w).cast("double")
    s2 = (
        F.sum(F.round(F.col("value") * F.col("value"), 4).cast("decimal(28,4)"))
        .over(w)
        .cast("double")
    )
    n = F.count("*").over(w)
    scored = ev.select(
        "event_type",
        "event_id",
        F.round("value", 4).alias("value"),
        s1.alias("s1"),
        s2.alias("s2"),
        n.alias("n"),
        F.col("value").alias("raw_value"),
    )
    # F.when mirrors the oracle's CASE: NULL z for non-positive variance
    # windows (near-constant data where the two moment roundings disagree
    # within ~1e-4 of zero) — Spark's sqrt(negative) is NaN, not an
    # error, but the guard keeps the excluded-row semantics identical
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(
        var > 0,
        F.round(
            (F.col("raw_value") - F.col("s1") / F.col("n")) / F.sqrt(var), 6
        ),
    )
    return (
        scored.withColumn("zscore", z)
        .filter((F.col("n") >= 30) & (F.abs(F.col("zscore")) > 3.0))
        .select("event_type", "event_id", "value", "zscore")
        .orderBy("event_type", "event_id")
    )


@register(
    "events_user_profile",
    oracle="""
    SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events,
           count(*) AS n_types,
           string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ','
                      ORDER BY event_type) AS profile
    FROM (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    GROUP BY user_id
    HAVING sum(cnt) >= 20
    ORDER BY user_id
    """,
    doc="Per-user activity profile: per-(user, type) counts collapsed to "
    "one deterministic 'type:count,...' string per user (sorted inside "
    "the aggregation — collect_list order is NOT trusted across "
    "exchanges, same fix as the Pulsar envelope series). Two partial+"
    "final aggregates on the same user_id partitioning; the profile "
    "string keeps the output scalar-typed for the driver canonicalizer.",
    tags=("monitoring", "agg"),
)
def events_user_profile(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.count("*").cast("bigint").alias("n_types"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(":", "event_type", F.col("cnt").cast("string"))
                    )
                ),
                ",",
            ).alias("profile"),
        )
        .filter(F.col("n_events") >= 20)
        .orderBy("user_id")
    )


@register(
    "events_top_paths",
    oracle="""
    SELECT path, count(*) AS n
    FROM (
      SELECT event_type
             || '>' || lead(event_type, 1) OVER w
             || '>' || lead(event_type, 2) OVER w AS path
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE path IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 10
    """,
    doc="Path mining: top-10 3-step event sequences across user journeys "
    "— two lead() windows on one per-user sort (no self-joins: the "
    "classic funnel-discovery query at O(n log n) per partition), then "
    "a global top-k that plans as TakeOrderedAndProject.",
    tags=("monitoring", "window", "topk"),
)
def events_top_paths(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    # concat_ws skips NULLs rather than propagating, so guard explicitly:
    # a 2-step tail must not masquerade as a 3-step path
    return (
        ev.select(
            F.when(
                F.lead("event_type", 2).over(w).isNotNull(), path
            ).alias("path")
        )
        .filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@register(
    "promql_histogram_quantile",
    oracle="""
    WITH bucketed AS (
        SELECT event_type,
               CASE WHEN value <= 1.0 THEN 0 WHEN value <= 5.0 THEN 1
                    WHEN value <= 10.0 THEN 2 WHEN value <= 50.0 THEN 3
                    WHEN value <= 100.0 THEN 4 ELSE 5 END AS bucket_idx,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT event_type, b.bucket_idx, b.lo, b.hi
        FROM (SELECT DISTINCT event_type FROM events),
             (VALUES (0, 0.0, 1.0), (1, 1.0, 5.0), (2, 5.0, 10.0),
                     (3, 10.0, 50.0), (4, 50.0, 100.0),
                     (5, 100.0, 100.0)) b(bucket_idx, lo, hi)
    ),
    cum AS (
        SELECT g.event_type, g.bucket_idx, g.lo, g.hi,
               sum(coalesce(n, 0)) OVER w AS cum_n,
               sum(coalesce(n, 0)) OVER (PARTITION BY g.event_type) AS total_n
        FROM grid g LEFT JOIN bucketed USING (event_type, bucket_idx)
        WINDOW w AS (PARTITION BY g.event_type ORDER BY g.bucket_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    crossing AS (
        SELECT event_type, bucket_idx, lo, hi, cum_n, total_n,
               lag(cum_n, 1, 0) OVER (
                   PARTITION BY event_type ORDER BY bucket_idx) AS prev_cum,
               cum_n - lag(cum_n, 1, 0) OVER (
                   PARTITION BY event_type ORDER BY bucket_idx) AS in_bucket
        FROM cum
    )
    SELECT event_type,
           floor(CASE
             WHEN bucket_idx = 5 THEN 100.0
             ELSE lo + (0.95 * total_n - prev_cum) / in_bucket * (hi - lo)
           END * 1e6 + 0.5) / 1e6 AS p95
    FROM crossing
    WHERE cum_n >= 0.95 * total_n
      AND prev_cum < 0.95 * total_n
    ORDER BY event_type
    """,
    doc="PromQL histogram_quantile(0.95, ...) over the le-bucket series: "
    "linear interpolation inside the first bucket whose cumulative count "
    "crosses the quantile rank (Prometheus semantics, incl. clamping to "
    "the highest finite bound when the crossing lands in +Inf). Built "
    "entirely from the integer cumulative counts of the histogram "
    "query — the interpolation arithmetic runs on identical integers on "
    "both engines, and the output goes through the engine-independent "
    "floor-micro rounding.",
    tags=("monitoring", "promql", "window"),
)
def promql_histogram_quantile(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bounds = [(0, 0.0, 1.0), (1, 1.0, 5.0), (2, 5.0, 10.0),
              (3, 10.0, 50.0), (4, 50.0, 100.0), (5, 100.0, 100.0)]
    bucket_idx = F.lit(len(_HISTO_LES))
    for i, le in reversed(list(enumerate(_HISTO_LES))):
        bucket_idx = F.when(F.col("value") <= le, i).otherwise(bucket_idx)
    bucketed = ev.groupBy(
        "event_type", bucket_idx.alias("bucket_idx")
    ).agg(F.count("*").alias("n"))
    grid_b = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("bucket_idx"),
                    F.lit(lo).alias("lo"),
                    F.lit(hi).alias("hi"),
                )
                for i, lo, hi in bounds
            ]
        )
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .select("event_type", grid_b.alias("b"))
        .select("event_type", "b.bucket_idx", "b.lo", "b.hi")
    )
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("bucket_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_lag = W.partitionBy("event_type").orderBy("bucket_idx")
    cum = (
        grid.join(bucketed, ["event_type", "bucket_idx"], "left")
        .withColumn("nn", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn("cum_n", F.sum("nn").over(w_cum))
        .withColumn(
            "total_n", F.sum("nn").over(W.partitionBy("event_type"))
        )
        .withColumn("prev_cum", F.lag("cum_n", 1, 0).over(w_lag))
    )
    in_bucket = F.col("cum_n") - F.col("prev_cum")
    rank = 0.95 * F.col("total_n")
    p95 = F.when(F.col("bucket_idx") == 5, F.lit(100.0)).otherwise(
        F.col("lo")
        + (rank - F.col("prev_cum")) / in_bucket * (F.col("hi") - F.col("lo"))
    )
    return (
        cum.filter((F.col("cum_n") >= rank) & (F.col("prev_cum") < rank))
        .select(
            "event_type",
            (F.floor(p95 * 1e6 + 0.5) / 1e6).alias("p95"),
        )
        .orderBy("event_type")
    )


@register(
    "promql_avg_max_over_time",
    oracle="""
    SELECT event_type, event_id,
           floor(CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) OVER w
                      AS DOUBLE) / count(*) OVER w + 0.5) / 1e4
               AS avg_15m,
           round(max(value) OVER w, 4) AS max_15m
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY epoch_us(ts)
                 RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, event_id
    """,
    doc="PromQL avg_over_time / max_over_time with a trailing 15-minute "
    "range vector, evaluated at every sample (the dashboard's smoothing "
    "panels): one RANGE window on integer epoch-microseconds per series "
    "— O(n log n) per partition, no self-join. The trailing mean goes "
    "through exact integer sums of 1e-4-quantized samples + floor-micro "
    "division so frame-accumulation order and engine round() differences "
    "cannot flip it; max is exact selection.",
    tags=("monitoring", "promql", "window", "timeseries"),
)
def promql_avg_max_over_time(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-900_000_000, 0)
    )
    avg_15m = (
        F.floor(
            F.sum(F.floor(F.col("value") * 1e4 + 0.5).cast("long"))
            .over(w)
            .cast("double")
            / F.count("*").over(w)
            + 0.5
        )
        / 1e4
    )
    return ev.select(
        "event_type",
        "event_id",
        avg_15m.alias("avg_15m"),
        F.round(F.max("value").over(w), 4).alias("max_15m"),
    ).orderBy("event_type", "event_id")


@register(
    "events_error_budget_burn",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err,
             count(*) AS n_total
      FROM events GROUP BY 1
    )
    SELECT hour_start, n_err, n_total,
           floor(CAST(n_err AS DOUBLE) / n_total / 0.02 * 1e6 + 0.5) / 1e6
               AS burn_rate
    FROM hourly
    WHERE CAST(n_err AS DOUBLE) / n_total > 0.02
    ORDER BY hour_start
    """,
    doc="SRE error-budget burn: hourly error ratio against a 2% SLO "
    "budget, emitting the hours whose burn rate exceeds 1x (the "
    "alerting-rule analog of the dashboard's error panels). One windowed "
    "aggregate on the hour bucket — counts are exact integers, the burn "
    "ratio derives from identical integers on both engines with "
    "floor-micro rounding.",
    tags=("monitoring", "agg", "timeseries"),
)
def events_error_budget_burn(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").start.alias("hour_start")
    ).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
        F.count("*").alias("n_total"),
    )
    ratio = F.col("n_err").cast("double") / F.col("n_total")
    return (
        hourly.filter(ratio > 0.02)
        .select(
            "hour_start",
            "n_err",
            "n_total",
            (F.floor(ratio / 0.02 * 1e6 + 0.5) / 1e6).alias("burn_rate"),
        )
        .orderBy("hour_start")
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH windows(w_id, w_start, w_end) AS (VALUES
        (1, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-07 00:00:00'),
        (2, TIMESTAMP '2024-01-12 06:00:00', TIMESTAMP '2024-01-13 18:00:00'),
        (3, TIMESTAMP '2024-01-20 12:00:00', TIMESTAMP '2024-01-25 00:00:00'))
    SELECT w_id, event_type, count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM windows JOIN events
      ON ts >= w_start AND ts < w_end
    GROUP BY w_id, event_type
    ORDER BY w_id, event_type
    """,
    doc="J5 depth — interval-overlap join: classify the event stream "
    "against a small table of maintenance windows (ts within [start, "
    "end)). The window table is a literal 3-row broadcast, so the "
    "non-equi join is a BroadcastNestedLoopJoin over a 3-row build side "
    "— the correct plan for tiny-interval x big-fact (at many intervals "
    "the scale path is the bucketed date-prefix equi-join used by "
    "rate_over_store's partition pruning).",
    tags=("join", "range", "agg"),
)
def join_interval_overlap(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    spark_windows = ev.sparkSession.createDataFrame(
        [
            (1, "2024-01-05 00:00:00", "2024-01-07 00:00:00"),
            (2, "2024-01-12 06:00:00", "2024-01-13 18:00:00"),
            (3, "2024-01-20 12:00:00", "2024-01-25 00:00:00"),
        ],
        "w_id int, w_start string, w_end string",
    ).select(
        "w_id",
        F.to_timestamp("w_start").alias("w_start"),
        F.to_timestamp("w_end").alias("w_end"),
    )
    return (
        ev.join(
            F.broadcast(spark_windows),
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        )
        .groupBy("w_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("w_id", "event_type")
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS active_day, user_id
              FROM events),
    wau AS (
      SELECT days.day AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM days JOIN pairs
        ON pairs.active_day BETWEEN days.day - INTERVAL 6 DAY AND days.day
      GROUP BY days.day
    )
    SELECT day, dau, wau,
           floor(CAST(dau AS DOUBLE) / wau * 1e6 + 0.5) / 1e6 AS stickiness
    FROM dau JOIN wau USING (day)
    ORDER BY day
    """,
    doc="DAU / trailing-7-day WAU / stickiness per day — the product-"
    "analytics staple over the event log. WAU needs distinct users over "
    "a sliding window, which does NOT decompose into per-day partials; "
    "the implementation range-joins the tiny distinct-day dimension "
    "(broadcast build side — 365 rows/year even at 100 TB) against the "
    "distinct (active_day, user) pairs and distinct-counts per anchor "
    "day. Anchoring on days (NOT on the pairs themselves) is load-"
    "bearing: a pair-anchored self-join only counts users active ON the "
    "anchor day, degenerating WAU to DAU. The exact-distinct sliding "
    "window is the honest cost; events_dau_wau_stickiness_approx is the "
    "registered scale default.",
    tags=("monitoring", "agg", "timeseries"),
)
def events_dau_wau_stickiness(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    day_user = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    days = day_user.select("day").distinct()
    pairs = day_user.select(
        F.col("day").alias("active_day"), "user_id"
    )
    wau = (
        F.broadcast(days)
        .join(
            pairs,
            (F.col("active_day") >= F.date_sub(F.col("day"), 6))
            & (F.col("active_day") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (
                F.floor(F.col("dau").cast("double") / F.col("wau") * 1e6 + 0.5)
                / 1e6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


def _dau_wau_hll_frame(spark, sf_dir, rsd: float):
    """Shared DAU/WAU aggregate for the HLL pair below: the sketch
    estimates and their exact twins ride the SAME groupBys so the bound
    checks compare like-for-like partitions."""
    ev = table(spark, sf_dir, "events")
    day_user = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = day_user.groupBy("day").agg(
        F.approx_count_distinct("user_id", rsd).alias("dau"),
        F.count_distinct("user_id").cast("long").alias("dau_exact"),
    )
    days = day_user.select("day").distinct()
    pairs = day_user.select(
        F.col("day").alias("active_day"), "user_id"
    )
    wau = (
        F.broadcast(days)
        .join(
            pairs,
            (F.col("active_day") >= F.date_sub(F.col("day"), 6))
            & (F.col("active_day") <= F.col("day")),
        )
        .groupBy("day")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("wau"),
            F.count_distinct("user_id").cast("long").alias("wau_exact"),
        )
    )
    return dau.join(wau, "day")


def _hll_within(approx: str, exact: str, rsd: float):
    err = F.abs(F.col(approx) - F.col(exact)).cast("double")
    bound = 6.0 * rsd * F.col(exact).cast("double")
    return F.when(err <= bound, F.lit(True)).otherwise(
        F.expr(
            f"raise_error(concat('HLL {approx} out of 6*rsd bounds"
            f" on day ', CAST(day AS STRING)))"
        ).cast("boolean")
    )


@register(
    "events_dau_wau_stickiness_approx",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau_exact
      FROM events GROUP BY 1
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS active_day, user_id
              FROM events),
    wau AS (
      SELECT days.day AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact
      FROM days JOIN pairs
        ON pairs.active_day BETWEEN days.day - INTERVAL 6 DAY AND days.day
      GROUP BY days.day
    )
    SELECT day, dau_exact, wau_exact,
           TRUE AS dau_within_6rsd, TRUE AS wau_within_6rsd,
           CAST(0.005 AS DOUBLE) AS rsd
    FROM dau JOIN wau USING (day)
    ORDER BY day
    """,
    doc="The registered 100 TB default for DAU/WAU/stickiness: identical "
    "range-join shape to events_dau_wau_stickiness but with "
    "approx_count_distinct (HLL++, rsd=0.005 => ~0.5% standard error) "
    "replacing the exact distinct — the sketches collapse map-side and "
    "merge associatively, partial aggregation the exact distinct cannot "
    "have. Hash-checkable BY CONSTRUCTION (r9 VERDICT item 6): the "
    "primary output carries only deterministic columns (day, exact "
    "twins, boolean bound verdicts, the rsd literal); the verdicts are "
    "computed from the REAL sketches and each row RAISES if |approx - "
    "exact| > 6*rsd*exact, so a sketch regression fails loudly instead "
    "of hashing green. The engine-specific estimates (and the approx "
    "stickiness) are served by the rows-only diagnostic twin "
    "events_dau_wau_stickiness_approx_diag. The *_exact columns are the "
    "embedded audit, not the serving path — at 100 TB the audit would "
    "run on a sampled partition.",
    tags=("monitoring", "agg", "timeseries", "approx"),
)
def events_dau_wau_stickiness_approx(spark, sf_dir):
    rsd = 0.005
    return (
        _dau_wau_hll_frame(spark, sf_dir, rsd)
        .select(
            "day",
            "dau_exact",
            "wau_exact",
            _hll_within("dau", "dau_exact", rsd).alias("dau_within_6rsd"),
            _hll_within("wau", "wau_exact", rsd).alias("wau_within_6rsd"),
            F.lit(rsd).alias("rsd"),
        )
        .orderBy("day")
    )


@register(
    "events_dau_wau_stickiness_approx_diag",
    oracle=None,  # raw HLL estimates are engine-specific by nature
    doc="Rows-only diagnostic twin of events_dau_wau_stickiness_approx: "
    "the raw HLL++ DAU/WAU estimates, the approx stickiness ratio, and "
    "the exact twins, for eyeballing sketch quality. The hash-checked "
    "bound verdicts live in the primary query.",
    tags=("monitoring", "agg", "timeseries", "approx", "diagnostic"),
)
def events_dau_wau_stickiness_approx_diag(spark, sf_dir):
    rsd = 0.005
    return (
        _dau_wau_hll_frame(spark, sf_dir, rsd)
        .select(
            "day",
            "dau",
            "wau",
            (
                F.floor(F.col("dau").cast("double") / F.col("wau") * 1e6 + 0.5)
                / 1e6
            ).alias("stickiness"),
            "dau_exact",
            "wau_exact",
        )
        .orderBy("day")
    )


@register(
    "agg_mode_most_frequent",
    oracle="""
    SELECT user_id, state AS modal_event_type, n AS n_occurrences
    FROM (
      SELECT user_id, event_type AS state, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    ORDER BY user_id
    """,
    doc="Exact mode per group with a deterministic tiebreak (highest "
    "count, then lexicographic): two-level aggregate — per-(key, value) "
    "counts collapse map-side, then a bounded per-key window picks the "
    "winner. The distributed-safe mode construction (no collect_list "
    "of raw values).",
    tags=("agg", "window"),
)
def agg_mode_most_frequent(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = W.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_event_type"),
            F.col("n").alias("n_occurrences"),
        )
        .orderBy("user_id")
    )


@register(
    "events_alert_flap_detection",
    oracle="""
    WITH states AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS alerting,
             lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_alerting
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN prev_alerting IS NOT NULL
                          AND alerting <> prev_alerting
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
           count(*) AS n_events
    FROM states
    GROUP BY user_id
    HAVING sum(CASE WHEN prev_alerting IS NOT NULL
                     AND alerting <> prev_alerting
                    THEN 1 ELSE 0 END) >= 10
    ORDER BY user_id
    """,
    doc="Alert flap detection: per series, count ok<->alerting state "
    "transitions (error vs non-error events) via one lag() window and "
    "flag series with >= 10 flaps — the alert-fatigue guard an alerting "
    "layer needs on top of threshold rules (pairs with "
    "events_error_budget_burn). One window sort per series + one "
    "aggregate; exact integer output.",
    tags=("monitoring", "window", "timeseries"),
)
def events_alert_flap_detection(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    alerting = F.when(F.col("event_type") == "error", 1).otherwise(0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    states = ev.select(
        "user_id",
        alerting.alias("alerting"),
        F.lag(alerting).over(w).alias("prev_alerting"),
    )
    flip = F.when(
        F.col("prev_alerting").isNotNull()
        & (F.col("alerting") != F.col("prev_alerting")),
        1,
    ).otherwise(0)
    return (
        states.groupBy("user_id")
        .agg(
            F.sum(flip).alias("n_transitions"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_transitions") >= 10)
        .orderBy("user_id")
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    WITH per_hour AS (
      SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
             CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT dow, hod,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_days,
           floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
               AS events_per_day
    FROM per_hour
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
    doc="Hour-of-day x day-of-week seasonality profile: average event "
    "volume per (dow, hod) cell over the days observed — the baseline "
    "surface an anomaly detector normalizes against (pairs with "
    "events_anomaly_zscore). Two exact integer aggregates; the per-day "
    "mean uses floor-micro division. DuckDB's dayofweek() is 0=Sunday, "
    "matching Spark's dayofweek()-1; both sides compute dow from the "
    "same UTC timestamps.",
    tags=("monitoring", "agg", "timeseries"),
)
def events_hourly_seasonality(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
        F.to_date("ts").alias("day"),
    ).agg(F.count("*").alias("n"))
    return (
        per_hour.groupBy("dow", "hod")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_days"),
            (
                F.floor(
                    F.sum("n").cast("double") / F.count("*") * 1e6 + 0.5
                )
                / 1e6
            ).alias("events_per_day"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "mqtt_topic_depth_stats",
    oracle=f"""
    WITH {_MSGS_CTE}
    SELECT broker,
           len(string_split(trim(topic, '/'), '/')) AS depth,
           count(*) AS n,
           min(topic) AS sample_topic
    FROM msgs
    GROUP BY 1, 2
    ORDER BY broker, depth
    """,
    doc="Topic-hierarchy depth profile per broker (segment count of the "
    "slash-separated topic path) — the namespace-shape probe used to "
    "sanity-check wildcard filter coverage (deep HFP journey topics vs "
    "flat GTFS-RT ones, FIXTURES.md §1). Narrow string ops + one "
    "aggregate; min(topic) gives a deterministic example per cell.",
    tags=("monitoring", "agg"),
)
def mqtt_topic_depth_stats(spark, sf_dir):
    msgs = messages_df(spark, sf_dir)
    depth = F.size(F.split(F.regexp_replace("topic", "^/+|/+$", ""), "/"))
    return (
        msgs.groupBy("broker", depth.alias("depth"))
        .agg(
            F.count("*").alias("n"),
            F.min("topic").alias("sample_topic"),
        )
        .orderBy("broker", "depth")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_state, event_type AS to_state,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT from_state, to_state, n,
           floor(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_state) * 1e6 + 0.5) / 1e6
             AS p
    FROM trans
    ORDER BY from_state, to_state
    """,
    doc="First-order Markov transition matrix over the event stream: "
    "per-user lag() gives (prev, next) state pairs, aggregated to "
    "counts and row-normalized probabilities — the user-journey / "
    "process-mining staple (and the input to any sequence-model "
    "baseline). One window sort per user partition + one bounded "
    "aggregate (|event_type|^2 cells); probabilities floor-micro'd so "
    "the division hashes identically cross-engine.",
    tags=("monitoring", "window", "agg"),
)
def events_transition_matrix(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_state"),
            F.col("event_type").alias("to_state"),
        )
        .agg(F.count("*").alias("n"))
    )
    w_norm = W.partitionBy("from_state")
    return trans.select(
        "from_state",
        "to_state",
        "n",
        (
            F.floor(
                F.col("n").cast("double")
                / F.sum("n").over(w_norm)
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("p"),
    ).orderBy("from_state", "to_state")


@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.event_id, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_anomalies,
           floor(max(d.adev / (1.4826 * m2.mad)) * 1e6 + 0.5) / 1e6
             AS max_robust_z
    FROM dev d JOIN mad m2 USING (event_type)
    WHERE m2.mad > 0 AND d.adev > 3 * 1.4826 * m2.mad
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="Robust anomaly detection via median absolute deviation: per "
    "event_type, |value - median| > 3 * 1.4826 * MAD flags outliers "
    "without the mean/stddev masking that breaks z-scores when the "
    "outliers themselves inflate sigma (the breakdown-point argument — "
    "complements events_anomaly_zscore). Two exact interpolated "
    "percentile aggregates (same cross-engine-stable idiom as "
    "agg_percentiles) + broadcast joins of the per-type scalars; the "
    "flagging pass is narrow.",
    tags=("monitoring", "agg", "timeseries"),
)
def events_anomaly_mad(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.col("adev") > 3 * 1.4826 * F.col("mad"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_anomalies"),
            (
                F.floor(
                    F.max(F.col("adev") / (1.4826 * F.col("mad"))) * 1e6 + 0.5
                )
                / 1e6
            ).alias("max_robust_z"),
        )
        .orderBy("event_type")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_purchase
      FROM s2
    ),
    pu AS (
      SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
             max(t_purchase) AS t_purchase
      FROM s3 GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS users_total,
           CAST(count(t_view) AS BIGINT) AS viewed,
           CAST(count(t_click) AS BIGINT) AS clicked,
           CAST(count(t_purchase) AS BIGINT) AS purchased,
           floor(CAST(count(t_click) AS DOUBLE) / count(t_view) * 1e6 + 0.5)
             / 1e6 AS click_conv,
           floor(CAST(count(t_purchase) AS DOUBLE) / count(t_click)
                 * 1e6 + 0.5) / 1e6 AS purchase_conv
    FROM pu
    """,
    doc="Ordered funnel view -> click -> purchase: per user, the earliest "
    "view, the earliest click strictly after that view, the earliest "
    "purchase strictly after that click (product-analytics event "
    "sequencing, the Amplitude/Mixpanel staple). Three chained window "
    "mins over ONE user partitioning — Spark plans a single shuffle and "
    "reuses the sort across all three passes. Conversion ratios "
    "floor-micro'd for cross-engine hash stability.",
    tags=("monitoring", "window", "agg"),
)
def events_funnel_conversion(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    s1 = ev.select("user_id", "event_type", "ts").withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    pu = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return pu.agg(
        F.count("*").alias("users_total"),
        F.count("t_view").alias("viewed"),
        F.count("t_click").alias("clicked"),
        F.count("t_purchase").alias("purchased"),
        (
            F.floor(
                F.count("t_click").cast("double") / F.count("t_view") * 1e6
                + 0.5
            )
            / 1e6
        ).alias("click_conv"),
        (
            F.floor(
                F.count("t_purchase").cast("double")
                / F.count("t_click")
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("purchase_conv"),
    )


@register(
    "events_retention_normalized",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    coh AS (
      SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id
    ),
    ret AS (
      SELECT c.cohort_wk,
             CAST(datediff('day', c.cohort_wk, a.wk) / 7 AS BIGINT)
               AS offset_w,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
      FROM act a JOIN coh c USING (user_id)
      WHERE datediff('day', c.cohort_wk, a.wk) / 7 <= 8
      GROUP BY 1, 2
    )
    SELECT cohort_wk, offset_w, users,
           floor(CAST(users AS DOUBLE)
                 / max(CASE WHEN offset_w = 0 THEN users END)
                     OVER (PARTITION BY cohort_wk) * 1e6 + 0.5) / 1e6
             AS retention
    FROM ret
    ORDER BY cohort_wk, offset_w
    """,
    doc="Normalized weekly retention: cohort = ISO week of a user's "
    "first activity; cell (cohort, offset) counts distinct users from "
    "that cohort active offset weeks later, normalized by the cohort's "
    "week-0 size (the growth-analytics triangle chart). Two user-keyed "
    "aggregates + one user-keyed join — all co-partitioned on user_id, "
    "one logical shuffle chain; the final window runs over the tiny "
    "(cohort x offset) grid.",
    tags=("monitoring", "agg", "join"),
)
def events_retention_normalized(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    off = (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).cast("long")
    ret = (
        act.join(coh, "user_id")
        .withColumn("offset_w", off)
        .filter(F.col("offset_w") <= 8)
        .groupBy("cohort_wk", "offset_w")
        .agg(F.countDistinct("user_id").alias("users"))
    )
    w0 = W.partitionBy("cohort_wk")
    return ret.select(
        "cohort_wk",
        "offset_w",
        "users",
        (
            F.floor(
                F.col("users").cast("double")
                / F.max(
                    F.when(F.col("offset_w") == 0, F.col("users"))
                ).over(w0)
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("retention"),
    ).orderBy("cohort_wk", "offset_w")


@register(
    "events_pivot_daily_wide",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(count(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1 ORDER BY day
    """,
    doc="Long-to-wide pivot: daily event counts spread into one column "
    "per event type (the wide metrics table every dashboard join "
    "wants). Spark side exercises the real "
    "RelationalGroupedDataset.pivot operator WITH explicit pivot "
    "values — omitting them would trigger a blocking distinct-scan "
    "job to discover the columns, the classic pivot scale trap. One "
    "shuffle; pivot columns aliased to stable names on both engines.",
    tags=("monitoring", "agg", "pivot"),
)
def events_pivot_daily_wide(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", types)
        .count()
    )
    out = wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    ).withColumn(
        "n_total",
        sum(F.col(f"n_{t}") for t in types).cast("long"),
    )
    return out.orderBy("day")


@register(
    "events_histogram_equiwidth",
    oracle="""
    WITH ext AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM events GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             least(CAST(floor((e.value - x.lo) / ((x.hi - x.lo) / 10))
                        AS BIGINT), 9) AS bin,
             x.lo, x.hi
      FROM events e JOIN ext x USING (event_type)
      WHERE x.hi > x.lo
    )
    SELECT event_type, bin,
           floor((lo + bin * (hi - lo) / 10) * 1e6 + 0.5) / 1e6
             AS bin_lo,
           floor((lo + (bin + 1) * (hi - lo) / 10) * 1e6 + 0.5) / 1e6
             AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
    FROM binned
    GROUP BY event_type, bin, lo, hi
    ORDER BY event_type, bin
    """,
    doc="Equi-width histogram (10 bins) of value per event_type — the "
    "profiling primitive behind every numeric-column data-quality "
    "report. Extent aggregate collapses map-side to |event_type| rows "
    "and broadcasts back; binning is a narrow codegen'd floor — the "
    "identical IEEE expression on both engines, so bin edges hash "
    "exactly after floor-micro.",
    tags=("monitoring", "agg"),
)
def events_histogram_equiwidth(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = (
        ev.join(F.broadcast(ext), "event_type")
        .filter(F.col("hi") > F.col("lo"))
        .withColumn(
            "bin",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10)
                ).cast("long"),
                F.lit(9).cast("long"),
            ),
        )
    )
    return (
        binned.groupBy("event_type", "bin", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bin",
            (
                F.floor(
                    (F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 10)
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("bin_lo"),
            (
                F.floor(
                    (
                        F.col("lo")
                        + (F.col("bin") + 1) * (F.col("hi") - F.col("lo")) / 10
                    )
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("bin_hi"),
            "n",
        )
        .orderBy("event_type", "bin")
    )


@register(
    "events_corr_value_hour",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(hour(ts) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy))
                 * 1e6 + 0.5) / 1e6 AS corr_value_hour
    FROM s ORDER BY event_type
    """,
    doc="Pearson correlation between value and hour-of-day per "
    "event_type, computed from EXACT centi-quantized integer moment "
    "sums (sum x, sum y, sum xy, sum x^2, sum y^2) instead of the "
    "built-in corr() — float moment accumulation is addition-order "
    "dependent and would hash-diverge across engines; integer sums "
    "are associative, then one pinned double combination at the end. "
    "Overflow bound documented: |x| <= 1e7 (value < 1e5), so "
    "sum(x^2) fits BIGINT to ~1e4 G rows per group. Single map-side "
    "partial aggregate, |event_type| result rows.",
    tags=("monitoring", "agg"),
)
def events_corr_value_hour(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    s = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n_d * F.col("sxy") - sx_d * F.col("sy")
    den = F.sqrt(n_d * F.col("sxx") - sx_d * F.col("sx")) * F.sqrt(
        n_d * F.col("syy") - sy_d * F.col("sy")
    )
    return s.select(
        "event_type",
        "n",
        (F.floor(num / den * 1e6 + 0.5) / 1e6).alias("corr_value_hour"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential): the coupled recurrences
#   level_t = a*y_t + (1-a)*(level_{t-1} + trend_{t-1})
#   trend_t = b*(level_t - level_{t-1}) + (1-b)*trend_{t-1}
# are linear in the inputs, so the (level, trend) state at the series tail
# is a FIXED linear combination of the last K observations (zero-init
# truncated kernel — same discipline as timeseries_ewma's 32-lag cut; the
# companion-matrix spectral radius < 1 for these a, b, so the truncation
# residual decays geometrically). The kernels are precomputed HERE as
# impulse responses and embedded as shortest-repr double literals, which
# round-trip bit-identically in both engines; each term is nano-quantized
# so the sums are exact integer addition.

_HOLT_ALPHA, _HOLT_BETA, _HOLT_K = 0.3, 0.2, 32
_HOLT_HS = (1, 3, 6)  # forecast horizons


def _holt_kernels() -> tuple[list[float], list[float]]:
    """(level, trend) coefficients of y_{t-k}, k = 0 (newest) .. K-1."""
    cs, ds = [], []
    for j in range(_HOLT_K):
        lv = tr = 0.0
        for i in range(_HOLT_K):
            y = 1.0 if (_HOLT_K - 1 - i) == j else 0.0
            lv_new = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (lv + tr)
            tr = _HOLT_BETA * (lv_new - lv) + (1 - _HOLT_BETA) * tr
            lv = lv_new
        cs.append(lv)
        ds.append(tr)
    return cs, ds


_HOLT_C, _HOLT_D = _holt_kernels()


def _holt_oracle() -> str:
    carr = "[" + ", ".join(repr(c) for c in _HOLT_C) + "]"
    darr = "[" + ", ".join(repr(d) for d in _HOLT_D) + "]"
    fcols = ", ".join(
        f"floor(CAST(num_l + {h} * num_b AS DOUBLE) / 1e9 * 1e6 + 0.5)"
        f" / 1e6 AS forecast_h{h}"
        for h in _HOLT_HS
    )
    return f"""
    WITH ordered AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) - 1 AS k
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CAST(floor(value * ({carr})[k + 1] * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS num_l,
             CAST(sum(CAST(floor(value * ({darr})[k + 1] * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS num_b
      FROM ordered WHERE k < {_HOLT_K}
      GROUP BY event_type
    ),
    full_keys AS (
      SELECT event_type FROM events
      GROUP BY event_type HAVING count(*) >= {_HOLT_K}
    )
    SELECT a.event_type,
           floor(CAST(num_l AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS level,
           floor(CAST(num_b AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS trend,
           {fcols}
    FROM agg a JOIN full_keys USING (event_type)
    ORDER BY event_type
    """


@register(
    "events_holt_linear_forecast",
    oracle=_holt_oracle(),
    doc="Holt linear-trend (double exponential) smoothing per event_type "
    f"(alpha={_HOLT_ALPHA}, beta={_HOLT_BETA}): tail level + trend and "
    f"h={_HOLT_HS} step-ahead forecasts — the trend-aware upgrade of the "
    "EWMA dashboard line (capacity forecasting: 'will this counter "
    "cross the threshold in h windows?'). The coupled recurrences are "
    "linear, so the tail state is a fixed kernel over the last "
    f"{_HOLT_K} observations — kernels precomputed as impulse responses "
    "and embedded as double literals, each term nano-quantized so the "
    "sum is exact integer addition (the timeseries_ewma discipline "
    "extended to a 2-dimensional state). Keys with fewer than "
    f"{_HOLT_K} observations are excluded (no partial-kernel bias). "
    "Scale shape: one per-key top-K window (WindowGroupLimit), one "
    "partial+final aggregate; |event_type| output rows.",
    tags=("monitoring", "window", "timeseries"),
)
def events_holt_linear_forecast(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    lastk = (
        ev.select(
            "event_type",
            "value",
            (F.row_number().over(w) - 1).alias("k"),
        )
        .filter(F.col("k") < _HOLT_K)
    )
    carr = F.array(*[F.lit(c) for c in _HOLT_C])
    darr = F.array(*[F.lit(d) for d in _HOLT_D])
    ki = (F.col("k") + 1).cast("int")
    agg = lastk.groupBy("event_type").agg(
        F.sum(
            F.floor(F.col("value") * F.element_at(carr, ki) * 1e9 + 0.5)
            .cast("long")
        ).alias("num_l"),
        F.sum(
            F.floor(F.col("value") * F.element_at(darr, ki) * 1e9 + 0.5)
            .cast("long")
        ).alias("num_b"),
    )
    full_keys = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= _HOLT_K)
        .select("event_type")
    )

    def micro(col):
        return F.floor(col.cast("double") / 1e9 * 1e6 + 0.5) / 1e6

    out = agg.join(F.broadcast(full_keys), "event_type").select(
        "event_type",
        micro(F.col("num_l")).alias("level"),
        micro(F.col("num_b")).alias("trend"),
        *[
            micro(F.col("num_l") + h * F.col("num_b")).alias(f"forecast_h{h}")
            for h in _HOLT_HS
        ],
    )
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# EWMA: bounded-lag exponential smoothing. The recurrence
# ewma_t = a*x_t + (1-a)*ewma_{t-1} is inherently sequential; truncating the
# kernel at K lags (weight mass below 1 - (1-a)^K ~ 1 - 8e-4 for a=0.2, K=32)
# turns it into a FIXED weighted sum over a bounded window — embarrassingly
# parallel, one window sort per key, no recursion. Per-term nano-quantization
# (floor(w_k * x * 1e9 + 0.5) with literal w_k) makes the sum exact integer
# accumulation, hash-identical cross-engine.
_EWMA_ALPHA = 0.2
_EWMA_K = 32
_EWMA_W = [
    _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k for k in range(_EWMA_K)
]  # shortest-repr literals round-trip to the same double in both engines
_EWMA_WQ = [int(w * 1e9 + 0.5) for w in _EWMA_W]  # denominator weights


def _ewma_oracle() -> str:
    num_terms = " + ".join(
        f"coalesce(CAST(floor(lag(value, {k}) OVER w * {w!r} * 1e9 + 0.5) "
        f"AS BIGINT), 0)"
        for k, w in enumerate(_EWMA_W)
    )
    den_terms = " + ".join(
        f"(CASE WHEN lag(value, {k}) OVER w IS NOT NULL "
        f"THEN {wq} ELSE 0 END)"
        for k, wq in enumerate(_EWMA_WQ)
    )
    return f"""
    SELECT event_id, event_type,
           floor(CAST({num_terms} AS DOUBLE)
                 / CAST({den_terms} AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ewma
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ORDER BY event_id
    """


@register(
    "timeseries_ewma",
    oracle=_ewma_oracle(),
    doc="Exponentially-weighted moving average of value per event_type "
    "(alpha=0.2), the smoothing curve behind every monitoring "
    "dashboard trend line. The sequential recurrence is re-expressed "
    "as a 32-lag truncated kernel (residual weight mass < 1e-3): one "
    "window sort per key, ONE frame-array window expression folded by a "
    "codegen'd higher-order aggregate, zero recursion, "
    "zero Python — the parallelizable form the recurrence can't give. "
    "Each term nano-quantized with a literal weight so the numerator "
    "is exact integer addition; renormalized by the weight actually "
    "present so series heads aren't biased toward 0.",
    tags=("monitoring", "window", "timeseries"),
)
def timeseries_ewma(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    # ONE window expression (a K-row frame collected per row) + one
    # codegen'd fold, instead of K separate lag() evaluations: ~1.4x
    # faster at sf0.1 and the same exact terms — element_at(vals, sz-k)
    # IS lag(value, k) because the frame is ordered by the window sort
    # (value is non-null in this table; a nullable measure would need the
    # lag form, collect_list drops nulls). The fold adds the identical
    # floor(w_k * x * 1e9 + 0.5) integers the lag form (and the DuckDB
    # oracle) add, so the hash cannot move.
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    base = ev.select(
        "event_id",
        "event_type",
        F.collect_list("value").over(w).alias("vals"),
    )
    sz = F.size("vals")
    ks = F.sequence(F.lit(0), F.least(sz - 1, F.lit(_EWMA_K - 1)))
    warr = F.array(*[F.lit(float(x)) for x in _EWMA_W])
    wqarr = F.array(*[F.lit(int(q)) for q in _EWMA_WQ])
    num = F.aggregate(
        ks,
        F.lit(0).cast("long"),
        lambda acc, k: acc
        + F.floor(
            F.element_at(F.col("vals"), (sz - k).cast("int"))
            * F.element_at(warr, (k + 1).cast("int"))
            * 1e9
            + 0.5
        ).cast("long"),
    )
    den = F.aggregate(
        ks,
        F.lit(0).cast("long"),
        lambda acc, k: acc + F.element_at(wqarr, (k + 1).cast("int")).cast("long"),
    )
    return base.select(
        "event_id",
        "event_type",
        (
            F.floor(num.cast("double") / den.cast("double") * 1e6 + 0.5)
            / 1e6
        ).alias("ewma"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# PageRank over the event-type transition graph: bounded-round BSP with
# nano-integer rank mass so every iteration is exact integer arithmetic —
# the DuckDB oracle replays the identical 10 rounds in a recursive CTE.
_PR_ROUNDS = 10
_PR_DAMP = 0.85

_PR_EDGES_SQL = """
      SELECT prev_type AS u, event_type AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
      ) WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
"""


@register(
    "graph_pagerank_transitions",
    oracle=f"""
    WITH RECURSIVE
    edges AS ({_PR_EDGES_SQL}),
    outs AS (
      SELECT u, CAST(sum(n) AS BIGINT) AS out_n FROM edges GROUP BY u
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
    pr AS (
      SELECT 0 AS iter, node,
             CAST(floor(1e9 / n_nodes) AS BIGINT) AS rank_n
      FROM nodes, nn
      UNION ALL
      SELECT p.iter + 1, p.node,
             CAST(floor({1 - _PR_DAMP} * 1e9 / (SELECT n_nodes FROM nn))
                  AS BIGINT)
             + coalesce((
                 SELECT CAST(sum(CAST(floor(CAST(p2.rank_n AS DOUBLE)
                                            * {_PR_DAMP} * e.n / o.out_n)
                                      AS BIGINT)) AS BIGINT)
                 FROM pr p2
                 JOIN edges e ON e.u = p2.node AND e.v = p.node
                 JOIN outs o ON o.u = p2.node
               ), 0) AS rank_n
      FROM pr p WHERE p.iter < {_PR_ROUNDS}
    )
    SELECT node, rank_n,
           floor(CAST(rank_n AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS rank
    FROM pr WHERE iter = {_PR_ROUNDS}
    ORDER BY node
    """,
    doc="PageRank (damping 0.85, 10 fixed rounds) over the event-type "
    "transition graph — the bounded-round BSP iteration pattern "
    "(join rank with edges -> aggregate per target -> next round) "
    "that scales to web-graph-sized node sets; complements the "
    "min-label-propagation connected components with WEIGHTED "
    "propagation. Rank mass is a nano-integer (1e9 total), every "
    "round's redistribution is floor'd integer arithmetic, so the "
    "DuckDB recursive-CTE oracle replays all 10 rounds bit-exactly. "
    "Spark side: per-round equi-join + aggregate with eager localCheckpoint "
    "lineage truncation every 2 rounds (the connected-components "
    "discipline, operators/components.py).",
    tags=("monitoring", "graph", "join", "agg"),
)
def graph_pagerank_transitions(spark, sf_dir):
    return _pagerank_body(spark, sf_dir)


#: edge-count gate for the driver-side PageRank iteration: the transition
#: graph is DIMENSION-sized (nodes = distinct event_type values), so the
#: whole 10-round iteration runs over a handful of rows while paying ~5
#: distributed jobs per round in scheduling. At or below this many edges
#: the rounds run as exact integer/IEEE-double arithmetic on the driver
#: (identical expression order to the distributed path, pinned by
#: tests/test_plans.py gate-on == gate-off) after the ONE corpus-scale
#: stage (lag-window + aggregate) built the edge table distributed.
#: Above the gate — a genuinely large graph — the BSP rounds below run
#: unchanged, so the 100 TB path never iterates on the driver. Same
#: bounded-driver-traffic contract class as
#: operators/components.DRIVER_UNION_FIND_MAX_BIDIR_EDGES.
_PR_DRIVER_MAX_EDGES = 100_000


def _pagerank_body(spark, sf_dir, driver_max_edges: int = _PR_DRIVER_MAX_EDGES):
    import math

    ev = table(spark, sf_dir, "events")
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wlag).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("u"), F.col("event_type").alias("v"))
        .agg(F.count("*").alias("n"))
    )
    outs = edges.groupBy("u").agg(F.sum("n").alias("out_n"))
    # materialize the dimension-sized edge table ONCE (eager
    # localCheckpoint): the lazy plan would otherwise re-derive the
    # lag-window + aggregate subtree in every one of the 10 rounds
    ew_tab = edges.join(outs, "u").localCheckpoint()
    ew = F.broadcast(ew_tab)
    nodes = ev.select(F.col("event_type").alias("node")).distinct().localCheckpoint()
    # the edge count is one scalar; the checkpoint is hot
    if driver_max_edges and ew_tab.count() <= driver_max_edges:
        node_ids = [r["node"] for r in nodes.collect()]
        # an empty graph (1e9 / 0 nodes) or a NULL node id (sorted()
        # cannot order it) falls through to the distributed rounds below
        if node_ids and None not in node_ids:
            erows = [
                (r["u"], r["v"], int(r["n"]), int(r["out_n"]))
                for r in ew_tab.collect()
            ]
            nn = len(node_ids)
            # identical arithmetic to the distributed rounds below, term
            # for term: every product/division is IEEE double exactly as
            # Catalyst evaluates it, floors land on exact integers, and
            # the per-target contribution sum is exact LONG addition
            rank_d = {v: int(math.floor(1e9 / nn)) for v in node_ids}
            base_d = int(math.floor((1 - _PR_DAMP) * 1e9 / nn))
            for _ in range(_PR_ROUNDS):
                contrib: dict = {}
                for u, v, n_uv, out_n in erows:
                    if u not in rank_d:  # mirrors the inner join on u
                        continue
                    c = int(
                        math.floor(float(rank_d[u]) * _PR_DAMP * n_uv / out_n)
                    )
                    contrib[v] = contrib.get(v, 0) + c
                rank_d = {v: base_d + contrib.get(v, 0) for v in node_ids}
            out_rows = [
                (
                    v,
                    rank_d[v],
                    math.floor(rank_d[v] / 1e9 * 1e6 + 0.5) / 1e6,
                )
                for v in sorted(node_ids)
            ]
            return spark.createDataFrame(
                out_rows, "node string, rank_n long, rank double"
            ).orderBy("node")
    n_nodes = nodes.agg(F.count("*").alias("n_nodes"))
    rank = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            F.floor(F.lit(1e9) / F.col("n_nodes")).cast("long").alias("rank_n"),
        )
    )
    base = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            F.floor(F.lit((1 - _PR_DAMP) * 1e9) / F.col("n_nodes"))
            .cast("long")
            .alias("base_n"),
        )
    )
    for i in range(_PR_ROUNDS):
        contrib = (
            rank.join(ew, rank["node"] == ew["u"])
            .select(
                F.col("v").alias("node"),
                F.floor(
                    F.col("rank_n").cast("double")
                    * _PR_DAMP
                    * F.col("n")
                    / F.col("out_n")
                )
                .cast("long")
                .alias("c_n"),
            )
            .groupBy("node")
            .agg(F.sum("c_n").alias("in_n"))
        )
        rank = base.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.col("base_n") + F.coalesce(F.col("in_n"), F.lit(0))
            ).alias("rank_n"),
        )
        if (i + 1) % 2 == 0 and i + 1 < _PR_ROUNDS:
            # EAGER checkpoint: truncating the unrolled lineage while it
            # is still shallow keeps Catalyst's per-round optimization
            # cost linear (a lazy checkpoint only truncates at the final
            # action, after the full 10-round plan has been analyzed —
            # measured 3.4s vs 2.6s at sf0.1)
            rank = rank.localCheckpoint(eager=True)
    return rank.select(
        "node",
        "rank_n",
        (
            F.floor(F.col("rank_n").cast("double") / 1e9 * 1e6 + 0.5) / 1e6
        ).alias("rank"),
    ).orderBy("node")


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH q AS (
      SELECT event_type, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sx
      FROM q GROUP BY event_type
    ),
    dev AS (
      SELECT q.event_type, q.event_id, q.ts,
             s.n * q.xc - s.sx AS d, s.n
      FROM q JOIN st s USING (event_type)
    ),
    cum0 AS (
      SELECT event_type, event_id, ts, n,
             sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s_cum
      FROM dev
    ),
    cum AS (
      SELECT event_type, event_id, ts, n, s_cum,
             least(min(s_cum) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING), 0) AS s_min
      FROM cum0
    ),
    ranked AS (
      SELECT event_type, event_id, ts,
             CAST(s_cum - s_min AS BIGINT) AS cusum_raw, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s_cum - s_min DESC, ts, event_id)
               AS rn
      FROM cum
    )
    SELECT event_type, event_id AS changepoint_event_id, ts AS changepoint_ts,
           floor(CAST(cusum_raw AS DOUBLE) / (n * 100.0) * 1e6 + 0.5) / 1e6
             AS max_drift
    FROM ranked WHERE rn = 1 ORDER BY event_type
    """,
    doc="CUSUM change-point detection per event_type: the one-sided "
    "cumulative-sum statistic max(0, S_{i-1} + dev_i) re-expressed "
    "through the prefix-sum identity cusum_i = cumsum(dev) - "
    "running_min(cumsum(dev)) — which turns the inherently sequential "
    "recursion into two stacked window aggregates over ONE sort "
    "(the same parallelization move as the EWMA kernel). Deviations "
    "are mean-centered IN INTEGERS (n*x_centi - sum_centi — exact, no "
    "float mean), so every prefix sum is exact; the drift location is "
    "the argmax row. Overflow bound: |dev| <= 2*n*max_centi, prefix "
    "sums <= n^2 * max_centi ~ 1e19 at 1e6 rows/group x value<1e5 — "
    "document-checked, generalizes by chunked re-centering. One "
    "shuffle for the stats join (broadcast), one window sort.",
    tags=("monitoring", "window", "timeseries"),
)
def events_cusum_changepoint(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("xc"),
    )
    st = q.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("xc").alias("sx")
    )
    dev = q.join(F.broadcast(st), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (F.col("n") * F.col("xc") - F.col("sx")).alias("d"),
        "n",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # the identity needs the EMPTY prefix (S_0 = 0) in the running min,
    # else a series that drifts up from the first row is clipped to 0
    cum = dev.withColumn("s_cum", F.sum("d").over(w)).withColumn(
        "s_min", F.least(F.min("s_cum").over(w), F.lit(0))
    )
    ranked = cum.withColumn(
        "cusum_raw", (F.col("s_cum") - F.col("s_min")).cast("long")
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(
                F.desc(F.col("s_cum") - F.col("s_min")), "ts", "event_id"
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("event_id").alias("changepoint_event_id"),
            F.col("ts").alias("changepoint_ts"),
            (
                F.floor(
                    F.col("cusum_raw").cast("double")
                    / (F.col("n") * 100.0)
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("max_drift"),
        )
        .orderBy("event_type")
    )


@register(
    "events_seasonal_effects",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(hour(ts) AS BIGINT) AS hod,
             CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,  -- Spark 1-7 Sun=1
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc
      FROM events
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sx
      FROM q GROUP BY event_type
    ),
    hod_e AS (
      SELECT q.event_type, 'hod' AS component, q.hod AS idx,
             CAST(count(*) AS BIGINT) AS n_rows,
             floor((CAST(sum(q.xc) AS DOUBLE) / count(*)
                    - CAST(t.sx AS DOUBLE) / t.n) / 100 * 1e6 + 0.5) / 1e6
               AS effect
      FROM q JOIN tot t USING (event_type)
      GROUP BY q.event_type, q.hod, t.sx, t.n
    ),
    dow_e AS (
      SELECT q.event_type, 'dow' AS component, q.dow AS idx,
             CAST(count(*) AS BIGINT) AS n_rows,
             floor((CAST(sum(q.xc) AS DOUBLE) / count(*)
                    - CAST(t.sx AS DOUBLE) / t.n) / 100 * 1e6 + 0.5) / 1e6
               AS effect
      FROM q JOIN tot t USING (event_type)
      GROUP BY q.event_type, q.dow, t.sx, t.n
    )
    SELECT * FROM hod_e
    UNION ALL
    SELECT * FROM dow_e
    ORDER BY event_type, component, idx
    """,
    doc="Additive seasonal decomposition (STL-lite): per event_type, the "
    "hour-of-day and day-of-week effects as deviations of the bucket "
    "mean from the overall mean — the baseline surface behind "
    "'is this metric low for a Tuesday 3am?' alerting (pairs with "
    "events_hourly_seasonality and the anomaly queries). Exact "
    "centi-integer sums; the two divisions and the subtraction are the "
    "identical IEEE expression on both engines, then floor-micro. Two "
    "map-side-combining aggregates + one broadcast stats join; output "
    "is |event_type| x 31 rows.",
    tags=("monitoring", "agg", "timeseries"),
)
def events_seasonal_effects(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.dayofweek("ts").cast("long").alias("dow"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("xc"),
    )
    tot = q.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("xc").alias("sx")
    )

    def effects(key, label):
        return (
            q.groupBy("event_type", F.col(key).alias("idx"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("xc").alias("s_bucket"),
            )
            .join(F.broadcast(tot), "event_type")
            .select(
                "event_type",
                F.lit(label).alias("component"),
                "idx",
                "n_rows",
                (
                    F.floor(
                        (
                            F.col("s_bucket").cast("double") / F.col("n_rows")
                            - F.col("sx").cast("double") / F.col("n")
                        )
                        / 100
                        * 1e6
                        + 0.5
                    )
                    / 1e6
                ).alias("effect"),
            )
        )

    return (
        effects("hod", "hod")
        .unionByName(effects("dow", "dow"))
        .orderBy("event_type", "component", "idx")
    )


@register(
    "profile_events_columns",
    oracle="""
    SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           floor(CAST(min(event_id) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS min_val,
           floor(CAST(max(event_id) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_val
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           floor(CAST(min(user_id) AS DOUBLE) * 1e6 + 0.5) / 1e6,
           floor(CAST(max(user_id) AS DOUBLE) * 1e6 + 0.5) / 1e6
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           floor(min(value) * 1e6 + 0.5) / 1e6,
           floor(max(value) * 1e6 + 0.5) / 1e6
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           NULL, NULL
    FROM events
    UNION ALL
    SELECT 'ts', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(ts) AS BIGINT),
           CAST(count(DISTINCT ts) AS BIGINT),
           floor(epoch(min(ts)) * 1e6 + 0.5) / 1e6,
           floor(epoch(max(ts)) * 1e6 + 0.5) / 1e6
    FROM events
    ORDER BY col_name
    """,
    doc="Column-profiling report over the event log: per column, row "
    "count, null count, exact distinct count, and micro-rounded "
    "numeric extent (epoch seconds for timestamps) — the data-quality "
    "summary every ingestion pipeline runs before anything else. "
    "Computed as ONE pass per profiled column set via a single "
    "multi-aggregate projection (Spark side groups all aggregates "
    "into one stage over one scan; the UNION in the oracle is "
    "DuckDB-side presentation). At scale distinct counts switch to "
    "approx_count_distinct — registered exact here so the oracle "
    "hashes.",
    tags=("monitoring", "agg", "profiling"),
)
def profile_events_columns(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count("*").alias("n"),
        F.count("event_id").alias("c_event_id"),
        F.countDistinct("event_id").alias("d_event_id"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.count("user_id").alias("c_user_id"),
        F.countDistinct("user_id").alias("d_user_id"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        F.count("value").alias("c_value"),
        F.countDistinct("value").alias("d_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("event_type").alias("c_event_type"),
        F.countDistinct("event_type").alias("d_event_type"),
        F.count("ts").alias("c_ts"),
        F.countDistinct("ts").alias("d_ts"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
    )

    def fm(col):
        return F.floor(col.cast("double") * 1e6 + 0.5) / 1e6

    rows = [
        agg.select(
            F.lit("event_id").alias("col_name"),
            F.col("n"),
            (F.col("n") - F.col("c_event_id")).alias("n_null"),
            F.col("d_event_id").alias("n_distinct"),
            fm(F.col("min_event_id")).alias("min_val"),
            fm(F.col("max_event_id")).alias("max_val"),
        ),
        agg.select(
            F.lit("user_id").alias("col_name"),
            F.col("n"),
            (F.col("n") - F.col("c_user_id")).alias("n_null"),
            F.col("d_user_id").alias("n_distinct"),
            fm(F.col("min_user_id")).alias("min_val"),
            fm(F.col("max_user_id")).alias("max_val"),
        ),
        agg.select(
            F.lit("value").alias("col_name"),
            F.col("n"),
            (F.col("n") - F.col("c_value")).alias("n_null"),
            F.col("d_value").alias("n_distinct"),
            fm(F.col("min_value")).alias("min_val"),
            fm(F.col("max_value")).alias("max_val"),
        ),
        agg.select(
            F.lit("event_type").alias("col_name"),
            F.col("n"),
            (F.col("n") - F.col("c_event_type")).alias("n_null"),
            F.col("d_event_type").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_val"),
            F.lit(None).cast("double").alias("max_val"),
        ),
        agg.select(
            F.lit("ts").alias("col_name"),
            F.col("n"),
            (F.col("n") - F.col("c_ts")).alias("n_null"),
            F.col("d_ts").alias("n_distinct"),
            fm(F.col("min_ts_us") / 1e6).alias("min_val"),
            fm(F.col("max_ts_us") / 1e6).alias("max_val"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col_name")


# Benford first-digit probabilities log10(1 + 1/d) as shortest-repr
# literals — identical doubles in both engines.
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_CASE_SQL = "CASE d " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items()
) + " END"


@register(
    "events_benford_deviation",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM events WHERE value >= 0.01
    ),
    c AS (
      SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_obs
      FROM q GROUP BY event_type, d
    ),
    t AS (
      SELECT event_type, CAST(sum(n_obs) AS BIGINT) AS n_tot
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, c.d AS digit, c.n_obs,
           floor(CAST(c.n_obs AS DOUBLE) / t.n_tot * 1e6 + 0.5) / 1e6
             AS p_obs,
           floor(({_BENFORD_CASE_SQL}) * 1e6 + 0.5) / 1e6 AS p_benford
    FROM c JOIN t USING (event_type)
    ORDER BY event_type, digit
    """,
    doc="Benford's-law first-digit profile of value per event_type — the "
    "fraud / synthetic-data smell test: natural multi-scale magnitudes "
    "follow p(d) = log10(1 + 1/d); flat or spiked digit histograms "
    "flag fabricated or clipped data. The leading digit is taken from "
    "the centi-integer's decimal string (pure integer -> string, no "
    "libm log10 on data), and the Benford expectations are baked-in "
    "shortest-repr literals — both engines see identical doubles. One "
    "map-side-combining aggregate over <= 9 digits x |event_type|.",
    tags=("monitoring", "agg", "profiling"),
)
def events_benford_deviation(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    q = ev.filter(F.col("value") >= 0.01).select(
        "event_type",
        F.substring(
            F.floor(F.col("value") * 100 + 0.5).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("d"),
    )
    c = q.groupBy("event_type", "d").agg(F.count("*").alias("n_obs"))
    t = c.groupBy("event_type").agg(F.sum("n_obs").alias("n_tot"))
    bcase = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        bcase = F.when(F.col("d") == d, F.lit(p)).otherwise(bcase)
    return (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            F.col("d").alias("digit"),
            "n_obs",
            (
                F.floor(F.col("n_obs").cast("double") / F.col("n_tot") * 1e6 + 0.5)
                / 1e6
            ).alias("p_obs"),
            (F.floor(bcase * 1e6 + 0.5) / 1e6).alias("p_benford"),
        )
        .orderBy("event_type", "digit")
    )


@register(
    "events_time_to_convert",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_view
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_purchase
      FROM s1
    ),
    lat AS (
      SELECT user_id,
             CAST(epoch_us(max(t_purchase)) - epoch_us(max(t_view))
                  AS BIGINT) AS us
      FROM s2 GROUP BY user_id
      HAVING max(t_purchase) IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           floor(quantile_cont(us, 0.5) / 1e6 * 1e6 + 0.5) / 1e6 AS p50_s,
           floor(quantile_cont(us, 0.9) / 1e6 * 1e6 + 0.5) / 1e6 AS p90_s
    FROM lat
    """,
    doc="Conversion-latency distribution: per user, microseconds from "
    "first view to the first purchase after it; report count + "
    "interpolated p50/p90 in seconds (the product-analytics SLA "
    "metric next to the funnel). Latencies are exact integer "
    "microseconds, so the interpolated percentiles are pinned doubles "
    "on both engines (agg_percentiles precedent), floor-micro'd. Same "
    "one-shuffle chained-window shape as events_funnel_conversion.",
    tags=("monitoring", "window", "agg"),
)
def events_time_to_convert(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    s1 = ev.select("user_id", "event_type", "ts").withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    lat = (
        s2.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_purchase").alias("t_purchase"),
        )
        .filter(F.col("t_purchase").isNotNull())
        .select(
            (
                F.unix_micros("t_purchase") - F.unix_micros("t_view")
            ).alias("us")
        )
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        (
            F.floor(F.expr("percentile(us, 0.5)") / 1e6 * 1e6 + 0.5) / 1e6
        ).alias("p50_s"),
        (
            F.floor(F.expr("percentile(us, 0.9)") / 1e6 * 1e6 + 0.5) / 1e6
        ).alias("p90_s"),
    )


@register(
    "timeseries_moving_median",
    oracle="""
    WITH med AS (
      SELECT event_type, event_id,
             quantile_cont(value, 0.5) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
             ) AS m,
             count(*) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
             ) AS n_win
      FROM events
    )
    SELECT event_type, event_id, CAST(n_win AS BIGINT) AS n_win,
           floor(m * 1e6 + 0.5) / 1e6 AS moving_median
    FROM med WHERE event_id % 100 = 0
    ORDER BY event_id
    """,
    doc="Trailing moving median (100-row window) of value per event_type "
    "— the robust trend line that survives the outliers a moving mean "
    "absorbs (pairs with the MAD anomaly detector). An interpolated "
    "percentile as a WINDOW aggregate: one sort per key, the frame "
    "recomputed incrementally by the engine; interpolation arithmetic "
    "over exact doubles is pinned cross-engine (agg_percentiles "
    "precedent), floor-micro'd. Output decimated to every 100th event "
    "to stay hash-sized; the full series is the same plan minus the "
    "filter.",
    tags=("monitoring", "window", "timeseries"),
)
def timeseries_moving_median(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, W.currentRow)
    )
    med = ev.select(
        "event_type",
        "event_id",
        F.expr("percentile(value, 0.5)").over(w).alias("m"),
        F.count("*").over(w).alias("n_win"),
    )
    return (
        med.filter(F.col("event_id") % 100 == 0)
        .select(
            "event_type",
            "event_id",
            F.col("n_win").cast("long").alias("n_win"),
            (F.floor(F.col("m") * 1e6 + 0.5) / 1e6).alias("moving_median"),
        )
        .orderBy("event_id")
    )


@register(
    "events_ab_uplift_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 100
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS conv
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
             max(CASE WHEN variant = 0 THEN conv END) AS c0,
             max(CASE WHEN variant = 1 THEN n END) AS n1,
             max(CASE WHEN variant = 1 THEN conv END) AS c1
      FROM agg
    )
    SELECT n0, c0, n1, c1,
           floor(CAST(c0 AS DOUBLE) / n0 * 1e6 + 0.5) / 1e6 AS rate_0,
           floor(CAST(c1 AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6 AS rate_1,
           floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) * 1e6 + 0.5) / 1e6
             AS z_stat
    FROM wide
    """,
    doc="A/B uplift analysis with a two-proportion pooled z-test: "
    "variant = deterministic user split, conversion = any high-value "
    "purchase (value > 100); "
    "reports per-arm rates and the z statistic the experimentation "
    "platform gates ships on. Counts are exact integers; the z "
    "formula is one pinned double expression (identical operation "
    "order both engines). Two user-keyed aggregates, 1-row output.",
    tags=("monitoring", "agg"),
)
def events_ab_uplift_ztest(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 100),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("variant"), "converted"
    )
    agg = assign.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = agg.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (r1 - r0) / F.sqrt(
        p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        (F.floor(r0 * 1e6 + 0.5) / 1e6).alias("rate_0"),
        (F.floor(r1 * 1e6 + 0.5) / 1e6).alias("rate_1"),
        (F.floor(z * 1e6 + 0.5) / 1e6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Round-4 widening: SRE scoring (Apdex), Prometheus-style alert rules with
# `for:`-duration semantics (gaps-and-islands), and SCD2 dimension BUILD
# (the write-side twin of scd2_point_in_time's read side).
# ---------------------------------------------------------------------------

from transitdata_monitor_data_collector_spark.functions.rounding import fround  # noqa: E402


@register(
    "events_apdex_score",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) FILTER (value <= 50.0) AS BIGINT)  AS satisfied,
           CAST(count(*) FILTER (value > 50.0 AND value <= 200.0) AS BIGINT)
             AS tolerating,
           CAST(count(*) AS BIGINT) AS total,
           floor((count(*) FILTER (value <= 50.0)
                  + 0.5 * count(*) FILTER (value > 50.0 AND value <= 200.0))
                 / count(*) * 1e6 + 0.5) / 1e6 AS apdex
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
    doc="Apdex score per day (T=50, 4T=200 over the value column as the "
    "latency proxy): (satisfied + tolerating/2) / total — the standard "
    "SRE user-satisfaction index a Grafana latency panel derives from "
    "the same histograms the reference ships to Azure Monitor "
    "(transitdata-metrics-exporter DistributionSummary, "
    "MonitorServiceImpl.java). One pass, three conditional counters, "
    "all map-side combinable; the ratio is computed once per day row "
    "from exact integer counts so the cross-engine hash is stable.",
    tags=("monitoring", "agg", "sre"),
)
def events_apdex_score(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    sat = F.count_if(F.col("value") <= 50.0)
    tol = F.count_if((F.col("value") > 50.0) & (F.col("value") <= 200.0))
    agg = ev.groupBy(F.to_date("ts").alias("day")).agg(
        sat.alias("satisfied"),
        tol.alias("tolerating"),
        F.count("*").alias("total"),
    )
    return agg.select(
        "day",
        "satisfied",
        "tolerating",
        "total",
        fround(
            (F.col("satisfied").cast("double") + 0.5 * F.col("tolerating"))
            / F.col("total"),
            6,
        ).alias("apdex"),
    ).orderBy("day")


# Shared by the batch query and its streaming twin (streaming_alert_for_
# duration replays the same events through a real structured-streaming
# hourly rollup and must equal this exact SQL).
_ALERT_FOR_DURATION_ORACLE = """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY 1
    ),
    breaches AS (
      SELECT h.event_type, h.hour_idx, h.cnt,
             h.hour_idx - row_number() OVER (PARTITION BY h.event_type
                                             ORDER BY h.hour_idx) AS island
      FROM hourly h JOIN totals t USING (event_type)
      WHERE h.cnt * t.n_hours > 2 * t.total
    )
    SELECT event_type,
           -- make_timestamp(micros), NOT to_timestamp(secs): DuckDB
           -- to_timestamp returns TIMESTAMP WITH TIME ZONE, which the
           -- driver's canonicalizer types tz-aware and schema-rejects
           -- against Spark's naive TIMESTAMP (the r6 gate's only
           -- schema-red). make_timestamp is plain TIMESTAMP and is the
           -- idiom the hash-green timeseries_m4_downsample oracle uses.
           make_timestamp(min(hour_idx) * 3600 * 1000000) AS alert_start,
           make_timestamp(max(hour_idx) * 3600 * 1000000) AS alert_end,
           CAST(count(*) AS BIGINT)           AS breach_hours,
           CAST(max(cnt) AS BIGINT)           AS peak_cnt
    FROM breaches
    GROUP BY event_type, island
    HAVING count(*) >= 2
    ORDER BY event_type, alert_start
    """


@register(
    "promql_alert_for_duration",
    oracle=_ALERT_FOR_DURATION_ORACLE,
    doc="Prometheus/Grafana alert-rule semantics with `for:` duration "
    "(the reference's dashboards alert on these panels; "
    "grafana/*.json): a per-hour count breaching 2x the series' own "
    "mean rate fires only after holding for >= 2 CONSECUTIVE hours. "
    "The threshold compare is integer cross-multiplied "
    "(cnt * n_hours > 2 * total) so it is exact on both engines, and "
    "the consecutive-run detection is the gaps-and-islands idiom "
    "(hour_idx - row_number() is constant within a run) — one window "
    "over the tiny hourly rollup, no self-join. At 100 TB the hourly "
    "rollup is the only shuffle; islands run over "
    "series-count x hours rows.",
    tags=("monitoring", "promql", "window", "alerting"),
)
def promql_alert_for_duration(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count("*").alias("cnt"))
    )
    totals = hourly.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_hours")
    )
    w = W.partitionBy("event_type").orderBy("hour_idx")
    breaches = (
        hourly.join(F.broadcast(totals), "event_type")
        .where(F.col("cnt") * F.col("n_hours") > 2 * F.col("total"))
        .withColumn("island", F.col("hour_idx") - F.row_number().over(w))
    )
    return (
        breaches.groupBy("event_type", "island")
        .agg(
            F.timestamp_seconds(F.min("hour_idx") * 3600).alias("alert_start"),
            F.timestamp_seconds(F.max("hour_idx") * 3600).alias("alert_end"),
            F.count("*").alias("breach_hours"),
            F.max("cnt").alias("peak_cnt"),
        )
        .where(F.col("breach_hours") >= 2)
        .drop("island")
        .orderBy("event_type", "alert_start")
    )


@register(
    "scd2_build_from_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS version
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) AS valid_to,
           version,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) IS NULL AS is_current
    FROM changes
    ORDER BY user_id, version
    """,
    doc="SCD2 dimension BUILD from a change-event stream: collapse "
    "consecutive same-state events per user into versioned "
    "[valid_from, valid_to) intervals via lag-change-detect + lead-"
    "close — the write side whose read side is scd2_point_in_time. "
    "Two windows over the same (user_id, ts) sort order, so Spark "
    "plans ONE sort+shuffle reused by both Window operators; ties are "
    "broken by the unique event_id so the interval set is "
    "deterministic. At 100 TB this partitions by the natural entity "
    "key and never materializes anything wider than the change rows.",
    tags=("monitoring", "window", "scd2", "temporal"),
)
def scd2_build_from_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w_ord).alias("prev_type"),
    )
    changes = (
        ordered.where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.row_number().over(w_ord).alias("version"),
        )
    )
    w_ver = W.partitionBy("user_id").orderBy("version")
    return (
        changes.select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(w_ver).alias("valid_to"),
            "version",
            F.lead("valid_from").over(w_ver).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# Time-series diagnostics: exact-integer autocorrelation and the M4
# rendering downsample (min/max/first/last per pixel bucket).
# ---------------------------------------------------------------------------

from transitdata_monitor_data_collector_spark.functions.rounding import (  # noqa: E402
    fround_sql,
)

_ACF_MAX_LAG = 24


@register(
    "timeseries_acf",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS tmin, max(h) AS tmax
      FROM counts GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(tmin, tmax, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    xs AS (
      SELECT g.event_type, g.h, coalesce(c.x, 0) AS x
      FROM grid g LEFT JOIN counts c USING (event_type, h)
    ),
    st AS (SELECT event_type, count(*) AS n, sum(x) AS s FROM xs GROUP BY 1),
    devs AS (
      SELECT xs.event_type, h,
             CAST(st.n * xs.x - st.s AS BIGINT) AS dev,
             row_number() OVER (PARTITION BY xs.event_type ORDER BY h) AS idx
      FROM xs JOIN st USING (event_type)
    ),
    den AS (
      SELECT event_type, CAST(sum(dev * dev) AS BIGINT) AS den
      FROM devs GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT d1.event_type, lags.lag, d1.dev * d2.dev AS p
      FROM lags CROSS JOIN devs d1
      JOIN devs d2
        ON d2.event_type = d1.event_type AND d2.idx = d1.idx + lags.lag
    )
    SELECT p.event_type, CAST(p.lag AS INTEGER) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {fround_sql("CAST(sum(p.p) AS DOUBLE) / CAST(den.den AS DOUBLE)", 6)}
             AS acf
    FROM pairs p JOIN den USING (event_type)
    GROUP BY p.event_type, p.lag, den.den
    ORDER BY event_type, lag
    """,
    doc="Sample autocorrelation function of the hourly event-count series "
    "per event_type, lags 1-24 — the seasonality/burstiness diagnostic "
    "behind alert-rule tuning (a 24h spike confirms daily periodicity; "
    "fast decay justifies short rate windows). Counts are densified "
    "onto the full hour grid (gaps count 0 — sequence/explode, "
    "grid-sized not data-sized) and centered in EXACT integers via "
    "dev = n*x - S (the n^2 factors cancel in num/den), so both moment "
    "sums are order-independent BIGINTs and the single final division "
    "is the only float op (floor-micro'd to 6dp). One window sort per "
    "series computes all 24 lag products (the EWMA-kernel move); the "
    "denominator is the full-series power sum (statistical ACF "
    "normalization, not per-lag).",
    tags=("monitoring", "timeseries", "window"),
)
def timeseries_acf(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("x"))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("h").alias("tmin"), F.max("h").alias("tmax"))
        .select(
            "event_type",
            F.explode(
                F.sequence("tmin", "tmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    xs = grid.join(counts, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    st = xs.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    devs = xs.join(F.broadcast(st), "event_type").select(
        "event_type", "h", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    den = devs.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den")
    )
    w = W.partitionBy("event_type").orderBy("h")
    lagged = devs.select(
        "event_type",
        F.array(
            *[
                F.col("dev") * F.lag("dev", L).over(w)
                for L in range(1, _ACF_MAX_LAG + 1)
            ]
        ).alias("ps"),
    )
    prods = lagged.select(
        "event_type", F.posexplode("ps").alias("li", "p")
    )
    return (
        prods.groupBy("event_type", (F.col("li") + 1).alias("lag"))
        .agg(F.sum("p").alias("num"), F.count("p").alias("n_pairs"))
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            fround(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


_M4_BUCKET_S = 14400  # 4-hour rendering buckets


@register(
    "timeseries_m4_downsample",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / {_M4_BUCKET_S})
                                 * {_M4_BUCKET_S} AS BIGINT) * 1000000)
               AS bucket,
             ts, event_id, value,
             row_number() OVER (
               PARTITION BY event_type,
                 floor(epoch(ts) / {_M4_BUCKET_S})
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type,
                 floor(epoch(ts) / {_M4_BUCKET_S})
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           max(CASE WHEN rn_d = 1 THEN value END) AS v_last,
           min(value) AS v_min,
           max(value) AS v_max
    FROM pts
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    doc="M4 time-series rendering downsample (Jugel et al., VLDB 2014): "
    "per (series, 4h pixel bucket) keep first/last/min/max — the "
    "error-free line-rendering envelope time-series DBs serve to "
    "dashboards instead of raw points (width-pixel-bounded output "
    "regardless of input volume). first/last tie-break on (ts, "
    "event_id) for determinism; every emitted value is a raw data "
    "double (no arithmetic), so the result is cross-engine exact with "
    "no rounding contract needed. One window sort keyed identically "
    "to the following groupBy — a single exchange end to end.",
    tags=("monitoring", "timeseries", "window"),
)
def timeseries_m4_downsample(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bidx = F.floor(F.unix_timestamp("ts") / _M4_BUCKET_S)
    w_a = W.partitionBy("event_type", "b").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_d = W.partitionBy("event_type", "b").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    pts = ev.select(
        "event_type",
        bidx.alias("b"),
        "ts",
        "event_id",
        "value",
    ).select(
        "event_type",
        "b",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    # group on the raw bucket index `b` (the window's partition key) so
    # the aggregate reuses the window's exchange; the display timestamp
    # is derived AFTER the aggregation, on bucket-count-sized rows.
    return (
        pts.groupBy("event_type", "b")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("v_first"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .select(
            "event_type",
            F.timestamp_seconds(F.col("b") * _M4_BUCKET_S).alias("bucket"),
            "n",
            "v_first",
            "v_last",
            "v_min",
            "v_max",
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "events_forecast_seasonal_naive",
    oracle=f"""
    WITH last_d AS (SELECT max(CAST(ts AS DATE)) AS ld FROM events),
    base AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(extract(hour FROM ts) AS INTEGER) AS hour, event_type
      FROM events
    ),
    train AS (
      SELECT event_type, hour, CAST(count(*) AS BIGINT) AS s
      FROM base, last_d WHERE day < ld GROUP BY 1, 2
    ),
    nd AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS n
      FROM base, last_d WHERE day < ld
    ),
    act AS (
      SELECT event_type, hour, CAST(count(*) AS BIGINT) AS a
      FROM base, last_d WHERE day = ld GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type, CAST(h AS INTEGER) AS hour
      FROM (SELECT DISTINCT event_type FROM events),
           (SELECT unnest(range(0, 24)) AS h)
    ),
    joined AS (
      SELECT g.event_type, g.hour, nd.n AS n_train_days,
             coalesce(t.s, 0) AS s, coalesce(a.a, 0) AS a
      FROM grid g
      LEFT JOIN train t USING (event_type, hour)
      LEFT JOIN act a USING (event_type, hour)
      CROSS JOIN nd
    )
    SELECT event_type, hour, n_train_days,
           s AS train_total, a AS actual,
           CAST(floor(CAST(s AS DOUBLE) / n_train_days * 1000 + 0.5)
                AS BIGINT) AS forecast_milli,
           CAST(CASE WHEN s + n_train_days * a = 0 THEN 0
                ELSE floor((2.0 * abs(s - n_train_days * a)
                            / (s + n_train_days * a)) * 1e9 + 0.5)
           END AS BIGINT) AS sape_nano
    FROM joined
    ORDER BY event_type, hour
    """,
    doc="Seasonal-naive forecast backtest — the capacity-planning "
    "baseline every fancier model must beat: forecast for each hour "
    "of the LAST day = mean count of that hour over all training "
    "days, scored by symmetric APE against the actual. The sAPE term "
    "2|F-A|/(F+A) is computed on the CROSS-MULTIPLIED integer form "
    "2|s - n*a|/(s + n*a) (s = train total, n = train days), so the "
    "rational forecast never materializes as a float; the one "
    "division is nano-quantized. The (type x 24h) grid densifies "
    "silent hours — a forecaster that never sees the quiet hours "
    "overestimates them. Two map-side-collapsing aggregates plus a "
    "broadcast grid join; no windows, no shuffles beyond the "
    "grouped counts.",
    tags=("monitoring", "timeseries"),
)
def events_forecast_seasonal_naive(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
        "event_type",
    )
    last_d = base.agg(F.max("day").alias("ld"))
    based = base.crossJoin(F.broadcast(last_d))
    train = (
        based.filter(F.col("day") < F.col("ld"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").cast("long").alias("s"))
    )
    nd = (
        based.filter(F.col("day") < F.col("ld"))
        .agg(F.countDistinct("day").cast("long").alias("n"))
    )
    act = (
        based.filter(F.col("day") == F.col("ld"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").cast("long").alias("a"))
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            table(spark, sf_dir, "events")
            .sparkSession.range(24)
            .select(F.col("id").cast("int").alias("hour"))
        )
    )
    joined = (
        grid.join(train, ["event_type", "hour"], "left")
        .join(act, ["event_type", "hour"], "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "event_type",
            "hour",
            F.col("n").alias("n_train_days"),
            F.coalesce("s", F.lit(0)).cast("long").alias("s"),
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
        )
    )
    na = F.col("n_train_days") * F.col("a")
    return joined.select(
        "event_type",
        "hour",
        "n_train_days",
        F.col("s").alias("train_total"),
        F.col("a").alias("actual"),
        F.floor(
            F.col("s").cast("double") / F.col("n_train_days") * 1000 + 0.5
        )
        .cast("long")
        .alias("forecast_milli"),
        F.when(F.col("s") + na == 0, F.lit(0))
        .otherwise(
            F.floor(
                (2.0 * F.abs(F.col("s") - na) / (F.col("s") + na)) * 1e9
                + 0.5
            )
        )
        .cast("long")
        .alias("sape_nano"),
    ).orderBy("event_type", "hour")


@register(
    "events_gini_concentration",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i
      FROM per_user
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS total_events,
             CAST(sum(i * x) AS BIGINT) AS wsum
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n_users, total_events,
           CAST(floor(CAST(2 * wsum - (n_users + 1) * total_events AS DOUBLE)
                      / (CAST(n_users AS DOUBLE) * total_events) * 1e9 + 0.5)
                AS BIGINT) AS gini_nano
    FROM agg ORDER BY event_type
    """,
    doc="Gini coefficient of per-user event concentration, per "
    "event_type — the power-user inequality profile (G = "
    "(2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending-sorted "
    "counts): G near 0 = traffic spread evenly, near 1 = a handful of "
    "users dominate — the skew early-warning for partition hot keys "
    "and for per-user rate limits alike. Every moment is an exact "
    "integer (rank-weighted sums over integer counts; ties broken on "
    "user_id so the rank weighting is reproducible); the single "
    "closing division is nano-quantized. One count aggregate, one "
    "per-type window sort, one tiny final aggregate.",
    tags=("monitoring", "window"),
)
def events_gini_concentration(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("x")
    )
    ranked = per_user.select(
        "event_type",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "user_id"))
        .alias("i"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("total_events"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("wsum"),
    )
    num = (2 * F.col("wsum") - (F.col("n_users") + 1) * F.col("total_events")).cast(
        "double"
    )
    den = F.col("n_users").cast("double") * F.col("total_events")
    return agg.select(
        "event_type",
        "n_users",
        "total_events",
        F.floor(num / den * 1e9 + 0.5).cast("long").alias("gini_nano"),
    ).orderBy("event_type")


@register(
    "events_concurrent_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      -- cum-sum must follow the SAME total order as the lag step:
      -- ts alone is not a total order once timestamps collide (duplicate
      -- events), and a ROWS frame over ties is engine-nondeterministic
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sid,
             date_trunc('minute', min(ts)) AS m_start,
             date_trunc('minute', max(ts)) + INTERVAL 1 MINUTE AS m_end
      FROM islands GROUP BY 1, 2
    ),
    edges AS (
      SELECT m_start AS minute, 1 AS delta FROM sessions
      UNION ALL
      SELECT m_end AS minute, -1 AS delta FROM sessions
    ),
    steps AS (
      SELECT minute, CAST(sum(delta) AS BIGINT) AS delta
      FROM edges GROUP BY minute
    )
    SELECT minute, delta,
           CAST(sum(delta) OVER (ORDER BY minute
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS active
    FROM steps ORDER BY minute
    """,
    doc="Concurrent-session curve via sweep line: 30-min-gap sessions "
    "(the session_windows islands) emit +1/-1 edges at their start / "
    "end-exclusive minutes; the running sum over merged edges IS the "
    "step function of simultaneously-active sessions — the "
    "capacity-planning number (license seats, connection pools, "
    "statestore sizing) that naive per-minute GROUP BYs get wrong by "
    "counting events instead of open intervals. Output is edge-sized, "
    "not timeline-sized. The curve is one logical series, so the "
    "final prefix sum orders globally; at 100 TB compute per-day "
    "partial sums and prefix-offset them (two-pass, same algebra as "
    "the CUSUM identity) — the per-user session windows before it "
    "partition cleanly.",
    tags=("monitoring", "window"),
)
def events_concurrent_sessions(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_lag).isNull()
            | (
                F.col("ts")
                >= F.lag("ts").over(w_lag) + F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    # same total order as the lag step — ts alone ties under duplicate
    # timestamps and a ROWS cum-sum over ties is engine-nondeterministic
    # (caught by the k=5 stress sweep, where every event is replicated)
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    islands = flagged.select(
        "user_id", "ts", F.sum("new_session").over(w_cum).alias("sid")
    )
    sessions = islands.groupBy("user_id", "sid").agg(
        F.date_trunc("minute", F.min("ts")).alias("m_start"),
        (
            F.date_trunc("minute", F.max("ts"))
            + F.expr("INTERVAL 1 MINUTE")
        ).alias("m_end"),
    )
    edges = sessions.select(
        F.col("m_start").alias("minute"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            F.col("m_end").alias("minute"), F.lit(-1).alias("delta")
        )
    )
    steps = edges.groupBy("minute").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    w_run = W.orderBy("minute").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return steps.select(
        "minute",
        "delta",
        F.sum("delta").over(w_run).cast("long").alias("active"),
    ).orderBy("minute")


@register(
    "events_wau_bitmap_exact",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ),
    idx AS (
      SELECT day, CAST(day - DATE '1970-01-01' AS BIGINT) AS di FROM days
    ),
    words AS (
      SELECT CAST(ts AS DATE) AS day,
             (user_id >> 5) AS word_i,
             bit_or(1::BIGINT << CAST(((user_id % 32) + 32) % 32
                                      AS INTEGER)) AS mask
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT w.word_i, i.day, i.di,
             bit_or(w.mask) AS mask7
      FROM idx i
      JOIN words w
        ON CAST(w.day - DATE '1970-01-01' AS BIGINT)
           BETWEEN i.di - 6 AND i.di
      GROUP BY 1, 2, 3
    )
    SELECT day,
           CAST(sum(bit_count(mask7)) AS BIGINT) AS wau
    FROM rolled GROUP BY day ORDER BY day
    """,
    doc="EXACT trailing-7-day WAU via bitmap OR-rollup: per-(day, word) "
    "user bitmaps (the agg_bitmap_distinct_users state) OR-merged "
    "over the trailing window, popcounted per anchor day — the scale "
    "answer to sliding exact-distinct: cost is days x domain/32 longs "
    "(merge of per-day partials), NOT the (day,user)x(day,user) pair "
    "fan-out of events_dau_wau_stickiness's exact join, and unlike "
    "the HLL variant (events_dau_wau_stickiness_approx, rows-only) "
    "the result is exact and driver-hash-checked. OR is idempotent, "
    "so overlapping windows never double-count. Spark side rolls up "
    "with one RANGE-frame bit_or window per word series.",
    tags=("monitoring", "window", "sketch"),
)
def events_wau_bitmap_exact(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.functions.bitmap import (
        bitmap_bit,
        bitmap_word,
    )

    ev = table(spark, sf_dir, "events")
    words = (
        ev.select(
            F.to_date("ts").alias("day"),
            bitmap_word("user_id").alias("word_i"),
            bitmap_bit("user_id").alias("b"),
        )
        .groupBy("day", "word_i")
        .agg(F.bit_or("b").alias("mask"))
        .withColumn("di", F.datediff("day", F.lit("1970-01-01")).cast("long"))
    )
    # the trailing OR must be anchored on every ACTIVE day, including
    # days where a given word has no new bits — align each word series
    # onto the distinct-day grid first (grid-sized, not event-sized)
    days = words.select("day", "di").distinct()
    grid = days.crossJoin(words.select("word_i").distinct())
    aligned = grid.join(words, ["day", "di", "word_i"], "left")
    w7 = (
        W.partitionBy("word_i").orderBy("di").rangeBetween(-6, 0)
    )
    rolled = aligned.select(
        "day",
        "word_i",
        F.bit_or("mask").over(w7).alias("mask7"),
    ).filter(F.col("mask7").isNotNull())
    return (
        rolled.groupBy("day")
        .agg(F.sum(F.bit_count("mask7")).cast("long").alias("wau"))
        .orderBy("day")
    )


@register(
    "events_rollup_incremental",
    oracle="""
    SELECT event_type,
           date_trunc('week', CAST(ts AS DATE)) AS week,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_centi,
           min(value) AS vmin,
           max(value) AS vmax
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Incremental rollup correctness: the weekly aggregate is built by "
    "MERGING daily partials (sum of sums, sum of counts, min of mins, "
    "max of maxes) while the oracle computes the same weeks DIRECTLY "
    "from raw events — hash equality proves the merge algebra, the "
    "property that lets a 100 TB pipeline maintain day partials once "
    "and re-aggregate to any coarser grain (week/month/all-time) "
    "without ever re-reading raw data (the Druid/Cube pre-agg "
    "discipline; same mergeable-state argument as the bitmap "
    "distinct family, here for the standard sum/count/min/max "
    "algebra with value sums as exact centi-integers).",
    tags=("monitoring", "agg"),
)
def events_rollup_incremental(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_centi"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return (
        daily.groupBy(
            "event_type", F.date_trunc("week", "day").alias("week")
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_centi").cast("long").alias("sum_centi"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        .orderBy("event_type", "week")
    )


@register(
    "events_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value / 50) AS BIGINT) AS v_bucket,
             CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS cells_k_lt_5,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_k_lt_5,
           CAST(floor(CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
                      / sum(k) * 1e6 + 0.5) AS BIGINT)
             AS pct_rows_risky_micro
    FROM cells GROUP BY event_type ORDER BY event_type
    """,
    doc="k-anonymity audit of the (event_type, day, value-bucket) "
    "quasi-identifier projection — the privacy gate run before an "
    "event extract leaves the boundary: min k per class, how many "
    "equivalence classes fall under k=5, and what fraction of ROWS "
    "sit in those re-identifiable classes (cells and rows tell "
    "different stories when the risky cells are tiny). Pure "
    "group-size arithmetic: one map-side-combining aggregate to "
    "cells, one tiny per-type aggregate; exact integers until the "
    "single micro-quantized fraction.",
    tags=("monitoring", "agg"),
)
def events_k_anonymity(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") / 50).cast("long").alias("v_bucket"),
    ).agg(F.count("*").cast("long").alias("k"))
    risky = F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0))
    return (
        cells.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.min("k").cast("long").alias("min_k"),
            F.sum((F.col("k") < 5).cast("long")).cast("long").alias("cells_k_lt_5"),
            F.sum(risky).cast("long").alias("rows_k_lt_5"),
            F.floor(
                F.sum(risky).cast("double") / F.sum("k") * 1e6 + 0.5
            )
            .cast("long")
            .alias("pct_rows_risky_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "events_funnel_attribution",
    oracle="""
    WITH purch AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_tus
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS t_id, user_id, event_type AS t_type,
             epoch_us(ts) AS t_tus
      FROM events WHERE event_type IN ('view', 'click')
    ),
    cand AS (
      SELECT p.p_id, t.t_id, t.t_type, t.t_tus,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_tus, t.t_id) AS rn_a,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_tus DESC, t.t_id DESC) AS rn_d,
             count(*) OVER (PARTITION BY p.p_id) AS n_touch
      FROM purch p JOIN touch t
        ON p.user_id = t.user_id
       AND t.t_tus >= p.p_tus - 86400000000 AND t.t_tus < p.p_tus
    ),
    linear_credit AS (
      SELECT 'linear' AS model, t_type AS touch_type,
             CAST(sum(CAST(floor(1e6 * cnt / n_touch + 0.5) AS BIGINT))
                  AS BIGINT) AS credit_micro
      FROM (
        SELECT p_id, t_type, CAST(count(*) AS BIGINT) AS cnt,
               CAST(max(n_touch) AS BIGINT) AS n_touch
        FROM cand GROUP BY 1, 2
      ) GROUP BY 2
    ),
    first_credit AS (
      SELECT 'first_touch' AS model, t_type AS touch_type,
             CAST(count(*) AS BIGINT) * 1000000 AS credit_micro
      FROM cand WHERE rn_a = 1 GROUP BY 2
    ),
    last_credit AS (
      SELECT 'last_touch' AS model, t_type AS touch_type,
             CAST(count(*) AS BIGINT) * 1000000 AS credit_micro
      FROM cand WHERE rn_d = 1 GROUP BY 2
    )
    SELECT * FROM linear_credit
    UNION ALL SELECT * FROM first_credit
    UNION ALL SELECT * FROM last_credit
    ORDER BY model, touch_type
    """,
    doc="Multi-model conversion attribution: each purchase credits the "
    "same user's view/click touches in the prior 24 h under "
    "first-touch, last-touch, and linear models — the three answers "
    "marketing teams compare before reallocating spend (they diverge "
    "exactly when journeys are long, which is why all three ship "
    "from ONE candidate join). Linear credit is micro-quantized per "
    "(purchase, touch-type) from exact counts; first/last pick by "
    "row_number over (ts, id) so ties are deterministic; the touch "
    "window is an equi-join on user with a band predicate, bounded "
    "fan-out, and all three window functions share one per-purchase "
    "partitioning.",
    tags=("monitoring", "window", "join"),
)
def events_funnel_attribution(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_tus"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("event_type").alias("t_type"),
        F.unix_micros("ts").alias("t_tus"),
    )
    day_us = 86_400_000_000
    cand = (
        purch.join(
            touch,
            (purch["user_id"] == touch["user_id"])
            & (F.col("t_tus") >= F.col("p_tus") - day_us)
            & (F.col("t_tus") < F.col("p_tus")),
        )
        .select("p_id", "t_id", "t_type", "t_tus")
        .withColumn(
            "rn_a",
            F.row_number().over(
                W.partitionBy("p_id").orderBy("t_tus", "t_id")
            ),
        )
        .withColumn(
            "rn_d",
            F.row_number().over(
                W.partitionBy("p_id").orderBy(
                    F.desc("t_tus"), F.desc("t_id")
                )
            ),
        )
        .withColumn("n_touch", F.count("*").over(W.partitionBy("p_id")))
    )
    linear = (
        cand.groupBy("p_id", "t_type")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.max("n_touch").cast("long").alias("n_touch"),
        )
        .select(
            "t_type",
            F.floor(
                1e6 * F.col("cnt") / F.col("n_touch") + 0.5
            )
            .cast("long")
            .alias("c"),
        )
        .groupBy(F.col("t_type").alias("touch_type"))
        .agg(F.sum("c").cast("long").alias("credit_micro"))
        .withColumn("model", F.lit("linear"))
    )

    def picked(flag_col, model):
        return (
            cand.filter(F.col(flag_col) == 1)
            .groupBy(F.col("t_type").alias("touch_type"))
            .agg((F.count("*") * 1_000_000).cast("long").alias("credit_micro"))
            .withColumn("model", F.lit(model))
        )

    out = linear.unionByName(picked("rn_a", "first_touch")).unionByName(
        picked("rn_d", "last_touch")
    )
    return out.select("model", "touch_type", "credit_micro").orderBy(
        "model", "touch_type"
    )


@register(
    "events_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT d.day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN f.first_day < d.day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM daily d JOIN first_seen f USING (user_id)
    GROUP BY d.day ORDER BY d.day
    """,
    doc="Daily new-vs-returning user split — the growth-accounting "
    "decomposition (acquisition vs retention) behind every DAU chart: "
    "a user is 'new' on their first-ever active day, 'returning' "
    "after. First-seen days collapse map-side to one row per user "
    "(the same dimension the retention cohorts key on) and broadcast "
    "back onto the distinct (day, user) activity pairs; exact "
    "integer counts, no rounding contract needed. new + returning = "
    "active by construction — asserted in tests.",
    tags=("monitoring", "agg"),
)
def events_new_vs_returning(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    return (
        daily.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("active_users"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_users"),
            F.sum(
                F.when(F.col("first_day") < F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("returning_users"),
        )
        .orderBy("day")
    )


@register(
    "events_bot_detection",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM events
    ),
    stats AS (
      SELECT user_id,
             CAST(count(gap_s) AS BIGINT) AS n_gaps,
             CAST(sum(gap_s) AS BIGINT) AS s,
             CAST(sum(gap_s * gap_s) AS BIGINT) AS q
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps,
           s // n_gaps AS mean_gap_s,
           CAST(floor(sqrt(CAST(n_gaps * q - s * s AS DOUBLE))
                      / s * 1e6 + 0.5) AS BIGINT) AS cv_micro,
           floor(sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) / s * 1e6 + 0.5)
             < 250000 AS is_bot_suspect
    FROM stats
    WHERE n_gaps >= 20 AND s > 0
    ORDER BY cv_micro, user_id
    """,
    doc="Bot/automation detection from inter-arrival regularity: per "
    "user, the coefficient of variation of inter-event gaps — humans "
    "are bursty (cv near or above 1), schedulers are metronomes (cv "
    "near 0); flag users with cv < 0.25 over >= 20 gaps. The moments "
    "are exact integer microsecond sums; cv = sqrt(n*q - s^2)/s "
    "multiplies out the means so the ONLY irrational op is one "
    "correctly-rounded IEEE sqrt per user (the skew/kurtosis "
    "discipline), micro-quantized. One window sort per user feeding "
    "one map-side-collapsing aggregate — the abuse-filtering pass a "
    "crawl pipeline runs before user-weighted sampling. Gaps are "
    "truncated to whole seconds: microsecond squares overflow BIGINT "
    "once gaps span days, and cadence regularity lives at second "
    "scale anyway.",
    tags=("monitoring", "window", "agg"),
)
def events_bot_detection(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # second resolution: microsecond squares overflow BIGINT once a
    # user's gaps span days (30 d = 2.6e12 us; squared = 6.7e24)
    gaps = gaps.select("user_id", F.expr("gap_us div 1000000").alias("gap_s"))
    stats = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("q"),
    )
    cv_micro = F.floor(
        F.sqrt((F.col("n_gaps") * F.col("q") - F.col("s") * F.col("s")).cast("double"))
        / F.col("s")
        * 1e6
        + 0.5
    )
    return (
        stats.filter((F.col("n_gaps") >= 20) & (F.col("s") > 0))
        .select(
            "user_id",
            "n_gaps",
            F.expr("s div n_gaps").cast("long").alias("mean_gap_s"),
            cv_micro.cast("long").alias("cv_micro"),
            (cv_micro < 250000).alias("is_bot_suspect"),
        )
        .orderBy("cv_micro", "user_id")
    )


@register(
    "promql_absent_alert",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS minute
      FROM bounds
    ),
    samples AS (
      SELECT event_type, date_trunc('minute', ts) AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    flagged AS (
      SELECT g.event_type, g.minute,
             CAST(epoch(g.minute) AS BIGINT) // 60 AS mi,
             CASE WHEN s.n IS NULL THEN 1 ELSE 0 END AS absent
      FROM grid g LEFT JOIN samples s USING (event_type, minute)
    ),
    islands AS (
      SELECT event_type, minute, mi,
             mi - row_number() OVER (PARTITION BY event_type ORDER BY mi)
               AS grp
      FROM flagged WHERE absent = 1
    )
    SELECT event_type,
           min(minute) AS absent_start,
           max(minute) AS absent_end,
           CAST(count(*) AS BIGINT) AS n_minutes
    FROM islands
    GROUP BY event_type, grp
    HAVING count(*) >= 5
    ORDER BY event_type, absent_start
    """,
    doc="PromQL absent()-style silent-series alerting: intervals of >= 5 "
    "consecutive minutes where a series reported NO samples — the "
    "alert that catches a dead exporter or stuck pipeline, which "
    "threshold rules structurally cannot fire on (no data, no "
    "breach; the reference's liveness endpoint answers this for the "
    "process, this answers it per series). Dense minute grid "
    "(grid-sized sequence/explode, the LOCF discipline), absence "
    "islands via the rn-difference trick on integer minute indexes — "
    "the same gaps-and-islands family as promql_alert_for_duration, "
    "inverted to fire on missing data instead of breaching data.",
    tags=("monitoring", "window", "timeseries"),
)
def promql_absent_alert(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("minute", F.min("ts")).alias("tmin"),
        F.date_trunc("minute", F.max("ts")).alias("tmax"),
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("tmin", "tmax", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute"),
    )
    samples = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("n"))
    flagged = (
        grid.join(samples, ["event_type", "minute"], "left")
        .filter(F.col("n").isNull())
        .select(
            "event_type",
            "minute",
            (F.unix_timestamp("minute") / 60).cast("long").alias("mi"),
        )
    )
    w = W.partitionBy("event_type").orderBy("mi")
    islands = flagged.withColumn(
        "grp", F.col("mi") - F.row_number().over(w)
    )
    return (
        islands.groupBy("event_type", "grp")
        .agg(
            F.min("minute").alias("absent_start"),
            F.max("minute").alias("absent_end"),
            F.count("*").cast("long").alias("n_minutes"),
        )
        .filter(F.col("n_minutes") >= 5)
        .select(
            "event_type", "absent_start", "absent_end", "n_minutes"
        )
        .orderBy("event_type", "absent_start")
    )


@register(
    "events_chain_recursive_cte",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    e AS (
      SELECT user_id, event_id, ts, rn,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY rn) AS gap_us
      FROM base
    ),
    chain(user_id, chain_id, rn, ts, steps) AS (
      SELECT user_id, event_id, rn, ts, 1
      FROM e WHERE gap_us IS NULL OR gap_us > 900000000
      UNION ALL
      SELECT c.user_id, c.chain_id, n.rn, n.ts, c.steps + 1
      FROM chain c JOIN e n
        ON n.user_id = c.user_id AND n.rn = c.rn + 1
       AND n.gap_us <= 900000000
    )
    SELECT user_id, chain_id,
           CAST(max(steps) AS BIGINT) AS chain_len,
           min(ts) AS start_ts, max(ts) AS end_ts
    FROM chain GROUP BY user_id, chain_id
    ORDER BY user_id, chain_id
    """,
    doc="Burst chains via a RECURSIVE CTE — Spark 4's new WITH RECURSIVE "
    "(UNION ALL dialect) demonstrated end to end: seeds are events with "
    "no predecessor within 15 min, and each recursion step follows the "
    "UNIQUE next event (rn + 1) while the inter-event gap stays within "
    "the threshold — unique successors mean UNION ALL can never "
    "duplicate a row, and strictly increasing rn bounds the depth at "
    "the longest chain (4 on this corpus; "
    "spark.sql.cteRecursionLevelLimit defaults to 100). The DuckDB "
    "oracle runs the IDENTICAL recursion shape (epoch_us vs "
    "unix_micros is the only dialect delta). The window-based "
    "gaps-and-islands form (events_sessionization / session_windows) "
    "remains the 100 TB scale path — one sort instead of "
    "depth-many joins; the recursion IS the spec, and at test scale "
    "both formulations are cross-checked by the shared oracle. "
    "Every event lands in exactly one chain row, so cumulative "
    "recursion rows = corpus rows: the build sizes "
    "spark.sql.cteRecursionRowLimit to the fact count (the 1e6 default "
    "aborted the k=10 stress sweep — found by tools/stress_parity.py).",
    tags=("monitoring", "events", "recursive"),
)
def events_chain_recursive_cte(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("v_events_rc")
    # cumulative rows across all recursion steps equal the event count
    # (unique successor per step); size the guard-rail accordingly with
    # slack rather than disabling it
    limit = max(1_000_000, ev.count() * 2)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(limit))
    # materialize the windowed base ONCE: a plain CTE is inlined into the
    # anchor and into every recursion step, so the two window functions
    # (row_number + lag) replayed over the full fact table once per
    # chain-depth level. Cached and exposed as a view, each step's join
    # probes the in-memory table instead — the recursion then only pays
    # for the join itself, which is the algorithm's real cost.
    e_df = spark.sql(
        """
        SELECT user_id, event_id, ts, rn,
               unix_micros(ts) - lag(unix_micros(ts)) OVER (
                 PARTITION BY user_id ORDER BY rn) AS gap_us
        FROM (
          SELECT user_id, event_id, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM v_events_rc
        )
        """
    ).cache()
    e_df.createOrReplaceTempView("v_events_rc_e")
    return spark.sql(
        """
        WITH RECURSIVE e AS (
          SELECT * FROM v_events_rc_e
        ),
        chain(user_id, chain_id, rn, ts, steps) AS (
          SELECT user_id, event_id, rn, ts, 1
          FROM e WHERE gap_us IS NULL OR gap_us > 900000000
          UNION ALL
          SELECT c.user_id, c.chain_id, n.rn, n.ts, c.steps + 1
          FROM chain c JOIN e n
            ON n.user_id = c.user_id AND n.rn = c.rn + 1
           AND n.gap_us <= 900000000
        )
        SELECT user_id, chain_id,
               CAST(max(steps) AS BIGINT) AS chain_len,
               min(ts) AS start_ts, max(ts) AS end_ts
        FROM chain GROUP BY user_id, chain_id
        ORDER BY user_id, chain_id
        """
    )


@register(
    "join_interval_bin_equi",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    iv AS (
      SELECT row_number() OVER (ORDER BY d) AS w_id,
             CAST(d AS TIMESTAMP) + INTERVAL 10 HOUR AS w_start,
             CAST(d AS TIMESTAMP) + INTERVAL 52 HOUR AS w_end
      FROM days WHERE extract(day FROM d) % 5 = 1
    )
    SELECT w_id, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM iv JOIN events ON ts >= w_start AND ts < w_end
    GROUP BY w_id ORDER BY w_id
    """,
    doc="J5 depth, the MANY-interval scale path: the same overlap "
    "semantics as join_interval_overlap, but executed as a day-bin "
    "EQUI-join — each (data-derived, multi-day) window explodes into "
    "the day buckets it covers, the fact side buckets by date(ts), and "
    "a BroadcastHashJoin on the bucket plus a residual range predicate "
    "replaces the BroadcastNestedLoopJoin (plan-pinned in "
    "tests/test_plans.py). An event lands in exactly ONE bucket, so a "
    "window matches each event at most once — no post-join dedup. At "
    "100 TB this is the difference between O(facts x windows) NLJ "
    "compares and O(facts + overlaps) hash lookups; with a partitioned "
    "store the bucket key also prunes partitions "
    "(sinks/parquet.read_dt_pruned). The DuckDB oracle states the "
    "declarative range-join form.",
    tags=("join", "range", "agg"),
)
def join_interval_bin_equi(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    days = (
        ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") % 5 == 1)
    )
    iv = days.select(
        F.row_number().over(W.orderBy("d")).alias("w_id"),
        (F.col("d").cast("timestamp") + F.expr("INTERVAL 10 HOURS")).alias(
            "w_start"
        ),
        (F.col("d").cast("timestamp") + F.expr("INTERVAL 52 HOURS")).alias(
            "w_end"
        ),
    )
    bins = iv.select(
        "w_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(F.to_date("w_start"), F.to_date("w_end"))
        ).alias("bucket"),
    )
    return (
        ev.withColumn("bucket", F.to_date("ts"))
        .join(F.broadcast(bins), "bucket")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("w_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("w_id")
    )


@register(
    "events_kaplan_meier_churn",
    oracle="""
    WITH bounds AS (SELECT max(ts) AS corpus_end FROM events),
    users AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT user_id,
             CASE WHEN last_ts < corpus_end - INTERVAL 7 DAY
                  THEN (epoch_us(last_ts) - epoch_us(first_ts))
                       // 86400000000
                  ELSE (epoch_us(corpus_end) - epoch_us(first_ts))
                       // 86400000000 END AS t_day,
             CASE WHEN last_ts < corpus_end - INTERVAL 7 DAY
                  THEN 1 ELSE 0 END AS churned
      FROM users, bounds
    ),
    dt AS (
      SELECT t_day, CAST(sum(churned) AS BIGINT) AS d
      FROM obs GROUP BY t_day HAVING sum(churned) > 0
    ),
    risk AS (
      SELECT dt.t_day, dt.d, CAST(count(*) AS BIGINT) AS n
      FROM dt JOIN obs ON obs.t_day >= dt.t_day
      GROUP BY dt.t_day, dt.d
    ),
    km AS (
      SELECT t_day, d, n,
             CAST(floor(ln(CAST(n - d AS DOUBLE) / n) * 1e9 + 0.5)
               AS BIGINT) AS term
      FROM risk WHERE n > d
    )
    SELECT CAST(t_day AS BIGINT) AS t_day, n AS n_risk, d AS n_churn,
           CAST(sum(term) OVER (ORDER BY t_day) AS BIGINT) AS km_log_nano
    FROM km ORDER BY t_day
    """,
    doc="Kaplan-Meier churn survival curve over the event log: a user's "
    "observation ends at their last event (churned) unless they were "
    "active within 7 days of corpus end (censored at corpus end) — the "
    "right-censoring product-limit estimator behind every retention "
    "curve. Product turned into an exact-integer prefix SUM: each "
    "distinct event time contributes ln((n_i - d_i)/n_i) computed ONCE "
    "per distinct (n, d) from exact integer counts and nano-quantized "
    "(the ln-once-then-integer-sum discipline of text_collocations_pmi) "
    "— S(t) = exp(km_log_nano / 1e9), left to the presentation layer so "
    "no cross-engine exp() touches the hash. Risk sets come from "
    "joining the tiny distinct-event-time dimension against per-user "
    "observations (the same broadcast-days shape as the WAU fix); all "
    "heavy work is the per-user min/max aggregate — one shuffle over "
    "users. Rows where the risk set would hit zero survival (n = d) "
    "are excluded (log undefined; cannot occur while any user is "
    "active in the final week).",
    tags=("monitoring", "events", "survival"),
)
def events_kaplan_meier_churn(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("corpus_end"))
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    week_us = 7 * 86400 * 1000000
    day_us = 86400 * 1000000
    # exact integer day division (DIV) — a double `/` + cast could round
    # across a day boundary differently than the oracle's integer `//`
    dur_churn = F.expr(
        f"(unix_micros(last_ts) - unix_micros(first_ts)) DIV {day_us}"
    )
    dur_cens = F.expr(
        f"(unix_micros(corpus_end) - unix_micros(first_ts)) DIV {day_us}"
    )
    obs = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(
                F.unix_micros("last_ts")
                < F.unix_micros("corpus_end") - F.lit(week_us),
                dur_churn,
            )
            .otherwise(dur_cens)
            .alias("t_day"),
            F.when(
                F.unix_micros("last_ts")
                < F.unix_micros("corpus_end") - F.lit(week_us),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("churned"),
        )
    )
    dt = (
        obs.groupBy("t_day")
        .agg(F.sum("churned").cast("long").alias("d"))
        .filter(F.col("d") > 0)
    )
    risk = (
        F.broadcast(dt)
        .join(obs.select("t_day").alias("o"), F.col("o.t_day") >= dt["t_day"])
        .groupBy(dt["t_day"].alias("t_day"), "d")
        .agg(F.count("*").cast("long").alias("n"))
    )
    km = risk.filter(F.col("n") > F.col("d")).select(
        "t_day",
        "d",
        "n",
        F.floor(
            F.log((F.col("n") - F.col("d")).cast("double") / F.col("n"))
            * 1e9
            + 0.5
        )
        .cast("long")
        .alias("term"),
    )
    return km.select(
        F.col("t_day").cast("long").alias("t_day"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_churn"),
        F.sum("term")
        .over(W.orderBy("t_day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("km_log_nano"),
    ).orderBy("t_day")


@register(
    "promql_deriv_predict_linear",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id,
             (epoch_us(ts) - t0) // 1000000 AS x_s,
             CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS y_q
      FROM events, (SELECT min(epoch_us(ts)) AS t0 FROM events)
    ),
    agg AS (
      SELECT event_type, event_id, x_s,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x_s) OVER w AS BIGINT) AS sx,
             CAST(sum(y_q) OVER w AS BIGINT) AS sy,
             CAST(sum(x_s * y_q) OVER w AS BIGINT) AS sxy,
             CAST(sum(x_s * x_s) OVER w AS BIGINT) AS sxx
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY x_s
                   RANGE BETWEEN 900 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, n AS n_samples,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / 1e4 * 1e6 + 0.5) / 1e6
               AS deriv_per_sec,
           floor((CAST(sy AS DOUBLE) / n
                  + ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * (CAST(x_s + 600 AS DOUBLE) - CAST(sx AS DOUBLE) / n))
                 / 1e4 * 1e6 + 0.5) / 1e6
               AS predict_10m
    FROM agg
    WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    ORDER BY event_type, event_id
    """,
    doc="PromQL deriv() / predict_linear(v, 600s): least-squares slope of "
    "the trailing 15-minute range vector per series, and the value "
    "extrapolated 10 minutes ahead — the capacity-planning alert pair "
    "(rate/avg/max/histogram_quantile live in the sibling promql_* "
    "queries). OLS moments (n, Sx, Sy, Sxy, Sxx) are EXACT BIGINT "
    "window sums over one RANGE frame on integer epoch seconds "
    "(x relative to corpus start so squares stay far from overflow; y "
    "1e-4-quantized) — slope and prediction then derive from identical "
    "integers through a structurally identical double expression on "
    "both engines, floor-micro'd. Windows needing >= 2 distinct sample "
    "times (nonzero variance) are kept, matching PromQL's two-point "
    "minimum. One sort per series, no self-join, O(1) state per frame "
    "step at 100 TB.",
    tags=("monitoring", "promql", "window", "timeseries"),
)
def promql_deriv_predict_linear(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    t0 = ev.agg(F.min(F.unix_micros("ts")).alias("t0"))
    base = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        "event_id",
        F.expr("(unix_micros(ts) - t0) DIV 1000000").alias("x_s"),
        F.floor(F.col("value") * 1e4 + 0.5).cast("long").alias("y_q"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("x_s")
        .rangeBetween(-900, 0)
    )
    agg = base.select(
        "event_type",
        "event_id",
        "x_s",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("x_s").over(w).cast("long").alias("sx"),
        F.sum("y_q").over(w).cast("long").alias("sy"),
        F.sum(F.col("x_s") * F.col("y_q")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x_s") * F.col("x_s")).over(w).cast("long").alias("sxx"),
    )
    # moment PRODUCTS in double (r8 ADVICE): n*sxy / sx*sy reach ~2.3e15
    # at sf0.1 and scale with span^2 — Spark's non-ANSI long arithmetic
    # would WRAP silently where the DuckDB oracle raises. The window sums
    # themselves stay exact BIGINT; the products are IEEE binary64 on both
    # engines (bit-identical scalar ops), and precision is already capped
    # by the final floor-micro rounding.
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    slope = num / den
    deriv = F.floor(slope / 1e4 * 1e6 + 0.5) / 1e6
    predict = (
        F.floor(
            (
                F.col("sy").cast("double") / F.col("n")
                + slope
                * (
                    (F.col("x_s") + 600).cast("double")
                    - F.col("sx").cast("double") / F.col("n")
                )
            )
            / 1e4
            * 1e6
            + 0.5
        )
        / 1e6
    )
    return (
        agg.filter(den > 0)
        .select(
            "event_type",
            "event_id",
            F.col("n").alias("n_samples"),
            deriv.alias("deriv_per_sec"),
            predict.alias("predict_10m"),
        )
        .orderBy("event_type", "event_id")
    )


@register(
    "events_l_diversity",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day, user_id % 100 AS uid_bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT event_type) AS BIGINT) AS l
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_l_eq_1,
           CAST(sum(CASE WHEN l = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_l_eq_1
    FROM cells GROUP BY day ORDER BY day
    """,
    doc="l-diversity audit — the companion to events_k_anonymity: "
    "k-anonymity bounds how many people share a quasi-identifier "
    "class, but a class where everyone shares the SAME sensitive "
    "value (here: event_type) still discloses it; l counts distinct "
    "sensitive values per (day, user-bucket) class, and classes with "
    "l = 1 are full-disclosure cells regardless of their k. Reported "
    "per day: class count, min l, and how many classes/rows sit at "
    "l = 1. Same two-aggregate shape as the k audit — the distinct "
    "count collapses map-side per class.",
    tags=("monitoring", "agg"),
)
def events_l_diversity(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 100).alias("uid_bucket"),
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("event_type").cast("long").alias("l"),
    )
    return (
        cells.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.min("l").cast("long").alias("min_l"),
            F.sum((F.col("l") == 1).cast("long"))
            .cast("long")
            .alias("classes_l_eq_1"),
            F.sum(F.when(F.col("l") == 1, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_l_eq_1"),
        )
        .orderBy("day")
    )


@register(
    "promql_offset_day_over_day",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.h, a.n AS n_now, b.n AS n_prev_day,
           CASE WHEN b.n IS NOT NULL THEN
             CAST(floor(CAST(a.n - b.n AS DOUBLE) / b.n * 1e4 + 0.5)
               AS BIGINT) END AS delta_permyriad
    FROM hourly a
    LEFT JOIN hourly b
      ON b.event_type = a.event_type
     AND epoch_us(b.h) = epoch_us(a.h) - 86400000000
    ORDER BY a.event_type, a.h
    """,
    doc="PromQL's `offset 1d` comparison: each hour's event count beside "
    "the same hour one day earlier, with the day-over-day delta — the "
    "seasonal-baseline alert form ('traffic is 40% below yesterday') "
    "that absolute thresholds can't express. An equi-self-join on "
    "(series, exact shifted bucket) rather than a lag() window: "
    "calendar gaps make row-offset lags wrong, while the shifted-key "
    "join is gap-correct and stays a co-partitioned shuffle on the "
    "series key at 100 TB. Counts exact; the delta is floor-micro'd "
    "permyriad from identical integers.",
    tags=("monitoring", "promql", "timeseries", "join"),
)
def promql_offset_day_over_day(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.window("ts", "1 hour").start.alias("h")
    ).agg(F.count("*").cast("long").alias("n"))
    a = hourly.alias("a")
    b = hourly.alias("b")
    delta = F.when(
        F.col("b.n").isNotNull(),
        F.floor(
            (F.col("a.n") - F.col("b.n")).cast("double")
            / F.col("b.n")
            * 1e4
            + 0.5
        ).cast("long"),
    )
    return (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.unix_micros("b.h")
                == F.unix_micros("a.h") - 86400000000
            ),
            "left",
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.h").alias("h"),
            F.col("a.n").alias("n_now"),
            F.col("b.n").alias("n_prev_day"),
            delta.alias("delta_permyriad"),
        )
        .orderBy("event_type", "h")
    )


@register(
    "events_slo_multiwindow_burn",
    oracle="""
    WITH m AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS m5,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err,
             CAST(count(*) AS BIGINT) AS n_tot
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT m5, n_err, n_tot,
             CAST(sum(n_err) OVER h AS BIGINT) AS err_1h,
             CAST(sum(n_tot) OVER h AS BIGINT) AS tot_1h
      FROM m
      WINDOW h AS (ORDER BY epoch_us(m5)
                   RANGE BETWEEN 3300000000 PRECEDING AND CURRENT ROW)
    )
    SELECT m5 AS window_start, n_err, n_tot, err_1h, tot_1h,
           floor(CAST(n_err AS DOUBLE) / n_tot / 0.02 * 1e6 + 0.5) / 1e6
             AS burn_5m,
           floor(CAST(err_1h AS DOUBLE) / tot_1h / 0.02 * 1e6 + 0.5) / 1e6
             AS burn_1h
    FROM w
    WHERE CAST(n_err AS DOUBLE) / n_tot / 0.02 > 2.0
      AND CAST(err_1h AS DOUBLE) / tot_1h / 0.02 > 2.0
    ORDER BY m5
    """,
    doc="Multi-window multi-burn-rate SLO alert (the Google SRE workbook "
    "form, upgrading events_error_budget_burn's single window): page "
    "only when BOTH the fast 5-minute burn rate and the slow 1-hour "
    "burn rate exceed the threshold against a 2% error budget — the "
    "long window keeps one noisy bucket from paging, the short window "
    "ends the alert promptly once the incident stops. The 1-hour burn "
    "is a trailing RANGE window over the 5-minute partials (3,300 s "
    "lookback = 11 prior buckets + current), so one sorted pass "
    "produces both rates; counts exact, ratios floor-micro'd from "
    "identical integers.",
    tags=("monitoring", "sre", "alerting", "timeseries", "window"),
)
def events_slo_multiwindow_burn(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(F.window("ts", "5 minutes").start.alias("m5")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
        F.count("*").cast("long").alias("n_tot"),
    )
    h = (
        W.orderBy(F.unix_micros("m5"))
        .rangeBetween(-3_300_000_000, 0)
    )
    w = m.select(
        "m5",
        "n_err",
        "n_tot",
        F.sum("n_err").over(h).cast("long").alias("err_1h"),
        F.sum("n_tot").over(h).cast("long").alias("tot_1h"),
    )
    burn_5m_raw = F.col("n_err").cast("double") / F.col("n_tot") / 0.02
    burn_1h_raw = F.col("err_1h").cast("double") / F.col("tot_1h") / 0.02
    return (
        w.filter((burn_5m_raw > 2.0) & (burn_1h_raw > 2.0))
        .select(
            F.col("m5").alias("window_start"),
            "n_err",
            "n_tot",
            "err_1h",
            "tot_1h",
            (F.floor(burn_5m_raw * 1e6 + 0.5) / 1e6).alias("burn_5m"),
            (F.floor(burn_1h_raw * 1e6 + 0.5) / 1e6).alias("burn_1h"),
        )
        .orderBy("window_start")
    )


@register(
    "events_conformance_check",
    oracle="""
    WITH sess AS (
      SELECT user_id, ts, event_type,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM (
        SELECT user_id, ts, event_id, event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
      )
    ),
    flags AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id, session_no) AS first_view_ts
      FROM sess
    )
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN first_view_ts IS NULL
                         OR first_view_ts >= ts THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nonconformant
    FROM flags
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    doc="Process-mining conformance check: within each 30-minute-gap "
    "session, a purchase CONFORMS to the expected journey only if a "
    "view precedes it in the same session; the daily non-conformance "
    "count is the data-integrity / instrumentation-drift alarm (a "
    "broken view-tracking deploy shows up here before it shows up in "
    "revenue). Sessionization is the gaps-and-islands prefix sum, "
    "conformance one per-(user, session) window min — both ride a "
    "single (user_id, ts) sort, then a tiny daily aggregate.",
    tags=("monitoring", "events", "window"),
)
def events_conformance_check(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        )
        .over(wu.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("session_no"),
    )
    flags = sess.select(
        "user_id",
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        )
        .over(W.partitionBy("user_id", "session_no"))
        .alias("first_view_ts"),
    )
    return (
        flags.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(
                (
                    F.col("first_view_ts").isNull()
                    | (F.col("first_view_ts") >= F.col("ts"))
                ).cast("long")
            )
            .cast("long")
            .alias("n_nonconformant"),
        )
        .orderBy("day")
    )


@register(
    "events_bounce_rate",
    oracle="""
    WITH sess AS (
      SELECT user_id, ts,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM (
        SELECT user_id, ts, event_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
      )
    ),
    per_sess AS (
      SELECT user_id, session_no,
             CAST(min(ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_no
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS bounce_permille
    FROM per_sess GROUP BY day ORDER BY day
    """,
    doc="Daily bounce rate: single-event sessions over total sessions "
    "(sessions = 30-minute-gap islands, attributed to their start day) "
    "— the engagement-health headline beside DAU/stickiness. Rides the "
    "same gaps-and-islands prefix sum as events_conformance_check "
    "(one (user_id, ts) sort), then two tiny aggregates; the rate is "
    "exact integer permille.",
    tags=("monitoring", "events", "agg"),
)
def events_bounce_rate(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        )
        .over(wu.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("session_no"),
    )
    per_sess = sess.groupBy("user_id", "session_no").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count("*").cast("long").alias("n_events"),
    )
    bounces = F.sum((F.col("n_events") == 1).cast("long")).cast("long")
    return (
        per_sess.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            bounces.alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("CAST(n_bounces * 1000 DIV n_sessions AS BIGINT)").alias(
                "bounce_permille"
            ),
        )
        .orderBy("day")
    )


# Shared by the batch query and its streaming twin
# (streaming_slo_burn_multiwindow).
_SLO_BURN_ORACLE = """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
             CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
               AS n_err,
             CAST(count(*) AS BIGINT) AS n_tot
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT hour_idx, n_err, n_tot,
             CAST(sum(n_err) OVER w6 AS BIGINT) AS err_6h,
             CAST(sum(n_tot) OVER w6 AS BIGINT) AS tot_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY hour_idx
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT make_timestamp(hour_idx * 3600 * 1000000) AS hour,
           n_err, n_tot,
           CAST(n_err * 10000 // n_tot AS BIGINT) AS burn_1h_permille,
           CAST(err_6h * 10000 // tot_6h AS BIGINT) AS burn_6h_permille,
           CASE WHEN n_err * 10 > 2 * n_tot AND err_6h * 10 > 2 * tot_6h
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS page
    FROM win
    ORDER BY hour
    """


@register(
    "events_slo_burn_multiwindow",
    oracle=_SLO_BURN_ORACLE,
    doc="Multi-window error-budget burn-rate alerting (the SRE-workbook "
    "recipe the reference's dashboards motivate): with a 10% error-ratio "
    "objective, each hour reports its 1-hour and trailing-6-hour burn "
    "rates (ratio / budget, exact integer permille — the trailing frame "
    "is a RANGE window over hour_idx so data gaps shorten the window "
    "instead of stretching it), and pages only when BOTH exceed 2x "
    "budget — the fast window gives reaction time, the slow one "
    "suppresses flappy pages. Integer cross-multiplied comparisons "
    "(err * 10 > 2 * tot) keep the verdict exact on both engines. "
    "Scale: one partial+final hourly rollup (the only corpus-sized "
    "shuffle) and one window over the hours-sized rollup — the global "
    "window input is rows-per-hour, bounded by the calendar, never by "
    "event volume.",
    tags=("monitoring", "alerting", "window"),
)
def events_slo_burn_multiwindow(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx"),
            "event_type",
        )
        .groupBy("hour_idx")
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_err"),
            F.count("*").cast("long").alias("n_tot"),
        )
    )
    w6 = W.orderBy("hour_idx").rangeBetween(-5, 0)
    win = hourly.select(
        "hour_idx",
        "n_err",
        "n_tot",
        F.sum("n_err").over(w6).cast("long").alias("err_6h"),
        F.sum("n_tot").over(w6).cast("long").alias("tot_6h"),
    )
    return win.selectExpr(
        "timestamp_seconds(hour_idx * 3600) AS hour",
        "n_err",
        "n_tot",
        "CAST(n_err * 10000 DIV n_tot AS BIGINT) AS burn_1h_permille",
        "CAST(err_6h * 10000 DIV tot_6h AS BIGINT) AS burn_6h_permille",
        "CAST(CASE WHEN n_err * 10 > 2 * n_tot "
        "AND err_6h * 10 > 2 * tot_6h THEN 1 ELSE 0 END AS BIGINT) AS page",
    ).orderBy("hour")


@register(
    "promql_resets_changes",
    oracle=f"""
    WITH {_COUNTER_CTE},
    d AS (
      SELECT event_type, counter,
             lag(counter) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS prev
      FROM counter_samples
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN prev IS NOT NULL AND counter < prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS resets,
           CAST(sum(CASE WHEN prev IS NOT NULL AND counter <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS changes
    FROM d GROUP BY event_type ORDER BY event_type
    """,
    doc="PromQL resets() and changes() over the synthesized wrap-around "
    "counter series (same _COUNTER_CTE as the rate family): per series, "
    "how many times the counter went backwards (restarts — the quantity "
    "rate()'s reset guard exists for) and how many samples changed value "
    "at all (liveness of the series). Counter values on both engines are "
    "identical doubles built from the same exact BIGINT prefix sums, so "
    "the comparisons are exact; outputs are BIGINT counts. Scale: one "
    "per-series ordered window (total order via the event_id tiebreak, "
    "the r5 stress discipline) + one partial+final aggregate.",
    tags=("monitoring", "promql", "window"),
)
def promql_resets_changes(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    samples = ev.select(
        "event_type",
        "ts",
        "event_id",
        (
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).over(wc)
                % 100000
            ).cast("double")
            / 100.0
        ).alias("counter"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = samples.select(
        "event_type",
        "counter",
        F.lag("counter").over(w).alias("prev"),
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("counter") < F.col("prev")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("resets"),
            F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("counter") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("changes"),
        )
        .orderBy("event_type")
    )


# (a.cnt - b.cnt) can be negative, so the permille division is spelled
# sign-explicitly (the llm_data._tdiv_sql discipline: DuckDB // changed
# floor/truncate semantics on negatives between releases; Spark DIV
# always truncates) — counts are positive so only the numerator needs it.
# Module-level: shared verbatim by streaming_offset_week_over_week.
_OFFSET_WOW_ORACLE = """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    )
    SELECT make_timestamp(a.hour_idx * 3600 * 1000000) AS hour,
           a.cnt, b.cnt AS cnt_prev_week,
           CAST(CASE WHEN (a.cnt - b.cnt) >= 0
                     THEN (a.cnt - b.cnt) * 1000 // b.cnt
                     ELSE -((-(a.cnt - b.cnt)) * 1000 // b.cnt) END
                AS BIGINT) AS wow_delta_permille
    FROM hourly a JOIN hourly b ON b.hour_idx = a.hour_idx - 168
    ORDER BY hour
    """


@register(
    "promql_offset_week_over_week",
    oracle=_OFFSET_WOW_ORACLE,
    doc="PromQL `offset 1w` semantics (the dashboards' week-over-week "
    "compare): each hour's event count against the same hour one week "
    "earlier, with the relative change in exact integer permille "
    "(sign-explicit truncating division — negative deltas must divide "
    "identically on both engines). The offset join is a self-equi-join "
    "of the hours-sized rollup on a shifted key — at 100 TB the only "
    "corpus-sized work is the partial+final hourly aggregate; the join "
    "input is bounded by the calendar.",
    tags=("monitoring", "promql", "join"),
)
def promql_offset_week_over_week(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("long")
            .alias("hour_idx")
        )
        .groupBy("hour_idx")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    a = hourly.alias("a")
    b = hourly.select(
        (F.col("hour_idx") + 168).alias("hour_idx"),
        F.col("cnt").alias("cnt_prev_week"),
    ).alias("b")
    return (
        a.join(b, "hour_idx")
        .selectExpr(
            "timestamp_seconds(hour_idx * 3600) AS hour",
            "cnt",
            "cnt_prev_week",
            "CAST((cnt - cnt_prev_week) * 1000 DIV cnt_prev_week AS BIGINT) "
            "AS wow_delta_permille",
        )
        .orderBy("hour")
    )
