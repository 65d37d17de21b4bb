"""Streaming jobs over an MQTT-shaped message stream.

Each job takes an unbounded DataFrame with at least
``broker, topic, ts`` columns (FIXTURES.md §1) and returns the transformed
unbounded DataFrame; ``run_to_memory`` drives any of them deterministically
(processAllAvailable) into an in-memory table for tests and the driver gate.

State posture at scale: windowed aggs are watermark-bounded (state evicted
once the watermark passes); counters use update-mode keyed state — at 100 TB
switch the state store to RocksDB
(spark.sql.streaming.stateStore.providerClass) and keep keys =
(broker, topic_filter): cardinality is the registry size, tiny.

State width: every stateful query the engine starts (``run_to_memory``,
``stream_merge_counter_job``, the ``CollectorApp`` queries) goes through
``start_stateful``, which runs it at min(session shuffle width,
``STATE_WIDTH``). The width is set only while the query starts (Spark
fixes a query's state partitioning then), so the shared session is never
left pinned.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
    with_per_broker_fanout,
    with_topic_filter_fanout,
)
from transitdata_monitor_data_collector_spark.sources.mqtt import (
    CONNECTION_TOPIC,
)


def _fanout(messages: DataFrame, filters) -> DataFrame:
    """Dispatch: a Mapping means per-broker filter sets (each message
    matched only against its broker's filters), a flat sequence means one
    shared set for all brokers. Connection-state meta-events are excluded
    first — a real broker never delivers ``$``-topics to ``#``
    subscriptions, so they must not reach the unknown bucket."""
    from collections.abc import Mapping as _Mapping

    messages = messages.filter(F.col("topic") != CONNECTION_TOPIC)
    if isinstance(filters, _Mapping):
        return with_per_broker_fanout(messages, filters)
    return with_topic_filter_fanout(messages, filters)


def windowed_rate_job(
    messages: DataFrame,
    filters: Sequence[str],
    window: str = "60 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """A1+A2: per-(broker, topic_filter) count and msg/s rate over tumbling
    windows, with wildcard fan-out and unknown bucket
    (mqtt_data_collector.py:95-134,176-215)."""
    window_secs = _duration_seconds(window)
    # Named observation: per-micro-batch ingest volume and event-time span
    # surfaced through StreamingQueryProgress.observedMetrics["ingest"]
    # (read back via last_observed()) — the engine-side analog of the
    # reference collector's per-interval message counters, computed inside
    # the running plan with zero extra passes.
    messages = messages.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    fanned = _fanout(messages.withWatermark("ts", watermark), filters)
    return (
        fanned.groupBy(F.window("ts", window).alias("w"), "broker", "topic_filter")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "broker",
            "topic_filter",
            "n",
            F.round(F.col("n") / float(window_secs), 6).alias("rate_msg_s"),
        )
    )


def cumulative_counter_job(
    messages: DataFrame, filters: Sequence[str], with_last_ts: bool = False
) -> DataFrame:
    """A3: monotonic mqtt_messages_received_total per (broker, topic_filter)
    (MqttTopicMonitorListener.java:73-92). Run in update output mode; state
    = one long per key. ``with_last_ts`` adds the event time of the last
    message that advanced each counter — the natural sample timestamp when
    the update stream is also materialized as counter history (the
    scrape-per-micro-batch model in :func:`stream_merge_counter_job`)."""
    fanned = _fanout(messages, filters)
    aggs = [F.count("*").alias("messages_received_total")]
    if with_last_ts:
        aggs.append(F.max("ts").alias("last_ts"))
    return fanned.groupBy("broker", "topic_filter").agg(*aggs)


def connection_state_job(messages: DataFrame) -> DataFrame:
    """``mqtt_connected`` gauge + ``mqtt_connection_lost`` counter per
    broker, derived from the ``$connection`` meta-events the source
    interleaves into the stream (MqttTopicMonitorListener.java:61-70 for
    the gauge, :119-122 for the counter).

    connected = 1 iff the latest connection event is ``connect`` (ties on
    ts break deterministically via the struct max — event name is the
    tiebreaker); connection_lost_total counts UNEXPECTED drops only, like
    the reference's ``connectionLost`` callback. Run in update mode; state
    is one row per broker — trivially small at any scale."""
    conn = messages.filter(F.col("topic") == CONNECTION_TOPIC).select(
        "broker", F.decode("payload", "UTF-8").alias("event"), "ts"
    )
    last_event = F.max(F.struct(F.col("ts"), F.col("event"))).getField("event")
    return conn.groupBy("broker").agg(
        F.when(last_event == "connect", 1).otherwise(0).alias("connected"),
        F.sum(F.when(F.col("event") == "connection_lost", 1).otherwise(0))
        .cast("long")
        .alias("connection_lost_total"),
        F.max("ts").alias("last_event_ts"),
    )


def connection_spans(messages: DataFrame) -> DataFrame:
    """Per-broker (started_at, stopped_at) epoch seconds from connection
    events — the live feed for the A2 disconnect/elapsed correction
    (functions/rates.corrected_msg_rate; semantics from
    mqtt_data_collector.py:99-134: ``started_at`` is the latest connect,
    ``stopped_at`` the drop *after* it, NULL while still connected or
    never connected)."""
    conn = messages.filter(F.col("topic") == CONNECTION_TOPIC).select(
        "broker",
        F.decode("payload", "UTF-8").alias("event"),
        F.unix_timestamp("ts").cast("double").alias("at_s"),
    )
    started = F.max(F.when(F.col("event") == "connect", F.col("at_s")))
    stopped = F.max(F.when(F.col("event") != "connect", F.col("at_s")))
    return conn.groupBy("broker").agg(
        started.alias("started_at"),
        # a drop older than the latest connect means we reconnected since
        F.when(stopped > started, stopped).alias("stopped_at"),
    )


def stream_stream_join_job(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """T7: watermarked stream-stream inner join — right events joined to
    left events with the same key arriving within ``within`` after the
    left event. Both sides' state is bounded by watermark + the time-range
    condition (Spark derives state-eviction bounds from the interval).

    At scale: both streams shuffle on the join key once; the range
    condition keeps per-key state to the ``within`` window.
    """
    lw = left.withWatermark("ts", watermark).alias("l")
    rw = right.withWatermark("ts", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
    )


def dedup_within_watermark_job(
    messages: DataFrame,
    keys: Sequence[str] = ("broker", "topic"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """T8: streaming dedup — the raw -> raw-deduplicated topic pattern
    (pulsar_data_collector.py:22-33) done inside the engine; state bounded
    by the watermark."""
    return messages.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


#: State-store width of every stateful query the engine starts, capped by
#: the session's shuffle width (:func:`start_stateful`). The collector's
#: state is key-bounded: one row per (broker, topic_filter) series
#: (MqttTopicMonitorListener.java:73-92), dozens at any deployment, so the
#: filter config bounds it, not the cluster, while every micro-batch
#: schedules and commits one store per shard. Measured, widths
#: interleaved: replay ingest of 100k msgs on 4 cores spent 296-326 ms of
#: summed state commit at width 4 vs 724-774 ms at 8, and ran 18.6k vs
#: 12.5-17.5k msg/s; store->serving of 300k msgs on 32 cores ran
#: 13.0-15.8k msg/s at 4 vs 8.8-10.1k at 32. The registry replays whose
#: state grows with users or topics (stream join, dedup within
#: watermark, session windows, windowed rate; bitmap distinct and the
#: hourly rollups at sf0.1 only) were timed at 4 vs 8 on 4 cores only,
#: at sf0.1 and at 20x sf0.1 over 16 batches: none slower at 4 beyond
#: the run-to-run spread, the stream join 18.4 vs 24.1 s at 20x. On wider
#: machines, re-time those before trusting this value for them.
STATE_WIDTH = 4
_START_LOCK = threading.Lock()


def start_stateful(
    spark: SparkSession, writer: DataStreamWriter
) -> StreamingQuery:
    """Start ``writer`` at state width min(session
    spark.sql.shuffle.partitions, :data:`STATE_WIDTH`) — the one place
    the engine sets it.

    A query clones its session conf when it starts and its first batch
    writes that width into the offset log, so the width is set only
    around ``start()`` and restored right after: the session itself, as
    the query's foreachBatch sink, other queries and concurrent scrapes
    read it, keeps its own width. A restart from a checkpoint keeps the
    width it was first run with, whatever the session says."""
    key = "spark.sql.shuffle.partitions"
    # serialized: two interleaved starts would restore each other's
    # pinned width and leave the session at STATE_WIDTH
    with _START_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(min(int(prev), STATE_WIDTH)))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, prev)


def run_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
) -> DataFrame:
    """Drive an unbounded DataFrame to exhaustion into a memory sink;
    returns the result as a batch DataFrame. Deterministic replay path.

    Uses the default ASAP trigger + ``processAllAvailable`` rather than
    ``availableNow``: availableNow snapshots the target offset ONCE at
    query start, which collapses a rate-limited replay source (the
    mqtt-replay ``rowsPerBatch`` batching) into a single batch — no
    watermark progression, so append-mode windows could never finalize in
    tests. processAllAvailable keeps triggering until the source stops
    advancing, giving real multi-batch watermark semantics."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    # The state width follows the engine's one rule (start_stateful:
    # min(session width, STATE_WIDTH), fixed when the query starts), the
    # same width production's CollectorApp and merge jobs run at.
    # recentProgress is a ring buffer capped at numRecentProgressUpdates
    # (default 100) — a replay producing more micro-batches than the cap
    # would silently drop its OLDEST progress events, under-counting any
    # sum over last_progress() (the multibroker message-conservation
    # check, r9 ADVICE). Raise the cap for the run; _LAST_PROGRESS is
    # then complete for any sane parameterization, and consumers can
    # still assert len < cap as a truncation guard. Unlike the state
    # width, the cap is read from the session on every batch, not
    # captured at start, so it stays pinned until the run ends.
    _CAP = "spark.sql.streaming.numRecentProgressUpdates"
    prev_cap = spark.conf.get(_CAP, None)
    spark.conf.set(_CAP, str(RECENT_PROGRESS_CAP))
    try:
        with _tmp_checkpoint("ckpt_") as checkpoint:
            q = start_stateful(
                spark,
                streaming_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint),
            )
            q.processAllAvailable()
            global _LAST_PROGRESS
            _LAST_PROGRESS = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
            q.awaitTermination()
    finally:
        if prev_cap is None:
            spark.conf.unset(_CAP)
        else:
            spark.conf.set(_CAP, prev_cap)
    return spark.table(name)


#: Progress-buffer size for run_to_memory replays (vs Spark's default
#: 100): large enough that every micro-batch of any bench/test replay is
#: retained — conservation checks sum over the COMPLETE batch history.
RECENT_PROGRESS_CAP = 100_000


#: Progress events of the most recent run_to_memory() query — the replay
#: path's window into StreamingQueryProgress (observed metrics, state rows,
#: input rates) after the query object is gone.
_LAST_PROGRESS: list[dict] = []


def last_progress() -> list[dict]:
    """Every StreamingQueryProgress (as dicts) from the last
    :func:`run_to_memory` run — batch durations, watermarks, input rates."""
    return list(_LAST_PROGRESS)


def last_observed(observation: str = "ingest") -> dict | None:
    """The most recent non-empty named observation recorded by the last
    :func:`run_to_memory` run (df.observe metrics ride each micro-batch's
    StreamingQueryProgress; empty trailing batches report no rows)."""
    for prog in reversed(_LAST_PROGRESS):
        metrics = (prog.get("observedMetrics") or {}).get(observation)
        if metrics and metrics.get("rows"):
            return metrics
    return None


def read_parquet_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-replay source: stream an existing parquet file/dir with its
    batch schema (the deterministic stand-in for live MQTT). Timestamps are
    normalized as in plans.table (``plans.normalize_timestamps``).

    ``SPARK_GRAFT_REPLAY_MAX_FILES`` (env) supplies a default
    ``maxFilesPerTrigger`` when the caller passes none — the
    disorder-replay suite uses it to force one-file micro-batches through
    the UNCHANGED registry builders so out-of-order slice delivery is
    exercised across real batch boundaries."""
    import os

    if max_files_per_trigger is None:
        env_mft = os.environ.get("SPARK_GRAFT_REPLAY_MAX_FILES")
        if env_mft:
            # test-only knob — and a leaked env var would silently change
            # micro-batching (and thus watermark/window behavior) of EVERY
            # parquet replay stream, so make the override loud (r9 ADVICE)
            import warnings

            warnings.warn(
                "SPARK_GRAFT_REPLAY_MAX_FILES="
                f"{env_mft} overrides maxFilesPerTrigger for this parquet "
                "replay stream (disorder-replay test knob — unset it "
                "outside tests)",
                stacklevel=2,
            )
            max_files_per_trigger = int(env_mft)

    from transitdata_monitor_data_collector_spark.plans import (
        _nano_ts_cols,
        normalize_timestamps,
    )

    nano_cols = _nano_ts_cols(path) if path.endswith(".parquet") else []
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # The file streaming source requires a directory; expose a single
        # parquet file through a symlink in a temp dir (no data copy).
        # The dir is DETERMINISTIC per source path: the file source's
        # checkpoint log records processed files by absolute path, so a
        # random dir per call would make every durable-checkpoint restart
        # see the same bytes as brand-new files and replay them (double
        # counting through stateful sinks).
        import hashlib

        # uid-scoped name: a predictable world-shared /tmp dir could be
        # pre-created (with a hostile symlink) by another local user
        d = os.path.join(
            tempfile.gettempdir(),
            "stream_src_%d_%s"
            % (
                os.getuid(),
                hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:16],
            ),
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(path))
        # never trust an existing link blindly: a stale one (source file
        # deleted/recreated elsewhere) or an injected one would silently
        # feed the stream different bytes — verify the target and recreate
        target = os.path.abspath(path)
        if os.path.islink(link) and os.readlink(link) != target:
            os.unlink(link)
        if not os.path.islink(link):
            try:
                os.symlink(target, link)
            except FileExistsError:
                pass
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # naive-micros (TIMESTAMP_NTZ) columns can't carry a watermark
    return normalize_timestamps(reader.parquet(path), nano_cols)


def _duration_seconds(s: str) -> int:
    qty, unit = s.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}[unit]
    return int(qty) * mult


def session_window_job(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """T7 session windows as a streaming aggregation: dynamic-gap windows
    merge in the state store as events arrive; the watermark bounds state
    by closing sessions older than max(ts) - watermark. With availableNow
    replay + complete mode the final table equals the batch
    ``session_window`` aggregation (pinned by the registry oracle)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            key, F.col("sw.start").alias("session_start"), "n_events"
        )
    )


def stateful_counter_job(
    messages: DataFrame,
    filters: Sequence[str],
    timeout_conf: str = "NoTimeout",
) -> DataFrame:
    """A3 as a CUSTOM stateful operator via ``applyInPandasWithState``:
    one long of state per (broker, topic_filter), incremented per
    micro-batch — the literal Spark analog of the reference's Micrometer
    counter objects (MqttTopicMonitorListener.java:73-92), kept for the
    charter's custom-stateful-operator surface. The built-in agg
    formulation (:func:`cumulative_counter_job`) is the production path;
    this one is for semantics Spark's aggs can't express (custom decay,
    conditional resets, ...). State size: one int64 per key — the key
    space is the filter registry, tiny at any data scale.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    fanned = with_topic_filter_fanout(messages, filters)

    def update(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            {
                "broker": [key[0]],
                "topic_filter": [key[1]],
                "messages_received_total": [total],
            }
        )

    return fanned.groupBy("broker", "topic_filter").applyInPandasWithState(
        update,
        outputStructType="broker string, topic_filter string, "
        "messages_received_total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def holt_tail_state_job(events: DataFrame, k: int = 32) -> DataFrame:
    """Per-event_type tail ring for the streaming Holt forecast: state is
    the top-``k`` rows by (event time, event_id) — newest first — kept as
    three parallel arrays plus a seen-row counter and a batch sequence.

    The state merge is *top-k of the union*, which is commutative and
    associative over micro-batches: however the replay is batched or
    ordered, the final ring equals the batch query's
    ``ORDER BY ts DESC, event_id DESC LIMIT k`` tail exactly — which is
    what lets the streaming run share the batch oracle
    (plans.monitoring._holt_oracle). Values ride Arrow as float64 both
    ways, bit-exact. State size: k doubles + 2k longs per key; the key
    space is |event_type| — tiny at any scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    rows_in = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            ts_l, id_l, v_l, n_seen, seq = state.get
            rows = list(zip(list(ts_l), list(id_l), list(v_l)))
            n_seen = int(n_seen)
            seq = int(seq)
        else:
            rows, n_seen, seq = [], 0, 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            rows.extend(
                zip(
                    (int(x) for x in pdf["ts_us"]),
                    (int(x) for x in pdf["event_id"]),
                    (float(x) for x in pdf["value"]),
                )
            )
        rows.sort(key=lambda r: (-r[0], -r[1]))
        rows = rows[:k]
        seq += 1
        state.update(
            (
                [r[0] for r in rows],
                [r[1] for r in rows],
                [r[2] for r in rows],
                n_seen,
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "seq": [seq],
                "n_seen": [n_seen],
                "tail_values": [[r[2] for r in rows]],
            }
        )

    return rows_in.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, seq long, n_seen long, "
        "tail_values array<double>",
        stateStructType="ts_us array<long>, ids array<long>, "
        "vals array<double>, n_seen long, seq long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def tws_meter_job(messages: DataFrame, filters: Sequence[str]) -> DataFrame:
    """UD4 on the NEW arbitrary-state API (Spark 4
    ``transformWithStateInPandas``): a per-(broker, topic_filter) meter —
    message count plus first/last event-time — kept in one ValueState and
    snapshotted every micro-batch.

    ENVIRONMENT GATE: the TWS Python runner needs ``google.protobuf``
    (its state-server protocol) and the RocksDB state-store provider;
    this container ships neither, so the job is exercised by a
    skip-marked test (tests/test_streaming_extras.py) and NOT registered
    in the oracle gate. On a normally-provisioned cluster it runs as-is.  Successor API to
    ``applyInPandasWithState`` (:func:`stateful_counter_job`): typed state
    handles (value/list/map), timers, and TTL come from the
    StatefulProcessorHandle instead of one opaque tuple.

    When the real google.protobuf runtime is absent, the vendored minimal
    runtime (vendor/pbshim, pure-Python wire codec over the public spec)
    is activated and shipped to python workers via addPyFile — the JVM
    state server parsing those bytes with protobuf-java is the
    differential check on the shim's encoder.

    Every maintained quantity is COMMUTATIVE (count, min, max), so the
    final state is independent of micro-batch boundaries and row order —
    which is what makes the streaming run oracle-checkable against the
    batch aggregate. State: 3 int64s per key; key space = the filter
    registry (tiny at any scale)."""
    import pandas as pd

    from transitdata_monitor_data_collector_spark.protobuf_compat import (
        ensure_protobuf,
    )

    if not ensure_protobuf(messages.sparkSession):
        raise RuntimeError(
            "google.protobuf unavailable and the vendored shim failed to "
            "load — transformWithStateInPandas cannot run"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    fanned = with_topic_filter_fanout(messages, filters).select(
        "broker", "topic_filter", F.unix_micros("ts").alias("ts_us")
    )

    class MeterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "meter", "n BIGINT, first_us BIGINT, last_us BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, first_us, last_us = (
                self._state.get() if self._state.exists() else (0, None, None)
            )
            for pdf in rows:
                n += len(pdf)
                lo = int(pdf["ts_us"].min())
                hi = int(pdf["ts_us"].max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            self._state.update((n, first_us, last_us))
            yield pd.DataFrame(
                {
                    "broker": [key[0]],
                    "topic_filter": [key[1]],
                    "messages_received_total": [n],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return fanned.groupBy("broker", "topic_filter").transformWithStateInPandas(
        MeterProcessor(),
        outputStructType="broker string, topic_filter string, "
        "messages_received_total long, first_us long, last_us long",
        outputMode="Update",
        timeMode="None",
    )


def bitmap_distinct_job(events: DataFrame) -> DataFrame:
    """Exact distinct-user cardinality per day maintained INCREMENTALLY as
    bitmap state (the streaming twin of the batch
    ``agg_bitmap_distinct_users`` registry query): each event sets one bit
    in a (day, word = user_id/32) cell; ``bit_or`` is associative,
    commutative, and idempotent, so update-mode keyed state holds exactly
    domain/32 longs per day no matter how many events replay, re-deliver,
    or arrive late — the property HLL gives approximately, delivered
    exactly for dense id domains. Run in update output mode; downstream
    popcounts sum the words per day. A production job adds
    ``withWatermark`` on ts to evict closed days' words. Word/bit
    arithmetic is the shared full-domain-exact helper
    (functions/bitmap.py: shiftright + pmod, r10 ADVICE)."""
    from transitdata_monitor_data_collector_spark.functions.bitmap import (
        bitmap_bit,
        bitmap_word,
    )

    words = events.select(
        F.to_date("ts").alias("day"),
        bitmap_word("user_id").alias("word_i"),
        bitmap_bit("user_id").alias("b"),
    )
    return words.groupBy("day", "word_i").agg(F.bit_or("b").alias("mask"))


def cms_cells_job(events: DataFrame, d: int = 4, w: int = 512) -> DataFrame:
    """Count-Min sketch maintained INCREMENTALLY over a stream (the
    streaming twin of the batch ``sketch_countmin_heavy_hitters``): each
    event increments d hashed cells (row r, col = md5-prefix of
    ``user_id#r`` mod w), so keyed update-mode state is exactly d x w
    counters no matter how much traffic replays — the mergeable
    fixed-size frequency structure that replaces an unbounded exact
    key count at 100 TB. Counts are monotone, so a downstream max per
    cell recovers the final sketch from an update-mode sink. A
    production job adds ``withWatermark`` + windowing for a decaying
    sketch; the replay twin keeps the lifetime sketch so the final
    state must equal the batch-built cells."""
    rows = F.array(*[F.lit(r) for r in range(d)])
    col = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("row_i").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % w
    )
    return (
        events.select(F.col("user_id"), F.explode(rows).alias("row_i"))
        .select("row_i", col.alias("col_i"))
        .groupBy("row_i", "col_i")
        .agg(F.count("*").alias("cnt"))
    )


@contextlib.contextmanager
def _tmp_checkpoint(prefix: str) -> Iterator[str]:
    """Ephemeral checkpoint dir for replay/test drives (tmpfs-backed when
    available to skip per-micro-batch fsync latency), removed when the
    block exits: its query must have stopped by then. Production jobs
    pass their own durable checkpointLocation."""
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    path = tempfile.mkdtemp(prefix=prefix, dir=ckpt_base)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _drain(q) -> None:
    """Drive a started query to source exhaustion, then stop it."""
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()


def stream_merge_counter_job(
    spark: SparkSession,
    messages: DataFrame,
    table_path: str,
    filters: Sequence[str],
    checkpoint: str | None = None,
    history_path: str | None = None,
) -> None:
    """Maintain the per-(broker, topic_filter) counter table as a VERSIONED
    MERGE TABLE via foreachBatch: update-mode aggregation emits only the
    keys a micro-batch actually changed, and each delta set upserts into
    sinks.parquet.merge_upsert — every batch leaves a time-travelable
    version, and untouched keys carry over in the merge, so at 100 TB
    the per-epoch write is the ACTIVE keys only, never the whole table.

    Exactly-once: pass a DURABLE ``checkpoint`` and the merge's batch-id
    ledger makes a replayed epoch (restart re-delivering the last
    uncommitted batch) a no-op. With no checkpoint (replay/test runs) a
    fresh per-run token is mixed into the ledger id instead — two
    independent runs both start at epoch 0, and a bare batch_id would
    make the second run's first merge look like a replay of the first's
    and silently drop it.

    ``history_path``: when set, each micro-batch ALSO appends its changed
    keys as counter SAMPLES (ts = event time of the last message that
    advanced the key, broker, topic_filter, counter) into the
    dt-partitioned history store — one sample per key per batch, exactly
    the Prometheus scrape model, which makes the store directly queryable
    by functions/promql.rate_over_store. The append is per-batch delta
    keys only (update mode), so history volume tracks ACTIVE series, not
    the full key space.

    History idempotency under foreachBatch re-delivery: the append runs
    AFTER the ledger-guarded merge commits (so a failed merge never
    leaves orphan samples), and is itself guarded by a per-ledger-id
    marker file under ``<history_path>/_batches/`` created atomically
    after the append job commits — a replayed batch whose samples
    already landed is skipped. The one remaining window (crash between
    the append's job commit and the marker rename) degrades to
    at-least-once, which the rate read path absorbs by construction:
    an exact duplicate (key, ts, counter) sample contributes zero to
    the reset-guarded delta (functions/promql.py), so rate/increase
    results are duplicate-immune without any dedup pass."""
    from transitdata_monitor_data_collector_spark.sinks.parquet import (
        merge_upsert,
        write_time_partitioned,
    )

    totals = cumulative_counter_job(
        messages.withWatermark("ts", "2 minutes"),
        filters,
        with_last_ts=history_path is not None,
    )
    run_token = "" if checkpoint is not None else uuid.uuid4().hex[:12] + ":"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # materialize the delta ONCE, on the driver: the batch frame is a
        # scan of the stateful plan's RDD, so every action on it (the
        # merge's anti-join AND union, the history projection) would
        # re-run the aggregation and commit its state again. A cache
        # does not cover the merge (its union reads a re-instanced copy
        # of the scan, which misses the cache). The delta is key-bounded
        # (one row per changed (broker, topic_filter)), so one collect
        # is cheap, leaves no blocks behind and survives executor loss.
        # The rows stay in the JVM as a local relation: it carries its
        # real size, so the merge broadcasts it, and timestamps keep
        # their instant. createDataFrame(<python list>) would plan a
        # sort-merge join (unknown size) and read the rows through
        # Python workers on every job, ~3x slower per merge.
        jdf = batch_df._jdf
        rows = jdf.collectAsList()
        if rows.isEmpty():  # update mode emits only deltas
            return
        batch_df = DataFrame(
            spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark
        )
        ledger_id = f"{run_token}{batch_id}"
        # merge FIRST: if it raises, no orphan history samples land;
        # if it replays (ledger no-op), the marker below decides
        # whether the history append already happened.
        # validate_keys=False: update-mode agg output is one row per
        # group key BY CONSTRUCTION (and fan-out never emits null
        # broker/filter) — the uniqueness job would be a 4th Spark
        # job per micro-batch for an invariant the engine already
        # guarantees. target_files=1: the counter table is
        # key-bounded (one row per (broker, topic_filter) series),
        # so each version is ONE file instead of
        # shuffle-partition-many near-empty ones — the versioned
        # store's per-epoch I/O transaction count is what throttles
        # the store->serving path on slow disks.
        merge_upsert(
            spark,
            table_path,
            batch_df.drop("last_ts"),
            ["broker", "topic_filter"],
            batch_id=ledger_id,
            validate_keys=False,
            target_files=1,
        )
        if history_path is not None:
            marker_dir = os.path.join(history_path, "_batches")
            marker = os.path.join(
                marker_dir, ledger_id.replace(":", "_")
            )
            if not os.path.exists(marker):
                write_time_partitioned(
                    batch_df.select(
                        F.col("last_ts").alias("ts"),
                        "broker",
                        "topic_filter",
                        F.col("messages_received_total")
                        .cast("double")
                        .alias("counter"),
                    ),
                    history_path,
                    ts_col="ts",
                    sort_cols=("broker", "topic_filter"),
                    mode="append",
                )
                os.makedirs(marker_dir, exist_ok=True)
                tmp = marker + ".tmp"
                with open(tmp, "w"):
                    pass
                os.rename(tmp, marker)  # atomic: marker appears last

    # a caller's checkpoint is theirs to keep; only the ephemeral one goes
    with (
        contextlib.nullcontext(checkpoint)
        if checkpoint is not None
        else _tmp_checkpoint("ckpt_merge_")
    ) as ckpt:
        _drain(
            start_stateful(
                spark,
                totals.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt),
            )
        )
