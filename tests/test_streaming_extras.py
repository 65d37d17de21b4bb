"""Tests for the UDTF matcher variant (UD2), the applyInPandasWithState
custom stateful counter (A3), and the fixed-rate scheduled scrape job
(S5, GtfsRtMetricsExporter.java:37-42)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
    make_matching_filters_udtf,
)
from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
    encode_feed_message,
    scheduled_scrape_stream,
)
from transitdata_monitor_data_collector_spark.streaming import jobs

FILTERS = ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/bus/#"]


def test_udtf_fanout_and_unknown(spark):
    udtf_cls = make_matching_filters_udtf(FILTERS)
    spark.udtf.register("mqtt_matching_filters", udtf_cls)
    rows = spark.sql(
        "SELECT m.topic, f.topic_filter "
        "FROM VALUES ('/hfp/v2/journey/ongoing/vp/bus/1'), ('ext/other') AS m(topic), "
        "LATERAL mqtt_matching_filters(m.topic) AS f"
    ).collect()
    got = sorted((r["topic"], r["topic_filter"]) for r in rows)
    assert got == [
        ("/hfp/v2/journey/ongoing/vp/bus/1", "/hfp/v2/journey/#"),
        ("/hfp/v2/journey/ongoing/vp/bus/1", "/hfp/v2/journey/ongoing/+/bus/#"),
        ("ext/other", "unknown"),
    ]


@pytest.fixture()
def replay_file(tmp_path):
    msgs = [
        {"broker": "b1", "topic": "/hfp/v2/journey/ongoing/vp/bus/1",
         "ts": "2024-01-01T00:00:01"},
        {"broker": "b1", "topic": "/hfp/v2/journey/ongoing/vp/bus/2",
         "ts": "2024-01-01T00:00:02"},
        {"broker": "b2", "topic": "nope", "ts": "2024-01-01T00:00:03"},
    ]
    p = tmp_path / "m.jsonl"
    p.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
    return str(p)


def test_stateful_counter_matches_builtin(spark, replay_file):
    from transitdata_monitor_data_collector_spark.sources.mqtt import (
        register_sources,
    )

    register_sources(spark)
    stream = (
        spark.readStream.format("mqtt-replay").option("path", replay_file).load()
    )
    counted = jobs.stateful_counter_job(stream, FILTERS)
    mem = jobs.run_to_memory(spark, counted, output_mode="update")
    got = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in mem.collect()
    }
    assert got == {
        ("b1", "/hfp/v2/journey/#"): 2,
        ("b1", "/hfp/v2/journey/ongoing/+/bus/#"): 2,
        ("b2", "unknown"): 1,
    }


def test_scheduled_scrape_ticks(spark):
    calls = []

    def fetcher(url):
        calls.append(url)
        return 200, encode_feed_message("2.0", 0, ["e"])

    q = scheduled_scrape_stream(
        spark,
        ["https://a/feed", "https://b/feed"],
        fetcher,
        poll_interval="1 seconds",
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and len(q._scrape_results) < 4:
            time.sleep(0.5)
    finally:
        q.stop()
    # at least two ticks fired -> each scraped both urls on schedule
    assert len(calls) >= 4
    assert {r[0] for r in q._scrape_results} == {"https://a/feed", "https://b/feed"}
    assert all(r[1] == "success" for r in q._scrape_results)


def test_tws_meter_matches_batch(spark, sf_dir):
    """UD4 on the transformWithStateInPandas runner — runs everywhere:
    with the real google.protobuf when installed, else on the vendored
    minimal runtime (vendor/pbshim), which tws_meter_job activates and
    ships to workers itself. The JVM state server parsing the shim's
    bytes with protobuf-java is the end-to-end differential check."""
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        DASHBOARD_FILTERS,
    )
    from transitdata_monitor_data_collector_spark.plans.streaming_queries import (
        _message_stream,
    )
    from transitdata_monitor_data_collector_spark.streaming import jobs
    from transitdata_monitor_data_collector_spark.streaming.jobs import (
        tws_meter_job,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        meters = tws_meter_job(_message_stream(spark, sf_dir), DASHBOARD_FILTERS)
        mem = jobs.run_to_memory(spark, meters, output_mode="update")
        got = {
            (r.broker, r.topic_filter): (r.n, r.first_us, r.last_us)
            for r in mem.groupBy("broker", "topic_filter")
            .agg(
                F.max("messages_received_total").alias("n"),
                F.min("first_us").alias("first_us"),
                F.max("last_us").alias("last_us"),
            )
            .collect()
        }
        assert got
        # batch oracle: every maintained quantity is commutative, so the
        # final TWS state must equal the batch fan-out aggregate exactly
        from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
            with_topic_filter_fanout,
        )
        from transitdata_monitor_data_collector_spark.plans import table
        from transitdata_monitor_data_collector_spark.plans.streaming_queries import (
            BROKER_SQL,
            TOPIC_SQL,
        )

        msgs = table(spark, sf_dir, "events").select(
            F.expr(BROKER_SQL).alias("broker"),
            F.expr(TOPIC_SQL).alias("topic"),
            "ts",
        )
        want = {
            (r.broker, r.topic_filter): (r.n, r.first_us, r.last_us)
            for r in with_topic_filter_fanout(msgs, DASHBOARD_FILTERS)
            .groupBy("broker", "topic_filter")
            .agg(
                F.count("*").alias("n"),
                F.min(F.unix_micros("ts")).alias("first_us"),
                F.max(F.unix_micros("ts")).alias("last_us"),
            )
            .collect()
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_checkpoint_recovery_resumes_not_reprocesses(spark, sf_dir, tmp_path):
    """T4 state & recovery, exercised for real: run a stateful streaming
    aggregation to exhaustion, STOP it, append new source files, and
    start a NEW query from the same checkpoint. The restart must (a)
    restore the state store — final totals equal the full batch answer —
    and (b) resume from the committed offsets — the second run reads
    ONLY the new files, not the whole source."""
    from pyspark.sql import functions as F

    from transitdata_monitor_data_collector_spark.plans import table

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    h1 = ev.filter(F.col("event_id") % 2 == 0)
    h2 = ev.filter(F.col("event_id") % 2 == 1)
    n1, n2 = h1.count(), h2.count()
    h1.write.mode("append").parquet(src)
    schema = ev.schema

    def run(name):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("event_type").count()
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        q.stop()
        return rows

    assert run("ckpt_rec_m1") == n1
    h2.write.mode("append").parquet(src)
    reprocessed = run("ckpt_rec_m2")
    assert reprocessed == n2, (
        f"restart re-read {reprocessed} rows; committed offsets should "
        f"limit it to the {n2} new rows"
    )
    got = {
        r["event_type"]: r["count"]
        for r in spark.sql("select * from ckpt_rec_m2").collect()
    }
    exp = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == exp


def test_observed_ingest_metrics(spark, sf_dir):
    """df.observe metrics ride each micro-batch's progress event: after a
    windowed-rate replay, last_observed() must report exactly the replayed
    row count and the true event-time span — the in-plan, zero-extra-pass
    analog of the reference collector's per-interval message counters."""
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        DASHBOARD_FILTERS,
    )
    from transitdata_monitor_data_collector_spark.plans.streaming_queries import (
        _message_stream,
    )
    from transitdata_monitor_data_collector_spark.streaming import jobs

    rates = jobs.windowed_rate_job(
        _message_stream(spark, sf_dir), DASHBOARD_FILTERS
    )
    jobs.run_to_memory(spark, rates, output_mode="complete")
    obs = jobs.last_observed("ingest")
    assert obs is not None, "no ingest observation in any progress event"
    total_rows = sum(
        (p.get("observedMetrics") or {}).get("ingest", {}).get("rows", 0)
        for p in jobs._LAST_PROGRESS
    )
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total_rows == expected
    assert obs["min_ts"] <= obs["max_ts"]


def test_stream_merge_counter_job(spark, sf_dir, tmp_path):
    """foreachBatch + merge_upsert: the streamed counter table must equal
    the batch aggregate, each micro-batch leaves a committed version, and
    the batch-id ledger makes redelivery exactly-once."""
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        DASHBOARD_FILTERS,
    )
    from transitdata_monitor_data_collector_spark.plans.streaming_queries import (
        _message_stream,
    )
    from transitdata_monitor_data_collector_spark.sinks import parquet as P
    from transitdata_monitor_data_collector_spark.streaming import jobs

    path = str(tmp_path / "counter_tbl")
    jobs.stream_merge_counter_job(
        spark, _message_stream(spark, sf_dir), path, DASHBOARD_FILTERS
    )
    assert P.table_version(path) is not None

    got = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in P.read_table(spark, path).collect()
    }
    from pyspark.sql import functions as F

    from transitdata_monitor_data_collector_spark.plans import table
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        BROKER_SQL,
        TOPIC_SQL,
    )

    batch_msgs = table(spark, sf_dir, "events").select(
        F.expr(BROKER_SQL).alias("broker"),
        F.expr(TOPIC_SQL).alias("topic"),
        "ts",
        "event_id",
    )
    batch = jobs.cumulative_counter_job(batch_msgs, DASHBOARD_FILTERS)
    exp = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in batch.collect()
    }
    assert got == exp

    # an INDEPENDENT second run (fresh ephemeral checkpoint, epochs start
    # at 0 again) must not be mistaken for a replay of the first run's
    # epoch 0 — its merges must land as new versions
    v_before = P.table_version(path)
    jobs.stream_merge_counter_job(
        spark, _message_stream(spark, sf_dir), path, DASHBOARD_FILTERS
    )
    assert P.table_version(path) > v_before
    got2 = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in P.read_table(spark, path).collect()
    }
    assert got2 == exp  # same source replayed -> same totals


def test_merge_counter_history_append_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch re-delivery must not duplicate history samples (r6
    ADVICE, medium): the history append is marker-guarded per ledger id
    and runs after the merge. Re-delivery is forced for real — the
    newest checkpoint commit-log entry is deleted, so restarting the
    query re-runs the last micro-batch through the sink."""
    import os

    from transitdata_monitor_data_collector_spark.functions.promql import (
        rate_over_store,
    )
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        DASHBOARD_FILTERS,
    )
    from transitdata_monitor_data_collector_spark.plans.streaming_queries import (
        _message_stream,
    )
    from transitdata_monitor_data_collector_spark.sinks import parquet as P
    from transitdata_monitor_data_collector_spark.streaming import jobs

    path = str(tmp_path / "counter_tbl")
    hist = str(tmp_path / "history")
    ckpt = str(tmp_path / "ckpt")
    jobs.stream_merge_counter_job(
        spark,
        _message_stream(spark, sf_dir),
        path,
        DASHBOARD_FILTERS,
        checkpoint=ckpt,
        history_path=hist,
    )
    markers = os.listdir(os.path.join(hist, "_batches"))
    assert markers, "per-batch markers must exist after a run"
    samples = spark.read.parquet(hist)
    n0 = samples.count()
    # contract: one sample per (series key, ts)
    assert (
        samples.groupBy("broker", "topic_filter", "ts")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    v0 = P.table_version(path)
    totals0 = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in P.read_table(spark, path).collect()
    }

    # force a genuine foreachBatch re-delivery: drop the newest commit
    # (and its hidden .crc checksum sidecar, or the rewrite fails)
    commit_dir = os.path.join(ckpt, "commits")
    commits = sorted(
        f for f in os.listdir(commit_dir) if not f.startswith(".")
    )
    os.remove(os.path.join(commit_dir, commits[-1]))
    crc = os.path.join(commit_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    jobs.stream_merge_counter_job(
        spark,
        _message_stream(spark, sf_dir),
        path,
        DASHBOARD_FILTERS,
        checkpoint=ckpt,
        history_path=hist,
    )

    # merge ledger made the replayed merge a no-op…
    assert P.table_version(path) == v0
    totals1 = {
        (r["broker"], r["topic_filter"]): r["messages_received_total"]
        for r in P.read_table(spark, path).collect()
    }
    assert totals1 == totals0
    # …and the marker made the replayed history append a no-op
    assert spark.read.parquet(hist).count() == n0

    # belt-and-suspenders: even a raw duplicate sample (the remaining
    # crash window between append commit and marker rename) is absorbed
    # by the reset-guarded delta algebra itself (an equal consecutive
    # value yields delta 0) — rates are identical before and after
    # physically duplicating a sample, with no dedup pass in the plan
    def rate_rows():
        return sorted(
            map(
                repr,
                rate_over_store(
                    spark, hist, ["broker", "topic_filter"], "1 minute"
                ).collect(),
            )
        )

    before = rate_rows()
    one = spark.read.parquet(hist).limit(1)
    one.write.mode("append").partitionBy("dt").parquet(hist)
    assert spark.read.parquet(hist).count() == n0 + 1  # dup really landed
    assert rate_rows() == before


def test_tws_full_state_protocol_roundtrip(spark, sf_dir, tmp_path):
    """Exercise EVERY state-server message family through the protobuf
    shim in one transformWithStateInPandas job: ValueState (get/update/
    exists), ListState (appendValue/appendList/put/get — including the
    Arrow list transport), MapState with TTL (updateValue/getValue/
    containsKey/keys/iterator/removeKey), processing-time timers
    (register/list/delete), and deleteIfExists. Assertions are
    commutative aggregates, so the result is micro-batch-invariant; the
    JVM parsing every request type is the protocol-wide differential
    check on the vendored codec."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from transitdata_monitor_data_collector_spark.plans import table
    from transitdata_monitor_data_collector_spark.protobuf_compat import (
        ensure_protobuf,
    )
    from transitdata_monitor_data_collector_spark.streaming import jobs

    assert ensure_protobuf(spark)

    class ProtocolProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._n = handle.getValueState("n", "n BIGINT")
            self._seen = handle.getListState("seen", "v BIGINT")
            self._per_type = handle.getMapState(
                "per_type", "k STRING", "c BIGINT", ttlDurationMs=3_600_000
            )
            handle.getValueState("scratch", "x BIGINT")
            handle.deleteIfExists("scratch")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            batch_ids = []
            type_counts: dict = {}
            for pdf in rows:
                n += len(pdf)
                batch_ids.extend(int(v) for v in pdf["event_id"])
                for t, c in pdf["event_type"].value_counts().items():
                    type_counts[t] = type_counts.get(t, 0) + int(c)
            self._n.update((n,))
            # list transport: one appendValue, the rest via appendList
            self._seen.appendValue((batch_ids[0],))
            if len(batch_ids) > 1:
                self._seen.appendList([(b,) for b in batch_ids[1:]])
            for t, c in type_counts.items():
                prev = (
                    self._per_type.getValue((t,))[0]
                    if self._per_type.containsKey((t,))
                    else 0
                )
                self._per_type.updateValue((t,), (prev + c,))
            # timer surface: register two, delete one, count the rest.
            # The surviving timer expires almost immediately and deletes
            # itself in handleExpiredTimer — a PENDING processing-time
            # timer keeps the query triggering forever ("no new data but
            # cleaning up state"), which would hang processAllAvailable.
            now = timerValues.getCurrentProcessingTimeInMs()
            self._handle.registerTimer(now + 200)
            self._handle.registerTimer(now + 7_200_000)
            self._handle.deleteTimer(now + 7_200_000)
            n_timers = sum(1 for _ in self._handle.listTimers())
            list_sum = sum(v[0] for v in self._seen.get())
            map_total = sum(
                self._per_type.getValue((k[0],))[0]
                for k in self._per_type.keys()
            )
            n_types = sum(1 for _ in self._per_type.iterator())
            # removeKey path: drop and re-add one key, totals unchanged
            some_t = next(iter(type_counts))
            kept = self._per_type.getValue((some_t,))[0]
            self._per_type.removeKey((some_t,))
            assert not self._per_type.containsKey((some_t,))
            self._per_type.updateValue((some_t,), (kept,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "list_sum": [list_sum],
                    "map_total": [map_total],
                    "n_types": [n_types],
                    "n_timers": [n_timers],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # expiry path: delete the fired timer so the query can idle
            self._handle.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
            yield from ()

        def close(self) -> None:
            pass

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "src")
    ev.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .filter(F.col("user_id") < 8)
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = stream.groupBy("user_id").transformWithStateInPandas(
            ProtocolProcessor(),
            outputStructType="user_id long, n long, list_sum long, "
            "map_total long, n_types long, n_timers long",
            outputMode="Update",
            timeMode="ProcessingTime",
        )
        # ProcessingTime mode + state TTL keeps housekeeping triggers
        # alive forever ("no new data but cleaning up state"), so
        # processAllAvailable would never return: poll the sink for the
        # expected totals instead, then stop the query.
        want_n = dict(
            table(spark, sf_dir, "events")
            .filter(F.col("user_id") < 8)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        q = (
            out.writeStream.format("memory")
            .queryName("tws_protocol")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            mem = spark.table("tws_protocol")
            deadline = time.time() + 180
            while time.time() < deadline:
                got_n = {
                    r["user_id"]: r["n"]
                    for r in mem.groupBy("user_id")
                    .agg(F.max("n").alias("n"))
                    .collect()
                }
                if got_n == want_n:
                    break
                time.sleep(1)
            else:
                raise AssertionError(
                    f"sink never reached batch totals: {got_n} != {want_n}"
                )
            mem = mem.cache()  # freeze the asserted snapshot
            mem.count()
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    final = {
        r["user_id"]: r
        for r in mem.groupBy("user_id")
        .agg(
            F.max("n").alias("n"),
            F.max("list_sum").alias("list_sum"),
            F.max("map_total").alias("map_total"),
            F.max("n_types").alias("n_types"),
            F.min("n_timers").alias("n_timers"),
        )
        .collect()
    }
    want = {
        r["user_id"]: r
        for r in ev.filter(F.col("user_id") < 8)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("list_sum"),
            F.count("*").alias("map_total"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .collect()
    }
    assert set(final) == set(want) and final
    for uid, w in want.items():
        g = final[uid]
        assert g["n"] == w["n"]
        assert g["list_sum"] == w["list_sum"]
        assert g["map_total"] == w["map_total"]
        assert g["n_types"] == w["n_types"]
        assert g["n_timers"] >= 1  # register-2-delete-1 leaves >= 1 live


def test_tws_checkpoint_recovery(spark, sf_dir, tmp_path):
    """T4 on the transformWithStateInPandas runner: run the TWS meter to
    exhaustion, STOP, append new source files, restart from the same
    checkpoint. The restart must restore RocksDB state (final counts =
    full batch counts) — and it re-runs the driver-worker pre-init state
    schema validation, so recovery also re-exercises the vendored
    protobuf codec across a cold start."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from transitdata_monitor_data_collector_spark.plans import table
    from transitdata_monitor_data_collector_spark.protobuf_compat import (
        ensure_protobuf,
    )

    assert ensure_protobuf(spark)

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"event_type": [key[0]], "n": [n]})

        def close(self) -> None:
            pass

    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    h1 = ev.filter(F.col("event_id") % 2 == 0)
    h2 = ev.filter(F.col("event_id") % 2 == 1)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    h1.write.mode("append").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    sink = str(tmp_path / "out")

    def run(name):
        # memory sink cannot recover a checkpoint in update mode — use a
        # real file sink, as a restartable production job would
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = stream.groupBy("event_type").transformWithStateInPandas(
            CountProcessor(),
            outputStructType="event_type string, n long",
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return {
            r["event_type"]: r["n"]
            for r in spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(F.max("n").alias("n"))
            .collect()
        }

    try:
        first = run("tws_rec_1")
        h2.write.mode("append").parquet(src)
        second = run("tws_rec_2")
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    want_first = {
        r["event_type"]: r["n"]
        for r in h1.groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    want_total = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert first == want_first
    # restored state + only-new-files: totals equal the full batch answer
    assert second == want_total


def test_store_to_serving_end_to_end(spark):
    """r5 VERDICT item 7: the full reference-shaped path in ONE run —
    replay ingest -> watermarked update-mode counter state -> versioned
    merge store (exactly-once ledger) -> per-batch scrape samples into
    the dt-partitioned history -> reset-guarded PromQL rate over the
    store -> Prometheus exposition. Asserts message conservation across
    the whole chain, per-batch versioning, rate coverage, and that the
    rendered page carries every series. The 1M-event measured twin runs
    in bench.py (measure_store_to_serving -> BENCH "store_serving")."""
    from transitdata_monitor_data_collector_spark.streaming.ingest_bench import (
        measure_store_to_serving,
    )

    n = 60_000
    out = measure_store_to_serving(spark, n_msgs=n, rows_per_batch=10_000)
    assert out["conserved"], out
    assert out["counter_sum"] == 2 * n + n // 100
    # every micro-batch with deltas left a committed version, and 60k
    # rows at 10k rows/batch is ~6 batches
    assert out["n_versions"] >= 3
    # history holds one sample per changed key per batch: > final series
    # count (5: 2 brokers x 2 wildcard filters + 1 exact on broker-1),
    # bounded by batches x keys
    assert out["n_series"] == 5
    assert out["n_history_samples"] > out["n_series"]
    # the replay spans 6 s of event time at 10 kHz -> at least one
    # 1-minute rate window per series
    assert out["n_rate_rows"] >= out["n_series"]
    assert out["exposition_bytes"] > 0


def test_windowed_rate_invariant_under_batch_size(spark):
    """Micro-batch-boundary determinism: the same replay corpus driven
    through windowed_rate_job in ~3 batches vs ~40 batches must yield
    byte-identical final window tables (complete mode). Watermark
    progression, state updates, and late-arrival handling all differ
    per batching — the FINAL table must not."""
    import os
    import tempfile

    from transitdata_monitor_data_collector_spark.sources.mqtt import (
        register_sources,
    )
    from transitdata_monitor_data_collector_spark.streaming import jobs
    from transitdata_monitor_data_collector_spark.streaming.ingest_bench import (
        BENCH_FILTERS,
        generate_replay_file,
    )

    register_sources(spark)
    fd, path = tempfile.mkstemp(suffix=".jsonl", prefix="batchinv_")
    os.close(fd)
    generate_replay_file(path, 12_000)

    def run(rpb: int):
        stream = (
            spark.readStream.format("mqtt-replay")
            .option("path", path)
            .option("rowsPerBatch", str(rpb))
            .option("readPartitions", "4")
            .load()
        )
        out = jobs.run_to_memory(
            spark,
            jobs.windowed_rate_job(stream, BENCH_FILTERS),
            output_mode="complete",
        )
        return sorted(
            (r["window_start"], r["broker"], r["topic_filter"], r["n"],
             r["rate_msg_s"])
            for r in out.collect()
        )

    try:
        coarse = run(4_000)
        fine = run(300)
    finally:
        os.unlink(path)
    assert coarse == fine
    assert len(coarse) > 0


def test_holt_tail_state_invariant_under_batching(spark, sf_dir, tmp_path):
    """The streaming Holt job's load-bearing claim: its per-key tail
    state merges as top-k-of-union, so the final ring — and therefore
    the forecast — is identical whether the corpus arrives as ONE
    micro-batch or as four file-split batches in arbitrary file order."""
    from transitdata_monitor_data_collector_spark.streaming import jobs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def final_rows(src_path, max_files=None):
        stream = jobs.read_parquet_stream(
            spark, src_path, max_files_per_trigger=max_files
        )
        mem = jobs.run_to_memory(
            spark, jobs.holt_tail_state_job(stream), output_mode="update"
        )
        latest = mem.groupBy("event_type").agg(
            F.max_by("tail_values", "seq").alias("tail_values"),
            F.max("n_seen").alias("n_seen"),
        )
        return sorted(
            (r["event_type"], r["n_seen"], tuple(r["tail_values"]))
            for r in latest.collect()
        )

    one = final_rows(f"{sf_dir}/events.parquet")

    # shuffle rows into 4 files so event time is interleaved ACROSS
    # batches — the worst ordering for a tail-state merge
    split_dir = str(tmp_path / "holt_split")
    ev.orderBy(F.md5(F.col("event_id").cast("string"))).repartition(
        4
    ).write.mode("overwrite").parquet(split_dir)
    many = final_rows(split_dir, max_files=1)

    assert one == many
    assert len(one) > 0 and one[0][1] > 0
