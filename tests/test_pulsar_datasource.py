"""Pulsar admin REST poll as a Spark 4 Python DataSource (pulsar_admin):
batch partition-per-topic reads, discovery crawl at plan time, typed-stats
parity with read_topic_stats, and streaming poll rounds as source offsets
with state_dir restart persistence (round-4 VERDICT item 7)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from transitdata_monitor_data_collector_spark.sources.pulsar import (
    read_topic_stats,
)
from transitdata_monitor_data_collector_spark.sources.pulsar_datasource import (
    PulsarAdminDataSource,
    parsed_topic_stats,
    register,
)

ADMIN = "http://pulsar.test:8080"
NS = "prod/default"
TOPICS = ["hfp/v2", "gtfs-rt/feedmessage-vehicleposition", "broken/topic"]

STATS = {
    "hfp/v2": {
        "msgRateIn": 1500.5,
        "msgRateOut": 3000.25,
        "storageSize": 7_000_000_000,
        "backlogSize": 2_000_000_000,
        "subscriptions": {
            "transitdata_partial_apc_expander_combiner_hfp": {
                "msgBacklog": 1234,
                "msgRateOut": 99.5,
            }
        },
    },
    "gtfs-rt/feedmessage-vehicleposition": {
        "msgRateIn": 12.0,
        "msgRateOut": 11.5,
        "storageSize": 500_000,
        "backlogSize": 0,
        "subscriptions": {},
    },
    # broken/topic: NO fixture file -> transport failure arm
}


def _url(topic: str) -> str:
    return f"{ADMIN}/admin/v2/persistent/{NS}/{topic}/stats"


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pulsar_ds")
    for topic, doc in STATS.items():
        name = hashlib.md5(_url(topic).encode()).hexdigest() + ".json"
        with open(os.path.join(d, name), "w") as f:
            json.dump(doc, f)
    # discovery crawl fixtures: namespaces list + per-namespace topic lists
    with open(
        os.path.join(d, hashlib.md5(f"{ADMIN}/admin/v2/namespaces/prod".encode()).hexdigest() + ".json"),
        "w",
    ) as f:
        json.dump(["prod/hfp", "prod/gtfs"], f)
    for ns, topics in {
        "prod/hfp": ["prod/hfp/v2"],
        "prod/gtfs": ["prod/gtfs/feedmessage-vehicleposition"],
    }.items():
        with open(
            os.path.join(d, hashlib.md5(f"{ADMIN}/admin/v2/persistent/{ns}".encode()).hexdigest() + ".json"),
            "w",
        ) as f:
            json.dump(topics, f)
    return str(d)


def _load(spark, payload_dir, extra=None):
    register(spark)
    r = (
        spark.read.format("pulsar_admin")
        .option("admin_url", ADMIN)
        .option("namespace", NS)
        .option("topics", ",".join(TOPICS))
        .option("payload_dir", payload_dir)
    )
    for k, v in (extra or {}).items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_rows_and_failure_arm(spark, payload_dir):
    rows = {r["topic"]: r for r in _load(spark, payload_dir).collect()}
    assert set(rows) == set(TOPICS)
    assert json.loads(rows["hfp/v2"]["stats_json"])["msgRateIn"] == 1500.5
    assert rows["hfp/v2"]["fetch_error"] is None
    assert rows["broken/topic"]["stats_json"] is None
    assert "Error" in rows["broken/topic"]["fetch_error"]


def test_batch_plans_one_partition_per_topic(spark, payload_dir):
    df = _load(spark, payload_dir)
    assert df.rdd.getNumPartitions() == len(TOPICS)


def test_typed_parity_with_read_topic_stats(spark, payload_dir):
    """parsed_topic_stats(source rows) == read_topic_stats on the same
    canned fetcher — one parse definition, two transports."""
    got = parsed_topic_stats(_load(spark, payload_dir))

    def fetcher(url):
        for t in STATS:
            if url == _url(t):
                return json.dumps(STATS[t])
        raise OSError("no fixture")

    want = read_topic_stats(spark, ADMIN, NS, TOPICS, fetcher=fetcher)
    cols = ["topic", "msgRateIn", "msgRateOut", "storageSize", "backlogSize"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    # the subscription backlog read survives the source path
    row = got.filter(got.topic == "hfp/v2").collect()[0]
    assert row["subscriptions"]["transitdata_partial_apc_expander_combiner_hfp"][
        "msgBacklog"
    ] == 1234


def test_discovery_crawl_plans_catalog(spark, payload_dir):
    register(spark)
    df = (
        spark.read.format("pulsar_admin")
        .option("admin_url", ADMIN)
        .option("namespace", NS)
        .option("discover", "true")
        .option("tenant", "prod")
        .option("payload_dir", payload_dir)
        .load()
    )
    got = sorted(r["topic"] for r in df.collect())
    assert got == ["gtfs/feedmessage-vehicleposition", "hfp/v2"]


def test_stream_poll_rounds_and_restart(spark, tmp_path, payload_dir):
    register(spark)
    state_dir = str(tmp_path / "state")

    def run(max_polls: int):
        stream = (
            spark.readStream.format("pulsar_admin")
            .option("admin_url", ADMIN)
            .option("namespace", NS)
            .option("topics", ",".join(TOPICS[:2]))
            .option("payload_dir", payload_dir)
            .option("max_polls", str(max_polls))
            .option("state_dir", state_dir)
            .load()
        )
        name = f"pulsar_polls_{max_polls}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt{max_polls}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return spark.table(name).collect()

    first = run(2)
    # 2 poll rounds x 2 topics
    assert sorted((r["poll_id"], r["topic"]) for r in first) == [
        (p, t) for p in (0, 1) for t in sorted(TOPICS[:2])
    ]
    # restart with a fresh checkpoint but the SAME state_dir: continues
    # from the committed round, never back to round 0 (stop() may race the
    # final commit, so the exact resume point is >= 1 — at-least-once, which
    # an idempotent stats poll tolerates by design)
    second = run(3)
    polls = {r["poll_id"] for r in second}
    assert 0 not in polls, f"restart re-polled from round 0: {polls}"
    assert max(polls) == 2


def test_missing_options_fail_at_plan_time(spark, payload_dir):
    register(spark)
    with pytest.raises(Exception, match="admin_url"):
        spark.read.format("pulsar_admin").option("topics", "a").option(
            "payload_dir", payload_dir
        ).load().collect()
    with pytest.raises(Exception, match="topics"):
        spark.read.format("pulsar_admin").option("admin_url", ADMIN).option(
            "payload_dir", payload_dir
        ).load().collect()


def test_source_name_registered():
    assert PulsarAdminDataSource.name() == "pulsar_admin"
