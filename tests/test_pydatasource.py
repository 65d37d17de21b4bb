"""Spark 4 Python DataSource (gtfsrt_scrape): batch partition-per-URL
reads, the scrape outcome taxonomy through the source API, and streaming
poll rounds as real source offsets."""

from __future__ import annotations

import hashlib
import os

import pytest

from transitdata_monitor_data_collector_spark.sources.gtfsrt import (
    encode_feed_message,
)
from transitdata_monitor_data_collector_spark.sources.pydatasource import (
    GtfsRtScrapeDataSource,
    register,
)

URLS = [
    "https://example.test/tu",
    "https://example.test/vp",
    "https://example.test/missing",
]


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfsrt_ds")
    fixtures = {
        URLS[0]: encode_feed_message(timestamp=1000, entity_ids=["a", "b", "c"]),
        URLS[1]: encode_feed_message(timestamp=900, entity_ids=["x"]),
    }
    for url, body in fixtures.items():
        name = hashlib.md5(url.encode()).hexdigest() + ".bin"
        with open(os.path.join(d, name), "wb") as f:
            f.write(body)
    return str(d)


def _load(spark, payload_dir, extra=None):
    register(spark)
    r = (
        spark.read.format("gtfsrt_scrape")
        .option("urls", ",".join(URLS))
        .option("payload_dir", payload_dir)
        .option("now_epoch", 1100)
    )
    for k, v in (extra or {}).items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_classifies_outcomes(spark, payload_dir):
    rows = {r["url"]: r for r in _load(spark, payload_dir).collect()}
    assert rows[URLS[0]]["result"] == "success"
    assert rows[URLS[0]]["entity_count"] == 3
    assert rows[URLS[0]]["timestamp_age_seconds"] == 100
    assert rows[URLS[1]]["entity_count"] == 1
    assert rows[URLS[2]]["result"] == "io_error"
    assert rows[URLS[2]]["entity_count"] is None


def test_batch_plans_one_partition_per_url(spark, payload_dir):
    df = _load(spark, payload_dir)
    assert df.rdd.getNumPartitions() == len(URLS)


def test_stream_offsets_are_poll_rounds(spark, payload_dir, tmp_path):
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("gtfsrt_scrape")
        .option("urls", ",".join(URLS[:2]))
        .option("payload_dir", payload_dir)
        .option("now_epoch", 1100)
        .option("max_polls", 3)
        .load()
        .writeStream.format("memory")
        .queryName("ds_scrapes")
        .option("checkpointLocation", ckpt)
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        q.processAllAvailable()
        n = spark.sql("select count(*) n from ds_scrapes").first()["n"]
        if n >= 6:
            break
        time.sleep(1)
    q.stop()
    rows = spark.sql(
        "select poll_id, url, result from ds_scrapes "
        "order by poll_id, url"
    ).collect()
    polls = {r["poll_id"] for r in rows}
    assert polls == {0, 1, 2}
    assert all(r["result"] == "success" for r in rows)
    assert len(rows) == 6


def test_source_name_registered():
    assert GtfsRtScrapeDataSource.name() == "gtfsrt_scrape"


def test_stream_restart_continues_from_state_dir(spark, tmp_path, payload_dir):
    """With state_dir set, a restarted query continues from the committed
    poll round instead of re-polling from 0."""
    import time

    from transitdata_monitor_data_collector_spark.sources.pydatasource import (
        register,
    )

    register(spark)
    url = "https://feeds.example/tu"
    opts = {
        "urls": url,
        "payload_dir": payload_dir,
        "now_epoch": "1700000300",
        "max_polls": "2",
        "state_dir": str(tmp_path / "poll_state"),
    }

    def run(name):
        reader = spark.readStream.format("gtfsrt_scrape")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql(f"select poll_id from {name}").collect()
            if len({r["poll_id"] for r in rows}) >= 2:
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        return {r["poll_id"] for r in spark.sql(f"select poll_id from {name}").collect()}

    first = run("restart_a")
    assert first == {0, 1}
    # second run: fresh checkpoint, but the state_dir counter carries the
    # last COMMITTED round forward (stop() may race the final commit, so
    # the exact resume point is >= 1, never back to round 0)
    opts["max_polls"] = "4"
    second = run("restart_b")
    assert 0 not in second, f"restart re-polled from round 0: {second}"


def test_missing_urls_fails_at_plan_time(spark, payload_dir):
    import pytest

    from transitdata_monitor_data_collector_spark.sources.pydatasource import (
        register,
    )

    register(spark)
    with pytest.raises(Exception, match="urls"):
        spark.read.format("gtfsrt_scrape").option(
            "payload_dir", payload_dir
        ).load().collect()
