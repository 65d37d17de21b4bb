"""Liveness/readiness semantics (LivenessEndpoint.java:12-17,
HealthEndpoint.java:17-43): static liveness, 503-before-ready,
200-after-progress, per-query status snapshot."""

from __future__ import annotations

import tempfile

from transitdata_monitor_data_collector_spark.streaming.health import (
    liveness,
    readiness,
    status_report,
)


def test_liveness_always_ok():
    h = liveness()
    assert h.ok and h.http_status == 200


def test_readiness_no_queries_is_503():
    h = readiness([])
    assert not h.ok and h.http_status == 503


def _start_query(spark, ckpt):
    stream = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
    return (
        stream.writeStream.format("memory")
        .queryName(f"health_probe_{tempfile.mktemp(dir='').split('/')[-1]}")
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def test_readiness_flips_after_progress(spark, tmp_path):
    q = _start_query(spark, tmp_path)
    try:
        # immediately after start there may be no committed batch yet
        q.processAllAvailable()
        h = readiness([q])
        assert h.ok and h.http_status == 200
        rep = status_report([q])[0]
        assert rep["is_active"] is True
        assert rep["batch_id"] is not None
    finally:
        q.stop()


def test_readiness_after_stop_is_503(spark, tmp_path):
    q = _start_query(spark, tmp_path)
    q.processAllAvailable()
    q.stop()
    h = readiness([q])
    assert not h.ok and h.http_status == 503
