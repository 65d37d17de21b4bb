"""The workloads' operations. Each drives the engine through its public
functions and fills a :class:`Phase`: what was done, how long each
operation took, and how many operations failed their output check.

* ``collector_drain`` CollectorApp over the two-broker replay stream, with
                      a scraper calling ``metrics_page()`` on a schedule.
* ``store_drain``     ``stream_merge_counter_job`` into the versioned store
                      and its history, then one ``rate_over_store`` and one
                      ``render_counter`` over what it wrote (traced runs).
* ``batch_pass``      registry queries, one client: the dashboard panels,
                      or the LSH dedup probe of traced runs.
"""

from __future__ import annotations

import os
import random
import re
import threading
import time
from dataclasses import dataclass, field

from perfbench import loadgen, oracle

#: Message lines per streaming corpus (with its four connection events,
#: 2,000 lines). The replay source hands over 1,000 lines per reader per
#: trigger (its default), so a drain is two micro-batches per query and
#: the watermark's closing batch.
CORPUS_MESSAGES = 1_996
SCRAPE_INTERVAL_S = 2.0

#: The monitoring panels bench.py tracks, less three: mqtt_counter_totals
#: and grafana_panel_hfp_journey re-run mqtt_fanout_window_rate's fan-out
#: plan, and gtfsrt_delay_by_route, the slowest panel, is a pandas-UDF
#: decode. Every query runs three times per run (two set-ups and the timed
#: pass), and the run budget is fixed.
PANELS = (
    "mqtt_fanout_window_rate",
    "promql_rate_window",
    "prometheus_histogram_buckets",
    "timeseries_gap_fill_locf",
    "promql_alert_for_duration",
    "rate_over_store",
)
#: The compute-bound LSH dedup: a probe of the dashboard's traced run.
DEDUP = ("doc_minhash_lsh_neardup",)
# input table of each batch query, for the records-per-second count
_INPUT_TABLE = {name: "events" for name in PANELS} | {DEDUP[0]: "documents"}


@dataclass
class Phase:
    """One timed phase of a workload."""

    records: int = 0  # input records the finished operations consumed
    wall_s: float = 0.0  # wall time of the operations that consumed them
    op_ms: list[float] = field(default_factory=list)  # per-operation latency
    attempted: int = 0
    failed: int = 0
    progress: list[dict] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)  # drains / queries
    scrapes: list[tuple[float, float, float]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def _engine_config():
    from transitdata_monitor_data_collector_spark.config import (
        EngineConfig,
        MqttBrokerConfig,
    )

    return EngineConfig(
        port=8080,
        gtfsrt_urls=(),
        gtfsrt_poll_interval_s=30.0,
        gtfsrt_client_timeout_s=5.0,
        mqtt_client_id="perfbench",
        mqtt_connection_timeout_s=15.0,
        mqtt_keep_alive_interval_s=20.0,
        mqtt_qos=0,
        mqtt_brokers=tuple(
            MqttBrokerConfig(a, f) for a, f in loadgen.BROKERS.items()
        ),
    )


def _replay_stream(spark, path: str):
    from transitdata_monitor_data_collector_spark.app import build_broker_streams

    return build_broker_streams(
        spark, _engine_config(), source_format="mqtt-replay",
        extra_options={"path": path},
    )


# ---------------------------------------------------------------------------
# collector
# ---------------------------------------------------------------------------

_SAMPLE = re.compile(r'^(\w+)\{broker="([^"]*)",topic_filter="([^"]*)"\} (\S+)$')


def _page_counters(page: str) -> dict[tuple[str, str], float]:
    out = {}
    for line in page.splitlines():
        m = _SAMPLE.match(line)
        if m and m.group(1) == "mqtt_messages_received_total":
            out[(m.group(2), m.group(3))] = float(m.group(4))
    return out


class Scraper:
    """Open-loop scraper: calls ``fn`` every ``interval`` seconds on its own
    thread and times each call from when it was due, so a stalled call
    also delays (and is charged to) the calls scheduled after it."""

    def __init__(self, fn, interval: float, job_group: str | None, spark):
        self.fn, self.interval = fn, interval
        self.samples: list[tuple[float, float, float]] = []  # due, start, end
        self.pages: list[str | None] = []
        self._stop = threading.Event()
        self._group, self._spark = job_group, spark
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "Scraper":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=60)

    def _loop(self) -> None:
        if self._group:
            self._spark.sparkContext.setJobGroup(self._group, self._group)
        due = time.time()
        while not self._stop.is_set():
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                break
            start = time.time()
            try:
                page = self.fn()
            except Exception as exc:  # a failed scrape is counted, not fatal
                page = None
                print(f"perfbench: scrape failed: {exc!r}", flush=True)
            self.samples.append((due, start, time.time()))
            self.pages.append(page)
            due += self.interval


def collector_drain(bench, path: str, corpus: loadgen.Corpus, ph: Phase,
                    scrape: bool = True) -> None:
    """One CollectorApp over a fresh replay of ``path``: start, drain while
    scraping, check every output against the generator's counts, stop."""
    from transitdata_monitor_data_collector_spark.app import CollectorApp

    spark = bench.spark
    rate_rows: list = []

    def envelope_sink(batch_df, _batch_id):
        rate_rows.extend(batch_df.collect())

    stream = _replay_stream(spark, path)
    scraper = None
    with bench.span("workload.drain") as sid:
        t0 = time.time()
        app = CollectorApp(spark, _engine_config(), stream,
                           envelope_sink=envelope_sink)
        app.start()
        if scrape:
            scraper = Scraper(app.metrics_page, SCRAPE_INTERVAL_S,
                              "perfbench-scrape" if bench.tracer else None,
                              spark).start()
        try:
            app.process_available()
            t1 = time.time()
        finally:
            if scraper:
                scraper.stop()
    counters = {(r["broker"], r["topic_filter"]): r["messages_received_total"]
                for r in app.counter_table().collect()}
    conn = {r["broker"]: (r["connected"], r["connection_lost_total"])
            for r in app.connection_table().collect()}
    app.stop()
    progress = bench.progress.drain()

    ph.records += corpus.union_rows
    ph.wall_s += t1 - t0
    ph.spans.append({"name": "drain", "start": t0, "end": t1, "span_id": sid})
    ph.progress.extend(progress)
    ph.op_ms.extend(p["durationMs"]["triggerExecution"] for p in progress)
    windows: dict = {}
    for r in rate_rows:
        key = (r["window_start"].isoformat(), r["broker"], r["topic_filter"])
        windows[key] = windows.get(key, 0) + r["n"]
    ph.extra["rate_n"] = ph.extra.get("rate_n", 0) + sum(windows.values())
    ph.extra["rate_msgs"] = ph.extra.get("rate_msgs", 0) + (
        corpus.closed_messages * corpus.readers
    )
    ph.check(counters == corpus.counters, "counters differ from the generator's")
    ph.check(conn == corpus.connection, "connection meters differ")
    ph.check(windows == corpus.rate_rows, "closed rate windows differ")
    if scraper:
        prev: dict = {}
        for (due, start, end), page in zip(scraper.samples, scraper.pages):
            got = _page_counters(page) if page else None
            ok = got is not None and "mqtt_connected" in page and all(
                prev.get(k, 0) <= v <= corpus.counters.get(k, -1)
                for k, v in got.items()
            )
            ph.check(ok, "scrape failed or a counter went backwards")
            prev = got or prev
            ph.scrapes.append((due, start, end))


# ---------------------------------------------------------------------------
# store_ingest
# ---------------------------------------------------------------------------


def store_drain(bench, path: str, corpus: loadgen.Corpus, ph: Phase,
                tag: str) -> None:
    """One ``stream_merge_counter_job`` over a fresh replay into a fresh
    store and history, then the read path over what it wrote."""
    from pyspark.sql import functions as F

    from transitdata_monitor_data_collector_spark.functions import promql
    from transitdata_monitor_data_collector_spark.sinks import parquet, prometheus
    from transitdata_monitor_data_collector_spark.streaming import jobs

    spark = bench.spark
    base = os.path.join(bench.work, f"store-{tag}")
    table, history = os.path.join(base, "counters"), os.path.join(base, "history")
    filters = {a: list(f) for a, f in loadgen.BROKERS.items()}
    stream = _replay_stream(spark, path)
    with bench.span("workload.drain") as sid:
        t0 = time.time()
        jobs.stream_merge_counter_job(
            spark, stream, table, filters,
            checkpoint=os.path.join(base, "checkpoint"), history_path=history,
        )
        t1 = time.time()
    progress = bench.progress.drain()

    t2 = time.time()
    rates = promql.rate_over_store(
        spark, history, keys=["broker", "topic_filter"], window_duration="1 minute"
    ).collect()
    ph.extra["rate_over_store_s"] = ph.extra.get("rate_over_store_s", 0.0) + (
        time.time() - t2
    )
    page = prometheus.render_counter(
        "mqtt_messages_received_total", parquet.read_table(spark, table),
        value_col="messages_received_total", label_cols=["broker", "topic_filter"],
    )
    samples = (
        spark.read.parquet(history).groupBy("broker", "topic_filter")
        .agg(F.min("counter").alias("first"), F.max("counter").alias("last"))
        .collect()
    )
    ph.extra["versions"] = ph.extra.get("versions", 0) + (
        (parquet.table_version(table) or 0) + 1
    )

    ph.records += corpus.union_rows
    ph.wall_s += t1 - t0
    ph.spans.append({"name": "drain", "start": t0, "end": t1, "span_id": sid})
    ph.progress.extend(progress)
    ph.op_ms.extend(p["durationMs"]["triggerExecution"] for p in progress)
    expected = {k: float(v) for k, v in corpus.counters.items()}
    ph.check(_page_counters(page) == expected, "store counters differ")
    last = {(r["broker"], r["topic_filter"]): r["last"] for r in samples}
    ph.check(last == expected, "history's last samples differ")
    first = {(r["broker"], r["topic_filter"]): r["first"] for r in samples}
    increase: dict = {}
    for r in rates:
        key = (r["broker"], r["topic_filter"])
        increase[key] = increase.get(key, 0.0) + r["increase"]
    ph.check(
        all(abs(increase.get(k, 0.0) + first[k] - v) < 1e-6
            for k, v in expected.items()),
        "rate_over_store increases do not add up to the counters",
    )


# ---------------------------------------------------------------------------
# batch queries (dashboard, dedup)
# ---------------------------------------------------------------------------


def batch_pass(bench, names, sf_dir: str, rows: dict[str, int], ph: Phase,
               order_rng: random.Random | None, expected: dict | None) -> None:
    """Each query once, in a seed-shuffled order when ``order_rng`` is
    given, built through the registry. Without ``expected`` (the warm-up)
    each is forced through the noop sink, as bench.py does. With
    ``expected`` its rows are fetched as Arrow, as a dashboard client
    receives them, and checked after the pass: the first run of a query in
    ``ph`` by its digest against the stored DuckDB oracle digest, later
    runs by their row count."""
    from transitdata_monitor_data_collector_spark.plans import load_all

    registry = load_all()
    names = list(names)
    if order_rng is not None:
        order_rng.shuffle(names)
    fetched = []
    for name in names:
        # the engine caches intermediate frames (the dedup's shingle sets)
        # and never unpersists them; a cache left by an earlier run of the
        # same plan would let this run skip that work
        bench.spark.catalog.clearCache()
        t0, sid, table, ok = time.time(), None, None, False
        try:
            with bench.span("plans.query", query=name) as sid:
                with bench.span("plans.build"):
                    df = registry[name].build(bench.spark, sf_dir)
                with bench.span("plans.execute"):
                    if expected is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        table = df.toArrow()
            ok = True
        except Exception as exc:  # counted as a failed operation
            print(f"perfbench: {name} failed: {exc!r}", flush=True)
        t1 = time.time()
        ph.records += rows[name]
        ph.wall_s += t1 - t0
        ph.op_ms.append((t1 - t0) * 1000.0)
        ph.spans.append({"name": "query", "query": name, "start": t0, "end": t1,
                         "span_id": sid})
        if expected is None:
            ph.check(ok, f"{name} raised")
        else:
            fetched.append((name, table))
    digested = ph.extra.setdefault("digested", set())
    for name, table in fetched:
        want = expected.get(name, "")
        if table is None:
            got = None
        elif name in digested:
            got, want = f"{table.num_rows}", want.split(":")[0]
        else:
            digested.add(name)
            got = oracle.digest(
                table.column_names, list(zip(*(c.to_pylist() for c in table.columns))))
        ph.check(got == want, f"{name}: result {got} differs from the oracle's {want}")


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    n = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
         for t in ("events", "documents")}
    return {q: n[t] for q, t in _INPUT_TABLE.items()}

