"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload collector --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding ``BENCHMARK.json``).
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, measured
with tracing off. ``--trace 1`` runs the same timed phase untraced and
then traced, and reports the per-layer metrics; spans and details go to
``.perfbench_out/`` in the checkout. Every file the run writes stays in
the checkout: Spark's local dirs, checkpoints and temp files live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import re
import shutil
import statistics
import sys
import time
from datetime import datetime

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "transitdata_monitor_data_collector_spark"
WORKLOADS = ("collector", "dashboard")
#: Set-ups (session start, source registration and warm-up) per run;
#: ``setup_s`` is their median. Each starts a new SparkContext. The JVM
#: launch inside the first is timed on its own and left out of it.
SETUPS = 2
#: Two task threads, not four: on a 4-core host the collector's Python
#: runners (one per replay reader and query), the Python workers and the
#: JVM's JIT and GC threads already need the other cores; with four task
#: threads the collector drained 13% fewer messages per second and its
#: runs spread wider.
MASTER = "local[2]"
#: progress phases of a micro-batch, in the order a trigger runs them
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    pin what the engine reads from the environment."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": MASTER[len("local["):-1],
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of one process, as the kernel tracks it."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    """State of one run: the session, the progress log, the samplers and,
    during a traced phase, the tracer."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.spark = None
        self.progress = None
        self.tracer = None
        self.rss = None
        self.jvm_pid = None
        self.jvm_launch_s = 0.0
        self.setup_runs_s: list[float] = []
        self.setup_s: list[float] = []
        self.session_s: list[float] = []

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def start_session(self, master: str = MASTER) -> None:
        import pyspark.context

        from perfbench import measure
        from transitdata_monitor_data_collector_spark.session import get_spark
        from transitdata_monitor_data_collector_spark.sources.mqtt import (
            register_sources,
        )

        if self.spark is not None:
            self.spark.stop()
        launch = pyspark.context.launch_gateway

        def timed_launch(*args, **kwargs):
            t = time.perf_counter()
            try:
                return launch(*args, **kwargs)
            finally:
                self.jvm_launch_s += time.perf_counter() - t

        pyspark.context.launch_gateway = timed_launch
        jvm0, t0 = self.jvm_launch_s, time.perf_counter()
        try:
            with self.span("session.get_spark"):
                self.spark = get_spark(master=master)
        finally:
            pyspark.context.launch_gateway = launch
        self.session_s.append(time.perf_counter() - t0 - (self.jvm_launch_s - jvm0))
        register_sources(self.spark)
        self.progress = measure.progress_listener_class()()
        self.spark.streams.addListener(self.progress)
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
            if self.args.trace:
                self.rss = measure.RssSampler(self.jvm_pid).start()

    def setup(self, warmup) -> None:
        """Start the session, register sources and warm up, ``SETUPS``
        times; each start replaces the previous session. A sample leaves
        out the JVM launch it contains (only the first launches one)."""
        for _ in range(SETUPS):
            jvm0 = self.jvm_launch_s
            t0 = time.perf_counter()
            self.start_session()
            warmup()
            wall = time.perf_counter() - t0
            self.setup_runs_s.append(wall)
            self.setup_s.append(wall - (self.jvm_launch_s - jvm0))

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.rss is not None:
            self.rss.stop()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# Workloads: (warm-up, timed phase, output checks before timing)
# ---------------------------------------------------------------------------


def _repeat(op, seconds: float, ph) -> None:
    """Run ``op`` (a drain, or a pass over the queries) until the operations
    timed in ``ph`` add up to about ``seconds``: once, then again while at
    least half an operation's time still fits. Whole operations only, so
    every run times the same mix."""
    n = 0
    while True:
        op()
        n += 1
        if ph.wall_s + 0.5 * ph.wall_s / n >= seconds:
            return


def _collector(bench):
    from perfbench import loadgen, workloads as W

    corpus = loadgen.make_corpus(bench.args.seed, W.CORPUS_MESSAGES)
    path = corpus.write(os.path.join(bench.work, "corpus.jsonl"))
    warm = loadgen.make_corpus(bench.args.seed + 7919, W.CORPUS_MESSAGES)
    warm_path = warm.write(os.path.join(bench.work, "warmup.jsonl"))

    def warmup():
        W.collector_drain(bench, warm_path, warm, W.Phase(), scrape=False)

    def timed():
        ph = W.Phase()
        _repeat(lambda: W.collector_drain(bench, path, corpus, ph), bench.args.seconds, ph)
        return ph

    return warmup, timed, corpus, path


def _batch(bench, names):
    from perfbench import loadgen, oracle, workloads as W

    full = loadgen.write_tables(os.path.join(bench.work, "data"), "full")
    rows = W.table_rows(full)
    rng = random.Random(bench.args.seed)
    expected = oracle.load()

    def warmup():
        W.batch_pass(bench, names, full, rows, W.Phase(), None, None)

    def timed():
        ph = W.Phase()
        _repeat(lambda: W.batch_pass(bench, names, full, rows, ph, rng, expected),
                bench.args.seconds, ph)
        return ph

    return warmup, timed, full, rows


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _query_role(progress: dict) -> str:
    """Which of the collector's queries a progress event is from: its name
    less the run id each ``CollectorApp.start`` appends (the rate query has
    no name)."""
    name = progress.get("name") or "unnamed"
    return re.sub(r"_[0-9a-f]{8}$", "", name)


def end_to_end(bench, ph) -> tuple[dict, dict]:
    from perfbench import measure

    tail, pct, n = measure.tail(ph.op_ms)
    # the median operation of each query (a streaming query's micro-batches
    # that carry input, over every drain; or a batch query's runs), and
    # their geometric mean over the queries: their costs differ, the median
    # of the pooled operations jumps between them from run to run, and a
    # plain mean follows the slowest query
    per_query: dict[str, list[float]] = {}
    for p in ph.progress:
        if p["numInputRows"]:
            per_query.setdefault(_query_role(p), []).append(
                p["durationMs"]["triggerExecution"])
    for q in ph.spans:
        if q["name"] == "query":
            per_query.setdefault(q["query"], []).append(1e3 * (q["end"] - q["start"]))
    metrics = {
        "setup_s": statistics.median(bench.setup_s),
        "records_per_s": ph.records / ph.wall_s,
        "op_ms_p50": statistics.geometric_mean(
            measure.p50(v) for v in per_query.values()),
    }
    detail = {"jvm_peak_rss_mb": _vm_hwm_mb(bench.jvm_pid),
              "op_ms_tail": tail, "op_ms_tail_percentile": pct, "op_samples": n,
              "setup_runs_s": bench.setup_runs_s, "setup_samples_s": bench.setup_s,
              "jvm_launch_s": bench.jvm_launch_s, "records": ph.records,
              "wall_s": ph.wall_s,
              "ops_s": [round(q["end"] - q["start"], 3) for q in ph.spans],
              "batches_ms": [(_query_role(p), p["numInputRows"],
                              p["durationMs"]["triggerExecution"]) for p in ph.progress],
              "queries_ms": [(s["query"], round(1e3 * (s["end"] - s["start"])))
                             for s in ph.spans if s["name"] == "query"]}
    return metrics, detail


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _inside(spans, t: float):
    return next((s for s in spans if s["start"] <= t <= s["end"]), None)


def per_layer(bench, ph, untraced, stages, jobs, host) -> dict:
    """Per-layer metrics of a traced phase. Sums are per operation: per
    drain on the streaming workloads, per query on the batch ones."""
    from perfbench import measure

    tr = bench.tracer
    m: dict[str, float] = {"session.start_s": statistics.median(bench.session_s),
                           "session.jvm_launch_s": bench.jvm_launch_s,
                           "session.cold_setup_s": bench.setup_s[0]}
    units = max(1, len(ph.spans))
    drains = [s for s in ph.spans if s["name"] == "drain"]
    queries = [s for s in ph.spans if s["name"] == "query"]

    # streaming: progress events, their phases as child spans
    prog = ph.progress
    def dur(k):
        return sum(p["durationMs"].get(k, 0) for p in prog) / units

    m["sources.input_rows"] = sum(p["numInputRows"] for p in prog) / units
    m["sources.latestOffset_ms"] = dur("latestOffset")
    m["sources.getBatch_ms"] = dur("getBatch")
    m["streaming.batches"] = len(prog) / units
    for k in ("queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        m[f"streaming.{k}_ms"] = dur(k)
    ops = [op for p in prog for op in p.get("stateOperators", [])]
    m["state.commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops) / units
    last: dict = {}
    for p in prog:
        if p.get("stateOperators"):
            last[p["id"]] = p["stateOperators"]
    for key, field in (("instances", "numStateStoreInstances"),
                       ("rows", "numRowsTotal"), ("memory_bytes", "memoryUsedBytes")):
        m[f"state.{key}"] = sum(
            op.get(field, 0) for sos in last.values() for op in sos
        ) / units
    for p in prog:
        start = _iso_epoch(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        drain = _inside(drains, start)
        bid = tr.add("streaming.microbatch", start, end,
                     parent=drain and drain.get("span_id"), query=p["id"],
                     batch=p["batchId"], rows=p["numInputRows"])
        cur = start
        for k in BATCH_PHASES:
            d = p["durationMs"].get(k, 0) / 1e3
            if d:
                tr.add(f"streaming.{k}", cur, cur + d, parent=bid)
                cur += d
    in_drains = [s for s in stages if _inside(drains, s["start"])]
    for s in in_drains:
        tr.add("stage", s["start"], s["end"],
               parent=_inside(drains, s["start"]).get("span_id"),
               stage_id=s["stage_id"], tasks=s["tasks"])
    m["streaming.task_cpu_s"] = sum(s["cpu_s"] for s in in_drains) / units
    m["streaming.gc_s"] = sum(s["gc_s"] for s in in_drains) / units

    m["functions.fanout_ratio"] = (
        ph.extra["rate_n"] / ph.extra["rate_msgs"] if ph.extra.get("rate_msgs") else 0.0
    )
    ros = [q["end"] - q["start"] for q in queries if q["query"] == "rate_over_store"]
    m["functions.rate_over_store_ms"] = 1e3 * statistics.mean(ros) if ros else 0.0

    # the scrape's render functions, minus the Spark jobs they waited on
    scrape_jobs = [(j["start"], j["end"]) for j in jobs if j["group"] == "perfbench-scrape"]
    renders = [s for s in tr.spans if s["name"].startswith("sinks.render_")]
    m["sinks.render_ms"] = 1e3 * sum(
        measure.self_time(s["start"], s["end"], scrape_jobs) for s in renders
    ) / units

    def spans_ms(name):
        return sum(s["end"] - s["start"] for s in tr.named(name)) * 1e3 / units

    # plans: the stages that ran inside each query's wall time
    m["plans.build_ms"] = spans_ms("plans.build")
    agg = dict.fromkeys(("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                         "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                         "spill_bytes", "driver_gap_s"), 0.0)
    for q in queries:
        qs = [s for s in stages if q["start"] <= s["start"] <= q["end"]]
        agg["jobs"] += sum(q["start"] <= j["start"] <= q["end"] for j in jobs)
        agg["stages"] += len(qs)
        for key, src in (("tasks", "tasks"), ("task_run_s", "run_s"),
                         ("task_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                         ("shuffle_read_bytes", "shuffle_read_bytes"),
                         ("shuffle_write_bytes", "shuffle_write_bytes"),
                         ("spill_bytes", "spill_bytes")):
            agg[key] += sum(s[src] for s in qs)
        agg["driver_gap_s"] += measure.self_time(
            q["start"], q["end"], [(s["start"], s["end"]) for s in qs]
        )
        for s in qs:
            tr.add("stage", s["start"], s["end"], parent=q.get("span_id"),
                   stage_id=s["stage_id"], tasks=s["tasks"])
    for key, v in agg.items():
        m[f"plans.{key}"] = v / units if queries else 0.0

    # scraper (collector)
    scr = [(end - due) * 1e3 for due, _, end in ph.scrapes]
    m["scraper.scrape_ms_p50"] = measure.p50(scr) if scr else 0.0
    m["scraper.scrape_ms_tail"] = measure.tail(scr)[0] if scr else 0.0
    m["scraper.late_ms_max"] = max(
        ((start - due) * 1e3 for due, start, _ in ph.scrapes), default=0.0
    )
    m["host.peak_rss_mb"] = bench.rss.peak_bytes / 2**20
    m["host.jvm_peak_rss_mb"] = _vm_hwm_mb(bench.jvm_pid)
    m["host.steal_share"] = host["steal_share"]
    m["host.busy_share"] = host["busy_share"]
    m["trace.overhead_share"] = 1.0 - (ph.records / ph.wall_s) / (
        untraced.records / untraced.wall_s
    )
    return m


def _install_tracer(bench) -> None:
    from perfbench import measure
    from transitdata_monitor_data_collector_spark import app
    from transitdata_monitor_data_collector_spark.operators import dedup
    from transitdata_monitor_data_collector_spark.sinks import parquet, prometheus

    tr = bench.tracer = measure.Tracer()
    for owner, attr, name in (
        (parquet, "merge_upsert", "sinks.merge_upsert"),
        (parquet, "write_time_partitioned", "sinks.write_time_partitioned"),
        (prometheus, "render_counter", "sinks.render_counter"),
        (prometheus, "render_gauge", "sinks.render_gauge"),
        (prometheus, "render_summary", "sinks.render_summary"),
        (dedup, "minhash_lsh_neardup_pairs", "operators.minhash_lsh_neardup_pairs"),
        (app, "build_broker_streams", "sources.build_broker_streams"),
        (app.CollectorApp, "start", "app.start"),
        (app.CollectorApp, "process_available", "app.process_available"),
        (app.CollectorApp, "metrics_page", "app.metrics_page"),
        (app.CollectorApp, "stop", "app.stop"),
    ):
        tr.patch(owner, attr, name)
    bench.spark.sparkContext.setJobGroup("perfbench-main", "perfbench-main")


def _source_probe(bench, path, corpus, ph) -> float:
    """The replay union alone into an append memory sink: source cost
    without fan-out, aggregation or state."""
    from perfbench import workloads as W

    name = f"perfbench_probe_{os.getpid()}"
    q = (W._replay_stream(bench.spark, path).writeStream.format("memory")
         .queryName(name).outputMode("append")
         .option("checkpointLocation", os.path.join(bench.work, "probe-ckpt"))
         .start())
    t0 = time.time()
    q.processAllAvailable()
    wall = time.time() - t0
    q.stop()
    bench.progress.drain()
    ph.check(bench.spark.table(name).count() == corpus.union_rows,
             "source probe lost or duplicated rows")
    return corpus.union_rows / wall


def _store_probe(bench, path, corpus, ph) -> dict:
    """One ``store_ingest`` drain (the collector's corpus through
    ``stream_merge_counter_job`` into a versioned store and its history,
    then one ``rate_over_store`` and one ``render_counter``) with the
    tracer on: the parquet sink layer, which the collector never writes."""
    from perfbench import measure, workloads as W

    tr = bench.tracer
    since = time.time()
    cursor = measure.StatusCursor(bench.spark)
    store = W.Phase()
    W.store_drain(bench, path, corpus, store, "probe")
    ph.attempted += store.attempted
    ph.failed += store.failed
    ph.failures += store.failures
    _, jobs = cursor.take(bench.spark)
    mine = [(j["start"], j["end"]) for j in jobs if j["group"] == "perfbench-main"]

    def ms(name):
        return 1e3 * sum(s["end"] - s["start"] for s in tr.named(name, since))

    renders = tr.named("sinks.render_counter", since)
    return {
        "sinks.store_records_per_s": store.records / store.wall_s,
        "sinks.merge_upsert_ms": ms("sinks.merge_upsert"),
        "sinks.merge_upsert_calls": len(tr.named("sinks.merge_upsert", since)),
        "sinks.history_append_ms": ms("sinks.write_time_partitioned"),
        "sinks.history_append_calls": len(tr.named("sinks.write_time_partitioned", since)),
        "sinks.versions": store.extra["versions"],
        "sinks.store_render_ms": 1e3 * sum(
            measure.self_time(s["start"], s["end"], mine) for s in renders),
        "functions.rate_over_store_ms": 1e3 * store.extra["rate_over_store_s"],
    }


def _dedup_probe(bench, tables, rows, ph) -> dict:
    """``doc_minhash_lsh_neardup``, the compute-bound LSH dedup, once to warm
    up and once timed with the tracer on: the operators layer and the
    Python workers, which the panels do not use."""
    from perfbench import measure, oracle, workloads as W

    W.batch_pass(bench, W.DEDUP, tables, rows, W.Phase(), None, None)
    since = time.time()
    cursor = measure.StatusCursor(bench.spark)
    probe = W.Phase()
    W.batch_pass(bench, W.DEDUP, tables, rows, probe, None, oracle.load())
    stages, _ = cursor.take(bench.spark)
    ph.attempted += probe.attempted
    ph.failed += probe.failed
    ph.failures += probe.failures
    return {
        "operators.build_ms": 1e3 * sum(
            s["end"] - s["start"]
            for s in bench.tracer.named("operators.minhash_lsh_neardup_pairs", since)),
        "operators.dedup_query_s": probe.wall_s,
        "operators.dedup_task_cpu_s": sum(s["cpu_s"] for s in stages),
    }


def run(args, work: str) -> tuple[dict, int, int, dict]:
    from perfbench import measure, workloads as W

    bench = Bench(args, work)
    detail: dict = {"workload": args.workload, "seed": args.seed}
    phases = []
    # wall time of each part of the run, for the run record
    marks = detail["marks_s"] = {"start": time.time() - T_START}
    try:
        if args.workload == "collector":
            warmup, timed, corpus, path = _collector(bench)
        else:
            warmup, timed, tables, rows = _batch(bench, W.PANELS)
        marks["inputs"] = time.time() - T_START
        bench.setup(warmup)
        marks["setup"] = time.time() - T_START

        before = measure.cpu_times()
        ph = timed()
        marks["timed"] = time.time() - T_START
        detail["host"] = measure.cpu_shares(before, measure.cpu_times())
        phases.append(ph)
        metrics, detail["end_to_end"] = end_to_end(bench, ph)

        if args.trace:
            _install_tracer(bench)
            cursor = measure.StatusCursor(bench.spark)
            before = measure.cpu_times()
            traced = timed()
            host = measure.cpu_shares(before, measure.cpu_times())
            stages, jobs = cursor.take(bench.spark)
            phases.append(traced)
            metrics = dict.fromkeys(_names("per_layer"), 0.0)
            metrics.update(per_layer(bench, traced, ph, stages, jobs, host))
            if args.workload == "collector":
                probes = W.Phase()
                phases.append(probes)
                traced.check(metrics["sources.input_rows"] == 3 * corpus.union_rows,
                             "numInputRows differs from corpus size x queries")
                metrics["sources.replay_msgs_per_s"] = _source_probe(
                    bench, path, corpus, probes)
                metrics.update(_store_probe(bench, path, corpus, probes))
                bench.tracer.restore()
                base = W.Phase()
                phases.append(base)
                # warmed like the timed side: the same warm-up drain first
                bench.start_session("local[1]")
                warmup()
                W.collector_drain(bench, path, corpus, base)
                metrics["baseline.local1_records_per_s"] = base.records / base.wall_s
                metrics["baseline.speedup"] = (
                    (ph.records / ph.wall_s) / metrics["baseline.local1_records_per_s"]
                )
                detail["baseline_local1_op_ms_p50"] = measure.p50(base.op_ms)
            else:
                probes = W.Phase()
                phases.append(probes)
                metrics.update(_dedup_probe(bench, tables, rows, probes))
            bench.tracer.restore()
            detail["spans"] = bench.tracer.spans
    finally:
        bench.close()
        marks["closed"] = time.time() - T_START
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    detail["failures"] = [f for p in phases for f in p.failures]
    return metrics, attempted, failed, detail


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _names(kind: str) -> list[str]:
    return [m["name"] for m in _benchmark_spec()[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not next to "
              f"perfbench/ in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        metrics, attempted, failed, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    spec = {m["name"]: m["unit"] for m in _benchmark_spec()[kind]}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"metrics": metrics, "attempted": attempted, "failed": failed,
                   "elapsed_s": time.time() - T_START, **detail}, f, default=str)
    host = detail["host"]
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"steal_share={host['steal_share']:.4f} busy_share={host['busy_share']:.4f} "
          f"{json.dumps(detail.get('end_to_end', {}))[:400]} record={record}")
    for f in detail["failures"][:20]:
        print(f"perfbench: FAILED {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
