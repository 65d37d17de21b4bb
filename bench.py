"""Headline benchmark — the driver's per-round performance probe.

Runs a representative slice of the registry (relational spine, monitoring
rate queries, LLM-data dedup/similarity/text) at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end through the noop sink (full execution, no
driver-side collect bottleneck). One warm-up pass on the smallest table
primes the JVM/codegen so the numbers reflect steady-state plans. Every
timed entry (the headline set, the ``BENCH_ONLY`` entries and the q1
canary re-probes) goes through one cold-timing loop, ``_time_cold``.
``SPARK_GRAFT_BENCH_ONLY=a,b`` times only the named entries (registry or
bench-only) and skips the streaming measurements.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational spine (TPC-H-ish)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    # monitoring / PromQL layer
    "mqtt_fanout_window_rate",
    "mqtt_counter_totals",
    "promql_rate_window",
    "grafana_panel_hfp_journey",
    "q8_market_share",
    # LLM-data pipeline extensions
    "doc_exact_dedup",
    "doc_minhash_lsh_neardup",
    "doc_simhash_neardup",
    "emb_cosine_topk",
    "emb_neardup_lsh",
    "emb_neardup_planted",
    "text_quality_scores",
    "doc_dedup_clusters",
    "doc_curation",
    "doc_chunking",
    "doc_decontamination",
    "text_tfidf_topk",
    # round-3 additions: TPC-H completion + monitoring/embedding extensions
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    "prometheus_histogram_buckets",
    "emb_dim_stats",
    # round-4 additions: biggest result set in the registry, the
    # containment inverted-index join, the fixed WAU range join, and the
    # deterministic IVF recall probe — tracked before they gate
    "timeseries_gap_fill_locf",
    "doc_containment_pairs",
    "events_dau_wau_stickiness",
    "emb_ivf_recall_report",
    # round-4 late additions: iterative graph BSP, one-pass CMS sketch,
    # the 32-lag EWMA kernel, and the audio-DSP mapInPandas path
    "graph_pagerank_transitions",
    "sketch_countmin_heavy_hitters",
    "timeseries_ewma",
    "multimodal_audio_energy",
    "doc_dsir_importance",
    "text_typo_pairs_symdelete",
    "events_cusum_changepoint",
    # round-4 late batch: alert-rule islands, SCD2 build, preference
    # dedup, and the 6-round PCA power iteration (the heaviest new op —
    # tracked so its iterative cost stays visible round-over-round)
    "promql_alert_for_duration",
    "scd2_build_from_events",
    "doc_source_preference_dedup",
    "emb_pca_power_iteration",
    # round-4 continuation: sketch family (KMV distinct, Bloom screen),
    # perceptual image hashing, binary-quantized retrieval QA, and the
    # Kneser-Ney LM scorer — the heaviest of the new text/embedding ops
    "sketch_kmv_distinct",
    "sketch_bloom_decontamination",
    "multimodal_image_ahash_neardup",
    "emb_binary_quantization_recall",
    "doc_perplexity_kneser_ney",
    "timeseries_acf",
    # round-4 final wave: the span-sweep pair (within-doc Gopher
    # repetition + cross-doc duplicated spans), the deterministic PQ
    # codebook trainer (the heaviest new embedding op), the recursive-CTE
    # chain query (iterative join depth), and the KM survival curve
    "doc_gopher_repetition_rules",
    "doc_exact_substring_dedup",
    "emb_pq_recall_report",
    "events_chain_recursive_cte",
    "events_kaplan_meier_churn",
    "join_interval_bin_equi",
    "doc_curation_v2",
    "graph_triangle_count",
    "emb_ivf_nprobe_sweep",
    "sketch_kmv_set_ops",
    # round-5: the at-rest store path — dt-partitioned parquet store with
    # directory pruning (PartitionFilters live in PLAN_AUDIT.md) + the new
    # full GTFS-RT entity decode round-trip
    "rate_over_store",
    "gtfsrt_delay_by_route",
    "gtfsrt_stop_delay_profile",
    # round-5 LLM-pipeline additions: C4-style span dedup with
    # reconstruction, the regex PII pass, and the exact-integer
    # hard-sigmoid logreg trainer (3 distributed GD rounds)
    "doc_segment_dedup",
    "doc_pii_redaction",
    "doc_quality_logreg",
    # round-5 (late): training-export mechanics — hash sharding balance
    # report and the dedup-consistent train/val split
    "doc_shard_assignment",
    "doc_leakage_free_split",
    "doc_sequence_packing",
    # round-5 (final wave): the 8-round distributed BPE trainer (the
    # heaviest new iterative op — tracked like PCA/PQ before it) and the
    # epoch-budget accounting report
    "text_bpe_train_merges",
    "doc_epoch_schedule",
    "retrieval_hybrid_rrf",
    "retrieval_mmr_diversify",
    "doc_mixture_temperature_sample",
    "doc_range_shard_export",
    "doc_nucleus_quality_cutoff",
    "doc_quality_calibration",
    "doc_weighted_sample_es",
    # round-6: the weights-as-data sparse trainer (2 shuffles/round, the
    # 2^20-bucket classifier shape) and the compression-ladder tier
    # separation on the clustered corpus
    "doc_quality_logreg_hashed",
    "emb_compression_ladder_clustered",
    # round-8: the K=64 PQ operating point (r7 VERDICT item 6) and the
    # IVFADC composition — tracked so the 4x-wider codebook and the
    # two-trainer pipeline's iterative cost stay visible round-over-round
    "emb_pq_k64_recall_clustered",
    "emb_ivfadc_recall_clustered",
    # round-8 (late): the IVM state-merge proof (bitmap OR + partial-agg
    # algebra over two state tables) and the Z-order layout planner
    "rollup_incremental_merge",
    "layout_zorder_pruning",
    # round-10: the bounded approx-percentile primary — GK sketch
    # map-side partials + the exact rank-window audit (one per-group
    # sort); tracked so the audit cost stays visible round-over-round
    "agg_approx_percentile_bounded",
    # streaming: full event replay through the windowed-rate job
    # (BASELINE.md ingest budget: >= 10,000 msg/s sustained)
    "streaming_windowed_rate",
]

# The round-1 headline set (BENCH_r01.json) — its subtotal is reported
# separately so totals stay comparable across rounds as coverage grows.
ROUND1_SET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "mqtt_fanout_window_rate",
    "mqtt_counter_totals",
    "promql_rate_window",
    "grafana_panel_hfp_journey",
    "doc_exact_dedup",
    "doc_minhash_lsh_neardup",
    "emb_cosine_topk",
    "text_quality_scores",
    "streaming_windowed_rate",
]


def _refresh_registry_index() -> None:
    """Regenerate docs/REGISTRY.md. The driver runs bench.py before every
    round close and commits uncommitted work afterwards, so refreshing
    here guarantees the index can never be committed stale again (it went
    stale in r5 AND r6 when late registry additions weren't re-indexed)."""
    try:
        import tools.gen_registry_md as gen

        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "docs", "REGISTRY.md"
        )
        fresh = gen.render()
        try:
            with open(path) as f:
                stale = f.read() != fresh
        except OSError:
            stale = True
        if stale:
            with open(path, "w") as f:
                f.write(fresh)
    except Exception as exc:  # never let doc hygiene break the bench
        print(f"# registry-index refresh skipped: {exc}", file=sys.stderr)


def _assert_cold(spark, name: str) -> None:
    """Warm-cache mismeasurement guard (r7 VERDICT item 5).

    r6 recorded doc_quality_logreg_hashed at 1.48 s because the warm-up
    pass leaked corpus-sized cached plans that the timed runs silently
    reused via the cache manager's logical-plan matching (honest cold:
    3.37 s). Callers clearCache first (the headline loop) or release
    their caches in a finally block (the trainer path); this assert then
    PROVES the timed sample starts with an empty cache manager — any
    plan still registered means a cache survived the caller's hygiene
    (a pinned/foreign cache), and the bench fails rather than record a
    warm number.

    localCheckpoint leftovers (IVF/PQ Lloyd rounds) are different: a
    fresh build() constructs new lineage and cannot reuse a dead
    checkpoint RDD, so they are memory pressure, not warm-cache reuse —
    drain them instead of failing.
    """
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        raise RuntimeError(
            f"bench: cached plans leaked into the timed run of {name} — "
            "a query .cache()d/.persist()ed without releasing (the r6 "
            "doc_quality_logreg_hashed mismeasurement class); unpersist "
            "in a finally block inside the query"
        )
    # the auto-collapse precheck memoizes per input frame (r10): clear it
    # so every timed sample bills its OWN precheck — the honest per-build
    # cost a fresh 100 TB pipeline invocation pays
    from transitdata_monitor_data_collector_spark.operators import dedup

    dedup.clear_precheck_memo()
    import gc

    gc.collect()  # release driver refs so dead checkpoint RDDs unpin
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def _time_cold(spark, name: str, run: Callable[[], float]) -> float:
    """The bench's one timing protocol: an untimed warm-up (JVM codegen
    compile amortizes), then the min of two cold samples. ``run()`` does
    the work and returns its own wall time.

    Each sample is structurally cold: drop the warm-up's (or previous
    sample's) cached plans, then PROVE the state is empty before timing.
    The first full guarded run exposed that queries caching internally BY
    DESIGN (the minhash/simhash shingle frames, registered lazily at build
    time) can never satisfy a no-clearCache EMPTY policy — and had
    therefore been timed WARM since round 1. Clearing here makes
    warm-up->timed reuse impossible while intra-run cache reuse (the
    operator's own design) is billed to the run that builds it. The
    clear before the warm-up drops what earlier entries leaked: iterative
    trainers .cache() fixtures and never unpersist, and across a 70-query
    sweep the leaked blocks pressure the 4g heap and inflate later
    queries (r5: round-1 set 14.7 s in-sweep vs 12.7 s standalone).

    Min of two: a single sample is hostage to ambient load spikes on a
    shared machine (BENCH_r02 recorded ~2x uniform inflation vs a clean
    re-run of the identical build).
    """
    print(f"bench: {name}", file=sys.stderr, flush=True)
    spark.catalog.clearCache()
    run()

    def sample() -> float:
        spark.catalog.clearCache()
        _assert_cold(spark, name)
        return run()

    return round(min(sample(), sample()), 3)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _wide_logreg(spark, sf_dir: str) -> tuple:
    """The weights-as-DataFrame trainer at a REALISTIC classifier width
    (2^16 hash buckets vs the gate's 2^10; r6 VERDICT stretch item 8):
    the per-round cost is joins + aggregates over distributed
    weight/feature tables with the driver seeing only the corpus count."""
    from transitdata_monitor_data_collector_spark.plans.llm_data import (
        _hashed_logreg_run,
    )

    stats, _w, cached = _hashed_logreg_run(spark, sf_dir, n_buckets=1 << 16)
    return reduce(lambda a, b: a.unionByName(b), stats), cached


def _gk_only(spark, sf_dir: str) -> tuple:
    """The GK-ONLY percentile serving aggregate (r10 VERDICT item 5): the
    gated primary embeds the exact twins + rank-window audit (a full
    per-group sort), so its headline measures the audit, not the sketch.
    This times the pure 100 TB path: one hash aggregate with fixed-size
    mergeable GK partials. Correctness is still gated through the
    primary's raise-on-breach verdicts."""
    from transitdata_monitor_data_collector_spark.plans.relational import (
        approx_percentile_gk_serving,
    )

    return approx_percentile_gk_serving(spark, sf_dir), []


#: Bench-only entries, timed after the headline set through the same
#: loop but outside the gated registry (no oracle slot spent). Each
#: builds ``(frame, caches)``: the frame is written to the noop sink and
#: the caches are released before the sample's clock stops.
BENCH_ONLY = {
    "doc_quality_logreg_hashed_2e16": _wide_logreg,
    "agg_approx_percentile_gk_only": _gk_only,
}


def _run_bench_only(spark, sf_dir: str, name: str) -> float:
    t0 = time.perf_counter()
    df, cached = BENCH_ONLY[name](spark, sf_dir)
    try:
        _noop_write(df)
    finally:
        for c in cached:
            c.unpersist()
    elapsed = time.perf_counter() - t0
    # _time_cold clears before every sample, which would mask a cache
    # this entry failed to release: prove the release here, untimed
    _assert_cold(spark, name)
    return elapsed


def main() -> None:
    _refresh_registry_index()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local profiling aid: run only a comma-separated subset (and skip the
    # ingest measurements) so a regression hunt doesn't pay for the full
    # 70-query sweep each iteration
    only = [
        q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q
    ]

    from transitdata_monitor_data_collector_spark.plans import load_all
    from transitdata_monitor_data_collector_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    registry = load_all()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Contention canary reference (r9 VERDICT item 3): the PREVIOUS
    # committed full run's q1 time, read before this run overwrites the
    # file. Two contaminated runs in two rounds were caught by hand (a
    # lingering stress-sweep JVM inflating every query ~5x); the canary
    # makes the check structural — q1 runs first, and a hot ratio marks
    # the whole run "contended" in the output JSON. The reference is
    # only comparable at the SAME scale factor (r10 ADVICE): a run at a
    # different sf than the committed baseline would read spuriously
    # hot (or mask real contention), so the canary disables itself.
    canary_query = "q1_pricing_summary"
    canary_ref = None
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json")
        ) as f:
            _base = json.load(f)
        if _base.get("sf") == sf_val:
            canary_ref = _base["queries"].get(canary_query)
        else:
            print(
                f"bench: canary disabled — committed baseline sf="
                f"{_base.get('sf')} != this run's sf={sf_val}",
                file=sys.stderr, flush=True,
            )
    except (OSError, ValueError, KeyError):
        pass

    # Warm-up: prime codegen/classloading on a tiny scan so per-query
    # timings measure the plan, not JVM startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def run_once(name: str) -> float:
        if name in BENCH_ONLY:
            return _run_bench_only(spark, sf_dir, name)
        # build INSIDE the timer: lazy queries only pay plan construction,
        # but streaming registry entries drive their availableNow run in
        # build() and must be measured end-to-end
        t0 = time.perf_counter()
        _noop_write(registry[name].build(spark, sf_dir))
        return time.perf_counter() - t0

    def ratio(probe: float | None) -> float | None:
        return round(probe / canary_ref, 3) if canary_ref and probe is not None else None

    def probe_canary() -> float:
        return _time_cold(spark, canary_query, lambda: run_once(canary_query))

    timings: dict[str, float] = {}
    for name in only or HEADLINE + list(BENCH_ONLY):
        timings[name] = _time_cold(spark, name, lambda: run_once(name))
        if name == canary_query and canary_ref and ratio(timings[name]) > 1.5:
            print(
                f"bench: CONTENTION CANARY HOT — {canary_query} "
                f"{timings[name]} s vs committed {canary_ref} s "
                f"(x{ratio(timings[name])}); this run is marked contended "
                "and its numbers should not be promoted to a baseline",
                file=sys.stderr, flush=True,
            )

    # Second canary probe AFTER the sweep (r10): the start-of-run probe
    # cannot see contention (or accumulated JVM pressure) that arrives
    # mid-run — r10's opening bench had a clean 1.07x start canary yet
    # the tail streaming measurements ran 3x slow. Re-time q1 cold here
    # so the streaming numbers that follow carry their own load context.
    canary_end = probe_canary() if canary_query in timings else None

    if only:
        ingest = live = store_serving = multibroker = live_multibroker = None
    else:
        from transitdata_monitor_data_collector_spark.streaming.ingest_bench import (
            measure_live_fanin,
            measure_replay_fanin,
            measure_store_to_serving,
        )

        # Streaming ingest budget (BASELINE.md row 1: >= 10,000 msg/s):
        # replay 200k synthetic messages through the mqtt-replay
        # DataSource + windowed_rate_job (fan-out, watermark, stateful
        # window agg, update sink) and record SUSTAINED throughput +
        # micro-batch latency. The multi-broker rows (r8 VERDICT item 5)
        # union N replay sources, one per broker as the reference runs
        # one listener per broker (Main.java:76-85), through ONE job.
        ingest = measure_replay_fanin(spark)
        multibroker = {
            f"N{n}": measure_replay_fanin(
                spark, n_sources=n, n_msgs_per_source=100_000
            )
            for n in (2, 4, 8)
        }

        # Live TCP path (loopback brokers -> vendored MQTT client ->
        # source -> raw append sink): isolates network ingest from the
        # agg path. One broker with four publishers, then the reference's
        # exact deployment shape (r9 VERDICT item 7): four brokers on
        # distinct ports, one source each, unioned.
        live = measure_live_fanin(spark)
        live_multibroker = measure_live_fanin(
            spark, n_brokers=4, n_publishers=1, n_msgs_per_broker=40_000
        )

        # Full reference-shaped path in one run (r5 VERDICT item 7):
        # ingest -> counter state -> versioned store + scrape history ->
        # PromQL rate over the store -> Prometheus exposition, with a
        # message-conservation check across the whole chain.
        store_serving = measure_store_to_serving(spark, n_msgs=1_000_000)

        # store->serving throughput floor (r10 VERDICT item 1): the
        # reference budgets >=10k msg/s per listener
        # (MqttTopicMonitorListener.java:33-36). Record the verdict in
        # the output so a sub-budget reading is loud, and attributable
        # against the post-streaming canary probe below.
        store_serving["floor_msgs_per_sec"] = 10_000
        store_serving["floor_ok"] = store_serving["msgs_per_sec"] >= 10_000

    # Third canary probe AFTER the streaming tail (r10 VERDICT item 1):
    # both earlier probes run BEFORE the ~3-minute streaming section, so
    # a box going bad during it was invisible — r9 AND r10 each published
    # a 3x-misread store_serving number as "contended": false. q1 cold
    # here gives the streaming measurements trailing load context.
    canary_post = (
        probe_canary() if not only and canary_query in timings else None
    )

    canary_run = timings.get(canary_query)
    payload = {
        "metric": "headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # contention canary (r9 VERDICT item 3): q1 vs the previous
        # committed run; >1.5x means a co-running process likely inflated
        # every number in this run
        "canary": {
            "query": canary_query,
            "ref_sec": canary_ref,
            "run_sec": canary_run,
            "ratio": ratio(canary_run),
            "end_run_sec": canary_end,
            "end_ratio": ratio(canary_end),
            # r10 VERDICT item 1: q1 re-timed AFTER the streaming tail so
            # store_serving/live fan-in carry trailing load context
            "post_streaming_run_sec": canary_post,
            "post_streaming_ratio": ratio(canary_post),
            # divert threshold stays 1.5x (catastrophic contention); ANY
            # of the three probes firing marks the whole run contended
            "contended": bool(
                canary_ref
                and any(
                    probe is not None and probe / canary_ref > 1.5
                    for probe in (canary_run, canary_end, canary_post)
                )
            ),
            # baseline-PROMOTION is stricter (r10 VERDICT item 1: a
            # 1.447x-hot run published as clean while its shuffle-bound
            # movers read 2x): ALL probes must be < 1.25x for this run
            # to overwrite BENCH_LOCAL.json. No reference (first run /
            # sf switch) promotes by necessity.
            "promotable": bool(
                canary_ref is None
                or all(
                    probe is not None and probe / canary_ref < 1.25
                    for probe in (canary_run, canary_end, canary_post)
                )
            ),
        },
        "round1_set_sec": round(
            sum(timings[q] for q in ROUND1_SET if q in timings), 3
        ),
        "streaming_ingest": ingest,
        "streaming_ingest_multibroker": multibroker,
        "live_ingest": live,
        "live_ingest_multibroker": live_multibroker,
        "store_serving": store_serving,
        "sf": sf_val,
    }
    line = json.dumps(payload)
    # The driver records only the stdout TAIL, which truncates per-query
    # attribution once the headline set is large (r5 VERDICT item 4). A
    # full copy next to BENCH_r*.json keeps regressions attributable.
    # A NON-PROMOTABLE run (any probe >= 1.25x the committed baseline —
    # contended at >1.5x, or merely warm in between) is diverted to
    # BENCH_LOCAL_CONTENDED.json so the clean committed baseline (and
    # the next run's canary reference) survives — promoting inflated
    # numbers is exactly the failure the canary exists to stop.
    if not only:
        fname = (
            "BENCH_LOCAL.json"
            if payload["canary"]["promotable"]
            else "BENCH_LOCAL_CONTENDED.json"
        )
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), fname),
            "w",
        ) as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
