"""Physical-plan regression tests — the 100 TB posture, pinned.

These assert the *shape* of the plans, not their results: filters reach
the parquet scan, projections prune columns, small dimensions broadcast,
aggregations are partial+final, and nothing in the registry degenerates
into a cartesian product. A plan regression here is a scale bug even when
sf0.001 results stay correct.
"""

from __future__ import annotations

import pytest

from transitdata_monitor_data_collector_spark.plans import load_all

REGISTRY = load_all()

# Streaming registry entries execute eagerly in build() and have no batch
# plan worth pinning here; their semantics are covered by oracle parity.
_BATCH_QUERIES = sorted(
    n for n in REGISTRY if not n.startswith("streaming_")
)


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_anywhere(spark, sf_dir):
    offenders = []
    for name in _BATCH_QUERIES:
        if "CartesianProduct" in _plan(spark, sf_dir, name):
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "proj_column_pruning")
    # the scan must read only the projected columns, not the whole table
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_comment" not in read_schema


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_threshold")
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "IsNotNull" in pushed or "GreaterThan" in pushed


def test_small_dimension_joins_broadcast(spark, sf_dir):
    for name in ("join_broadcast_inner", "join_left_semi", "join_left_anti"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name
        assert "SortMergeJoin" not in plan, f"{name} fell back to SMJ"


def test_q1_partial_final_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # partial + final HashAggregate around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_fanout_has_no_join_or_extra_shuffle(spark, sf_dir):
    # the wildcard fan-out must be a projection (literal regexes), not a
    # join against a filter table
    plan = _plan(spark, sf_dir, "mqtt_counter_totals")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan
    # shuffles: the spread repartition + the groupBy (+ AQE reuse) only
    assert plan.count("Exchange") <= 4


def test_minhash_signature_stage_is_narrow(spark, sf_dir):
    # signatures must not explode shingles into a shuffle: the only
    # exchanges are the doc-spread repartition, the band-bucket join's,
    # and the final aggregations
    plan = _plan(spark, sf_dir, "doc_minhash_lsh_neardup")
    assert "Generate explode" not in plan.replace("explode(shingles)", "XX") or (
        "explode(shingles)" not in plan
    )


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_deterministic")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, k-merge


def test_whole_stage_codegen_present(spark, sf_dir):
    # the codegen explain mode compiles the plan and reports its
    # WholeStageCodegen subtrees even under AQE
    import contextlib
    import io

    # AQE defers codegen compilation until runtime re-planning; turn it
    # off so the static plan exposes its codegen subtrees
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q1_pricing_summary", "scalar_kitchen_sink", "filter_rlike"):
            df = REGISTRY[name].build(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("codegen")
            out = buf.getvalue()
            assert "WholeStageCodegen subtrees" in out, name
            assert "Found 0 WholeStageCodegen" not in out, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    # every Q6 predicate is parquet-pushable: both shipdate bounds, the
    # discount range, and the quantity cap
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # pruned


def test_q18_semi_join_on_aggregated_keys(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_volume_customer")
    assert "LeftSemi" in plan
    # the HAVING-aggregate feeding the semi join must itself be
    # partial+final (map-side combine before the l_orderkey shuffle)
    assert plan.count("HashAggregate") >= 4


def test_q19_disjunction_splits_across_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    # CNF extraction pushes a per-side residual below the join: the
    # lineitem scan must see a quantity bound, the part side a brand set
    pushed = " ".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_quantity" in pushed
    assert "p_brand" in pushed or "p_size" in pushed


def test_lsh_neardup_has_no_nested_loop_join(spark, sf_dir):
    """The graded embedding near-dup queries must take the banded-LSH
    equi-join path — never a BroadcastNestedLoopJoin/CartesianProduct
    (the brute-force baseline emb_neardup_pairs is exempt by design)."""
    for name in (
        "emb_neardup_lsh",
        "emb_neardup_planted",
        "multimodal_feature_neardup",
        "doc_simhash_neardup",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_cluster_and_curation_have_no_nested_loop_join(spark, sf_dir):
    """The fuzzy-dedup cluster pipeline (LSH pairs -> connected
    components) and the composed curation query must stay on equi-join
    paths end to end."""
    for name in ("doc_dedup_clusters", "doc_curation"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    """Top-k by count must plan as TakeOrderedAndProject (per-partition
    top-k + k-row driver merge), never a global Sort of the vocabulary."""
    plan = _plan(spark, sf_dir, "text_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_ivf_store_probe_prunes_list_partitions(spark, sf_dir):
    """The stored-IVF probe must scan only the probed inverted lists:
    the list_id predicate lands in PartitionFilters (directory pruning),
    never a post-scan Filter over the whole index."""
    plan = _plan(spark, sf_dir, "emb_ivf_store_topk")
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, "no PartitionFilters in the index scan"
    assert "list_id" in pf_lines[0], pf_lines[0]
    # and the result equals the non-stored IVF path (same centroids/probe)
    from transitdata_monitor_data_collector_spark.plans import load_all

    reg = load_all()
    stored = reg["emb_ivf_store_topk"].build(spark, sf_dir).collect()
    direct = reg["emb_ann_ivf_topk"].build(spark, sf_dir).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in stored] == [
        (r["vec_id"], r["cos_sim"]) for r in direct
    ]


def test_q7_q8_star_joins_broadcast_dims(spark, sf_dir):
    """The nation/region/part/supplier dimension sides of the TPC-H star
    joins must broadcast; the plan must never degrade to a nested-loop."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_chunking_is_narrow_map_stage(spark, sf_dir):
    """Chunking must be scan -> generate -> project with no join and no
    shuffle beyond the small-input spread (a no-op at real scale): a
    shuffle or join here would be a scale bug in a map-only operator."""
    plan = _plan(spark, sf_dir, "doc_chunking")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    # spread repartition + the output orderBy only
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_decontamination_is_equi_join(spark, sf_dir):
    """Train/eval overlap must be the inverted-index equi-join on shingle
    hashes — never an all-pairs document compare."""
    plan = _plan(spark, sf_dir, "doc_decontamination")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final on doc_id


def test_rate_over_store_prunes_partitions(spark, sf_dir):
    """The store query's date range must land in PartitionFilters on the
    dt partition column (directory pruning), not a post-scan Filter."""
    plan = _plan(spark, sf_dir, "rate_over_store")
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, "no PartitionFilters in the store scan"
    pf = pf_lines[0]
    assert "dt" in pf and (">=" in pf or "GreaterThanOrEqual" in pf), pf


def test_tpch_completion_set_joins_broadcast_and_decorrelate(spark, sf_dir):
    # q2/q9/q20/q21: every dim side broadcasts, nothing degenerates into
    # a nested-loop join, and the q21 EXISTS/NOT EXISTS pair is
    # de-correlated into aggregates (no per-row correlated probes)
    for name in (
        "q2_min_cost_supplier",
        "q9_product_type_profit",
        "q16_part_supplier_variety",
        "q20_excess_suppliers",
        "q21_waiting_suppliers",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_q11_scalar_subquery_is_broadcast_not_recompute(spark, sf_dir):
    # the fraction-of-global threshold must reach the filter as a
    # broadcast (1-row) side, not a per-row subquery
    plan = _plan(spark, sf_dir, "q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # exactly one scan pair: value_by_part feeds both sides
    assert plan.count("CartesianProduct") == 0


def test_histogram_buckets_no_row_fanout(spark, sf_dir):
    # cumulative buckets must come from per-bucket counts + window, not
    # an events-x-buckets explode: no join against the fact after agg
    plan = _plan(spark, sf_dir, "prometheus_histogram_buckets")
    # exactly one explode, and it feeds off the distinct-types aggregate
    # (6-element literal grid), never the raw fact rows
    assert plan.count("Generate explode") == 1
    gen_line = next(ln for ln in plan.splitlines() if "Generate explode" in ln)
    assert "[event_type" in gen_line and "value" not in gen_line
    # fact side collapses map-side before its single shuffle
    assert "partial_count" in plan
    assert plan.count("SortMergeJoin") == 0


def test_gap_fill_grid_is_distributed(spark, sf_dir):
    # the dense grid comes from sequence()/explode inside the plan (no
    # driver-side loop), and LOCF is a single window over the series
    plan = _plan(spark, sf_dir, "timeseries_gap_fill_locf")
    assert "Generate explode" in plan or "Generate" in plan
    assert "Window" in plan


def test_emb_dim_stats_partial_aggregation(spark, sf_dir):
    # posexplode fan-out must collapse map-side: partial+final aggs
    plan = _plan(spark, sf_dir, "emb_dim_stats")
    assert "partial_" in plan
    assert plan.count("HashAggregate") >= 2


def test_mixture_resample_is_narrow_with_broadcast_rates(spark, sf_dir):
    # acceptance rates join as broadcast dims; the corpus pass is a filter,
    # not a window sort (contrast doc_sample_stratified)
    plan = _plan(spark, sf_dir, "doc_mixture_resample")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_hard_negatives_has_no_pairwise_join(spark, sf_dir):
    # centroids broadcast; scoring is one pass; top-k is a bounded window.
    # No embeddings-x-embeddings join anywhere.
    plan = _plan(spark, sf_dir, "emb_hard_negatives_centroid")
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") <= 2  # corpus + centroid source
    assert "Window" in plan


def test_anomaly_zscore_single_window_no_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_anomaly_zscore")
    assert "Join" not in plan
    assert "Window" in plan


def test_quantize_range_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "emb_quantize_int8")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_elides_both_exchanges(spark, sf_dir):
    # the registry's bucketed fact-fact join: with broadcast disabled
    # (at real scale neither side broadcasts), the join must plan as
    # SortMergeJoin fed DIRECTLY by the bucketed scans — the only hash
    # exchange in the plan is the final groupBy's, never the join inputs'
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "join_bucketed_colocated")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan \
        else plan.split("ShuffledHashJoin")[-1]
    assert "Exchange hashpartitioning" not in join_part, (
        "join inputs were shuffled — bucketing spec not picked up"
    )
    assert "Bucketed: true" in plan


def test_funnel_single_user_shuffle(spark, sf_dir):
    """Three chained funnel-stage window mins must share ONE user_id
    partitioning — a plan with an exchange per stage re-shuffles the
    event log three times at scale."""
    plan = _plan(spark, sf_dir, "events_funnel_conversion")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 1, f"funnel re-shuffles: {n_hash} hash exchanges"
    assert plan.count("Window") == 3


def test_countmin_single_scan_sketch(spark, sf_dir):
    """The CMS build must be one explode + one aggregate — not one
    aggregate per hash row (d scans of the corpus)."""
    plan = _plan(spark, sf_dir, "sketch_countmin_heavy_hitters")
    assert plan.count("SortMergeJoin") == 0
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 6, f"CMS plan shuffles {n_hash}x"


def test_pagerank_broadcast_only_joins(spark, sf_dir):
    """Every per-round join in the bounded-round BSP must broadcast the
    dimension side; an SMJ on the rank table means a full shuffle per
    iteration at scale. Gate disabled: the driver shortcut (r12) would
    otherwise collapse the plan to a LocalRelation at test SF."""
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        _pagerank_body,
    )

    df = _pagerank_body(spark, sf_dir, driver_max_edges=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def _events_dir(path, rows) -> str:
    """Create ``path`` as a one-table sf dir holding ``events.parquet``
    with ``rows`` of (event_id, minute, user_id, event_type)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )
    return str(path)


_PAGERANK_INPUTS = {
    "empty": [],
    "null_key": [
        (1, 0, 1, "a"), (2, 1, 1, None), (3, 2, 1, "b"),
        (4, 0, 2, None), (5, 1, 2, "a"), (6, 2, 2, "b"),
    ],
    "single_row": [(1, 0, 1, "a")],
}


def test_pagerank_driver_gate_matches_distributed_path(
    spark, sf_dir, tmp_path
):
    """The r12 driver-side iteration must emit exactly the distributed
    BSP rounds' rows (same integer/double arithmetic, term for term), and
    survive every input the distributed path survives: an empty events
    table, NULL event types, a single row."""
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        _pagerank_body,
    )

    dirs = {"sf": sf_dir}
    for case, rows in _PAGERANK_INPUTS.items():
        dirs[case] = _events_dir(tmp_path / case, rows)
    for case, d in dirs.items():
        gated = _pagerank_body(spark, d)
        dist = _pagerank_body(spark, d, driver_max_edges=0)
        assert [tuple(r) for r in gated.collect()] == [
            tuple(r) for r in dist.collect()
        ], case
        assert [f.dataType for f in gated.schema.fields] == [
            f.dataType for f in dist.schema.fields
        ], case


def test_shuffle_hash_hint_respected(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be on and actually re-planning: a small aggregate runs
    with far fewer reducers than spark.sql.shuffle.partitions after
    runtime coalescing (the knob that makes one config work from sf0.001
    to 100 TB without hand-tuning reducer counts)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = REGISTRY["q1_pricing_summary"].build(spark, sf_dir)
    df.collect()  # execute THIS plan object so AQE finalizes it
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, (
        "adaptive execution did not coalesce the shuffle for a small input"
    )


_PQ_IVF_QUERIES = (
    "emb_ivf_recall_report",
    "emb_pq_recall_report",
    "emb_pq_recall_clustered",
    "emb_pq_k64_recall_clustered",
    "emb_ivfadc_recall_clustered",
    "emb_compression_ladder_clustered",
    "emb_ivf_nprobe_sweep",
)


#: Read-path conf the parquet readers once set on every call; get_spark
#: pins both, and a read must leave them as they are.
_READ_CONFS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")


def _width_confs(spark) -> dict[str, str]:
    return {
        k: v
        for k, v in spark.conf.getAll.items()
        if k.startswith("spark.sql.adaptive.")
        or k == "spark.sql.shuffle.partitions"
        or k in _READ_CONFS
    }


def test_registry_builds_leave_width_conf_unchanged(spark, sf_dir):
    """A registry build must not change the session's partition-width
    conf: AQE reads it at execution time, so a value left behind by one
    build would govern whatever query, stream or serving job runs next.
    q1 is built first and collected last (build A, build B, collect A),
    so it must run under the conf it was built under. The snapshot also
    holds the read-path conf, and a parquet replay stream is opened too."""
    from transitdata_monitor_data_collector_spark.streaming.jobs import (
        read_parquet_stream,
    )

    before = _width_confs(spark)
    assert all(k in before for k in _READ_CONFS)
    q1 = REGISTRY["q1_pricing_summary"].build(spark, sf_dir)
    for name in _PQ_IVF_QUERIES:
        REGISTRY[name].build(spark, sf_dir)
    read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    assert _width_confs(spark) == before
    q1.collect()
    assert _width_confs(spark) == before


def test_parquet_readers_leave_a_caller_timezone_alone(spark, sf_dir):
    """Neither parquet reader resets the session timezone, even when it
    is not the UTC get_spark pins: a read that wrote it would change the
    clock every later query in the session runs on. Only the lazy plans
    are built under the foreign zone; nothing executes."""
    from transitdata_monitor_data_collector_spark.plans import table
    from transitdata_monitor_data_collector_spark.streaming.jobs import (
        read_parquet_stream,
    )

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        table(spark, sf_dir, "events")
        read_parquet_stream(spark, f"{sf_dir}/events.parquet")
        assert spark.conf.get(key) == "America/New_York"
    finally:
        spark.conf.set(key, prev)


def test_nanos_parquet_truncates_to_micros(spark, tmp_path):
    """A parquet TIMESTAMP(NANOS) column, which no committed fixture has,
    reads through table() and read_parquet_stream truncated to micros,
    beside a naive-micros column read as UTC, with session conf unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transitdata_monitor_data_collector_spark.plans import table
    from transitdata_monitor_data_collector_spark.streaming.jobs import (
        read_parquet_stream,
    )

    nanos = [1_714_521_600_123_456_789, 1_714_521_601_000_000_999, 999]
    micros = [1_714_521_600_000_001, 0, 1_000_000]
    (tmp_path / "nanos.parquet").mkdir()
    pq.write_table(
        pa.table(
            {
                "id": pa.array([0, 1, 2], pa.int64()),
                "ts_ns": pa.array(nanos, pa.timestamp("ns")),
                "ts_us": pa.array(micros, pa.timestamp("us")),
            }
        ),
        str(tmp_path / "nanos.parquet" / "part-0.parquet"),
        version="2.6",
    )
    expected = [(i, n // 1000, u) for i, (n, u) in enumerate(zip(nanos, micros))]

    def epoch_micros(df) -> list[tuple]:
        assert dict(df.dtypes)["ts_ns"] == "timestamp"
        assert dict(df.dtypes)["ts_us"] == "timestamp"
        return sorted(
            tuple(r)
            for r in df.selectExpr(
                "id", "unix_micros(ts_ns)", "unix_micros(ts_us)"
            ).collect()
        )

    before = spark.conf.getAll
    assert epoch_micros(table(spark, str(tmp_path), "nanos")) == expected

    # a directory named *.parquet: streamed in place, probed through a member
    stream = read_parquet_stream(spark, str(tmp_path / "nanos.parquet"))
    q = (
        stream.writeStream.format("memory")
        .queryName("nanos_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    assert epoch_micros(spark.table("nanos_replay")) == expected
    assert spark.conf.getAll == before


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """Spark's runtime row-level bloom filter (the engine's semi-join
    reduction): when a shuffle join's build side carries a selective
    predicate, Catalyst injects a bloom_filter_agg/might_contain pair
    that prunes probe-side rows BEFORE the shuffle — at 100 TB this is
    the difference between shuffling all of lineitem and shuffling only
    the ~20% that can match. Local thresholds are tuned down because the
    test tables are tiny; on a real cluster the defaults (10 MB creation
    side / 10 GB application side) gate the same rewrite."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from transitdata_monitor_data_collector_spark.plans import table
        from pyspark.sql import functions as F

        orders = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:4000]
        assert joined.count() >= 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_m4_downsample_single_hash_exchange(spark, sf_dir):
    """Both row_number windows and the min/max aggregate must share ONE
    hash partitioning on (event_type, bucket) — grouping on the derived
    display timestamp instead of the window's raw bucket key would
    re-shuffle the full point set."""
    plan = _plan(spark, sf_dir, "timeseries_m4_downsample")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 1, f"M4 re-shuffles: {n_hash} hash exchanges"


def test_acf_one_window_sort_no_smj(spark, sf_dir):
    """All 24 lag products must come from ONE window sort per series (the
    EWMA-kernel shape), and the grid/stats joins must broadcast — an SMJ
    or per-lag Window would scan the series 24x."""
    plan = _plan(spark, sf_dir, "timeseries_acf")
    assert plan.count("Window") == 1, plan.count("Window")
    assert "SortMergeJoin" not in plan


def test_concurrent_sessions_curve_invariants(spark, sf_dir):
    """Sweep-line invariants: the curve never goes negative, ends at 0
    (every +1 has its -1), and never exceeds the number of users."""
    from transitdata_monitor_data_collector_spark.plans import table

    rows = (
        REGISTRY["events_concurrent_sessions"].build(spark, sf_dir).collect()
    )
    assert rows
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    for r in rows:
        assert 0 <= r["active"] <= n_users, r
    assert rows[-1]["active"] == 0
    assert sum(r["delta"] for r in rows) == 0


def test_wau_bitmap_equals_exact_pair_join_wau(spark, sf_dir):
    """Two independent exact WAU formulations (bitmap OR-rollup vs the
    distinct-day range join) must agree day for day."""
    bm = {
        r["day"]: r["wau"]
        for r in REGISTRY["events_wau_bitmap_exact"].build(spark, sf_dir).collect()
    }
    pj = {
        r["day"]: r["wau"]
        for r in REGISTRY["events_dau_wau_stickiness"].build(spark, sf_dir).collect()
    }
    assert bm == pj


def test_new_plus_returning_equals_active(spark, sf_dir):
    rows = REGISTRY["events_new_vs_returning"].build(spark, sf_dir).collect()
    assert rows
    assert all(
        r["new_users"] + r["returning_users"] == r["active_users"]
        for r in rows
    )
    assert rows[0]["returning_users"] == 0  # day one: everyone is new


def test_interval_bin_join_is_hash_not_nlj(spark, sf_dir):
    # the many-interval overlap join must run as a bucket equi-join
    # (BroadcastHashJoin) with a residual range filter, never as a
    # BroadcastNestedLoopJoin over the fact table
    plan = _plan(spark, sf_dir, "join_interval_bin_equi")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_splits_skewed_join(spark, oracle_sf_dir):
    """AQE's runtime skew-join handling — the no-code-change answer to key
    skew (operators/skew.py's salting is the explicit-rewrite answer).
    Build a deliberately skewed join (90% of lineitem collapses onto one
    hot key), tune the skew thresholds down to test-data scale, and
    assert the FINAL adaptive plan actually split the skewed partition."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        # the downstream aggregate would normally veto the split (it adds
        # a shuffle); force it — the point here is the split itself
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        # no broadcast: skew handling applies to shuffle joins
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        li = spark.read.parquet(f"{oracle_sf_dir}/lineitem.parquet")
        # repartition(8): the skew split works at map-block granularity,
        # so a single-file (single-mapper) shuffle input is unsplittable
        fact = li.select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        ).repartition(8)
        dim = (
            spark.read.parquet(f"{oracle_sf_dir}/orders.parquet")
            .select(F.col("o_orderkey").alias("k"))
            .withColumn("tag", F.lit("x"))
        )
        joined = fact.join(dim, "k").groupBy("tag").count()
        joined.collect()  # must EXECUTE: skew split is a runtime re-plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_HL_STATS_CROSSJOINS = 3  # one 1-row x 1-row stats crossJoin per GD round


def test_hashed_logreg_weights_stay_broadcast(spark, sf_dir):
    """doc_quality_logreg_hashed: the weight table (<= 1025 rows) must
    join features via broadcast — a SortMergeJoin on the weight key
    would shuffle the full feature set once per GD round, which is the
    exact failure mode the weights-as-data design exists to avoid. The
    gradient aggregates must be partial+final, and no plan node may be
    a nested-loop or cartesian join.

    The registered query now materializes its 3-row report (so it can
    release the training cache — r6 ADVICE leak fix), which makes ITS
    plan a LocalTableScan; the training DAG is asserted directly from
    _hashed_logreg_run's lazy stats union. autoBroadcastJoinThreshold is
    pinned (r6 ADVICE item 3) so the doc_id-side join shape doesn't flip
    with fixture size — the h-keyed weight joins the test guards are
    explicitly broadcast regardless."""
    from transitdata_monitor_data_collector_spark.plans.llm_data import (
        _hashed_logreg_run,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
    )
    cached = []
    try:
        stats, _w, cached = _hashed_logreg_run(spark, sf_dir)
        out = stats[0]
        for s in stats[1:]:
            out = out.unionByName(s)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # the only nested-loop joins allowed are the per-round stats
        # crossJoins (1-row loss x 1-row weight aggregate — bounded at
        # any corpus scale, same class as the audited 1-row global
        # aggregates)
        assert plan.count("BroadcastNestedLoopJoin") <= _HL_STATS_CROSSJOINS
        # every h-keyed weight join must broadcast; a SortMergeJoin here
        # means a weight-table shuffle leaked in
        assert plan.count("SortMergeJoin") == 0, plan.count("SortMergeJoin")
    finally:
        for df in cached:
            df.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hashed_logreg_wide_width_same_plan_shape(spark, sf_dir):
    """The 2^16-bucket bench run (r6 VERDICT stretch 8) must keep the
    exact plan discipline of the gated 2^10 run: weight joins broadcast,
    no cartesian join, no SortMergeJoin — i.e. widening the classifier
    only widens the broadcast weight table, it never changes the shuffle
    structure, and the driver still sees only the corpus count."""
    from transitdata_monitor_data_collector_spark.plans.llm_data import (
        _hashed_logreg_run,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
    )
    cached = []
    try:
        stats, _w, cached = _hashed_logreg_run(
            spark, sf_dir, n_buckets=1 << 16
        )
        out = stats[0]
        for s in stats[1:]:
            out = out.unionByName(s)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= _HL_STATS_CROSSJOINS
        assert plan.count("SortMergeJoin") == 0, plan.count("SortMergeJoin")
    finally:
        for df in cached:
            df.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_langid_tokenizes_once_per_row(spark, sf_dir):
    """The langid consumers project split(trim(text)) ONCE and score the
    attribute (functions/text.langid_tokens): the two-stage projection is
    not collapsed by Catalyst (split is non-cheap + multiply-referenced),
    so one-split-per-row is structural, not codegen-CSE luck (r8 VERDICT
    item 8)."""
    for name in ("text_langid", "text_quality_scores"):
        df = REGISTRY[name].build(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        n_splits = opt.count("split(")
        assert n_splits == 1, f"{name}: {n_splits} split() in plan\n{opt}"
