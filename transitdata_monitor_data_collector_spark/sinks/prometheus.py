"""Prometheus text exposition rendering.

The reference serves its aggregate state as Prometheus text on
``GET /metrics`` (``…/web/MetricsEndpoint.java:17-24``, Micrometer's
PrometheusMeterRegistry doing the rendering). Here the "registry" is the
latest aggregate DataFrame of each streaming job; rendering is a driver-side
formatter over those small results (aggregate cardinality = label-set
registry, tiny by construction).

Micrometer naming conventions reproduced:
- counter ``x_total`` rendered as ``x_total{tags} v``;
- gauge rendered as-is;
- DistributionSummary ``s`` rendered as ``s_count``, ``s_sum`` and a
  ``s_max`` gauge (GtfsRtMetricsRegistryTest.java:204-224 semantics).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from transitdata_monitor_data_collector_spark.session import codegen_compilations

__all__ = [
    "render_counter",
    "render_gauge",
    "render_summary",
    "render_page",
    "render_runtime",
]


def _fmt_labels(row, label_cols: Sequence[str]) -> str:
    if not label_cols:
        return ""
    inner = ",".join(
        f'{c}="{_escape(str(row[c]))}"' for c in label_cols
    )
    return "{" + inner + "}"


def _escape(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _fmt_value(v) -> str:
    if v is None:
        return "NaN"
    f = float(v)
    if f == int(f) and abs(f) < 1e15:
        return f"{f:.1f}"
    return repr(f)


def render_counter(
    name: str,
    df: DataFrame,
    value_col: str,
    label_cols: Sequence[str],
    help_text: str = "",
) -> str:
    lines = [f"# HELP {name} {help_text}".rstrip(), f"# TYPE {name} counter"]
    for row in df.collect():
        lines.append(
            f"{name}{_fmt_labels(row, label_cols)} {_fmt_value(row[value_col])}"
        )
    return "\n".join(lines) + "\n"


def render_gauge(
    name: str,
    df: DataFrame,
    value_col: str,
    label_cols: Sequence[str],
    help_text: str = "",
) -> str:
    lines = [f"# HELP {name} {help_text}".rstrip(), f"# TYPE {name} gauge"]
    for row in df.collect():
        lines.append(
            f"{name}{_fmt_labels(row, label_cols)} {_fmt_value(row[value_col])}"
        )
    return "\n".join(lines) + "\n"


def render_summary(
    name: str,
    df: DataFrame,
    count_col: str,
    sum_col: str,
    max_col: str,
    label_cols: Sequence[str],
    help_text: str = "",
) -> str:
    """Micrometer DistributionSummary → _count/_sum + _max gauge."""
    rows = df.collect()
    lines = [f"# HELP {name} {help_text}".rstrip(), f"# TYPE {name} summary"]
    for row in rows:
        labels = _fmt_labels(row, label_cols)
        lines.append(f"{name}_count{labels} {_fmt_value(row[count_col])}")
        lines.append(f"{name}_sum{labels} {_fmt_value(row[sum_col])}")
    lines.append(f"# HELP {name}_max ")
    lines.append(f"# TYPE {name}_max gauge")
    for row in rows:
        labels = _fmt_labels(row, label_cols)
        lines.append(f"{name}_max{labels} {_fmt_value(row[max_col])}")
    return "\n".join(lines) + "\n"


def render_page(sections: Mapping[str, str]) -> str:
    """Concatenate rendered metric families into one exposition page."""
    return "".join(sections[k] for k in sections)


def _gauge_lines(name: str, help_text: str, samples) -> list[str]:
    """samples: iterable of (label_string_or_empty, value)."""
    lines = [f"# HELP {name} {help_text}".rstrip(), f"# TYPE {name} gauge"]
    lines.extend(f"{name}{labels} {_fmt_value(v)}" for labels, v in samples)
    return lines


def render_runtime(spark, queries=None) -> str:
    """Engine self-observability meters — the analog of the reference
    binding ``JvmMemoryMetrics``/``ProcessorMetrics`` to its registry
    (transitdata-metrics-exporter Main.java:37): a monitor that cannot
    see its own engine is blind to the most common failure mode.

    Renders, as Prometheus gauges:
    - JVM heap (used/committed/max) via the driver JVM's ``Runtime``;
    - scheduler load (active jobs/stages, default parallelism) via
      ``statusTracker``;
    - ``spark_codegen_compilations_total``, the generated classes the JVM
      has compiled (``session.codegen_compilations``): it rises while
      queries run plans the code cache no longer holds, so a steady rise
      under a fixed query set is cache thrash;
    - per-StreamingQuery ``lastProgress`` rates (inputRowsPerSecond,
      processedRowsPerSecond, batchId) and state-store row counts
      (``stateOperators[].numRowsTotal``) — the numbers a capacity
      planner watches at 100 TB.

    ``queries`` defaults to ``spark.streams.active``; pass finished
    query handles explicitly to render their terminal progress (an
    availableNow replay has already left ``active`` by render time).
    All inputs are driver-local scalars — no Spark jobs are triggered.
    """
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    total, free, mx = rt.totalMemory(), rt.freeMemory(), rt.maxMemory()
    lines = []
    lines += _gauge_lines(
        "jvm_memory_used_bytes", "Driver JVM heap in use",
        [("", total - free)],
    )
    lines += _gauge_lines(
        "jvm_memory_committed_bytes", "Driver JVM heap committed",
        [("", total)],
    )
    lines += _gauge_lines(
        "jvm_memory_max_bytes", "Driver JVM heap ceiling", [("", mx)]
    )
    st = spark.sparkContext.statusTracker()
    lines += _gauge_lines(
        "spark_active_jobs", "Jobs currently running",
        [("", len(st.getActiveJobsIds()))],
    )
    lines += _gauge_lines(
        "spark_active_stages", "Stages currently running",
        [("", len(st.getActiveStageIds()))],
    )
    lines += _gauge_lines(
        "spark_default_parallelism", "Scheduler default parallelism",
        [("", spark.sparkContext.defaultParallelism)],
    )
    lines += [
        "# HELP spark_codegen_compilations_total Generated classes compiled"
        " (code cache misses)",
        "# TYPE spark_codegen_compilations_total counter",
        f"spark_codegen_compilations_total {_fmt_value(codegen_compilations(spark))}",
    ]

    if queries is None:
        queries = spark.streams.active
    in_rate, proc_rate, batch_id, state_rows, observed = [], [], [], [], []
    for q in queries:
        p = q.lastProgress
        if not p:
            continue
        qname = _escape(q.name or str(q.id))
        labels = f'{{query="{qname}"}}'
        in_rate.append((labels, p.get("inputRowsPerSecond")))
        proc_rate.append((labels, p.get("processedRowsPerSecond")))
        batch_id.append((labels, p.get("batchId")))
        for i, op in enumerate(p.get("stateOperators") or []):
            op_labels = (
                f'{{query="{qname}",operator="{op.get("operatorName", i)}"}}'
            )
            state_rows.append((op_labels, op.get("numRowsTotal")))
        # df.observe() metrics: in-plan, per-batch counters/extents a job
        # declares about its own data (streaming/jobs.py "ingest")
        for obs_name, metrics in (p.get("observedMetrics") or {}).items():
            if hasattr(metrics, "asDict"):  # lastProgress yields Rows
                metrics = metrics.asDict()
            for m_name, val in (metrics or {}).items():
                if isinstance(val, (int, float)):
                    observed.append(
                        (
                            f'{{query="{qname}",observation='
                            f'"{_escape(obs_name)}",metric='
                            f'"{_escape(m_name)}"}}',
                            val,
                        )
                    )
    lines += _gauge_lines(
        "spark_streaming_input_rows_per_second",
        "Source ingest rate per streaming query", in_rate,
    )
    lines += _gauge_lines(
        "spark_streaming_processed_rows_per_second",
        "Processing rate per streaming query", proc_rate,
    )
    lines += _gauge_lines(
        "spark_streaming_batch_id",
        "Last completed micro-batch id per streaming query", batch_id,
    )
    lines += _gauge_lines(
        "spark_streaming_state_rows_total",
        "State-store rows per stateful operator", state_rows,
    )
    lines += _gauge_lines(
        "spark_streaming_observed",
        "df.observe() metrics from the last micro-batch", observed,
    )
    return "\n".join(lines) + "\n"
