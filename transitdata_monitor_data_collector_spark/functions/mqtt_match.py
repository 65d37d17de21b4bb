"""MQTT topic-filter matching — the reference's one custom scalar function.

Semantics pinned by the reference implementation and its 20-case test corpus
(transitdata-metrics-exporter/src/main/java/fi/hsl/transitdata/monitoring/mqtt/
MqttTopicFilterMatcher.java:18-48 and .../MqttTopicFilterMatcherTest.java:10-271):

- ``+`` matches exactly one topic level (only when it is the whole level);
- ``#`` matches all remaining levels (zero or more), only as a whole level;
- without ``#`` the level counts must be equal;
- levels are produced by Java ``String.split("/")``, which KEEPS leading
  empty levels (so a leading ``/`` is a significant empty level) and DROPS
  trailing empty levels (``a/`` ≡ ``a``);
- a message can match several filters; matches are reported in filter order
  (fan-out, not first-match — MqttTopicMonitorListener.java:125-135).

Three implementations, fastest-path first:

1. :func:`matching_filters_col` — for a STATIC filter registry (the normal
   case: filters come from config). Each filter is compiled ONCE on the
   driver to an anchored regex literal; the match is a pure Column
   expression (``rlike`` + ``array_compact``), fully JVM-side and
   whole-stage-codegen friendly. This is the 100 TB path: no UDF, no
   shuffle, no broadcast — the registry is folded into the plan.
2. :func:`match_filters_join` — for a DYNAMIC filter DataFrame: broadcast
   non-equi join on a pre-compiled regex column (``rlike(topic, regex)``).
3. :func:`topic_matches` — pure-Python exact model (used by tests, the
   DuckDB oracle generator, and as a pandas-UDF fallback).

Known deviation: for degenerate all-slash inputs (``""``, ``"/"``, ``"//"``…)
the regex path pins the Python model's behavior only up to the trailing-slash
normalization collision (``"/"`` vs ``""``); real MQTT topics (nonempty, not
all slashes) are exact. The 20-case corpus is exact.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "java_split_levels",
    "topic_matches",
    "find_matching_topic_filters",
    "filter_to_regex",
    "matching_filters_col",
    "with_topic_filter_fanout",
    "match_filters_join",
    "UNKNOWN_FILTER",
]

# Bucket for messages matching no configured filter
# (MqttTopicMonitorListener.java:84-89,126-129).
UNKNOWN_FILTER = "unknown"


def java_split_levels(s: str) -> list[str]:
    """Split a topic/filter into levels with Java ``String.split("/")``
    semantics: trailing empty strings removed; empty input → ``[""]``."""
    if s == "":
        return [""]
    parts = s.split("/")
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def topic_matches(topic: str, topic_filter: str) -> bool:
    """Exact behavioral model of MqttTopicFilterMatcher.topicMatches
    (MqttTopicFilterMatcher.java:18-48)."""
    if topic_filter == topic:
        return True
    filter_parts = java_split_levels(topic_filter)
    topic_parts = java_split_levels(topic)
    if len(filter_parts) != len(topic_parts) and "#" not in topic_filter:
        return False
    for i, fpart in enumerate(filter_parts):
        if fpart == "#":
            return True  # matches everything after this point
        if i >= len(topic_parts):
            return False
        if fpart != "+" and fpart != topic_parts[i]:
            return False
    return len(topic_parts) == len(filter_parts)


def find_matching_topic_filters(
    topic: str, topic_filters: Sequence[str]
) -> list[str]:
    """All matching filters, in filter order (fan-out semantics,
    MqttTopicFilterMatcher.java:8-16)."""
    return [f for f in topic_filters if topic_matches(topic, f)]


def filter_to_regex(topic_filter: str) -> str:
    """Compile one MQTT filter to an anchored regex over the NORMALIZED
    topic (trailing ``/``'s stripped — mirrors Java split's trailing-empty
    drop). The output is plain RE2/Java/Python-compatible (no lookarounds),
    so the same string drives Spark ``rlike`` and the DuckDB oracle's
    ``regexp_matches``.
    """
    parts = java_split_levels(topic_filter)
    compiled: list[str] = []
    for i, part in enumerate(parts):
        if part == "#":
            if i == 0:
                return "^.*$"
            return "^" + "/".join(compiled) + "(/.*)?$"
        if part == "+":
            compiled.append("[^/]*")
        else:
            compiled.append(re.escape(part))
    return "^" + "/".join(compiled) + "$"


def normalize_topic_col(topic: Column) -> Column:
    """Strip trailing slashes (Java split trailing-empty-drop)."""
    return F.regexp_replace(topic, "/+$", "")


def matching_filters_col(topic: Column, filters: Sequence[str]) -> Column:
    """``array<string>`` of the filters (in registry order) matching
    ``topic`` — a pure Column expression for a static registry.

    Each filter becomes one literal-pattern ``rlike`` (regex compiled once
    per task by the JVM); unmatched slots are dropped by ``array_compact``.
    Scale note: O(|filters|) predicates fused into one codegen stage — no
    join, no shuffle, no Python.
    """
    return _match_normalized(normalize_topic_col(topic), filters)


# Fan-outs evaluate the normalization and each filter's rlike once per row:
# Catalyst does not share subexpressions inside explode's generator, so an
# inline tree ran regexp_replace once per filter and, under the unknown
# bucket's CASE, every rlike twice. The normalized topic, and for the
# bucket the match array, are projected into these columns and dropped
# after. Without the bucket the generator reads the match expression
# itself: explode over a bare column makes the optimizer infer a
# size() > 0 filter and push a copy of the whole expression below the
# projections.
_NORM_COL = "__mqtt_topic_normalized"
_MATCH_COL = "__mqtt_matched_filters"


def _match_normalized(norm: Column, filters: Sequence[str]) -> Column:
    """``matching_filters_col`` over an already-normalized topic."""
    slots = [F.when(norm.rlike(filter_to_regex(f)), F.lit(f)) for f in filters]
    if not slots:  # empty registry → empty array (matcher test :181-191)
        return F.array().cast("array<string>")
    return F.array_compact(F.array(*slots))


def _explode_matches(
    df: DataFrame,
    topic_col: str,
    matched: Column,
    out_col: str,
    unknown: str | None,
) -> DataFrame:
    """One output row per matched filter (``unknown`` bucket, or no row,
    for none), with ``matched`` reading the normalized topic column."""
    out = df.withColumn(_NORM_COL, normalize_topic_col(F.col(topic_col)))
    if unknown is not None:
        out = out.withColumn(_MATCH_COL, matched)
        arr = F.col(_MATCH_COL)
        matched = F.when(F.size(arr) == 0, F.array(F.lit(unknown))).otherwise(arr)
    return out.withColumn(out_col, F.explode(matched)).drop(_NORM_COL, _MATCH_COL)


def with_topic_filter_fanout(
    df: DataFrame,
    filters: Sequence[str],
    topic_col: str = "topic",
    out_col: str = "topic_filter",
    unknown: str | None = UNKNOWN_FILTER,
) -> DataFrame:
    """Fan each message out to EVERY matching filter (one output row per
    match), with non-matching messages bucketed under ``unknown`` —
    reproduces MqttTopicMonitorListener.java:125-135.

    Set ``unknown=None`` to drop non-matching rows instead.
    """
    matched = _match_normalized(F.col(_NORM_COL), filters)
    return _explode_matches(df, topic_col, matched, out_col, unknown)


def match_filters_join(
    messages: DataFrame,
    filters_df: DataFrame,
    topic_col: str = "topic",
    filter_col: str = "topic_filter",
    how: str = "inner",
) -> DataFrame:
    """Dynamic-registry variant: non-equi join of messages against a filter
    DataFrame on ``rlike(topic, filter_regex)``.

    The filter side is broadcast (registries are small dimensions), so the
    plan is a BroadcastNestedLoopJoin — each task scans its message
    partition once against the in-memory registry; no shuffle of the big
    side. The regex is precomputed per filter row driver-side if absent.
    """
    if "filter_regex" not in filters_df.columns:
        rows = [r[filter_col] for r in filters_df.select(filter_col).collect()]
        regex_map = {f: filter_to_regex(f) for f in rows}
        mapping = F.create_map(
            *[x for f in regex_map for x in (F.lit(f), F.lit(regex_map[f]))]
        )
        filters_df = filters_df.withColumn("filter_regex", mapping[F.col(filter_col)])
    cond = F.rlike(
        normalize_topic_col(messages[topic_col]), filters_df["filter_regex"]
    )
    return messages.join(F.broadcast(filters_df), cond, how).drop("filter_regex")


def make_matching_filters_udtf(filters: Sequence[str]):
    """UD2 as a real Spark 4 Python UDTF: one (broker, topic) row in, one
    row PER matching filter out (fan-out preserved; ``unknown`` bucket for
    no-match) — the table-function shape of
    MqttTopicFilterMatcher.findMatchingTopicFilters
    (MqttTopicFilterMatcher.java:8-16).

    The Column-expression path (:func:`matching_filters_col`) remains the
    hot path — this exists for API parity and for callers that want
    matcher logic in Python (e.g. alongside other per-row Python work).
    Register with ``spark.udtf.register("mqtt_matching_filters", udtf_cls)``
    and use in SQL as a lateral table function.
    """
    from pyspark.sql.functions import udtf

    captured = list(filters)

    @udtf(returnType="topic_filter: string")
    class MatchingFiltersUDTF:
        def eval(self, topic: str):
            matched = find_matching_topic_filters(topic, captured)
            if not matched:
                yield (UNKNOWN_FILTER,)
            else:
                for f in matched:
                    yield (f,)

    return MatchingFiltersUDTF


def with_per_broker_fanout(
    df: DataFrame,
    broker_filters: "Mapping[str, Sequence[str]]",
    topic_col: str = "topic",
    broker_col: str = "broker",
    out_col: str = "topic_filter",
    unknown: str | None = UNKNOWN_FILTER,
) -> DataFrame:
    """Per-broker fan-out: each message is matched against ITS broker's
    filter set only — the reference registers one listener (and one
    counter family) per broker (Main.java:76-85), so broker A's messages
    must never count toward a filter configured only on broker B, and a
    filter shared by two brokers must not double-count.

    Still a pure projection (a CASE over the broker column selecting that
    broker's literal-regex match array) — no join, no shuffle; scales the
    same as :func:`with_topic_filter_fanout`. Messages from unconfigured
    brokers have no filters and land in the ``unknown`` bucket (or are
    dropped when ``unknown=None``).
    """
    matched = None
    norm = F.col(_NORM_COL)
    for broker, filters in broker_filters.items():
        arr = _match_normalized(norm, list(dict.fromkeys(filters)))
        cond = F.col(broker_col) == broker
        matched = (
            F.when(cond, arr) if matched is None else matched.when(cond, arr)
        )
    if matched is None:
        raise ValueError("broker_filters is empty")
    matched = matched.otherwise(F.array().cast("array<string>"))
    return _explode_matches(df, topic_col, matched, out_col, unknown)
