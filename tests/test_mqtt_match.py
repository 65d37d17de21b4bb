"""Conformance corpus for the MQTT topic-filter matcher.

Each case replicates one test from the reference's
MqttTopicFilterMatcherTest.java:10-271 (given/when/then preserved in the
case tuples). The same corpus is run against:
  1. the pure-Python model (`topic_matches` / `find_matching_topic_filters`),
  2. the compiled-regex path (`filter_to_regex`),
  3. the Spark Column expression (`matching_filters_col`), and
  4. the dynamic broadcast-join path (`match_filters_join`).
Plus hypothesis property tests: regex path ≡ Python model on realistic
topic/filter space.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
    UNKNOWN_FILTER,
    filter_to_regex,
    find_matching_topic_filters,
    java_split_levels,
    match_filters_join,
    matching_filters_col,
    topic_matches,
    with_topic_filter_fanout,
)

# (name, topic, filters, expected_matches) — one per reference test case,
# MqttTopicFilterMatcherTest.java line refs in comments.
CASES = [
    # :11-21 exact match
    ("exact_gtfsrt", "gtfsrt/v2/fi/hsl/tu", ["gtfsrt/v2/fi/hsl/tu"], ["gtfsrt/v2/fi/hsl/tu"]),
    # :24-34 multi-level wildcard, deep topic
    (
        "hfp_journey_multilevel",
        "/hfp/v2/journey/ongoing/vp/bus/0022/01216/2107/1/Tapiola/11:06/2265203/5/60;24/18/80/57",
        ["/hfp/v2/journey/#"],
        ["/hfp/v2/journey/#"],
    ),
    # :37-47 apc
    (
        "hfp_apc",
        "/hfp/v2/journey/ongoing/apc/bus/0055/01234",
        ["/hfp/v2/journey/ongoing/apc/#"],
        ["/hfp/v2/journey/ongoing/apc/#"],
    ),
    # :50-60 single-level wildcard ferry
    (
        "ferry_single_level",
        "/hfp/v2/journey/ongoing/vp/ferry/1019/suomenlinna",
        ["/hfp/v2/journey/ongoing/+/ferry/#"],
        ["/hfp/v2/journey/ongoing/+/ferry/#"],
    ),
    # :63-73 metro
    (
        "metro_single_level",
        "/hfp/v2/journey/ongoing/vp/metro/1300M1/itakeskus",
        ["/hfp/v2/journey/ongoing/+/metro/#"],
        ["/hfp/v2/journey/ongoing/+/metro/#"],
    ),
    # :76-86 multiple + then #
    (
        "route_7280_multi_plus",
        "/hfp/v2/journey/ongoing/vp/bus/0022/01216/7280/1/Tapiola/11:06/2265203",
        ["/hfp/v2/journey/ongoing/+/+/+/+/7280/#"],
        ["/hfp/v2/journey/ongoing/+/+/+/+/7280/#"],
    ),
    # :89-99 gtfsrt dev vp
    ("gtfsrt_dev_vp", "gtfsrt/dev/fi/hsl/vp/bus/0022", ["gtfsrt/dev/fi/hsl/vp/#"], ["gtfsrt/dev/fi/hsl/vp/#"]),
    # :102-112 gtfsrt sa exact
    ("gtfsrt_dev_sa", "gtfsrt/dev/fi/hsl/sa", ["gtfsrt/dev/fi/hsl/sa"], ["gtfsrt/dev/fi/hsl/sa"]),
    # :115-126 ALL matching filters, in filter order
    (
        "all_matching_filters",
        "/hfp/v2/journey/ongoing/vp/ferry/1019",
        ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/ferry/#", "/hfp/v2/journey/ongoing/+/metro/#"],
        ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/ferry/#"],
    ),
    # :129-139 bus ≠ ferry filter
    ("bus_not_ferry", "/hfp/v2/journey/ongoing/vp/bus/0022/01216", ["/hfp/v2/journey/ongoing/+/ferry/#"], []),
    # :142-152 metro ≠ ferry filter
    ("metro_not_ferry", "/hfp/v2/journey/ongoing/vp/metro/1300M1", ["/hfp/v2/journey/ongoing/+/ferry/#"], []),
    # :155-165 wrong route
    (
        "wrong_route",
        "/hfp/v2/journey/ongoing/vp/bus/0022/01216/550/1/Itakeskus",
        ["/hfp/v2/journey/ongoing/+/+/+/+/7280/#"],
        [],
    ),
    # :168-178 prod ≠ dev
    ("prod_not_dev", "gtfsrt/v2/fi/hsl/tu", ["gtfsrt/dev/fi/hsl/tu"], []),
    # :181-191 empty filter list
    ("empty_filters", "/hfp/v2/journey/ongoing/vp/bus/0022", [], []),
    # :194-204 leading slash significant
    (
        "leading_slash",
        "/hfp/v2/journey/ongoing/vp/bus/0022",
        ["/hfp/v2/journey/ongoing/+/bus/#"],
        ["/hfp/v2/journey/ongoing/+/bus/#"],
    ),
    # :207-218 apc matches both apc filter and journey filter
    (
        "apc_two_filters",
        "/hfp/v2/journey/ongoing/apc/bus/0055/01234/2107/1/Tapiola",
        ["/hfp/v2/journey/ongoing/apc/#", "/hfp/v2/journey/#"],
        ["/hfp/v2/journey/ongoing/apc/#", "/hfp/v2/journey/#"],
    ),
    # :221-232 bus matches only journey filter
    (
        "bus_only_journey",
        "/hfp/v2/journey/ongoing/vp/bus/0022/01216/2107/1/Tapiola/11:06/2265203/5/60;24/18/80/57",
        ["/hfp/v2/journey/ongoing/apc/#", "/hfp/v2/journey/ongoing/+/ferry/#", "/hfp/v2/journey/#"],
        ["/hfp/v2/journey/#"],
    ),
    # :235-244 apc ≠ vp filter
    ("apc_not_vp", "/hfp/v2/journey/ongoing/apc/bus/0055", ["/hfp/v2/journey/ongoing/vp/#"], []),
    # :247-257 '#' at root matches all
    ("root_hash", "/hfp/v2/journey/ongoing/vp/bus/0022", ["#"], ["#"]),
    # :260-271 general + specific both match, order preserved
    (
        "route_7280_two_of_four",
        "/hfp/v2/journey/ongoing/vp/bus/0022/01216/7280/1/Tapiola/11:06/2265203",
        [
            "/hfp/v2/journey/#",
            "/hfp/v2/journey/ongoing/+/ferry/#",
            "/hfp/v2/journey/ongoing/+/metro/#",
            "/hfp/v2/journey/ongoing/+/+/+/+/7280/#",
        ],
        ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/+/+/+/7280/#"],
    ),
]

IDS = [c[0] for c in CASES]


@pytest.mark.parametrize("name,topic,filters,expected", CASES, ids=IDS)
def test_python_model(name, topic, filters, expected):
    assert find_matching_topic_filters(topic, filters) == expected


@pytest.mark.parametrize("name,topic,filters,expected", CASES, ids=IDS)
def test_regex_path(name, topic, filters, expected):
    norm = re.sub("/+$", "", topic)
    got = [f for f in filters if re.search(filter_to_regex(f), norm)]
    assert got == expected


def test_java_split_semantics():
    assert java_split_levels("a/b/c") == ["a", "b", "c"]
    assert java_split_levels("/a/b") == ["", "a", "b"]
    assert java_split_levels("a/b/") == ["a", "b"]
    assert java_split_levels("a///") == ["a"]
    assert java_split_levels("a//b") == ["a", "", "b"]
    assert java_split_levels("/") == []
    assert java_split_levels("") == [""]


def test_trailing_slash_equivalence():
    # Java split drops trailing empty levels → 'a/' behaves as 'a'
    assert topic_matches("a/b/", "a/b")
    assert topic_matches("a/b", "a/b/")
    assert not topic_matches("a/b/", "a/b/+")


def test_plus_matches_empty_level():
    # '+' equals any single level, including an empty middle level
    assert topic_matches("a//b", "a/+/b")


def test_hash_matches_parent_level():
    # 'a/#' matches 'a' itself (the loop returns true at the '#' part)
    assert topic_matches("a", "a/#")


def test_wildcards_literal_inside_level():
    # '+'/'#' act as wildcards only when they are the whole level
    assert not topic_matches("a/xb/c", "a/x+/c")
    assert topic_matches("a/x+/c", "a/x+/c")  # exact-equality short circuit
    assert not topic_matches("a/bXc", "a/b#c")


# --- property tests: regex path ≡ python model -------------------------------

_level = st.one_of(
    st.sampled_from(["hfp", "v2", "journey", "ongoing", "vp", "apc", "bus",
                     "ferry", "metro", "0022", "7280", "+", "#", "", "11:06",
                     "60;24", "x+y"]),
    st.text(alphabet="abc+#:;., ", min_size=0, max_size=4),
)
_path = st.lists(_level, min_size=1, max_size=8).map("/".join)
# exclude degenerate all-slash strings (documented deviation)
_topic = _path.filter(lambda s: re.sub("/", "", s) != "")
_filter = _path.filter(lambda s: re.sub("/", "", s) != "")


@settings(max_examples=500, deadline=None)
@given(topic=_topic, topic_filter=_filter)
def test_regex_equals_model(topic, topic_filter):
    norm = re.sub("/+$", "", topic)
    regex_match = re.search(filter_to_regex(topic_filter), norm) is not None
    assert regex_match == topic_matches(topic, topic_filter)


# --- Spark paths --------------------------------------------------------------


@pytest.fixture(scope="module")
def message_df(spark):
    rows = [(c[1],) for c in CASES]
    return spark.createDataFrame(rows, "topic string")


def test_spark_column_expression(spark):
    rows = [(name, topic) for name, topic, _, _ in CASES]
    df = spark.createDataFrame(rows, "name string, topic string")
    for name, topic, filters, expected in CASES:
        got = (
            df.filter(df.name == name)
            .select(matching_filters_col(df.topic, filters).alias("m"))
            .collect()[0]["m"]
        )
        assert got == expected, name


def test_spark_fanout_unknown(spark):
    filters = ["/hfp/v2/journey/#", "/hfp/v2/journey/ongoing/+/ferry/#"]
    df = spark.createDataFrame(
        [("/hfp/v2/journey/ongoing/vp/ferry/1019",), ("gtfsrt/v2/fi/hsl/tu",)],
        "topic string",
    )
    out = with_topic_filter_fanout(df, filters)
    got = sorted((r.topic, r.topic_filter) for r in out.collect())
    assert got == [
        ("/hfp/v2/journey/ongoing/vp/ferry/1019", "/hfp/v2/journey/#"),
        ("/hfp/v2/journey/ongoing/vp/ferry/1019", "/hfp/v2/journey/ongoing/+/ferry/#"),
        ("gtfsrt/v2/fi/hsl/tu", UNKNOWN_FILTER),
    ]


def test_spark_dynamic_join(spark):
    filters = [
        "/hfp/v2/journey/#",
        "/hfp/v2/journey/ongoing/+/ferry/#",
        "/hfp/v2/journey/ongoing/+/metro/#",
    ]
    messages = spark.createDataFrame(
        [("/hfp/v2/journey/ongoing/vp/ferry/1019",), ("nomatch/topic",)],
        "topic string",
    )
    filters_df = spark.createDataFrame([(f,) for f in filters], "topic_filter string")
    out = match_filters_join(messages, filters_df)
    got = sorted((r.topic, r.topic_filter) for r in out.collect())
    assert got == [
        ("/hfp/v2/journey/ongoing/vp/ferry/1019", "/hfp/v2/journey/#"),
        ("/hfp/v2/journey/ongoing/vp/ferry/1019", "/hfp/v2/journey/ongoing/+/ferry/#"),
    ]


def test_per_broker_fanout_isolates_brokers(spark):
    from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
        with_per_broker_fanout,
    )

    msgs = spark.createDataFrame(
        [
            ("brokerA", "/hfp/v2/journey/x"),
            ("brokerB", "/hfp/v2/journey/x"),
            ("brokerC", "/hfp/v2/journey/x"),  # unconfigured broker
        ],
        "broker string, topic string",
    )
    fanned = with_per_broker_fanout(
        msgs,
        {
            "brokerA": ["/hfp/v2/journey/#", "/other/#"],
            "brokerB": ["/other/#"],
        },
    ).collect()
    got = {(r["broker"], r["topic_filter"]) for r in fanned}
    # A matches its own filter; B must NOT be counted toward A's filter;
    # C has no filter set at all -> unknown
    assert got == {
        ("brokerA", "/hfp/v2/journey/#"),
        ("brokerB", "unknown"),
        ("brokerC", "unknown"),
    }


def test_per_broker_fanout_no_double_count_for_duplicate_filters(spark):
    from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
        with_per_broker_fanout,
    )

    msgs = spark.createDataFrame(
        [("brokerA", "/hfp/v2/journey/x")], "broker string, topic string"
    )
    fanned = with_per_broker_fanout(
        msgs, {"brokerA": ["/hfp/v2/journey/#", "/hfp/v2/journey/#"]}
    ).collect()
    assert len(fanned) == 1


def test_fanouts_normalize_the_topic_once_per_row(spark):
    """The trailing-slash normalization is projected once per row, not
    evaluated inside every filter's rlike under the explode."""
    from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
        with_per_broker_fanout,
    )
    from transitdata_monitor_data_collector_spark.plans.monitoring import (
        DASHBOARD_FILTERS,
        PER_BROKER_FILTERS,
    )

    msgs = spark.createDataFrame(
        [("tcp://mqtt.hsl.fi:1883", "/hfp/v2/journey/ongoing/vp/ferry/1019/")],
        "broker string, topic string",
    )

    def calls(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("regexp_replace"), plan.count("RLIKE")

    single = with_topic_filter_fanout(msgs, DASHBOARD_FILTERS)
    per_broker = with_per_broker_fanout(msgs, PER_BROKER_FILTERS)
    dropping = with_topic_filter_fanout(msgs, DASHBOARD_FILTERS, unknown=None)
    # one normalization and one rlike per filter, per row
    for df in (single, per_broker, dropping):
        assert calls(df) == (1, len(DASHBOARD_FILTERS))
        assert df.columns == ["broker", "topic", "topic_filter"]
    assert sorted(r.topic_filter for r in single.collect()) == [
        "/hfp/v2/journey/#",
        "/hfp/v2/journey/ongoing/+/ferry/#",
    ]
