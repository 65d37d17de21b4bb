"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

from perfbench import loadgen, measure, oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- load generator ---------------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    a, b = loadgen.make_corpus(5, 2_000), loadgen.make_corpus(5, 2_000)
    assert a.lines == b.lines and a.counters == b.counters
    assert loadgen.make_corpus(6, 2_000).lines != a.lines


def test_batch_tables_are_a_function_of_the_data_seed():
    assert loadgen.events_table(300).equals(loadgen.events_table(300))
    assert loadgen.documents_table(60).equals(loadgen.documents_table(60))
    assert not loadgen.events_table(300).equals(loadgen.events_table(300, seed=7))


def test_corpus_shape():
    c = loadgen.make_corpus(1, 20_000)
    recs = [json.loads(x) for x in c.lines]
    msgs = [r for r in recs if r["topic"] != loadgen.CONNECTION_TOPIC]
    hot = sum("/7280/" in r["topic"] for r in msgs) / len(msgs)
    assert abs(hot - loadgen.HOT_SHARE) < 0.02
    # out-of-order events exist, and none is late for the 2-minute watermark
    seen_max, disordered = None, 0
    for r in recs:
        ts = datetime.fromisoformat(r["ts"])
        if seen_max is not None:
            assert ts > seen_max - timedelta(seconds=loadgen.WATERMARK_S)
            disordered += ts < seen_max
        seen_max = ts if seen_max is None else max(seen_max, ts)
    assert abs(disordered / len(msgs) - loadgen.OUT_OF_ORDER_SHARE) < 0.02
    assert {r["broker"] for r in msgs} == set(loadgen.BROKERS)


def test_topic_matches():
    m = loadgen.topic_matches
    assert m("/hfp/v2/journey/ongoing/vp/bus/1/2/7280/1",
             "/hfp/v2/journey/ongoing/+/+/+/+/7280/#")
    assert m("a/b", "a/b/#")  # '#' also matches zero levels
    assert not m("a/b/c", "a/+")
    assert not m("hfp/v2", "/hfp/#")  # a leading '/' is an empty level
    assert m("gtfsrt/v2/fi/hsl/tu", "gtfsrt/v2/fi/hsl/tu")


def _rec(broker, topic, second, payload=None):
    ts = (loadgen.CORPUS_START + timedelta(seconds=second)).isoformat()
    r = {"broker": broker, "topic": topic, "ts": ts}
    if payload:
        r["payload"] = payload
    return r


def test_expected_counts_with_out_of_order_events():
    brokers = {"A": ("x/#", "x/hot"), "B": ("y",)}
    recs = [
        _rec("A", "$connection", 0, "connect"),
        _rec("A", "x/hot", 10),    # window 0, two filters
        _rec("B", "x/hot", 20),    # broker B has no x filter: unknown
        _rec("A", "x/cold", 70),   # window 1
        _rec("B", "y", 65),        # out of order, still window 1
        _rec("A", "x/cold", 59),   # out of order back into window 0
        _rec("A", "$connection", 100, "connection_lost"),
        _rec("A", "$connection", 101, "connect"),
        _rec("B", "y", 250),       # its window stays open
    ]
    c = loadgen.expected_counts(recs, brokers)
    assert c.readers == 2 and c.messages == 6
    assert c.counters == {("A", "x/#"): 6, ("A", "x/hot"): 2,
                          ("B", "unknown"): 2, ("B", "y"): 4}
    # final watermark = 250 s - 120 s = 130 s: windows [0, 60) and [60, 120)
    # are closed, [240, 300) is not
    w0, w1 = "2024-01-01T00:00:00", "2024-01-01T00:01:00"
    assert c.rate_rows == {
        (w0, "A", "x/#"): 4, (w0, "A", "x/hot"): 2, (w0, "B", "unknown"): 2,
        (w1, "A", "x/#"): 2, (w1, "B", "y"): 2,
    }
    assert c.closed_messages == 5
    assert c.connection == {"A": (1, 2)}


def test_connect_ties_break_by_event_name():
    # the engine takes the latest (ts, event): "connection_lost" sorts
    # after "connect" at the same instant
    brokers = {"A": ("x",)}
    c = loadgen.expected_counts([
        _rec("A", "$connection", 5, "connect"),
        _rec("A", "$connection", 5, "connection_lost"),
        _rec("A", "x", 6),
    ], brokers)
    assert c.connection == {"A": (0, 1)}


# -- statistics and spans ---------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(100))
    random.Random(0).shuffle(xs)
    assert measure.tail(xs) == (89.0, 90.0, 100)
    assert measure.tail(range(20)) == (9.0, 50.0, 20)
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: the max
    assert measure.p50([3, 1, 2, 10]) == 2.5


def test_self_time_subtracts_the_union_of_children():
    assert measure.union_length([(1, 3), (2, 4), (6, 7), (5, 5)]) == 4
    # children overlap each other and one sticks out of the span
    assert measure.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 5
    assert measure.self_time(0, 10, []) == 10
    assert measure.self_time(0, 10, [(-5, 20)]) == 0
    assert measure.self_time(0, 10, [(11, 12)]) == 10


def test_cpu_shares():
    before = [100, 0, 50, 800, 50, 0, 0, 0]
    after = [200, 0, 100, 900, 50, 0, 0, 50]
    shares = measure.cpu_shares(before, after)
    # deltas: user 100, system 50, idle 100, steal 50 -> 300 jiffies
    assert shares == {"steal_share": 50 / 300, "busy_share": 200 / 300}


def test_tracer_parents_and_patches():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    tr = measure.Tracer()
    tr.patch(Owner, "work", "layer.work")
    with tr.span("outer") as outer:
        assert Owner.work(1) == 2
    tr.restore()
    assert Owner.work(1) == 2 and not tr.named("layer.work")[1:]
    inner, = tr.named("layer.work")
    top, = tr.named("outer")
    assert inner["parent"] == outer and inner["trace"] == top["trace"] == outer
    assert top["start"] <= inner["start"] <= inner["end"] <= top["end"]


# -- output digests ---------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    rows = [(1, 0.1 + 0.2, datetime(2024, 1, 1)), (2, 0.5, datetime(2024, 1, 2))]
    a = oracle.digest(["k", "v", "t"], rows)
    b = oracle.digest(["t", "k", "v"], [(r[2], r[0], 0.3 if r[0] == 1 else r[1])
                                        for r in reversed(rows)])
    assert a == b and a.startswith("2:")
    assert oracle.digest(["k", "v", "t"], rows[:1]) != a
    # a struct as a dict (DuckDB, Arrow) equals the same fields in any order
    assert oracle.digest(["s"], [({"a": 1, "b": 2.0},)]) == oracle.digest(
        ["s"], [({"b": 2.0, "a": 1},)])


def test_stored_oracle_covers_every_checked_query():
    from perfbench.workloads import DEDUP, PANELS

    assert set(PANELS + DEDUP) == set(oracle.load())


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_spec_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert "setup_s" in bounds
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
