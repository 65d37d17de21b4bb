"""Connected components (operators/components.py) and the dedup-cluster
pipeline built on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transitdata_monitor_data_collector_spark.operators.components import (
    connected_components,
)
from transitdata_monitor_data_collector_spark.operators.dedup import dedup_clusters


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_chain_collapses_transitively(spark):
    # 1-2, 2-3, 3-4 never pair (1,4) directly; one component anyway
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = _labels(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_nodes_frame_adds_singletons(spark):
    edges = spark.createDataFrame([(2, 5)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (5,), (9,)], "id long")
    got = _labels(connected_components(edges, nodes=nodes))
    assert got == {1: 1, 2: 2, 5: 2, 9: 9}


def test_edge_direction_is_irrelevant(spark):
    fwd = spark.createDataFrame([(7, 3), (3, 9)], "src long, dst long")
    rev = spark.createDataFrame([(3, 7), (9, 3)], "src long, dst long")
    assert _labels(connected_components(fwd)) == _labels(
        connected_components(rev)
    ) == {3: 3, 7: 3, 9: 3}


def test_long_chain_within_round_budget(spark):
    # a 20-node path needs ~19 propagation rounds; max_iter=25 must cover
    # it. driver_max_edges=0 pins the DISTRIBUTED path — the driver
    # union-find shortcut would otherwise absorb a fixture this small.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    got = _labels(connected_components(edges, driver_max_edges=0))
    assert set(got.values()) == {0} and len(got) == 21


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, driver_max_edges=0)


def test_driver_shortcut_matches_distributed_path(spark):
    # r11 optimization: small edge sets collapse via exact union-find on
    # the driver (one collect) instead of O(diameter) BSP join rounds.
    # The gate must be output-invisible: identical labels both ways, on a
    # shape that mixes chains, a cycle, singleton nodes, and reversed
    # edges.
    edges = spark.createDataFrame(
        [(5, 2), (2, 9), (9, 5), (3, 4), (12, 11), (20, 4)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 22)], "id long")
    fast = _labels(connected_components(edges, nodes=nodes))
    slow = _labels(
        connected_components(edges, nodes=nodes, driver_max_edges=0)
    )
    assert fast == slow
    assert fast[5] == fast[2] == fast[9] == 2
    assert fast[3] == fast[4] == fast[20] == 3
    assert fast[1] == 1 and fast[21] == 21


def test_dedup_clusters_covers_every_doc_and_respects_pairs(spark, sf_dir):
    from transitdata_monitor_data_collector_spark.operators.dedup import (
        minhash_lsh_neardup_pairs,
    )
    from transitdata_monitor_data_collector_spark.plans import table

    docs = table(spark, sf_dir, "documents")
    out = dedup_clusters(docs, threshold=0.5).collect()
    assert len(out) == docs.count()
    label = {r["doc_id"]: r["cluster_id"] for r in out}
    # every verified near-dup pair lands in the same cluster
    for p in minhash_lsh_neardup_pairs(docs, threshold=0.5).collect():
        assert label[p["doc_a"]] == label[p["doc_b"]]
    # cluster id is a member of its own cluster and the minimum of it
    for doc, c in label.items():
        assert label[c] == c and c <= doc
    # survivor flag == (doc is the representative)
    for r in out:
        assert r["is_kept"] == (r["doc_id"] == r["cluster_id"])


def test_nodes_subset_never_relays_through_non_vertex(spark):
    # r11 ADVICE (medium): an edge endpoint absent from ``nodes`` must
    # not carry connectivity (or donate its id as a label) in EITHER
    # path. Here 1-99-7 relays only through non-vertex 99: the BSP
    # rounds never let 99 hold a label, so 1 and 7 stay separate — the
    # driver union-find must agree (it would otherwise merge them and
    # emit min id 1 for 7).
    edges = spark.createDataFrame(
        [(1, 99), (99, 7), (3, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (3,), (4,), (7,)], "id long")
    fast = _labels(connected_components(edges, nodes=nodes))
    slow = _labels(
        connected_components(edges, nodes=nodes, driver_max_edges=0)
    )
    assert fast == slow == {1: 1, 3: 3, 4: 3, 7: 7}


def test_null_endpoint_edges_ignored_both_paths(spark):
    # r11 ADVICE (low): null-endpoint edges are dropped identically on
    # both paths (the BSP join ignores them; the driver union-find would
    # crash on None-vs-int comparison without the filter).
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 9), (None, None)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    fast = _labels(connected_components(edges, nodes=nodes))
    slow = _labels(
        connected_components(edges, nodes=nodes, driver_max_edges=0)
    )
    assert fast == slow == {1: 1, 2: 1, 9: 9}
    # without a nodes frame, null never appears as a vertex either way
    fast2 = _labels(connected_components(edges))
    slow2 = _labels(connected_components(edges, driver_max_edges=0))
    assert fast2 == slow2 == {1: 1, 2: 1}


@pytest.mark.parametrize(
    "edge_rows, node_ids, expected",
    [
        ([], [1, 2, 3], {1: 1, 2: 2, 3: 3}),
        ([], None, {}),
        ([(7, 4)], None, {4: 4, 7: 4}),
    ],
    ids=["no_edges_with_nodes", "no_edges_no_nodes", "single_edge"],
)
def test_no_edges_all_singletons(spark, edge_rows, node_ids, expected):
    # degenerate inputs: the driver union-find fast path must give the
    # distributed rounds' labels
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    nodes = (
        None
        if node_ids is None
        else spark.createDataFrame([(i,) for i in node_ids], "id long")
    )
    fast = _labels(connected_components(edges, nodes=nodes))
    slow = _labels(connected_components(edges, nodes=nodes, driver_max_edges=0))
    assert fast == slow == expected
