"""Connected components — FIXTURES.md F4 edge cases for BOTH algorithms
(mismo/cluster/test/test_connected_components.py:17-153)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mismo_spark import connected_components
from tests.conftest import get_clusters

ALGOS = ["naive", "star"]


def edges_df(spark, pairs):
    return spark.createDataFrame(
        pairs, "record_id_l long, record_id_r long"
    )


@pytest.mark.parametrize("algo", ALGOS)
def test_chain(spark, algo):
    links = edges_df(spark, [(0, 10), (1, 10), (1, 11), (2, 11), (2, 12), (9, 20)])
    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == {frozenset({0, 1, 2, 10, 11, 12}), frozenset({9, 20})}


@pytest.mark.parametrize("algo", ALGOS)
def test_hub(spark, algo):
    links = edges_df(spark, [(0, 10), (0, 11), (0, 12), (0, 13), (9, 20)])
    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == {frozenset({0, 10, 11, 12, 13}), frozenset({9, 20})}


@pytest.mark.parametrize("algo", ALGOS)
def test_empty_edges_records_only(spark, algo):
    links = edges_df(spark, [])
    records = spark.createDataFrame([(1,), (2,), (3,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({1}), frozenset({2}), frozenset({3})}


@pytest.mark.parametrize("algo", ALGOS)
def test_self_loop(spark, algo):
    links = edges_df(spark, [(42, 42)])
    records = spark.createDataFrame([(42,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({42})}


@pytest.mark.parametrize("algo", ALGOS)
def test_single_edge(spark, algo):
    got = get_clusters(connected_components(edges_df(spark, [(0, 1)]), algorithm=algo))
    assert got == {frozenset({0, 1})}


@pytest.mark.parametrize("algo", ALGOS)
def test_singleton_labeling(spark, algo):
    links = edges_df(spark, [(0, 1), (1, 2)])
    records = spark.createDataFrame([(0,), (1,), (2,), (3,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({0, 1, 2}), frozenset({3})}


@pytest.mark.parametrize("algo", ALGOS)
def test_string_ids(spark, algo):
    # ids are clustered as strings: each component is the smallest
    # STRING id of its cluster ("10" < "9" < "x"), not a numeric order
    links = spark.createDataFrame(
        [("c", "b"), ("b", "a"), ("y", "x"), ("9", "10"), ("q", "q")],
        "record_id_l string, record_id_r string",
    )
    out = connected_components(links, algorithm=algo)
    assert out.schema["record_id"].dataType.simpleString() == "string"
    assert out.schema["component"].dataType.simpleString() == "string"
    want = {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("10", "10"), ("9", "10"),
        ("q", "q"),  # a self-loop's endpoint is still emitted
    }
    assert sorted(tuple(r) for r in out.collect()) == sorted(want)

    records = spark.createDataFrame(
        [(i,) for i in ["a", "b", "c", "x", "y", "9", "10", "q", "lone"]],
        "record_id string",
    )
    out = connected_components(links, records, algorithm=algo)
    assert out.schema["component"].dataType.simpleString() == "string"
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        want | {("lone", "lone")}
    )


def test_max_iter_1_does_not_converge_naive(spark):
    # long chain cannot converge in one round of min-label propagation
    n = 8
    links = edges_df(spark, [(i, i + 1) for i in range(n)])
    got = get_clusters(connected_components(links, algorithm="naive", max_iter=1))
    assert got != {frozenset(range(n + 1))}


@pytest.mark.parametrize("algo", ALGOS)
def test_big_random_graph_matches_python_oracle(spark, algo):
    import random

    rng = random.Random(7)
    nodes = list(range(150))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(130)]
    links = edges_df(spark, edges)

    # python union-find oracle
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    touched = {n for e in edges for n in e}
    oracle: dict = {}
    for n in touched:
        oracle.setdefault(find(n), set()).add(n)
    want = {frozenset(v) for v in oracle.values()}

    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == want


def test_star_equals_naive_on_random_graph(spark):
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    links = edges_df(spark, edges)
    a = get_clusters(connected_components(links, algorithm="naive"))
    b = get_clusters(connected_components(links, algorithm="star"))
    assert a == b


@pytest.mark.parametrize("algo", ALGOS)
def test_parquet_checkpointing(spark, tmp_path, algo):
    links = edges_df(spark, [(0, 10), (1, 10), (9, 20)])
    got = get_clusters(
        connected_components(links, algorithm=algo, checkpoint_dir=str(tmp_path))
    )
    assert got == {frozenset({0, 1, 10}), frozenset({9, 20})}


def test_bcubed_hand_computed(spark):
    """Bagga & Baldwin's worked example shape: one merged cluster over
    two true classes."""
    from mismo_spark.cluster.metrics import bcubed_prf

    rows = [
        # predicted component 1 = true A(3 records) + true B(2 records)
        (1, 1, "A"), (2, 1, "A"), (3, 1, "A"), (4, 1, "B"), (5, 1, "B"),
        # component 2 = pure C
        (6, 2, "C"), (7, 2, "C"),
    ]
    df = spark.createDataFrame(rows, "record_id long, component long, label_true string")
    got = bcubed_prf(df)
    # precision: A-records 3/5, B-records 2/5, C-records 1
    p = (3 * (3 / 5) + 2 * (2 / 5) + 2 * 1.0) / 7
    # recall: every class fully contained in one cluster
    assert abs(got["precision"] - p) < 1e-12
    assert got["recall"] == 1.0
    assert got["n"] == 7.0


def test_bcubed_perfect_clustering(spark):
    from mismo_spark.cluster.metrics import bcubed_prf

    rows = [(i, i % 3, str(i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "record_id long, component long, label_true string")
    got = bcubed_prf(df)
    assert got["precision"] == 1.0 and got["recall"] == 1.0 and got["f1"] == 1.0
