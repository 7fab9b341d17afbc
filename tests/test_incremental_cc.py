"""incremental_components == connected_components on the union graph."""

from __future__ import annotations

import random

from mismo_spark.cluster.cc import connected_components
from mismo_spark.cluster.incremental import incremental_components


def _edges(spark, pairs):
    return spark.createDataFrame(
        pairs, "record_id_l long, record_id_r long"
    )


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "record_id long")


def _assign(df):
    return {r["record_id"]: r["component"] for r in df.collect()}


def test_incremental_equals_full_recompute_randomized(spark):
    rng = random.Random(7)
    n_old, n_new = 40, 12
    old_edges = [
        (a, b)
        for a in range(n_old)
        for b in rng.sample(range(n_old), 2)
        if rng.random() < 0.15 and a != b
    ]
    new_ids = list(range(100, 100 + n_new))
    # new edges: new-new, new-old, old-old (component-merging) mixes
    new_edges = (
        [(rng.choice(new_ids), rng.choice(new_ids)) for _ in range(6)]
        + [(rng.choice(new_ids), rng.choice(range(n_old))) for _ in range(6)]
        + [(rng.choice(range(n_old)), rng.choice(range(n_old))) for _ in range(4)]
    )
    new_edges = [(a, b) for a, b in new_edges if a != b]

    old = connected_components(
        _edges(spark, old_edges), _ids(spark, range(n_old))
    )
    inc = incremental_components(
        old, _edges(spark, new_edges), _ids(spark, new_ids)
    )
    full = connected_components(
        _edges(spark, old_edges + new_edges),
        _ids(spark, list(range(n_old)) + new_ids),
    )
    assert _assign(inc) == _assign(full)


def test_incremental_untouched_components_pass_through(spark):
    old_edges = [(0, 1), (2, 3), (4, 5)]
    old = connected_components(_edges(spark, old_edges), _ids(spark, range(6)))
    # one new edge merges {0,1} with {2,3}; {4,5} must be untouched
    inc = incremental_components(old, _edges(spark, [(1, 2)]))
    got = _assign(inc)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_incremental_pure_new_batch(spark):
    old = connected_components(_edges(spark, [(0, 1)]), _ids(spark, range(2)))
    inc = incremental_components(
        old, _edges(spark, [(10, 11)]), _ids(spark, [10, 11, 12])
    )
    assert _assign(inc) == {0: 0, 1: 0, 10: 10, 11: 10, 12: 12}


def test_incremental_string_ids_equal_full_recompute(spark):
    def edges(pairs):
        return spark.createDataFrame(pairs, "record_id_l string, record_id_r string")

    def ids(xs):
        return spark.createDataFrame([(i,) for i in xs], "record_id string")

    old_ids = ["u/a", "u/b", "u/c", "u/d", "u/e", "u/f"]
    old_edges = [("u/b", "u/a"), ("u/d", "u/c"), ("u/f", "u/e")]
    new_ids = ["n/1", "n/2", "z/3"]
    # merges {a,b} with {c,d}; n/2 joins {e,f}; z/3 stays alone
    new_edges = [("u/c", "u/b"), ("n/1", "u/d"), ("u/f", "n/2")]

    old = connected_components(edges(old_edges), ids(old_ids))
    inc = incremental_components(old, edges(new_edges), ids(new_ids))
    full = connected_components(edges(old_edges + new_edges), ids(old_ids + new_ids))
    # row for row, selected by name: incremental_components emits its
    # columns in a different order
    def rows(df):
        return sorted(tuple(r) for r in df.select("record_id", "component").collect())

    assert rows(inc) == rows(full)
    assert inc.schema["component"].dataType.simpleString() == "string"
    assert _assign(inc) == {
        "u/a": "n/1", "u/b": "n/1", "u/c": "n/1", "u/d": "n/1", "n/1": "n/1",
        "u/e": "n/2", "u/f": "n/2", "n/2": "n/2",
        "z/3": "z/3",
    }
