"""Both connected-components plans on the same graphs: the driver
union-find (the default below DRIVER_EDGES_MAX edges) and the Kiveris star
loop (forced with DRIVER_EDGES_MAX = -1) must return the same rows."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import annoy_spark.operators.cluster as cluster
from annoy_spark.operators.cluster import connected_components

# name -> (edges, nodes, expected labels)
GRAPHS = {
    "two_components_and_chain": (
        [(1, 2), (2, 3), (10, 11)], None,
        {1: 1, 2: 1, 3: 1, 10: 10, 11: 10},
    ),
    "long_chain": (
        [(i, i + 1) for i in range(30)], None, {i: 0 for i in range(31)},
    ),
    "singletons_and_self_loops": (
        [(5, 5), (1, 2)], [1, 2, 5, 9], {1: 1, 2: 1, 5: 5, 9: 9},
    ),
    "duplicate_and_reversed": (
        [(2, 1), (1, 2), (2, 1), (3, 2)], None, {1: 1, 2: 1, 3: 1},
    ),
    "star_and_triangle": (
        [(100, 7), (100, 8), (100, 9), (7, 8)], None,
        {100: 7, 7: 7, 8: 7, 9: 7},
    ),
    "null_endpoints": (
        [(1, None), (None, 2), (None, None), (3, 4)], None, {3: 3, 4: 3},
    ),
    "null_endpoints_with_nodes": (
        [(1, None), (None, 2), (None, None), (3, 4)], [1, 2, 3, 4],
        {1: 1, 2: 2, 3: 3, 4: 3},
    ),
    "self_loop_only": ([(5, 5)], None, {}),
    "self_loop_only_with_nodes": ([(5, 5), (6, 6)], [5], {5: 5}),
    "empty": ([], None, {}),
    "empty_with_nodes": ([], [3, 1, 2], {1: 1, 2: 2, 3: 3}),
    "negative_and_wide_ids": (
        [(-(2**62), 2**62), (2**62, 7), (-1, -2)], [0],
        {-(2**62): -(2**62), 2**62: -(2**62), 7: -(2**62),
         -1: -2, -2: -2, 0: 0},
    ),
}


def _spy_star_loop(monkeypatch) -> list:
    """A list that gets one entry per star-loop call."""
    loops = []
    star_loop = cluster._star_loop

    def spy(*args, **kwargs):
        loops.append(1)
        return star_loop(*args, **kwargs)

    monkeypatch.setattr(cluster, "_star_loop", spy)
    return loops


def _both(spark, monkeypatch, edges, nodes=None, ddl="u long, v long"):
    """(driver rows, star-loop rows), each sorted, after asserting which
    plan answered each call; the two must also agree on the schema."""
    e = spark.createDataFrame(edges, ddl)
    n = (spark.createDataFrame([(x,) for x in nodes], "doc_id long")
         if nodes is not None else None)
    loops = _spy_star_loop(monkeypatch)
    driver = connected_components(e, n)
    driver_rows = sorted(driver.collect())
    assert not loops, "the driver union-find should answer"
    monkeypatch.setattr(cluster, "DRIVER_EDGES_MAX", -1)
    star = connected_components(e, n)
    star_rows = sorted(star.collect())
    assert loops, "the star loop should answer"
    assert driver.schema == star.schema
    return driver_rows, star_rows


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_hand_drawn_graphs_on_both_paths(spark, monkeypatch, name):
    edges, nodes, want = GRAPHS[name]
    driver, star = _both(spark, monkeypatch, edges, nodes)
    assert driver == star
    assert {r.doc_id: r.cluster_id for r in driver} == want
    assert len(driver) == len(want)  # one row per node


def test_random_graph_on_both_paths(spark, monkeypatch):
    rng = np.random.default_rng(7)
    ids = rng.integers(-(2**40), 2**40, 600)
    a, b = rng.integers(0, len(ids), (2, 500))
    edges = [(int(ids[i]), int(ids[j])) for i, j in zip(a, b)]
    edges += edges[:50] + [(v, u) for u, v in edges[50:100]]
    nodes = [int(x) for x in ids[::3]]
    driver, star = _both(spark, monkeypatch, edges, nodes)
    assert driver == star
    assert len({r.cluster_id for r in driver}) > 10  # not one blob


def test_multiplicative_graph_on_both_paths(spark, monkeypatch):
    """test_cluster.py's partitioning graph: i -> 7i mod 50."""
    edges = [(i, (i * 7) % 50) for i in range(50) if i != (i * 7) % 50]
    driver, star = _both(spark, monkeypatch, edges)
    assert driver == star


def test_int_ids_keep_their_type_on_both_paths(spark, monkeypatch):
    edges = [(3, 1), (2, 3), (9, 8), (4, 4)]
    driver, star = _both(spark, monkeypatch, edges, ddl="u int, v int")
    assert driver == star
    assert {r.doc_id: r.cluster_id for r in driver} == {
        1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def _shuffled_chain(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    ids = np.random.default_rng(seed).permutation(n).astype(np.int64)
    return ids[:-1], ids[1:]


def test_union_find_long_chain_is_not_diameter_bound():
    """A 100k-node path with shuffled ids: propagating minima along the
    edges alone needs a round per hop; hooking roots and pointer-jumping
    takes a few rounds (about 0.1 s on a 4-core host)."""
    u, v = _shuffled_chain(100_000, seed=3)
    t0 = time.perf_counter()
    lab = cluster._component_min(u, v, 100_000)
    assert time.perf_counter() - t0 < 10.0
    assert (lab == 0).all()


def test_long_chain_on_the_driver_path(spark, monkeypatch):
    u, v = _shuffled_chain(100_000, seed=5)
    e = spark.createDataFrame(pd.DataFrame({"u": u + 10, "v": v + 10}))
    monkeypatch.setattr(
        cluster, "_star_loop",
        lambda *a, **k: pytest.fail("the driver union-find should answer"),
    )
    row = connected_components(e).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("c"),
    ).first()
    assert (row.n, row.k, row.c) == (100_000, 1, 10)


def test_over_the_bound_takes_the_star_loop(spark, monkeypatch):
    """One edge past the bound: the bounded fetch declines and the star
    loop answers with the same rows."""
    edges = [(1, 2), (2, 3), (7, 8)]
    e = spark.createDataFrame(edges, "u long, v long")
    want = sorted(connected_components(e).collect())
    monkeypatch.setattr(cluster, "DRIVER_EDGES_MAX", len(edges) - 1)
    loops = _spy_star_loop(monkeypatch)
    assert sorted(connected_components(e).collect()) == want
    assert loops


def test_string_ids_take_the_star_loop(spark, monkeypatch):
    e = spark.createDataFrame([("b", "a"), ("c", "b"), ("y", "x")],
                              "u string, v string")
    loops = _spy_star_loop(monkeypatch)
    got = {r.doc_id: r.cluster_id for r in connected_components(e).collect()}
    assert loops
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
