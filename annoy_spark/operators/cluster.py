"""Connected components: cluster id = least node id of the component.

The clustering stage of the dedup pipeline (SURVEY.md §3.4). Annoy has no
clustering; this is the union-find the north rule adds on top of verified
duplicate edges. Two plans with the same rows, chosen per call:

- Up to DRIVER_EDGES_MAX edges are fetched to the driver in one bounded
  fetch and labelled by a numpy union-find (_component_min), as verify
  and the ANN index answer driver-sized batches. The (member, least id)
  edges it returns as a local relation are exactly the star loop's
  fixpoint, so driver memory is bounded by the edge count alone.
- Larger edge lists take the star loop (_star_loop): Kiveris et al.,
  "Connected Components in MapReduce and Beyond" (SOCC'14), alternating
  large-star / small-star, O(log n) rounds of two shuffles each (a
  groupBy-min and a join), no per-group materialization:

  - large-star: point every neighbor v > u at min(N(u) ∪ {u})
  - small-star: direct edges high->low, point every v in N(u) ∪ {u} at
    the min

Either way _labels adds the roots and the singletons of `nodes` on the
executors, so `nodes` never reaches the driver.

Skew notes (100 TB posture): the star loop's per-node aggregate is min()
— map-side combined, so a mega-hub costs one partial per task, not a
collected list. The join back is u-keyed; AQE skew-join splitting handles
hub keys. Each iteration localCheckpoints to cut lineage (the CC-loop
hazard in SURVEY §7.4).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType

from annoy_spark.driver_batch import fetch_bounded, local_relation

#: edges labelled on the driver; more take the star loop. Random edge
#: lists over half as many nodes, 4-core host: connected_components took
#: 5.0 s / 4 jobs on the driver against the star loop's 12.6 s / 50 at
#: 262k edges, 6.3 s / 4 against 21.7 s / 49 at 1M; the union-find alone
#: took 1.1 s with a 71 MB numpy peak (tracemalloc) at 1M edges and 6.4 s
#: / 284 MB at 4M. dedup_skewed's 26k edges take 0.01 s.
DRIVER_EDGES_MAX = 1_048_576


def _canonical(edges: DataFrame) -> DataFrame:
    """Direct every edge high -> low, drop loops and duplicates."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    bi = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bi.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        bi.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # input contract: edges already directed high -> low and loop-free
    # (_large_star emits (v, m) with v > u >= m); duplicates are tolerated —
    # min() ignores them and the caller's _canonical dedups the output — so
    # the old canonicalize-first pass (an extra distinct exchange per
    # iteration) is skipped (guide §2.4: remove shuffles outright).
    dir_ = edges
    mins = dir_.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        dir_.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return moved.union(self_edges)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _component_min(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """lab[i] = the least node of i's component, over nodes 0..n-1 joined
    by the edges (a[j], b[j]).

    Each round hooks both endpoints of every edge and their roots under
    the lesser of the two roots, then pointer-jumps until every label is
    a root. Hooking the roots, not only the endpoints, is what makes a
    long chain take O(log n) rounds rather than O(diameter)."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        m = np.minimum(la, lb)
        new = lab.copy()
        for side in (a, b, la, lb):
            np.minimum.at(new, side, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _driver_stars(edges: DataFrame) -> DataFrame | None:
    """The star loop's fixpoint, (u = member, v = least id of its
    component) for every member that is not that least id, computed on
    the driver as a local relation; None above DRIVER_EDGES_MAX edges or
    for non-integer ids.

    As in the star loop, an edge with a null endpoint or a self-loop
    drops out, and repeated or reversed edges change nothing."""
    schema = _canonical(edges).schema
    if not all(isinstance(f.dataType, IntegralType) for f in schema):
        return None
    table = fetch_bounded(edges.select("u", "v"), DRIVER_EDGES_MAX)
    if table is None:
        return None
    table = table.drop_null()
    u = table["u"].to_numpy().astype(np.int64, copy=False)
    v = table["v"].to_numpy().astype(np.int64, copy=False)
    ids = np.unique(np.r_[u, v])
    # node indices in id order: the least index is the least id
    lab = _component_min(
        np.searchsorted(ids, u), np.searchsorted(ids, v), len(ids)
    )
    member = np.flatnonzero(lab != np.arange(len(ids)))
    stars = pa.table({"u": ids[member], "v": ids[lab[member]]})
    return local_relation(edges.sparkSession, stars, schema)


def _star_loop(edges: DataFrame, max_iters: int) -> DataFrame:
    """The large-star / small-star fixpoint of ``edges``: one (member,
    least id) edge per component member other than the least id."""
    # lazy localCheckpoint: the checksum action right after materializes the
    # checkpoint in the SAME job, halving the actions per iteration (the
    # eager variant ran a materialize job plus a checksum job)
    e = _canonical(edges).localCheckpoint(eager=False)
    prev = _checksum(e)
    for _ in range(max_iters):
        e = _canonical(_small_star(_large_star(e))).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            return e
        prev = cur
    raise RuntimeError(f"connected_components: no fixpoint in {max_iters} iters")


def _labels(
    stars: DataFrame,
    nodes: DataFrame | None,
    node_col: str,
    cluster_col: str,
) -> DataFrame:
    """(node_col, cluster_col) from the fixpoint's (member, root) edges,
    plus each node of ``nodes`` that no edge reaches as its own
    cluster."""
    # Roots label themselves (the root->root loop was dropped as a self-edge).
    labels = (
        stars.select(F.col("u").alias(node_col), F.col("v").alias(cluster_col))
        .union(stars.select(F.col("v").alias(node_col), F.col("v").alias(cluster_col)))
        .distinct()
    )
    if nodes is not None:
        nodes = nodes.select(F.col(node_col).cast("long")).distinct()
        singletons = nodes.join(labels, node_col, "left_anti").select(
            F.col(node_col), F.col(node_col).alias(cluster_col)
        )
        labels = labels.unionByName(singletons)
    return labels


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iters: int = 50,
    node_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Cluster assignment: (node_col, cluster_col=min node id in component).

    `edges` must have columns u, v. `nodes` (optional, single column
    node_col) adds singleton components. Deterministic: output depends only
    on the edge *set*, never on partitioning or row order. Up to
    DRIVER_EDGES_MAX edges are joined by a driver union-find; larger edge
    lists by the Kiveris star loop, which raises after `max_iters`
    rounds without a fixpoint.
    """
    stars = _driver_stars(edges)
    if stars is None:
        stars = _star_loop(edges, max_iters)
    return _labels(stars, nodes, node_col, cluster_col)
