"""Annoy's actual index structure, Spark-first: a forest of recursive
two-means split trees (random-projection trees).

Reference semantics re-expressed:

- ``two_means`` (/root/reference/src/annoylib.h:363-403): streaming
  weighted 2-means over sampled points — two random seeds p, q; 200
  iterations each pulling one random point toward the closer centroid
  with 1/(count+1) step weighting.
- ``create_split`` (annoylib.h:503-510 angular, 849-891 euclidean):
  split plane normal = p - q (unit-normalized for angular); offset 0 for
  angular, -<normal, (p+q)/2> for euclidean (annoy's ``n->a``); side =
  margin > 0 (annoylib.h:487-501).
- ``_make_tree`` (annoylib.h:1344-1445): recurse until a node holds
  <= _K items; when a plane cannot split (imbalance > 0.95 after
  retries), annoy sends items to random sides (annoylib.h:1407-1425) —
  here the fallback is a seeded random Gaussian hyperplane, which routes
  the FULL relation consistently (random sides for build-time items
  would leave query routing undefined in a broadcast-tree design).
- forest traversal (annoylib.h:1447-1480): every row is routed down
  every tree with vectorized level-synchronous gathers (one einsum-free
  gather + dot per level per batch — no per-row Python); candidates =
  rows sharing a (tree, leaf) key in >= 1 tree, exact re-rank decides
  (annoylib.h:1492-1494). ``spill_eps`` is the search_k analog: a query
  descends BOTH children where |margin| <= spill_eps, widening the
  candidate set exactly like annoy's priority-queue visiting more leaves.

Scale shape: trees are built from a BOUNDED driver-side sample (annoy's
two_means is itself sampled; the tree is a coarse router, not the data
structure holding the rows) and broadcast inside the routing UDF closure —
a few hundred KB for 32 trees at dim 64. Items never leave the executors:
routing is one Arrow-batched pandas UDF pass, candidates come from a
(tree, leaf) equi-join whose reducers are bounded by the one salting
helper every ANN join uses (``sources.ann_index._salted``; a degenerate
dump of identical vectors routes to one leaf per tree; the salt caps the
self-join at O(g * cap) — annoy's imbalance fallback,
annoylib.h:1337-1425).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from annoy_spark.operators.knn import collect_training_sample

_TWO_MEANS_ITERS = 200  # annoylib.h:366 (iteration_steps)
_IMBALANCE_RETRIES = 3  # annoylib.h:1387 (attempt loop)
_IMBALANCE_FRAC = 0.95  # annoylib.h:1385 (_split_imbalance threshold)


@dataclass(frozen=True)
class Tree:
    """Flat node arrays; node 0 is the root. children[n] = (-1, -1) marks
    a leaf; leaf key = node index. Mirrors annoy's flat ``_nodes`` array +
    implicit child indices (annoylib.h:950-964)."""

    normals: np.ndarray  # (n_nodes, dim) float64
    offsets: np.ndarray  # (n_nodes,) float64
    children: np.ndarray  # (n_nodes, 2) int64, margin>0 -> children[:, 1]


def _ang_dist(a: np.ndarray, b: np.ndarray) -> float:
    """Angular::distance (annoylib.h:475-485): 2 - 2*cos, scale-invariant
    in both arguments (so the un-renormalized running centroid compares
    exactly as the reference's does)."""
    ppqq = float((a @ a) * (b @ b))
    if ppqq > 0.0:
        return 2.0 - 2.0 * float(a @ b) / np.sqrt(ppqq)
    return 2.0


def _two_means(x: np.ndarray, rng: np.random.Generator, metric: str):
    """annoylib.h:363-403: streaming weighted 2-means -> (p, q) centroids.

    Faithful to the reference: centroids are weighted running means that
    are NEVER re-normalized (for angular, each folded point is
    unit-scaled via update_mean's norm argument, annoylib.h:392-398, but
    p/q themselves drift inside the unit ball); on a distance tie
    (di == dj) NEITHER centroid updates (strict di<dj / dj<di branches,
    annoylib.h:392-399); zero-norm points are skipped (annoylib.h:389-391).
    The comparison distance is the METRIC's own (Distance::distance):
    2-2cos for angular, squared L2 for euclidean, L1 for manhattan
    (annoylib.h:871-880 manhattan_distance).
    """
    angular = metric == "angular"
    n = len(x)
    i = int(rng.integers(n))
    j = int(rng.integers(n - 1))
    j += j >= i
    p, q = x[i].astype(np.float64).copy(), x[j].astype(np.float64).copy()
    if angular:
        p /= max(np.linalg.norm(p), 1e-30)
        q /= max(np.linalg.norm(q), 1e-30)
    ic, jc = 1.0, 1.0
    ks = rng.integers(0, n, _TWO_MEANS_ITERS)
    for k in ks:
        z = x[k].astype(np.float64)
        if angular:
            nz = np.linalg.norm(z)
            if nz < 1e-30:
                continue
            di = ic * _ang_dist(p, z)
            dj = jc * _ang_dist(q, z)
            z = z / nz  # update_mean folds the unit-scaled point
        elif metric == "manhattan":
            di = ic * float(np.abs(p - z).sum())
            dj = jc * float(np.abs(q - z).sum())
        else:
            di = ic * float(((p - z) ** 2).sum())
            dj = jc * float(((q - z) ** 2).sum())
        if di < dj:
            p = (p * ic + z) / (ic + 1.0)
            ic += 1.0
        elif dj < di:
            q = (q * jc + z) / (jc + 1.0)
            jc += 1.0
    return p, q


def _split_plane(x, rng, metric: str):
    """create_split (annoylib.h:503-510, 849-891) -> (normal, offset).

    All float metrics normalize the split normal (Base::normalize is
    called in Angular AND Euclidean/Manhattan create_split,
    annoylib.h:510, 856-857); the euclidean/manhattan offset is computed
    with the NORMALIZED normal (annoylib.h:858-860 — Manhattan inherits
    Minkowski's create_split, only two_means' comparison distance
    differs)."""
    angular = metric == "angular"
    p, q = _two_means(x, rng, metric)
    normal = p - q
    nn = np.linalg.norm(normal)
    if nn < 1e-30:
        return None  # degenerate (p == q): caller falls back
    normal = normal / nn
    if angular:
        offset = 0.0  # annoylib.h:509 (n->a implicit 0 for Angular)
    else:
        offset = float(-normal @ ((p + q) / 2.0))  # annoylib.h:858-860
    return normal, offset


def build_tree(
    sample: np.ndarray,
    seed: int,
    leaf_cap: int,
    metric: str = "angular",
    max_depth: int = 30,
) -> Tree:
    """One annoy tree over a bounded sample: recursive two_means splits
    (_make_tree, annoylib.h:1344-1445), iterative worklist instead of
    recursion. leaf_cap is annoy's _K (items per leaf — here sample rows;
    the downstream bucket salt enforces the hard cost cap on full data)."""
    rng = np.random.default_rng([seed, 0xF0E])
    dim = sample.shape[1]
    normals, offsets, children = [], [], []
    work = [(np.arange(len(sample)), 0, None)]  # (idx, depth, parent_slot)

    def new_node() -> int:
        normals.append(np.zeros(dim))
        offsets.append(0.0)
        children.append([-1, -1])
        return len(children) - 1

    while work:
        idx, depth, slot = work.pop()
        node = new_node()
        if slot is not None:
            parent, side = slot
            children[parent][side] = node
        if len(idx) <= leaf_cap or depth >= max_depth:
            continue  # leaf
        x = sample[idx]
        plane = None
        for _ in range(_IMBALANCE_RETRIES):
            cand = _split_plane(x, rng, metric)
            if cand is None:
                continue
            margins = x @ cand[0] + cand[1]
            right = margins > 0
            frac = max(right.mean(), 1.0 - right.mean())
            if frac <= _IMBALANCE_FRAC:
                plane, right_mask = cand, right
                break
        if plane is None:
            # annoy's random-side fallback (annoylib.h:1407-1425), as a
            # seeded random hyperplane so full-relation routing is defined
            normal = rng.standard_normal(dim)
            normal /= max(np.linalg.norm(normal), 1e-30)
            margins = x @ normal
            offset = float(-np.median(margins))  # balance the sample
            plane = (normal, offset)
            right_mask = margins + offset > 0
            if right_mask.all() or not right_mask.any():
                continue  # identical vectors: leaf; salt caps downstream
        normals[node], offsets[node] = plane
        # push right first so left is processed next (stable ordering)
        work.append((idx[right_mask], depth + 1, (node, 1)))
        work.append((idx[~right_mask], depth + 1, (node, 0)))

    return Tree(
        normals=np.asarray(normals, dtype=np.float64),
        offsets=np.asarray(offsets, dtype=np.float64),
        children=np.asarray(children, dtype=np.int64),
    )


@dataclass(frozen=True)
class HammingTree:
    """Axis-aligned bit-split tree over packed int64 signatures — annoy's
    Hamming create_split (annoylib.h:758-792): each node splits on ONE bit
    position; side = that bit's value (margin, annoylib.h:744-752,
    MSB-first within each word)."""

    bits: np.ndarray      # (n_nodes,) int64 split-bit position, -1 = leaf
    children: np.ndarray  # (n_nodes, 2) int64; bit set -> children[:, 1]


_HAMMING_SPLIT_TRIES = 20  # annoylib.h:714 (max_iterations)


def _bit_side(words: np.ndarray, pos: int) -> np.ndarray:
    """bool mask: is bit `pos` set (MSB-first per 64-bit word —
    annoylib.h:744-752 margin)."""
    chunk, off = pos // 64, 63 - (pos % 64)
    return (words[:, chunk].view(np.uint64) >> np.uint64(off)) & np.uint64(
        1
    ) == 1


def build_hamming_tree(
    sample: np.ndarray,
    seed: int,
    leaf_cap: int,
    max_depth: int = 40,
) -> HammingTree:
    """One hamming tree over a bounded sample of packed int64 signatures:
    create_split tries up to 20 RANDOM bit positions for a non-trivial
    split, then brute-force scans all bits (annoylib.h:759-792); a node
    whose items are identical becomes a leaf (the downstream bucket salt
    enforces the hard cost cap, as for the float trees)."""
    rng = np.random.default_rng([seed, 0x4AB])
    dim = sample.shape[1] * 64
    bits, children = [], []
    work = [(np.arange(len(sample)), 0, None)]

    def new_node() -> int:
        bits.append(-1)
        children.append([-1, -1])
        return len(children) - 1

    while work:
        idx, depth, slot = work.pop()
        node = new_node()
        if slot is not None:
            parent, side = slot
            children[parent][side] = node
        if len(idx) <= leaf_cap or depth >= max_depth:
            continue
        x = sample[idx]
        pos, right = -1, None
        for _ in range(_HAMMING_SPLIT_TRIES):
            cand = int(rng.integers(dim))
            side_mask = _bit_side(x, cand)
            if side_mask.any() and not side_mask.all():
                pos, right = cand, side_mask
                break
        if right is None:
            for cand in range(dim):  # brute-force scan (annoylib.h:778-791)
                side_mask = _bit_side(x, cand)
                if side_mask.any() and not side_mask.all():
                    pos, right = cand, side_mask
                    break
        if right is None:
            continue  # all signatures identical: leaf
        bits[node] = pos
        work.append((idx[right], depth + 1, (node, 1)))
        work.append((idx[~right], depth + 1, (node, 0)))

    return HammingTree(
        bits=np.asarray(bits, dtype=np.int64),
        children=np.asarray(children, dtype=np.int64),
    )


def _subtree_heights(children: np.ndarray) -> np.ndarray:
    """Height of each node's subtree (leaf = 0). Children always carry a
    larger index than their parent (build appends child nodes after the
    parent), so one reverse pass suffices."""
    h = np.zeros(len(children), dtype=np.int64)
    for i in range(len(children) - 1, -1, -1):
        l, r = children[i]
        if l >= 0:
            h[i] = 1 + max(h[l], h[r])
    return h


def _per_row_keys(acc_rows, acc_keys, n: int) -> list[np.ndarray]:
    """Flat (row, key) pairs -> each row's sorted, distinct keys (spill
    revisits can reach one leaf twice)."""
    ar = np.concatenate(acc_rows)
    ak = np.concatenate(acc_keys)
    order = np.lexsort((ak, ar))
    ar, ak = ar[order], ak[order]
    keep = np.ones(len(ar), dtype=bool)
    keep[1:] = (ar[1:] != ar[:-1]) | (ak[1:] != ak[:-1])
    ar, ak = ar[keep], ak[keep]
    return np.split(ak, np.searchsorted(ar, np.arange(1, n)))


def hamming_forest_leaves(trees: list[HammingTree], spill_levels: int = 0):
    """Kernel: (n, words) packed int64 signatures -> each row's leaf keys
    (>=1 per tree).

    Level-synchronous vectorized bit tests (margin, annoylib.h:744-752).
    A hamming margin is a bit, not a distance to a plane, so spill_eps has
    no direct analog — the search_k-style query-time widening
    (annoylib.h:745-756 margin/side feeding the :1447-1480 priority-queue
    traversal, which DOES widen hamming searches) is ``spill_levels``:
    descend BOTH children at every split whose subtree height is
    <= spill_levels, i.e. probe all <= 2^d leaves of the bottom d levels.
    Query-side only; the stored assignments are untouched, so one stored
    index serves every accuracy budget."""
    packed = [
        (t.bits, t.children, _subtree_heights(t.children), ti)
        for ti, t in enumerate(trees)
    ]
    stride = 1 + max(len(t.children) for t in trees)

    def leaves(mat: np.ndarray) -> list[np.ndarray]:
        umat = mat.view(np.uint64)
        n = len(mat)
        acc_rows, acc_keys = [], []  # flat (row, key) pairs, vectorized
        for bits, children, heights, ti in packed:
            rows = np.arange(n)
            cur = np.zeros(n, dtype=np.int64)
            while len(rows):
                is_leaf = bits[cur] < 0
                if is_leaf.any():
                    acc_rows.append(rows[is_leaf])
                    acc_keys.append(ti * stride + cur[is_leaf])
                rows, cur = rows[~is_leaf], cur[~is_leaf]
                if not len(rows):
                    break
                pos = bits[cur]
                chunk, off = pos // 64, (63 - (pos % 64)).astype(np.uint64)
                side = (
                    (umat[rows, chunk] >> off) & np.uint64(1)
                ).astype(np.int64)
                nxt = children[cur, side]
                if spill_levels > 0:
                    both = heights[cur] <= spill_levels
                    other = children[cur, 1 - side][both]
                    rows = np.concatenate([rows, rows[both]])
                    cur = np.concatenate([nxt, other])
                else:
                    cur = nxt
        return _per_row_keys(acc_rows, acc_keys, n)

    return leaves


def build_forest(
    items: DataFrame,
    n_trees: int = 8,
    leaf_cap: int = 32,
    seed: int = 42,
    metric: str = "angular",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_sample: int = 50_000,
    sample_fraction: float = 0.2,
) -> list:
    """n_trees independent two_means trees from one bounded driver sample
    (annoy builds each tree over all items — annoylib.h:1037-1078; a
    router tree only needs a representative sample, and each tree draws
    its own seed stream so the forest stays decorrelated).

    Sample MEMBERSHIP and ORDER are both deterministic (seeded-hash top-k,
    sorted by id — see collect_training_sample): set_seed determinism
    (annoylib.h:1256-1262) demands bit-identical forests per seed even
    when the corpus exceeds max_sample."""
    x = collect_training_sample(
        items, id_col, vec_col, seed, max_sample, sample_fraction,
        as_longs=(metric == "hamming"),
    )
    if metric == "hamming":
        return [
            build_hamming_tree(x, seed=seed * 10_007 + t, leaf_cap=leaf_cap)
            for t in range(n_trees)
        ]
    if metric == "angular":
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    return [
        build_tree(x, seed=seed * 10_007 + t, leaf_cap=leaf_cap, metric=metric)
        for t in range(n_trees)
    ]


def forest_leaves(trees: list[Tree], spill_eps: float = 0.0):
    """Kernel: (n, dim) vectors -> each row's leaf keys (>=1 per tree,
    unique across trees).

    Level-synchronous vectorized routing; spill_eps > 0 descends BOTH
    children where |margin| <= spill_eps (the search_k analog,
    annoylib.h:1453-1480: the priority queue revisits near-boundary
    splits first)."""
    packed = [
        (t.normals, t.offsets, t.children, ti) for ti, t in enumerate(trees)
    ]
    stride = 1 + max(len(t.children) for t in trees)

    def leaves(mat: np.ndarray) -> list[np.ndarray]:
        n = len(mat)
        acc_rows, acc_keys = [], []  # flat (row, key) pairs, fully vectorized
        for normals, offsets, children, ti in packed:
            rows = np.arange(n)
            cur = np.zeros(n, dtype=np.int64)
            while len(rows):
                is_leaf = children[cur, 0] < 0
                if is_leaf.any():
                    acc_rows.append(rows[is_leaf])
                    acc_keys.append(ti * stride + cur[is_leaf])
                rows, cur = rows[~is_leaf], cur[~is_leaf]
                if not len(rows):
                    break
                m = (mat[rows] * normals[cur]).sum(1) + offsets[cur]
                nxt = np.where(m > 0, children[cur, 1], children[cur, 0])
                if spill_eps > 0.0:
                    both = np.abs(m) <= spill_eps
                    other = np.where(
                        m > 0, children[cur, 0], children[cur, 1]
                    )[both]
                    rows = np.concatenate([rows, rows[both]])
                    cur = np.concatenate([nxt, other])
                else:
                    cur = nxt
        return _per_row_keys(acc_rows, acc_keys, n)

    return leaves


def knn_forest(
    items: DataFrame,
    k: int,
    n_trees: int = 8,
    leaf_cap: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "angular",
    spill_eps: float = 0.0,
    bucket_cap: int = 2000,
    max_sample: int = 50_000,
    sample_fraction: float = 0.2,
    queries: DataFrame | None = None,
) -> DataFrame:
    """All-items approximate top-k via the forest:
    (qid, nid, rank, distance). metric in ('angular', 'dot', 'euclidean',
    'manhattan', 'hamming') — the float metrics build two_means trees
    ('dot' builds ANGULAR trees over the MIPS-augmented space,
    annoylib.h:605-703, and re-ranks by -<q,n>), hamming builds
    axis-aligned bit-split trees (annoylib.h:758-792) over packed int64
    signatures (a bit margin has no eps scale, so there spill_eps is read
    as the number of bottom split LEVELS probed on both sides — the
    bit-tree search_k analog).

    Same output contract as knn_lsh/knn_ivf; candidate generation is the
    (tree, leaf) equi-join — shuffle-friendly, reducer-bounded by the
    shared bucket salting (_salted); exact re-rank in the true metric
    decides (annoylib.h:1492-1494). All-items spill_eps widens every
    row's leaf set (both sides of the join); for 'dot' the items keep
    their single augmented leaf per tree and the query side spills.

    queries=DataFrame switches to by-VECTOR mode (get_nns_by_vector,
    annoylib.h:1234-1236): query rows are routed down the SAME trees
    (spill_eps applies to the query side only — the search_k analog) and
    joined against the item leaf assignments. Both modes run on the
    shared AnnModel router (sources.ann_index.knn_all_items /
    knn_by_vector_approx); for the build-once / save / load /
    query-forever lifecycle use
    annoy_spark.sources.ann_index.build_index / load_index."""
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        knn_all_items,
        knn_by_vector_approx,
    )

    cfg = AnnIndexConfig(
        kind="forest", metric=metric, seed=seed, n_trees=n_trees,
        leaf_cap=leaf_cap, bucket_cap=bucket_cap, max_sample=max_sample,
        sample_fraction=sample_fraction,
    )
    if queries is not None:
        return knn_by_vector_approx(
            items, queries, cfg, k, id_col, vec_col, spill_eps=spill_eps
        )
    return knn_all_items(items, cfg, k, id_col, vec_col, spill_eps=spill_eps)
