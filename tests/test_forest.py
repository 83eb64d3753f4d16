"""two_means RP-forest (annoy's actual index, annoylib.h:363-403 +
1344-1445): recall vs brute force, spill-widening, skew defense,
determinism."""

from __future__ import annotations

import numpy as np
import pytest

from annoy_spark.operators.forest import (
    build_forest,
    build_tree,
    forest_leaves,
    knn_forest,
)
from annoy_spark.operators.knn import keys_udf, knn_bruteforce


def _recall(exact_rows, approx_rows, k):
    truth, found = {}, {}
    for r in exact_rows:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx_rows:
        found.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
    return hits / (len(truth) * k)


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((400, 16))
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    ).cache()


@pytest.mark.parametrize("metric", ["angular", "euclidean"])
def test_forest_recall_vs_bruteforce(spark, emb_df, metric):
    k = 5
    exact = knn_bruteforce(emb_df, emb_df, k=k, metric=metric).collect()
    approx = knn_forest(
        emb_df, k=k, n_trees=16, leaf_cap=32, seed=7, metric=metric,
        sample_fraction=1.0,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"forest {metric} recall {r:.3f}"


def test_more_trees_more_recall(spark, emb_df):
    """The reference's accuracy contract: recall grows with n_trees
    (test/accuracy_test.py:89 sweeps the same axis)."""
    k = 5
    exact = knn_bruteforce(emb_df, emb_df, k=k).collect()
    rs = {}
    for nt in (2, 16):
        approx = knn_forest(
            emb_df, k=k, n_trees=nt, leaf_cap=16, seed=7,
            sample_fraction=1.0,
        ).collect()
        rs[nt] = _recall(exact, approx, k)
    assert rs[16] >= rs[2]
    assert rs[16] >= 0.85, rs


def test_spill_widens_leaf_sets(spark, emb_df):
    """spill_eps (the search_k analog) only ADDS leaves per row."""
    trees = build_forest(emb_df, n_trees=4, leaf_cap=16, seed=3,
                         sample_fraction=1.0)
    from pyspark.sql import functions as F

    base = emb_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    narrow = base.select(
        "vec_id", keys_udf(forest_leaves(trees, 0.0))("v").alias("keys")
    ).collect()
    wide = base.select(
        "vec_id", keys_udf(forest_leaves(trees, 0.2))("v").alias("keys")
    ).collect()
    wide_by_id = {r.vec_id: set(r.keys) for r in wide}
    grew = 0
    for r in narrow:
        assert set(r.keys) <= wide_by_id[r.vec_id]
        grew += len(wide_by_id[r.vec_id]) > len(r.keys)
    assert grew > 0  # eps=0.2 must actually spill somewhere


def test_degenerate_dump_is_capped(spark):
    """Thousands of identical vectors: two_means cannot split (annoy's
    imbalance fallback, annoylib.h:1407-1425) -> one leaf per tree; the
    bucket salt must cap the self-join while every row still gets k
    neighbors."""
    n_dup, n_rest = 3000, 40
    rng = np.random.default_rng(5)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n_dup)]
    rows += [(n_dup + i, [float(x) for x in rng.standard_normal(4) * 5])
             for i in range(n_rest)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_forest(df, k=3, n_trees=4, leaf_cap=16, seed=1,
                     bucket_cap=150, sample_fraction=1.0)
    counts = {r["qid"]: r["count"]
              for r in out.groupBy("qid").count().collect()}
    ok = sum(1 for q in range(n_dup) if counts.get(q, 0) == 3)
    assert ok >= int(n_dup * 0.99), f"only {ok}/{n_dup} dup rows got k"


def test_forest_deterministic(spark, emb_df):
    a = knn_forest(emb_df, k=3, n_trees=4, leaf_cap=16, seed=9,
                   sample_fraction=1.0)
    b = knn_forest(emb_df, k=3, n_trees=4, leaf_cap=16, seed=9,
                   sample_fraction=1.0)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_build_tree_leaf_cap_respected():
    """Sample-side contract of _make_tree (annoylib.h:1344-1359): every
    splittable node recurses until <= leaf_cap sample rows."""
    rng = np.random.default_rng(2)
    x = rng.standard_normal((500, 8))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    tree = build_tree(x, seed=4, leaf_cap=20, metric="angular")
    # route the build sample down the tree; count rows per leaf
    cur = np.zeros(len(x), dtype=np.int64)
    while (tree.children[cur, 0] >= 0).any():
        act = tree.children[cur, 0] >= 0
        m = (x[act] * tree.normals[cur[act]]).sum(1) + tree.offsets[cur[act]]
        cur[act] = np.where(
            m > 0, tree.children[cur[act], 1], tree.children[cur[act], 0]
        )
    _, counts = np.unique(cur, return_counts=True)
    # routing follows the exact build-time margins, so leaf loads match
    assert counts.max() <= 20
