"""k-NN operator tests: exact orders on tiny inputs + LSH recall vs brute
force (the precision-ladder method of /root/reference/test/
angular_index_test.py:106-141, thresholded)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from annoy_spark.operators.knn import (
    embedding_near_dup_pairs_lsh,
    knn_bruteforce,
    knn_lsh,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # annoy's angular_index_test get_nns_by_vector fixture, re-expressed:
    # vectors [0,0,1],[0,1,0],[1,0,0] (annoy test/angular_index_test.py:23-33)
    return spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0]), (1, [0.0, 1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )


def test_bruteforce_exact_order_and_distance(tiny):
    got = knn_bruteforce(tiny, tiny, k=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.nid, r.distance))
    # all pairwise angles are 90 deg -> distance sqrt(2); ties break by id
    for q, rows in by_q.items():
        rows.sort()
        assert [n for _, n, _ in rows] == sorted(x for x in (0, 1, 2) if x != q)
        for _, _, d in rows:
            assert abs(d - math.sqrt(2)) < 1e-12


def test_bruteforce_dot_metric(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.5, 0.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = knn_bruteforce(df, df.where("vec_id = 0"), k=3, metric="dot").collect()
    order = [r.nid for r in sorted(got, key=lambda r: r.rank)]
    assert order == [1, 2, 3]  # by descending dot product


def test_lsh_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(5)
    n, dim, k = 400, 16, 10
    # clustered data so neighbors are meaningful (planted structure)
    centers = rng.standard_normal((20, dim)) * 3
    vecs = centers[np.arange(n) % 20] + rng.standard_normal((n, dim)) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()

    exact = knn_bruteforce(df, df, k=k).collect()
    approx = knn_lsh(df, k=k, n_tables=12, n_bits=6, seed=42).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.nid)
    found = {}
    for r in approx:
        found.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
    recall = hits / (len(truth) * k)
    assert recall >= 0.9, f"LSH recall {recall:.3f}"


def test_bruteforce_manhattan_metric(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [3.0, 0.0]), (3, [0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = knn_bruteforce(
        df, df.where("vec_id = 0"), k=3, metric="manhattan"
    ).collect()
    order = [(r.nid, r.distance) for r in sorted(got, key=lambda r: r.rank)]
    assert order == [(1, 2.0), (2, 3.0), (3, 5.0)]


def test_bruteforce_hamming_metric(spark):
    # packed int64 words: annoy's Hamming metric (annoylib.h:736-743)
    df = spark.createDataFrame(
        [(0, [0b0000]), (1, [0b0001]), (2, [0b0111]), (3, [0b1111])],
        "vec_id long, embedding array<long>",
    )
    got = knn_bruteforce(
        df, df.where("vec_id = 0"), k=3, metric="hamming"
    ).collect()
    order = [(r.nid, r.distance) for r in sorted(got, key=lambda r: r.rank)]
    assert order == [(1, 1.0), (2, 3.0), (3, 4.0)]


def test_lsh_dot_mips_recall(spark):
    """MIPS via the Bachrach reduction (annoylib.h:605-703): knn_lsh with
    metric='dot' must recover the exact max-inner-product neighbors."""
    rng = np.random.default_rng(11)
    n, dim, k = 300, 12, 5
    # varied norms make MIPS genuinely different from angular
    vecs = rng.standard_normal((n, dim)) * rng.uniform(0.5, 3.0, (n, 1))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    exact = knn_bruteforce(df, df, k=k, metric="dot").collect()
    approx = knn_lsh(df, k=k, n_tables=24, n_bits=4, seed=3,
                     metric="dot").collect()
    truth, found = {}, {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx:
        found.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
    recall = hits / (len(truth) * k)
    assert recall >= 0.85, f"MIPS LSH recall {recall:.3f}"


# bucket_width is the per-metric cost/recall knob (Cauchy projections have
# heavy tails and L1 distances run ~sqrt(dim) larger, so manhattan needs a
# wider quantization bucket than euclidean at equal recall)
@pytest.mark.parametrize("metric,width", [("euclidean", 4.0),
                                          ("manhattan", 16.0)])
def test_lsh_pstable_recall(spark, metric, width):
    """E2LSH (p-stable projections) for L2/L1 — the data-independent analog
    of annoy's two-means euclidean/manhattan splits (annoylib.h:849-891),
    thresholded against the exact metric like the reference's recall
    ladders (test/euclidean_index_test.py:77-112)."""
    rng = np.random.default_rng(21)
    n, dim, k = 300, 16, 5
    centers = rng.standard_normal((15, dim)) * 4
    vecs = centers[np.arange(n) % 15] + rng.standard_normal((n, dim)) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    exact = knn_bruteforce(df, df, k=k, metric=metric).collect()
    approx = knn_lsh(df, k=k, n_tables=16, n_bits=4, seed=5, metric=metric,
                     bucket_width=width).collect()
    truth, found = {}, {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx:
        found.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
    recall = hits / (len(truth) * k)
    assert recall >= 0.85, f"{metric} E2LSH recall {recall:.3f}"


def test_lsh_hamming_recall(spark):
    """Approximate Hamming k-NN: bit-sampling tables (annoy's axis-aligned
    Hamming splits, annoylib.h:758-792), exact popcount re-rank. Keys are
    pure JVM shift/mask — no UDF in the plan."""
    rng = np.random.default_rng(31)
    n, words, k = 300, 2, 5
    base = rng.integers(0, 1 << 62, size=(15, words), dtype=np.int64)
    rows = []
    for i in range(n):
        sig = base[i % 15].copy()
        for b in rng.integers(0, 128, size=rng.integers(0, 6)):
            sig[b // 64] ^= np.int64(1) << np.int64(b % 64)
        rows.append((i, [int(w) for w in sig]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<long>")
    exact = knn_bruteforce(df, df, k=k, metric="hamming").collect()
    approx = knn_lsh(df, k=k, n_tables=16, n_bits=8, seed=6,
                     metric="hamming").collect()
    truth, found = {}, {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx:
        found.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
    recall = hits / (len(truth) * k)
    assert recall >= 0.85, f"hamming LSH recall {recall:.3f}"


def test_lsh_mega_bucket_capped(spark):
    """Degenerate embedding dump: thousands of IDENTICAL vectors land in one
    bucket per table. With bucket_cap the self-join is bounded (sub-buckets
    of <= cap) instead of O(g^2) — annoy's imbalance fallback
    (annoylib.h:1337-1425). The query must finish and still return
    neighbors for the distinct tail."""
    n_dup, n_rest = 3000, 60
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n_dup)]
    rng = np.random.default_rng(2)
    rows += [
        (n_dup + i, [float(x) for x in rng.standard_normal(4)])
        for i in range(n_rest)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_lsh(df, k=3, n_tables=4, n_bits=2, seed=7, bucket_cap=100)
    per_q = out.groupBy("qid").count().collect()
    # every member of the mega-cluster still finds 3 zero-distance
    # neighbors inside its salted sub-bucket
    got = {r["qid"]: r["count"] for r in per_q}
    assert sum(1 for q in range(n_dup) if got.get(q, 0) == 3) == n_dup


def test_embedding_near_dup_lsh_finds_planted_copies(spark):
    """Planted scaled copies (cos=1) and tiny perturbations must be found;
    unrelated random vectors (cos << 0.99 at dim 32) must not."""
    rng = np.random.default_rng(13)
    n, dim = 200, 32
    vecs = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    rows += [(1000 + i, [float(x * 2.0) for x in vecs[i]])
             for i in range(0, n, 10)]           # exact-direction copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.u, r.v)
           for r in embedding_near_dup_pairs_lsh(df, 0.99, seed=4).collect()}
    want = {(i, 1000 + i) for i in range(0, n, 10)}
    assert want <= got
    assert got == want, f"false positives: {got - want}"


def test_lsh_deterministic(spark):
    rng = np.random.default_rng(9)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    a = {(r.qid, r.rank): r.nid for r in knn_lsh(df, k=5, seed=1).collect()}
    b = {(r.qid, r.rank): r.nid
         for r in knn_lsh(df.repartition(7), k=5, seed=1).collect()}
    assert a == b


def test_all_items_match_query_by_items(spark, tmp_path):
    """The all-items mode of knn_lsh / knn_forest / knn_ivf and
    get_nns_by_item over a built index (query_by_items over every id,
    self excluded) share the router, stored vectors and metric, so they
    return the same neighbors and ranks. Distances agree to float noise:
    query_by_items re-normalizes the stored unit vector for angular."""
    from annoy_spark.operators.forest import knn_forest
    from annoy_spark.operators.ivf import knn_ivf
    from annoy_spark.sources.ann_index import AnnIndexConfig, build_index

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids = emb.select("vec_id")
    cases = [
        (knn_lsh, AnnIndexConfig(kind="lsh", n_tables=8, n_bits=8, seed=42),
         dict(k=10, n_tables=8, n_bits=8, seed=42)),
        (knn_lsh, AnnIndexConfig(kind="lsh", metric="euclidean", n_tables=8,
                                 n_bits=4, seed=42, bucket_width=4.0),
         dict(k=5, n_tables=8, n_bits=4, seed=42, metric="euclidean",
              bucket_width=4.0)),
        (knn_lsh, AnnIndexConfig(kind="lsh", metric="dot", n_tables=6,
                                 n_bits=5, seed=7),
         dict(k=5, n_tables=6, n_bits=5, seed=7, metric="dot")),
        (knn_forest, AnnIndexConfig(kind="forest", n_trees=8, leaf_cap=32,
                                    seed=42, sample_fraction=1.0),
         dict(k=10, n_trees=8, leaf_cap=32, seed=42, sample_fraction=1.0)),
        (knn_ivf, AnnIndexConfig(kind="ivf", n_centroids=16, nprobe=4,
                                 seed=42, sample_fraction=1.0),
         dict(k=10, n_centroids=16, nprobe=4, seed=42,
              sample_fraction=1.0)),
    ]
    def rows(df):
        return sorted((r.qid, r.rank, r.nid, r.distance) for r in df.collect())

    for i, (fn, cfg, kwargs) in enumerate(cases):
        all_items = rows(fn(emb, **kwargs))
        idx = build_index(spark, emb, str(tmp_path / f"idx{i}"), cfg)
        by_item = rows(idx.query_by_items(ids, kwargs["k"]))
        assert [r[:3] for r in all_items] == [r[:3] for r in by_item], kwargs
        assert all(
            abs(a[3] - b[3]) <= 1e-12 for a, b in zip(all_items, by_item)
        ), kwargs
