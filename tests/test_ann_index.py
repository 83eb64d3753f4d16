"""Persisted ANN index lifecycle tests — annoy's build -> save -> load ->
query-forever contract (/root/reference/src/annoylib.h:1093-1222;
golden-index determinism of test/index_test.py:29-34) plus by-vector
queries on every approximate path (get_nns_by_vector,
annoylib.h:1234-1236)."""

from __future__ import annotations

import numpy as np
import pytest

from annoy_spark.operators.forest import knn_forest
from annoy_spark.operators.ivf import knn_ivf
from annoy_spark.operators.knn import knn_bruteforce, knn_lsh
from annoy_spark.sources.ann_index import (
    AnnIndexConfig,
    build_index,
    load_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    n, dim = 400, 16
    centers = rng.standard_normal((20, dim)) * 3
    vecs = centers[np.arange(n) % 20] + rng.standard_normal((n, dim)) * 0.3
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    # by-VECTOR queries: ids disjoint from the items (a query is not a
    # stored item — annoylib.h:1234-1236)
    from pyspark.sql import functions as F

    return (
        corpus.where(F.col("vec_id") % 40 == 0)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + 0.01).alias("embedding"),
        )
        .cache()
    )


def _recall(exact_rows, approx_rows, k):
    truth, found = {}, {}
    for r in exact_rows:
        truth.setdefault(r.qid, set()).add(r.nid)
    for r in approx_rows:
        found.setdefault(r.qid, set()).add(r.nid)
    return sum(len(truth[q] & found.get(q, set())) for q in truth) / (
        len(truth) * k
    )


def test_save_load_query_bit_identical(spark, corpus, queries, tmp_path):
    """The golden-index contract: querying the RELOADED index returns
    bit-identical rows to querying the live just-built one."""
    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8, seed=42)
    root = str(tmp_path / "idx")
    live = build_index(spark, corpus, root, cfg)
    a = sorted(
        live.query(queries, k=10, spill_eps=0.2).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    reloaded = load_index(spark, root, expected=cfg)
    b = sorted(
        reloaded.query(queries, k=10, spill_eps=0.2).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert len(a) > 0
    assert [(r.qid, r.nid, r.rank, r.distance) for r in a] == [
        (r.qid, r.nid, r.rank, r.distance) for r in b
    ]


def test_load_rejects_config_change(spark, corpus, tmp_path):
    """annoy load-validation analog (annoylib.h:1185-1188): an index built
    under one config refuses to serve a different one."""
    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4, seed=42)
    root = str(tmp_path / "idx2")
    build_index(spark, corpus, root, cfg)
    other = AnnIndexConfig(kind="forest", metric="angular", n_trees=8,
                           seed=42)
    with pytest.raises(ValueError, match="refusing"):
        load_index(spark, root, expected=other)
    # and a fresh load without expectations still works
    assert load_index(spark, root).cfg.n_trees == 4


def test_forest_by_vector_recall(spark, corpus, queries):
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    approx = knn_forest(
        corpus, k=k, n_trees=16, seed=42, sample_fraction=1.0,
        queries=queries, spill_eps=0.15,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"forest by-vector recall {r:.3f}"


def test_ivf_by_vector_recall(spark, corpus, queries):
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    approx = knn_ivf(
        corpus, k=k, n_centroids=20, nprobe=5, seed=42,
        sample_fraction=1.0, queries=queries,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"ivf by-vector recall {r:.3f}"


def test_lsh_by_vector_recall(spark, corpus, queries):
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    approx = knn_lsh(
        corpus, k=k, n_tables=12, n_bits=6, seed=42, queries=queries
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"lsh by-vector recall {r:.3f}"


def test_mips_by_vector_recall(spark, corpus, queries):
    """dot metric by-vector: items get the sqrt(M^2-|x|^2) augmentation,
    queries the 0 one (annoylib.h:605-703)."""
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k, metric="dot").collect()
    approx = knn_lsh(
        corpus, k=k, n_tables=24, n_bits=4, seed=42, metric="dot",
        queries=queries,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.85, f"mips by-vector recall {r:.3f}"


def test_forest_dot_by_vector_recall(spark, corpus, queries):
    """DotProduct TREES (annoylib.h:540-552, 605-703): forest kind with
    metric='dot' — angular two_means trees over the MIPS-augmented space,
    exact -<q,n> re-rank."""
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k, metric="dot").collect()
    approx = knn_forest(
        corpus, k=k, n_trees=16, seed=42, sample_fraction=1.0,
        metric="dot", queries=queries, spill_eps=0.15,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.85, f"forest dot by-vector recall {r:.3f}"


def test_ivf_dot_by_vector_recall(spark, corpus, queries):
    k = 10
    exact = knn_bruteforce(corpus, queries, k=k, metric="dot").collect()
    approx = knn_ivf(
        corpus, k=k, n_centroids=20, nprobe=5, seed=42,
        sample_fraction=1.0, metric="dot", queries=queries,
    ).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.85, f"ivf dot by-vector recall {r:.3f}"


def test_forest_dot_persisted_roundtrip(spark, corpus, queries, tmp_path):
    """dot forest index save -> load -> query is bit-identical to the
    live index, and append rejects items whose norm exceeds the frozen
    MIPS max-norm (annoy freezes the preprocess scale at build)."""
    from pyspark.sql import functions as F

    cfg = AnnIndexConfig(kind="forest", metric="dot", n_trees=8, seed=42)
    root = str(tmp_path / "dotidx")
    live = build_index(spark, corpus, root, cfg)
    a = sorted(
        live.query(queries, k=5).collect(), key=lambda r: (r.qid, r.rank)
    )
    reloaded = load_index(spark, root, expected=cfg)
    b = sorted(
        reloaded.query(queries, k=5).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert a == b
    big = queries.select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 100.0).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max-norm"):
        reloaded.append(big)


def test_ann_query_stream_matches_batch(spark, corpus, queries, tmp_path):
    """Streaming serving loop (README.rst:25-27: load the shared index,
    answer lookups): an availableNow drain over a query-vector directory
    must produce EXACTLY the batch query() rows, and a second batch
    against the same checkpoint must answer only the new queries."""
    from pyspark.sql import functions as F

    from annoy_spark.streaming.ann_query_stream import ann_query_stream

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(spark, corpus, root, cfg)

    inp, out, ck = (str(tmp_path / d) for d in ("qin", "qout", "qck"))
    queries.write.mode("append").parquet(inp)
    q = ann_query_stream(spark, root, inp, out, ck, k=5, spill_eps=0.1)
    assert q.awaitTermination(300)

    got = sorted(
        spark.read.parquet(out).select(
            "qid", "nid", "rank", "distance"
        ).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    want = sorted(
        idx.query(queries, k=5, spill_eps=0.1).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert [(r.qid, r.nid, r.rank, r.distance) for r in got] == [
        (r.qid, r.nid, r.rank, r.distance) for r in want
    ]

    # second wave of queries: checkpoint resumes, only new files answered
    q2 = queries.select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    q2.write.mode("append").parquet(inp)
    qq = ann_query_stream(spark, root, inp, out, ck, k=5, spill_eps=0.1)
    assert qq.awaitTermination(300)
    all_rows = spark.read.parquet(out)
    n_q1 = queries.count()
    assert all_rows.select("qid").distinct().count() == 2 * n_q1
    want2 = sorted(
        idx.query(q2, k=5, spill_eps=0.1).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    got2 = sorted(
        all_rows.where(F.col("qid") >= 15_000_000).select(
            "qid", "nid", "rank", "distance"
        ).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    assert [(r.qid, r.nid, r.rank, r.distance) for r in got2] == [
        (r.qid, r.nid, r.rank, r.distance) for r in want2
    ]


def test_index_query_replicates_oversized_buckets(spark, tmp_path):
    """A degenerate dump of identical vectors routes to one leaf per tree;
    item rows hash into salt sub-buckets and queries must REPLICATE across
    all of them (no candidate lost to the item-side salting), so every
    top-k answer is a distance-0 twin."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.standard_normal(8)]
    rows = [(i, base) for i in range(300)] + [
        (1000 + i, [float(x) for x in rng.standard_normal(8)])
        for i in range(50)
    ]
    items = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, bucket_cap=40, seed=42)
    idx = build_index(spark, items, str(tmp_path / "hot"), cfg)
    assert not idx._sizes.isEmpty()  # the cap actually triggered
    qs = spark.createDataFrame(
        [(9_000_000, base)], "vec_id long, embedding array<double>"
    )
    got = idx.query(qs, k=10).collect()
    assert len(got) == 10
    # sqrt(2 - 2*dot) of float-rounded unit twins lands around 1e-8
    assert all(r.distance < 1e-6 for r in got)


def test_build_rejects_empty_items(spark, tmp_path):
    """annoy requires >= 1 added item before build; an empty relation must
    fail loudly at build, not cryptically at query time."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        build_index(
            spark, empty, str(tmp_path / "e"),
            AnnIndexConfig(kind="forest"),
        )


def test_index_build_partitioning_invariant(spark, corpus, queries, tmp_path):
    """Trainer-sample membership is a seeded-hash top-k, so the SAME model
    (hence bit-identical query results) must come out of any physical
    layout of the items relation — the set_seed determinism contract
    (annoylib.h:1256-1262) extended to distributed input."""
    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4,
                         seed=42, max_sample=100)
    a = build_index(
        spark, corpus, str(tmp_path / "a"), cfg
    ).query(queries, k=5).collect()
    b = build_index(
        spark, corpus.repartition(13), str(tmp_path / "b"), cfg
    ).query(queries, k=5).collect()
    key = lambda r: (r.qid, r.rank)  # noqa: E731
    assert sorted(
        [(r.qid, r.nid, r.rank, r.distance) for r in a], key=lambda t: t[:2]
    ) == sorted(
        [(r.qid, r.nid, r.rank, r.distance) for r in b], key=lambda t: t[:2]
    )
    assert len(a) > 0


def test_submit_index_cli(spark, corpus, queries, tmp_path):
    """The spark-submit lifecycle verbs: build -> query -> serve."""
    from pyspark.sql import functions as F

    from annoy_spark.submit_index import main

    items = str(tmp_path / "items.parquet")
    qsrc = str(tmp_path / "queries.parquet")
    corpus.write.parquet(items)
    queries.write.parquet(qsrc)
    root = str(tmp_path / "idx")
    out = str(tmp_path / "out.parquet")

    assert main(["build", "--items", items, "--root", root,
                 "--kind", "forest"]) == 0
    more = str(tmp_path / "more.parquet")
    corpus.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    ).write.parquet(more)
    assert main(["append", "--items", more, "--root", root]) == 0
    # repair on a clean index is a no-op load
    assert main(["repair", "--root", root]) == 0
    assert main(["query", "--root", root, "--queries", qsrc,
                 "--output", out, "--k", "5"]) == 0
    res = spark.read.parquet(out)
    assert res.count() == queries.count() * 5
    assert set(res.columns) == {"qid", "nid", "rank", "distance"}

    sdir, sout, sck = (str(tmp_path / d) for d in ("sin", "sout", "sck"))
    queries.select(
        (F.col("vec_id") + 1).alias("vec_id"), "embedding"
    ).write.parquet(sdir)
    assert main(["serve", "--root", root, "--input", sdir,
                 "--output", sout, "--checkpoint", sck, "--k", "5"]) == 0
    assert spark.read.parquet(sout).count() == queries.count() * 5


def test_hamming_by_vector_exact_on_identical(spark):
    """hamming by-vector: querying with a stored signature's twin finds it
    at distance 0 (packed int64 words, annoylib.h:707-796)."""
    rng = np.random.default_rng(3)
    sigs = [
        (i, [int(x) for x in rng.integers(-(2**62), 2**62, 2)])
        for i in range(200)
    ]
    items = spark.createDataFrame(sigs, "vec_id long, embedding array<long>")
    qs = spark.createDataFrame(
        [(10_000 + i, v) for i, v in sigs[:5]],
        "vec_id long, embedding array<long>",
    )
    got = knn_lsh(
        items, k=3, n_tables=8, n_bits=6, seed=42, metric="hamming",
        queries=qs,
    ).collect()
    best = {r.qid: (r.nid, r.distance) for r in got if r.rank == 1}
    for i in range(5):
        assert best[10_000 + i] == (i, 0.0)


def test_hamming_spill_levels_superset_and_bounded(spark):
    """The bit-tree search_k analog (annoylib.h:745-756, 1447-1480):
    spill_levels=d probes both children at splits whose subtree height is
    <= d, so per row the key set is a SUPERSET of the no-spill keys and
    holds at most 2^d leaves per tree."""
    from annoy_spark.operators.forest import (
        build_hamming_tree,
        hamming_forest_leaves,
    )
    from annoy_spark.operators.knn import keys_udf

    rng = np.random.default_rng(11)
    sig = rng.integers(-(2**62), 2**62, (300, 2)).astype(np.int64)
    trees = [
        build_hamming_tree(sig, seed=s, leaf_cap=8) for s in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(
        [(i, [int(a), int(b)]) for i, (a, b) in enumerate(sig[:64])],
        "vec_id long, sig array<long>",
    )
    d = 2
    base = keys_udf(hamming_forest_leaves(trees, 0), np.int64)
    wide = keys_udf(hamming_forest_leaves(trees, d), np.int64)
    rows = df.select(
        "vec_id", base("sig").alias("k0"), wide("sig").alias("kd")
    ).collect()
    for r in rows:
        assert set(r.k0) <= set(r.kd), "spill keys must contain base keys"
        assert len(r.kd) <= len(trees) * (2 ** d)
        assert len(set(r.kd)) == len(r.kd), "keys must be deduped"


def test_hamming_spill_recall_monotone(spark):
    """Recall on the stored hamming forest is non-decreasing in
    spill_eps (candidate supersets): the accuracy budget is bought at
    query time only, never by rebuilding (search_k contract)."""
    from annoy_spark.operators.knn import knn_bruteforce
    import tempfile

    rng = np.random.default_rng(5)
    sig = rng.integers(-(2**62), 2**62, (400, 2)).astype(np.int64)
    items = spark.createDataFrame(
        [(i, [int(a), int(b)]) for i, (a, b) in enumerate(sig)],
        "vec_id long, embedding array<long>",
    )
    # queries = stored signatures with a few bits flipped
    qs = spark.createDataFrame(
        [
            (10_000 + i, [int(a ^ 3), int(b ^ 12)])
            for i, (a, b) in enumerate(sig[:40])
        ],
        "vec_id long, embedding array<long>",
    )
    cfg = AnnIndexConfig(
        kind="forest", metric="hamming", n_trees=8, leaf_cap=8, seed=42,
        max_sample=400,
    )
    root = tempfile.mkdtemp(prefix="hamspill_")
    idx = build_index(spark, items, root, cfg)
    exact = knn_bruteforce(items, qs, k=5, metric="hamming").collect()
    recalls = []
    for spill in (0.0, 2.0, 4.0, 7.0):
        ap = idx.query(qs, k=5, spill_eps=spill).collect()
        recalls.append(_recall(exact, ap, 5))
    assert recalls == sorted(recalls), f"not monotone: {recalls}"
    # spill 7 >= tree depth (~log2(400/8)) probes every leaf -> near-exact
    assert recalls[-1] > 0.95, f"deep spill recall too low: {recalls}"
    assert recalls[-1] - recalls[0] > 0.2, f"knob has no effect: {recalls}"


def test_get_distance(spark, corpus, tmp_path):
    """annoy get_distance (annoylib.h:1224-1226) on the loaded index:
    user-facing normalized forms per metric (annoylib.h:512-517, 657-659,
    862-865, 893-895) — and the raw dot product for metric='dot'."""
    rows = {r.vec_id: np.asarray(r.embedding) for r in corpus.collect()}
    a, b = rows[1], rows[2]
    for metric, expected in [
        ("angular", float(np.sqrt(max(0.0, 2.0 - 2.0 * (a @ b) /
                                      (np.linalg.norm(a) * np.linalg.norm(b)))))),
        ("euclidean", float(np.linalg.norm(a - b))),
        ("manhattan", float(np.abs(a - b).sum())),
        ("dot", float(a @ b)),
    ]:
        kind = "lsh" if metric == "dot" else "forest"
        cfg = AnnIndexConfig(kind=kind, metric=metric, n_trees=4, seed=42,
                             max_sample=500)
        idx = build_index(
            spark, corpus, str(tmp_path / f"gd_{metric}"), cfg
        )
        got = idx.get_distance(1, 2)
        assert abs(got - expected) < 1e-9, (metric, got, expected)
    with pytest.raises(KeyError):
        idx.get_distance(1, 999_999)


def test_get_distance_hamming(spark, tmp_path):
    sigs = [(0, [5, -9]), (1, [6, -9]), (2, [5, 7])]
    items = spark.createDataFrame(sigs, "vec_id long, embedding array<long>")
    cfg = AnnIndexConfig(kind="lsh", metric="hamming", n_tables=2,
                         n_bits=4, seed=42, max_sample=10)
    idx = build_index(spark, items, str(tmp_path / "gd_ham"), cfg)
    mask = (1 << 64) - 1  # 64-bit two's-complement popcount
    assert idx.get_distance(0, 1) == float(bin((5 ^ 6) & mask).count("1"))
    assert idx.get_distance(0, 2) == float(bin((-9 ^ 7) & mask).count("1"))


def test_get_distance_names_missing_ids_and_matches_jvm(
    spark, corpus, tmp_path
):
    """get_distance's KeyError names every id the fetch did not return,
    and its driver-side distance equals the query paths' JVM _distance
    bit for bit."""
    from pyspark.sql import functions as F

    from annoy_spark.sources.ann_index import _distance

    cfg = AnnIndexConfig(kind="lsh", metric="angular", n_tables=2,
                         n_bits=4, seed=42, max_sample=500)
    idx = build_index(spark, corpus, str(tmp_path / "gd_missing"), cfg)
    with pytest.raises(KeyError, match=r"\[999998, 999999\]"):
        idx.get_distance(999_998, 999_999)
    with pytest.raises(KeyError, match=r"\[999999\]"):
        idx.get_distance(3, 999_999)
    v = idx._vectors
    jvm = (
        v.where(F.col("nid") == 1).select(F.col("v").alias("qv"))
        .crossJoin(v.where(F.col("nid") == 2).select(F.col("v").alias("nv")))
        .select(_distance(idx.cfg, "qv", "nv")).first()[0]
    )
    assert idx.get_distance(1, 2) == jvm


def test_auto_n_trees_memory_envelope(spark, corpus, tmp_path):
    """n_trees=-1 auto-sizing (annoy build(-1), annoylib.h:1266-1271):
    resolve trees from the memory envelope, persist the RESOLVED count,
    and keep total index bytes <= ~2x the raw vectors artifact — the
    README.rst:39 "roughly the size of the data" contract."""
    import os
    from annoy_spark.sources.ann_index import _auto_n_trees

    root = str(tmp_path / "auto_idx")
    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=-1,
                         leaf_cap=32, seed=7, max_sample=1000)
    idx = build_index(spark, corpus, root, cfg)
    resolved = idx.n_trees()
    # dim=16 doubles: 128 bytes/vec; per tree 16 B bucket row + 128/32
    # node share => floor(128 / 20) = 6
    assert resolved == 6
    assert resolved == _auto_n_trees(idx.model.cfg)

    # the persisted geometry is the resolved one (load sees no -1)
    idx2 = load_index(spark, root)
    assert idx2.model.cfg.n_trees == resolved

    # ADVICE r5 / round-6 fix: a caller who built with the -1 sentinel can
    # assert the SAME config at load — the expectation's sentinel resolves
    # against the stored tree count instead of hash-mismatching
    idx3 = load_index(spark, root, expected=cfg)
    assert idx3.model.cfg.n_trees == resolved

    def _du(sub):
        total = 0
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files
            )
        return total

    vec_bytes = _du("vectors")
    index_total = sum(
        _du(s) for s in ("vectors", "buckets", "counts", "model")
    )
    assert vec_bytes > 0
    assert index_total <= 2.0 * vec_bytes, (index_total, vec_bytes)

    # auto-sizing is a forest knob; other kinds must be explicit
    with pytest.raises(ValueError, match="forest knob"):
        build_index(
            spark, corpus, str(tmp_path / "auto_ivf"),
            AnnIndexConfig(kind="ivf", metric="angular", n_trees=-1),
        )


@pytest.mark.parametrize("path", ["driver", "driver_local", "executor"])
@pytest.mark.parametrize("bad", [None, [1.0] * 15], ids=["null", "15d"])
def test_query_rejects_bad_vectors(spark, corpus, tmp_path, monkeypatch,
                                   path, bad):
    """A null or wrong-length query vector fails the query, naming its
    id, on both query paths: the driver path checks the fetched batch
    (Arrow, or rows of a local pandas batch) before any routing job, the
    executor path fails the routing job through the same JVM guard as
    item routing."""
    import pandas as pd

    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    data = [(9_000_000, [0.5] * 16), (9_000_001, bad)]
    schema = "vec_id long, embedding array<double>"
    if path == "driver_local":
        qs = spark.createDataFrame(
            pd.DataFrame(data, columns=["vec_id", "embedding"]), schema
        )
        assert qs.isLocal()
    else:
        qs = spark.createDataFrame(data, schema)
    if path != "executor":
        with pytest.raises(ValueError, match="query 9000001"):
            idx.query(qs, k=5)
    else:
        monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", 1)
        with pytest.raises(Exception, match="invalid vector for query 9000001"):
            idx.query(qs, k=5).collect()


def _router_cases():
    cases = [
        (kind, metric, {})
        for kind in ("forest", "ivf", "lsh")
        for metric in ("angular", "dot", "euclidean", "manhattan", "hamming")
    ]
    return cases + [
        ("forest", "angular", {"spill_eps": 0.2}),
        ("forest", "euclidean", {"spill_eps": 0.5}),
        ("forest", "dot", {"spill_eps": 0.2}),
        ("forest", "hamming", {"spill_eps": 1}),
        ("forest", "hamming", {"spill_eps": 3}),
        ("ivf", "angular", {"nprobe": 5}),
        ("ivf", "dot", {"nprobe": 5}),
    ]


def _router_batch(spark, corpus, metric):
    """(items, queries) for a router case: random packed words for
    hamming; else the corpus, queried by every 13th item and an all-zero
    vector."""
    if metric == "hamming":
        rng = np.random.default_rng(5)
        words = rng.integers(-(2**62), 2**62, (300, 2))
        items = spark.createDataFrame(
            [(i, [int(x) for x in w]) for i, w in enumerate(words)],
            "vec_id long, embedding array<long>",
        )
        qrows = [(10_000 + i, [int(x) for x in w ^ (1 << i)])
                 for i, w in enumerate(words[:30])]
        qs = spark.createDataFrame(qrows, "vec_id long, embedding array<long>")
        return items, qs
    qs = corpus.where("vec_id % 13 = 0").unionByName(
        spark.createDataFrame(
            [(-1, [0.0] * 16)], "vec_id long, embedding array<double>"
        )
    )
    return corpus, qs


@pytest.mark.parametrize(
    "kind,metric,kw", _router_cases(),
    ids=lambda v: str(v).replace(" ", "") if isinstance(v, dict) else v,
)
def test_driver_router_matches_keys_col(spark, corpus, kind, metric, kw):
    """The driver routes a query batch with the same kernels and
    projections as keys_col's UDF, key for key, on every (kind, metric)
    pair and query-time knob — including an all-zero vector (the unit
    guard) and the 'dot' augmentations."""
    from annoy_spark.sources.ann_index import (
        _KIND_METRICS,
        AnnModel,
        _query_head,
        _resolve_cfg,
        _route_on_driver,
    )

    assert metric in _KIND_METRICS[kind]
    items, qs = _router_batch(spark, corpus, metric)
    cfg = AnnIndexConfig(
        kind=kind, metric=metric, seed=42, n_trees=4, leaf_cap=16,
        n_centroids=12, nprobe=2, n_tables=6, n_bits=6,
    )
    cfg = _resolve_cfg(cfg, items, "embedding")
    model = AnnModel.train(items, cfg, "vec_id", "embedding")
    spark_keys = {
        r.vec_id: list(r.keys)
        for r in qs.select(
            "vec_id", model.keys_col("embedding", True, **kw).alias("keys")
        ).collect()
    }
    rows = _query_head(qs, model, "vec_id", "embedding").collect()
    _, keys = _route_on_driver(rows, model, **kw)
    assert len(rows) == len(spark_keys) > 0
    for r, k in zip(rows, keys):
        assert np.array_equal(k, spark_keys[r.qid]), r.qid


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bits(rows) -> list:
    """(qid, nid, rank, exact distance bits) of answer rows, sorted."""
    return sorted((r.qid, r.nid, r.rank, r.distance.hex()) for r in rows)


def _assert_join_parity(monkeypatch, run, cap):
    """run() answers on the driver (a local relation) and, with
    SMALL_QUERY_MAX patched to ``cap`` (at least the batch size, below
    its routed buckets' assignments), through the local-relation join
    plan, or with ``cap`` -1 through the executor plan: the same
    schema, (qid, nid, rank) and distance bits. Returns the driver's
    rows."""
    import annoy_spark.sources.ann_index as ann_index

    driver = run()
    with monkeypatch.context() as m:
        m.setattr(ann_index, "SMALL_QUERY_MAX", cap)
        joined = run()
    rows = driver.collect()
    assert _plan(driver).startswith("LocalTableScan"), _plan(driver)
    assert "Window" in _plan(joined)
    assert cap < 0 or "ArrowEvalPython" not in _plan(joined)
    assert driver.schema == joined.schema
    assert _bits(rows) == _bits(joined.collect())
    return rows


@pytest.mark.parametrize(
    "kind,metric,kw", _router_cases(),
    ids=lambda v: str(v).replace(" ", "") if isinstance(v, dict) else v,
)
def test_driver_rerank_matches_join_plan(spark, corpus, tmp_path, monkeypatch,
                                         kind, metric, kw):
    """The driver re-rank (two bounded fetches, numpy scoring and
    ranking) returns the join plan's rows with bit-equal distances on
    every (kind, metric) pair and query-time knob, the all-zero query
    included."""
    items, qs = _router_batch(spark, corpus, metric)
    cfg = AnnIndexConfig(
        kind=kind, metric=metric, seed=42, n_trees=4, leaf_cap=16,
        n_centroids=12, nprobe=2, n_tables=6, n_bits=6,
    )
    idx = build_index(spark, items, str(tmp_path / "idx"), cfg)
    rows = _assert_join_parity(
        monkeypatch, lambda: idx.query(qs, k=5, **kw), qs.count())
    assert rows


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_rerank_salts_ties_and_ids(spark, tmp_path, monkeypatch,
                                          id_type):
    """Oversized buckets (salted assignments), 300 identical vectors
    (distance ties broken by nid, string ids in Spark's order), a
    repeated qid, a null qid and query_by_items with and without self
    answer on the driver exactly as the join plan does; an empty batch
    and one of null ids only answer nothing, with the same schema. With the cap between the member count and the route-member
    pair count, the re-rank runs in several chunks and its rows do not
    change."""
    import pandas as pd
    from pyspark.sql import functions as F

    import annoy_spark.sources.ann_index as ann_index

    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.standard_normal(8)]
    vecs = [base] * 300 + [
        [float(x) for x in rng.standard_normal(8)] for _ in range(50)]
    ids = [i if id_type == "long" else f"id{i}" for i in range(350)]
    schema = f"vec_id {id_type}, embedding array<double>"
    items = spark.createDataFrame(list(zip(ids, vecs)), schema)
    cfg = AnnIndexConfig(kind="forest", n_trees=4, bucket_cap=40, seed=42)
    idx = build_index(spark, items, str(tmp_path / "hot"), cfg)
    assert idx._salts
    q = ids[:3]  # a repeated qid, with two different vectors; a null one
    qs = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": pd.Series([q[0], q[1], q[0], q[2], None], dtype=object),
            "embedding": [base, vecs[320], vecs[330], vecs[340], base],
        }),
        schema,
    )
    rows = _assert_join_parity(monkeypatch, lambda: idx.query(qs, k=10), 5)
    assert {r.qid for r in rows} == set(q)
    assert sorted(r.rank for r in rows if r.qid == q[0]) == list(
        range(1, 11))
    by_id = spark.createDataFrame([(i,) for i in q[:2] + ids[310:313]],
                                  f"vec_id {id_type}")
    for include_self in (True, False):
        got = _assert_join_parity(
            monkeypatch,
            lambda: idx.query_by_items(by_id, k=6, include_self=include_self),
            5)
        assert any(r.qid == r.nid for r in got) == include_self
    for none in (qs.limit(0), qs.where("vec_id IS NULL")):
        empty = idx.query(none, k=10)
        assert empty.schema == idx.query(qs, k=10).schema
        assert empty.collect() == []
    # every bucket is routed by the items themselves, so the members are
    # all assignments; each item meets its whole bucket, so the pairs
    # are far more
    members = idx._assign.count()
    calls = []
    scorer = ann_index._distance_rows

    def counted(*a):
        calls.append(1)
        return scorer(*a)

    whole = idx.query(items, k=10).collect()
    monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", members)
    monkeypatch.setattr(ann_index, "_distance_rows", counted)
    chunked = idx.query(items, k=10).collect()
    assert len(calls) > 1
    assert _bits(chunked) == _bits(whole)
    assert len(whole) == 3500


@pytest.mark.parametrize("metric", ["hamming", "angular"])
def test_driver_rerank_without_candidates(spark, tmp_path, monkeypatch,
                                          metric):
    """A query whose routes meet no stored assignment answers nothing on
    the driver, with the join plan's schema: LSH keys of the items'
    negation miss the items' one bucket per table (every sampled bit or
    hyperplane sign flips), and query_by_items without self leaves no
    candidate when every item shares the one vector. A batch mixing
    such queries with answerable ones keeps the answerable rows."""
    if metric == "hamming":
        vec, neg = [0, 0], [-1, -1]
        schema = "vec_id long, embedding array<long>"
    else:
        vec = [float(x) for x in np.random.default_rng(3).standard_normal(8)]
        neg = [-x for x in vec]
        schema = "vec_id long, embedding array<double>"
    items = spark.createDataFrame([(i, vec) for i in range(5)], schema)
    cfg = AnnIndexConfig(kind="lsh", metric=metric, seed=42, n_tables=6,
                         n_bits=6)
    idx = build_index(spark, items, str(tmp_path / "idx"), cfg)
    missing = spark.createDataFrame([(100, neg), (101, neg)], schema)
    # no member to fetch, so no cap between the batch and the members:
    # the executor plan is the reference
    rows = _assert_join_parity(
        monkeypatch, lambda: idx.query(missing, k=5), -1)
    assert rows == []
    mixed = missing.unionByName(spark.createDataFrame([(102, vec)], schema))
    rows = _assert_join_parity(monkeypatch, lambda: idx.query(mixed, k=5), 3)
    assert {r.qid for r in rows} == {102} and len(rows) == 5
    alone = spark.createDataFrame([(0,)], "vec_id long")
    idx = build_index(spark, items.limit(1), str(tmp_path / "one"), cfg)
    rows = _assert_join_parity(
        monkeypatch,
        lambda: idx.query_by_items(alone, k=5, include_self=False), -1)
    assert rows == []


def test_unit_rows_bit_identical_to_unit(spark):
    """The driver's unit projection equals Spark's _unit bit for bit: the
    norm is the same left fold (np.linalg.norm's pairwise sum is not),
    and a zero vector passes through."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import _unit, _unit_rows

    rng = np.random.default_rng(9)
    mat = np.vstack([
        rng.standard_normal((200, 65)) * 10.0 ** rng.integers(-8, 8, (200, 1)),
        np.zeros((1, 65)),
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "i long, v array<double>",
    )
    got = np.array([
        r.u for r in df.orderBy("i").select(_unit(F.col("v")).alias("u"))
        .collect()
    ])
    assert np.array_equal(_unit_rows(mat), got)


def test_load_runs_no_spark_job(spark, corpus, tmp_path):
    """Loading reads every artifact with the schema in its parquet footer
    and the salt map is empty: no Spark job, and the loaded index
    answers like the built one. A build from a local relation runs none
    either (the fetch of a local relation is not a job)."""
    import pandas as pd

    rows = corpus.collect()
    local = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r.vec_id for r in rows],
                      "embedding": [list(r.embedding) for r in rows]}),
        "vec_id long, embedding array<double>",
    )
    root = str(tmp_path / "idx")
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    built, build_jobs = jobs("local_build", lambda: build_index(
        spark, local, root, cfg))
    loaded, load_jobs = jobs("load", lambda: load_index(spark, root))
    assert (build_jobs, load_jobs) == (0, 0)
    assert not loaded._salts
    assert loaded._vectors.schema == built._vectors.schema
    qs = corpus.where("vec_id % 50 = 0")
    key = lambda r: (r.qid, r.nid, r.rank)  # noqa: E731
    assert sorted(map(key, loaded.query(qs, k=5).collect())) == sorted(
        map(key, built.query(qs, k=5).collect()))
