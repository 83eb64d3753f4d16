"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the operator inventory (SURVEY.md §2) over the driver's
parquet tables; ``oracle_sql()`` returns DuckDB SQL with bit-identical
semantics (generated from the same templates — see annoy_spark/gates/).
``entry(spark)`` runs the flagship dedup pipeline end-to-end at sf0.001.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from annoy_spark.gates import queries as G
from annoy_spark.operators.cluster import connected_components

_TESTDATA_DEFAULT = "/root/testdata/sf0.001"


def _register(spark: SparkSession, sf_dir: str) -> None:
    for name in ("documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)


def _sql_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(G.spark_sql_for(name))

    run.__name__ = f"q_{name}"
    return run


def _duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified-edge connected components (annoy_spark.operators.cluster):
    a driver union-find up to DRIVER_EDGES_MAX edges, the iterative
    large-star / small-star rounds above it."""
    _register(spark, sf_dir)
    edges = spark.sql(G.duplicate_clusters_edges_sql_spark())
    nodes = spark.sql(G.duplicate_clusters_nodes_sql_spark())
    return connected_components(edges, nodes)


def _cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters) histogram over CC output."""
    from pyspark.sql import functions as F

    labels = _duplicate_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# --- product-operator queries (operator on the Spark side, hand-built
# --- DuckDB oracle on the other) ---

LSH_MIN_RECALL_PCT = 90
SUBSTRING_MIN_LEN = 1500


def _await_or_raise(query, timeout_s: int) -> None:
    """awaitTermination returns False on timeout with the query STILL
    RUNNING; proceeding then (e.g. starting a second run on the same
    checkpoint) fails with a confusing concurrent-query error. Stop and
    raise a clear timeout instead."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"streaming query did not drain within {timeout_s}s"
        )


def _knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the approximate path (the reference's
    test/accuracy_test.py:89 pattern): recall@k of knn_lsh vs the exact
    angular top-k, emitted as recall_pass = 1 iff recall >= threshold."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    # wide-table config: the gate embeddings are UNSTRUCTURED random
    # vectors (LSH's worst case), so recall >= 0.9 needs a big candidate
    # budget — exactly annoy's search_k story (examples/precision_test.py:
    # 11-46: unstructured data needs search_k ~ n for high precision).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_lsh(emb, k=10, n_tables=32, n_bits=4, seed=42).select(
        "qid", "nid"
    )
    exact = knn_bruteforce(emb, emb, k=10).select("qid", "nid")
    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(LSH_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * LSH_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


def _hamming_pairs_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe all-pairs Hamming product operator (pigeonhole multi-index
    block equi-join); its oracle is the O(n^2) theta-join SQL — the operator
    is exact, so the outputs must hash-match."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.hamming_pairs import hamming_pairs

    _register(spark, sf_dir)
    sim = spark.sql(G.simhash_signatures_sql_spark()).select(
        "doc_id", F.array("sig").alias("sig")
    ).localCheckpoint(eager=False)  # 3-6 consumers; compute the chain once
    return hamming_pairs(sim, t=G.HAMMING_T, n_bits=G.SIMHASH_BITS)


IVF_MIN_RECALL_PCT = 80


def _knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the IVF coarse-quantizer path: recall@k of knn_ivf
    vs exact angular top-k. The gate embeddings are UNSTRUCTURED random
    vectors — IVF's worst case (cells cut neighborhoods arbitrarily), so
    the contract threshold is lower than the LSH gate's; clustered-data
    recall >= 0.9 is asserted in tests/test_ivf.py. Fully deterministic:
    seeded sample + seeded Lloyd iterations."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.ivf import knn_ivf
    from annoy_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_ivf(
        emb, k=10, n_centroids=32, nprobe=16, seed=42, sample_fraction=1.0
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10).select("qid", "nid")
    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(IVF_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * IVF_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


FOREST_MIN_RECALL_PCT = 90


def _knn_forest_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the two_means RP-forest — annoy's actual index
    structure (annoylib.h:363-403 two_means, 1344-1445 _make_tree,
    1447-1480 traversal): recall@k of knn_forest vs the exact angular
    top-k, emitted as recall_pass = 1 iff recall >= threshold. Fully
    deterministic: seeded sample + seeded two_means streams."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.forest import knn_forest
    from annoy_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 32 trees: the gate embeddings are unstructured random vectors (the
    # forest's worst case); deterministic recall at this budget is 0.988
    # vs the 0.90 contract (see BENCH/precision_sweep.md for the curve)
    approx = knn_forest(
        emb, k=10, n_trees=32, leaf_cap=32, seed=42, sample_fraction=1.0
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10).select("qid", "nid")
    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(FOREST_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * FOREST_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


def _knn_forest_euclid_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean twin of the forest gate: two_means offset-plane splits
    (annoylib.h:849-891 — normal p-q, plane through the midpoint) vs the
    exact euclidean top-k. Deterministic recall at this budget is 0.989."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.forest import knn_forest
    from annoy_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_forest(
        emb, k=10, n_trees=32, leaf_cap=32, seed=42, metric="euclidean",
        sample_fraction=1.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="euclidean").select(
        "qid", "nid"
    )
    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(FOREST_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * FOREST_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


MIPS_MIN_RECALL_PCT = 90


def _knn_mips_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the approximate MIPS path — the Bachrach
    reduction (annoylib.h:605-703): items augmented with
    sqrt(M^2-|x|^2), queries with 0, angular buckets propose, exact
    -<q,n> re-ranks. recall@k vs the exact dot top-k."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_lsh(
        emb, k=10, n_tables=32, n_bits=4, seed=42, metric="dot"
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="dot").select("qid", "nid")
    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(MIPS_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * MIPS_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


def _recall_stats(items, exact, approx, k: int, threshold: int) -> DataFrame:
    """(k, n_items, min_recall_pct, recall_pass) — the shared contract row
    of every thresholded recall gate (test/accuracy_test.py:89 pattern)."""
    from pyspark.sql import functions as F

    hits = exact.join(approx, ["qid", "nid"], "left_semi")
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .crossJoin(items.agg(F.count(F.lit(1)).alias("n_items")))
    )
    return stats.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(threshold).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact") * threshold
        ).cast("long").alias("recall_pass"),
    )


PSTABLE_MIN_RECALL_PCT = 90


def _knn_pstable_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the p-stable E2LSH euclidean path (Datar et al.
    '04 — the data-independent analog of annoy's two-means euclidean
    splits, annoylib.h:849-891): recall@k of knn_lsh(metric='euclidean')
    vs the exact L2 top-k (the reference gates every metric's accuracy —
    test/euclidean_index_test.py:77-112)."""
    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 16x4 @ width 4.0: measured recall 0.9996 on the unstructured gate
    # vectors (vs the 0.90 contract); 32 tables doubles candidate volume
    # for +0.0004
    approx = knn_lsh(
        emb, k=10, n_tables=16, n_bits=4, seed=42, metric="euclidean",
        bucket_width=4.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="euclidean").select(
        "qid", "nid"
    )
    return _recall_stats(emb, exact, approx, 10, PSTABLE_MIN_RECALL_PCT)


def _knn_manhattan_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manhattan twin of the p-stable gate (Cauchy projections, p=1 —
    annoy's Manhattan splits, annoylib.h:875-891): recall@k vs the exact
    L1 top-k. Cauchy tails need ~16x the L2 quantization width (w=64
    measures 0.989 vs the 0.90 contract on this corpus)."""
    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_lsh(
        emb, k=10, n_tables=16, n_bits=4, seed=42, metric="manhattan",
        bucket_width=64.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="manhattan").select(
        "qid", "nid"
    )
    return _recall_stats(emb, exact, approx, 10, PSTABLE_MIN_RECALL_PCT)


HAMMING_LSH_MIN_RECALL_PCT = 90


def _knn_hamming_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the bit-sampling hamming-LSH path (annoy's
    axis-aligned Hamming splits, annoylib.h:758-792; accuracy contract of
    test/hamming_index_test.py:72-90): recall@k vs the exact popcount
    top-k over the derived corpus' simhash signatures."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    _register(spark, sf_dir)
    sim = spark.sql(G.simhash_signatures_sql_spark()).select(
        "doc_id", F.array("sig").alias("sig")
    ).localCheckpoint(eager=False)  # 3-6 consumers; compute the chain once
    approx = knn_lsh(
        sim, k=10, n_tables=32, n_bits=4, seed=42, metric="hamming",
        id_col="doc_id", vec_col="sig",
    ).select("qid", "nid")
    exact = knn_bruteforce(
        sim, sim, k=10, metric="hamming", id_col="doc_id", vec_col="sig"
    ).select("qid", "nid")
    return _recall_stats(sim, exact, approx, 10, HAMMING_LSH_MIN_RECALL_PCT)


def _by_vector_queries(emb) -> DataFrame:
    """Deterministic by-VECTOR query batch: every 50th embedding, re-id'd
    outside the item id space (a query is not a stored item —
    get_nns_by_vector, annoylib.h:1234-1236)."""
    from pyspark.sql import functions as F

    return emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )


FOREST_BV_MIN_RECALL_PCT = 90


def _knn_forest_by_vector_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE annoy lifecycle, end to end in one gate: build the two_means
    forest index, SAVE it (config-hash-stamped model npz + parquet bucket
    assignments), LOAD it back, and answer by-vector queries from the
    reloaded index (annoylib.h:1093-1236; golden-index contract of
    test/index_test.py:29-34). recall@k vs exact angular top-k; spill_eps
    (the search_k analog) is applied at QUERY time against the stored
    trees."""
    import tempfile

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_forest_idx_")
    build_index(spark, emb, root, cfg)
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10, spill_eps=0.05).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


def _ann_query_stream_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN SERVING (annoy's load-the-shared-index-and-answer-
    lookups workflow, README.rst:25-27, as Structured Streaming): build +
    save the forest index, then answer a STREAM of query vectors from the
    persisted artifacts via foreachBatch (availableNow drain, exactly-once
    sink), and gate recall@k of the streamed answers vs the exact angular
    top-k."""
    import tempfile

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import AnnIndexConfig, build_index
    from annoy_spark.streaming.ann_query_stream import ann_query_stream

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    tmp = tempfile.mkdtemp(prefix="annoy_spark_servestream_")
    build_index(spark, emb, f"{tmp}/idx", cfg)
    qs.write.mode("append").parquet(f"{tmp}/in")
    _await_or_raise(
        ann_query_stream(
            spark, f"{tmp}/idx", f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck",
            k=10, spill_eps=0.05,
        ),
        300,
    )
    approx = spark.read.parquet(f"{tmp}/out").select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


IVF_BV_MIN_RECALL_PCT = 80


def _knn_ivf_by_vector_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of the persisted-index lifecycle gate: build + save the
    coarse quantizer index, load it back, probe nprobe cells per query
    vector, recall@k vs exact angular top-k (unstructured vectors — IVF's
    worst case, same threshold as the all-items IVF gate)."""
    import tempfile

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="ivf", metric="angular", n_centroids=32, nprobe=16, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_ivf_idx_")
    build_index(spark, emb, root, cfg)
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, IVF_BV_MIN_RECALL_PCT)


def _knn_forest_dot_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DotProduct TREES (annoylib.h:540-552 node dot_factor, :605-703
    create_split/preprocess): the forest kind with metric='dot' — angular
    two_means trees over the Bachrach-augmented (dim+1) space (items
    carry sqrt(M^2-|x|^2), queries 0), exact -<q,n> re-rank. Full
    persisted lifecycle: build, save, load, query by vector; recall@k vs
    the exact dot top-k. Measured 1.00 at this budget on both gate sfs."""
    import tempfile

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="dot", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_forest_dot_idx_")
    build_index(spark, emb, root, cfg)
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10, spill_eps=0.05).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10, metric="dot").select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


def _knn_ivf_dot_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of the DotProduct-trees gate: spherical centroids trained
    over the MIPS-augmented space (annoylib.h:605-703), items assigned by
    their augmented form, queries probe nprobe cells with the
    0-augmentation, exact -<q,n> re-rank. Measured 0.87/0.91 at the two
    gate sfs at this budget."""
    import tempfile

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="ivf", metric="dot", n_centroids=32, nprobe=16, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_ivf_dot_idx_")
    build_index(spark, emb, root, cfg)
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10, metric="dot").select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, IVF_BV_MIN_RECALL_PCT)


def _ann_index_append_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-append lifecycle gate (annoy's unbuild -> add_item ->
    build reopening, annoylib.h:1080-1091; allowed transitions pinned by
    test/index_test.py:234-245): build the index on HALF the corpus,
    APPEND the other half with the frozen stored router (new items routed
    with the same trees, bucket/vector artifacts appended, count deltas
    merged), reload, and gate by-vector recall@k against the exact top-k
    over the FULL corpus — an append must leave the index as good as a
    fresh build at the same config."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        append_index,
        build_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_append_idx_")
    build_index(spark, emb.where(F.col("vec_id") % 2 == 0), root, cfg)
    append_index(spark, root, emb.where(F.col("vec_id") % 2 == 1))
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10, spill_eps=0.05).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


def _ann_index_compact_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction lifecycle gate — the maintenance op the append-only
    persisted format needs (annoy's ``save`` writes ONE contiguous file,
    annoylib.h:1093-1127; after many appends this index is many small
    delta files). Grow the index by appends, COMPACT it mid-life
    (artifacts rewritten to consolidated snapshots, count deltas
    collapsed to one row per bucket), keep growing AFTER the compact,
    and gate by-vector recall@k over the full corpus — a compacted index
    must answer exactly as well as the never-compacted one."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        append_index,
        build_index,
        compact_index,
        load_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_compact_idx_")
    build_index(spark, emb.where(F.col("vec_id") % 3 == 0), root, cfg)
    append_index(spark, root, emb.where(F.col("vec_id") % 3 == 1))
    compact_index(spark, root)
    append_index(spark, root, emb.where(F.col("vec_id") % 3 == 2))
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(qs, k=10, spill_eps=0.05).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


def _ann_item_stream_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ITEM ingest gate — the daily-growing-corpus twin of the
    append gate (annoy's unbuild -> add_item -> build as a stream): build
    the index on half the corpus, drain the OTHER half through
    ann_item_stream (foreachBatch append with the per-checkpoint batch
    ledger), reload, and gate by-vector recall@k vs the exact top-k over
    the FULL corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )
    from annoy_spark.streaming.ann_item_stream import ann_item_stream

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=32, leaf_cap=32, seed=42,
        sample_fraction=1.0,
    )
    tmp = tempfile.mkdtemp(prefix="annoy_spark_itemstream_")
    build_index(spark, emb.where(F.col("vec_id") % 2 == 0), f"{tmp}/idx",
                cfg)
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(
        f"{tmp}/in"
    )
    _await_or_raise(
        ann_item_stream(spark, f"{tmp}/idx", f"{tmp}/in", f"{tmp}/ck"),
        300,
    )
    idx = load_index(spark, f"{tmp}/idx", expected=cfg)
    approx = idx.query(qs, k=10, spill_eps=0.05).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, FOREST_BV_MIN_RECALL_PCT)


def _knn_forest_manhattan_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manhattan two_means-forest gate (Manhattan inherits Minkowski's
    create_split — offset planes, annoylib.h:849-891 — with L1
    comparisons inside two_means, annoylib.h:871-880): recall@k of the
    all-items forest vs the exact L1 top-k."""
    from annoy_spark.operators.forest import knn_forest
    from annoy_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # spill_eps=0: 32 trees alone measure 0.981 on the gate corpus; L1
    # margins here are small relative to coordinate scale, so even a
    # 0.3 spill descends both children at most depths and blows the
    # candidate set up ~50x for +0.01 recall
    approx = knn_forest(
        emb, k=10, n_trees=32, leaf_cap=32, seed=42, metric="manhattan",
        sample_fraction=1.0, spill_eps=0.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="manhattan").select(
        "qid", "nid"
    )
    return _recall_stats(emb, exact, approx, 10, FOREST_MIN_RECALL_PCT)


def _knn_forest_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming bit-split forest gate (annoy's axis-aligned Hamming
    create_split, annoylib.h:758-792: 20 random bit tries then a
    brute-force scan; side = the bit's value, annoylib.h:744-752):
    recall@k vs the exact popcount top-k over the derived corpus'
    simhash signatures."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.forest import knn_forest
    from annoy_spark.operators.knn import knn_bruteforce

    _register(spark, sf_dir)
    sim = spark.sql(G.simhash_signatures_sql_spark()).select(
        "doc_id", F.array("sig").alias("sig")
    ).localCheckpoint(eager=False)  # 3-6 consumers; compute the chain once
    approx = knn_forest(
        sim, k=10, n_trees=32, leaf_cap=16, seed=42, metric="hamming",
        id_col="doc_id", vec_col="sig", sample_fraction=1.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(
        sim, sim, k=10, metric="hamming", id_col="doc_id", vec_col="sig"
    ).select("qid", "nid")
    return _recall_stats(sim, exact, approx, 10, HAMMING_LSH_MIN_RECALL_PCT)


HAMMING_SPILL_MIN_RECALL_PCT = 95


def _knn_forest_hamming_spill_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Query-time accuracy knob for the STORED hamming bit-split forest —
    annoy's search_k DOES widen hamming searches (the priority queue over
    bit margins, annoylib.h:745-756, :1447-1480); the bit-tree analog is
    spill LEVELS: probe both children at the bottom floor(spill_eps)
    split levels (<= 2^d leaves/tree), query side only. Full persisted
    lifecycle at spill=2; the gate floor sits ABOVE the spill-0 measured
    recall (0.94-0.96), so it fails if the knob stops widening. Measured
    1.00 / 0.9955 at the two gate sfs."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    _register(spark, sf_dir)
    sim = spark.sql(G.simhash_signatures_sql_spark()).select(
        "doc_id", F.array("sig").alias("sig")
    ).localCheckpoint(eager=False)  # 3-6 consumers; compute the chain once
    qs = sim.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "sig"
    )
    cfg = AnnIndexConfig(
        kind="forest", metric="hamming", n_trees=32, leaf_cap=16, seed=42,
        sample_fraction=1.0,
    )
    root = tempfile.mkdtemp(prefix="annoy_spark_ham_spill_idx_")
    build_index(spark, sim, root, cfg, id_col="doc_id", vec_col="sig")
    idx = load_index(spark, root, expected=cfg)
    approx = idx.query(
        qs, k=10, id_col="doc_id", vec_col="sig", spill_eps=2.0
    ).select("qid", "nid")
    exact = knn_bruteforce(
        sim, qs, k=10, metric="hamming", id_col="doc_id", vec_col="sig"
    ).select("qid", "nid")
    return _recall_stats(sim, exact, approx, 10, HAMMING_SPILL_MIN_RECALL_PCT)


def _knn_ivf_manhattan_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the k-medians coarse quantizer (assignment by L1, update
    = coordinate-wise median — the L1 minimizer): recall@k vs the exact
    L1 top-k on unstructured vectors (IVF's worst case, same threshold
    as the angular IVF gate)."""
    from annoy_spark.operators.ivf import knn_ivf
    from annoy_spark.operators.knn import knn_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = knn_ivf(
        emb, k=10, n_centroids=32, nprobe=16, seed=42, metric="manhattan",
        sample_fraction=1.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, emb, k=10, metric="manhattan").select(
        "qid", "nid"
    )
    return _recall_stats(emb, exact, approx, 10, IVF_MIN_RECALL_PCT)


def _knn_ivf_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the binary k-majority quantizer (assignment by popcount,
    update = per-bit majority vote): recall@k vs the exact popcount
    top-k over the derived simhash signatures."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.ivf import knn_ivf
    from annoy_spark.operators.knn import knn_bruteforce

    _register(spark, sf_dir)
    sim = spark.sql(G.simhash_signatures_sql_spark()).select(
        "doc_id", F.array("sig").alias("sig")
    ).localCheckpoint(eager=False)  # 3-6 consumers; compute the chain once
    approx = knn_ivf(
        sim, k=10, n_centroids=16, nprobe=8, seed=42, metric="hamming",
        id_col="doc_id", vec_col="sig", sample_fraction=1.0,
    ).select("qid", "nid")
    exact = knn_bruteforce(
        sim, sim, k=10, metric="hamming", id_col="doc_id", vec_col="sig"
    ).select("qid", "nid")
    return _recall_stats(sim, exact, approx, 10, IVF_MIN_RECALL_PCT)


def _knn_lsh_by_vector_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """By-vector mode of the hyperplane-LSH operator (the queries= path):
    query vectors are signed with the SAME planes and joined against the
    item buckets; recall@k vs exact angular top-k."""
    from annoy_spark.operators.knn import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = _by_vector_queries(emb)
    approx = knn_lsh(
        emb, k=10, n_tables=32, n_bits=4, seed=42, queries=qs
    ).select("qid", "nid")
    exact = knn_bruteforce(emb, qs, k=10).select("qid", "nid")
    return _recall_stats(emb, exact, approx, 10, LSH_MIN_RECALL_PCT)


def _embedding_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the LSH-bucketed embedding near-dup scale path
    vs the exact theta-join over the same planted-copy corpus."""
    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import embedding_near_dup_pairs_lsh

    _register(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    emb2 = emb.unionByName(
        emb.where(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
        )
    ).unionByName(
        emb.where(F.col("vec_id") % 30 == 0).select(
            (F.col("vec_id") + 2000000).alias("vec_id"),
            F.transform("embedding", lambda x: x + 0.02).alias("embedding"),
        )
    )
    lsh = embedding_near_dup_pairs_lsh(
        emb2, min_cosine=0.99, n_tables=16, n_bits=8, seed=42
    ).select("u", "v")
    exact = spark.sql(
        G.spark_sql_for("embedding_near_dup_pairs")
    ).select("u", "v")
    hits = exact.join(lsh, ["u", "v"], "left_semi")
    stats = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return stats.select(
        F.col("n_exact_pairs").cast("long").alias("n_exact_pairs"),
        F.lit(LSH_MIN_RECALL_PCT).cast("long").alias("min_recall_pct"),
        (
            F.col("n_hit") * 100 >= F.col("n_exact_pairs") * LSH_MIN_RECALL_PCT
        ).cast("long").alias("recall_pass"),
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload byte-features via mapInPandas.
    Gate columns are the integer-exact subset (+ one-division byte_mean);
    entropy/histogram floats are pytest-verified instead."""
    from annoy_spark.functions.multimodal import (
        extract_features,
        media_table_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_features(media_table_from_documents(docs)).select(
        "media_id", "media_type", "n_bytes", "byte_sum",
        "n_distinct_bytes", "byte_mean",
    )


def _streaming_dedup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming incremental dedup, driven to completion
    (availableNow) and read back from its sink: stream a derived new-file
    batch against the static signature snapshot, emit verified
    (static, new) edges keyed by path. Hamming acceptance is disabled in
    the gate config so the accept set is exactly {sha-equal} ∪
    {jaccard >= 0.8} — SQL-recomputable."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.operators.sign import sign
    from annoy_spark.streaming.dedup_stream import incremental_dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def corpus(prefix: str, df: DataFrame, content) -> DataFrame:
        return df.select(
            F.lit("r0").alias("repo"),
            F.concat(F.lit(prefix), F.col("doc_id").cast("string")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("python").alias("lang"),
            content.alias("content"),
        )

    static = corpus("doc", docs, F.col("text"))
    new_batch = corpus(
        "near", docs.where(F.col("doc_id") % 10 == 0),
        F.expr("substr(text, 15)"),
    ).unionByName(
        corpus("copy", docs.where(F.col("doc_id") % 7 == 0), F.col("text"))
    )

    cfg = DedupConfig(simhash_min_shingles=1_000_000_000)  # jaccard-only
    static_sigs = sign(static, cfg)
    tmp = tempfile.mkdtemp(prefix="annoy_spark_stream_gate_")
    new_batch.write.mode("overwrite").parquet(f"{tmp}/in")
    q = incremental_dedup_stream(
        spark, f"{tmp}/in", static_sigs, f"{tmp}/out", f"{tmp}/ck", cfg
    )
    _await_or_raise(q, 300)

    edges = spark.read.parquet(f"{tmp}/out")
    path_u = static.select(
        F.xxhash64("repo", "path", "commit").alias("u"),
        F.col("path").alias("path_u"),
    )
    path_v = new_batch.select(
        F.xxhash64("repo", "path", "commit").alias("v"),
        F.col("path").alias("path_v"),
    )
    # intra-batch edges (both ids new) drop out of the static-side join;
    # a pair proposed by both the exact and lsh branches keeps 'exact'
    return (
        edges.join(path_u, "u").join(path_v, "v")
        .groupBy("path_u", "path_v")
        .agg(F.min("kind").alias("kind"))
    )


def _stateful_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming band-candidate operator (applyInPandasWithState)
    driven to completion in TWO checkpointed availableNow runs — the
    second batch pairs against per-band-key state restored across the
    restart. Emitted candidates are exact-verified (jaccard >= s) so the
    output is SQL-recomputable as the O(n^2) exact-Jaccard pair set."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.operators.sign import sign
    from annoy_spark.operators.verify import jaccard_col
    from annoy_spark.streaming.stateful_band import band_candidates_stream

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # same derived corpus as the gate SQL templates' corpus CTE
    # (gates/queries.py::_corpus_cte): base docs + planted near-dups
    # (+1000000, prefix trimmed) + planted exact copies (+2000000)
    docs = (
        base.select("doc_id", "text")
        .unionByName(
            base.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substr(text, 15)").alias("text"),
            )
        )
        .unionByName(
            base.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )

    def corpus(df: DataFrame) -> DataFrame:
        return df.select(
            F.lit("r0").alias("repo"),
            F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("python").alias("lang"),
            F.col("text").alias("content"),
        )

    cfg = DedupConfig()
    tmp = tempfile.mkdtemp(prefix="annoy_spark_stateful_gate_")
    corpus(docs.where(F.col("doc_id") % 2 == 0)).write.mode(
        "append"
    ).parquet(f"{tmp}/in")
    # state_ttl_min=0: drain mode (availableNow) terminates only without
    # pending processing-time timeouts — see band_candidates_stream_df
    _await_or_raise(
        band_candidates_stream(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck", cfg,
            per_key_cap=1_000_000, state_ttl_min=0,
        ),
        600,
    )
    corpus(docs.where(F.col("doc_id") % 2 == 1)).write.mode(
        "append"
    ).parquet(f"{tmp}/in")
    _await_or_raise(
        band_candidates_stream(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ck", cfg,
            per_key_cap=1_000_000, state_ttl_min=0,
        ),
        600,
    )

    full = corpus(docs)
    ids = full.select(
        F.xxhash64("repo", "path", "commit").alias("fid"),
        F.substring("path", 4, 30).cast("long").alias("did"),
    )
    sigs = sign(full, cfg).join(ids, F.col("file_id") == F.col("fid")).select(
        F.col("did"), F.col("shingle_hashes")
    )
    cand = (
        spark.read.parquet(f"{tmp}/out")
        .join(ids.select(F.col("fid").alias("u"), F.col("did").alias("du")), "u")
        .join(ids.select(F.col("fid").alias("v"), F.col("did").alias("dv")), "v")
        .select(
            F.least("du", "dv").alias("u"), F.greatest("du", "dv").alias("v")
        )
        .distinct()
    )
    scored = (
        cand.join(
            sigs.select(F.col("did").alias("u"), F.col("shingle_hashes").alias("sh_u")),
            "u",
        )
        .join(
            sigs.select(F.col("did").alias("v"), F.col("shingle_hashes").alias("sh_v")),
            "v",
        )
        .select("u", "v", jaccard_col("sh_u", "sh_v").alias("j"))
    )
    return scored.where(F.col("j") >= cfg.jaccard_s).select("u", "v")


def _substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing exact-substring duplicate pairs over a derived corpus with
    planted verbatim blocks (block = the base doc's text repeated)."""
    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.operators.substring import substring_edges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blk = F.concat_ws(" ", *([F.col("text")] * 12))
    derived = docs.select(
        F.col("doc_id").cast("long").alias("file_id"),
        F.col("text").alias("content"),
    ).unionByName(
        docs.where(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 1000000).cast("long").alias("file_id"),
            F.concat(F.lit("prefix "), blk, F.lit(" suffix")).alias("content"),
        )
    ).unionByName(
        docs.where(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 2000000).cast("long").alias("file_id"),
            F.concat(blk, F.lit(" tail end")).alias("content"),
        )
    )
    cfg = DedupConfig(enable_substring=True,
                      min_substring_len=SUBSTRING_MIN_LEN)
    return substring_edges(derived, cfg)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the REAL product pipeline (sign -> band -> verify ->
    substring -> cluster, checkpointed) over a corpus derived from the
    sf0.001 documents table; returns (file_id, cluster_id)."""
    import tempfile

    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.plans.pipeline import run_pipeline

    docs = spark.read.parquet(f"{_TESTDATA_DEFAULT}/documents.parquet")
    # adapt documents to the corpus schema; plant near+exact dups so the
    # smoke check exercises non-trivial clustering
    corpus = docs.select(
        F.concat(F.lit("org/repo"), (F.col("doc_id") % 5).cast("string")).alias("repo"),
        F.concat(F.lit("src/doc"), F.col("doc_id").cast("string"), F.lit(".py")).alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.col("text").alias("content"),
    ).unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            F.lit("org/copy").alias("repo"),
            F.concat(F.lit("src/near"), F.col("doc_id").cast("string"), F.lit(".py")).alias("path"),
            F.lit("c1").alias("commit"),
            F.lit("python").alias("lang"),
            F.substring(F.col("text"), 15, 1_000_000).alias("content"),
        )
    )
    out = tempfile.mkdtemp(prefix="annoy_spark_entry_")
    res = run_pipeline(spark, corpus, DedupConfig(), out, resume=False)
    return res.clusters


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _sql_query(name) for name in G.TEMPLATES
    }
    out["duplicate_clusters"] = _duplicate_clusters
    out["cluster_size_hist"] = _cluster_size_hist
    # operator-backed gates with hand-built oracles
    out["knn_lsh_recall"] = _knn_lsh_recall
    out["knn_ivf_recall"] = _knn_ivf_recall
    out["knn_forest_recall"] = _knn_forest_recall
    out["knn_forest_euclid_recall"] = _knn_forest_euclid_recall
    out["knn_mips_recall"] = _knn_mips_recall
    out["knn_pstable_recall"] = _knn_pstable_recall
    out["knn_manhattan_lsh_recall"] = _knn_manhattan_lsh_recall
    out["knn_hamming_lsh_recall"] = _knn_hamming_lsh_recall
    out["knn_forest_by_vector_recall"] = _knn_forest_by_vector_recall
    out["knn_ivf_by_vector_recall"] = _knn_ivf_by_vector_recall
    out["knn_forest_dot_recall"] = _knn_forest_dot_recall
    out["knn_ivf_dot_recall"] = _knn_ivf_dot_recall
    out["ann_index_append_recall"] = _ann_index_append_recall
    out["ann_index_compact_recall"] = _ann_index_compact_recall
    out["ann_item_stream_recall"] = _ann_item_stream_recall
    out["knn_forest_manhattan_recall"] = _knn_forest_manhattan_recall
    out["knn_forest_hamming_recall"] = _knn_forest_hamming_recall
    out["knn_forest_hamming_spill_recall"] = _knn_forest_hamming_spill_recall
    out["knn_ivf_manhattan_recall"] = _knn_ivf_manhattan_recall
    out["knn_ivf_hamming_recall"] = _knn_ivf_hamming_recall
    out["knn_lsh_by_vector_recall"] = _knn_lsh_by_vector_recall
    out["ann_query_stream_recall"] = _ann_query_stream_recall
    out["embedding_near_dup_recall"] = _embedding_near_dup_recall
    out["hamming_pairs_pigeonhole"] = _hamming_pairs_pigeonhole
    out["media_features"] = _media_features
    out["substring_pairs"] = _substring_pairs
    out["streaming_dedup_edges"] = _streaming_dedup_edges
    out["stateful_band_pairs"] = _stateful_band_pairs
    # the three slowest gates run FIRST: the round-5 driver correctness run
    # stopped after 50 entries, leaving exactly these three (then last)
    # without a recorded row. Dict order is the driver's execution order;
    # nothing about any query's SQL, fixture, or result changes.
    heavy_first = (
        "substring_pairs", "streaming_dedup_edges", "stateful_band_pairs",
    )
    out = {
        **{name: out[name] for name in heavy_first},
        **{n: f for n, f in out.items() if n not in heavy_first},
    }
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: G.duck_sql_for(name) for name in G.TEMPLATES}
    out["duplicate_clusters"] = G.q_duplicate_clusters_duck()
    out["cluster_size_hist"] = G.q_cluster_size_hist_duck()
    out["knn_lsh_recall"] = G.q_knn_lsh_recall_duck(LSH_MIN_RECALL_PCT)
    out["knn_ivf_recall"] = G.q_knn_lsh_recall_duck(IVF_MIN_RECALL_PCT)
    out["knn_forest_recall"] = G.q_knn_lsh_recall_duck(FOREST_MIN_RECALL_PCT)
    out["knn_forest_euclid_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_MIN_RECALL_PCT
    )
    out["knn_mips_recall"] = G.q_knn_lsh_recall_duck(MIPS_MIN_RECALL_PCT)
    out["knn_pstable_recall"] = G.q_knn_lsh_recall_duck(PSTABLE_MIN_RECALL_PCT)
    out["knn_manhattan_lsh_recall"] = G.q_knn_lsh_recall_duck(
        PSTABLE_MIN_RECALL_PCT
    )
    out["knn_hamming_lsh_recall"] = G.q_knn_hamming_lsh_recall_duck(
        HAMMING_LSH_MIN_RECALL_PCT
    )
    out["knn_forest_by_vector_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["knn_ivf_by_vector_recall"] = G.q_knn_lsh_recall_duck(
        IVF_BV_MIN_RECALL_PCT
    )
    out["knn_forest_dot_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["knn_ivf_dot_recall"] = G.q_knn_lsh_recall_duck(
        IVF_BV_MIN_RECALL_PCT
    )
    out["ann_index_append_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["ann_index_compact_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["ann_item_stream_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["knn_forest_manhattan_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_MIN_RECALL_PCT
    )
    out["knn_forest_hamming_recall"] = G.q_knn_hamming_lsh_recall_duck(
        HAMMING_LSH_MIN_RECALL_PCT
    )
    out["knn_forest_hamming_spill_recall"] = G.q_knn_hamming_lsh_recall_duck(
        HAMMING_SPILL_MIN_RECALL_PCT
    )
    out["knn_ivf_manhattan_recall"] = G.q_knn_lsh_recall_duck(
        IVF_MIN_RECALL_PCT
    )
    out["knn_ivf_hamming_recall"] = G.q_knn_hamming_lsh_recall_duck(
        IVF_MIN_RECALL_PCT
    )
    out["knn_lsh_by_vector_recall"] = G.q_knn_lsh_recall_duck(
        LSH_MIN_RECALL_PCT
    )
    out["ann_query_stream_recall"] = G.q_knn_lsh_recall_duck(
        FOREST_BV_MIN_RECALL_PCT
    )
    out["embedding_near_dup_recall"] = G.q_embedding_near_dup_recall_duck(
        LSH_MIN_RECALL_PCT
    )
    # the theta-join IS the pigeonhole operator's oracle (operator is exact)
    out["hamming_pairs_pigeonhole"] = G.duck_sql_for("simhash_hamming_pairs")
    out["media_features"] = G.q_media_features_duck()
    out["substring_pairs"] = G.q_substring_pairs_duck(SUBSTRING_MIN_LEN)
    out["streaming_dedup_edges"] = G.q_streaming_dedup_edges_duck()
    out["stateful_band_pairs"] = G.q_stateful_band_pairs_duck()
    return out
