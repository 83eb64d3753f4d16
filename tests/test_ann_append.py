"""Incremental append to the persisted ANN index — annoy's
unbuild -> add_item -> build reopening (/root/reference/src/
annoylib.h:1080-1091; test/index_test.py:234-245 pins which transitions
are allowed), plus the introspection API (annoylib.h:1238-1254) and the
driver-routed vs executor-routed query paths."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from annoy_spark.operators.knn import knn_bruteforce
from annoy_spark.sources.ann_index import (
    AnnIndexConfig,
    append_index,
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


def test_append_matches_build_once(spark, corpus, queries, tmp_path):
    """Build on half the corpus, append the other half: every appended
    item is findable (frozen router routes items and queries identically,
    so candidates match the build-once index exactly for forest kind
    built from the same seed + same trainer sample)."""
    k = 10
    # split by id RANGE: clusters are vec_id % 20, so each cluster has
    # members in both halves (a parity split would align with clusters)
    half_a = corpus.where(F.col("vec_id") < 200)
    half_b = corpus.where(F.col("vec_id") >= 200)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=16, seed=42,
        sample_fraction=1.0,
    )
    root = str(tmp_path / "idx")
    idx = build_index(spark, half_a, root, cfg)
    idx = idx.append(half_b)
    assert idx.n_items() == corpus.count()
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    approx = idx.query(queries, k=k, spill_eps=0.15).collect()
    r = _recall(exact, approx, k)
    assert r >= 0.9, f"appended-index recall {r:.3f}"
    # neighbors span BOTH halves (the append is actually queried)
    nids = {row.nid for row in approx}
    assert any(n < 200 for n in nids) and any(n >= 200 for n in nids)
    # and a reload answers identically (append persisted everything)
    reloaded = load_index(spark, root, expected=cfg)
    assert reloaded.n_items() == corpus.count()
    b = reloaded.query(queries, k=k, spill_eps=0.15).collect()
    assert sorted((x.qid, x.nid, x.rank) for x in approx) == sorted(
        (x.qid, x.nid, x.rank) for x in b
    )


def test_append_rejects_id_collision_and_dim_change(
    spark, corpus, tmp_path
):
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    with pytest.raises(ValueError, match="collide"):
        append_index(
            spark, root, corpus.where(F.col("vec_id") < 10)
        )
    wrong_dim = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        append_index(spark, root, wrong_dim)


def test_append_id_clash_names_ids_and_jobs(spark, corpus, tmp_path):
    """An id clash fails naming up to 5 of the clashing ids, before
    anything is staged: no marker, the index unchanged. A 250-row
    append runs at most 4 Spark jobs (the id-clash semi-join fetch and
    the touched buckets' stored counts, 2 each)."""
    import pandas as pd
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    before = _index_state(spark, root)
    clash = corpus.where(F.col("vec_id").between(190, 209))
    with pytest.raises(
        ValueError, match=r"collide with stored ids \(e\.g\. "
        r"\[190, 191, 192, 193, 194\]\)"
    ):
        idx.append(clash)
    assert not (Path(root) / ann_index._PENDING).exists()
    assert _index_state(spark, root) == before
    rng = np.random.default_rng(5)
    batch = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": np.arange(1000, 1250),
            "embedding": list(rng.standard_normal((250, 16))),
        }),
        "vec_id long, embedding array<double>",
    )
    sc = spark.sparkContext
    sc.setJobGroup("append_250", "250-row append")
    try:
        idx.append(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup("append_250")) <= 4
    assert idx.n_items() == 450


def test_append_crossing_bucket_cap_resalts(spark, tmp_path):
    """An append that pushes a bucket over bucket_cap must flip
    has_oversized and re-derive consistent salts for ALL the bucket's
    items (old and new) — frozen stored salts would strand the old rows
    in salt 0 while queries replicate over m."""
    rng = np.random.default_rng(11)
    base = [float(x) for x in rng.standard_normal(8)]
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, base) for i in ids], "vec_id long, embedding array<double>"
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, bucket_cap=40, seed=42)
    root = str(tmp_path / "hot")
    idx = build_index(spark, mk(range(30)), root, cfg)
    assert not idx._salts
    idx = idx.append(mk(range(1000, 1300)))
    assert idx._salts
    qs = spark.createDataFrame(
        [(9_000_000, base)], "vec_id long, embedding array<double>"
    )
    got = idx.query(qs, k=10).collect()
    assert len(got) == 10
    assert all(r.distance < 1e-6 for r in got)
    nids = {r.nid for r in got}
    # candidates must come from the pre-append AND post-append populations
    # (salt replication covers every sub-bucket)
    assert idx.n_items() == 330


def test_append_mips_norm_guard(spark, tmp_path):
    """The MIPS augmentation scale M^2 is frozen at build
    (annoylib.h:605-703); an appended item with a larger norm must be
    rejected, not silently clamped."""
    small = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    big = spark.createDataFrame(
        [(999, [50.0, 50.0])], "vec_id long, embedding array<double>"
    )
    cfg = AnnIndexConfig(kind="lsh", metric="dot", n_tables=4, n_bits=4,
                         seed=42)
    root = str(tmp_path / "mips")
    build_index(spark, small, root, cfg)
    with pytest.raises(ValueError, match="max-norm"):
        append_index(spark, root, big)


def test_introspection(spark, corpus, tmp_path):
    """get_n_items / get_item_vector analogs (annoylib.h:1238-1254)."""
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    assert idx.n_items() == corpus.count()
    assert idx.n_trees() == 4
    assert idx.n_buckets() > 0
    assert idx.get_f() == idx.cfg.dim > 0
    v = idx.get_item_vector(0)
    # angular stores the unit vector
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9
    with pytest.raises(KeyError):
        idx.get_item_vector(123456789)


def test_query_by_items(spark, corpus, tmp_path):
    """get_nns_by_item over the stored index (annoylib.h:1228-1232): the
    query vector is the stored item's own representation, so its nearest
    neighbor (excluding itself) is a cluster twin; include_self=True
    returns the item itself at distance ~0 rank 1."""
    cfg = AnnIndexConfig(
        kind="forest", n_trees=16, seed=42, sample_fraction=1.0
    )
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    ids = spark.createDataFrame(
        [(0,), (7,), (140,)], "vec_id long"
    )
    with_self = idx.query_by_items(ids, k=5, include_self=True).collect()
    firsts = {r.qid: (r.nid, r.distance) for r in with_self if r.rank == 1}
    assert set(firsts) == {0, 7, 140}
    for qid, (nid, d) in firsts.items():
        assert nid == qid and d < 1e-9
    without = idx.query_by_items(ids, k=5).collect()
    assert len(without) == 15
    assert all(r.nid != r.qid for r in without)
    # ranks re-densified 1..k per query
    for q in (0, 7, 140):
        assert sorted(r.rank for r in without if r.qid == q) == [1, 2, 3, 4, 5]
    # neighbors are cluster twins (cluster = vec_id % 20)
    top1 = {r.qid: r.nid for r in without if r.rank == 1}
    assert all(nid % 20 == qid % 20 for qid, nid in top1.items())


def test_lsh_save_load_bit_identical(spark, corpus, queries, tmp_path):
    """ADVICE r3: the lsh kind's persisted round trip (plane re-derivation
    from seed; stored MIPS max_n2 reload) was untested. Angular and dot
    configs both reload bit-identically."""
    for metric, sub in (("angular", "a"), ("dot", "d")):
        cfg = AnnIndexConfig(
            kind="lsh", metric=metric, n_tables=12, n_bits=6, seed=42
        )
        root = str(tmp_path / f"lsh_{sub}")
        live = build_index(spark, corpus, root, cfg)
        a = sorted(
            live.query(queries, k=10).collect(),
            key=lambda r: (r.qid, r.rank),
        )
        reloaded = load_index(spark, root, expected=cfg)
        if metric == "dot":
            assert "max_n2" in reloaded.model.arrays  # persisted scalar
        b = sorted(
            reloaded.query(queries, k=10).collect(),
            key=lambda r: (r.qid, r.rank),
        )
        assert len(a) > 0
        assert [(r.qid, r.nid, r.rank, r.distance) for r in a] == [
            (r.qid, r.nid, r.rank, r.distance) for r in b
        ]


def test_ivf_query_time_nprobe(spark, corpus, queries, tmp_path):
    """nprobe is a QUERY-TIME budget on the stored IVF index (the
    search_k contract, annoylib.h:1447-1480): one build serves every
    accuracy level, wider probes recall at least as much."""
    k = 10
    cfg = AnnIndexConfig(
        kind="ivf", metric="angular", n_centroids=20, nprobe=2, seed=42,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus, str(tmp_path / "ivf"), cfg)
    exact = knn_bruteforce(corpus, queries, k=k).collect()
    narrow = idx.query(queries, k=k).collect()          # cfg.nprobe = 2
    wide = idx.query(queries, k=k, nprobe=10).collect()  # override
    r_narrow = _recall(exact, narrow, k)
    r_wide = _recall(exact, wide, k)
    assert r_wide >= r_narrow
    assert r_wide >= 0.9, f"nprobe=10 recall {r_wide:.3f}"
    # default query matches an explicit nprobe=cfg.nprobe query exactly
    same = idx.query(queries, k=k, nprobe=2).collect()
    assert sorted((r.qid, r.nid, r.rank) for r in narrow) == sorted(
        (r.qid, r.nid, r.rank) for r in same
    )


def test_large_batch_falls_back_to_shuffle(spark, corpus, tmp_path,
                                          monkeypatch):
    """A batch past SMALL_QUERY_MAX is routed on the executors (routing
    UDF + shuffle equi-joins) instead of the driver; forced here on the
    same batch by lowering the cap, it must return the same rows as the
    driver-routed plan. An empty batch returns no rows, with the same
    schema, on both paths."""
    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=8, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    qs = corpus.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    small = idx.query(qs, k=5)
    a = small.collect()
    empty_small = idx.query(qs.limit(0), k=5)
    monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", 10)
    large = idx.query(qs, k=5)
    b = large.collect()
    monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", -1)
    empty_large = idx.query(qs.limit(0), k=5)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "ArrowEvalPython" not in plan(small)
    assert "ArrowEvalPython" in plan(large)
    assert len(a) == corpus.count() * 5
    key = lambda r: (r.qid, r.nid, r.rank)  # noqa: E731
    a, b = sorted(a, key=key), sorted(b, key=key)
    assert [key(r) for r in a] == [key(r) for r in b]
    assert max(abs(x.distance - y.distance) for x, y in zip(a, b)) <= 1e-12
    for df in (empty_small, empty_large):
        assert df.schema == small.schema
        assert df.collect() == []


def test_small_batch_routes_on_driver(spark, corpus, tmp_path, monkeypatch):
    """A 500-query batch from a local relation (the serving shape) runs
    no Python UDF and at most 4 Spark jobs: the batch fetch runs none,
    routing and the re-rank are numpy on the driver, and the two bounded
    fetches (the routed buckets' assignments, their items' vectors) run
    two each. The answer is a local relation. The same batch as a
    non-local input is fetched through Arrow and returns the same rows."""
    import pandas as pd

    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=8, seed=42)
    idx = build_index(spark, corpus, str(tmp_path / "idx"), cfg)
    rng = np.random.default_rng(3)
    qs = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": np.arange(500),
            "embedding": list(rng.standard_normal((500, 16)) * 3),
        }),
        "vec_id long, embedding array<double>",
    )
    assert qs.isLocal() and not qs.select("*").isLocal()
    via_arrow = idx.query(qs.select("*"), k=10).collect()
    fetches = []
    for name in ("_members_of", "_vectors_of"):
        def fetch(*a, _f=getattr(ann_index, name)):
            fetches.append(_f(*a))
            return fetches[-1]
        monkeypatch.setattr(ann_index, name, fetch)
    sc = spark.sparkContext
    sc.setJobGroup("driver_routed_batch", "500-query batch")
    try:
        res = idx.query(qs, k=10)
        rows = res.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 5000
    assert sorted(rows) == sorted(via_arrow)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert len(fetches) == 2
    for df in fetches:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    jobs = sc.statusTracker().getJobIdsForGroup("driver_routed_batch")
    assert 0 < len(jobs) <= 4, jobs


def test_load_rejects_old_format(spark, corpus, tmp_path):
    """An index whose meta lacks (or mismatches) the persisted-format
    version must fail the load-time geometry check with a clear message,
    not mis-read the artifacts (the annoy analog: an index file from an
    incompatible version fails `size % _s`)."""
    import json
    from pathlib import Path

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 100), root, cfg)
    meta_path = Path(root) / "model" / "_ANNOY_SPARK_META.json"
    meta = json.loads(meta_path.read_text())
    meta["format"] = 1
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format"):
        load_index(spark, root)


def test_item_stream_restart_safe(spark, corpus, queries, tmp_path):
    """Streaming item ingest: two waves through the same checkpoint append
    exactly once each; a re-run with no new files appends nothing; the
    stored index then answers with the appended items visible."""
    from annoy_spark.streaming.ann_item_stream import ann_item_stream

    half_a = corpus.where(F.col("vec_id") < 200)
    wave1 = corpus.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    wave2 = corpus.where(F.col("vec_id") >= 300)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    root = str(tmp_path / "idx")
    build_index(spark, half_a, root, cfg)

    inp, ck = str(tmp_path / "items_in"), str(tmp_path / "items_ck")
    wave1.write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 300

    wave2.write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    idx = load_index(spark, root)
    assert idx.n_items() == 400

    # drain again with nothing new: no growth (restart safety)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 400

    got = idx.query(queries, k=10, spill_eps=0.15).collect()
    assert {r.nid for r in got} & {
        r.vec_id for r in wave2.select("vec_id").collect()
    }


def test_append_counts_consistent_with_buckets(spark, corpus, tmp_path):
    """The counts artifact must agree row-for-row with the buckets it
    summarizes even across appends (counts are recounted from the STAGED
    bucket rows, never from a re-run of the routing UDF lineage), and
    meta n_items must match the vectors relation."""
    from annoy_spark.sources.checkpoint import CheckpointStore

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    half = corpus.where(F.col("vec_id") < 200)
    rest = corpus.where(F.col("vec_id") >= 200)
    idx = build_index(spark, half, root, cfg)
    idx.append(rest)
    store = CheckpointStore(root, idx.cfg)
    buckets = store.read(spark, "buckets")
    counts = store.read(spark, "counts")
    assert (
        counts.agg(F.sum("gsize").alias("s")).first()["s"]
        == buckets.count()
    )
    reloaded = load_index(spark, root)
    assert reloaded.n_items() == 400
    assert store.read(spark, "vectors").count() == 400


def test_torn_append_detected_and_rolled_back(spark, corpus, tmp_path):
    """A pending marker without a publish record = a crash BEFORE any
    artifact was published: load refuses loudly, repair_index rolls the
    batch back, and the index is unchanged."""
    from pathlib import Path

    from annoy_spark.sources.ann_index import (
        _PENDING,
        _STAGING,
        _begin,
        repair_index,
    )

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, cfg)
    # the append's marker is written (no record yet), staging partial
    (_begin(Path(root), "append") / "vectors").mkdir(parents=True)
    with pytest.raises(ValueError, match="UNFINISHED append"):
        load_index(spark, root)
    idx = repair_index(spark, root)
    assert idx.n_items() == 400
    assert not (Path(root) / _PENDING).exists()
    assert not (Path(root) / _STAGING).exists()


def test_staged_append_repair_completes(
    spark, corpus, queries, tmp_path, monkeypatch
):
    """A crash AFTER staging completed and the publish was recorded, but
    before any file moved, is COMPLETED by repair_index from the
    marker's record (file moves are idempotent): the staged batch
    becomes visible exactly once and the repaired index answers queries
    with the appended items."""
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index
    from annoy_spark.sources.ann_index import (
        _PENDING,
        _STAGING,
        repair_index,
    )

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=8,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    half = corpus.where(F.col("vec_id") < 200)
    rest = corpus.where(F.col("vec_id") >= 200)
    idx = build_index(spark, half, root, cfg)

    # crash right at the publish step: staging fully written, the marker
    # holds the publish record, nothing published
    def crash(*args):
        raise RuntimeError("crash before the publish")

    monkeypatch.setattr(ann_index, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        idx.append(rest)
    monkeypatch.undo()
    staging = Path(root) / _STAGING
    assert {d.name for d in staging.iterdir()} >= {
        "vectors", "buckets", "counts"
    }

    with pytest.raises(ValueError, match="UNFINISHED append"):
        load_index(spark, root)
    repaired = repair_index(spark, root)
    assert repaired.n_items() == 400
    assert not (Path(root) / _PENDING).exists()
    assert not staging.exists()
    # repair is idempotent: a second call is a no-op load
    assert repair_index(spark, root).n_items() == 400
    got = repaired.query(queries, k=10, spill_eps=0.15).collect()
    appended_ids = {r.vec_id for r in rest.select("vec_id").collect()}
    assert {r.nid for r in got} & appended_ids


def test_item_stream_recreated_checkpoint_fails_loudly(
    spark, corpus, tmp_path
):
    """Deleting and recreating the streaming checkpoint dir restarts
    batch ids at 0 under a FRESH query id — the ledger (keyed on that
    id) must NOT mistake the new run's batches for applied replays and
    silently ingest nothing; the re-delivered rows hit the stored-id
    collision check instead."""
    from annoy_spark.streaming.ann_item_stream import ann_item_stream
    import shutil

    cfg = AnnIndexConfig(kind="forest", metric="angular", n_trees=4,
                         seed=42, sample_fraction=1.0)
    root = str(tmp_path / "idx")
    build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    inp, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 250)
    ).write.mode("append").parquet(inp)
    assert ann_item_stream(spark, root, inp, ck).awaitTermination(300)
    assert load_index(spark, root).n_items() == 250

    shutil.rmtree(ck)
    q = ann_item_stream(spark, root, inp, ck)
    with pytest.raises(Exception, match="collide"):
        q.awaitTermination(300)
    # nothing was double-ingested
    assert load_index(spark, root).n_items() == 250


def test_failed_append_rolls_back_not_bricks(spark, corpus, tmp_path):
    """An ORDINARY failed append job (here: a null embedding that explodes
    the routing UDF) must roll back the pending marker + staging, leaving
    the index loadable and appendable — not bricked until manual
    repair_index. A process CRASH mid-append still leaves the marker for
    repair (covered by the staged-publish tests)."""
    from pathlib import Path

    from annoy_spark.sources.ann_index import _PENDING, _STAGING

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(spark, corpus.where(F.col("vec_id") < 200), root, cfg)
    dim = idx.get_f()
    assert dim == 16  # the null row must survive the pre-staging dim check
    bad = spark.createDataFrame(
        [(5000, [1.0] * dim), (5001, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="invalid vector") as ei:
        idx.append(bad)
    assert "dim" not in str(ei.value)[:200]  # failed IN the staging job
    assert not (Path(root) / _PENDING).exists()
    assert not (Path(root) / _STAGING).exists()
    # not bricked: load and a clean append both work
    idx2 = load_index(spark, root)
    ok = corpus.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
    )
    idx2.append(ok)
    assert load_index(spark, root).n_items() == 220


def test_build_rejects_null_or_ragged_vectors(spark, corpus, tmp_path):
    """The per-row routing validation also guards BUILD: _infer_dim only
    samples the first row, so a later null/ragged vector must fail the
    routing job loudly instead of persisting a poison row that breaks
    get_item_vector / re-rank far from the cause."""
    good = corpus.where(F.col("vec_id") < 50)
    bad = good.unionByName(
        spark.createDataFrame(
            [(6000, None), (6001, [1.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    with pytest.raises(Exception, match="invalid vector"):
        build_index(spark, bad, str(tmp_path / "idx"), cfg)


def test_torn_model_meta_write_keeps_previous_meta(
    spark, corpus, tmp_path, monkeypatch
):
    """A write that dies partway through the model meta during append's
    publish must leave the previous meta byte-identical (temp file +
    rename, never an in-place rewrite): load refuses the index because of
    the pending marker, and repair_index completes the batch."""
    import builtins
    import io
    import os
    from pathlib import Path

    from annoy_spark.sources.ann_index import (
        _META,
        _MODEL_STAGE,
        _PENDING,
        repair_index,
    )

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42,
                         sample_fraction=1.0)
    root = str(tmp_path / "idx")
    idx = build_index(spark, corpus.where(F.col("vec_id") < 300), root, cfg)
    meta = Path(root) / _MODEL_STAGE / _META
    before = meta.read_bytes()

    class TornWriter:
        """Writes half of the first chunk, then fails like a crash."""

        def __init__(self, f):
            self._f = f

        def write(self, data):
            self._f.write(data[: len(data) // 2])
            self._f.flush()
            raise OSError("simulated crash mid-write")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

        def __getattr__(self, name):
            return getattr(self._f, name)

    real_open = builtins.open

    def torn_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        path = Path(os.fsdecode(file)) if isinstance(
            file, (str, bytes, os.PathLike)) else None
        if (path is not None and "w" in mode
                and path.parent.name == _MODEL_STAGE and _META in path.name):
            return TornWriter(f)
        return f

    # Path.write_text opens through io.open, plain open() through builtins
    monkeypatch.setattr(builtins, "open", torn_open)
    monkeypatch.setattr(io, "open", torn_open)
    with pytest.raises(OSError, match="simulated crash"):
        idx.append(corpus.where(F.col("vec_id") >= 300))
    monkeypatch.undo()

    assert meta.read_bytes() == before
    assert (Path(root) / _PENDING).exists()
    with pytest.raises(ValueError, match="UNFINISHED"):
        load_index(spark, root)
    assert repair_index(spark, root).n_items() == 400
    assert not (Path(root) / _PENDING).exists()


def _index_state(spark, root):
    """Order-independent view of a persisted index: row count and
    bit_xor(xxhash64) digest of vectors and buckets, counts summed per
    bucket, and the meta's n_items / has_oversized."""
    import json
    from pathlib import Path

    from annoy_spark.sources.ann_index import _META, _MODEL_STAGE

    out = {}
    for stage in ("vectors", "buckets"):
        df = spark.read.parquet(str(Path(root) / stage))
        cols = ", ".join(df.columns)
        out[stage] = tuple(df.agg(
            F.count(F.lit(1)),
            F.expr(f"bit_xor(xxhash64({cols}))"),
        ).first())
    out["counts"] = sorted(
        tuple(r) for r in spark.read.parquet(str(Path(root) / "counts"))
        .groupBy("bucket").agg(F.sum("gsize")).collect()
    )
    meta = json.loads((Path(root) / _MODEL_STAGE / _META).read_text())
    out["meta"] = (meta["n_items"], meta["has_oversized"])
    return out


def _parity_batches(spark, metric):
    """(build items, appended items): 200 + 60 rows; hamming rows are
    packed words, 'dot' appends are scaled inside the build's max norm."""
    rng = np.random.default_rng(21)
    if metric == "hamming":
        words = rng.integers(-(2**62), 2**62, (260, 2))
        rows = [(i, [int(x) for x in w]) for i, w in enumerate(words)]
        schema = "vec_id long, embedding array<long>"
    else:
        x = rng.standard_normal((260, 16)) + 2.0 * (np.arange(260) % 4)[:, None]
        if metric == "dot":
            x[200:] *= 0.5
        rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
        schema = "vec_id long, embedding array<double>"
    return (spark.createDataFrame(rows[:200], schema),
            spark.createDataFrame(rows[200:], schema))


@pytest.mark.parametrize("kind,metric", [
    ("forest", "angular"), ("forest", "dot"), ("forest", "hamming"),
    ("ivf", "euclidean"), ("lsh", "hamming"),
])
def test_append_driver_executor_parity(spark, tmp_path, monkeypatch, kind,
                                       metric):
    """The same batch appended on the driver path (numpy checks and
    routing, pyarrow staging) and on the executor path (routing UDF,
    Spark staging; forced by SMALL_QUERY_MAX = -1) publishes identical
    vectors, buckets, summed counts, meta and salts, and both indexes
    answer queries identically."""
    import shutil

    import annoy_spark.sources.ann_index as ann_index

    base, new = _parity_batches(spark, metric)
    cfg = AnnIndexConfig(
        kind=kind, metric=metric, seed=42, n_trees=4, leaf_cap=16,
        n_centroids=6, nprobe=2, n_tables=4, n_bits=5, bucket_cap=30,
    )
    driver, executor = str(tmp_path / "driver"), str(tmp_path / "executor")
    build_index(spark, base, driver, cfg)
    shutil.copytree(driver, executor)
    a = load_index(spark, driver).append(new)
    monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", -1)
    b = load_index(spark, executor).append(new)
    monkeypatch.undo()
    assert _index_state(spark, driver) == _index_state(spark, executor)
    assert a._salts == b._salts
    assert a.n_items() == b.n_items() == 260
    qs = new.union(base.where(F.col("vec_id") % 10 == 0)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    key = lambda r: (r.qid, r.nid, r.rank)  # noqa: E731
    got_a = sorted(map(key, a.query(qs, k=5).collect()))
    got_b = sorted(map(key, b.query(qs, k=5).collect()))
    assert got_a == got_b and len(got_a) > 0


def test_append_paths_raise_same_errors(spark, tmp_path, monkeypatch):
    """Both append paths refuse an id clash, a wrong dim, a null vector
    (naming its id) and an item past the MIPS max-norm, before anything
    is published: the index and its meta are unchanged afterwards."""
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index

    base, _ = _parity_batches(spark, "dot")
    schema = "vec_id long, embedding array<double>"
    cfg = AnnIndexConfig(kind="forest", metric="dot", n_trees=4, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(spark, base, root, cfg)
    before = _index_state(spark, root)
    cases = {
        "collide": base.where(F.col("vec_id") < 5),
        "must have dim 16": spark.createDataFrame(
            [(9000, [1.0, 2.0])], schema),
        "invalid vector for item 9002": spark.createDataFrame(
            [(9001, [0.1] * 16), (9002, None)], schema),
        "max-norm": spark.createDataFrame([(9003, [50.0] * 16)], schema),
    }
    for cap in (ann_index.SMALL_QUERY_MAX, -1):
        monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", cap)
        for pattern, batch in cases.items():
            with pytest.raises(Exception, match=pattern):
                idx.append(batch)
            assert not (Path(root) / ann_index._PENDING).exists()
    assert _index_state(spark, root) == before
    assert idx.n_items() == 200


def test_empty_append_is_noop(spark, corpus, tmp_path):
    """An empty batch changes nothing: no marker, no staging, no file,
    the same meta, and no Spark job past the batch fetch itself."""
    import pandas as pd
    from pathlib import Path

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = Path(tmp_path / "idx")
    idx = build_index(spark, corpus, str(root), cfg)

    def snapshot():
        return sorted(
            (str(p.relative_to(root)), p.read_bytes() if p.name.endswith(
                ".json") else p.stat().st_size)
            for p in root.rglob("*") if p.is_file()
        )

    before = snapshot()
    empty_pandas = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.zeros(0, np.int64), "embedding": []}),
        "vec_id long, embedding array<double>",
    )
    sc = spark.sparkContext
    for i, empty in enumerate((empty_pandas, corpus.limit(0))):
        sc.setJobGroup(f"empty_append_{i}", "empty append")
        try:
            assert idx.append(empty) is idx
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(
            f"empty_append_{i}")) <= 1
    assert idx.n_items() == 400
    assert snapshot() == before


def test_incremental_salts_match_recount(spark, tmp_path, monkeypatch):
    """After every append the merged salt map equals a full recount of
    the stored counts, and meta n_items equals the stored vectors — for
    batches that touch only cold buckets, push the hot bucket further
    past bucket_cap, and push cold buckets over it. A crash between
    staging and publish is completed by repair_index to the same meta
    and salts as an uninterrupted append."""
    import json
    import shutil
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index
    from annoy_spark.sources.ann_index import (
        _META,
        _MODEL_STAGE,
        _PENDING,
        _oversized,
        _salt_map,
        repair_index,
    )
    from annoy_spark.sources.checkpoint import CheckpointStore

    rng = np.random.default_rng(11)
    hot = [float(x) for x in rng.standard_normal(8)]
    mk = lambda ids, same: spark.createDataFrame(  # noqa: E731
        [(int(i), hot if same else [float(x) for x in rng.standard_normal(8)])
         for i in ids],
        "vec_id long, embedding array<double>",
    )
    cfg = AnnIndexConfig(kind="forest", n_trees=4, bucket_cap=40, seed=42)
    root = str(tmp_path / "idx")
    idx = build_index(
        spark, mk(range(60), True).union(mk(range(60, 120), False)), root,
        cfg,
    )
    store = CheckpointStore(root, idx.cfg)

    def recount():
        return _salt_map(_oversized(store.read(spark, "counts"), 40))

    def meta():
        m = json.loads((Path(root) / _MODEL_STAGE / _META).read_text())
        return m["n_items"], m["has_oversized"]

    assert idx._salts == recount() and idx._salts
    seen = [dict(idx._salts)]
    for ids, same in ((range(1000, 1050), False), (range(2000, 2100), True),
                      (range(3000, 3300), False)):
        idx = idx.append(mk(ids, same))
        assert idx._salts == recount()
        assert meta() == (store.read(spark, "vectors").count(),
                          bool(idx._salts))
        assert idx.n_items() == meta()[0]
        seen.append(dict(idx._salts))
    assert seen[2] != seen[1]             # the hot buckets grew
    assert len(seen[3]) > len(seen[2])    # cold buckets crossed the cap

    batch = mk(range(4000, 4080), True)
    clean = str(tmp_path / "clean")
    shutil.copytree(root, clean)
    want = load_index(spark, clean).append(batch)
    real, calls = ann_index._publish, []

    def crash_once(spark_, root_, record):
        calls.append(record)
        if len(calls) == 1:
            raise RuntimeError("crash between staging and publish")
        return real(spark_, root_, record)

    monkeypatch.setattr(ann_index, "_publish", crash_once)
    with pytest.raises(RuntimeError, match="crash between"):
        idx.append(batch)
    assert (Path(root) / _PENDING).exists()
    repaired = repair_index(spark, root)
    # repair publishes the recorded values: nothing is recounted
    assert calls[1] == calls[0]
    assert (calls[0]["n_items"], calls[0]["has_oversized"]) == (
        want.n_items(), bool(want._salts))
    assert repaired._salts == want._salts == recount()
    assert meta() == (want.n_items(), bool(want._salts))
    assert _index_state(spark, root) == _index_state(spark, clean)


def _model_arrays(root):
    from pathlib import Path

    from annoy_spark.sources.ann_index import _MODEL_STAGE, _NPZ

    with np.load(Path(root) / _MODEL_STAGE / _NPZ) as z:
        return {k: z[k] for k in z.files}


@pytest.mark.parametrize("kind,metric,n_trees", [
    ("forest", "angular", 4), ("forest", "dot", 4), ("forest", "hamming", 4),
    ("ivf", "euclidean", 4), ("lsh", "hamming", 4), ("forest", "angular", -1),
])
def test_build_driver_executor_parity(spark, tmp_path, monkeypatch, kind,
                                      metric, n_trees):
    """The same items built on the driver path (one fetch, numpy sample,
    training and routing, pyarrow staging) and on the executor path
    (Spark sample, routing UDF, Spark staging; forced by
    SMALL_QUERY_MAX = -1) give identical model arrays, artifacts, meta
    and salts — a bucket past bucket_cap included — and both indexes
    answer a query identically."""
    import annoy_spark.sources.ann_index as ann_index

    base, new = _parity_batches(spark, metric)
    # 40 copies of one vector share every bucket: past bucket_cap = 30
    hot = base.where(F.col("vec_id") == 0).crossJoin(
        spark.range(40).select((F.col("id") + 500).alias("copy"))
    ).select(F.col("copy").alias("vec_id"), "embedding")
    items = base.unionByName(hot)
    cfg = AnnIndexConfig(
        kind=kind, metric=metric, seed=42, n_trees=n_trees, leaf_cap=16,
        n_centroids=6, nprobe=2, n_tables=4, n_bits=5, bucket_cap=30,
    )
    driver, executor = str(tmp_path / "driver"), str(tmp_path / "executor")
    a = build_index(spark, items, driver, cfg)
    monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", -1)
    b = build_index(spark, items, executor, cfg)
    monkeypatch.undo()
    arrays_a, arrays_b = _model_arrays(driver), _model_arrays(executor)
    assert arrays_a.keys() == arrays_b.keys()
    assert all(np.array_equal(arrays_a[k], arrays_b[k]) for k in arrays_a)
    assert _index_state(spark, driver) == _index_state(spark, executor)
    assert a.cfg == b.cfg and a._salts == b._salts and a._salts
    assert a.n_items() == b.n_items() == 240
    qs = new.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    key = lambda r: (r.qid, r.nid, r.rank)  # noqa: E731
    got_a = sorted(map(key, a.query(qs, k=5).collect()))
    got_b = sorted(map(key, b.query(qs, k=5).collect()))
    assert got_a == got_b and len(got_a) > 0


def test_build_paths_raise_same_errors(spark, tmp_path, monkeypatch):
    """Both build paths refuse a null vector and a ragged vector naming
    the item, and an empty relation."""
    import annoy_spark.sources.ann_index as ann_index

    base, _ = _parity_batches(spark, "angular")
    schema = "vec_id long, embedding array<double>"
    cases = {
        "invalid vector for item 9000": base.unionByName(
            spark.createDataFrame([(9000, None)], schema)),
        "invalid vector for item 9001": base.unionByName(
            spark.createDataFrame([(9001, [1.0, 2.0])], schema)),
        "empty items relation": base.limit(0),
    }
    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    for cap in (ann_index.SMALL_QUERY_MAX, -1):
        monkeypatch.setattr(ann_index, "SMALL_QUERY_MAX", cap)
        for pattern, items in cases.items():
            with pytest.raises(Exception, match=pattern):
                build_index(spark, items, str(tmp_path / "idx"), cfg)


def test_rebuild_supersedes_unfinished_append_and_compact(
    spark, corpus, tmp_path, monkeypatch
):
    """A build replaces the whole root: after an append or a compaction
    crashed between staging and publish, a rebuild into the same root
    (which first completes the recorded publish, then retires every live
    file) loads clean with only its own items — no pending marker, no
    staging, and no parquet file of the old index left."""
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    root = Path(tmp_path / "idx")
    left = (ann_index._PENDING, ann_index._STAGING)

    def crash(*args):
        raise RuntimeError("crash between staging and publish")

    for op in ("append", "compaction"):
        old = build_index(spark, corpus.where(F.col("vec_id") < 200),
                          str(root), cfg)
        monkeypatch.setattr(ann_index, "_publish", crash)
        with pytest.raises(RuntimeError, match="crash between"):
            if op == "append":
                old.append(corpus.where(F.col("vec_id").between(200, 249)))
            else:
                old.compact()
        monkeypatch.undo()
        assert all((root / name).exists() for name in left)
        old_files = set(root.rglob("*.parquet"))

        new = corpus.where(F.col("vec_id") >= 250)
        build_index(spark, new, str(root), cfg)
        idx = load_index(spark, str(root))
        assert idx.n_items() == idx._vectors.count() == 150
        assert not any((root / name).exists() for name in left)
        assert not old_files & set(root.rglob("*.parquet"))


def test_crashed_build_publish_answers_old_or_new(
    spark, corpus, queries, tmp_path, monkeypatch
):
    """A build over an existing index, crashed after staging: before its
    publish is recorded, repair_index rolls back to the old index; inside
    the publish (after each artifact, and at the model meta write), the
    marker's record completes the new one. Never a mix: the repaired
    root's answers, config, artifacts and meta equal a clean build of
    exactly one of the two, and nothing but the index dirs is left."""
    from pathlib import Path

    import annoy_spark.sources.ann_index as ann_index
    from annoy_spark.sources.checkpoint import CheckpointStore

    old_cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    new_cfg = AnnIndexConfig(kind="forest", n_trees=6, seed=7)
    old_items = corpus.where(F.col("vec_id") < 200)
    new_items = corpus.where(F.col("vec_id") >= 100)
    key = lambda r: (r.qid, r.nid, r.rank)  # noqa: E731

    def clean(name, items, cfg):
        root = str(tmp_path / name)
        idx = build_index(spark, items, root, cfg)
        return (sorted(map(key, idx.query(queries, k=5).collect())),
                idx.cfg, _index_state(spark, root))

    old, new = clean("old", old_items, old_cfg), clean("new", new_items,
                                                      new_cfg)
    real_marker, real_restamp = ann_index._write_marker, CheckpointStore.restamp

    def crash_on(real, n):
        calls = []

        def dying(*args, **kwargs):
            calls.append(args)
            if len(calls) == n:
                raise RuntimeError("simulated crash")
            return real(*args, **kwargs)
        return dying

    # the second marker write is the publish record; the n-th restamp
    # publishes vectors (1), buckets (2), counts (3), the model meta (4)
    crashes = [("record", ann_index, "_write_marker",
                crash_on(real_marker, 2), old)] + [
        (f"restamp {n}", CheckpointStore, "restamp",
         crash_on(real_restamp, n), new) for n in (1, 2, 3, 4)
    ]
    for i, (where, owner, name, dying, want) in enumerate(crashes):
        root = str(tmp_path / f"idx{i}")
        build_index(spark, old_items, root, old_cfg)
        monkeypatch.setattr(owner, name, dying)
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, new_items, root, new_cfg)
        monkeypatch.undo()
        with pytest.raises(ValueError, match="UNFINISHED build"):
            load_index(spark, root)
        idx = ann_index.repair_index(spark, root)
        got = sorted(map(key, idx.query(queries, k=5).collect()))
        assert (got, idx.cfg, _index_state(spark, root)) == want, where
        assert sorted(p.name for p in Path(root).iterdir()) == [
            "buckets", "counts", "model", "vectors"], where


def test_repair_of_recorded_publish_runs_no_job(
    spark, corpus, tmp_path, monkeypatch
):
    """The publish record carries the config, n_items and has_oversized:
    completing a recorded append or compaction runs no Spark job before
    repair_index's closing load_index."""
    import annoy_spark.sources.ann_index as ann_index

    cfg = AnnIndexConfig(kind="forest", n_trees=4, seed=42)
    sc = spark.sparkContext

    def crash(*args):
        raise RuntimeError("crash before the publish")

    for op in ("append", "compaction"):
        root = str(tmp_path / op)
        idx = build_index(spark, corpus.where(F.col("vec_id") < 300), root,
                          cfg)
        monkeypatch.setattr(ann_index, "_publish", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            if op == "append":
                idx.append(corpus.where(F.col("vec_id") >= 300))
            else:
                idx.compact()
        monkeypatch.undo()
        seen, real_load = [], ann_index.load_index

        def load(*args, **kwargs):
            seen.append(len(sc.statusTracker().getJobIdsForGroup(op)))
            return real_load(*args, **kwargs)

        monkeypatch.setattr(ann_index, "load_index", load)
        sc.setJobGroup(op, op)
        try:
            repaired = ann_index.repair_index(spark, root)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
        assert seen == [0], op
        assert repaired.n_items() == (400 if op == "append" else 300)
