"""Compaction of the persisted ANN index — the maintenance op for the
append-only format. Annoy's ``save`` writes the built forest as ONE
contiguous mmap-able file (/root/reference/src/annoylib.h:1093-1127);
``compact_index`` is the distributed re-materialization of that
single-snapshot shape after appends have scattered the artifacts across
many small delta files. Contract under test: bit-identical query answers,
collapsed count deltas, fewer data files, crash-safe commit."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from annoy_spark.sources.ann_index import (
    _PENDING,
    _STAGING,
    AnnIndexConfig,
    _begin,
    build_index,
    compact_index,
    load_index,
    repair_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(11)
    n, dim = 360, 12
    centers = rng.standard_normal((18, dim)) * 3
    vecs = centers[np.arange(n) % 18] + rng.standard_normal((n, dim)) * 0.3
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return (
        corpus.where(F.col("vec_id") % 36 == 0)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + 0.01).alias("embedding"),
        )
        .cache()
    )


def _data_files(root: str, stage: str) -> list[str]:
    return sorted(
        f.name
        for f in (Path(root) / stage).iterdir()
        if f.name.endswith(".parquet")
    )


def _answers(idx, queries, k=10):
    return sorted(
        (r.qid, r.nid, r.rank)
        for r in idx.query(queries, k=k, spill_eps=0.1).collect()
    )


@pytest.fixture(scope="module")
def appended_root(spark, corpus, tmp_path_factory):
    """An index grown by three appends — the scattered-files shape."""
    root = str(tmp_path_factory.mktemp("compact") / "idx")
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=12, seed=42,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus.where(F.col("vec_id") < 90), root, cfg)
    for lo, hi in ((90, 180), (180, 270), (270, 360)):
        idx = idx.append(
            corpus.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
    return root


def _root_entries(root: str) -> list[str]:
    return sorted(p.name for p in Path(root).iterdir())


def _jobs(spark, group, fn):
    """fn's result and the Spark jobs it ran, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_compact_runs_at_most_six_jobs(spark, appended_root, tmp_path):
    """Compaction reads n_items and has_oversized from the meta and
    collapses the count deltas from one fetch of the counts artifact:
    that fetch plus the vectors and buckets rewrites (a shuffle and a
    write each) stay within 6 Spark jobs, and its publish and reload run
    none. A copy keeps the fixture's appended layout for later tests."""
    import shutil

    root = str(tmp_path / "idx")
    shutil.copytree(appended_root, root)
    idx, n_jobs = _jobs(spark, "compact", lambda: compact_index(spark, root))
    assert n_jobs <= 6
    assert idx.n_items() == 360


def test_append_job_count_unchanged(spark, corpus, appended_root, tmp_path):
    """An append through the staged commit runs the 5 jobs it ran before
    the commit was shared with build and compaction (the batch fetch, the
    id-clash semi-join and the touched buckets' stored counts); its
    publish runs none."""
    import shutil

    root = str(tmp_path / "idx")
    shutil.copytree(appended_root, root)
    idx = load_index(spark, root)
    extra = corpus.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 5_000).alias("vec_id"), "embedding"
    )
    _, n_jobs = _jobs(spark, "append", lambda: idx.append(extra))
    assert n_jobs == 5
    assert idx.n_items() == 390


def test_compact_bit_identical_and_fewer_files(
    spark, corpus, queries, appended_root
):
    idx = load_index(spark, appended_root)
    before = _answers(idx, queries)
    files_before = sum(
        len(_data_files(appended_root, s))
        for s in ("vectors", "buckets", "counts")
    )
    # count deltas: 4 write batches' worth of per-bucket partial rows
    counts_raw = spark.read.parquet(str(Path(appended_root) / "counts"))
    assert (
        counts_raw.groupBy("bucket").count().where("count > 1").count() > 0
    ), "fixture must actually hold un-collapsed count deltas"
    idx.unload()

    compacted = compact_index(spark, appended_root)
    after = _answers(compacted, queries)
    assert before == after, "compaction must not change any answer"
    assert compacted.n_items() == corpus.count()
    files_after = sum(
        len(_data_files(appended_root, s))
        for s in ("vectors", "buckets", "counts")
    )
    assert files_after < files_before
    # deltas collapsed: exactly one stored row per bucket
    counts_raw = spark.read.parquet(str(Path(appended_root) / "counts"))
    assert counts_raw.groupBy("bucket").count().where("count > 1").count() == 0
    # no staging debris, no marker, nothing but the index's own dirs
    assert not (Path(appended_root) / _PENDING).exists()
    assert not (Path(appended_root) / _STAGING).exists()
    assert _root_entries(appended_root) == [
        "buckets", "counts", "model", "vectors"
    ]
    # a reload (fresh meta read) also answers identically
    assert _answers(load_index(spark, appended_root), queries) == before


def test_append_after_compact(spark, corpus, queries, appended_root):
    """Compaction is a layout rewrite, not a freeze: the index keeps
    growing afterwards with the same frozen router."""
    idx = load_index(spark, appended_root)
    extra = corpus.select(
        (F.col("vec_id") + 1_000).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") < 1_030)
    idx = idx.append(extra)
    assert idx.n_items() == corpus.count() + 30
    nids = {r.nid for r in idx.query(queries, k=10, spill_eps=0.1).collect()}
    assert any(n >= 1_000 for n in nids), "post-compact appends must serve"


def test_crash_during_staging_rolls_back(spark, corpus, queries, tmp_path):
    """A marker without a publish record means nothing was published:
    the load refuses, repair rolls back, and the index answers exactly
    as before the attempted compact."""
    root = str(tmp_path / "idx")
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus, root, cfg)
    before = _answers(idx, queries)
    # simulate the crash: the compaction's marker written (no record
    # yet), staging partially present
    (_begin(Path(root), "compaction") / "vectors").mkdir(parents=True)
    with pytest.raises(ValueError, match="UNFINISHED compaction"):
        load_index(spark, root)
    repaired = repair_index(spark, root)
    assert _answers(repaired, queries) == before
    assert not (Path(root) / _STAGING).exists()
    assert not (Path(root) / _PENDING).exists()


def test_crash_during_publish_completes_forward(
    spark, corpus, queries, tmp_path, monkeypatch
):
    """Kill the publish after the FIRST artifact (vectors new, buckets
    half-published, counts old, staging half-consumed — the nastiest torn
    state): repair must complete the publish from the marker's record,
    and answers stay bit-identical."""
    import annoy_spark.sources.ann_index as ai

    root = str(tmp_path / "idx")
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=43,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus.where(F.col("vec_id") < 180), root, cfg)
    idx = idx.append(corpus.where(F.col("vec_id") >= 180))
    before = _answers(idx, queries)
    idx.unload()

    real_restamp = ai.CheckpointStore.restamp
    calls = {"n": 0}

    def dying_restamp(self, stage, **extra):
        calls["n"] += 1
        if calls["n"] == 2:  # vectors published; die on buckets
            raise RuntimeError("simulated crash mid-publish")
        return real_restamp(self, stage, **extra)

    monkeypatch.setattr(ai.CheckpointStore, "restamp", dying_restamp)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_index(spark, root)
    monkeypatch.setattr(ai.CheckpointStore, "restamp", real_restamp)

    # torn: the marker records the publish, vectors published, buckets not
    record = json.loads((Path(root) / _PENDING).read_text())
    assert record["op"] == "compaction" and record["n_items"] == 360
    assert record["retire"]["counts"]
    with pytest.raises(ValueError, match="UNFINISHED compaction"):
        load_index(spark, root)

    repaired = repair_index(spark, root)
    assert _answers(repaired, queries) == before
    assert not (Path(root) / _STAGING).exists()
    assert _root_entries(root) == ["buckets", "counts", "model", "vectors"]
    # fully compacted: deltas collapsed despite the mid-flight crash
    counts_raw = spark.read.parquet(str(Path(root) / "counts"))
    assert counts_raw.groupBy("bucket").count().where("count > 1").count() == 0


def test_item_stream_compact_every(spark, corpus, queries, tmp_path):
    """compact_every on the ingest stream: maintenance fires after every
    Nth applied batch, the delta history collapses, and everything keeps
    serving + growing afterwards (the long-running daily-ingest shape)."""
    from annoy_spark.streaming.ann_item_stream import ann_item_stream

    base = corpus.where(F.col("vec_id") < 180)
    wave1 = corpus.where((F.col("vec_id") >= 180) & (F.col("vec_id") < 270))
    wave2 = corpus.where(F.col("vec_id") >= 270)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    root = str(tmp_path / "idx")
    build_index(spark, base, root, cfg)

    inp, ck = str(tmp_path / "items_in"), str(tmp_path / "items_ck")
    wave1.write.mode("append").parquet(inp)  # batch 0: no compact yet
    assert ann_item_stream(
        spark, root, inp, ck, compact_every=2
    ).awaitTermination(300)
    assert (
        spark.read.parquet(str(Path(root) / "counts"))
        .groupBy("bucket").count().where("count > 1").count() > 0
    ), "batch 0 must leave un-collapsed deltas (compact not due yet)"

    wave2.write.mode("append").parquet(inp)  # batch 1: compact fires
    assert ann_item_stream(
        spark, root, inp, ck, compact_every=2
    ).awaitTermination(300)
    assert (
        spark.read.parquet(str(Path(root) / "counts"))
        .groupBy("bucket").count().where("count > 1").count() == 0
    ), "compact after batch 1 must collapse the delta history"
    assert not (Path(root) / _PENDING).exists()

    idx = load_index(spark, root)
    assert idx.n_items() == corpus.count()
    nids = {r.nid for r in idx.query(queries, k=10, spill_eps=0.15).collect()}
    assert nids & {r.vec_id for r in wave2.select("vec_id").collect()}


def test_cli_repair_resolves_unfinished_compaction(spark, corpus, tmp_path):
    """`submit_index repair` must resolve a torn COMPACT (not just a torn
    append): repair_index reads the one marker, whichever operation
    left it."""
    import annoy_spark.submit_index as cli

    root = str(tmp_path / "idx")
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    build_index(spark, corpus, root, cfg)
    (_begin(Path(root), "compaction") / "buckets").mkdir(parents=True)
    assert cli.main(["repair", "--root", root]) == 0
    assert not (Path(root) / _PENDING).exists()
    assert load_index(spark, root).n_items() == corpus.count()


def test_compact_lsh_dot_kind_bit_identical(spark, corpus, queries, tmp_path):
    """Compaction is kind-agnostic: an lsh/dot index (seed-derived planes,
    persisted MIPS max_n2) answers bit-identically after append+compact —
    the artifacts are the same three relations on every kind."""
    cfg = AnnIndexConfig(kind="lsh", metric="dot", n_tables=12, n_bits=6,
                         seed=42)
    root = str(tmp_path / "lsh_dot")
    idx = build_index(spark, corpus.where(F.col("vec_id") < 300), root, cfg)
    idx = idx.append(corpus.where(F.col("vec_id") >= 300))
    before = sorted(
        (r.qid, r.nid, r.rank, r.distance)
        for r in idx.query(queries, k=10).collect()
    )
    idx.unload()
    compacted = compact_index(spark, root)
    assert "max_n2" in compacted.model.arrays
    after = sorted(
        (r.qid, r.nid, r.rank, r.distance)
        for r in compacted.query(queries, k=10).collect()
    )
    assert len(before) > 0 and before == after


def test_compact_parts_sizing():
    """Pure sizing contract: ~96MB/file at scale, a defaultParallelism
    floor for mid-size artifacts (kept above ~4MB/file), never zero."""
    from annoy_spark.sources.ann_index import _compact_parts

    mb = 1 << 20
    assert _compact_parts(1024, 32) == 1          # tiny -> one file
    assert _compact_parts(28 * mb, 32) == 7       # floor: 4MB/file
    assert _compact_parts(1024 * mb, 32) == 32    # floor binds at 1GB
    assert _compact_parts(10 * 1024 * mb, 32) == 107  # 96MB target at scale
    # the floor never pushes files below ~4MB on average
    for n_bytes in (1, 3 * mb, 28 * mb, 200 * mb, 50 * 1024 * mb):
        parts = _compact_parts(n_bytes, 32)
        assert parts >= 1
        assert n_bytes / parts >= 2 * mb or n_bytes < 8 * mb


def test_validate_index_fsck(spark, corpus, tmp_path):
    """validate_index: a healthy (appended) index reports ok; external
    damage — a deleted bucket data file, a tampered counts table — is
    detected with a named problem (the relational analog of annoy's
    load-time `size % _s` geometry check)."""
    import shutil

    import annoy_spark.submit_index as cli
    from annoy_spark.sources.ann_index import validate_index

    root = str(tmp_path / "idx")
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=8, seed=42,
        sample_fraction=1.0,
    )
    idx = build_index(spark, corpus.where(F.col("vec_id") < 300), root, cfg)
    idx.append(corpus.where(F.col("vec_id") >= 300))

    report = validate_index(spark, root)
    assert report["ok"] and report["problems"] == []
    assert report["n_items"] == corpus.count()
    assert cli.main(["fsck", "--root", root]) == 0

    # damage 1: delete a vectors data file -> meta mismatch + orphan
    # bucket rows (+ possibly unfindable ids on other damage modes)
    broken = str(tmp_path / "broken_vec")
    shutil.copytree(root, broken)
    victim = next(
        f for f in (Path(broken) / "vectors").iterdir()
        if f.name.endswith(".parquet")
    )
    victim.unlink()
    spark.catalog.refreshByPath(str(Path(broken) / "vectors"))
    report = validate_index(spark, broken)
    assert not report["ok"]
    assert any("no stored vector" in p for p in report["problems"])
    assert any("n_items" in p for p in report["problems"])
    assert cli.main(["fsck", "--root", broken]) == 3

    # damage 2: delete a counts delta file -> stored sums drift
    broken2 = str(tmp_path / "broken_counts")
    shutil.copytree(root, broken2)
    victim = next(
        f for f in (Path(broken2) / "counts").iterdir()
        if f.name.endswith(".parquet")
    )
    victim.unlink()
    spark.catalog.refreshByPath(str(Path(broken2) / "counts"))
    report = validate_index(spark, broken2)
    assert not report["ok"]
    assert any("stored counts" in p for p in report["problems"])

    # damage 3: delete a buckets data file -> unfindable vectors
    broken3 = str(tmp_path / "broken_buckets")
    shutil.copytree(root, broken3)
    victim = next(
        f for f in (Path(broken3) / "buckets").iterdir()
        if f.name.endswith(".parquet")
    )
    victim.unlink()
    spark.catalog.refreshByPath(str(Path(broken3) / "buckets"))
    report = validate_index(spark, broken3)
    assert not report["ok"]
    assert any(
        "no bucket" in p or "stored counts" in p for p in report["problems"]
    )
