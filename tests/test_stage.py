"""The pipeline's per-stage checkpoint (`_stage`): the row count it records
comes from the write's own job, and must equal what the checkpoint holds."""

from __future__ import annotations

from pathlib import Path

from annoy_spark.config import DedupConfig
from annoy_spark.corpus import generate_corpus
from annoy_spark.plans.pipeline import _stage, run_pipeline
from annoy_spark.sources.checkpoint import CheckpointStore

CFG = DedupConfig()
BUILT = ("signatures", "candidate_edges", "verified_edges",
         "substring_edges", "clusters")


def _assert_counts_match_checkpoints(spark, res, out: Path) -> None:
    lineage = {
        r.stage: r.n_rows
        for r in CheckpointStore(str(out), CFG).lineage(spark).collect()
    }
    for name in BUILT:
        n = spark.read.parquet(str(out / name)).count()
        assert res.metrics[name]["n_rows"] == n, name
        assert lineage[name] == n, name


def test_stage_counts_on_a_small_run(spark, tmp_path):
    corpus, _ = generate_corpus(spark, 120, seed=11, partitions=2)
    res = run_pipeline(spark, corpus, CFG, str(tmp_path), resume=False)
    assert res.metrics["clusters"]["n_rows"] > 0
    _assert_counts_match_checkpoints(spark, res, tmp_path)


def test_stage_counts_on_the_empty_corpus(spark, tmp_path):
    schema = "repo string, path string, commit string, lang string, content string"
    empty = spark.createDataFrame([], schema)
    res = run_pipeline(spark, empty, CFG, str(tmp_path), resume=False)
    assert all(res.metrics[name]["n_rows"] == 0 for name in BUILT)
    _assert_counts_match_checkpoints(spark, res, tmp_path)


def test_local_relation_stage_runs_one_job(spark, tmp_path):
    """Writing a local relation is one job; the count and the read-back
    add none."""
    store = CheckpointStore(str(tmp_path), CFG)
    rows = spark.createDataFrame(
        [(i, f"r{i}") for i in range(25)], "id long, s string"
    )
    metrics: dict = {}
    sc = spark.sparkContext
    sc.setJobGroup("local_stage", "local_stage")
    try:
        out = _stage(store, spark, "local", lambda: rows, metrics, False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("local_stage")) == 1
    assert metrics["local"]["n_rows"] == 25
    assert out.schema == spark.read.parquet(str(tmp_path / "local")).schema
    assert sorted(out.collect()) == sorted(rows.collect())

