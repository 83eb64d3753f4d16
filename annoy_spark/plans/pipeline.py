"""End-to-end dedup pipeline: sign -> band -> verify -> cluster.

One DAG, checkpointed per stage (SURVEY.md §3.4), resumable mid-pipeline:
each stage is skipped when a checkpoint with the current config hash exists.
Every stage appends a lineage row (counts + durations) — the introspection
surface replacing annoy's get_n_items/get_n_trees (annoylib.h:1238-1254).
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from annoy_spark.config import DedupConfig
from annoy_spark.operators.band import all_candidate_edges
from annoy_spark.operators.cluster import connected_components
from annoy_spark.operators.sign import file_id_col, sign
from annoy_spark.operators.substring import substring_edges
from annoy_spark.operators.verify import verify
from annoy_spark.sources.checkpoint import CheckpointStore

STAGES = ("signatures", "candidate_edges", "skipped_groups",
          "verified_edges", "substring_edges", "substring_skipped",
          "clusters")


@dataclass
class PipelineResult:
    clusters: DataFrame
    signatures: DataFrame
    verified_edges: DataFrame
    substring_edges: DataFrame | None
    skipped_groups: DataFrame
    metrics: dict = field(default_factory=dict)


def _stage(store: CheckpointStore, spark: SparkSession, name: str,
           build, metrics: dict, resume: bool) -> DataFrame:
    t0 = time.time()
    if resume and store.exists(name):
        df = store.read(spark, name)
        metrics[name] = {"resumed": True, "duration_s": time.time() - t0}
        return df
    df = build()
    # the row count rides on the write's own job, and the read-back takes
    # the known schema: no inference or count job after the write
    obs = Observation()
    store.write(name, df.observe(obs, F.count(F.lit(1)).alias("n")))
    n = obs.get["n"]
    out = store.read(spark, name, schema=df.schema)
    dur = time.time() - t0
    metrics[name] = {"resumed": False, "duration_s": dur, "n_rows": n}
    store.log_lineage(spark, {"stage": name, "n_rows": n, "duration_s": dur})
    return out


def _run_branches(sc: SparkContext, *branches):
    """Results of the branches, run in concurrent driver threads.

    Each thread tags its Spark jobs with a tag unique to the branch and
    the call. When a branch fails, every branch's jobs are cancelled, again
    and again until all branches have finished, so jobs a sibling submits
    after the failure are cancelled too; then the first failure is raised.
    A failed branch never waits for its siblings to run to the end."""
    tags = [f"annoy_spark-{uuid.uuid4().hex}" for _ in branches]

    def tagged(tag, branch):
        sc.addJobTag(tag)
        try:
            return branch()
        finally:
            sc.removeJobTag(tag)

    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futs = [pool.submit(tagged, t, b) for t, b in zip(tags, branches)]
        done, _ = wait(futs, return_when=FIRST_EXCEPTION)
        failed = next((f for f in done if f.exception()), None)
        if failed is None:
            return [f.result() for f in futs]
        while not all(f.done() for f in futs):
            for tag in tags:
                sc.cancelJobsWithTag(tag)
            wait(futs, timeout=0.2)
        raise failed.exception()


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: DedupConfig,
    out_dir: str,
    resume: bool = True,
) -> PipelineResult:
    store = CheckpointStore(out_dir, cfg)
    metrics: dict = {}

    signatures = _stage(
        store, spark, "signatures", lambda: sign(corpus, cfg), metrics, resume
    )

    # the skipped groups' schema, kept when this run writes them so the
    # read after the branches runs no schema-inference job
    skipped_schema = None

    def build_candidates() -> DataFrame:
        nonlocal skipped_schema
        cand, skipped = all_candidate_edges(signatures, cfg)
        store.write("skipped_groups", skipped)
        skipped_schema = skipped.schema
        return cand

    def run_band_verify() -> DataFrame:
        cand = _stage(
            store, spark, "candidate_edges", build_candidates, metrics,
            resume,
        )
        return _stage(
            store, spark, "verified_edges",
            lambda: verify(cand, signatures, cfg), metrics, resume,
        )

    sub_edges = None
    if cfg.enable_substring:
        def build_substring() -> DataFrame:
            # sha-collapsed representatives only: exact-dup members are
            # already connected via 'exact' edges
            reps = (
                signatures.groupBy("content_sha")
                .agg(F.min("file_id").alias("file_id"))
            )
            # materialize the rep-content relation ONCE (lazy; the fp-UDF
            # pass triggers it): the substring operator consumes content in
            # three places (fingerprint scan, both verify sides) and each
            # reference re-ran this scan+join.
            # Block loss just fails the stage, which the per-stage
            # checkpoint protocol re-runs from `signatures`.
            corpus_reps = (
                corpus.select(file_id_col().alias("file_id"), "content")
                .join(reps, "file_id")
                .localCheckpoint(eager=False)
            )
            edges, skipped = substring_edges(
                corpus_reps, cfg, return_skipped=True
            )
            store.write("substring_skipped", skipped)
            return edges

        # the band->verify chain and the substring pass are INDEPENDENT
        # once `signatures` is checkpointed (substring reads only the
        # signatures checkpoint + corpus) — run them as two concurrent
        # driver-thread jobs so one side's stragglers and driver-side gaps
        # are backfilled by the other's tasks (guide §2.6). FIFO
        # scheduling gives the first-submitted chain priority and the
        # second back-fills, which is exactly the wanted shape. Stage
        # checkpoints, metrics keys, and lineage files are disjoint, so
        # the resume protocol is unchanged.
        verified, sub_edges = _run_branches(
            spark.sparkContext,
            run_band_verify,
            lambda: _stage(store, spark, "substring_edges", build_substring,
                           metrics, resume),
        )
    else:
        verified = run_band_verify()
    skipped = store.read(spark, "skipped_groups", schema=skipped_schema)

    def build_clusters() -> DataFrame:
        edges = verified.select("u", "v")
        if sub_edges is not None:
            edges = edges.unionByName(sub_edges.select("u", "v"))
        nodes = signatures.select(F.col("file_id").alias("doc_id"))
        return connected_components(
            edges, nodes, max_iters=cfg.cc_max_iters
        ).withColumnRenamed("doc_id", "file_id")

    clusters = _stage(
        store, spark, "clusters", build_clusters, metrics, resume
    )

    return PipelineResult(
        clusters=clusters,
        signatures=signatures,
        verified_edges=verified,
        substring_edges=sub_edges,
        skipped_groups=skipped,
        metrics=metrics,
    )


def assert_sha_invariant(corpus: DataFrame, signatures: DataFrame) -> None:
    """Per-row invariant (input_hint): signature rows carry exactly the
    sha256 of the source content — zero mismatches, zero missing."""
    from annoy_spark.operators.sign import file_id_col

    src = corpus.select(
        file_id_col().alias("file_id"),
        F.sha2(F.col("content"), 256).alias("src_sha"),
    )
    joined = src.join(signatures.select("file_id", "content_sha"), "file_id", "full")
    bad = joined.where(
        F.col("src_sha").isNull()
        | F.col("content_sha").isNull()
        | (F.col("src_sha") != F.col("content_sha"))
    ).count()
    if bad:
        raise AssertionError(f"sha256 invariant violated for {bad} rows")
