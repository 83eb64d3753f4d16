"""Structured Streaming: incremental dedup of newly arriving files.

The streaming analog of Annoy's shared-index query pattern (§3.3 of
SURVEY.md — many processes mmap a built index read-only and query it,
/root/reference/README.rst:25-27): a *built* signature snapshot (the SIGN
stage checkpoint) is the static side; newly landed files stream in, are
signed with the identical config, banded against the static band keys, and
exact-verified — emitting (new_file, existing_file) duplicate edges
incrementally.

foreachBatch is the idiomatic shape here: each micro-batch runs the same
DataFrame logic as the batch pipeline (sign -> band join -> verify),
including distinct(), then appends to the edge sink exactly once per batch
(the sink dir is keyed by batch id — reruns after failure overwrite, not
double-append).

A second entry point, exact_dedup_stream, is pure streaming state:
first-writer-wins on content sha via dropDuplicates over the stream.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from annoy_spark.config import DedupConfig
from annoy_spark.operators.band import all_candidate_edges
from annoy_spark.operators.sign import sign
from annoy_spark.operators.verify import verify

CORPUS_SCHEMA = ("repo string, path string, commit string, "
                 "lang string, content string")


def incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    static_signatures: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream new corpus files from input_dir; emit verified duplicate
    edges (u=existing file, v=new file, kind, jaccard, hamming) to out_dir.
    """
    static_bands = static_signatures.select(
        "file_id", F.posexplode("band_keys").alias("band_idx", "band_key")
    )
    static_sha = static_signatures.select(
        F.col("content_sha").alias("sha_s"),
        F.col("file_id").alias("existing_id"),
    ).groupBy("sha_s").agg(F.min("existing_id").alias("existing_id"))

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # signed once: the emptiness probe, verify's candidate and signature
        # fetches (or its join plan, past the driver bounds) all read it
        new_sigs = sign(batch, cfg).localCheckpoint()
        if new_sigs.isEmpty():
            return
        # exact matches vs the static snapshot (sha equality)
        exact = (
            new_sigs.join(static_sha, new_sigs.content_sha == F.col("sha_s"))
            .select(
                F.col("existing_id").alias("u"),
                F.col("file_id").alias("v"),
                F.lit("exact").alias("kind"),
            )
            .where(F.col("u") != F.col("v"))
        )
        # LSH candidates: new band keys joined to the static band table
        new_bands = new_sigs.where(F.col("n_shingles") >= 1).select(
            F.col("file_id").alias("new_id"),
            F.posexplode("band_keys").alias("band_idx", "band_key"),
        )
        cand = (
            new_bands.join(static_bands, ["band_idx", "band_key"])
            .where(F.col("file_id") != F.col("new_id"))
            .select(
                F.col("file_id").alias("u"), F.col("new_id").alias("v"),
                F.lit("lsh").alias("kind"),
            )
            .distinct()
        )
        # duplicates AMONG the new files themselves (a burst of mirrored
        # uploads lands in one batch): band the micro-batch against itself
        # with the full tiered ladder — new_sigs is micro-batch-sized, so
        # this is cheap. Cross-BATCH new-vs-new pairs still require a
        # periodic snapshot rebuild folding the streamed files in (the
        # documented dedup horizon of this design).
        intra, _ = all_candidate_edges(new_sigs, cfg)
        # micro-batches are small enough that tier provenance is noise
        # here; the sink contract (and its oracle) knows exact vs lsh only
        intra = intra.select(
            "u", "v",
            F.when(F.col("kind") == "exact", "exact")
            .otherwise("lsh").alias("kind"),
        )
        all_sigs = static_signatures.select(
            "file_id", "shingle_hashes", "simhash", "n_shingles"
        ).unionByName(
            new_sigs.select(
                "file_id", "shingle_hashes", "simhash", "n_shingles"
            )
        )
        # a micro-batch's pair set is bounded by the batch: broadcast it
        # (ids only, never shingle arrays) so the signature snapshot is
        # streamed and semi-filtered to candidate files, never shuffled
        # whole — per-batch cost follows the batch, not the corpus
        # rescue is off here, so no candidate carries star provenance
        edges = verify(
            F.broadcast(
                exact.unionByName(cand).unionByName(intra)
                .select("*", F.lit(0).alias("from_star"))
            ),
            all_sigs, dataclasses.replace(cfg, star_rescue_cap=0),
        )
        # idempotent per-batch sink: rerun of a failed batch overwrites
        edges.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def exact_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    dedup_horizon: str = "24 hours",
) -> StreamingQuery:
    """First-writer-wins streaming exact dedup: emits each distinct
    content sha once with the first (repo, path, commit) that produced it.

    State is BOUNDED: dropDuplicatesWithinWatermark keeps a sha in the
    state store only until the ingest-time watermark passes dedup_horizon,
    so state size ~ arrival rate x horizon instead of growing with every
    sha ever seen (a plain dropDuplicates would OOM the state store at
    10^12-file ingest). The contract is therefore a dedup HORIZON: a
    duplicate arriving more than dedup_horizon after its first copy is
    re-emitted — downstream exact dedup (one sha groupBy in the batch
    pipeline) reconciles those stragglers.
    """
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    firsts = (
        stream.select(
            "repo", "path", "commit",
            F.sha2(F.col("content"), 256).alias("content_sha"),
            F.current_timestamp().alias("ingest_time"),
        )
        .withWatermark("ingest_time", dedup_horizon)
        .dropDuplicatesWithinWatermark(["content_sha"])
        .drop("ingest_time")
    )
    writer = (
        firsts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
