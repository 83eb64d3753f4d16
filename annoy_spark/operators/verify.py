"""VERIFY stage: candidate edges -> verified duplicate edges.

Annoy's exact re-rank semantics (/root/reference/src/annoylib.h:1492-1494):
the LSH structure only *proposes* candidates; the true metric *decides*.
For every candidate pair we compute

- exact shingle-set Jaccard (np.intersect1d over the sorted distinct
  shingle-hash arrays — integer-exact, the euclidean-cancellation lesson of
  annoy #314 applied: never estimate what you can count), and
- exact SimHash Hamming distance (bit_count of XORed packed words, JVM-side
  — annoylib.h:736-743's popcount in whole-stage codegen).

A pair passes if jaccard >= cfg.jaccard_s OR hamming <= cfg.hamming_t.

Scale notes: the two joins below move only (file_id, shingle_hashes,
simhash) for *candidate* files — never content: each signature side is
semi-joined to its candidate ids before any shuffle. The first pass
carries no hint; the planner sizes a parquet-read candidate set from its
files and broadcasts what is small. Edge keys are near-unique so shuffled
joins spread evenly, and AQE skew-join covers pathological hubs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from annoy_spark.config import DedupConfig
from annoy_spark.operators.band import group_stats, tiered_pairs


@F.pandas_udf(DoubleType())
def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact Jaccard between two distinct-int64 arrays per row.

    Fully vectorized over the batch: both sides are flattened with row
    labels, lexsorted once, and intersections counted as adjacent
    duplicates (each side is distinct, so a value occurs <= 2x per row).
    """
    n = len(a)
    la = np.fromiter((len(x) for x in a), np.int64, n)
    lb = np.fromiter((len(x) for x in b), np.int64, n)
    tot = la + lb
    out = np.zeros(n, dtype=np.float64)
    if tot.sum():
        chunks = []
        for x, y in zip(a, b):
            chunks.append(np.asarray(x, dtype=np.int64))
            chunks.append(np.asarray(y, dtype=np.int64))
        flat = np.concatenate(chunks)
        labels = np.repeat(np.arange(n, dtype=np.int64), tot)
        order = np.lexsort((flat, labels))
        sf, sl = flat[order], labels[order]
        dup = (sf[1:] == sf[:-1]) & (sl[1:] == sl[:-1])
        ni = np.bincount(sl[1:][dup], minlength=n).astype(np.int64)
        valid = (la > 0) & (lb > 0)
        union = tot - ni
        out[valid] = ni[valid] / union[valid]
    return pd.Series(out)


# deterministic in fact, but marked otherwise so Catalyst neither duplicates
# the UDF across Filter+Project nor pushes filters through it (the collapsed
# plan evaluated jaccard twice per row)
jaccard_udf = jaccard_udf.asNondeterministic()


def jaccard_col(a, b) -> F.Column:
    """Exact Jaccard between two distinct-int64 array columns, JVM-side.

    Same value as ``jaccard_udf`` (property-checked equivalent in
    tests/test_properties.py) but stays inside whole-stage codegen:
    ``array_intersect`` is an O(|a|+|b|) hash-set probe per row, and the
    KB-sized shingle arrays never ride an Arrow batch to a Python
    worker — on the verify hot path that serialization was the stage's
    dominant per-row cost and its main run-to-run variance source
    (Python worker scheduling). Division is the same exact
    int->double IEEE op the DuckDB oracle performs."""
    a, b = F.col(a) if isinstance(a, str) else a, (
        F.col(b) if isinstance(b, str) else b
    )
    ni = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - ni
    return F.when(
        (F.size(a) > 0) & (F.size(b) > 0),
        ni.cast("double") / union.cast("double"),
    ).otherwise(F.lit(0.0))


def hamming_col(a: str, b: str, words: int) -> F.Column:
    """Exact Hamming distance between packed int64 signature arrays (JVM)."""
    total = F.lit(0)
    for w in range(1, words + 1):
        total = total + F.bit_count(
            F.element_at(F.col(a), w).bitwiseXOR(F.element_at(F.col(b), w))
        )
    return total.cast("long")


def verify(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Verified edges: (u, v, kind, jaccard, hamming) for passing pairs.

    Candidates of kind 'exact' (sha-equal) pass by construction with
    jaccard=1, hamming=0; only 'lsh' candidates face the exact re-rank.

    With cfg.star_rescue_cap > 0 the star-failure rescue pass follows.
    Two star members that are near-dups of each other but not of the group
    min both fail the first pass and their cluster would silently split;
    rescue enumerates pairs among each center's failed members (bounded by
    cfg.star_rescue_cap) and sends them through the same exact re-rank.

    Cost shape: the first pass's scored rows are localCheckpointed ONCE
    (narrow columns, candidate-count rows) and both the pass set and the
    star-failure set are filters over them — no anti-join against the
    verified output and no recompute of the scoring joins. The second
    scoring pass runs only over the (small, capped) rescue pairs.
    """
    exact = candidates.where(F.col("kind") == "exact").select(
        "u", "v", "kind",
        F.lit(1.0).alias("jaccard"),
        F.lit(0).cast("long").alias("hamming"),
    )
    scored = _score_lsh(candidates, signatures, cfg)
    rescue_on = cfg.star_rescue_cap > 0
    if rescue_on:
        # lazy: the rescue path's isEmpty() below is the first action and
        # materializes the checkpoint in the same job (the eager form paid
        # a separate materialization pass first)
        scored = scored.localCheckpoint(eager=False)
    passed = _passing(scored, cfg)
    out = exact.unionByName(passed)
    if not rescue_on:
        return out
    # rescue eligibility = ANY star-tier provenance (from_star survives the
    # min-collapse that can downgrade kind to 'lsh' when the same pair was
    # also fully enumerated in another small band group)
    failed_star = scored.where(
        (~_pass_expr(cfg)) & (F.col("from_star") == 1)
    ).select("u", "v")
    rescue = star_rescue_candidates(failed_star, cfg.star_rescue_cap)
    if rescue.isEmpty():
        return out
    # the rescue set is small by construction (capped per center):
    # broadcast it into a streamed signature scan
    rescued = _passing(_score_lsh(F.broadcast(rescue), signatures, cfg), cfg)
    # keep only genuinely new pairs (a rescue pair can already exist via
    # another band group's full enumeration)
    rescued = rescued.join(passed.select("u", "v"), ["u", "v"], "left_anti")
    return out.unionByName(rescued)


def _pass_expr(cfg: DedupConfig) -> F.Column:
    # hamming path gated on enough shingles: the majority-vote estimator is
    # noise below ~cfg.simhash_min_shingles elements (small docs collide)
    return (F.col("jaccard") >= F.lit(cfg.jaccard_s)) | (
        (F.col("hamming") <= F.lit(cfg.hamming_t))
        & (F.col("min_shingles") >= F.lit(cfg.simhash_min_shingles))
    )


def _passing(scored: DataFrame, cfg: DedupConfig) -> DataFrame:
    return scored.where(_pass_expr(cfg)).select(
        "u", "v", "kind", "jaccard", "hamming"
    )


def _score_lsh(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Exact re-rank scores for non-exact candidates:
    (u, v, kind, jaccard, hamming, min_shingles) — pass/fail NOT applied,
    so callers can inspect failures (the rescue pass needs them)."""
    sig = signatures.select("file_id", "shingle_hashes", "simhash", "n_shingles")
    candidates = candidates.where(F.col("kind") != "exact")
    if "from_star" in candidates.columns:
        candidates = candidates.select("u", "v", "kind", "from_star")
    else:
        # legacy callers without provenance: a star edge is exactly
        # kind == 'lsh_star' (no min-collapse happened upstream)
        candidates = candidates.select(
            "u", "v", "kind",
            (F.col("kind") == "lsh_star").cast("int").alias("from_star"),
        )

    def side(s: str) -> DataFrame:
        # signatures of the files on one side of a pair, cut down by a
        # semi-join before any shuffle; a broadcast hint on `candidates`
        # reaches the id set through its project/aggregate
        ids = candidates.select(F.col(s).alias("file_id")).distinct()
        return sig.join(ids, "file_id", "left_semi").select(
            F.col("file_id").alias(s),
            F.col("shingle_hashes").alias(f"sh_{s}"),
            F.col("simhash").alias(f"sim_{s}"),
            F.col("n_shingles").alias(f"ns_{s}"),
        )

    joined = candidates.join(side("u"), "u").join(side("v"), "v")
    return joined.select(
        "u",
        "v",
        "kind",
        "from_star",
        jaccard_col(F.col("sh_u"), F.col("sh_v")).alias("jaccard"),
        hamming_col("sim_u", "sim_v", cfg.simhash_words).alias("hamming"),
        F.least("ns_u", "ns_v").alias("min_shingles"),
    )


def star_rescue_candidates(failed_star: DataFrame, cap: int) -> DataFrame:
    """Second-chance pairs for star-tier verification failures.

    The star tiers of ``band.tiered_pairs`` only enumerate (group_min,
    member) edges; two members that are true near-duplicates of each other
    but NOT of the group min both fail verification and their edge is never
    seen — the cluster silently splits. Failures are rare (a band collision
    without pairwise similarity to the min), so the failed members of each
    star center go through ``tiered_pairs`` grouped by center: full pairs up
    to `cap` failures per center, a star to the min failed member beyond,
    and no salted tier. Returned pairs carry kind='lsh_rescue' and must
    still pass the exact re-rank.
    """
    members = failed_star.select(
        F.col("u").alias("center"), F.col("v").alias("file_id")
    ).select("*", *group_stats(["center"]))
    pairs, _ = tiered_pairs(
        members, ["center"], cap, group_cap=None, salt_buckets=1
    )
    return (
        pairs.select("u", "v")
        .distinct()
        .select("u", "v", F.lit("lsh_rescue").alias("kind"))
    )
