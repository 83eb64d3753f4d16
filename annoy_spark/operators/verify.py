"""VERIFY stage: candidate edges -> verified duplicate edges.

Annoy's exact re-rank semantics (/root/reference/src/annoylib.h:1492-1494):
the LSH structure only *proposes* candidates; the true metric *decides*.
For every candidate pair we compute

- exact shingle-set Jaccard (the distinct shared shingle hashes counted
  over the arrays' lengths — integer-exact, the euclidean-cancellation
  lesson of annoy #314 applied: never estimate what you can count), and
- exact SimHash Hamming distance (popcount of XORed packed words —
  annoylib.h:736-743).

A pair passes if jaccard >= cfg.jaccard_s OR hamming <= cfg.hamming_t.

Scale notes: two plans with the same rows, chosen per call. Up to
DRIVER_PAIRS_MAX candidate rows over files holding up to
DRIVER_SHINGLES_MAX shingles are verified on the driver, as the ANN
index answers its batches: one bounded fetch of the candidates, a
fetch of their files' shingle counts, then (within the shingle bound)
one semi-joined fetch of their signatures, numpy scoring in bounded
chunks and the star rescue in numpy, returned as a local relation. With
the pipeline stage's write and read-back that is 9 Spark jobs (23 for
the join plan) on dedup_skewed's 2000 files. Larger inputs take the
executor join plan: its two joins move only (file_id, shingle_hashes,
simhash) for *candidate* files — never content: each signature side is
semi-joined to its candidate ids before any shuffle. The first pass
carries no hint; the planner sizes a parquet-read candidate set from its
files and broadcasts what is small. Edge keys are near-unique so shuffled
joins spread evenly, and AQE skew-join covers pathological hubs. There
jaccard_col and hamming_col score each pair in whole-stage codegen.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from annoy_spark.config import DedupConfig
from annoy_spark.driver_batch import (
    fetch_bounded, fetch_sized, local_relation,
)
from annoy_spark.operators.band import group_stats, ladder_rows, tiered_pairs

#: candidate rows verified on the driver; more take the executor plan.
#: Both bounds come from verify alone on dedup_skewed checkpoints, 4-core
#: host: at 2000 files (23,446 candidates, 0.82M shingles) the driver
#: path and its write took 1.7 s and 6 jobs, the join plan 7.7 s and 20,
#: at 8000 files (64,544 candidates, 3.3M shingles) 5.1 s against 12.3 s,
#: with a numpy peak of 63 and 186 MB (about 56 bytes per shingle). The
#: bounds sit just past the larger size.
DRIVER_PAIRS_MAX = 65_536
#: shingles (8 bytes each) of the candidate files verified on the driver
DRIVER_SHINGLES_MAX = 4_194_304
#: shingle probes per numpy chunk of the driver's Jaccard (about 54 MB of
#: working set; larger chunks ran no faster)
_PROBE_CHUNK = 1 << 20
_LOW32 = np.int64(0xFFFFFFFF)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], np.int64)


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

    Candidates are (u, v, kind, from_star). Those of kind 'exact'
    (sha-equal) pass by construction with jaccard=1, hamming=0; only
    'lsh' candidates face the exact re-rank. from_star = 1 marks a pair
    a star tier of band.tiered_pairs proposed: only those are rescued.

    With cfg.star_rescue_cap > 0 the star-failure rescue pass follows.
    Two star members that are near-dups of each other but not of the group
    min both fail the first pass and their cluster would silently split;
    rescue enumerates pairs among each center's failed members (bounded by
    cfg.star_rescue_cap) and sends them through the same exact re-rank.

    Up to DRIVER_PAIRS_MAX candidate rows whose files hold up to
    DRIVER_SHINGLES_MAX shingles are verified on the driver
    (_verify_on_driver) and returned as a local relation; anything larger
    takes the executor plan (_verify_on_executors). Both produce the same
    rows, values bit for bit.

    Cost shape: on the driver path the candidate fetch, the shingle
    count fetch and the signature fetch are the only Spark jobs before
    the caller's action (numpy holds the fetched signatures plus one
    chunk of _PROBE_CHUNK probes); an input over the bounds pays the
    first one or two of these small fetches before the join plan; the
    executor plan scores the first pass once into a local checkpoint
    that every later filter reads (_verify_on_executors).
    """
    local = _verify_on_driver(candidates, signatures, cfg)
    if local is not None:
        return local
    return _verify_on_executors(candidates, signatures, cfg)


def _verify_on_executors(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """verify() as a lazy join plan on the executors.

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
        # lazy: the caller's action materializes the checkpoint, which the
        # pass set, the star-failure set and the anti-join then read (the
        # eager form paid a separate materialization pass first)
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
    # the rescue set is small by construction (capped per center):
    # broadcast it into a streamed signature scan. It is scored even when
    # empty: a separate emptiness probe costs four jobs and saves no time
    rescued = _passing(_score_lsh(F.broadcast(rescue), signatures, cfg), cfg)
    # keep only genuinely new pairs (a rescue pair can already exist via
    # another band group's full enumeration)
    rescued = rescued.join(passed.select("u", "v"), ["u", "v"], "left_anti")
    return out.unionByName(rescued)


def _mask(arr) -> np.ndarray:
    """A boolean Arrow array as numpy, nulls as False."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _ints(arr) -> np.ndarray:
    """An integer Arrow array as int64 numpy, nulls as 0 (callers mask
    them)."""
    return pc.fill_null(arr, 0).to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )


class _Signatures(NamedTuple):
    """Fetched signatures of the candidate files, by file index (the
    files' order by file_id): ``keys`` are the distinct (file << 32 |
    dense shingle id) sorted, each file's run starting at ``start`` and
    ``distinct`` long; ``size`` is each shingle array's length,
    ``simhash`` the packed words, one row per file."""

    file_id: np.ndarray
    keys: np.ndarray
    start: np.ndarray
    distinct: np.ndarray
    size: np.ndarray
    simhash: np.ndarray
    n_shingles: np.ndarray


def _verify_on_driver(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
) -> DataFrame | None:
    """verify() answered on the driver as a local relation, or None when
    the candidates or their files' shingles are over the bounds.

    The candidate rows come in a bounded fetch of at most
    DRIVER_PAIRS_MAX, then the signatures of their distinct files
    (_fetch_signatures, at most DRIVER_SHINGLES_MAX shingles, checked
    on their counts before any array is fetched). The exact
    re-rank then runs in numpy over chunks of at most _PROBE_CHUNK
    shingle probes (_score), and the star rescue follows
    star_rescue_candidates' semantics (_rescue_pairs). Rows keep the
    join plan's semantics: a candidate whose file has no signature drops
    out, a repeated candidate row is verified once per row, and a null
    key or kind drops the row. A signature outside what sign() produces
    (a repeated file_id, a null element or count, a simhash of the wrong
    width) returns None, so the join plan answers it."""
    cand = fetch_bounded(
        candidates.select("u", "v", "kind", "from_star"), DRIVER_PAIRS_MAX
    )
    if cand is None:
        return None
    kind = cand["kind"]
    is_exact = _mask(pc.equal(kind, "exact"))
    lsh = np.flatnonzero(
        _mask(pc.not_equal(kind, "exact"))
        & _mask(pc.is_valid(cand["u"])) & _mask(pc.is_valid(cand["v"]))
    )
    u, v = _ints(cand["u"])[lsh], _ints(cand["v"])[lsh]
    from_star = _mask(pc.equal(cand["from_star"], 1))[lsh]
    rows = np.flatnonzero(is_exact)
    jaccard, hamming = np.ones(len(rows)), np.zeros(len(rows), np.int64)
    rescued = None
    if len(lsh):
        sig = _fetch_signatures(
            candidates.sparkSession, signatures, np.unique(np.r_[u, v]), cfg
        )
        if sig is None:
            return None
        # a candidate whose file has no signature drops out (inner joins)
        a, b = _file_index(sig, u), _file_index(sig, v)
        has = (a >= 0) & (b >= 0)
        lsh, a, b, from_star = lsh[has], a[has], b[has], from_star[has]
        jac, ham, ok = _score(sig, a, b, cfg)
        rows = np.r_[rows, lsh[ok]]
        jaccard, hamming = np.r_[jaccard, jac[ok]], np.r_[hamming, ham[ok]]
        if cfg.star_rescue_cap > 0:
            fail = ~ok & from_star
            ra, rb = _rescue_pairs(sig, a[fail], b[fail], cfg.star_rescue_cap)
            rjac, rham, rok = _score(sig, ra, rb, cfg)
            # keep only genuinely new pairs (a rescue pair can already
            # exist via another band group's full enumeration)
            n = len(sig.file_id)
            rok &= ~np.isin(ra * n + rb, a[ok] * n + b[ok])
            rescued = {
                "u": sig.file_id[ra[rok]], "v": sig.file_id[rb[rok]],
                "kind": ["lsh_rescue"] * int(rok.sum()),
                "jaccard": rjac[rok], "hamming": rham[rok],
            }
    edges = (
        cand.select(["u", "v", "kind"]).take(pa.array(rows, pa.int64()))
        .append_column("jaccard", pa.array(jaccard, pa.float64()))
        .append_column("hamming", pa.array(hamming, pa.int64()))
    )
    if rescued is not None:
        edges = pa.concat_tables(
            [edges, pa.table(rescued, schema=edges.schema)]
        )
    return _local_relation(candidates, edges)


def _fetch_signatures(
    spark: SparkSession, signatures: DataFrame, ids: np.ndarray,
    cfg: DedupConfig,
) -> _Signatures | None:
    """The signatures of the files ``ids`` as _Signatures, or None when
    they hold more than DRIVER_SHINGLES_MAX shingles or fall outside
    sign()'s output. The two fetches of fetch_sized, each a semi-join
    against the ids as a local relation that the planner broadcasts into
    the signature scan: first each file's shingle count (at most one row
    per id, or None), then, only when the counts are within
    DRIVER_SHINGLES_MAX, the signature rows. So no shingle array of an
    input over the bound leaves the executors."""
    wanted = spark.createDataFrame(
        pd.DataFrame({"file_id": ids}),
        StructType().add("file_id", signatures.schema["file_id"].dataType),
    )
    rows = fetch_sized(
        signatures.join(wanted, "file_id", "left_semi").select(
            "file_id", "shingle_hashes", "simhash", "n_shingles"
        ),
        F.size("shingle_hashes"), len(ids), DRIVER_SHINGLES_MAX,
    )
    if rows is None:
        return None
    shingles, simhash = rows["shingle_hashes"], rows["simhash"]
    size = _ints(pc.list_value_length(shingles))
    flat, words = pc.list_flatten(shingles), pc.list_flatten(simhash)
    fid = _ints(rows["file_id"])
    files, first = np.unique(fid, return_index=True)
    if (
        len(files) < len(fid)
        or flat.null_count or simhash.null_count or words.null_count
        or rows["n_shingles"].null_count
        or (pc.list_value_length(simhash).to_numpy() != cfg.simhash_words)
        .any()
    ):
        return None
    nf = len(files)
    fi = np.repeat(np.searchsorted(files, fid), size)
    # dense shingle ids, so a (file, shingle) pair packs into one int64
    _, hid = np.unique(_ints(flat), return_inverse=True)
    keys = np.unique((fi << 32) | hid)
    distinct = np.bincount(keys >> 32, minlength=nf)
    return _Signatures(
        file_id=files,
        keys=keys,
        start=np.cumsum(distinct) - distinct,
        distinct=distinct,
        size=size[first],
        simhash=words.to_numpy().reshape(-1, cfg.simhash_words)[first],
        n_shingles=_ints(rows["n_shingles"])[first],
    )


def _file_index(sig: _Signatures, ids: np.ndarray) -> np.ndarray:
    """Each id's file index in ``sig``, -1 without a signature."""
    if not len(sig.file_id):
        return np.full(len(ids), -1)
    at = np.minimum(np.searchsorted(sig.file_id, ids), len(sig.file_id) - 1)
    return np.where(sig.file_id[at] == ids, at, -1)


def _score(
    sig: _Signatures, a: np.ndarray, b: np.ndarray, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(jaccard, hamming, passes) of the file index pairs (a, b), with
    jaccard_col's, hamming_col's and _pass_expr's values bit for bit.

    The intersection probes each distinct shingle of the side with fewer
    into the sorted keys, in chunks of at most _PROBE_CHUNK probes (plus
    one pair's); Hamming is the popcount of the XORed words."""
    small = sig.distinct[a] <= sig.distinct[b]
    p, q = np.where(small, a, b), np.where(small, b, a)
    probes = sig.distinct[p]
    before = np.cumsum(probes) - probes
    shingle = sig.keys & _LOW32
    # a sentinel past every key, so a probe's insertion point is a key
    keys = np.r_[sig.keys, np.iinfo(np.int64).max]
    ni = np.zeros(len(a), np.int64)
    lo = 0
    while lo < len(a):
        hi = max(lo + 1, int(np.searchsorted(
            before, before[lo] + _PROBE_CHUNK, "left")))
        n, at = probes[lo:hi], before[lo:hi] - before[lo]
        # probe i of a pair is the p side's i-th key, sought in q's run
        idx = np.arange(at[-1] + n[-1]) + np.repeat(
            sig.start[p[lo:hi]] - at, n
        )
        want = np.repeat(q[lo:hi] << 32, n) | shingle[idx]
        hits = np.r_[0, np.cumsum(keys[np.searchsorted(keys, want)] == want)]
        ni[lo:hi] = hits[at + n] - hits[at]
        lo = hi
    la, lb = sig.size[a], sig.size[b]
    jaccard = np.zeros(len(a))
    both = (la > 0) & (lb > 0)
    jaccard[both] = ni[both] / (la + lb - ni)[both]
    xor = np.ascontiguousarray(sig.simhash[a] ^ sig.simhash[b])
    hamming = _POPCOUNT8[xor.view(np.uint8)].sum(axis=1)
    min_shingles = np.minimum(sig.n_shingles[a], sig.n_shingles[b])
    passes = (jaccard >= cfg.jaccard_s) | (
        (hamming <= cfg.hamming_t)
        & (min_shingles >= cfg.simhash_min_shingles)
    )
    return jaccard, hamming, passes


def _rescue_pairs(
    sig: _Signatures, center: np.ndarray, member: np.ndarray, cap: int
) -> tuple[np.ndarray, np.ndarray]:
    """star_rescue_candidates of the failed star rows (center, member), as
    distinct file index pairs: the same ladder (ladder_rows), grouped by
    center, with ``cap`` as its pair cap and no salted tier."""
    u, v, _, _ = ladder_rows(center, member, cap, group_cap=None)
    n = len(sig.file_id)
    pair = np.unique(member[u] * n + member[v])
    return pair // n, pair % n


def _local_relation(candidates: DataFrame, edges: pa.Table) -> DataFrame:
    """The verified ``edges`` as a local relation with the executor
    plan's column types."""
    schema = StructType([
        candidates.schema["u"], candidates.schema["v"],
        candidates.schema["kind"],
        StructField("jaccard", DoubleType()),
        StructField("hamming", LongType()),
    ])
    return local_relation(candidates.sparkSession, edges, schema)


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
    candidates = candidates.where(F.col("kind") != "exact").select(
        "u", "v", "kind", "from_star"
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
    still pass the exact re-rank; their from_star is 0, so they are
    never rescued in turn.
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
        .select(
            "u", "v", F.lit("lsh_rescue").alias("kind"),
            F.lit(0).alias("from_star"),
        )
    )
