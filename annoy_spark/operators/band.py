"""BAND stage: signatures -> candidate edges (+ exact-dup edges).

The analog of Annoy's forest traversal candidate generation
(/root/reference/src/annoylib.h:1447-1480): items sharing a band key are
candidates, exactly as items sharing a leaf in >= 1 tree are. The skew
defenses mirror Annoy's split-imbalance fallback (annoylib.h:1337-1425):

1. sha256 pre-collapse — byte-identical files contribute ONE representative
   to LSH (their edges are emitted directly), so boilerplate mega-groups
   cost O(g) instead of O(g^2);
2. the skew ladder, ``tiered_pairs`` — the one pair enumerator shared by
   banding, the substring pass's fingerprint families and the verify
   stage's star-rescue pass — and ``ladder_rows``, its numpy twin for the
   driver paths of the latter two.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from annoy_spark.config import DedupConfig
from annoy_spark.driver_batch import ragged, run_starts


def exact_edges(signatures: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(representatives, exact_dup_edges): collapse byte-identical files.

    representatives: one row per distinct content_sha (min file_id wins).
    exact_dup_edges: (u=rep, v=member) for every non-representative member —
    star edges; CC expands them to full clusters.
    """
    # window-min instead of groupBy+join-back: one shuffle, no second scan
    w = Window.partitionBy("content_sha")
    with_rep = signatures.withColumn("rep_id", F.min("file_id").over(w))
    edges = (
        with_rep.where(F.col("file_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("u"), F.col("file_id").alias("v"))
    )
    representatives = with_rep.where(
        F.col("file_id") == F.col("rep_id")
    ).drop("rep_id")
    return representatives, edges


def _member(payload: str | None, prefix: str = "") -> Column:
    return F.struct(*(prefix + c for c in ("file_id", payload) if c))


def group_stats(keys: list[str], payload: str | None = None) -> list[Column]:
    """The window columns ``tiered_pairs`` reads, in ONE window pass:
    ``gm``, the group minimum as min(struct(file_id[, payload])) — file_id
    is unique within a group, so the struct min is the minimum member
    together with its own payload — and ``gsize``, the group size."""
    w = Window.partitionBy(*keys)
    return [
        F.min(_member(payload)).over(w).alias("gm"),
        F.count(F.lit(1)).over(w).alias("gsize"),
    ]


def tiered_pairs(
    annotated: DataFrame,
    keys: list[str],
    pair_cap: int,
    group_cap: int | None,
    salt_buckets: int,
    payload: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The skew ladder: (pairs, accounting) from members grouped by ``keys``.

    annotated: one row per (group, member) with ``keys``, ``file_id``, the
    optional ``payload`` column and ``group_stats(keys, payload)``. Callers
    own its materialization.

    pairs: (u, v, star[, pu, pv]) with u < v; pu/pv are the payloads of
    the rows u and v come from.
    - tier 1, 1 < gsize <= pair_cap: every pair (star = 0); the self-join
      key equals the window partitioning, so neither side re-shuffles;
    - tier 2, pair_cap < gsize <= group_cap: star edges to the group
      minimum (star = 1), straight from the window columns;
    - tier 3, gsize > group_cap: a SALTED two-level star (star = 1) —
      members link to the minimum of their salt bucket, bucket minima to
      the group minimum — so no reducer sees the whole group and nothing is
      dropped. ``group_cap=None`` is unbounded: the filter folds to false
      and the planner prunes tier 3.
    accounting: (keys..., n_members) of the groups above group_cap.

    KNOWN APPROXIMATION of tiers 2-3 (deliberate, same tradeoff as Annoy's
    random-side fallback): star edges are verified INDIVIDUALLY against the
    group minimum, so two members that are true near-duplicates of each
    other but both fail verification against gmin are not linked through
    this group. This only bites when a band group is *heterogeneous* — a
    band collision between documents that aren't actually similar to the
    group min — which for groups past pair_enum_cap (>64 docs agreeing on
    4 minhashes) is overwhelmingly boilerplate families where members DO
    verify against gmin. The pair still has bands-1 other chances to
    collide in a small group, the substring pass links long verbatim
    blocks independently, the verify stage's star-rescue pass re-enumerates
    each center's failed members through this same ladder, and capped
    groups are accounted so the recall exposure is observable, not silent.
    Raising pair_enum_cap trades reducer cost for exact enumeration
    (config knob, per-deployment).
    """
    gsize, fid = F.col("gsize"), F.col("file_id")
    huge = gsize > group_cap if group_cap is not None else F.lit(False)
    carry = [payload] if payload else []

    def ends(star: int, u: Column, v: Column) -> list[Column]:
        pay = ([u[payload].alias("pu"), v[payload].alias("pv")]
               if payload else [])
        return [u["file_id"].alias("u"), v["file_id"].alias("v"),
                F.lit(star).alias("star"), *pay]

    in_small = annotated.where((gsize > 1) & (gsize <= pair_cap)).select(
        *keys, "file_id", *carry
    )
    full = (
        in_small.alias("a")
        .join(in_small.alias("b"), keys)
        .where(F.col("a.file_id") < F.col("b.file_id"))
        .select(*ends(0, _member(payload, "a."), _member(payload, "b.")))
    )
    star = annotated.where(
        (gsize > pair_cap) & ~huge & (fid != F.col("gm.file_id"))
    ).select(*ends(1, F.col("gm"), _member(payload)))
    # the salt spreads the per-bucket window across salt_buckets reducers
    sub = annotated.where(huge).select(
        "*", F.pmod(F.xxhash64("file_id"), F.lit(salt_buckets)).alias("salt")
    ).select(
        "*",
        F.min(_member(payload)).over(
            Window.partitionBy(*keys, "salt")
        ).alias("sm"),
    )
    # a member links to its bucket minimum; a bucket minimum to the group's
    smin = F.col("sm.file_id")
    salted = sub.where((fid != smin) | (fid != F.col("gm.file_id"))).select(
        *ends(1, F.when(fid != smin, F.col("sm")).otherwise(F.col("gm")),
              _member(payload))
    )
    accounting = (
        annotated.where(huge)
        .groupBy(*keys)
        .agg(F.first("gsize").alias("n_members"))
    )
    return full.unionByName(star).unionByName(salted), accounting


def ladder_rows(
    key: np.ndarray,
    member: np.ndarray,
    pair_cap: int,
    group_cap: int | None,
    salt: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``tiered_pairs`` in numpy over the rows (key[i], member[i]):
    (u, v, huge_key, huge_size).

    u and v are ROW indices, so callers gather the payloads of the rows a
    pair comes from; member[u] < member[v] in every pair. The tiers and
    the accounting are tiered_pairs', row for row: full pairs of the
    groups of 1 < size <= pair_cap, star edges to the group
    minimum up to group_cap rows, and above it the two-level star through
    the minimum of each ``salt`` bucket (salt per row, required unless
    ``group_cap`` is None); (huge_key, huge_size) are the groups above
    group_cap and their row counts. As in the DataFrame plan, sizes count
    repeated members, a member never pairs with itself, and a row equal
    to its group's (or bucket's) minimum member gets no star edge from
    it; which of several equal minimum rows lends its row index is
    unspecified."""
    order = np.lexsort((member, key))
    k, m = key[order], member[order]
    first = run_starts(k)
    size = np.bincount(first, minlength=len(k))[first]
    # tier 1: each row with every later row of its group
    t1 = np.flatnonzero((size > 1) & (size <= pair_cap))
    owner, off = ragged(first[t1] + size[t1] - 1 - t1)
    a = t1[owner]
    b = a + 1 + off
    full = m[a] < m[b]
    huge = (size > group_cap) if group_cap is not None else np.zeros(
        len(k), dtype=bool)
    # tier 2: the group minimum to every other member
    t2 = np.flatnonzero((size > pair_cap) & ~huge & (m != m[first]))
    # tier 3: a member to its bucket minimum; a bucket minimum to the
    # group minimum
    u3 = v3 = np.empty(0, np.int64)
    t3 = np.flatnonzero(huge)
    if len(t3):
        s = salt[order][t3]
        by_bucket = np.lexsort((m[t3], s, k[t3]))
        t3, s = t3[by_bucket], s[by_bucket]
        bmin = t3[run_starts(k[t3], s)]
        to_bucket = m[t3] != m[bmin]
        edge = to_bucket | (m[t3] != m[first[t3]])
        u3 = np.where(to_bucket, bmin, first[t3])[edge]
        v3 = t3[edge]
    u = order[np.r_[a[full], first[t2], u3]]
    v = order[np.r_[b[full], t2, v3]]
    heads = np.flatnonzero(huge & (first == np.arange(len(k))))
    return u, v, k[heads], size[heads]


def all_candidate_edges(
    signatures: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """One stage: (edges with kind in ('exact','lsh'), skipped_groups).

    Exact (sha-equal) star edges pass verification by construction; LSH
    band-group edges still face the exact re-rank. Emitting both in one
    DataFrame keeps the pipeline at one checkpoint per named artifact
    (signatures / candidate_edges / clusters — the north rule's list)."""
    representatives, ex_edges = exact_edges(signatures)
    lsh, skipped = candidate_edges(representatives, cfg)
    edges = ex_edges.select(
        "u", "v", F.lit("exact").alias("kind"),
        F.lit(0).alias("from_star"),
    ).unionByName(lsh.select("u", "v", "kind", "from_star"))
    return edges, skipped


def candidate_edges(
    representatives: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """(candidate_pairs, skipped_groups) from banded signatures.

    candidate_pairs: distinct (u < v) file-id pairs sharing >= 1 band key.
    skipped_groups: (band_idx, band_key, n_members) for capped groups.
    """
    keys = ["band_idx", "band_key"]
    bands = (
        representatives.where(F.col("n_shingles") >= 1)
        .select("file_id", F.posexplode("band_keys").alias(*keys))
    )
    # materialize ONCE: five consumers reference this relation (skipped +
    # three tiers, twice in the tier-1 self-join) and Spark re-ran the
    # explode + window sort per reference (guide §2.4 / §5). Narrow rows;
    # lazily checkpointed — the first consumer's job materializes it.
    # Block loss just fails the pipeline stage, which the per-stage
    # checkpoint protocol already re-runs from `signatures`.
    annotated = bands.select("*", *group_stats(keys)).localCheckpoint(
        eager=False
    )
    pairs, skipped = tiered_pairs(
        annotated, keys, cfg.pair_enum_cap, cfg.band_group_cap,
        cfg.salt_buckets,
    )
    # tier provenance: 'lsh' = fully enumerated (tier 1); 'lsh_star' = star
    # approximation (tiers 2-3) whose verification failures are eligible
    # for the rescue pass (verify.py). A pair seen by BOTH tiers keeps
    # kind='lsh' (already fully enumerated somewhere) but RETAINS
    # from_star=1: rescue eligibility must survive the min-collapse, or a
    # (center, member) edge that also occurred in a small band group would
    # silently drop the member from the center's failed-member set and the
    # split the rescue pass exists to fix could still occur through that
    # path.
    edges = pairs.groupBy("u", "v").agg(
        F.when(F.min("star") == 0, "lsh").otherwise("lsh_star").alias("kind"),
        F.max("star").alias("from_star"),
    )
    return edges, skipped
