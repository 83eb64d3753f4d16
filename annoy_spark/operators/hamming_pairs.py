"""Scale-safe ALL-PAIRS Hamming operator: pigeonhole multi-index.

Exact "all pairs with Hamming distance <= t" over packed bit signatures —
the product twin of the O(n^2) theta-join gate (which stays as its DuckDB
oracle). The reference's Hamming index proposes candidates through random
bit-subspace trees (/root/reference/src/annoylib.h:707-796) and re-ranks by
popcount (annoylib.h:736-743); here the candidate structure is the exact
pigeonhole multi-index (Greene/Parnas/Yao):

    split the B signature bits into t+1 contiguous blocks;
    hamming(a, b) <= t  =>  a and b agree on >= 1 whole block
    (t differing bits cannot touch all t+1 blocks).

So candidates = equi-join on (block_idx, block_value) — shuffle-friendly,
no theta-join — and the exact popcount re-rank keeps only true pairs.
Recall is 1.0 by construction (this is an EXACT operator, unlike LSH).

Skew defense: byte-identical signatures (exact-dup families — the dominant
skew at web scale) are collapsed to one representative per distinct
signature before the block join, so a g-member family costs O(1) in the
candidate stage instead of O(g^2); member pairs are expanded afterwards
(their O(g^2) output is the answer itself, not wasted work — feed
sha-collapsed representatives if family expansion is unwanted).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _block_value(sig_col: str, lo: int, width: int) -> Column:
    """Bits [lo, lo+width) of an array<long> of 64-bit words, LSB-first."""
    w0, off = divmod(lo, 64)
    hi = lo + width  # exclusive
    lo_word = F.element_at(F.col(sig_col), w0 + 1)
    part = F.shiftrightunsigned(lo_word, off)
    take_low = min(width, 64 - off)
    if take_low < 64:
        part = part.bitwiseAND(F.lit((1 << take_low) - 1))
    if hi > (w0 + 1) * 64:  # spans into the next word
        rest = hi - (w0 + 1) * 64
        hi_word = F.element_at(F.col(sig_col), w0 + 2)
        hi_bits = hi_word.bitwiseAND(F.lit((1 << rest) - 1))
        part = part.bitwiseOR(F.shiftleft(hi_bits, take_low))
    return part


def _popcount_xor(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_pairs(
    signatures: DataFrame,
    t: int,
    n_bits: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """(u, v, hamming) for every pair with popcount(xor) <= t, u < v.

    signatures: (id_col, sig_col: array<long>) — packed LSB-first words,
    n_bits total significant bits (annoymodule.cc:67-130's packing).
    """
    if t + 1 > n_bits:
        raise ValueError(f"need n_bits > t ({n_bits} bits, t={t})")
    nb = t + 1
    bounds = [n_bits * j // nb for j in range(nb + 1)]
    blocks = [
        _block_value(sig_col, bounds[j], bounds[j + 1] - bounds[j])
        for j in range(nb)
    ]

    # distinct-signature collapse keyed on the packed word ARRAY itself
    # (array<long> equality is exact) — the old string skey concat shuffled
    # ~40-byte keys everywhere and paid a per-row string build (guide §2.3:
    # narrower types). Distinct signatures pair on their int64 rep ids.
    keyed = signatures.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig")
    ).localCheckpoint(eager=False)  # 5 consumers; compute the input once
    # one representative (min id) per DISTINCT signature (exact-dup
    # collapse). groupBy, not a window: the min is partially aggregated
    # map-side, so a mega-family reaches its reducer as one row per map
    # task instead of being sorted whole in one task
    reps = (
        keyed.groupBy("sig").agg(F.min("id").alias("rid"))
        .localCheckpoint(eager=False)
    )

    rep_blocks = reps.select(
        "rid", "sig",
        F.posexplode(F.array(*blocks)).alias("blk", "bval"),
    )
    sig_pairs = (
        rep_blocks.alias("a")
        .join(rep_blocks.alias("b"), ["blk", "bval"])
        .where(F.col("a.rid") < F.col("b.rid"))
        .select(
            F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb"),
            F.col("a.sig").alias("sa"), F.col("b.sig").alias("sb"),
        )
        .dropDuplicates(["ra", "rb"])
        .withColumn("hamming", _popcount_xor("sa", "sb"))
        .where(F.col("hamming") <= t)
        .select("sa", "sb", "hamming")
    )

    # members join back on the signature itself: no id -> rep mapping
    # relation to build, and the planner sizes `keyed` from its input
    cross = (
        sig_pairs.join(
            keyed.select(F.col("id").alias("ia"), F.col("sig").alias("sa")),
            "sa",
        )
        .join(
            keyed.select(F.col("id").alias("ib"), F.col("sig").alias("sb")),
            "sb",
        )
        .select(
            F.least("ia", "ib").alias("u"),
            F.greatest("ia", "ib").alias("v"),
            "hamming",
        )
    )
    within = (
        keyed.alias("a")
        .join(keyed.alias("b"), "sig")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("u"), F.col("b.id").alias("v"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(within)
