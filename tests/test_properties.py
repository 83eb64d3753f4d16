"""Property-based kernel tests (hypothesis; Spark only for the
jaccard_col/udf equivalence check).

The invariants LSH correctness rests on, checked over random inputs:
minhash union-min law, JVM-jaccard equivalence to the pandas udf,
winnowing's shared-fingerprint guarantee, rolling-hash locality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from annoy_spark.config import DedupConfig
from annoy_spark.functions.signatures import (
    minhash_batch,
    minhash_coeffs,
    shingle_hash_batch,
)
from annoy_spark.operators.substring import (
    fingerprint_positions,
    rolling_gram_hashes,
)

CFG = DedupConfig()
A, B = minhash_coeffs(CFG)

ints = st.integers(min_value=-(1 << 62), max_value=(1 << 62) - 1)


@settings(max_examples=25, deadline=None)
@given(st.lists(ints, min_size=1, max_size=60),
       st.lists(ints, min_size=1, max_size=60))
def test_minhash_union_law(x, y):
    """minhash(x ∪ y) == elementwise min(minhash(x), minhash(y))."""
    u = sorted(set(x) | set(y))
    mx, my, mu = (list(v) for v in
                  minhash_batch(pd.Series([x, y, u]), A, B))
    assert mu == [min(p, q) for p, q in zip(mx, my)]


@settings(max_examples=25, deadline=None)
@given(st.lists(ints, min_size=0, max_size=80))
def test_minhash_invariant_to_order_and_duplication(xs):
    shuffled = list(reversed(xs)) + xs  # duplicates + reorder
    a, b = minhash_batch(pd.Series([xs, shuffled]), A, B)
    assert list(a) == list(b)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
                min_size=0, max_size=30))
def test_shingle_hashes_match_string_shingles(tokens):
    """Hash-window shingle identity == string shingle identity."""
    from annoy_spark.oracle import shingle_set

    toks = [t for t in "".join(tokens).split() if t]
    text = " ".join(toks)
    # engine side: hash each token like token_hashes_col would (any
    # injective-enough map works for the identity property — use a dict)
    vocab = {t: i * 2654435761 % (1 << 61) for i, t in enumerate(sorted(set(toks)))}
    h = [vocab[t] for t in toks]
    got, _ = shingle_hash_batch(pd.Series([h]), CFG.shingle_k, CFG.seed)
    want = shingle_set(text, CFG.shingle_k)
    if not toks:
        assert len(got[0]) == 0
    else:
        assert len(got[0]) == len(want)  # distinct window-count identity


@settings(max_examples=15, deadline=None)
@given(st.binary(min_size=0, max_size=400), st.integers(4, 32))
def test_rolling_hash_count_and_locality(data, c):
    arr = np.frombuffer(data, dtype=np.uint8)
    h = rolling_gram_hashes(arr, c)
    assert len(h) == max(len(arr) - c + 1, 0)
    # identical grams at different positions hash identically
    for i in range(len(h)):
        for j in range(i + 1, min(i + 4, len(h))):
            if data[i : i + c] == data[j : j + c]:
                assert h[i] == h[j]


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**32 - 1))
def test_winnow_guarantee_random_blocks(seed):
    """A shared block of length w + c - 1 always yields a shared
    fingerprint, wherever it sits in either file."""
    rng = np.random.default_rng(seed)
    c, w = 8, 57  # guarantee length 64
    block = bytes(rng.integers(32, 127, size=80, dtype=np.uint8))
    pre = bytes(rng.integers(32, 127, size=int(rng.integers(0, 120)), dtype=np.uint8))
    post = bytes(rng.integers(32, 127, size=int(rng.integers(0, 120)), dtype=np.uint8))
    a = (pre + block).decode("latin1")
    b = (block + post).decode("latin1")
    ha, _ = fingerprint_positions(a, c, w)
    hb, _ = fingerprint_positions(b, c, w)
    assert set(ha) & set(hb)


@given(
    st.lists(
        st.lists(ints, min_size=2, max_size=2), min_size=3, max_size=40
    ),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_hamming_tree_partitions_and_routes_consistently(rows, seed):
    """Every sample lands in exactly one leaf, and routing the SAME rows
    through hamming_forest_leaves' bit logic reproduces the leaf the
    builder assigned — the margin contract of annoylib.h:744-752 (bit at
    position p, MSB-first within each 64-bit word)."""
    from annoy_spark.operators.forest import (
        HammingTree,
        _bit_side,
        build_hamming_tree,
    )

    x = np.asarray(rows, dtype=np.int64)
    tree = build_hamming_tree(x, seed=seed, leaf_cap=2)

    # route each row down the tree with the same bit test the builder used
    def route(sig):
        node = 0
        while tree.bits[node] >= 0:
            side = bool(_bit_side(sig[None, :], int(tree.bits[node]))[0])
            node = tree.children[node][1 if side else 0]
        return node

    leaves = [route(r) for r in x]
    # every reached node is a leaf; identical signatures share a leaf
    for i, leaf in enumerate(leaves):
        assert tree.bits[leaf] < 0
        for j in range(i):
            if np.array_equal(x[i], x[j]):
                assert leaves[j] == leaf


@given(st.integers(min_value=0, max_value=127), ints, ints)
@settings(max_examples=60, deadline=None)
def test_bit_side_matches_reference_margin(pos, w0, w1):
    """_bit_side == annoy's Hamming margin (annoylib.h:744-752):
    chunk = pos / 64, mask = 1 << (63 - pos % 64) on the unsigned word."""
    from annoy_spark.operators.forest import _bit_side

    words = np.asarray([[w0, w1]], dtype=np.int64)
    got = bool(_bit_side(words, pos)[0])
    chunk, off = pos // 64, 63 - (pos % 64)
    want = bool((np.uint64(words[0, chunk]) >> np.uint64(off)) & np.uint64(1))
    assert got == want


def test_jaccard_col_equals_udf(spark):
    """The JVM jaccard (array_intersect/size, whole-stage codegen) is
    bit-identical to the pandas jaccard_udf it replaced on the verify
    hot path — both reduce to the same exact int counts and one
    int->double IEEE division. Random distinct-int64 arrays, including
    empty/disjoint/identical edges."""
    from annoy_spark.operators.verify import jaccard_col, jaccard_udf

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        la, lb = rng.integers(0, 40, 2)
        pool = rng.choice(10_000, size=80, replace=False)
        a = [int(x) for x in pool[:la]]
        # overlap ~half of b with a so intersections actually occur
        b = [int(x) for x in pool[la // 2: la // 2 + lb]]
        rows.append((i, a, b))
    rows += [(300, [], []), (301, [1, 2], []), (302, [7], [7])]
    df = spark.createDataFrame(
        rows, "id long, a array<long>, b array<long>"
    )
    got = df.select(
        jaccard_col("a", "b").alias("jvm"),
        jaccard_udf("a", "b").alias("py"),
    ).collect()
    assert all(r.jvm == r.py for r in got)
