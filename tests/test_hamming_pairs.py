"""Pigeonhole all-pairs Hamming operator vs a brute-force referee.

The operator is EXACT (pigeonhole: t differing bits cannot touch all t+1
blocks), so the comparison is equality, not a recall threshold — the
reference's hamming test ethos (test/hamming_index_test.py:22-52) with the
referee run in numpy.
"""

from __future__ import annotations

import numpy as np
import pytest

from annoy_spark.operators.hamming_pairs import hamming_pairs


def _brute(ids, sigs, t):
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            h = 0
            for wa, wb in zip(sigs[i], sigs[j]):
                h += bin((wa ^ wb) & ((1 << 64) - 1)).count("1")
            if h <= t:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j]), h))
    return out


@pytest.mark.parametrize("n_bits,words,t", [(60, 1, 12), (128, 2, 8)])
def test_pigeonhole_equals_bruteforce(spark, n_bits, words, t):
    rng = np.random.default_rng(7)
    n = 120
    base = rng.integers(0, 1 << 62, size=(12, words), dtype=np.int64)
    rows = []
    for i in range(n):
        sig = base[i % 12].copy()
        # flip a few random bits so some pairs land within t and some out
        for b in rng.integers(0, n_bits, size=rng.integers(0, t)):
            sig[b // 64] ^= np.int64(1) << np.int64(b % 64)
        if n_bits % 64:
            sig[-1] &= (1 << (n_bits % 64)) - 1  # keep within n_bits
        rows.append((i, [int(w) for w in sig]))
    # plant exact duplicates (the within-group path)
    rows.append((n, rows[0][1]))
    rows.append((n + 1, rows[0][1]))

    df = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    got = {
        (r.u, r.v, r.hamming)
        for r in hamming_pairs(df, t=t, n_bits=n_bits).collect()
    }
    want = _brute([r[0] for r in rows], [r[1] for r in rows], t)
    assert got == want


def test_pigeonhole_empty_and_singleton(spark):
    df = spark.createDataFrame([(1, [5])], "doc_id long, sig array<long>")
    assert hamming_pairs(df, t=4, n_bits=60).count() == 0


def test_mega_family_equals_bruteforce(spark):
    """A 3000-member exact-duplicate family (the skew the signature
    collapse exists for) plus a perturbed tail: the family expands to all
    its member pairs at distance 0, and the tail's near pairs to the
    family are found, exactly as the brute-force referee says."""
    rng = np.random.default_rng(11)
    n_fam, t, n_bits = 3000, 6, 60
    fam = int(rng.integers(0, 1 << 60))
    rows = [(i, [fam]) for i in range(n_fam)]
    for i in range(40):
        sig = fam
        for b in rng.integers(0, n_bits, size=rng.integers(1, 2 * t)):
            sig ^= 1 << int(b)
        rows.append((n_fam + i, [sig]))
    df = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    got = hamming_pairs(df, t=t, n_bits=n_bits).toPandas()
    want = _brute([r[0] for r in rows], [r[1] for r in rows], t)
    # distinct + same size + every row in the referee's set => equal sets
    assert len(got) == len(want)
    assert not got.duplicated(["u", "v"]).any()
    assert all(
        (u, v, h) in want
        for u, v, h in zip(got["u"].tolist(), got["v"].tolist(),
                           got["hamming"].tolist())
    )
