"""Substring pass: kernel unit tests + end-to-end planted-block detection."""

from __future__ import annotations

import numpy as np
import pytest

from annoy_spark.config import DedupConfig
from annoy_spark.operators.substring import (
    fingerprint_positions,
    rolling_gram_hashes,
    substring_edges,
    winnow,
)

CFG = DedupConfig()


def _naive_gram_hashes(data: bytes, c: int) -> list[int]:
    B = 0x100000001B3
    out = []
    for i in range(len(data) - c + 1):
        h = 0
        for j in range(c):
            h = (h * B + data[i + j]) % (1 << 64)
        out.append(h)
    return out


def test_rolling_hash_matches_naive():
    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, size=200, dtype=np.uint8)
    got = rolling_gram_hashes(data, 16)
    want = _naive_gram_hashes(bytes(data), 16)
    assert [int(x) for x in got] == want


def test_rolling_hash_position_independent():
    """Equal grams hash equally wherever they occur."""
    data = np.frombuffer(b"xyz_ABCDEFGH_pq_ABCDEFGH_end", dtype=np.uint8)
    h = rolling_gram_hashes(data, 8)
    i1, i2 = 4, 16  # both 'ABCDEFGH'
    assert h[i1] == h[i2]


def test_winnow_guarantee():
    """Any window of w grams contributes its min -> shared block of length
    >= w + c - 1 yields a shared fingerprint, regardless of alignment."""
    rng = np.random.default_rng(7)
    block = bytes(rng.integers(97, 123, size=500, dtype=np.uint8))
    a = bytes(rng.integers(97, 123, size=300, dtype=np.uint8)) + block
    b = block + bytes(rng.integers(97, 123, size=400, dtype=np.uint8))
    c, w = 16, 485  # guarantee length = w + c - 1 = 500
    ha, pa = fingerprint_positions(a.decode("latin1"), c, w)
    hb, pb = fingerprint_positions(b.decode("latin1"), c, w)
    assert len(set(ha) & set(hb)) >= 1


def test_winnow_density():
    rng = np.random.default_rng(9)
    h = rng.integers(0, 1 << 63, size=20_000, dtype=np.uint64)
    sel = winnow(h, 1000)
    assert 10 <= len(sel) <= 200  # ~2n/w expected


@pytest.fixture(scope="module")
def sub_corpus(spark):
    rng = np.random.default_rng(11)

    def text(n):
        toks = [f"tk{v}" for v in rng.integers(0, 3000, size=n)]
        return " ".join(toks)

    base = text(900)       # ~5 KB
    block = base[:2600]    # verbatim block > min_substring_len
    rows = [
        (1, base),
        (2, text(700)[:1500] + " " + block + " " + text(300)),  # shares block
        (3, text(800)),                                          # unrelated
        (4, "short doc"),
        (5, text(200)[:400] + base[:800] + text(100)),           # only 800 chars
    ]
    return spark.createDataFrame(rows, "file_id long, content string")


def test_substring_edges_end_to_end(spark, sub_corpus):
    edges = substring_edges(sub_corpus, CFG).collect()
    pairs = {(r.u, r.v): r.match_len for r in edges}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= CFG.min_substring_len
    # the 800-char overlap must NOT qualify (below threshold)
    assert (1, 5) not in pairs
    assert all({u, v} == {1, 2} for (u, v) in pairs), pairs


@pytest.fixture(scope="module")
def long_corpus(spark):
    """A match far longer than the extension's first scan windows, a
    match just above the threshold, and a sub-threshold overlap."""
    rng = np.random.default_rng(23)

    def text(n):
        return " ".join(f"tk{v}" for v in rng.integers(0, 3000, size=n))

    base = text(2000)  # ~11 KB
    rows = [
        (1, base),
        (2, text(100) + " " + base[:9000] + " " + text(400)),   # LONG match
        (3, text(300) + " " + base[4000:6600] + " " + text(200)),  # ~2.6 KB
        (4, text(900)),                                          # unrelated
        (5, text(80) + base[:900] + text(60)),                   # sub-threshold
    ]
    return spark.createDataFrame(rows, "file_id long, content string")


def test_full_content_long_and_short_matches(spark, long_corpus):
    """Whole-file extension reports the true maximal match length for
    both a ~9 KB and a ~2.6 KB shared block, and drops the 900-byte
    overlap below min_substring_len."""
    full = {(r.u, r.v, r.match_len)
            for r in substring_edges(long_corpus, CFG).collect()}
    assert any(ml >= 8500 for (_, _, ml) in full), full
    assert any(CFG.min_substring_len <= ml < 4000 for (_, _, ml) in full), full
    assert not any({u, v} == {1, 5} for (u, v, _) in full), full


def test_pair_join_paths_agree(spark, long_corpus, monkeypatch):
    """Above PAIR_BROADCAST_CAP the pair join runs unhinted; it reports
    the same edges as the broadcast join small pair sets take."""
    from annoy_spark.operators import substring

    hinted = {tuple(r) for r in substring_edges(long_corpus, CFG).collect()}
    monkeypatch.setattr(substring, "PAIR_BROADCAST_CAP", -1)
    plain = {tuple(r) for r in substring_edges(long_corpus, CFG).collect()}
    assert hinted and plain == hinted, hinted ^ plain


def test_substring_deterministic_across_partitioning(spark, sub_corpus):
    a = {(r.u, r.v, r.match_len)
         for r in substring_edges(sub_corpus.repartition(1), CFG).collect()}
    b = {(r.u, r.v, r.match_len)
         for r in substring_edges(sub_corpus.repartition(5), CFG).collect()}
    assert a == b


def test_skewed_fingerprint_family(spark):
    """Fingerprint families past pair_enum_cap take the ladder's star and
    salted two-level star tiers: a block shared by 12 files (a family past
    band_group_cap) and a second block shared by 4 of them (a star-tier
    family) still connect every file, and the huge family is accounted
    with its member count."""
    from dataclasses import replace

    from annoy_spark.operators.cluster import connected_components

    rng = np.random.default_rng(31)

    def text(n):
        return " ".join(f"tk{v}" for v in rng.integers(0, 3000, size=n))

    block_a, block_b = text(500), text(500)   # ~2.7 KB each
    assert min(len(block_a), len(block_b)) > CFG.min_substring_len
    rows = [(i, text(60) + " " + block_a + " " + text(60)) for i in range(12)]
    rows[11] = (11, rows[11][1] + " " + block_b)
    rows += [(i, text(60) + " " + block_b + " " + text(60))
             for i in range(12, 15)]
    corpus = spark.createDataFrame(rows, "file_id long, content string")
    cfg = replace(CFG, pair_enum_cap=2, band_group_cap=5, salt_buckets=3)

    edges, skipped = substring_edges(corpus, cfg, return_skipped=True)
    edges = edges.collect()
    assert all(r.match_len >= cfg.min_substring_len for r in edges)
    # star tiers: far fewer edges than the C(12,2) + C(4,2) full pairs
    assert len(edges) < 66 + 6
    labels = connected_components(
        spark.createDataFrame([(r.u, r.v) for r in edges], "u long, v long")
    ).collect()
    assert {r.doc_id for r in labels} == set(range(15))
    assert len({r.cluster_id for r in labels}) == 1
    sk = skipped.collect()
    assert sk and {r.n_members for r in sk} == {12}, sk


def test_failed_substring_build_unpersists_fingerprints(spark):
    """A substring build whose jobs fail after the fingerprint relation
    was persisted (here: content that raises when read) still unpersists
    it, so a failed or cancelled branch leaves the session's cache
    manager empty."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    corpus = spark.createDataFrame(
        [(i, "shared block " * 200) for i in range(4)],
        "file_id long, content string",
    ).select(
        "file_id",
        F.when(F.col("file_id") < 0, F.col("content"))
        .otherwise(F.raise_error(F.lit("unreadable content")))
        .alias("content"),
    )
    assert cache.isEmpty()
    with pytest.raises(Exception, match="unreadable content"):
        substring_edges(corpus, CFG)
    assert cache.isEmpty()
