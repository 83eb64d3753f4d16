"""Substring pass: kernel unit tests + end-to-end planted-block detection.

substring_edges answers driver-sized corpora on the driver and larger ones
with the executor plan; both give the same rows. Every end-to-end case
runs both paths on the same rows — the executor one forced with
DRIVER_CONTENT_BYTES = -1 — and compares them as multisets."""

from __future__ import annotations

from collections import Counter
from dataclasses import replace

import numpy as np
import pytest

import annoy_spark.operators.substring as S
from annoy_spark.config import DedupConfig
from annoy_spark.operators.substring import (
    fingerprint_positions,
    rolling_gram_hashes,
    substring_edges,
    winnow,
)

CFG = DedupConfig()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _both(corpus, cfg=CFG) -> tuple[Counter, Counter]:
    """(edges, skipped) rows of substring_edges(corpus, cfg), after
    checking that each path was the one taken and that the driver path's
    rows and column types equal the executor plan's."""
    edges, skipped = substring_edges(corpus, cfg, return_skipped=True)
    assert "LocalTableScan" in _plan(edges)
    assert "MapInPandas" not in _plan(edges)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(S, "DRIVER_CONTENT_BYTES", -1)
        x_edges, x_skipped = substring_edges(corpus, cfg, return_skipped=True)
    assert "MapInPandas" in _plan(x_edges)
    assert (edges.schema, skipped.schema) == (x_edges.schema, x_skipped.schema)
    got = _rows(edges), _rows(skipped)
    assert got == (_rows(x_edges), _rows(x_skipped))
    return got


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


def test_longest_matches_extends_every_distinct_anchor():
    """A repeated anchor extends once, and anchors that share pu but not
    pv are each extended: in both rows only one anchor is aligned, and
    its total (left + right) is the row's match."""
    u, v = b"0123456789", b"xx0123456789yy"
    ca, cb = np.frombuffer(u + u, np.uint8), np.frombuffer(v + v, np.uint8)
    best = S._longest_matches(
        ca, cb,
        np.array([0, 10]), np.array([10, 10]),
        np.array([0, 14]), np.array([14, 14]),
        np.array([0, 0, 0, 1, 1]),
        np.array([0, 0, 0, 3, 3]),
        np.array([0, 2, 2, 5, 0]),
    )
    assert best.tolist() == [10, 10]


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
    edges, skipped = _both(sub_corpus)
    pairs = {(u, v): ml for (u, v, ml) in edges}
    assert not skipped
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
    full = set(_both(long_corpus)[0])
    assert any(ml >= 8500 for (_, _, ml) in full), full
    assert any(CFG.min_substring_len <= ml < 4000 for (_, _, ml) in full), full
    assert not any({u, v} == {1, 5} for (u, v, _) in full), full


def test_pair_join_paths_agree(spark, long_corpus, monkeypatch):
    """Above PAIR_BROADCAST_CAP the executor plan's pair join runs
    unhinted; it reports the same edges as the broadcast join small pair
    sets take."""
    from annoy_spark.operators import substring

    monkeypatch.setattr(substring, "DRIVER_CONTENT_BYTES", -1)
    hinted = {tuple(r) for r in substring_edges(long_corpus, CFG).collect()}
    monkeypatch.setattr(substring, "PAIR_BROADCAST_CAP", -1)
    plain = {tuple(r) for r in substring_edges(long_corpus, CFG).collect()}
    assert hinted and plain == hinted, hinted ^ plain


def test_substring_deterministic_across_partitioning(spark, sub_corpus):
    assert _both(sub_corpus.repartition(1)) == _both(sub_corpus.repartition(5))


SKEW_CFG = replace(CFG, pair_enum_cap=2, band_group_cap=5, salt_buckets=3)


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    """A block shared by 12 files (a fingerprint family past SKEW_CFG's
    band_group_cap: the salted two-level star, accounted) and a second
    block shared by 4 of them (a star-tier family)."""
    rng = np.random.default_rng(31)

    def text(n):
        return " ".join(f"tk{v}" for v in rng.integers(0, 3000, size=n))

    block_a, block_b = text(500), text(500)   # ~2.7 KB each
    assert min(len(block_a), len(block_b)) > CFG.min_substring_len
    rows = [(i, text(60) + " " + block_a + " " + text(60)) for i in range(12)]
    rows[11] = (11, rows[11][1] + " " + block_b)
    rows += [(i, text(60) + " " + block_b + " " + text(60))
             for i in range(12, 15)]
    return spark.createDataFrame(rows, "file_id long, content string")


def test_skewed_fingerprint_family(spark, skewed_corpus):
    """Fingerprint families past pair_enum_cap take the ladder's star and
    salted two-level star tiers: both blocks still connect every file,
    and the huge family is accounted with its member count."""
    from annoy_spark.operators.cluster import connected_components

    cfg = SKEW_CFG
    edges, skipped = _both(skewed_corpus, cfg)
    assert all(ml >= cfg.min_substring_len for (_, _, ml) in edges)
    # star tiers: far fewer edges than the C(12,2) + C(4,2) full pairs
    assert sum(edges.values()) < 66 + 6
    labels = connected_components(
        spark.createDataFrame([(u, v) for u, v, _ in edges], "u long, v long")
    ).collect()
    assert {r.doc_id for r in labels} == set(range(15))
    assert len({r.cluster_id for r in labels}) == 1
    assert skipped and {n for (_, n) in skipped} == {12}, skipped


@pytest.fixture(scope="module")
def periodic_corpus(spark):
    """Files built from one short period repeated, shifted against each
    other: every fingerprint has many positions and several diagonals
    tie, so the vote's (-votes, delta) order and the anchors of both kept
    diagonals decide match_len. Plus an empty file, a null content and
    a file shorter than one gram."""
    rng = np.random.default_rng(43)

    def text(n):
        return " ".join(f"tk{v}" for v in rng.integers(0, 3000, size=n))

    period = text(40)                       # ~240 chars
    rows = [
        (1, period * 14),
        (2, text(30) + " " + period[17:] + period * 11 + text(20)),
        (3, text(50) + period * 9 + " " + text(50)),
        (4, text(10) + " ü€ " + (period * 12)[91:] + " ü€"),
        (5, ""),
        (6, None),
        (7, "tiny"),
    ]
    return spark.createDataFrame(rows, "file_id long, content string")


def test_periodic_content_and_edge_rows(spark, periodic_corpus):
    """Repetitive content, multi-byte UTF-8 and empty, null and tiny
    files give the same rows on both paths, and the shifted copies of
    the period are found."""
    edges, skipped = _both(periodic_corpus)
    assert {(u, v) for (u, v, _) in edges} >= {(1, 2), (1, 4), (2, 3)}
    assert not skipped
    # every pair a fingerprint family of 2 yields: full pairs, no star
    edges, _ = _both(periodic_corpus, replace(CFG, pair_enum_cap=1,
                                              band_group_cap=2))
    assert edges


def test_empty_corpus_and_repeated_file_id(spark, sub_corpus):
    """An empty corpus gives empty local relations on the driver; a
    repeated file_id is outside what the pipeline passes in, so the
    driver path declines it and the executor plan answers."""
    edges, skipped = _both(sub_corpus.limit(0))
    assert not edges and not skipped
    twice = sub_corpus.unionByName(sub_corpus.where("file_id = 2"))
    out = substring_edges(twice, CFG)
    assert "MapInPandas" in _plan(out)
    assert {(r.u, r.v) for r in out.collect()} == {(1, 2)}


def test_content_bound_checked_before_the_fetch(spark, sub_corpus,
                                               monkeypatch):
    """A corpus over DRIVER_CONTENT_BYTES is declined on its content
    sizes: no fetched table carries content, and the executor plan
    answers with the same rows."""
    want = _rows(substring_edges(sub_corpus, CFG))
    fetched = []
    to_arrow = type(sub_corpus).toArrow

    def spy(df):
        table = to_arrow(df)
        fetched.append(table.column_names)
        return table

    monkeypatch.setattr(S, "DRIVER_CONTENT_BYTES", 1000)
    monkeypatch.setattr(type(sub_corpus), "toArrow", spy)
    out = substring_edges(sub_corpus, CFG)
    assert fetched and all("content" not in c for c in fetched)
    assert "MapInPandas" in _plan(out)
    assert _rows(out) == want


def test_failed_substring_build_unpersists_fingerprints(spark, monkeypatch):
    """An executor-plan substring build whose jobs fail after the
    fingerprint relation was persisted (here: content that raises when
    read) still unpersists it, so a failed or cancelled branch leaves the
    session's cache manager empty."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(S, "DRIVER_CONTENT_BYTES", -1)
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
