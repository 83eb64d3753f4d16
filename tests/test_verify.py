"""verify() answers driver-sized candidate sets on the driver and larger
ones with the executor join plan; both give the same rows, values bit for
bit. Every case here runs both paths on the same rows — the executor one
forced with DRIVER_PAIRS_MAX = -1 — and compares them as multisets."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

import annoy_spark.operators.verify as V
from annoy_spark.config import DedupConfig
from annoy_spark.corpus import generate_corpus
from annoy_spark.operators.sign import file_id_col, sign
from annoy_spark.plans.pipeline import run_pipeline

CFG = DedupConfig(enable_substring=False)
CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
CAND_SCHEMA = "u long, v long, kind string, from_star int"
EDGE_DIGEST = "bit_xor(xxhash64(u, v, kind, jaccard, hamming))"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _both(monkeypatch, cand, sigs, cfg=CFG) -> tuple[Counter, Counter]:
    """(driver rows, executor rows) of verify(cand, sigs, cfg); asserts
    that each path was the one taken."""
    driver = V.verify(cand, sigs, cfg)
    assert "LocalTableScan" in _plan(driver)
    assert "Join" not in _plan(driver)
    with monkeypatch.context() as m:
        m.setattr(V, "DRIVER_PAIRS_MAX", -1)
        executor = V.verify(cand, sigs, cfg)
        assert "Join" in _plan(executor)
        return _rows(driver), _rows(executor)


@pytest.fixture(scope="module")
def split(spark):
    """(signatures, ids): a star center and two members that are near-dups
    of each other but not of the center, plus an empty file and a file
    with one short line (zero and few shingles)."""
    text_ab = " ".join(f"shared token t{i % 23} body" for i in range(300))
    rows = [
        ("r", "center", "c", "python",
         " ".join(f"totally different d{i % 17} words" for i in range(300))),
        ("r", "a", "c", "python", text_ab + " trailing alpha"),
        ("r", "b", "c", "python", text_ab + " trailing beta"),
        ("r", "empty", "c", "python", ""),
        ("r", "empty2", "c", "python", "   "),
        ("r", "short", "c", "python", "one two three four five six"),
    ]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    sigs = sign(corpus, CFG).localCheckpoint()
    ids = {
        r.path: r.file_id
        for r in corpus.select("path", file_id_col().alias("file_id"))
        .collect()
    }
    return sigs, ids


@pytest.fixture(scope="module")
def family(spark):
    """(signatures, ids): a center unlike six mutual near-dups m0..m5."""
    body = " ".join(f"family member token f{i % 29} line" for i in range(300))
    center = " ".join(f"unrelated center words x{i % 13}" for i in range(300))
    rows = [("r", "center", "c", "python", center)]
    rows += [("r", f"m{k}", "c", "python", body + f" tail {k}")
             for k in range(6)]
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    sigs = sign(corpus, CFG).localCheckpoint()
    ids = {
        r.path: r.file_id
        for r in corpus.select("path", file_id_col().alias("file_id"))
        .collect()
    }
    return sigs, ids


def _pair(ids, x, y):
    return tuple(sorted((ids[x], ids[y])))


def test_pipeline_digest_matches_executor_plan(spark, tmp_path,
                                               monkeypatch):
    """A planted corpus through run_pipeline with all three band tiers and
    the rescue pass: the verified_edges checkpoint and the clusters are
    the same on both paths."""
    cfg = DedupConfig(enable_substring=False, pair_enum_cap=4,
                      band_group_cap=16)
    corpus, _ = generate_corpus(spark, 300, seed=11, partitions=4)

    def digests(out):
        res = run_pipeline(spark, corpus, cfg, str(out), resume=False)
        edges = res.verified_edges.agg(
            F.count(F.lit(1)).alias("n"), F.expr(EDGE_DIGEST).alias("d"),
            F.sum((F.col("kind") == "lsh_rescue").cast("int")).alias("r"),
        ).first()
        clusters = res.clusters.agg(
            F.expr("bit_xor(xxhash64(file_id, cluster_id))")
        ).first()[0]
        return tuple(edges), clusters

    driver = digests(tmp_path / "driver")
    with monkeypatch.context() as m:
        m.setattr(V, "DRIVER_PAIRS_MAX", -1)
        executor = digests(tmp_path / "executor")
    assert driver == executor
    assert driver[0][0] > 0


def test_rescue_full_pairs_and_downgraded_kind(spark, split, monkeypatch):
    """Both star-rescue fixtures: two star edges and a star edge whose
    kind was downgraded to 'lsh' but keeps from_star = 1."""
    sigs, ids = split
    star = spark.createDataFrame(
        [(ids["center"], ids["a"], "lsh_star", 1),
         (ids["center"], ids["b"], "lsh_star", 1)],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, star, sigs)
    assert driver == executor
    assert {(u, v): k for u, v, k, _, _ in driver} == {
        _pair(ids, "a", "b"): "lsh_rescue"
    }
    downgraded = spark.createDataFrame(
        [(ids["center"], ids["a"], "lsh", 1),
         (ids["center"], ids["b"], "lsh_star", 1)],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, downgraded, sigs)
    assert driver == executor
    assert {(u, v) for u, v, *_ in driver} == {_pair(ids, "a", "b")}
    # failures of fully enumerated pairs (from_star = 0) get no rescue
    full = spark.createDataFrame(
        [(ids["center"], ids["a"], "lsh", 0),
         (ids["center"], ids["b"], "lsh", 0)],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, full, sigs)
    assert driver == executor == Counter()


def test_rescue_star_branch_above_cap(spark, family, monkeypatch):
    """A center with more failed members than star_rescue_cap takes the
    star branch: its least failed member links to the others. A repeated
    candidate row counts toward the center's size and stays repeated in
    the output where it passes."""
    sigs, ids = family
    members = sorted(ids[f"m{k}"] for k in range(6))
    rows = [(ids["center"], m, "lsh_star", 1) for m in members]
    rows += [(members[0], members[1], "lsh", 0)] * 2
    cand = spark.createDataFrame(rows, CAND_SCHEMA)
    cfg = DedupConfig(enable_substring=False, star_rescue_cap=3)
    driver, executor = _both(monkeypatch, cand, sigs, cfg)
    assert driver == executor
    rescued = {(u, v) for u, v, k, _, _ in driver if k == "lsh_rescue"}
    # (m0, m1) passed as a candidate already, so the anti-join drops it
    assert rescued == {(members[0], m) for m in members[2:]}
    assert sum(c for r, c in driver.items() if r[2] == "lsh") == 2
    # under the cap every pair of the failed members is enumerated
    cfg = DedupConfig(enable_substring=False, star_rescue_cap=64)
    driver, executor = _both(monkeypatch, cand, sigs, cfg)
    assert driver == executor
    assert sum(1 for r in driver if r[2] == "lsh_rescue") == 14
    # three failed members, one of them on a repeated row: four rows
    # are over a cap of 3, so the star branch runs
    rows = [(ids["center"], m, "lsh_star", 1) for m in members[:3]]
    cand = spark.createDataFrame(rows + rows[2:], CAND_SCHEMA)
    cfg = DedupConfig(enable_substring=False, star_rescue_cap=3)
    driver, executor = _both(monkeypatch, cand, sigs, cfg)
    assert driver == executor
    assert {(u, v) for u, v, *_ in driver} == {
        (members[0], members[1]), (members[0], members[2])
    }


def test_missing_signature_zero_shingles_and_nulls(spark, split,
                                                    monkeypatch):
    """A candidate whose file has no signature drops out, a pair of empty
    files scores jaccard 0.0, and null keys or kinds drop their rows."""
    sigs, ids = split
    cand = spark.createDataFrame(
        [
            (ids["a"], 123456789, "lsh", 0),
            (ids["empty"], ids["empty2"], "lsh", 0),
            (ids["empty"], ids["short"], "lsh_star", 1),
            (ids["short"], ids["a"], "lsh", 1),
            (ids["a"], ids["b"], "lsh", 0),
            (ids["a"], ids["b"], "lsh", 0),
            (None, ids["b"], "lsh", 0),
            (ids["a"], ids["b"], None, 0),
            (ids["a"], ids["center"], "exact", 0),
            (None, ids["center"], "exact", 0),
        ],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, cand, sigs)
    assert driver == executor
    ab = [r for r in driver if r[:3] == (ids["a"], ids["b"], "lsh")]
    assert len(ab) == 1 and driver[ab[0]] == 2
    assert (None, ids["center"], "exact", 1.0, 0) in driver
    assert not any(123456789 in r[:2] for r in driver)
    # the empty pair is scored, with jaccard 0.0, and fails
    scored = V._score_lsh(cand, sigs, CFG).where(
        F.col("u") == ids["empty"]
    ).collect()
    assert {r.jaccard for r in scored} == {0.0}
    # a file's only partner has no signature: nothing left to pair with
    lone = spark.createDataFrame(
        [(ids["a"], 123456789, "lsh", 0), (123456789, ids["a"], "lsh", 0)],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, lone, sigs)
    assert driver == executor == Counter()


def test_empty_and_all_exact_candidates(spark, split, monkeypatch):
    sigs, ids = split
    empty = spark.createDataFrame([], CAND_SCHEMA)
    driver, executor = _both(monkeypatch, empty, sigs)
    assert driver == executor == Counter()
    exact = spark.createDataFrame(
        [(ids["a"], ids["b"], "exact", 0), (ids["a"], ids["b"], "exact", 0),
         (ids["center"], ids["a"], "exact", 0)],
        CAND_SCHEMA,
    )
    driver, executor = _both(monkeypatch, exact, sigs)
    assert driver == executor
    assert sum(driver.values()) == 3


def test_repeated_signature_takes_executor_plan(spark, split, monkeypatch):
    """A file with two signature rows is outside what sign() produces: the
    driver path declines it and the join plan answers, each candidate
    joined once per signature row."""
    sigs, ids = split
    cand = spark.createDataFrame(
        [(ids["a"], ids["b"], "lsh", 0)], CAND_SCHEMA
    )
    twice = sigs.unionByName(sigs)
    out = V.verify(cand, twice, CFG)
    assert "Join" in _plan(out)
    assert sum(_rows(out).values()) == 4


def test_over_the_bounds_takes_executor_plan(spark, split, monkeypatch):
    """Candidates over DRIVER_PAIRS_MAX, or files over DRIVER_SHINGLES_MAX
    shingles, run the executor join plan, with the same rows."""
    sigs, ids = split
    cand = spark.createDataFrame(
        [(ids["center"], ids["a"], "lsh_star", 1),
         (ids["center"], ids["b"], "lsh_star", 1),
         (ids["a"], ids["b"], "lsh", 0)],
        CAND_SCHEMA,
    )
    want = _rows(V.verify(cand, sigs, CFG))
    for bound, cap in (("DRIVER_PAIRS_MAX", 2), ("DRIVER_SHINGLES_MAX", 10)):
        with monkeypatch.context() as m:
            m.setattr(V, bound, cap)
            out = V.verify(cand, sigs, CFG)
            assert "Join" in _plan(out), bound
            assert _rows(out) == want


def test_shingle_bound_checked_before_the_fetch(spark, split, monkeypatch):
    """Candidate files over DRIVER_SHINGLES_MAX shingles are declined on
    their shingle counts: no shingle array is fetched to the driver, and
    the executor join plan answers with the same rows."""
    sigs, ids = split
    cand = spark.createDataFrame(
        [(ids["center"], ids["a"], "lsh_star", 1),
         (ids["a"], ids["b"], "lsh", 0)],
        CAND_SCHEMA,
    )
    want = _rows(V.verify(cand, sigs, CFG))
    fetched = []
    to_arrow = type(cand).toArrow

    def spy(df):
        table = to_arrow(df)
        fetched.append(table.column_names)
        return table

    with monkeypatch.context() as m:
        m.setattr(V, "DRIVER_SHINGLES_MAX", 10)
        m.setattr(type(cand), "toArrow", spy)
        out = V.verify(cand, sigs, CFG)
    assert fetched and all("shingle_hashes" not in c for c in fetched)
    assert "Join" in _plan(out)
    assert _rows(out) == want
