"""Mid-pipeline resume (kill/rerun) and skew-cap accounting."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from annoy_spark.config import DedupConfig
from annoy_spark.corpus import generate_corpus
from annoy_spark.operators.band import all_candidate_edges
from annoy_spark.operators.sign import file_id_col, sign
from annoy_spark.plans.pipeline import run_pipeline

CFG = DedupConfig(enable_substring=False)


def test_kill_after_stage_then_resume(spark, tmp_path):
    """Annoy's load-and-continue contract, pipeline form: run fully, delete
    every checkpoint AFTER signatures (simulating a crash mid-pipeline),
    rerun with resume — signatures stage must be skipped, later stages
    recomputed, final clusters identical."""
    corpus, _ = generate_corpus(spark, 300, seed=42, partitions=4)
    out = tmp_path / "ck"
    r1 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    want = {r.file_id: r.cluster_id for r in r1.clusters.collect()}

    for stage in ("candidate_edges", "skipped_groups", "verified_edges",
                  "clusters"):
        shutil.rmtree(out / stage, ignore_errors=True)

    r2 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    assert r2.metrics["signatures"]["resumed"] is True
    assert r2.metrics["candidate_edges"]["resumed"] is False
    got = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert got == want


def test_invalidate_forces_recompute(spark, tmp_path):
    """unbuild/unload analog (annoylib.h:1080-1165): invalidate() drops a
    stage's validity stamp, so resume recomputes it (and its dependents are
    rebuilt from the fresh DataFrame), while untouched stages still skip."""
    from annoy_spark.sources.checkpoint import CheckpointStore

    corpus, _ = generate_corpus(spark, 200, seed=7, partitions=4)
    out = tmp_path / "ck"
    r1 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    want = {r.file_id: r.cluster_id for r in r1.clusters.collect()}

    store = CheckpointStore(str(out), CFG)
    assert store.exists("verified_edges")
    store.invalidate("verified_edges")
    assert not store.exists("verified_edges")
    store.invalidate("clusters")

    r2 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    assert r2.metrics["signatures"]["resumed"] is True
    assert r2.metrics["verified_edges"]["resumed"] is False
    got = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert got == want


def test_torn_meta_write_leaves_no_meta_and_resume_recomputes(
    spark, tmp_path, monkeypatch
):
    """A crash partway through the stage meta's JSON dump must leave no
    meta file at all (never truncated JSON that exists() cannot parse),
    and the next resume recomputes that stage with identical clusters."""
    import json

    from annoy_spark.sources import checkpoint

    corpus, _ = generate_corpus(spark, 200, seed=11, partitions=4)
    out = tmp_path / "ck"
    r1 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    want = {r.file_id: r.cluster_id for r in r1.clusters.collect()}
    for stage in ("verified_edges", "clusters"):
        shutil.rmtree(out / stage)

    real_dump = json.dump

    def torn_dump(obj, fp, **kw):
        if isinstance(obj, dict) and obj.get("stage") == "verified_edges":
            text = json.dumps(obj, **kw)
            fp.write(text[: len(text) // 2])
            fp.flush()
            raise OSError("disk went away mid-write")
        return real_dump(obj, fp, **kw)

    with monkeypatch.context() as m:
        m.setattr(checkpoint.json, "dump", torn_dump)
        with pytest.raises(OSError, match="mid-write"):
            run_pipeline(spark, corpus, CFG, str(out), resume=True)

    stage_dir = out / "verified_edges"
    assert (stage_dir / "_SUCCESS").exists(), "data files were written"
    leftovers = [p.name for p in stage_dir.iterdir() if "META" in p.name]
    assert leftovers == [], f"partial meta left behind: {leftovers}"

    r2 = run_pipeline(spark, corpus, CFG, str(out), resume=True)
    assert r2.metrics["candidate_edges"]["resumed"] is True
    assert r2.metrics["verified_edges"]["resumed"] is False
    assert r2.metrics["clusters"]["resumed"] is False
    got = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert got == want


def test_band_group_cap_accounts_skipped(spark):
    """Groups above band_group_cap switch to salted two-level star
    enumeration (bounded edges, no recall cliff) and are accounted in the
    skipped_groups checkpoint (SURVEY §7.4)."""
    # 30 distinct near-identical docs (differ by one trailing token) so the
    # sha collapse does NOT merge them, but bands do
    base = " ".join(f"w{i % 9} common token stream" for i in range(80))
    rows = [(f"r{i}", f"p{i}", "c", "python", base + f" tail{i}")
            for i in range(30)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    tiny_cap = DedupConfig(
        enable_substring=False, pair_enum_cap=2, band_group_cap=5
    )
    sigs = sign(corpus, tiny_cap)
    edges, skipped = all_candidate_edges(sigs, tiny_cap)
    sk = skipped.collect()
    assert len(sk) > 0, "oversized groups must be accounted"
    assert all(r.n_members > 5 for r in sk)
    # salted star keeps edge count linear-ish, far below full enumeration
    lsh = edges.where(F.col("kind") != "exact")
    assert lsh.count() < 30 * 29 / 2
    # and nothing is dropped: every member still reaches the group min via
    # CC over the salted star edges
    from annoy_spark.operators.cluster import connected_components

    labels = connected_components(lsh.select("u", "v"))
    clusters = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert len(set(clusters.values())) == 1, "salted star must stay connected"
    assert len(clusters) == 30


def test_submit_cli(spark, tmp_path):
    """The spark-submit entry point runs end-to-end via its main()."""
    from annoy_spark.submit import main

    corpus, _ = generate_corpus(spark, 120, seed=42, partitions=2)
    inp = str(tmp_path / "in.parquet")
    corpus.write.parquet(inp)
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(CFG.to_json())
    rc = main(["--input", inp, "--output", str(tmp_path / "out"),
               "--config", str(cfg_path), "--report"])
    assert rc == 0
    assert (tmp_path / "out" / "clusters" / "_SUCCESS").exists()


def test_star_rescue_candidates_ladder(spark):
    """Full pairs among <= cap failed members; star-to-min-failed beyond."""
    from annoy_spark.operators.verify import star_rescue_candidates

    failed = spark.createDataFrame(
        [(1, v) for v in range(2, 12)], "u long, v long"  # 10 failures
    )
    full = star_rescue_candidates(failed, cap=100).collect()
    assert len(full) == 45  # C(10,2)
    assert all(r.kind == "lsh_rescue" for r in full)
    star = star_rescue_candidates(failed, cap=4).collect()
    assert sorted((r.u, r.v) for r in star) == [(2, v) for v in range(3, 12)]


def test_star_rescue_connects_split_members(spark):
    """Two star members that are near-dups of each other but NOT of the
    star center must be re-connected by the rescue pass (the silent
    cluster-split failure of pure star enumeration)."""
    from annoy_spark.operators.verify import verify

    text_ab = " ".join(f"shared token t{i % 23} body" for i in range(300))
    rows = [
        ("r", "center", "c", "python",
         " ".join(f"totally different d{i % 17} words" for i in range(300))),
        ("r", "a", "c", "python", text_ab + " trailing alpha"),
        ("r", "b", "c", "python", text_ab + " trailing beta"),
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string",
    )
    cfg = DedupConfig(enable_substring=False)
    sigs = sign(corpus, cfg)
    ids = {
        r.path: r.file_id
        for r in corpus.select(
            "path", file_id_col().alias("file_id")
        ).collect()
    }
    cand = spark.createDataFrame(
        [
            (ids["center"], ids["a"], "lsh_star", 1),
            (ids["center"], ids["b"], "lsh_star", 1),
        ],
        "u long, v long, kind string, from_star int",
    )
    out = verify(cand, sigs, cfg).collect()
    pairs = {(r.u, r.v): r.kind for r in out}
    ab = tuple(sorted((ids["a"], ids["b"])))
    assert ab in pairs, f"rescue must recover the a-b edge, got {pairs}"
    assert pairs[ab] == "lsh_rescue"

    # the min-collapse case: (center, a) was ALSO fully enumerated in some
    # small band group, so its kind was downgraded to 'lsh' — but its
    # from_star provenance must keep it rescue-eligible, or the a-b edge
    # is silently lost through exactly the path the rescue pass exists for
    cand2 = spark.createDataFrame(
        [
            (ids["center"], ids["a"], "lsh", 1),
            (ids["center"], ids["b"], "lsh_star", 1),
        ],
        "u long, v long, kind string, from_star int",
    )
    out2 = verify(cand2, sigs, cfg).collect()
    pairs2 = {(r.u, r.v): r.kind for r in out2}
    assert ab in pairs2, (
        f"downgraded-kind star edge must stay rescue-eligible, got {pairs2}"
    )
    assert pairs2[ab] == "lsh_rescue"
    # and the center edges correctly stay failed
    assert (ids["center"], ids["a"]) not in pairs

    # rescue disabled -> the edge is lost (documents the approximation)
    cfg_off = DedupConfig(enable_substring=False, star_rescue_cap=0)
    out_off = verify(cand, sign(corpus, cfg_off), cfg_off).collect()
    assert ab not in {(r.u, r.v) for r in out_off}


def _ladder_want(groups, pair_cap, group_cap, salt):
    """(u, v, star) edges the skew ladder must emit, tier by tier."""
    want = set()
    for members in groups.values():
        gmin = min(members)
        if len(members) <= pair_cap:
            want |= {(a, b, 0) for a in members for b in members if a < b}
        elif group_cap is None or len(members) <= group_cap:
            want |= {(gmin, m, 1) for m in members if m != gmin}
        else:
            buckets: dict[int, list[int]] = {}
            for m in members:
                buckets.setdefault(salt[m], []).append(m)
            for bucket in buckets.values():
                smin = min(bucket)
                want |= {(smin, m, 1) for m in bucket if m != smin}
                if smin != gmin:
                    want.add((gmin, smin, 1))
    return want


def test_tiered_pairs_ladder(spark):
    """The one skew ladder band, substring and the star rescue share: full
    pairs up to pair_cap, a star to the group minimum up to group_cap, a
    salted two-level star beyond, payloads carried to both ends, huge
    groups accounted; an unbounded group_cap never salts. Its numpy twin
    (ladder_rows) emits the same rows, also with repeated members."""
    from collections import Counter

    import numpy as np

    from annoy_spark.operators.band import (
        group_stats, ladder_rows, tiered_pairs,
    )

    pair_cap, group_cap, buckets = 3, 5, 2
    sizes = [1, 2, pair_cap, pair_cap + 1, group_cap, group_cap + 1,
             3 * group_cap]
    # member ids interleave across groups, so no group's min is its first row
    ids = [(g, 10**5 - 7 * (100 * i + g))
           for g, n in enumerate(sizes) for i in range(n)]
    rows = [(g, fid, f"p{fid}") for g, fid in ids]
    groups: dict[int, list[int]] = {}
    for g, fid, _ in rows:
        groups.setdefault(g, []).append(fid)
    df = spark.createDataFrame(rows, "g int, file_id long, pay string")
    salt = dict(df.select(
        "file_id", F.pmod(F.xxhash64("file_id"), F.lit(buckets))
    ).collect())
    ann = df.select("*", *group_stats(["g"], "pay"))

    pairs, acc = tiered_pairs(ann, ["g"], pair_cap, group_cap, buckets,
                              payload="pay")
    got = pairs.collect()
    assert all(r.pu == f"p{r.u}" and r.pv == f"p{r.v}" for r in got)
    edges = [(r.u, r.v, r.star) for r in got]
    assert len(edges) == len(set(edges))
    assert set(edges) == _ladder_want(groups, pair_cap, group_cap, salt)
    # the two-level star really has a second level in the largest group
    big = groups[len(sizes) - 1]
    assert len({salt[m] for m in big}) == buckets
    assert any(u == min(big) and salt[v] != salt[u] for u, v, _ in edges)
    assert sorted(tuple(r) for r in acc.collect()) == [
        (5, group_cap + 1), (6, 3 * group_cap)]

    # rescue-style call: unbounded group_cap, no payload
    ann = df.select("g", "file_id", *group_stats(["g"]))
    pairs, acc = tiered_pairs(ann, ["g"], pair_cap, None, buckets)
    assert "salt" not in pairs._jdf.queryExecution().optimizedPlan().toString()
    edges = [(r.u, r.v, r.star) for r in pairs.collect()]
    assert set(edges) == _ladder_want(groups, pair_cap, None, salt)
    assert acc.collect() == []

    # the numpy twin, row for row; repeated rows of a full-pair group's
    # member and of a star and a salted group's minimum must yield no
    # (m, m) pair and no star edge from the repeated minimum
    repeat = {groups[1][0], min(groups[3]), min(groups[6])}
    for data in (rows, rows + [r for r in rows if r[1] in repeat]):
        df = spark.createDataFrame(data, "g int, file_id long, pay string")
        ann = df.select("*", *group_stats(["g"], "pay"))
        g, fid, pay = (np.array(c) for c in zip(*data))
        for cap in (group_cap, None):
            pairs, acc = tiered_pairs(ann, ["g"], pair_cap, cap, buckets,
                                      payload="pay")
            u, v, huge, n = ladder_rows(
                g, fid, pair_cap, cap, np.array([salt[f] for f in fid])
            )
            assert Counter(zip(fid[u].tolist(), fid[v].tolist(),
                               pay[u].tolist(), pay[v].tolist())) == Counter(
                (r.u, r.v, r.pu, r.pv) for r in pairs.collect())
            assert sorted(zip(huge.tolist(), n.tolist())) == sorted(
                tuple(r) for r in acc.collect())


def test_failed_branch_cancels_sibling_and_resume_recovers(
    spark, tmp_path, monkeypatch
):
    """A failing band->verify branch must surface promptly: the substring
    branch's jobs are cancelled, not waited for. A resumed rerun with the
    real stages then gives the clusters of a fresh run."""
    import time

    from annoy_spark.plans import pipeline

    cfg = DedupConfig()
    corpus, _ = generate_corpus(spark, 200, seed=5, partitions=4)
    out = tmp_path / "ck"

    def failing_verify(*a, **kw):
        raise RuntimeError("injected verify failure")

    @F.udf("long")
    def sleepy(x):
        import time as t

        t.sleep(180)
        return x

    def slow_substring(corpus_reps, cfg, return_skipped=False):
        edges = corpus_reps.select(
            sleepy("file_id").alias("u"), F.col("file_id").alias("v"),
            F.lit(0).cast("long").alias("match_len"),
        )
        return edges, edges.select("u")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "verify", failing_verify)
        m.setattr(pipeline, "substring_edges", slow_substring)
        t0 = time.time()
        with pytest.raises(RuntimeError, match="injected verify failure"):
            run_pipeline(spark, corpus, cfg, str(out), resume=True)
        assert time.time() - t0 < 60, "failure waited for the sibling"

    r2 = run_pipeline(spark, corpus, cfg, str(out), resume=True)
    assert r2.metrics["signatures"]["resumed"] is True
    assert r2.metrics["candidate_edges"]["resumed"] is True
    assert r2.metrics["verified_edges"]["resumed"] is False
    fresh = run_pipeline(spark, corpus, cfg, str(tmp_path / "fresh"),
                         resume=False)
    got = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert got == {r.file_id: r.cluster_id for r in fresh.clusters.collect()}
