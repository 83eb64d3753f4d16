"""End-to-end accuracy gate (SURVEY.md §7.2): planted-duplicate corpus,
O(n^2) oracle, dup-pair recall >= 0.99 — the analog of
/root/reference/test/accuracy_test.py:89's thresholded accuracy assert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from annoy_spark.config import DedupConfig
from annoy_spark.corpus import generate_corpus, generate_corpus_pdf
from annoy_spark.oracle import cluster_precision, compute_oracle, pair_recall
from annoy_spark.plans.pipeline import assert_sha_invariant, run_pipeline

N = 800
# oracle gates run without the substring pass: the O(n^2) oracle models
# exact + Jaccard edges only; the substring stage is gated separately below
CFG = DedupConfig(enable_substring=False)
CFG_FULL = DedupConfig()


@pytest.fixture(scope="module")
def corpus(spark):
    df, labels = generate_corpus(spark, N, seed=42, partitions=4)
    return df.cache()


@pytest.fixture(scope="module")
def result(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, corpus, CFG, out, resume=False)


@pytest.fixture(scope="module")
def oracle(spark, corpus):
    pdf = generate_corpus_pdf(N, seed=42)
    ids = {
        (r.repo, r.path, r.commit): r.file_id
        for r in corpus.select(
            "repo", "path", "commit",
            F.xxhash64("repo", "path", "commit").alias("file_id"),
        ).collect()
    }
    return compute_oracle(pdf, ids, CFG.shingle_k, CFG.jaccard_s)


def test_sha_invariant(corpus, result):
    assert_sha_invariant(corpus, result.signatures)


def test_recall_gate(result, oracle):
    clusters = {r.file_id: r.cluster_id for r in result.clusters.collect()}
    recall, hit, total = pair_recall(oracle.edges, clusters)
    assert total > 50, "oracle must have a meaningful number of planted pairs"
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} ({hit}/{total})"


def test_precision_gate(result, oracle):
    clusters = {r.file_id: r.cluster_id for r in result.clusters.collect()}
    prec, hit, total = cluster_precision(clusters, oracle.clusters)
    assert prec >= 0.97, f"cluster precision {prec:.4f} ({hit}/{total})"


def test_all_files_labeled(corpus, result):
    assert result.clusters.count() == corpus.count()
    assert result.clusters.select("file_id").distinct().count() == corpus.count()


def test_determinism_across_partitioning(spark, corpus, result, tmp_path_factory):
    out2 = str(tmp_path_factory.mktemp("ckpt2"))
    corpus16 = corpus.repartition(16)
    r2 = run_pipeline(spark, corpus16, CFG, out2, resume=False)
    a = {r.file_id: r.cluster_id for r in result.clusters.collect()}
    b = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert a == b


def test_resume_skips_and_reproduces(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt3"))
    r1 = run_pipeline(spark, corpus, CFG, out, resume=True)
    first = {r.file_id: r.cluster_id for r in r1.clusters.collect()}
    r2 = run_pipeline(spark, corpus, CFG, out, resume=True)
    assert all(m["resumed"] for m in r2.metrics.values()), r2.metrics
    second = {r.file_id: r.cluster_id for r in r2.clusters.collect()}
    assert first == second


def test_resume_rejects_config_change(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt4"))
    run_pipeline(spark, corpus, CFG, out, resume=True)
    changed = DedupConfig(jaccard_s=0.9)
    from annoy_spark.sources.checkpoint import CheckpointStore

    store = CheckpointStore(out, changed)
    with pytest.raises(ValueError, match="refusing to resume"):
        store.read(spark, "signatures")


def test_empty_and_single_row_corpus(spark, tmp_path_factory):
    """Annoy's 0/1-item edge cases (test/angular_index_test.py:228-254)."""
    schema = "repo string, path string, commit string, lang string, content string"
    empty = spark.createDataFrame([], schema)
    r = run_pipeline(
        spark, empty, CFG, str(tmp_path_factory.mktemp("e")), resume=False
    )
    assert r.clusters.count() == 0

    one = spark.createDataFrame(
        [("r", "p", "c", "python", "def f(): return 1")], schema
    )
    r1 = run_pipeline(
        spark, one, CFG, str(tmp_path_factory.mktemp("s")), resume=False
    )
    rows = r1.clusters.collect()
    assert len(rows) == 1 and rows[0].file_id == rows[0].cluster_id


def test_substring_pass_clusters_planted_blocks(spark, tmp_path_factory):
    """Planted substring-class rows share a verbatim block >= 2000 chars
    with their base -> must co-cluster; boilerplate headers (~200 chars)
    must NOT merge otherwise-unique files."""
    from pyspark.sql import functions as F

    n = 400
    df, labels = generate_corpus(spark, n, seed=42, partitions=4)
    out = str(tmp_path_factory.mktemp("sub"))
    res = run_pipeline(spark, df, CFG_FULL, out, resume=False)
    clusters = {r.file_id: r.cluster_id for r in res.clusters.collect()}

    ids = {
        r.row_id: r.file_id
        for r in df.join(labels.select("repo", "path", "commit", "row_id"),
                         ["repo", "path", "commit"])
        .select("row_id", F.xxhash64("repo", "path", "commit").alias("file_id"))
        .collect()
    }
    lab = {r.row_id: (r.dup_class, r.base_id) for r in labels.collect()}
    content_len = {
        r.row_id: len(r.content)
        for r in df.join(labels.select("repo", "path", "commit", "row_id"),
                         ["repo", "path", "commit"]).select("row_id", "content").collect()
    }

    # substring rows whose base is long enough that the spliced block is a
    # true >=2200-char substring of the base's own content
    checked = hit = 0
    for rid, (cls, base) in lab.items():
        if cls != "substring" or base == rid:
            continue
        # the spliced block is base's canonical token stream — it is a true
        # substring of the base ROW only when that row is unique-class
        # (exact/near/substring base rows render different content)
        if lab.get(base, ("?", -1))[0] != "unique":
            continue
        if content_len.get(base, 0) < 2300:
            continue
        checked += 1
        hit += clusters[ids[rid]] == clusters[ids[base]]
    assert checked >= 8, f"need planted substring pairs, got {checked}"
    assert hit / checked >= 0.95, f"substring recall {hit}/{checked}"

    # negative control: boilerplate rows with distinct bases stay apart
    boiler = [ids[r] for r, (c, _) in lab.items() if c == "boilerplate"]
    merged = sum(
        1
        for i in range(len(boiler))
        for j in range(i + 1, len(boiler))
        if clusters[boiler[i]] == clusters[boiler[j]]
    )
    assert merged == 0, f"{merged} boilerplate pairs wrongly merged"


def test_all_identical_corpus_mega_cluster(spark, tmp_path_factory):
    """The skew worst case (annoylib.h:1402-1425 imbalance fallback analog):
    every file byte-identical -> ONE cluster, via sha collapse not O(n^2)."""
    schema = "repo string, path string, commit string, lang string, content string"
    rows = [(f"r{i}", f"p{i}", "c", "python", "same content everywhere " * 20)
            for i in range(300)]
    df = spark.createDataFrame(rows, schema)
    r = run_pipeline(
        spark, df, CFG, str(tmp_path_factory.mktemp("m")), resume=False
    )
    labels = r.clusters.collect()
    assert len({x.cluster_id for x in labels}) == 1
    assert len(labels) == 300


def test_verify_plan_is_udf_free(spark, corpus):
    """Plan-shape guard for the round-5 JVM-jaccard swap: the verify
    stage's physical plan must contain no Python evaluation node — the
    exact re-rank (jaccard + hamming) runs entirely in whole-stage
    codegen, with the jaccard expression compiled into the join.
    A reintroduced pandas UDF here would ship KB-sized shingle arrays
    over Arrow per candidate pair (the dominant cost and variance
    source this guard retired)."""
    from annoy_spark.operators.band import all_candidate_edges
    from annoy_spark.operators.sign import sign
    from annoy_spark.operators.verify import verify

    # materialize signatures first: in the real pipeline verify reads a
    # checkpoint scan, so the SIGN stage's (legitimate) Arrow UDF must
    # not leak into the plan under test
    sigs = sign(corpus, CFG).localCheckpoint()
    cand, _ = all_candidate_edges(sigs, CFG)
    cand = cand.localCheckpoint()
    verified = verify(cand, sigs, CFG)
    plan = verified._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} reappeared in the verify plan"


def test_verify_executor_plan_is_udf_free(spark, corpus, monkeypatch):
    """The same guard on the executor join plan. A candidate set this
    small is verified on the driver, whose plan is a LocalTableScan, so
    the join plan is forced here with DRIVER_PAIRS_MAX = -1."""
    import annoy_spark.operators.verify as verify_mod
    from annoy_spark.operators.band import all_candidate_edges
    from annoy_spark.operators.sign import sign

    monkeypatch.setattr(verify_mod, "DRIVER_PAIRS_MAX", -1)
    sigs = sign(corpus, CFG).localCheckpoint()
    cand, _ = all_candidate_edges(sigs, CFG)
    cand = cand.localCheckpoint()
    verified = verify_mod.verify(cand, sigs, CFG)
    plan = verified._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, "the executor join plan was not the one built"
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} reappeared in the verify plan"
