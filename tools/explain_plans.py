"""Dump physical plans of the key operators to PLANS.md.

Evidence that the declared plans compile to what we want: parquet scans with
pruned schemas + pushed filters, broadcast joins where intended, map-side
combined aggregations, ArrowEvalPython only where vectorized UDFs run.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def final_plan_of(df) -> str:
    """Plan after one execution, so AQE's runtime join choices show."""
    df.collect()
    return plan_of(df)


def main() -> None:
    from dataclasses import replace

    from pyspark.sql import functions as F

    from annoy_spark.config import DedupConfig
    from annoy_spark.corpus import generate_corpus
    from annoy_spark.operators.band import all_candidate_edges
    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.operators.sign import file_id_col, sign
    import annoy_spark.operators.substring as substring_mod
    import annoy_spark.operators.verify as verify_mod
    from annoy_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()

    corpus, _ = generate_corpus(spark, 500, seed=42, partitions=4)
    corpus.write.mode("overwrite").parquet("/tmp/plans_corpus")
    corpus = spark.read.parquet("/tmp/plans_corpus")

    sigs = sign(corpus, cfg)
    sigs.write.mode("overwrite").parquet("/tmp/plans_sigs")
    sigs_p = spark.read.parquet("/tmp/plans_sigs")

    cand, _ = all_candidate_edges(sigs_p, cfg)
    cand.write.mode("overwrite").parquet("/tmp/plans_cand")
    cand_p = spark.read.parquet("/tmp/plans_cand")

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(16)),
                    lambda i: F.rand(42) ).alias("embedding"),
    )

    from annoy_spark.operators.hamming_pairs import hamming_pairs
    from annoy_spark.operators.knn import knn_lsh

    def executor_verify_plan() -> str:
        driver_max = verify_mod.DRIVER_PAIRS_MAX
        verify_mod.DRIVER_PAIRS_MAX = -1
        try:
            plan = final_plan_of(verify_mod.verify(
                cand_p, sigs_p, replace(cfg, star_rescue_cap=0)))
        finally:
            verify_mod.DRIVER_PAIRS_MAX = driver_max
        return (
            "-- inputs under DRIVER_PAIRS_MAX candidates and "
            "DRIVER_SHINGLES_MAX shingles are scored on the driver: two "
            "fetches, numpy, a local relation --\n" + plan
        )

    def executor_substring_plan() -> str:
        driver_max = substring_mod.DRIVER_CONTENT_BYTES
        substring_mod.DRIVER_CONTENT_BYTES = -1
        try:
            plan = final_plan_of(substring_mod.substring_edges(
                corpus.select(file_id_col().alias("file_id"), "content"),
                cfg))
        finally:
            substring_mod.DRIVER_CONTENT_BYTES = driver_max
        return (
            "-- corpora under DRIVER_CONTENT_BYTES are searched on the "
            "driver: a size fetch, one content fetch, numpy, a local "
            "relation --\n" + plan
        )

    sections = {
        "SIGN stage (scan -> codegen string ops -> one ArrowEvalPython)":
            plan_of(sign(corpus, cfg)),
        "CANDIDATE stage (posexplode -> map-side-combined min/count -> "
        "tiered joins)": plan_of(all_candidate_edges(sigs_p, cfg)[0]),
        "VERIFY stage, executor plan, executed (forced with "
        "DRIVER_PAIRS_MAX = -1; no join hints: the planner sizes the "
        "parquet candidate set and broadcasts it; each signature side is "
        "semi-joined to its candidate ids before any shuffle)":
            executor_verify_plan(),
        "SUBSTRING pair join, executor plan, executed (forced with "
        "DRIVER_CONTENT_BYTES = -1; the counted anchored pair set is "
        "broadcast into a streamed content scan; its broadcast v ids "
        "semi-filter the v-side content, which the planner broadcasts "
        "while it is small)":
            executor_substring_plan(),
        "KNN brute force (broadcast queries, no shuffle of items)":
            plan_of(knn_bruteforce(emb, emb.limit(5), k=3)),
        "KNN LSH (routed rows checkpointed once; both sides salted by "
        "their own bucket counts, one broadcast left join each; _join_plan: "
        "(bucket, salt) self-join, narrow (qid, nid) dedup, re-attach "
        "vectors, exact re-rank; the one Window is _top_k's rank)":
            plan_of(knn_lsh(emb, k=3, n_tables=4, n_bits=4)),
        "HAMMING ALL-PAIRS (pigeonhole block equi-join, distinct-signature "
        "collapse, popcount re-rank)":
            plan_of(hamming_pairs(
                sigs_p.select(F.col("file_id").alias("doc_id"),
                              F.col("simhash").alias("sig")),
                t=cfg.hamming_t, n_bits=cfg.simhash_bits)),
    }

    from annoy_spark.operators.forest import knn_forest

    sections[
        "KNN FOREST (broadcast two_means trees -> one Arrow routing pass, "
        "checkpointed once -> salted (tree, leaf) self-join through "
        "_join_plan, exact re-rank)"
    ] = plan_of(knn_forest(emb, k=3, n_trees=4, leaf_cap=16,
                           sample_fraction=1.0))

    # persisted ANN index: by-vector query against STORED parquet
    # artifacts. A driver-sized batch is routed and re-ranked on the
    # driver: its plans are the two bounded semi-join fetches of the
    # stored relations, and the answer is a local relation. Plans after
    # one run, so AQE's join choices show
    import tempfile

    import annoy_spark.sources.ann_index as ann_index
    from annoy_spark.sources.ann_index import AnnIndexConfig, build_index

    def driver_fetch_plans(run) -> str:
        """The fetch plans a driver-answered query runs, and the
        answer's plan."""
        fetched = []
        real = {n: getattr(ann_index, n) for n in ("_members_of",
                                                   "_vectors_of")}
        for name, fn in real.items():
            def fetch(*a, _fn=fn):
                fetched.append(_fn(*a))
                return fetched[-1]
            setattr(ann_index, name, fetch)
        try:
            answer = run()
        finally:
            for name, fn in real.items():
                setattr(ann_index, name, fn)
        titles = ("-- member fetch (routed buckets' assignments) --",
                  "-- vector fetch (their items' vectors) --")
        return "\n".join(
            f"{t}\n{final_plan_of(df)}" for t, df in zip(titles, fetched)
        ) + f"-- answer --\n{plan_of(answer)}"

    idx_root = tempfile.mkdtemp(prefix="plans_annidx_")
    idx = build_index(
        spark, emb, idx_root,
        AnnIndexConfig(kind="forest", n_trees=4, leaf_cap=16,
                       sample_fraction=1.0),
    )
    queries = emb.limit(5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    sections[
        "ANN INDEX QUERY, DRIVER RE-RANK (driver-routed batch: two bounded "
        "semi-join fetches of the stored bucket/vector parquet, each a "
        "broadcast local relation into one scan, no UDF, no hints; dedup, "
        "scoring and ranking in numpy; the answer is a local relation)"
    ] = driver_fetch_plans(lambda: idx.query(queries, k=3, spill_eps=0.1))

    # the same driver-routed batch when its buckets hold more assignments
    # than SMALL_QUERY_MAX: forced here by lowering the cap to the batch
    cap = ann_index.SMALL_QUERY_MAX
    ann_index.SMALL_QUERY_MAX = 5
    try:
        sections[
            "ANN INDEX QUERY — LOCAL-RELATION JOIN PLAN (cap lowered "
            "between the batch and its routed assignments to force it: "
            "query routes and vectors as local relations, narrow (qid,nid) "
            "dedup, re-attach vectors, exact re-rank)"
        ] = final_plan_of(idx.query(queries, k=3, spill_eps=0.1))
        # the SAME query routed on the executors, as a batch past
        # SMALL_QUERY_MAX is: forced by lowering the cap below the batch
        ann_index.SMALL_QUERY_MAX = 2
        sections[
            "ANN INDEX QUERY — EXECUTOR-ROUTED LARGE BATCH (cap lowered "
            "below the batch to force it: Arrow routing UDF, no hints, AQE "
            "picks every join from measured sizes)"
        ] = final_plan_of(idx.query(queries, k=3, spill_eps=0.1))
    finally:
        ann_index.SMALL_QUERY_MAX = cap

    # after append + compact the fetch plans must be SHAPE-IDENTICAL —
    # compaction only changes file layout (fewer, bucket-sorted files),
    # never the logical relations the plans are built from
    from annoy_spark.sources.ann_index import compact_index

    idx.unload()
    from annoy_spark.sources.ann_index import append_index

    append_index(spark, idx_root, emb.select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"))
    cidx = compact_index(spark, idx_root)
    sections[
        "ANN INDEX QUERY AFTER APPEND+COMPACT (same fetch plans over the "
        "consolidated bucket-sorted artifacts — compaction is layout-only)"
    ] = driver_fetch_plans(lambda: cidx.query(queries, k=3, spill_eps=0.1))

    out = ["# PLANS — physical plan evidence (auto-generated)\n",
           "Regenerate: `python tools/explain_plans.py`\n"]
    for title, text in sections.items():
        out.append(f"\n## {title}\n\n```\n{text}\n```\n")
    (REPO / "PLANS.md").write_text("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
