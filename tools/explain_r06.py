"""Capture .explain("formatted") for every bench-path query into
plans/r06/<name>_<tag>.txt (round-6 before/after evidence).

Usage: python tools/explain_r06.py <tag> [repo_root]
Run with repo_root = a worktree of the round-start commit for `before`,
and the live repo for `after`. Output always lands in the LIVE repo's
plans/r06/.
"""

from __future__ import annotations

import os
import sys

LIVE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    tag = sys.argv[1]
    root = sys.argv[2] if len(sys.argv) > 2 else LIVE
    sys.path.insert(0, root)

    from annoy_spark.config import DedupConfig
    from annoy_spark.corpus import generate_corpus
    from annoy_spark.gates import queries as G
    from annoy_spark.operators.band import all_candidate_edges
    from annoy_spark.operators.hamming_pairs import hamming_pairs
    from annoy_spark.operators.knn import knn_lsh
    from annoy_spark.operators.sign import sign
    from annoy_spark.operators.verify import verify
    from annoy_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain_r06", master="local[4]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    for name in ("documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{name}.parquet") \
            .createOrReplaceTempView(name)

    out_dir = os.path.join(LIVE, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    def dump(name: str, df) -> None:
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"{name}_{tag}: Exchange={txt.count('Exchange')} "
              f"Reused={txt.count('ReusedExchange')} "
              f"Scans={txt.count('Scan parquet')} "
              f"Generate={txt.count('Generate')}")

    for name in ("jaccard_pairs", "minhash_lsh_pairs",
                 "simhash_hamming_pairs"):
        dump(name, spark.sql(G.spark_sql_for(name)))
    dump("duplicate_clusters_edges",
         spark.sql(G.duplicate_clusters_edges_sql_spark()))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dump("knn_lsh", knn_lsh(emb, k=10, n_tables=12, n_bits=8, seed=42))

    # pipeline stage plans over a small generated corpus (plan SHAPE is
    # what matters; size only changes AQE runtime decisions)
    cfg = DedupConfig()
    corpus, _ = generate_corpus(spark, 2000, seed=42, partitions=4)
    sigs = sign(corpus, cfg)
    dump("pipeline_sign", sigs)
    sigs_m = sigs.localCheckpoint(eager=True)
    cand, _skipped = all_candidate_edges(sigs_m, cfg)
    dump("pipeline_candidates", cand)
    cand_m = cand.localCheckpoint(eager=True)
    dump("pipeline_verify", verify(cand_m, sigs_m, cfg))

    from pyspark.sql import functions as F
    sim = sigs_m.select(
        F.col("file_id").alias("doc_id"), F.col("simhash").alias("sig")
    )
    dump("hamming_pairs_pigeonhole",
         hamming_pairs(sim, t=cfg.hamming_t, n_bits=cfg.simhash_bits))


if __name__ == "__main__":
    main()
