"""spill_eps accuracy/latency curve on the persisted-index SERVING path.

Annoy's search_k is a pure query-time knob: one stored index serves every
accuracy budget, and examples/precision_test.py:11-46 sweeps it to chart
precision vs effort. This is the same sweep for the Spark re-expression's
spill_eps (forest kind): ONE index is built and persisted, then the same
query batch is answered at increasing spill_eps, reporting recall@10 vs
the exact angular top-k and seconds per batch. Appends a section to
BENCH/ann_index_bench.md.

Usage: python tools/sweep_spill_eps.py [n_items] [n_queries]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SPILLS = [0.0, 0.02, 0.05, 0.1, 0.15, 0.2]


def main() -> None:
    n_items = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 500

    from pyspark.sql import functions as F

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.session import get_spark
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    spark = get_spark(
        "spill_sweep", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/spark_spill_sweep"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def vecs(n, seed, id_off):
        return spark.range(n).select(
            (F.col("id") + id_off).alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)), lambda i: F.randn(seed)
            ).alias("embedding"),
        )

    items = vecs(n_items, 42, 0).repartition(32).cache()
    queries = vecs(n_queries, 7, 10_000_000).coalesce(1).cache()
    items.count(), queries.count()

    root = "/dev/shm/spill_sweep_idx"
    shutil.rmtree(root, ignore_errors=True)
    cfg = AnnIndexConfig(
        kind="forest", metric="angular", n_trees=16, leaf_cap=64, seed=42,
        sample_fraction=1.0, max_sample=20_000,
    )
    build_index(spark, items, root, cfg)
    idx = load_index(spark, root)

    exact = knn_bruteforce(items, queries, k=10).select("qid", "nid").cache()
    n_exact = exact.count()

    # warmup (python workers + JIT), excluded
    idx.query(queries.limit(10), k=10, spill_eps=0.0).count()

    rows = []
    for eps in SPILLS:
        best = None
        for _ in range(2):  # min of 2 (VM steal)
            t0 = time.time()
            ap = idx.query(queries, k=10, spill_eps=eps).select("qid", "nid")
            n_hit = exact.join(ap, ["qid", "nid"], "left_semi").count()
            dt = time.time() - t0
            best = (dt, n_hit) if best is None else min(best, (dt, n_hit))
        rows.append({
            "spill_eps": eps,
            "recall": round(best[1] / n_exact, 4),
            "batch_sec": round(best[0], 2),
        })
        print(json.dumps(rows[-1]))

    md = [
        "",
        "## spill_eps sweep on the serving path (search_k analog)",
        "",
        f"Same stored index ({n_items:,} items, 16 trees, leaf_cap 64), "
        f"same batch of {n_queries:,} queries,",
        "one knob: spill_eps at query time (min of 2 runs per level; the",
        "timing includes the recall-join verification, so treat sec as",
        "relative). The curve is the annoy search_k tradeoff",
        "(examples/precision_test.py:11-46): accuracy is bought at query",
        "time, never by rebuilding.",
        "",
        "| spill_eps | recall@10 | batch sec |",
        "|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['spill_eps']} | {r['recall']} | {r['batch_sec']} |"
        )
    md.append("")
    md.append(
        f"Reproduce: `python tools/sweep_spill_eps.py {n_items} "
        f"{n_queries}`"
    )
    md.append("")
    path = REPO / "BENCH" / "ann_index_bench.md"
    text = path.read_text()
    marker = "\n## spill_eps sweep"
    if marker in text:
        text = text[: text.index(marker)]
    path.write_text(text.rstrip("\n") + "\n" + "\n".join(md))
    print("appended sweep section to BENCH/ann_index_bench.md")


if __name__ == "__main__":
    main()
