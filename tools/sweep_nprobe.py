"""nprobe accuracy/latency curve on the persisted IVF SERVING path.

The IVF search_k analog (annoy spends its accuracy budget at query time
through the traversal priority queue, src/annoylib.h:1447-1480): items
are assigned to ONE centroid cell at build, and a query probes its
``nprobe`` nearest cells. One stored index is built; the same query
batch is answered at increasing nprobe, reporting recall@10 vs the
exact angular top-k and seconds per batch. Completes the committed
serving-knob evidence: spill_eps (float forests), spill_levels
(hamming bit trees), nprobe (IVF). Appends a section to
BENCH/ann_index_bench.md.

Usage: python tools/sweep_nprobe.py [n_items] [n_queries]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PROBES = [1, 2, 4, 8, 16, 32]


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
        "nprobe_sweep", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/spark_nprobe_sweep"},
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

    root = "/dev/shm/nprobe_sweep_idx"
    shutil.rmtree(root, ignore_errors=True)
    cfg = AnnIndexConfig(
        kind="ivf", metric="angular", n_centroids=64, nprobe=1, seed=42,
        sample_fraction=1.0, max_sample=20_000,
    )
    build_index(spark, items, root, cfg)
    idx = load_index(spark, root)

    exact = knn_bruteforce(items, queries, k=10).select("qid", "nid").cache()
    n_exact = exact.count()

    # warmup (python workers + JIT), excluded
    idx.query(queries.limit(10), k=10).count()

    rows = []
    for p in PROBES:
        best = None
        for _ in range(2):  # min of 2 (VM steal)
            t0 = time.time()
            ap = idx.query(queries, k=10, nprobe=p).select("qid", "nid")
            n_hit = exact.join(ap, ["qid", "nid"], "left_semi").count()
            dt = time.time() - t0
            best = (dt, n_hit) if best is None else min(best, (dt, n_hit))
        rows.append({
            "nprobe": p,
            "recall": round(best[1] / n_exact, 4),
            "batch_sec": round(best[0], 2),
        })
        print(json.dumps(rows[-1]))

    md = [
        "",
        "## nprobe sweep — IVF serving (the third query-time knob)",
        "",
        f"Same stored IVF index ({n_items:,} items, 64 centroids, built "
        "with nprobe=1 —",
        f"the stored config is an override default), same batch of "
        f"{n_queries:,} queries,",
        "one knob: nprobe at query time (min of 2 runs per level; timing",
        "includes the recall-join verification — treat sec as relative).",
        "Items were assigned once at build; only query-side cell probing",
        "widens. With spill_eps (float forests) and spill_levels (hamming",
        "bit trees) this completes the search_k-analog story: every index",
        "family buys accuracy at query time on one stored index.",
        "",
        "| nprobe | recall@10 | batch sec |",
        "|---|---|---|",
    ]
    for r in rows:
        md.append(f"| {r['nprobe']} | {r['recall']} | {r['batch_sec']} |")
    md.append("")
    md.append(
        f"Reproduce: `python tools/sweep_nprobe.py {n_items} {n_queries}`"
    )
    md.append("")
    path = REPO / "BENCH" / "ann_index_bench.md"
    text = path.read_text()
    marker = "\n## nprobe sweep"
    if marker in text:
        text = text[: text.index(marker)]
    path.write_text(text.rstrip("\n") + "\n" + "\n".join(md))
    print("appended sweep section to BENCH/ann_index_bench.md")


if __name__ == "__main__":
    main()
