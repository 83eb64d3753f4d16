"""spill_levels accuracy/latency curve for the HAMMING forest serving path.

A hamming bit-split tree has no margin distance, so the search_k analog
(annoy widens hamming searches through the bit-margin priority queue,
src/annoylib.h:745-756 + 1447-1480) is `spill_levels`: probe BOTH
children at splits whose subtree height <= d — up to 2^d leaves per tree,
query time only. One stored index is built; the same query batch is
answered at levels 0..3, reporting recall@10 vs the exact hamming top-k
and seconds per batch. Appends a section to BENCH/ann_index_bench.md.

Usage: python tools/sweep_spill_levels.py [n_items] [n_queries]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

LEVELS = [0, 1, 2, 3, 4, 5]
WORDS = 2  # 128-bit signatures, annoy's hamming item shape


def main() -> None:
    n_items = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    # a LEAN index (2 trees) on hard signatures (8 flipped bits): at
    # d=0 the frozen forest misses ~1 in 5 true neighbors, so the curve
    # actually shows what the query-time knob buys (8 trees on 3-bit
    # perturbations saturates recall at every level - a flat line is no
    # evidence)
    n_trees = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_flips = int(sys.argv[4]) if len(sys.argv) > 4 else 8

    from annoy_spark.operators.knn import knn_bruteforce
    from annoy_spark.session import get_spark
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        build_index,
        load_index,
    )

    spark = get_spark(
        "spill_levels_sweep", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/spark_spill_levels"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # clustered bit signatures: plant centers, flip a few bits per member
    # (uniform random bits would make every neighbor list a coin toss)
    rng = np.random.default_rng(42)
    centers = rng.integers(0, 1 << 63, size=(n_items // 50 + 1, WORDS),
                           dtype=np.int64)

    def rows(n, id_off, flip_seed):
        r = np.random.default_rng(flip_seed)
        base = centers[np.arange(n) % len(centers)]
        out = base.copy()
        for _ in range(n_flips):  # flip random bits per signature
            w = r.integers(0, WORDS, size=n)
            b = r.integers(0, 63, size=n)
            out[np.arange(n), w] ^= np.int64(1) << b.astype(np.int64)
        return [
            (int(i + id_off), [int(x) for x in out[i]]) for i in range(n)
        ]

    schema = "vec_id long, embedding array<long>"
    items = spark.createDataFrame(rows(n_items, 0, 1), schema) \
        .repartition(32).cache()
    queries = spark.createDataFrame(
        rows(n_queries, 10_000_000, 2), schema
    ).coalesce(1).cache()
    items.count(), queries.count()

    root = "/dev/shm/spill_levels_idx"
    shutil.rmtree(root, ignore_errors=True)
    cfg = AnnIndexConfig(
        kind="forest", metric="hamming", n_trees=n_trees, leaf_cap=64,
        seed=42,
        sample_fraction=1.0, max_sample=20_000,
    )
    build_index(spark, items, root, cfg)
    idx = load_index(spark, root)

    exact = knn_bruteforce(
        items, queries, k=10, metric="hamming"
    ).select("qid", "nid").cache()
    n_exact = exact.count()

    idx.query(queries.limit(10), k=10, spill_eps=0).count()  # warmup, excluded

    rows_out = []
    for d in LEVELS:
        best = None
        for _ in range(2):  # min of 2 (VM steal)
            t0 = time.time()
            ap = idx.query(queries, k=10, spill_eps=d).select("qid", "nid")
            n_hit = exact.join(ap, ["qid", "nid"], "left_semi").count()
            dt = time.time() - t0
            best = (dt, n_hit) if best is None else min(best, (dt, n_hit))
        rows_out.append({
            "spill_levels": d,
            "recall": round(best[1] / n_exact, 4),
            "batch_sec": round(best[0], 2),
        })
        print(json.dumps(rows_out[-1]))

    md = [
        "",
        "## spill_levels sweep — hamming forest serving (bit-tree search_k)",
        "",
        f"Same stored hamming index ({n_items:,} packed-128-bit items, "
        f"{n_trees} bit-split trees, leaf_cap 64, {n_flips} flipped "
        "bits/member),",
        f"same batch of {n_queries:,} queries, one knob: spill_levels at "
        "query time (probe both",
        "children in the bottom d split levels, <= 2^d leaves/tree; min of "
        "2 runs per level,",
        "timing includes the recall-join verification — treat sec as "
        "relative).",
        "",
        "| spill_levels | recall@10 | batch sec |",
        "|---|---|---|",
    ]
    for r in rows_out:
        md.append(
            f"| {r['spill_levels']} | {r['recall']} | {r['batch_sec']} |"
        )
    md.append("")
    md.append(
        f"Reproduce: `python tools/sweep_spill_levels.py {n_items} "
        f"{n_queries} {n_trees} {n_flips}`"
    )
    md.append("")
    path = REPO / "BENCH" / "ann_index_bench.md"
    path.write_text(path.read_text() + "\n".join(md))
    print(f"appended to {path}")


if __name__ == "__main__":
    main()
