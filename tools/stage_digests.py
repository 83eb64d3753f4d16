"""Row count and order-independent digest of every pipeline checkpoint.

For each stage in ``annoy_spark.plans.pipeline.STAGES`` present under
``<out_dir>``, prints one tab-separated line: the stage name, its row count
and ``bit_xor(xxhash64(<all columns>))`` over its rows. Two pipeline runs
with equal lines produced the same rows, whatever their order or file
layout, so the output of two commits can be compared stage by stage.

Usage: python tools/stage_digests.py <out_dir>
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    from pyspark.sql import functions as F

    from annoy_spark.plans.pipeline import STAGES
    from annoy_spark.session import get_spark

    out_dir = Path(argv[0])
    spark = get_spark("stage_digests", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for stage in STAGES:
            path = out_dir / stage
            if not path.is_dir():
                print(f"{stage}\tmissing")
                continue
            df = spark.read.parquet(str(path))
            cols = ", ".join(f"`{c}`" for c in df.columns)
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({cols}))").alias("digest"),
            ).first()
            print(f"{stage}\t{row['n']}\t{row['digest']}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
