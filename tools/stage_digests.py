"""Row count and order-independent digest of every pipeline checkpoint, or
of a persisted ANN index.

For each stage in ``annoy_spark.plans.pipeline.STAGES`` present under
``<out_dir>``, prints one tab-separated line: the stage name, its row count
and ``bit_xor(xxhash64(<all columns>))`` over its rows. Two pipeline runs
with equal lines produced the same rows, whatever their order or file
layout, so the output of two commits can be compared stage by stage.

When ``<out_dir>`` is an ANN index root (``model/_ANNOY_SPARK_META.json``
exists), prints the same line for ``vectors``, ``buckets`` and ``counts``
summed per bucket (appends write partial counts, so only the sums are
comparable), then one ``meta`` line with ``n_items`` and
``has_oversized``.

Usage: python tools/stage_digests.py <out_dir>
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def digest_line(name: str, df) -> str:
    """``name``, row count and bit_xor(xxhash64(all columns)) of ``df``,
    tab-separated."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("digest"),
    ).first()
    return f"{name}\t{row['n']}\t{row['digest']}"


def index_lines(spark, root: Path) -> list[str]:
    """The digest lines of the ANN index at ``root``: vectors, buckets,
    counts summed per bucket, then the meta line."""
    from pyspark.sql import functions as F

    lines = []
    for stage in ("vectors", "buckets", "counts"):
        df = spark.read.parquet(str(root / stage))
        if stage == "counts":
            df = df.groupBy("bucket").agg(F.sum("gsize").alias("gsize"))
        lines.append(digest_line(stage, df))
    meta = json.loads((root / "model" / "_ANNOY_SPARK_META.json").read_text())
    lines.append(
        f"meta\tn_items={meta.get('n_items')}\t"
        f"has_oversized={meta.get('has_oversized')}"
    )
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    from annoy_spark.plans.pipeline import STAGES
    from annoy_spark.session import get_spark

    out_dir = Path(argv[0])
    spark = get_spark("stage_digests", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if (out_dir / "model" / "_ANNOY_SPARK_META.json").exists():
            print("\n".join(index_lines(spark, out_dir)))
            return 0
        for stage in STAGES:
            path = out_dir / stage
            if not path.is_dir():
                print(f"{stage}\tmissing")
                continue
            print(digest_line(stage, spark.read.parquet(str(path))))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
