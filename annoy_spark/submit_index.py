"""spark-submit entry point for the persisted ANN index lifecycle.

    spark-submit --py-files annoy_spark.zip annoy_spark/submit_index.py \
        build --items <parquet/table of (vec_id, embedding)> --root <dir> \
              [--kind forest|ivf|lsh] [--metric angular|...] [--config idx.json]

    spark-submit ... submit_index.py \
        append --items <parquet/table> --root <dir> [--no-check-ids]

    spark-submit ... submit_index.py \
        compact --root <dir>       # small-file maintenance after appends

    spark-submit ... submit_index.py \
        repair --root <dir>        # resolve a crashed build/append/compact

    spark-submit ... submit_index.py \
        query --root <dir> --queries <parquet/table> --output <parquet> \
              --k 10 [--spill-eps 0.1]

    spark-submit ... submit_index.py \
        serve --root <dir> --input <stream dir> --output <sink dir> \
              --checkpoint <ck dir> --k 10 [--spill-eps 0.1] [--continuous]

The subcommands are annoy's lifecycle verbs (build+save / unbuild+add+
build / load+query / load+serve, /root/reference/src/annoylib.h:1037-1236,
README.rst:25-27) as cluster jobs: `build` trains the router and persists
model + bucket artifacts; `append` grows a stored index with the frozen
router; `repair` resolves a build, append or compaction that crashed
mid-commit (repair_index: completes a recorded publish or rolls back an
unrecorded one); `query` answers one
batch of vectors from the stored index; `serve` keeps answering vector
files as they land (Structured Streaming; --continuous leaves the query
running instead of draining availableNow).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _read(spark, src: str, fmt: str = "auto"):
    """--format parquet|table|auto: auto tries the catalog first for a
    bare name and falls back to a parquet path with a clear error if
    neither resolves (a relative directory like 'items' used to fall
    through to read.table and die with a confusing missing-table error)."""
    if fmt == "parquet":
        return spark.read.parquet(src)
    if fmt == "table":
        return spark.read.table(src)
    if src.endswith(".parquet") or "/" in src:
        return spark.read.parquet(src)
    try:
        return spark.read.table(src)
    except Exception as table_err:
        try:
            return spark.read.parquet(src)
        except Exception:
            raise ValueError(
                f"--format auto could not resolve {src!r} as a catalog "
                "table or a parquet path; pass --format parquet or "
                "--format table"
            ) from table_err


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--items", required=True)
    b.add_argument("--root", required=True)
    b.add_argument("--kind", default="forest")
    b.add_argument("--metric", default="angular")
    b.add_argument("--config", default=None,
                   help="AnnIndexConfig JSON file (overrides kind/metric)")
    b.add_argument("--format", default="auto",
                   choices=("auto", "parquet", "table"),
                   help="how to read --items (default: auto-detect)")

    a = sub.add_parser("append")
    a.add_argument("--items", required=True)
    a.add_argument("--root", required=True)
    a.add_argument("--format", default="auto",
                   choices=("auto", "parquet", "table"))
    a.add_argument("--no-check-ids", action="store_true",
                   help="skip the stored-id collision anti-join")

    r = sub.add_parser(
        "repair",
        help="resolve a build, append or compact that crashed "
             "mid-flight: complete a recorded publish or roll back an "
             "unrecorded one (one pending marker, repair_index)",
    )
    r.add_argument("--root", required=True)

    f = sub.add_parser(
        "fsck",
        help="recompute cross-artifact invariants (meta n_items, counts "
             "vs bucket rows, orphan/unfindable ids) and report problems",
    )
    f.add_argument("--root", required=True)

    c = sub.add_parser(
        "compact",
        help="rewrite the append-accumulated artifacts as one "
             "consolidated snapshot (small-file maintenance; "
             "query results are bit-identical before/after)",
    )
    c.add_argument("--root", required=True)

    q = sub.add_parser("query")
    q.add_argument("--root", required=True)
    q.add_argument("--queries", required=True)
    q.add_argument("--output", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--spill-eps", type=float, default=0.0)

    s = sub.add_parser("serve")
    s.add_argument("--root", required=True)
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--spill-eps", type=float, default=0.0)
    s.add_argument("--continuous", action="store_true",
                   help="keep serving (default: drain availableNow + exit)")
    s.add_argument("--timeout-s", type=int, default=0,
                   help="with --continuous: stop after this many seconds")
    args = p.parse_args(argv)

    from annoy_spark.session import get_spark
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        append_index,
        build_index,
        compact_index,
        load_index,
        repair_index,
        validate_index,
    )

    spark = get_spark(f"annoy_spark_index_{args.cmd}")
    t0 = time.time()

    if args.cmd == "build":
        if args.config:
            with open(args.config) as fh:
                cfg = AnnIndexConfig.from_json(fh.read())
        else:
            cfg = AnnIndexConfig(kind=args.kind, metric=args.metric)
        idx = build_index(
            spark, _read(spark, args.items, args.format), args.root, cfg
        )
        print(json.dumps({
            "built": args.root,
            "config_hash": idx.cfg.config_hash(),
            "dim": idx.cfg.dim,
            "n_items": idx.n_items(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "append":
        idx = append_index(
            spark, args.root, _read(spark, args.items, args.format),
            check_ids=not args.no_check_ids,
        )
        print(json.dumps({
            "appended": args.root,
            "n_items": idx.n_items(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "repair":
        idx = repair_index(spark, args.root)
        print(json.dumps({
            "repaired": args.root,
            "n_items": idx.n_items(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "fsck":
        report = validate_index(spark, args.root)
        report["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(report))
        return 0 if report["ok"] else 3

    if args.cmd == "compact":
        from pathlib import Path

        def _data_files(root: str) -> int:
            return sum(
                1
                for s in ("vectors", "buckets", "counts")
                for f in (Path(root) / s).iterdir()
                if f.name.endswith(".parquet")
            )

        before = _data_files(args.root)
        idx = compact_index(spark, args.root)
        print(json.dumps({
            "compacted": args.root,
            "n_items": idx.n_items(),
            "data_files_before": before,
            "data_files_after": _data_files(args.root),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "query":
        idx = load_index(spark, args.root)
        res = idx.query(
            _read(spark, args.queries), k=args.k, spill_eps=args.spill_eps
        )
        res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "rows": spark.read.parquet(args.output).count(),
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    # serve
    from annoy_spark.streaming.ann_query_stream import ann_query_stream

    query = ann_query_stream(
        spark, args.root, args.input, args.output, args.checkpoint,
        k=args.k, spill_eps=args.spill_eps,
        available_now=not args.continuous,
    )
    if args.continuous and args.timeout_s:
        query.awaitTermination(args.timeout_s)
        query.stop()
    else:
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
