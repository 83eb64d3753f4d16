"""Regenerate the committed golden persisted-index fixture.

The reference commits a built index (`test/test.tree`) and asserts exact
neighbor lists from it across versions (/root/reference/test/
index_test.py:29-34) — a serialization contract: an incompatible format
change must FAIL tests, not silently drift. This tool builds a small
deterministic forest index into tests/fixtures/golden_index/ plus the
expected answers for a pinned query batch
(tests/fixtures/golden_index_expected.json). Run it ONLY when the
persisted format changes deliberately, and say so in the commit:

    python tools/make_golden_index.py

``--check DIR`` rebuilds the same index into DIR instead and compares it
with the committed fixture, which it leaves untouched: the model.npz
arrays, and the order-independent digests of vectors, buckets and summed
counts plus the meta line (tools/stage_digests.py). It prints each
artifact that differs and exits 1 if any does:

    python tools/make_golden_index.py --check /tmp/golden_check
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))  # stage_digests

REPO = Path(__file__).resolve().parent.parent
FIXTURE = REPO / "tests" / "fixtures" / "golden_index"
EXPECTED = REPO / "tests" / "fixtures" / "golden_index_expected.json"

N, DIM, SEED = 200, 8, 1234
N_QUERIES, K = 5, 5


def golden_items_rows():
    rng = np.random.default_rng(97)
    centers = rng.standard_normal((10, DIM)) * 2
    vecs = centers[np.arange(N) % 10] + rng.standard_normal((N, DIM)) * 0.2
    return [(i, [float(x) for x in vecs[i]]) for i in range(N)]


def golden_query_rows():
    rng = np.random.default_rng(131)
    centers = np.random.default_rng(97).standard_normal((10, DIM)) * 2
    qs = centers[:N_QUERIES] + rng.standard_normal((N_QUERIES, DIM)) * 0.05
    return [
        (1_000_000 + i, [float(x) for x in qs[i]]) for i in range(N_QUERIES)
    ]


def golden_config():
    from annoy_spark.sources.ann_index import AnnIndexConfig

    return AnnIndexConfig(
        kind="forest", metric="angular", n_trees=4, leaf_cap=16, seed=SEED,
        sample_fraction=1.0,
    )


def build_golden(spark, root: Path):
    """Build the golden index from golden_items_rows() into ``root``."""
    from annoy_spark.sources.ann_index import build_index

    items = spark.createDataFrame(
        golden_items_rows(), "vec_id long, embedding array<double>"
    ).coalesce(1)
    return build_index(spark, items, str(root), golden_config())


def fixture_differences(spark, root: Path) -> list[str]:
    """One line per artifact of the index at ``root`` that differs from
    the committed fixture; empty when they are identical."""
    from stage_digests import index_lines

    out = []
    with np.load(root / "model" / "model.npz") as got, \
            np.load(FIXTURE / "model" / "model.npz") as want:
        for k in sorted(set(got.files) | set(want.files)):
            if (k not in got.files or k not in want.files
                    or not np.array_equal(got[k], want[k])):
                out.append(f"model.npz: array {k!r} differs")
    for g, w in zip(index_lines(spark, root), index_lines(spark, FIXTURE)):
        if g != w:
            out.append(f"{g.split()[0]}: {g!r}, fixture {w!r}")
    return out


def check(root: Path) -> int:
    from annoy_spark.session import get_spark

    spark = get_spark("golden_index_check", master="local[2]")
    try:
        build_golden(spark, root)
        diffs = fixture_differences(spark, root)
    finally:
        spark.stop()
    print("\n".join(diffs) if diffs else f"{root} matches {FIXTURE}")
    return 1 if diffs else 0


def main() -> int:
    from annoy_spark.session import get_spark

    spark = get_spark("golden_index", master="local[2]")
    # 1 shuffle partition keeps the committed parquet to a handful of files
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    qs = spark.createDataFrame(
        golden_query_rows(), "vec_id long, embedding array<double>"
    )
    if FIXTURE.exists():
        shutil.rmtree(FIXTURE)
    cfg = golden_config()
    idx = build_golden(spark, FIXTURE)
    rows = sorted(
        idx.query(qs, k=K, spill_eps=0.1).collect(),
        key=lambda r: (r.qid, r.rank),
    )
    EXPECTED.write_text(json.dumps({
        "config": json.loads(cfg.to_json()) | {"dim": DIM},
        "k": K,
        "spill_eps": 0.1,
        "rows": [
            {"qid": r.qid, "nid": r.nid, "rank": r.rank,
             "distance": r.distance}
            for r in rows
        ],
    }, indent=1, sort_keys=True))
    # drop spark's checksum/marker noise so the committed tree stays clean
    for junk in FIXTURE.rglob("*"):
        if junk.name.startswith(".") or junk.name.endswith(".crc"):
            junk.unlink()
    print(f"wrote {FIXTURE} and {EXPECTED} ({len(rows)} expected rows)")
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--check"] and len(sys.argv) == 3:
        sys.exit(check(Path(sys.argv[2])))
    if len(sys.argv) > 1:
        sys.exit("usage: make_golden_index.py [--check DIR]")
    sys.exit(main())
