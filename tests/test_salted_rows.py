"""Full-row pins of the three mega-bucket fixtures.

test_knn.py::test_lsh_mega_bucket_capped, test_forest.py::
test_degenerate_dump_is_capped and test_ivf.py::
test_ivf_hot_cell_replicated_join count neighbours per query only. A
changed salting rule (which rows share a sub-bucket) changes which
zero-distance neighbours a mega-bucket member finds and their ranks, but
not how many, so those counts cannot see it. Here the same fixtures'
whole answers, (qid, nid, rank, distance), are compared as a row count
and bit_xor(xxhash64(qid, nid, rank, distance)) against recorded
digests, so a change to the salting rule (sources.ann_index._salted_by)
fails here even when every query still gets k neighbours."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from annoy_spark.operators.forest import knn_forest
from annoy_spark.operators.ivf import knn_ivf
from annoy_spark.operators.knn import knn_lsh


def _dump(spark, n_dup, n_rest, seed, scale, jitter):
    """n_dup (near-)identical vectors plus n_rest random ones, built as
    the three count tests build theirs."""
    rng = np.random.default_rng(seed)
    if jitter:
        rows = [(i, [1.0 + 1e-6 * float(rng.standard_normal()), 2.0, 3.0,
                     4.0]) for i in range(n_dup)]
    else:
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n_dup)]
    rest = [rng.standard_normal(4) * scale for _ in range(n_rest)]
    rows += [(n_dup + i, [float(x) for x in v]) for i, v in enumerate(rest)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


CASES = {
    "lsh_bucket_cap_100": (
        (3000, 60, 2, 1.0, False),
        lambda df: knn_lsh(df, k=3, n_tables=4, n_bits=2, seed=7,
                           bucket_cap=100),
        (9180, 8922795489212200955),
    ),
    "forest_bucket_cap_150": (
        (3000, 40, 5, 5.0, False),
        lambda df: knn_forest(df, k=3, n_trees=4, leaf_cap=16, seed=1,
                              bucket_cap=150, sample_fraction=1.0),
        (9120, -324006618611986202),
    ),
    "ivf_cell_cap_200": (
        (2000, 50, 3, 5.0, True),
        lambda df: knn_ivf(df, k=3, n_centroids=8, nprobe=2, seed=1,
                           cell_cap=200, sample_fraction=1.0),
        (6150, -9075064887032607264),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_mega_bucket_rows_pinned(spark, case):
    shape, run, want = CASES[case]
    row = run(_dump(spark, *shape)).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(qid, nid, rank, distance))").alias("d"),
    ).first()
    assert (row["n"], row["d"]) == want
