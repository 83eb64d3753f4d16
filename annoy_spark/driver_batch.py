"""Helpers shared by the driver batch paths: the ANN index's small query
and append batches (sources/ann_index.py), verify's driver-sized
candidate sets (operators/verify.py), the substring pass over
driver-sized corpora (operators/substring.py) and cluster's driver-sized
edge lists (operators/cluster.py). Each path fetches a bounded relation as
Arrow, works on it in numpy and hands Spark a local relation."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType


def fetch_bounded(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as one Arrow table if it has at most ``cap`` rows, else None:
    one bounded fetch, so a relation past the cap costs at most cap + 1
    rows of columnar buffers."""
    table = df.limit(cap + 1).toArrow()
    return table if len(table) <= cap else None


def fetch_sized(
    rows: DataFrame, size: Column, max_rows: int, max_units: int
) -> pa.Table | None:
    """``rows`` as one Arrow table if it has at most ``max_rows`` rows whose
    ``size`` sums to at most ``max_units``, else None.

    Two fetches: first each row's size alone (fetch_bounded), then, only
    when both bounds hold, the rows themselves. So the bound is on the
    payload's units (bytes, array elements), not only its rows, and no
    payload of an input over it leaves the executors."""
    sizes = fetch_bounded(rows.select(size.alias("n")), max_rows)
    if sizes is None or (pc.sum(sizes["n"]).as_py() or 0) > max_units:
        return None
    return rows.toArrow()


def ragged(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, offset): each index i repeated counts[i] times, with the
    offsets 0..counts[i]-1 — the row expansion of a one-to-many match."""
    owner = np.repeat(np.arange(len(counts)), counts)
    start = np.repeat(np.cumsum(counts) - counts, counts)
    return owner, np.arange(len(owner), dtype=np.int64) - start


def run_starts(*cols: np.ndarray) -> np.ndarray:
    """For rows sorted by ``cols``, the index of the first row of each
    row's run of equal values."""
    n = len(cols[0])
    same = np.ones(n, dtype=bool)
    for c in cols:
        same[1:] &= c[1:] == c[:-1]
    same[:1] = False
    starts = np.flatnonzero(~same)
    return starts[np.cumsum(~same) - 1]


def local_relation(
    spark: SparkSession, table: pa.Table, schema: StructType
) -> DataFrame:
    """``table`` as a local relation of ``schema`` (createDataFrame casts
    the columns to it)."""
    out = spark.createDataFrame(table, schema)
    # an empty input becomes a parallelized RDD, not a local relation;
    # limit(0) plans as an empty one
    return out if len(table) else out.limit(0)
