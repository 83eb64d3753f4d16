"""Helpers shared by the driver batch paths: the ANN index's small query
and append batches (sources/ann_index.py), verify's driver-sized
candidate sets (operators/verify.py) and cluster's driver-sized edge
lists (operators/cluster.py). Each path fetches a bounded relation as
Arrow, works on it in numpy and hands Spark a local relation."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def fetch_bounded(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as one Arrow table if it has at most ``cap`` rows, else None:
    one bounded fetch, so a relation past the cap costs at most cap + 1
    rows of columnar buffers."""
    table = df.limit(cap + 1).toArrow()
    return table if len(table) <= cap else None


def ragged(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, offset): each index i repeated counts[i] times, with the
    offsets 0..counts[i]-1 — the row expansion of a one-to-many match."""
    owner = np.repeat(np.arange(len(counts)), counts)
    start = np.repeat(np.cumsum(counts) - counts, counts)
    return owner, np.arange(len(owner), dtype=np.int64) - start
