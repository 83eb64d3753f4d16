"""IVF (inverted-file) approximate k-NN: data-ADAPTIVE coarse quantizer.

The Spark re-expression of annoy's two_means data-adaptive splits
(/root/reference/src/annoylib.h:363-403): where annoy recursively learns
split planes from sampled pairs of points, IVF learns n_centroids cell
centers from a bounded sample (Lloyd k-means on the driver — the standard
coarse-quantizer training move, bounded like annoy's 200-step sampled
two_means) and partitions the relation by nearest centroid:

  items  -> assigned to their nearest cell        (1 row each)
  queries-> probe their nprobe nearest cells      (nprobe rows each)
  candidates = probe JOIN assignment ON cell      (equi-join, shuffle-friendly)
  exact re-rank on candidates                     (annoylib.h:1492-1494)

Skew defense (hot cells): cells larger than cell_cap are split into m
sub-cells by the same salting rule as every other bucket join (item rows
hash into one sub-cell, ``sources.ann_index._salted_by``), and probe rows
REPLICATE across all m (``_replicated``, the replicated skew join) — no
pair is lost and no reducer's input exceeds ~cell_cap. Note the tradeoff
vs knn_lsh/knn_forest, whose all-items joins salt BOTH sides
(``_salted``): replication keeps FULL recall inside hot cells, so total
candidate volume for a hot cell stays quadratic (merely spread across m
reducers). That is the right default for IVF's clustered-data regime; for
degenerate exact-duplicate embedding dumps, collapse identical vectors
upstream (the dedup pipeline's sha pre-collapse) or use knn_lsh's capped
buckets, which trade bounded recall loss for a hard cost cap.

Clustered corpora are exactly where IVF beats data-independent hyperplanes
(the two_means motivation); unstructured data should use knn_lsh.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from annoy_spark.operators.knn import collect_training_sample


def train_centroids(
    items: DataFrame,
    n_centroids: int,
    seed: int,
    vec_col: str = "embedding",
    metric: str = "angular",
    max_train: int = 50_000,
    sample_fraction: float = 0.2,
    iters: int = 15,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Lloyd-style clustering over a bounded driver-side sample
    (<= max_train rows — the coarse quantizer is trained on a sample by
    construction, like annoy's two_means over sampled points; never the
    full relation). Per metric: 'angular' spherical k-means (unit
    centroids), 'euclidean' plain k-means, 'manhattan' k-medians
    (assignment by L1, update = coordinate-wise median — the L1
    minimizer), 'hamming' binary k-majority over packed int64 signatures
    (assignment by popcount, update = per-bit majority vote).

    Sample membership and order are both deterministic (seeded-hash top-k
    sorted by id — see collect_training_sample): k-means init draws by
    position, and .sample().limit() membership would depend on partition
    order whenever the sampled set exceeds max_train."""
    if metric == "hamming":
        return _train_hamming_centroids(
            items, n_centroids, seed, vec_col, max_train, sample_fraction,
            iters, id_col,
        )
    x = collect_training_sample(
        items, id_col, vec_col, seed, max_train, sample_fraction
    )
    if metric == "angular":
        n = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.maximum(n, 1e-12)
    rng = np.random.default_rng([seed, 0x1BF])
    k = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        if metric == "manhattan":
            lab = np.abs(x[:, None, :] - cent[None, :, :]).sum(-1).argmin(1)
        else:
            # assign: argmin squared L2 == argmax dot for unit vectors
            d2 = ((x ** 2).sum(1)[:, None] - 2 * x @ cent.T
                  + (cent ** 2).sum(1)[None, :])
            lab = d2.argmin(1)
        for c in range(k):
            m = lab == c
            if m.any():
                cent[c] = (np.median(x[m], axis=0) if metric == "manhattan"
                           else x[m].mean(0))
            else:  # dead cell: re-seed from a random point
                cent[c] = x[rng.integers(len(x))]
        if metric == "angular":
            cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True),
                               1e-12)
    return cent


_POP8 = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None].view(np.uint8), axis=1
).sum(1).astype(np.int64)


def _hamming_cdist(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, k) popcount distances between packed int64 signature rows:
    lookup-table popcount on the xor bytes, blocked so the (block, k,
    words) xor cube stays a few MB — no per-row Python."""
    out = np.empty((len(x), len(cent)), dtype=np.int64)
    step = max(1, (1 << 22) // max(1, len(cent) * x.shape[1] * 8))
    for at in range(0, len(x), step):
        xor = x[at : at + step, None, :] ^ cent[None, :, :]
        out[at : at + step] = _POP8[xor.view(np.uint8)].sum(-1)
    return out


def _train_hamming_centroids(
    items, n_centroids, seed, vec_col, max_train, sample_fraction, iters,
    id_col,
):
    """Binary k-majority: centroids are packed signatures; the per-bit
    majority vote is the hamming-distance minimizer (the binary analog of
    the coordinate mean). Bit order inside each word only needs to be
    CONSISTENT between unpack and repack — popcount and majorities are
    order-invariant."""
    x = collect_training_sample(
        items, id_col, vec_col, seed, max_train, sample_fraction,
        as_longs=True,
    )
    rng = np.random.default_rng([seed, 0x1BF])
    k = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)].copy()
    n_words = x.shape[1]
    xbits = np.unpackbits(x.view(np.uint8), axis=1)  # (n, words*64)
    for _ in range(iters):
        lab = _hamming_cdist(x, cent).argmin(1)
        for c in range(k):
            m = lab == c
            if m.any():
                maj = (xbits[m].mean(0) >= 0.5).astype(np.uint8)
                cent[c] = np.packbits(maj).view(np.int64)[:n_words]
            else:
                cent[c] = x[rng.integers(len(x))]
    return cent


def ivf_probes(centroids: np.ndarray, nprobe: int, metric: str):
    """Kernel: (n, dim) vectors -> (n, nprobe) nearest centroid ids (first
    = nearest), in the metric's own distance (L2/cos via the dot
    expansion, L1, or popcount for packed hamming signatures)."""
    cent = centroids

    if metric == "hamming":

        def probes_h(mat: np.ndarray) -> np.ndarray:
            d = _hamming_cdist(mat, cent)
            return np.argsort(d, axis=1, kind="stable")[:, :nprobe]

        return probes_h

    c2 = (cent ** 2).sum(1)

    def probes(mat: np.ndarray) -> np.ndarray:
        if metric == "angular":
            n = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.maximum(n, 1e-12)
        if metric == "manhattan":
            d2 = np.abs(mat[:, None, :] - cent[None, :, :]).sum(-1)
        else:
            d2 = (mat ** 2).sum(1)[:, None] - 2 * mat @ cent.T + c2[None, :]
        return np.argsort(d2, axis=1)[:, :nprobe].astype(np.int64)

    return probes


def knn_ivf(
    items: DataFrame,
    k: int,
    n_centroids: int = 64,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "angular",
    cell_cap: int = 50_000,
    sample_fraction: float = 0.2,
    queries: DataFrame | None = None,
) -> DataFrame:
    """All-items approximate top-k via IVF cells: (qid, nid, rank, distance).

    metric in ('angular', 'dot', 'euclidean', 'manhattan', 'hamming');
    exact re-rank in the true metric (hamming runs over packed int64
    signature words with a binary k-majority quantizer; 'dot' trains
    spherical centroids over the MIPS-augmented space, annoylib.h:605-703,
    and re-ranks by -<q,n>).

    queries=DataFrame switches to by-VECTOR mode (get_nns_by_vector,
    annoylib.h:1234-1236): query rows probe their nprobe nearest cells of
    the SAME trained quantizer and join the item cell assignments. Both
    modes run on the shared AnnModel router (sources.ann_index.
    knn_all_items / knn_by_vector_approx); for the persisted
    build/save/load lifecycle use
    annoy_spark.sources.ann_index.build_index / load_index."""
    from annoy_spark.sources.ann_index import (
        AnnIndexConfig,
        knn_all_items,
        knn_by_vector_approx,
    )

    cfg = AnnIndexConfig(
        kind="ivf", metric=metric, seed=seed, n_centroids=n_centroids,
        nprobe=nprobe, bucket_cap=cell_cap, sample_fraction=sample_fraction,
    )
    if queries is not None:
        return knn_by_vector_approx(items, queries, cfg, k, id_col, vec_col)
    return knn_all_items(items, cfg, k, id_col, vec_col)
