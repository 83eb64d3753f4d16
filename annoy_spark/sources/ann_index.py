"""Persistent ANN index: build once -> save -> load/mmap -> query by vector,
plus incremental append (annoy's unbuild -> add_item -> build reopening,
/root/reference/src/annoylib.h:1080-1091).

Annoy's headline lifecycle (/root/reference/src/annoylib.h:1093-1222
``save``/``load``; README.rst:25-27 "you can not share memory between
processes ... unless you mmap the same file"; the golden-index contract of
test/index_test.py:29-34) re-expressed Spark-first:

- the ROUTER (forest trees / IVF centroids / LSH plane seeds) is a small
  driver-side model serialized as one npz next to a config-hash-stamped
  meta file — the analog of annoy's node header;
- the INDEX BODY (which items live in which bucket, plus the item vectors
  for the exact re-rank) is parquet artifacts written through the same
  config-validated CheckpointStore as the dedup pipeline's stages — on a
  production cluster these are Iceberg tables, shared by every executor,
  which is the distributed analog of annoy's mmap-shared index file;
- loading validates the stored config hash exactly like annoy's
  ``size % _s == 0`` geometry check (annoylib.h:1185-1188): querying an
  index built under different semantics fails loudly, never silently.

Persisted layout (format 2 — append-friendly):

- ``vectors``  (nid, v)          append-only
- ``buckets``  (bucket, nid)     append-only; NO salt column — the skew
  salt is a pure function of (nid, bucket, m) and m can change as items
  append, so it is DERIVED at load from the counts relation instead of
  frozen into the artifact (frozen salts would go stale the moment an
  append pushes a bucket over bucket_cap)
- ``counts``   (bucket, gsize)   append-only PARTIAL counts; readers
  groupBy-sum — appends write only the delta for the new items, never
  rewriting history (the Iceberg-snapshot-friendly shape); the summed
  relation is bounded by the number of distinct buckets, which the router
  geometry keeps far below the item count
- ``model/_ANNOY_SPARK_META.json`` additionally records ``has_oversized``
  (skips the salt-replication machinery entirely in the common case — no
  per-query probe job) and ``n_items``.

Commit and crash safety: build, append and compaction write the index
through ONE staged commit (annoy publishes with a single ``save``,
annoylib.h:1093-1127). Each stages its new data files (and a build its
model.npz) under ``_staging`` behind the ``_COMMIT_PENDING.json`` marker;
an ordinary failed job rolls staging + marker back. Once staging is
complete the marker is rewritten as the publish record: the config,
``n_items``, ``has_oversized`` and the live data files the operation
retires (none for append, every one for compaction and build). The one
idempotent publish moves the staged files in, deletes the retired ones,
re-stamps the stage metas, moves a staged model in, writes the model meta
and drops staging, then the marker last. While the marker exists every
reader refuses the index; ``repair_index`` completes a recorded publish
(no Spark job: the record holds every value) or rolls back anything
earlier, so the root answers as the old index or the new one, never a
mix. A build no longer clears the root first: a failed or crashed build
leaves the previous index intact.

Query semantics (get_nns_by_vector, annoylib.h:1234-1236): the query batch
is routed with the SAME stored trees/centroids/planes, replicated across
each oversized bucket's salt sub-buckets (the replicated skew join — no
candidate lost to the item-side salting), matched with the stored bucket
assignments, deduped NARROW on (qid, nid), and exact re-ranked in the
true metric (annoylib.h:1492-1494). ``spill_eps`` is applied on the
QUERY side only — annoy's search_k is a query-time knob
(annoylib.h:1447-1480), so one stored index serves every accuracy budget.

Scale shape: query, append and build share one driver batch path. One
bounded fetch of at most SMALL_QUERY_MAX + 1 rows of a query batch, an
append batch or a build's items decides (no job for a local input; any
other input comes back as Arrow, cheap to drop when the batch is over the
cap). A batch within the cap is checked and routed on the driver with the
same numpy kernels the executor UDFs run (annoy builds, adds and answers
in-process over its item array, annoylib.h:1037-1091, 1447-1504).
A query batch is also answered there, at call time: two bounded
semi-join fetches bring the routed buckets' assignments and their items'
vectors, and numpy dedups, scores (the JVM distance's left folds, bit
for bit) and ranks, in chunks of at most SMALL_QUERY_MAX candidate
pairs; the answer is a local relation. Only when the routed buckets hold
more than SMALL_QUERY_MAX assignments does the batch join the stored
relations as exact-sized local relations instead, so the planner
broadcasts whichever side is small. A build trains on the
sample picked from the fetched rows and stages its artifacts with
pyarrow, as an append does; an append's commit reads only the stored
counts of the buckets it touched — no append cost grows with the stored
index beyond the one id-clash semi-join. A LARGE batch (e.g. re-indexing
the corpus against itself) is routed by the UDF on the executors:
queries join through shuffle equi-joins, builds and appends stage
through Spark writes. Loading reads each artifact with the schema in its
parquet footer, so a load runs no Spark job unless a bucket is oversized.
No join carries a hint: the stored buckets/vectors relations are only
ever scanned, semi-joined and equi-joined, and AQE sizes the candidate
relation.

The ephemeral operators run on the same router, stored-vector projection
and metric without persisting anything: ``knn_by_vector_approx`` (the
``queries=`` mode of knn_forest/knn_ivf/knn_lsh) and ``knn_all_items``
(their all-items mode, get_nns_by_item for every item, ranked through the
index's own candidate join, ``_join_plan``).

One salting rule serves every bucket join (``_salted_by``). The index and
``knn_by_vector_approx`` feed it the summed counts of their assignments
(``_salted_assign``), ``knn_all_items`` and the embedding near-dup pairs
their routed rows' own counts (``_salted``); query sides replicate across
the salts (``_replicated``), and the driver forms (``_resalted``,
``_replicate_salts``) compute the same m and salts in numpy.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass, replace
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from annoy_spark.driver_batch import fetch_bounded, ragged
from annoy_spark.operators.forest import (
    HammingTree,
    Tree,
    build_forest,
    forest_leaves,
    hamming_forest_leaves,
)
from annoy_spark.operators.ivf import ivf_probes, train_centroids
from annoy_spark.operators.knn import (
    _dot,
    _norm2,
    _norm2_rows,
    _unit,
    _unit_rows,
    hamming_keys_col,
    hyperplane_keys,
    keys_udf,
    pstable_keys,
    sample_hash,
    training_sample_rows,
)
from annoy_spark.sources.checkpoint import CheckpointStore, write_json_atomic

_KIND_METRICS = {
    "forest": ("angular", "dot", "euclidean", "manhattan", "hamming"),
    "ivf": ("angular", "dot", "euclidean", "manhattan", "hamming"),
    "lsh": ("angular", "dot", "euclidean", "manhattan", "hamming"),
}

#: query, append and build batches at or below this row count are fetched
#: and routed on the driver (queries join the stored relations as local
#: relations, builds and appends stage with pyarrow); larger batches route
#: on the executors (routing UDF + shuffle equi-joins / Spark writes). The
#: driver path was the faster one at every batch size measured up to this
#: cap (4 cores, 64-d forest), so the cap bounds driver memory, not time: a
#: 65,536 x 64-d batch peaks near 290 MB of Python heap on the driver.
SMALL_QUERY_MAX = 65_536

_FORMAT = 2


@dataclass(frozen=True)
class AnnIndexConfig:
    """Frozen index geometry — the analog of annoy's (f, metric) schema
    fixed at construction and validated at load (annoylib.h:1185-1188).
    ``dim`` is inferred at build time (int64 WORDS for hamming)."""

    kind: str = "forest"        # 'forest' | 'ivf' | 'lsh'
    metric: str = "angular"
    seed: int = 42
    dim: int = 0                # 0 = infer at build
    # forest
    n_trees: int = 8
    leaf_cap: int = 32
    # ivf
    n_centroids: int = 64
    nprobe: int = 4
    # lsh
    n_tables: int = 8
    n_bits: int = 10
    bucket_width: float = 2.0   # p-stable quantization width
    # shared
    bucket_cap: int = 2000
    max_sample: int = 50_000
    sample_fraction: float = 1.0

    def __post_init__(self) -> None:
        if self.kind not in _KIND_METRICS:
            raise ValueError(f"unknown index kind {self.kind!r}")
        if self.metric not in _KIND_METRICS[self.kind]:
            raise ValueError(
                f"kind {self.kind!r} supports metrics "
                f"{_KIND_METRICS[self.kind]}, got {self.metric!r}"
            )

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "AnnIndexConfig":
        return cls(**json.loads(s))


def _mips_aug(raw: F.Column, max_n2: float, query_side: bool) -> F.Column:
    """Bachrach MIPS reduction (annoylib.h:605-703 DotProduct preprocess):
    items gain an extra coordinate sqrt(M^2 - |x|^2) (M = max build norm,
    annoy's dot_factor), queries gain 0 — max-inner-product over the raw
    space becomes min-angular over the augmented space, so ANGULAR routers
    (trees / centroids / hyperplanes) index dot similarity."""
    if query_side:
        return F.concat(raw, F.array(F.lit(0.0)))
    return F.concat(
        raw,
        F.array(
            F.sqrt(F.greatest(F.lit(0.0), F.lit(max_n2) - _norm2(raw)))
        ),
    )


def _mips_aug_rows(
    raw: np.ndarray, max_n2: float, query_side: bool
) -> np.ndarray:
    """_mips_aug over the rows of a matrix, bit for bit: items gain
    sqrt(max(0, M^2 - |x|^2)), queries gain 0."""
    if query_side:
        extra = np.zeros(len(raw))
    else:
        extra = np.sqrt(np.maximum(0.0, max_n2 - _norm2_rows(raw)))
    return np.hstack([raw, extra[:, None]])


def _check_max_norm(max_norm2: float, model: "AnnModel") -> None:
    """The MIPS augmentation sqrt(M^2-|x|^2) is frozen at build
    (annoylib.h:605-703 preprocess); an appended item with a larger norm
    would silently clamp to 0 and lose recall, so it is refused."""
    m2 = float(model.arrays["max_n2"][0])
    if max_norm2 > m2 * (1 + 1e-9):
        raise ValueError(
            f"appended item norm^2 {max_norm2:.6g} exceeds the stored "
            f"MIPS max-norm^2 {m2:.6g} — rebuild the index "
            "(annoy freezes the preprocess scale at build)"
        )


def _stored_vec(cfg: AnnIndexConfig, vec_col: str) -> F.Column:
    """The vector representation persisted with the index and used by the
    exact re-rank: unit vectors for angular (annoy caches norms,
    annoylib.h:483), packed int64 words for hamming, raw doubles else."""
    if cfg.metric == "hamming":
        return F.col(vec_col).cast("array<long>")
    raw = F.col(vec_col).cast("array<double>")
    return _unit(raw) if cfg.metric == "angular" else raw


def _stored_rows(cfg: AnnIndexConfig, raw: np.ndarray) -> np.ndarray:
    """_stored_vec over the rows of a fetched batch, bit for bit."""
    return _unit_rows(raw) if cfg.metric == "angular" else raw


def _distance(cfg: AnnIndexConfig, qv: str, nv: str) -> F.Column:
    """Exact re-rank distance in the true metric (annoylib.h:1492-1494);
    same forms as knn_bruteforce."""
    if cfg.metric == "angular":
        return F.sqrt(
            F.greatest(F.lit(0.0), F.lit(2.0) - 2.0 * _dot(qv, nv))
        )
    if cfg.metric == "dot":
        return -_dot(qv, nv)  # annoylib.h:656-659 (-dot, ascending)
    if cfg.metric == "euclidean":
        diff = F.zip_with(qv, nv, lambda x, y: x - y)
        return F.sqrt(F.greatest(F.lit(0.0), _norm2(diff)))
    if cfg.metric == "manhattan":
        return F.aggregate(
            F.zip_with(qv, nv, lambda x, y: F.abs(x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    # hamming: popcount of XOR over packed words (annoylib.h:736-743)
    return F.aggregate(
        F.zip_with(
            qv, nv, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")


#: set bits of every byte value: the popcount table (numpy 1.26 has no
#: bitwise_count)
_POPCOUNT = np.array([bin(b).count("1") for b in range(256)], np.uint8)


def _distance_rows(
    cfg: AnnIndexConfig, qv: np.ndarray, v: np.ndarray
) -> np.ndarray:
    """_distance over paired rows of two matrices, bit for bit: the same
    left folds from 0.0 (cumsum; the + 0.0 turns a fold of only -0.0
    terms into the +0.0 the JVM fold starts from), the same outer forms,
    and hamming's popcount of the XOR summed exactly."""
    if cfg.metric == "hamming":
        # a fresh C-contiguous (n, dim) array, so its bytes view is
        # (n, 8 * dim) — also for n = 0, a chunk without candidates
        x = np.bitwise_xor(qv, v)
        bits = _POPCOUNT[x.view(np.uint8)]
        return bits.sum(axis=1, dtype=np.int64).astype(np.float64)
    if cfg.metric in ("angular", "dot"):
        terms = qv * v
    elif cfg.metric == "euclidean":
        terms = qv - v
        terms *= terms
    else:
        terms = np.abs(qv - v)
    s = np.cumsum(terms, axis=1, out=terms)[:, -1] + 0.0
    if cfg.metric == "angular":
        return np.sqrt(np.maximum(0.0, 2.0 - 2.0 * s))
    if cfg.metric == "dot":
        return -s
    if cfg.metric == "euclidean":
        return np.sqrt(np.maximum(0.0, s))
    return s


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(qid, nid, distance) -> each query's k nearest with rank 1..k,
    ties broken by nid — the rank window every approximate path ends
    with."""
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col("nid")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


class AnnModel:
    """In-memory router model: the trained arrays + config. Everything in
    ``arrays`` round-trips through one npz file; LSH planes are NOT stored
    because they are a pure function of (seed, dim, tables, bits) — the
    same set_seed determinism contract as annoy (annoylib.h:1256-1262).
    The one data-DEPENDENT LSH scalar (the MIPS max-norm M², computed from
    the build items — annoylib.h:605-703 preprocess) IS stored."""

    def __init__(self, cfg: AnnIndexConfig, arrays: dict[str, np.ndarray]):
        self.cfg = cfg
        self.arrays = arrays

    # --- training --------------------------------------------------------
    @classmethod
    def train(
        cls,
        items: DataFrame | np.ndarray,
        cfg: AnnIndexConfig,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_n2: float | None = None,
    ) -> "AnnModel":
        """Train the router on ``items``: the items relation (sampled by
        collect_training_sample), or — build on the driver batch path —
        the sample already picked from the fetched batch
        (training_sample_rows), with the batch's max norm² as ``max_n2``
        for 'dot'; then no Spark job runs."""
        arrays: dict[str, np.ndarray] = {}
        router_metric = cfg.metric
        if cfg.metric == "dot":
            # the data-dependent MIPS scale M^2 is frozen into the model
            # exactly like annoy's preprocess stamps dot_factor into every
            # node (annoylib.h:605-703)
            raw = F.col(vec_col).cast("array<double>")
            if max_n2 is None:
                max_n2 = items.select(F.max(_norm2(raw))).first()[0]
            max_n2 = float(max_n2 or 0.0)
            arrays["max_n2"] = np.asarray([max_n2], dtype=np.float64)
            if cfg.kind in ("forest", "ivf"):
                # DotProduct trees: the router is an ANGULAR structure
                # over the (dim+1)-augmented space
                if isinstance(items, np.ndarray):
                    items = _mips_aug_rows(items, max_n2, query_side=False)
                else:
                    items = items.withColumn(
                        "__aug_vec", _mips_aug(raw, max_n2, query_side=False)
                    )
                    vec_col = "__aug_vec"
                router_metric = "angular"
        if cfg.kind == "forest":
            trees = build_forest(
                items, n_trees=cfg.n_trees, leaf_cap=cfg.leaf_cap,
                seed=cfg.seed, metric=router_metric, vec_col=vec_col,
                id_col=id_col, max_sample=cfg.max_sample,
                sample_fraction=cfg.sample_fraction,
            )
            if cfg.metric == "hamming":
                # axis-aligned bit-split trees (annoylib.h:758-792): the
                # per-node plane is one BIT INDEX, not a float normal
                arrays["bits"] = np.concatenate([t.bits for t in trees])
                arrays["children"] = np.concatenate(
                    [t.children for t in trees]
                )
                arrays["tree_sizes"] = np.asarray(
                    [len(t.bits) for t in trees], dtype=np.int64
                )
            else:
                arrays["normals"] = np.concatenate(
                    [t.normals for t in trees]
                )
                arrays["offsets"] = np.concatenate(
                    [t.offsets for t in trees]
                )
                arrays["children"] = np.concatenate(
                    [t.children for t in trees]
                )
                arrays["tree_sizes"] = np.asarray(
                    [len(t.offsets) for t in trees], dtype=np.int64
                )
        elif cfg.kind == "ivf":
            arrays["centroids"] = train_centroids(
                items, cfg.n_centroids, cfg.seed, vec_col, router_metric,
                max_train=cfg.max_sample,
                sample_fraction=cfg.sample_fraction, id_col=id_col,
            )
        return cls(cfg, arrays)

    # --- routing ---------------------------------------------------------
    def trees(self) -> list:
        out, at = [], 0
        hamming = self.cfg.metric == "hamming"
        for n in self.arrays["tree_sizes"]:
            n = int(n)
            if hamming:
                out.append(
                    HammingTree(
                        bits=self.arrays["bits"][at : at + n],
                        children=self.arrays["children"][at : at + n],
                    )
                )
            else:
                out.append(
                    Tree(
                        normals=self.arrays["normals"][at : at + n],
                        offsets=self.arrays["offsets"][at : at + n],
                        children=self.arrays["children"][at : at + n],
                    )
                )
            at += n
        return out

    def _router(
        self, query_side: bool, spill_eps: float = 0.0,
        nprobe: int | None = None,
    ):
        """(kernel, dtype): the numpy routing kernel for one side of the
        router, (rows of ``dtype``) -> per-row key arrays. query_side
        controls the asymmetric knobs: forest spill (search_k analog —
        query-time only), IVF nprobe (items live in 1 cell, queries probe
        nprobe; overridable per query — search_k is a query-time budget,
        annoylib.h:1447-1480). Its input is the raw vector after the MIPS
        augmentation ('dot') and, for forests, unit normalization."""
        cfg = self.cfg
        if cfg.kind == "forest":
            if cfg.metric == "hamming":
                # a hamming margin is a bit, not a distance, so the
                # query-time budget is spill LEVELS: floor(spill_eps)
                # bottom split levels probed on both sides (<= 2^d leaves
                # per tree) — the bit-tree search_k analog
                levels = int(spill_eps) if query_side else 0
                return hamming_forest_leaves(self.trees(), levels), np.int64
            eps = spill_eps if query_side else 0.0
            return forest_leaves(self.trees(), eps), np.float64
        if cfg.kind == "ivf":
            nprobe = (nprobe or cfg.nprobe) if query_side else 1
            # 'dot' probes ANGULAR centroids over the augmented space
            metric = "angular" if cfg.metric == "dot" else cfg.metric
            kernel = ivf_probes(self.arrays["centroids"], nprobe, metric)
            return kernel, np.int64 if metric == "hamming" else np.float64
        # lsh (hamming keys are a JVM expression, see keys_col)
        if cfg.metric in ("angular", "dot"):
            dim = cfg.dim + (cfg.metric == "dot")
            return (
                hyperplane_keys(dim, cfg.n_tables, cfg.n_bits, cfg.seed),
                np.float64,
            )
        kernel = pstable_keys(
            cfg.dim, cfg.n_tables, cfg.n_bits, cfg.seed, cfg.bucket_width,
            p=2 if cfg.metric == "euclidean" else 1,
        )
        return kernel, np.float64

    @property
    def jvm_keys(self) -> bool:
        """LSH hamming keys are a JVM expression (keys_col), not a kernel."""
        return self.cfg.kind == "lsh" and self.cfg.metric == "hamming"

    @property
    def _unit_routed(self) -> bool:
        # forest splits are trained on unit (augmented) samples, so routed
        # vectors are unit-normalized and spill_eps margins scale-comparable
        return self.cfg.kind == "forest" and self.cfg.metric in (
            "angular", "dot"
        )

    def keys_col(
        self, vec_col: str, query_side: bool, spill_eps: float = 0.0,
        nprobe: int | None = None,
    ) -> F.Column:
        """array<long> bucket keys for one row, through the routing kernel
        as a pandas UDF (see _router for the knobs). 'dot' routes the MIPS
        augmentation (items sqrt(M²-|x|²), queries 0 — annoylib.h:605-703)
        through the ANGULAR router; the stored/re-rank vector stays raw."""
        cfg = self.cfg
        if self.jvm_keys:
            # JVM-side bit sampling, no UDF
            return hamming_keys_col(
                F.col(vec_col).cast("array<long>"), cfg.dim, cfg.n_tables,
                cfg.n_bits, cfg.seed,
            )
        kernel, dtype = self._router(query_side, spill_eps, nprobe)
        x = F.col(vec_col).cast(
            "array<long>" if dtype is np.int64 else "array<double>"
        )
        if cfg.metric == "dot":
            x = _mips_aug(x, float(self.arrays["max_n2"][0]), query_side)
        if self._unit_routed:
            x = _unit(x)
        return keys_udf(kernel, dtype)(x)

    def route(
        self, raw: np.ndarray, spill_eps: float = 0.0,
        nprobe: int | None = None, query_side: bool = True,
    ) -> list[np.ndarray]:
        """Keys of every row of ``raw`` (raw vectors; int64 words for
        hamming), on the driver: the same kernels and the same projections
        as ``keys_col(..., query_side)``, bit for bit — query batches and
        appended item batches alike. LSH hamming keys are a JVM
        expression; evaluate keys_col there."""
        if not len(raw):
            return []
        kernel, _ = self._router(query_side, spill_eps, nprobe)
        if self.cfg.metric == "dot":
            raw = _mips_aug_rows(
                raw, float(self.arrays["max_n2"][0]), query_side
            )
        if self._unit_routed:
            raw = _unit_rows(raw)
        return list(kernel(raw))


def _auto_n_trees(cfg: AnnIndexConfig) -> int:
    """Resolve ``n_trees=-1``: annoy's auto-sizing builds trees until
    ``n_nodes >= 2 * n_items`` (annoylib.h:1266-1271) — i.e. it spends
    roughly one extra item's worth of index bytes per item, the "index
    <= ~2x raw vectors" envelope README.rst:39 advertises. The analog in
    this format: per item, each tree costs one (bucket, nid) row (16
    bytes raw) plus its share of the stored split nodes — ``dim * 8 /
    leaf_cap`` bytes for float hyperplanes, ``16 / leaf_cap`` for
    hamming bit nodes (one bit index + children per split). Pick the
    largest n_trees whose total stays within one raw-vector-byte per
    item (vectors artifact = dim * 8 bytes/item for doubles and packed
    int64 words alike)."""
    bytes_per_vec = cfg.dim * 8
    node_share = (16.0 if cfg.metric == "hamming" else cfg.dim * 8.0) / max(
        cfg.leaf_cap, 1
    )
    return max(1, int(bytes_per_vec / (16.0 + node_share)))


def _resolve_cfg(
    cfg: AnnIndexConfig, items: DataFrame, vec_col: str,
    id_col: str = "vec_id",
) -> AnnIndexConfig:
    """Infer ``dim=0`` from the first item (one job), then resolve the
    ``n_trees=-1`` sentinel (see _sized)."""
    if cfg.dim == 0:
        first = items.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("raw")
        ).take(1)
        cfg = replace(cfg, dim=_first_dim(first))
    return _sized(cfg)


def _sized(cfg: AnnIndexConfig) -> AnnIndexConfig:
    """Resolve the ``n_trees=-1`` sentinel (it needs dim). The resolved
    count is what gets persisted/hash-validated (annoy stores the actual
    trees built, not the -1 it was asked for)."""
    if cfg.n_trees != -1:
        return cfg
    if cfg.kind != "forest":
        raise ValueError(
            "n_trees=-1 auto-sizing is a forest knob (annoy build(-1), "
            f"annoylib.h:1266-1271); set an explicit geometry for "
            f"kind={cfg.kind!r}"
        )
    return replace(cfg, n_trees=_auto_n_trees(cfg))


def _first_dim(rows: list) -> int:
    """The index dim: the length of the first fetched (qid, raw) row's
    vector (annoy requires >= 1 added item before build)."""
    if not rows:
        raise ValueError(
            "cannot build an ANN index from an empty items relation "
            "(annoy requires >= 1 added item before build)"
        )
    if not rows[0]["raw"]:
        raise ValueError(
            f"invalid vector for item {rows[0]['qid']}: the first vector "
            "sets the index dim, so it must be a non-empty array"
        )
    return len(rows[0]["raw"])


def _valid_vector(raw: F.Column, dim: int) -> F.Column:
    """The one validity rule for a stored or query vector: non-null with
    exactly ``dim`` elements. The executor paths raise through it in
    _checked_vectors; the driver path applies it to the fetched rows in
    _checked_matrix, before any routing."""
    return raw.isNotNull() & (F.size(raw) == F.lit(dim))


def _checked_vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int, what: str,
    id_as: str,
) -> DataFrame:
    """(id_as, vec_col) with per-row validation fused into the projection
    (JVM-side, codegen'd): a null or wrong-length vector FAILS the job
    that evaluates it, naming the offending id. Read the vector from the
    checked column so the check runs BENEATH the routing UDF (the checked
    expression is the UDF's input, so it evaluates first — a raw
    raise_error alongside the UDF would race it and surface an opaque
    pandas error instead)."""
    raw = F.col(vec_col)
    checked = F.when(_valid_vector(raw, dim), raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"invalid vector for {what} "),
                F.col(id_col).cast("string"),
                F.lit(f": need a non-null array of {dim} elements"),
            )
        )
    )
    return df.select(F.col(id_col).alias(id_as), checked.alias(vec_col))


def _routed_items(
    items: DataFrame, model: AnnModel, id_col: str, vec_col: str
) -> DataFrame:
    """(nid, v, keys): every item routed once with the stored model.

    A null or wrong-length vector FAILS the routing job with the offending
    id instead of persisting a poison row (the dim comes from the first
    row only, so ragged inputs would otherwise slip through; a stored
    null vector breaks get_item_vector and re-rank distances later, far
    from the cause)."""
    cfg = model.cfg
    checked = _checked_vectors(items, id_col, vec_col, cfg.dim, "item", "nid")
    return checked.select(
        "nid",
        _stored_vec(cfg, vec_col).alias("v"),
        model.keys_col(vec_col, query_side=False).alias("keys"),
    )


def _bucket_counts(bucketed: DataFrame) -> DataFrame:
    return bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("gsize"))


def _oversized(counts: DataFrame, bucket_cap: int) -> DataFrame:
    """(bucket, m) for buckets past bucket_cap only — broadcast-sized.
    ``counts`` may hold PARTIAL per-bucket counts (append deltas)."""
    return (
        counts.groupBy("bucket")
        .agg(F.sum("gsize").alias("gsize"))
        .where(F.col("gsize") > bucket_cap)
        .select(
            "bucket",
            F.ceil(F.col("gsize") / bucket_cap).cast("long").alias("m"),
        )
    )


def _salted_by(rows: DataFrame, sizes: DataFrame) -> DataFrame:
    """Routed (bucket, id, ...) rows plus their ``salt``: THE salting rule
    of every bucket join. A bucket with an m in ``sizes`` (_oversized)
    hash-splits into m salt sub-buckets, salt = pmod(xxhash64(id,
    bucket), m); every other bucket keeps salt 0. The id is the second
    column, and the other columns ride along, so vectors can travel
    through the join that follows.

    This is annoy's imbalance fallback (annoylib.h:1337-1425: a node that
    will not split sends its items to random sides); the salt is that
    random side. A pure function of (id, bucket, m), so a salt recomputed
    from a later m never goes stale."""
    rid = rows.columns[1]
    return rows.join(F.broadcast(sizes), "bucket", "left").select(
        *rows.columns,
        F.coalesce(
            F.pmod(F.xxhash64(rid, "bucket"), F.col("m")),
            F.lit(0).cast("long"),
        ).alias("salt"),
    )


def _salted(rows: DataFrame, bucket_cap: int) -> DataFrame:
    """_salted_by the rows' own bucket counts. A join of two such sides
    bounds a mega-bucket at O(g * cap) instead of O(g^2); a pair inside
    it co-occurs with probability about cap/gsize per table or tree, and
    the other tables or trees recover the rest."""
    return _salted_by(rows, _oversized(_bucket_counts(rows), bucket_cap))


def _salted_assign(
    bucketed: DataFrame, sizes: DataFrame, has_oversized: bool
) -> DataFrame:
    """(bucket, salt, nid) of stored assignments, _salted_by the stored
    counts (``sizes``). When no bucket is oversized the join is skipped
    outright (no probe job: the flag is persisted in the index meta /
    counted once at build)."""
    if not has_oversized:
        return bucketed.select(
            "bucket", F.lit(0).cast("long").alias("salt"), "nid"
        )
    return _salted_by(bucketed.select("bucket", "nid"), sizes).select(
        "bucket", "salt", "nid"
    )


def _replicated(
    routes: DataFrame, sizes: DataFrame, has_oversized: bool
) -> DataFrame:
    """Routes (bucket, ...) plus ``salt``, each repeated over salts
    0..m-1 of its bucket (m = 1 unless ``sizes`` has it): the query side
    of a join with _salted_by items, so no candidate is lost to the
    salting — the DataFrame twin of _replicate_salts. Without an
    oversized bucket every salt is 0 and the join is skipped."""
    if not has_oversized:
        return routes.select("*", F.lit(0).cast("long").alias("salt"))
    return routes.join(F.broadcast(sizes), "bucket", "left").select(
        *routes.columns,
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.coalesce(F.col("m"), F.lit(1).cast("long")) - 1,
            )
        ).alias("salt"),
    )


def _salt_map(sizes: DataFrame) -> dict[int, int]:
    """{bucket: m} of the oversized buckets, collected once per build /
    load so query batches replicate salts on the driver (an append merges
    its delta into the map instead, see _merged_salts)."""
    return {r["bucket"]: r["m"] for r in sizes.collect()}


def _sizes_relation(
    spark: SparkSession, salts: dict[int, int]
) -> DataFrame:
    """(bucket, m) of the oversized buckets as a local relation built
    from the salt map: the broadcast side of the item salting and of the
    executor query side's replication. Tiny by construction, so there is
    nothing to cache."""
    return spark.createDataFrame(
        pd.DataFrame(
            {"bucket": list(salts), "m": list(salts.values())},
            dtype=np.int64,
        ),
        "bucket long, m long",
    )


def _replicate_salts(
    row: np.ndarray, bucket: np.ndarray, salts: dict[int, int]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row, bucket, salt): each (row, bucket) route repeated over salts
    0..m-1 of its bucket (m = 1 unless the bucket is oversized)."""
    m = np.fromiter(
        (salts.get(b, 1) for b in bucket.tolist()), np.int64, len(bucket)
    )
    owner, salt = ragged(m)
    return row[owner], bucket[owner], salt


def _resalted(
    salts: dict[int, int], buckets: np.ndarray, totals: np.ndarray,
    bucket_cap: int,
) -> dict[int, int]:
    """``salts`` with each of ``buckets`` re-derived from its full total:
    m = ceil(total / cap) past bucket_cap (as _oversized), absent
    otherwise."""
    out = dict(salts)
    for b, t in zip(buckets.tolist(), totals.tolist()):
        if t > bucket_cap:
            out[b] = -(-t // bucket_cap)
        else:
            out.pop(b, None)
    return out


def _query_head(
    queries: DataFrame, model: AnnModel, id_col: str, vec_col: str
) -> DataFrame:
    """(qid, raw[, keys]): what the driver fetches of a query batch or of
    an item batch (``qid`` is then the item id) — the raw vector in the
    stored element type, plus the keys where they are a JVM expression
    (LSH hamming bit sampling, the same on both sides; guarded, so a bad
    vector reaches _checked_matrix instead of failing inside the
    expression)."""
    cfg = model.cfg
    raw = F.col(vec_col).cast(
        "array<long>" if cfg.metric == "hamming" else "array<double>"
    )
    cols = [F.col(id_col).alias("qid"), raw.alias("raw")]
    if model.jvm_keys:
        cols.append(
            F.when(
                _valid_vector(raw, cfg.dim),
                model.keys_col(vec_col, query_side=True),
            ).alias("keys")
        )
    return queries.select(*cols)


def _checked_matrix(rows: list, cfg: AnnIndexConfig, what: str) -> np.ndarray:
    """The raw vectors of fetched _query_head rows as one matrix; a null
    or wrong-length vector raises ValueError naming its id, in the
    executor paths' words."""
    for r in rows:
        if r["raw"] is None or len(r["raw"]) != cfg.dim:
            raise ValueError(
                f"invalid vector for {what} {r['qid']}: need a non-null "
                f"array of {cfg.dim} elements"
            )
    return np.array(
        [r["raw"] for r in rows],
        dtype=np.int64 if cfg.metric == "hamming" else np.float64,
    ).reshape(len(rows), cfg.dim)


def _driver_keys(
    rows: list, raw: np.ndarray, model: AnnModel, spill_eps: float = 0.0,
    nprobe: int | None = None, query_side: bool = True,
) -> list[np.ndarray]:
    """Per-row keys of fetched rows: the fetched JVM keys for LSH
    hamming, else ``model.route`` of their checked matrix."""
    if model.jvm_keys:
        return [np.asarray(r["keys"], dtype=np.int64) for r in rows]
    return model.route(raw, spill_eps, nprobe, query_side)


def _route_on_driver(
    rows: list, model: AnnModel, spill_eps: float = 0.0,
    nprobe: int | None = None, query_side: bool = True,
) -> tuple[np.ndarray, list[np.ndarray]]:
    """(raw matrix, per-row keys) of fetched _query_head rows, checked
    and routed on the query or the item side."""
    raw = _checked_matrix(rows, model.cfg, "query" if query_side else "item")
    return raw, _driver_keys(rows, raw, model, spill_eps, nprobe, query_side)


def _fetch_batch(queries: DataFrame, head: DataFrame) -> list | None:
    """The rows of ``head`` (_query_head of ``queries``, a query or an
    appended item batch) if the batch has
    at most SMALL_QUERY_MAX rows, else None. A local input (e.g. a pandas
    batch under spark.sql.execution.arrow.localRelationThreshold) is
    already in driver memory, so collecting it runs no job; anything
    else is fetched as Arrow (fetch_bounded)."""
    if queries.isLocal():
        rows = head.limit(SMALL_QUERY_MAX + 1).collect()
        return rows if len(rows) <= SMALL_QUERY_MAX else None
    table = fetch_bounded(head, SMALL_QUERY_MAX)
    return None if table is None else table.to_pylist()


def _driver_routes(
    rows: list, model: AnnModel, salts: dict[int, int], spill_eps: float,
    nprobe: int | None,
) -> tuple[np.ndarray, np.ndarray, tuple]:
    """(qids, qv, (row, bucket, salt)) of fetched _query_head rows: the
    ids, each vector in its stored form, and the routes, checked and
    routed on the driver and replicated across oversized buckets' salts."""
    raw, keys = _route_on_driver(rows, model, spill_eps, nprobe)
    n_keys = np.fromiter(map(len, keys), np.int64, len(keys))
    routes = _replicate_salts(
        np.repeat(np.arange(len(rows)), n_keys),
        np.concatenate(keys) if keys else np.zeros(0, np.int64),
        salts,
    )
    qids = np.empty(len(rows), dtype=object)
    qids[:] = [r["qid"] for r in rows]
    return qids, _stored_rows(model.cfg, raw), routes


def _local_query_side(
    spark: SparkSession, qids: np.ndarray, qid_type, qv: np.ndarray,
    routes: tuple, cfg: AnnIndexConfig,
) -> tuple[DataFrame, DataFrame]:
    """((qid, bucket, salt), (qid, qv)) as local relations from a batch
    routed on the driver (_driver_routes)."""
    row, bucket, salt = routes
    vec_type = LongType() if cfg.metric == "hamming" else DoubleType()
    qroutes = spark.createDataFrame(
        pd.DataFrame({"qid": qids[row], "bucket": bucket, "salt": salt}),
        StructType().add("qid", qid_type).add("bucket", LongType())
        .add("salt", LongType()),
    )
    qvecs = spark.createDataFrame(
        pd.DataFrame({"qid": qids, "qv": list(qv)}),
        StructType().add("qid", qid_type).add("qv", ArrayType(vec_type)),
    )
    return qroutes, qvecs


def _members_of(
    spark: SparkSession, assign: DataFrame, buckets: np.ndarray
) -> DataFrame:
    """(bucket, salt, nid) of the stored assignments in ``buckets``: a
    semi-join against the buckets as a local relation, which the planner
    broadcasts into the assignments scan (not Column.isin, which makes
    one py4j call per literal)."""
    wanted = spark.createDataFrame(
        pd.DataFrame({"bucket": buckets}), "bucket long"
    )
    return assign.join(wanted, "bucket", "left_semi").select(
        "bucket", "salt", "nid"
    )


def _vectors_of(
    spark: SparkSession, vectors: DataFrame, nids: np.ndarray
) -> DataFrame:
    """(nid, v) of the stored vectors of ``nids``, the same semi-join."""
    wanted = spark.createDataFrame(
        pd.DataFrame({"nid": nids}),
        StructType().add("nid", vectors.schema["nid"].dataType),
    )
    return vectors.join(wanted, "nid", "left_semi").select("nid", "v")


def _answer_schema(qid_type, nid: StructField) -> StructType:
    """The schema of _join_plan's answer, nullability included: the qid
    of the local query relation, the nid of the stored assignments, a
    nullable distance and the row_number rank, never null."""
    return (
        StructType()
        .add("qid", qid_type)
        .add(nid.name, nid.dataType, nid.nullable)
        .add("distance", DoubleType())
        .add("rank", LongType(), False)
    )


def _answer(
    spark: SparkSession, schema: StructType, qid: np.ndarray,
    nid: np.ndarray, distance: np.ndarray, rank: np.ndarray,
) -> DataFrame:
    answer = spark.createDataFrame(
        pd.DataFrame(
            {"qid": qid, "nid": nid, "distance": distance, "rank": rank}
        ),
        schema,
    )
    # an empty pandas frame becomes a parallelized RDD, not a local
    # relation; limit(0) plans as an empty one (no job to collect it)
    return answer if len(qid) else answer.limit(0)


def _member_runs(
    members, bucket: np.ndarray, salt: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(by_key, lo, cnt): the fetched members' order by (bucket, salt),
    and where each route's members start in that order and how many
    there are — the (bucket, salt) equi-join of routes and members."""
    msalt = members["salt"].to_numpy()
    both = pd.factorize(
        np.concatenate([members["bucket"].to_numpy(), bucket])
    )[0]
    width = int(max(msalt.max(initial=0), salt.max())) + 1
    mkey = both[: len(msalt)] * width + msalt
    by_key = np.argsort(mkey, kind="stable")
    rkey = both[len(msalt):] * width + salt
    lo = np.searchsorted(mkey[by_key], rkey, "left")
    return by_key, lo, np.searchsorted(mkey[by_key], rkey, "right") - lo


def _driver_top_k(
    spark: SparkSession, cfg: AnnIndexConfig, k: int, qids: np.ndarray,
    qv: np.ndarray, routes: tuple, assign: DataFrame, vectors: DataFrame,
    drop_self: bool, schema: StructType,
) -> DataFrame | None:
    """Each query's k nearest of a driver-routed batch, answered on the
    driver as annoy answers in-process (gather the leaves' items, dedup,
    exact distances, partial sort; annoylib.h:1447-1504): the rows of
    _join_plan, distances bit for bit, as a local relation. None when
    the batch's buckets hold more than SMALL_QUERY_MAX assignments.

    Two bounded fetches: the assignments of the routed buckets
    (_members_of) and the vectors of their distinct items (_vectors_of;
    no more rows than the first). The routes meet the members on
    (bucket, salt) in numpy, in chunks of whole queries holding at most
    SMALL_QUERY_MAX route-member pairs each. A chunk dedups its
    (qid, nid) pairs, drops self pairs for drop_self, scores them with
    _distance_rows and keeps each query's k best by (distance, nid). A
    repeated qid is one query scored with each of its vectors, as the
    join plan scores it."""
    row, bucket, salt = routes
    # a query is a qid code: a repeated qid is one query, a null qid gets
    # -1 and no answer, as in the join
    qcode, qkeys = pd.factorize(qids)
    if not len(qkeys):  # an empty batch, or only null ids
        empty = qids[:0]
        return _answer(
            spark, schema, empty, empty, np.zeros(0), np.zeros(0, np.int64)
        )
    members = fetch_bounded(
        _members_of(spark, assign, np.unique(bucket)), SMALL_QUERY_MAX
    )
    if members is None:
        return None
    # sorted codes, so code order is Spark's nid order (strings included)
    mnid, nids = pd.factorize(
        members["nid"].to_numpy(zero_copy_only=False), sort=True
    )
    vecs = _vectors_of(spark, vectors, nids).toArrow()
    at = pd.Index(nids).get_indexer(
        vecs["nid"].to_numpy(zero_copy_only=False)
    )
    v_of = np.zeros((len(nids), cfg.dim), qv.dtype)
    v_of[at] = (
        vecs["v"].combine_chunks().flatten().to_numpy().reshape(-1, cfg.dim)
    )
    # an assignment without a stored vector drops out, as in the inner join
    has_v = np.zeros(len(nids), bool)
    has_v[at] = True
    by_key, lo, cnt = _member_runs(members, bucket, salt)
    # routes sorted by query, so a run of queries is a run of routes
    rq = qcode[row]
    by_q = np.argsort(rq, kind="stable")
    by_q = by_q[rq[by_q] >= 0]
    rq, lo, cnt = rq[by_q], lo[by_q], cnt[by_q]
    nq = len(qkeys)
    first_route = np.searchsorted(rq, np.arange(nq + 1))
    pairs_before = np.concatenate([[0], np.cumsum(cnt)])[first_route]
    # the batch rows of each query: each of them is scored
    qrows = np.flatnonzero(qcode >= 0)
    qrows = qrows[np.argsort(qcode[qrows], kind="stable")]
    n_rows = np.bincount(qcode[qrows], minlength=nq)
    first_row = np.cumsum(n_rows) - n_rows
    self_nid = pd.Index(nids).get_indexer(qkeys) if drop_self else None
    n_nids = max(len(nids), 1)
    out = []
    a = 0
    while a < nq:
        b = max(a + 1, int(np.searchsorted(
            pairs_before, pairs_before[a] + SMALL_QUERY_MAX, "right")) - 1)
        ra, rb = first_route[a], first_route[b]
        owner, off = ragged(cnt[ra:rb])
        pq = rq[ra:rb][owner]
        pn = mnid[by_key[lo[ra:rb][owner] + off]]
        keep = has_v[pn]
        if drop_self:
            keep &= pn != self_nid[pq]
        pair = np.unique(pq[keep] * n_nids + pn[keep])
        pq, pn = pair // n_nids, pair % n_nids
        owner, off = ragged(n_rows[pq])
        pq, pn = pq[owner], pn[owner]
        d = _distance_rows(cfg, qv[qrows[first_row[pq] + off]], v_of[pn])
        order = np.lexsort((pn, d, pq))
        pq, pn, d = pq[order], pn[order], d[order]
        rank = np.arange(1, len(pq) + 1) - np.searchsorted(pq, pq)
        top = rank <= k
        out.append((pq[top], pn[top], d[top], rank[top]))
        a = b
    pq, pn, d, rank = map(np.concatenate, zip(*out))
    return _answer(spark, schema, qkeys[pq], nids[pn], d, rank)


def _join_plan(
    qroutes: DataFrame, qvecs: DataFrame, assign: DataFrame,
    vectors: DataFrame, cfg: AnnIndexConfig, k: int, drop_self: bool,
) -> DataFrame:
    """(qid, nid, distance, rank) of a query side joined on the
    executors: equi-join the stored assignments, dedup NARROW (ids only;
    self pairs dropped first for drop_self), re-attach vectors, exact
    re-rank."""
    cand = qroutes.join(assign, ["bucket", "salt"]).select("qid", "nid")
    if drop_self:
        cand = cand.where(F.col("qid") != F.col("nid"))
    joined = (
        cand.dropDuplicates(["qid", "nid"])
        .join(vectors, "nid").join(qvecs, "qid")
    )
    scored = joined.select(
        "qid", "nid", _distance(cfg, "qv", "v").alias("distance")
    )
    return _top_k(scored, k)


def _executor_query_side(
    queries: DataFrame, sizes: DataFrame, has_oversized: bool,
    model: AnnModel, id_col: str, vec_col: str, spill_eps: float,
    nprobe: int | None,
) -> tuple[DataFrame, DataFrame]:
    """((qid, bucket, salt), (qid, qv)) routed by the routing UDF on the
    executors, replicated across oversized buckets' salts."""
    cfg = model.cfg
    qbase = _checked_vectors(
        queries, id_col, vec_col, cfg.dim, "query", "qid"
    ).select(
        "qid",
        _stored_vec(cfg, vec_col).alias("qv"),
        model.keys_col(vec_col, query_side=True, spill_eps=spill_eps,
                       nprobe=nprobe)
        .alias("keys"),
    )
    qroutes = _replicated(
        qbase.select("qid", F.explode("keys").alias("bucket")), sizes,
        has_oversized,
    )
    return qroutes, qbase.select("qid", "qv")


def _query_plan(
    queries: DataFrame,
    vectors: DataFrame,
    assign: DataFrame,
    sizes: DataFrame,
    salts: dict[int, int],
    model: AnnModel,
    k: int,
    id_col: str,
    vec_col: str,
    spill_eps: float,
    nprobe: int | None = None,
    drop_self: bool = False,
) -> DataFrame:
    """(qid, nid, distance, rank): route queries with the stored model,
    replicate across oversized buckets' salts, match the stored
    assignments, dedup (qid, nid), exact re-rank. drop_self drops each
    query's own id from its candidates before the ranking
    (get_nns_by_item without the item).

    One bounded fetch of the batch (_fetch_batch) picks the path. Up to
    SMALL_QUERY_MAX rows are routed on the driver with the routing
    kernels and answered there (_driver_top_k): the call runs its two
    bounded fetches and returns a local relation. If the routed buckets
    hold more than SMALL_QUERY_MAX assignments, the driver-routed side
    joins as exact-sized local relations instead, and a larger batch is
    routed on the executors; both end in the lazy _join_plan, where the
    planner picks every join strategy from sizes: the stored
    buckets/vectors relations are the 10^12-row side and are only ever
    scanned, semi-joined or equi-joined, never hint-broadcast."""
    cfg = model.cfg
    spark = queries.sparkSession
    head = _query_head(queries, model, id_col, vec_col)
    rows = _fetch_batch(queries, head)
    if rows is None:
        qroutes, qvecs = _executor_query_side(
            queries, sizes, bool(salts), model, id_col, vec_col, spill_eps,
            nprobe,
        )
        return _join_plan(qroutes, qvecs, assign, vectors, cfg, k, drop_self)
    qid_type = head.schema["qid"].dataType
    qids, qv, routes = _driver_routes(rows, model, salts, spill_eps, nprobe)
    schema = _answer_schema(qid_type, assign.schema["nid"])
    answer = _driver_top_k(
        spark, cfg, k, qids, qv, routes, assign, vectors, drop_self, schema
    )
    if answer is not None:
        return answer
    qroutes, qvecs = _local_query_side(spark, qids, qid_type, qv, routes, cfg)
    return _join_plan(qroutes, qvecs, assign, vectors, cfg, k, drop_self)


_MODEL_STAGE = "model"
_NPZ = "model.npz"
_META = "_ANNOY_SPARK_META.json"
#: build, append and compaction all stage under this dir, behind this marker
_STAGING = "_staging"
_PENDING = "_COMMIT_PENDING.json"
#: the persisted relations, one directory each under the index root
_ARTIFACTS = ("vectors", "buckets", "counts")


def _check_pending(root: str) -> None:
    """Refuse to load/append/query/compact an index whose last build,
    append or compaction never committed: torn artifacts (vectors without
    bucket rows etc.) must not serve silently. repair_index completes a
    recorded publish or rolls back anything earlier."""
    marker = Path(root) / _PENDING
    if marker.exists():
        op = json.loads(marker.read_text())["op"]
        raise ValueError(
            f"index at {root} has an UNFINISHED {op} (crash between "
            "staging and commit) — run annoy_spark.sources.ann_index."
            "repair_index(spark, root) to complete or roll it back before "
            "loading"
        )


def _write_marker(root: Path, record: dict) -> None:
    """Write the pending marker atomically: a crash leaves the previous
    marker or the new one, never torn JSON."""
    write_json_atomic(root / _PENDING, record)


def _begin(root: Path, op: str) -> Path:
    """Open a commit: drop staging debris (without a marker it was rolled
    back or committed, so it is unreachable; never mix two operations'
    files) and write the marker, whose presence means 'in flight'.
    Returns the staging dir."""
    staging = root / _STAGING
    shutil.rmtree(staging, ignore_errors=True)
    root.mkdir(parents=True, exist_ok=True)
    _write_marker(root, {"op": op})
    return staging


def _rollback(root: Path) -> None:
    """Undo a commit whose publish was never recorded: nothing live was
    touched, so dropping staging + marker restores the previous index."""
    shutil.rmtree(root / _STAGING, ignore_errors=True)
    (root / _PENDING).unlink(missing_ok=True)


def _data_files(d: Path) -> list[Path]:
    """A stage dir's data files (parquet parts and their checksums):
    everything but its _SUCCESS and stage meta."""
    if not d.is_dir():
        return []
    return sorted(f for f in d.iterdir() if not f.name.startswith("_"))


def _live_files(root: Path) -> dict[str, list[str]]:
    """Every live artifact's data file names — what a compaction or a
    build retires."""
    return {
        stage: [f.name for f in _data_files(root / stage)]
        for stage in _ARTIFACTS
    }


def _commit(
    spark: SparkSession, root: Path, op: str, cfg: AnnIndexConfig,
    n_items: int, has_oversized: bool, retire: dict[str, list[str]],
) -> None:
    """Record everything the publish needs in the marker, then publish:
    from this record on, a crash is completed forward by repair_index
    without reading any artifact."""
    record = {
        "op": op, "config": json.loads(cfg.to_json()), "n_items": n_items,
        "has_oversized": has_oversized, "retire": retire,
    }
    _write_marker(root, record)
    _publish(spark, root, record)


def _publish(spark: SparkSession, root: Path, record: dict) -> None:
    """COMMIT a recorded build, append or compaction: per artifact, move
    the staged data files in, delete the retired ones and re-stamp the
    stage meta; then move a build's staged model in, write the model
    meta, and drop staging + the marker (marker last: its absence IS the
    commit record). Every step is idempotent (staged names are unique and
    a moved file leaves staging), so a crash anywhere is completed by
    calling this again with the same record; until then the marker keeps
    readers out. On Iceberg the whole publish is one transactional
    snapshot commit; the parquet degradation gets the same
    all-or-repairable contract from this ordering."""
    cfg = AnnIndexConfig.from_json(json.dumps(record["config"]))
    staging = root / _STAGING
    store = CheckpointStore(str(root), cfg)
    for stage in _ARTIFACTS:
        live = root / stage
        live.mkdir(exist_ok=True)
        for f in _data_files(staging / stage):
            os.replace(f, live / f.name)
        for name in record["retire"].get(stage, ()):
            (live / name).unlink(missing_ok=True)
        (live / "_SUCCESS").touch()
        store.restamp(stage)
        # files arrived by RENAME, which bypasses the write path's
        # automatic recache: refresh file listings AND any cached plan
        # fragment over this path, or readers keep serving the previous
        # snapshot
        spark.catalog.refreshByPath(str(live))
    npz = staging / _MODEL_STAGE / _NPZ
    if npz.exists():
        (root / _MODEL_STAGE).mkdir(exist_ok=True)
        os.replace(npz, root / _MODEL_STAGE / _NPZ)
    _write_meta(
        str(root), cfg, has_oversized=record["has_oversized"],
        n_items=record["n_items"],
    )
    shutil.rmtree(staging, ignore_errors=True)
    (root / _PENDING).unlink(missing_ok=True)


def _resolve_pending(spark: SparkSession, root: Path) -> None:
    """Complete a recorded publish, roll back an unrecorded commit, or
    do nothing when no marker is present."""
    marker = root / _PENDING
    if marker.exists():
        record = json.loads(marker.read_text())
        if "retire" in record:
            _publish(spark, root, record)
        else:
            _rollback(root)


#: the counts artifact's schema, so reading it runs no inference job
_COUNTS_SCHEMA = "bucket long, gsize long"


def _stage_table(staging: Path, stage: str, table) -> None:
    """Write one pyarrow table as a staged artifact's single file (no
    Spark job). File names are unique, so publishing never overwrites a
    live file."""
    import pyarrow.parquet as pq

    d = staging / stage
    d.mkdir(parents=True)
    pq.write_table(table, d / f"part-00000-{uuid.uuid4()}.parquet")


def _stage_on_driver(
    staging: Path, ids: list, raw: np.ndarray, keys: list[np.ndarray],
    cfg: AnnIndexConfig, nid_type,
) -> tuple[np.ndarray, np.ndarray]:
    """Stage a driver-routed batch's vectors / buckets / counts with
    pyarrow, one file each (no Spark job); returns the batch's count
    delta (touched buckets, gsize)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    stored = _stored_rows(cfg, raw)
    n, dim = stored.shape
    v = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(stored.ravel()),
    )
    nid = pa.array(ids, type=to_arrow_type(nid_type))
    n_keys = np.fromiter(map(len, keys), np.int64, n)
    bucket = np.concatenate(keys).astype(np.int64)
    touched, gsize = np.unique(bucket, return_counts=True)
    _stage_table(staging, "vectors", pa.table({"nid": nid, "v": v}))
    _stage_table(staging, "buckets", pa.table({
        "bucket": bucket,
        "nid": nid.take(np.repeat(np.arange(n), n_keys)),
    }))
    _stage_table(
        staging, "counts", pa.table({"bucket": touched, "gsize": gsize})
    )
    return touched, gsize


def _stage_on_executors(
    spark: SparkSession, staging: Path, items: DataFrame, model: AnnModel,
    id_col: str, vec_col: str,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Stage an append batch or a build over SMALL_QUERY_MAX through the
    routing UDF into ``staging``; returns (touched buckets, gsize, rows
    staged). ONE routing pass: the UDF
    lineage is materialized once into the staged 'routed' relation and
    vectors/buckets/counts all derive from its re-read, so a
    non-deterministic input can never persist counts that diverge from
    the bucket rows (and the UDF is not re-paid per artifact)."""
    _routed_items(items, model, id_col, vec_col).write.parquet(
        str(staging / "routed")
    )
    routed = spark.read.parquet(str(staging / "routed"))
    routed.select("nid", "v").write.parquet(str(staging / "vectors"))
    routed.select(
        F.explode("keys").alias("bucket"), "nid"
    ).write.parquet(str(staging / "buckets"))
    # count DELTA only — history is never rewritten (snapshot-append);
    # recounted from the staged bucket rows
    _bucket_counts(
        spark.read.parquet(str(staging / "buckets"))
    ).write.parquet(str(staging / "counts"))
    delta = spark.read.schema(_COUNTS_SCHEMA).parquet(
        str(staging / "counts")
    ).toArrow()
    return (
        delta["bucket"].to_numpy(), delta["gsize"].to_numpy(),
        routed.count(),
    )


def _merged_salts(
    spark: SparkSession, root: str, salts: dict[int, int],
    touched: np.ndarray, gsize: np.ndarray, bucket_cap: int,
) -> dict[int, int]:
    """The salt map after an append: ``salts`` with every bucket the
    batch touched re-derived from its full total — its stored partial
    counts (one job: the counts artifact semi-joined to the touched
    buckets, summed on the driver) plus the batch's delta. Buckets the
    batch did not touch keep their m, so nothing here scales with the
    stored index."""
    stored = (
        spark.read.schema(_COUNTS_SCHEMA).parquet(str(Path(root) / "counts"))
        .join(
            spark.createDataFrame(
                pd.DataFrame({"bucket": touched}), "bucket long"
            ),
            "bucket", "left_semi",
        )
        .toArrow()
    )
    ub, total = _summed(
        np.concatenate([stored["bucket"].to_numpy(), touched]),
        np.concatenate([stored["gsize"].to_numpy(), gsize]),
    )
    return _resalted(salts, ub, total, bucket_cap)


def _summed(
    bucket: np.ndarray, gsize: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Partial counts summed per bucket (the groupBy-sum readers run):
    the distinct buckets, ascending, and their totals."""
    ub, inv = np.unique(bucket, return_inverse=True)
    total = np.zeros(len(ub), np.int64)
    np.add.at(total, inv, gsize)
    return ub, total


def _meta_path(root: str) -> Path:
    return Path(root) / _MODEL_STAGE / _META


def _read_meta(root: str) -> dict:
    meta_path = _meta_path(root)
    if not meta_path.exists():
        raise FileNotFoundError(f"no ANN index model under {root}")
    meta = json.loads(meta_path.read_text())
    if meta.get("format", 1) != _FORMAT:
        raise ValueError(
            f"index at {root} uses persisted format "
            f"{meta.get('format', 1)}, this build reads format {_FORMAT} — "
            "rebuild the index (the annoy analog: an index file from an "
            "incompatible version fails the load-time geometry check)"
        )
    return meta


def _write_meta(root: str, cfg: AnnIndexConfig, **extra) -> None:
    # temp file + fsync + rename: a crash mid-write leaves the old meta
    CheckpointStore(root, cfg).restamp(_MODEL_STAGE, format=_FORMAT, **extra)


class AnnIndex:
    """A built (optionally persisted) index: model + bucket artifacts."""

    def __init__(
        self,
        model: AnnModel,
        vectors: DataFrame,
        bucketed: DataFrame,
        salts: dict[int, int],
        spark: SparkSession | None = None,
        root: str | None = None,
        n_items: int | None = None,
    ):
        self.model = model
        self.cfg = model.cfg
        self._spark = spark
        self._root = root
        self._set_body(vectors, bucketed, salts, n_items)

    def _set_body(
        self, vectors: DataFrame, bucketed: DataFrame,
        salts: dict[int, int], n_items: int | None,
    ) -> None:
        self._n_items = n_items
        self._vectors = vectors
        self._bucketed = bucketed
        self._salts = salts
        self._sizes = _sizes_relation(vectors.sparkSession, salts)
        self._assign = _salted_assign(bucketed, self._sizes, bool(salts))

    # --- introspection (annoylib.h:1238-1254) ----------------------------
    def n_items(self) -> int:
        """get_n_items analog: stored item count (meta-cached when the
        index is persisted; one count job otherwise)."""
        if self._n_items is None:
            self._n_items = self._vectors.count()
        return self._n_items

    def get_f(self) -> int:
        """annoy ``get_f`` (annoylib.h:978-980): the indexed vector
        dimension (pre-augmentation for metric='dot' — annoy likewise
        reports the user's f, not f+1)."""
        return self.cfg.dim

    def n_trees(self) -> int:
        """get_n_trees analog (annoylib.h:1250-1254): routing structures
        in the stored model — trees for the forest kind, centroids for
        IVF, hash tables for LSH."""
        cfg = self.cfg
        if cfg.kind == "forest":
            return cfg.n_trees
        return cfg.n_centroids if cfg.kind == "ivf" else cfg.n_tables

    def n_buckets(self) -> int:
        """Number of distinct router buckets holding >= 1 item (the
        data-dependent shape number for a bucketed index)."""
        return self._bucketed.select("bucket").distinct().count()

    def get_item_vector(self, nid) -> list:
        """get_item_vector analog: the STORED representation of one item
        (unit-normalized for angular — annoy returns the raw vector but
        caches norms; here the stored form is what queries compare
        against). Raises KeyError for an unknown id."""
        row = self._vectors.where(F.col("nid") == F.lit(nid)).first()
        if row is None:
            raise KeyError(f"no item {nid!r} in the index")
        return list(row["v"])

    def get_distance(self, i, j) -> float:
        """annoy ``get_distance`` (annoylib.h:1224-1226): the USER-FACING
        distance between two stored items, i.e. normalized_distance of the
        internal form (annoylib.h:512-517, 657-659, 794-796, 862-865,
        893-895): angular sqrt(2-2cos), euclidean sqrt, manhattan L1,
        hamming popcount — identical to the query paths' ``distance``
        column — and for metric='dot' the RAW dot product <i,j>
        (the query paths rank by -dot ascending; annoy's Python layer
        reports the positive product, annoylib.h:657-659).
        Raises KeyError when either id is not stored.

        One semi-joined fetch brings both stored vectors; _distance_rows
        scores them on the driver, bit for bit the query paths' distance."""
        ids = np.empty(2, dtype=object)
        ids[:] = [i, j]
        got = _vectors_of(
            self._vectors.sparkSession, self._vectors, ids
        ).toArrow()
        stored = dict(zip(got["nid"].to_pylist(), got["v"].to_pylist()))
        missing = [x for x in (i, j) if x not in stored]
        if missing:
            raise KeyError(f"no stored item(s) {missing!r} in the index")
        dtype = np.int64 if self.cfg.metric == "hamming" else np.float64
        qv, v = (np.array([stored[x]], dtype) for x in (i, j))
        d = float(_distance_rows(self.cfg, qv, v)[0])
        return -d if self.cfg.metric == "dot" else d

    def query(
        self,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        spill_eps: float = 0.0,
        nprobe: int | None = None,
    ) -> DataFrame:
        """get_nns_by_vector over the stored index (annoylib.h:1234-1236):
        (qid, nid, rank, distance). spill_eps widens the forest candidate
        set at query time and nprobe overrides the IVF probe count — both
        are search_k analogs (annoylib.h:1447-1480: the accuracy budget
        is spent at query time, one stored index serves every budget).
        For HAMMING forests spill_eps is read as a level count
        (floor(spill_eps) bottom split levels probed on both sides —
        a bit margin has no eps scale, see hamming_forest_leaves).
        A null or wrong-length query vector raises, naming its id.

        A batch of at most SMALL_QUERY_MAX rows is answered at call
        time: routed and re-ranked on the driver, it comes back as a
        local relation (about 4 Spark jobs: two bounded fetches of the
        stored relations). A larger batch, or one whose routed buckets
        hold more than SMALL_QUERY_MAX assignments, returns a lazy join
        plan with the same rows and schema."""
        return _query_plan(
            queries, self._vectors, self._assign, self._sizes, self._salts,
            self.model, k, id_col, vec_col, spill_eps, nprobe,
        )

    def query_by_items(
        self,
        item_ids: DataFrame,
        k: int,
        id_col: str = "vec_id",
        spill_eps: float = 0.0,
        include_self: bool = False,
    ) -> DataFrame:
        """get_nns_by_item over the stored index (annoylib.h:1228-1232):
        the query vectors are the STORED representations of the given
        item ids (one column DataFrame). include_self=False drops each
        item from its own candidates before the re-rank (annoy includes
        it), so each query still gets the k nearest of the others, ranked
        1..k."""
        qs = item_ids.select(F.col(id_col).alias("qid")).join(
            self._vectors.withColumnRenamed("nid", "qid"), "qid"
        )
        return _query_plan(
            qs, self._vectors, self._assign, self._sizes, self._salts,
            self.model, k, "qid", "v", spill_eps,
            drop_self=not include_self,
        )

    def unload(self) -> None:
        """annoy ``unload`` (annoylib.h:1141-1165). Nothing is cached —
        the oversized-bucket relation is a local relation built from the
        salt map — so there is nothing to drop; the persisted artifacts
        stay on disk and the index re-loads via load_index."""

    def append(
        self,
        items: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        check_ids: bool = True,
    ) -> "AnnIndex":
        """Incrementally add items to a PERSISTED index — annoy's
        unbuild -> add_item -> build reopening (annoylib.h:1080-1091;
        test/index_test.py:234-245 pins the allowed transitions), without
        the full rebuild: the ROUTER IS FROZEN (same trees/centroids/
        planes — the set_seed contract keeps old answers stable), new
        items are routed with it and appended to the vectors/buckets
        artifacts, and only the per-bucket count DELTAS are written.

        A batch of at most SMALL_QUERY_MAX rows takes the query batches'
        driver path: one bounded fetch (_fetch_batch; no job for a local
        input), the vector checks in numpy, item-side routing with the
        same kernels, and the staged artifacts written with pyarrow. A
        larger batch is checked and routed on the executors. Every check
        (dim, null or wrong-length vector naming its id, the MIPS
        max-norm, id clashes) runs before the pending marker is written.

        The commit reads only what the batch touched: n_items becomes the
        stored count plus the batch, and the salt map is merged with the
        full totals of the touched buckets (_merged_salts), so a bucket
        that crosses bucket_cap mid-life re-salts consistently for ALL
        its items on the next query. An empty batch is a no-op.

        Returns self (internal relations refreshed in place).
        check_ids=True (default) semi-join-asserts the new ids are not
        already stored, naming up to 5 that are — annoy's positional
        add_item cannot collide, a keyed store can."""
        if self._root is None or self._spark is None:
            raise ValueError(
                "append requires a persisted index (build_index/"
                "load_index); the ephemeral by-vector path rebuilds "
                "per call"
            )
        _check_pending(self._root)
        spark, root, cfg = self._spark, self._root, self.cfg
        head = _query_head(items, self.model, id_col, vec_col)
        rows = _fetch_batch(items, head)
        if rows is None:  # past the cap: checked on the executors
            first_row = items.select(vec_col).first()
            if first_row is None:
                return self
            first = first_row[0]
        elif not rows:
            return self
        else:
            first = rows[0]["raw"]
        if first is not None and len(first) != cfg.dim:
            raise ValueError(
                f"appended vectors must have dim {cfg.dim} "
                "(annoy load-validation analog: geometry is frozen)"
            )
        if rows is not None:
            ids = [r["qid"] for r in rows]
            raw, keys = _route_on_driver(rows, self.model, query_side=False)
            if cfg.metric == "dot":
                _check_max_norm(float(_norm2_rows(raw).max()), self.model)
        elif cfg.metric == "dot":
            vec = F.col(vec_col).cast("array<double>")
            mx = items.select(F.max(_norm2(vec))).first()[0]
            if mx is not None:
                _check_max_norm(mx, self.model)
        if check_ids:
            if rows is not None:
                new_ids = spark.createDataFrame(
                    pd.DataFrame({"nid": ids}),
                    StructType().add("nid", head.schema["qid"].dataType),
                )
            else:
                new_ids = items.select(F.col(id_col).alias("nid"))
            # one semi-join (not Column.isin: a py4j call per literal);
            # its 5 least ids fetched as Arrow: 2 jobs, where take(1)
            # scales up to 3, and a full re-delivery (every id clashes)
            # still brings back only 5
            clash = (
                new_ids.join(self._vectors.select("nid"), "nid", "left_semi")
                .orderBy("nid").limit(5).toArrow()
            )
            if len(clash):
                raise ValueError(
                    f"appended item ids collide with stored ids (e.g. "
                    f"{clash['nid'].to_pylist()}) — pass "
                    "check_ids=False only if upstream guarantees disjoint "
                    "ids"
                )
        n_stored = self.n_items()
        out = Path(root)
        staging = _begin(out, "append")
        try:
            if rows is not None:
                touched, gsize = _stage_on_driver(
                    staging, ids, raw, keys, cfg,
                    self._vectors.schema["nid"].dataType,
                )
                n_new = len(ids)
            else:
                touched, gsize, n_new = _stage_on_executors(
                    spark, staging, items, self.model, id_col, vec_col
                )
            salts = _merged_salts(
                spark, root, self._salts, touched, gsize, cfg.bucket_cap
            )
        except BaseException:
            # the publish is not recorded yet, so an ORDINARY failed job —
            # a ragged embedding, a cancelled stage — rolls back here
            # instead of bricking the index behind the marker until
            # repair; a process crash still leaves the marker for
            # repair_index, which rolls back the same way
            _rollback(out)
            raise
        n_items = n_stored + n_new
        _commit(spark, out, "append", cfg, n_items, bool(salts), retire={})
        # re-read with the schemas already held: no inference job
        self._set_body(
            spark.read.schema(self._vectors.schema).parquet(
                str(out / "vectors")
            ),
            spark.read.schema(self._bucketed.schema).parquet(
                str(out / "buckets")
            ),
            salts, n_items,
        )
        return self

    def compact(self) -> "AnnIndex":
        """Rewrite this persisted index's artifacts as one consolidated
        snapshot (see :func:`compact_index`) and return the reloaded
        index. Query results are bit-identical before/after."""
        if self._root is None or self._spark is None:
            raise ValueError(
                "compact requires a persisted index (build_index/"
                "load_index); an ephemeral index has no files to compact"
            )
        return compact_index(self._spark, self._root)


def build_index(
    spark: SparkSession,
    items: DataFrame,
    root: str,
    cfg: AnnIndexConfig,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """Train the router, route every item once, persist model + artifacts
    (annoy ``build`` + ``save``, annoylib.h:1037-1127). The build
    replaces whatever index ``root`` held through the one staged commit:
    an unfinished commit there is first resolved as repair_index does,
    the new artifacts and model are staged, and the publish retires every
    live data file. A failed or crashed build leaves the previous index
    intact (repair_index rolls an unrecorded build back). Returns the
    live index (no reload needed to query immediately).

    Build is the third operation on the driver batch path, after query
    and append (annoy builds in-process over its item array). One bounded
    fetch (_fetch_batch) of (id, raw vector, trainer-sample hash) decides.
    A relation of at most SMALL_QUERY_MAX items takes its dim from the
    first row, is checked in numpy, trains on the sample picked in numpy
    (training_sample_rows: the membership and order the Spark sample
    would give), is routed with the item-side kernels and staged with
    pyarrow — no Spark job past the fetch. A larger relation is sampled,
    routed and staged on the executors (_stage_on_executors, append's
    one routing pass). Either way n_items and the salt map come from the
    staged batch's counts, and the artifacts are read back with the
    schema in their parquet footers."""
    if cfg.dim == 0 and AnnModel(cfg, {}).jvm_keys:
        # the fetched keys are a JVM expression over dim: one first() job
        cfg = _resolve_cfg(cfg, items, vec_col, id_col)
    head = _query_head(items, AnnModel(cfg, {}), id_col, vec_col).withColumn(
        "h", sample_hash("qid", cfg.seed)
    )
    rows = _fetch_batch(items, head)
    if rows is None:  # past the cap: sampled and routed on the executors
        cfg = _resolve_cfg(cfg, items, vec_col, id_col)
        model = AnnModel.train(
            _checked_vectors(items, id_col, vec_col, cfg.dim, "item", id_col),
            cfg, id_col, vec_col,
        )
    else:
        dim = _first_dim(rows)
        cfg = _sized(replace(cfg, dim=cfg.dim or dim))
        raw = _checked_matrix(rows, cfg, "item")
        ids = [r["qid"] for r in rows]
        pick = training_sample_rows(
            np.asarray(ids),
            np.fromiter((r["h"] for r in rows), np.int64, len(rows)),
            cfg.max_sample, cfg.sample_fraction,
        )
        max_n2 = float(_norm2_rows(raw).max()) if cfg.metric == "dot" else None
        model = AnnModel.train(raw[pick], cfg, id_col, vec_col, max_n2=max_n2)
        keys = _driver_keys(rows, raw, model, query_side=False)
    out = Path(root)
    _resolve_pending(spark, out)
    retire = _live_files(out)
    staging = _begin(out, "build")
    try:
        if rows is None:
            touched, gsize, n_items = _stage_on_executors(
                spark, staging, items, model, id_col, vec_col
            )
        else:
            touched, gsize = _stage_on_driver(
                staging, ids, raw, keys, cfg, head.schema["qid"].dataType
            )
            n_items = len(rows)
        (staging / _MODEL_STAGE).mkdir()
        np.savez(staging / _MODEL_STAGE / _NPZ, **model.arrays)
    except BaseException:
        _rollback(out)  # the previous index is untouched
        raise
    salts = _resalted({}, touched, gsize, cfg.bucket_cap)
    _commit(spark, out, "build", cfg, n_items, bool(salts), retire)
    store = CheckpointStore(root, cfg)
    return AnnIndex(
        model, _read_artifact(spark, store, "vectors"),
        _read_artifact(spark, store, "buckets"), salts,
        spark=spark, root=root, n_items=n_items,
    )


def _read_artifact(
    spark: SparkSession, store: CheckpointStore, stage: str
) -> DataFrame:
    """A stored artifact, read with the schema in one of its data files'
    parquet footer (every file of an artifact has the same columns), so
    reading runs no schema-inference job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    part = min((store.root / stage).glob("*.parquet"), default=None)
    return store.read(
        spark, stage, part and from_arrow_schema(pq.read_schema(part))
    )


def load_index(
    spark: SparkSession,
    root: str,
    expected: AnnIndexConfig | None = None,
) -> AnnIndex:
    """annoy ``load`` (annoylib.h:1167-1222): read the stored model +
    artifacts, validating the config hash — passing ``expected`` asserts
    the stored index was built under exactly that config (the geometry
    check; a mismatch raises, annoylib.h:1185-1188)."""
    _check_pending(root)
    meta = _read_meta(root)
    cfg = AnnIndexConfig.from_json(json.dumps(meta["config"]))
    if cfg.config_hash() != meta["config_hash"]:
        raise ValueError(f"corrupt index meta under {root}")
    if expected is not None:
        # dim is inferred at build; an expectation with dim=0 asserts every
        # OTHER knob (the caller did not know the dimension up front).
        # n_trees=-1 (auto-size) is likewise resolved at build time, so the
        # sentinel in the expectation must be resolved the same way before
        # the hashes can match (ADVICE r5).
        exp = expected if expected.dim else replace(expected, dim=cfg.dim)
        if exp.n_trees == -1 and cfg.n_trees != -1:
            exp = replace(exp, n_trees=cfg.n_trees)
        if exp.config_hash() != cfg.config_hash():
            raise ValueError(
                f"index at {root} was built with config {cfg.config_hash()} "
                f"but {exp.config_hash()} was requested — refusing to "
                "query with mixed semantics (annoy load-validation analog)"
            )
    with np.load(Path(root) / _MODEL_STAGE / _NPZ) as z:
        arrays = {k: z[k] for k in z.files}
    model = AnnModel(cfg, arrays)
    store = CheckpointStore(root, cfg)
    salts: dict[int, int] = {}
    if meta.get("has_oversized", True):
        # tiny by construction; collected once per loaded index, never
        # per query (and no job at all in the common no-oversized case)
        salts = _salt_map(
            _oversized(_read_artifact(spark, store, "counts"), cfg.bucket_cap)
        )
    return AnnIndex(
        model,
        _read_artifact(spark, store, "vectors"),
        _read_artifact(spark, store, "buckets"),
        salts,
        spark=spark,
        root=root,
        n_items=meta.get("n_items"),
    )


def repair_index(spark: SparkSession, root: str) -> "AnnIndex":
    """Resolve a build, append or compaction that crashed mid-flight (the
    pending marker is present) and load the index. A marker that records
    its publish is completed forward — the record carries the config,
    n_items, has_oversized and the retired files, so this runs no Spark
    job before the load; any earlier marker means nothing live was
    touched, and staging + marker are dropped. Either way the index
    afterwards loads clean, as the old index or as the new one and never
    a mix; a rolled-back batch is simply re-appended by the caller or the
    stream replay. Without a marker this is load_index."""
    _resolve_pending(spark, Path(root))
    return load_index(spark, root)


def append_index(
    spark: SparkSession,
    root: str,
    items: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_ids: bool = True,
) -> AnnIndex:
    """Load the persisted index at ``root`` and append ``items`` to it
    (annoy's unbuild -> add_item -> build, annoylib.h:1080-1091) — see
    AnnIndex.append for the frozen-router semantics."""
    return load_index(spark, root).append(
        items, id_col=id_col, vec_col=vec_col, check_ids=check_ids
    )


# target on-disk bytes per compacted parquet file — sized so one file is
# one comfortable scan task (mirrors spark.sql.files.maxPartitionBytes'
# 128MB default with headroom for parquet expansion on read)
_COMPACT_TARGET_BYTES = 96 << 20
# parallelism floor: a small index compacted to ONE file scans as ONE
# task (one row group), serializing the serving scan — keep at least
# defaultParallelism files as long as each stays above this size
_COMPACT_MIN_BYTES = 4 << 20


def _compact_parts(n_bytes: int, parallelism: int) -> int:
    """File count for a compacted artifact: bytes/96MB at scale, floored
    at min(parallelism, bytes/4MB) so small artifacts still scan in
    parallel without degenerating back into a small-file mess (measured:
    a 100k-item index compacted to 1 file served SLOWER than its 992
    pre-compact files — one row group is one scan task)."""
    import math

    return max(
        1,
        math.ceil(n_bytes / _COMPACT_TARGET_BYTES),
        min(parallelism, math.ceil(n_bytes / _COMPACT_MIN_BYTES)),
    )


def compact_index(spark: SparkSession, root: str) -> AnnIndex:
    """Rewrite the persisted index as ONE consolidated snapshot — the
    maintenance op the append-only format needs. Every ``append`` /
    streaming-ingest batch adds parquet files to the vectors/buckets
    artifacts and a count-DELTA file to counts; after months of daily
    ingest the index is thousands of small files and a load must sum a
    long delta history. ``compact`` rewrites each artifact to its target
    file count (sized by rows x row-width against a 96MB/file budget),
    clusters bucket rows BY bucket (sorted within partitions, so the
    query-time equi-join reads runs of identical keys — better parquet
    RLE + row-group pruning), and collapses the count deltas to exactly
    one row per bucket. Query results are bit-identical before/after:
    salts re-derive from the same summed counts, the router is untouched.

    Nothing is recounted: n_items and has_oversized come from the meta
    (compaction changes neither), the deltas are collapsed on the driver
    from one read of the counts artifact (summed as load_index sums
    them), and their sum sizes the bucket files — two shuffle rewrites
    and one fetch in all.

    The annoy analog: ``save`` writes the built forest as one contiguous
    mmap-able file (/root/reference/src/annoylib.h:1093-1127); compact is
    the distributed re-materialization of that single-artifact shape. On
    Iceberg this is `CALL rewrite_data_files` on the three tables.

    Crash-safe through the same staged commit as build and append: the
    rewrite is staged under the pending marker, and the publish moves the
    new files in and retires every file it read; ``load_index`` refuses a
    torn compaction and ``repair_index`` completes a recorded publish or
    rolls back (the live index was never touched). The marker protocol
    assumes ONE writer per index root at a time (the Iceberg store
    upgrades this to real optimistic-concurrency commits). Concurrent
    READERS must re-open (load_index) after a compact on the parquet
    store: a loaded AnnIndex holds Spark file listings over the retired
    part files, which the publish deletes, so its next query fails loudly
    with FileNotFoundException rather than answering from mixed
    artifacts. Only the Iceberg store's snapshot isolation gives true
    read-through-compact (readers pinned to the old snapshot)."""
    import pyarrow as pa

    _check_pending(root)
    meta = _read_meta(root)
    cfg = AnnIndexConfig.from_json(json.dumps(meta["config"]))
    store = CheckpointStore(root, cfg)
    out = Path(root)
    retire = _live_files(out)
    staging = _begin(out, "compaction")
    try:
        counts = spark.read.schema(_COUNTS_SCHEMA).parquet(
            str(out / "counts")
        ).toArrow()
        bucket, gsize = _summed(
            counts["bucket"].to_numpy(), counts["gsize"].to_numpy()
        )
        # row widths: vectors carry the (possibly MIPS-augmented) double
        # vector + id; bucket rows are two longs (parquet compresses the
        # sorted bucket column well below this — the estimate is an upper
        # bound, erring toward more, smaller files)
        par = spark.sparkContext.defaultParallelism
        vparts = _compact_parts(meta["n_items"] * (cfg.dim * 8 + 24), par)
        bparts = _compact_parts(int(gsize.sum()) * 16, par)
        _read_artifact(spark, store, "vectors").repartition(
            vparts, "nid"
        ).sortWithinPartitions("nid").write.parquet(str(staging / "vectors"))
        _read_artifact(spark, store, "buckets").repartition(
            bparts, "bucket"
        ).sortWithinPartitions("bucket", "nid").write.parquet(
            str(staging / "buckets")
        )
        _stage_table(
            staging, "counts", pa.table({"bucket": bucket, "gsize": gsize})
        )
    except BaseException:
        # the publish is not recorded yet: an ordinary failed job rolls
        # back instead of bricking the index behind the marker
        _rollback(out)
        raise
    _commit(
        spark, out, "compaction", cfg, meta["n_items"],
        meta["has_oversized"], retire,
    )
    return load_index(spark, root)


def validate_index(spark: SparkSession, root: str) -> dict:
    """fsck for a persisted index: recompute the cross-artifact invariants
    from the stored relations and report violations. The staged commit
    makes OUR writes all-or-repairable, but it cannot see
    external damage — a data file deleted by a retention job, a partial
    copy between stores, a hand-edited counts table. Annoy's analog is
    the load-time ``size % _s`` geometry check (annoylib.h:1185-1188);
    these are the relational equivalents:

    - ``n_items`` in meta == rows in the vectors relation;
    - summed counts per bucket == a fresh recount of the bucket rows
      (stale counts silently mis-derive the skew salts);
    - no bucket row references a missing vector (un-rankable candidate);
    - no stored vector is absent from every bucket (unfindable item).

    Returns ``{"ok": bool, "n_items": int, "problems": [str, ...]}`` and
    never raises on inconsistency — callers decide whether to rebuild.
    One pass each over buckets/vectors (aggregation-only jobs); run it as
    ``submit_index fsck`` after any out-of-band store surgery."""
    _check_pending(root)
    meta = _read_meta(root)
    cfg = AnnIndexConfig.from_json(json.dumps(meta["config"]))
    store = CheckpointStore(root, cfg)
    vectors = _read_artifact(spark, store, "vectors")
    buckets = _read_artifact(spark, store, "buckets")
    counts = _read_artifact(spark, store, "counts")
    problems: list[str] = []

    n_vec = vectors.count()
    n_meta = meta.get("n_items")
    if n_meta is not None and int(n_meta) != n_vec:
        problems.append(
            f"meta n_items={n_meta} but vectors relation has {n_vec} rows"
        )

    stored = counts.groupBy("bucket").agg(F.sum("gsize").alias("stored"))
    fresh = _bucket_counts(buckets).withColumnRenamed("gsize", "fresh")
    bad_counts = (
        stored.join(fresh, "bucket", "full_outer")
        .where(
            F.coalesce("stored", F.lit(0)) != F.coalesce("fresh", F.lit(0))
        )
        .count()
    )
    if bad_counts:
        problems.append(
            f"{bad_counts} buckets where stored counts != recounted bucket "
            "rows (skew salts would mis-derive)"
        )

    orphan = (
        buckets.join(vectors.select("nid"), "nid", "left_anti").count()
    )
    if orphan:
        problems.append(
            f"{orphan} bucket rows reference ids with no stored vector "
            "(candidates that cannot be re-ranked)"
        )

    unfindable = (
        vectors.select("nid")
        .join(buckets.select("nid").distinct(), "nid", "left_anti")
        .count()
    )
    if unfindable:
        problems.append(
            f"{unfindable} stored vectors appear in no bucket "
            "(items no query can ever find)"
        )

    return {"ok": not problems, "n_items": n_vec, "problems": problems}


def knn_by_vector_approx(
    items: DataFrame,
    queries: DataFrame,
    cfg: AnnIndexConfig,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> DataFrame:
    """Ephemeral by-vector path (no persistence): train + route + query in
    one plan — the ``queries=`` backend for knn_forest/knn_ivf/knn_lsh."""
    cfg = _resolve_cfg(cfg, items, vec_col, id_col)
    model = AnnModel.train(items, cfg, id_col, vec_col)
    routed = _routed_items(items, model, id_col, vec_col)
    vectors = routed.select("nid", "v")
    # bucket rows are unsalted: the salt derives from the counts below
    bucketed = routed.select(F.explode("keys").alias("bucket"), "nid")
    # the oversized relation is tiny and has two consumers (item salting
    # + query replication): collect it once, both read the local relation
    salts = _salt_map(_oversized(_bucket_counts(bucketed), cfg.bucket_cap))
    sizes = _sizes_relation(items.sparkSession, salts)
    assign = _salted_assign(bucketed, sizes, bool(salts))
    return _query_plan(
        queries, vectors, assign, sizes, salts, model, k, id_col, vec_col,
        spill_eps,
    )


def knn_all_items(
    items: DataFrame,
    cfg: AnnIndexConfig,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> DataFrame:
    """Ephemeral all-items path — get_nns_by_item for EVERY item in one
    plan (annoylib.h:1228-1232), self excluded: (qid, nid, rank,
    distance). The no-``queries`` backend of knn_forest/knn_ivf/knn_lsh,
    on the same router, stored-vector projection and metric as the
    persisted index.

    Every item is routed once, with the QUERY-side knobs (forest
    spill_eps, IVF nprobe), since every item is also a query; only 'dot'
    routes items and queries differently (the MIPS augmentations), so it
    adds the item-side keys to the same pass.

    Every join side reads the routed items, so they are materialized
    once (the routing UDF runs once). Forest/LSH salt both sides by their
    own bucket counts (_salted: a mega-bucket costs O(g * cap), not
    O(g^2)) and answer through _join_plan, the index's candidate join:
    self pairs dropped, narrow (qid, nid) dedup before the vectors are
    re-attached, so the distance runs once per distinct pair. IVF joins
    each item's cell (its first probe), _salted_by the cell counts, with
    every row's probes _replicated across the cell's salts: no pair is
    lost and each matches exactly once, so the vectors ride that join
    and there is nothing to dedup."""
    cfg = _resolve_cfg(cfg, items, vec_col, id_col)
    model = AnnModel.train(items, cfg, id_col, vec_col)
    cols = [
        F.col(id_col).alias("id"),
        _stored_vec(cfg, vec_col).alias("v"),
        model.keys_col(vec_col, query_side=True, spill_eps=spill_eps)
        .alias("keys"),
    ]
    ikeys = "keys"
    if cfg.metric == "dot":
        ikeys = "ikeys"
        cols.append(model.keys_col(vec_col, query_side=False).alias(ikeys))
    base = items.select(*cols).localCheckpoint(eager=False)

    def routed(bucket: F.Column, id_as: str, *more: F.Column) -> DataFrame:
        return base.select(
            bucket.alias("bucket"), F.col("id").alias(id_as), *more
        )

    if cfg.kind == "ivf":
        cells = routed(F.element_at(ikeys, 1), "nid", F.col("v").alias("nv"))
        sizes = _oversized(_bucket_counts(cells), cfg.bucket_cap)
        probes = _replicated(
            routed(F.explode("keys"), "qid", F.col("v").alias("qv")),
            sizes, True,
        )
        cand = probes.join(_salted_by(cells, sizes), ["bucket", "salt"])
        scored = cand.where(F.col("qid") != F.col("nid")).select(
            "qid", "nid", _distance(cfg, "qv", "nv").alias("distance")
        )
        return _top_k(scored, k)
    qroutes = _salted(routed(F.explode("keys"), "qid"), cfg.bucket_cap)
    assign = (
        qroutes.withColumnRenamed("qid", "nid") if ikeys == "keys"
        else _salted(routed(F.explode(ikeys), "nid"), cfg.bucket_cap)
    )
    return _join_plan(
        qroutes, base.select(F.col("id").alias("qid"), F.col("v").alias("qv")),
        assign, base.select(F.col("id").alias("nid"), "v"), cfg, k,
        drop_self=True,
    )
