"""The benchmark's workloads, each driven through the package's public API.

A workload prepares its input from the seed (set-up), runs one timed
operation per ``op`` call, checks every operation's output, and — in the
traced run — wraps the calls into each layer in spans and reports the
per-layer metrics. ``Run`` holds what the harness shares with a workload.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import annoy_spark.plans.pipeline as pipeline_mod
import annoy_spark.sources.ann_index as ann_mod
from annoy_spark import oracle
from annoy_spark.config import DedupConfig
from annoy_spark.corpus import CORPUS_COLS, generate_corpus_pdf
from annoy_spark.operators.sign import file_id_col
from annoy_spark.plans.pipeline import run_pipeline
from annoy_spark.sources.ann_index import (
    AnnIndexConfig,
    build_index,
    load_index,
)
from annoy_spark.sources.checkpoint import CheckpointStore

from spans import Tracer, event_log_file, layer_stats
import skewed

#: pipeline stage -> layer name used in spans and per-layer metrics
STAGE_LAYER = {
    "signatures": "sign",
    "candidate_edges": "band",
    "verified_edges": "verify",
    "substring_edges": "substring",
    "clusters": "cluster",
}
DEDUP_LAYERS = tuple(STAGE_LAYER.values())


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    cpus: int
    tiny: bool
    tracer: Tracer | None = None
    event_dir: Path | None = None
    report: dict = field(default_factory=dict)   # name -> (value, unit)


@dataclass
class Op:
    kind: str
    seconds: float
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)


def _span(tracer: Tracer | None, name: str, **kw):
    """A span when the operation is traced, else nothing."""
    return tracer.span(name, **kw) if tracer else nullcontext()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(name: str, xs: list[float], unit: str, report: dict) -> None:
    """Median plus the highest percentile with at least ten samples beyond
    it (p90 needs 100 samples); a missing tail is reported as such."""
    report[f"{name}_p50_s"] = (_median(xs), unit)
    report[f"{name}_samples"] = (len(xs), "count")
    for q in (99, 90, 75):
        if len(xs) * (100 - q) / 100 >= 10:
            report[f"{name}_p{q}_s"] = (
                statistics.quantiles(xs, n=100)[q - 1], unit)
            return
    report[f"{name}_p90_s"] = (
        "n/a: needs 100 samples for ten beyond p90", unit)


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

class DedupSkewed:
    """``run_pipeline`` over template families (``perfbench.skewed``, 60%
    of the files) beside ``annoy_spark.corpus``'s default planted mix (40%).
    One operation is one pipeline run from scratch to materialised
    clusters. The first run is timed in a fresh session, as every
    ``spark-submit`` of the pipeline (``annoy_spark/submit.py``) pays its
    JVM and Python-worker warm-up; a warm-up run in set-up would add a
    whole pipeline run to every benchmark run.

    ``band_group_cap`` is scaled to the input size: at 2000 files the
    largest family passes 250 and the rest pass ``pair_enum_cap``, so all
    three enumeration tiers run (the default cap of 1000 would need three
    times the files and run time)."""

    name = "dedup_skewed"
    cfg = DedupConfig(band_group_cap=250)
    #: spans wrap pipeline stages, so tracing starts after the untraced runs
    trace_setup = False
    traced_ops = 1
    #: the timed runs are cold, so tracing overhead is measured against one
    #: more untraced run
    warm_reference = True

    def prepare(self, run: Run) -> None:
        spark = run.spark
        self.n_files = 500 if run.tiny else 2000
        n_mix = int(self.n_files * (1 - skewed.COPY_SHARE))
        t0 = time.perf_counter()
        mix = generate_corpus_pdf(n_mix, seed=run.seed)
        copies = skewed.generate_pdf(self.n_files - n_mix, run.seed,
                                     first_id=n_mix)
        self.labels = pd.concat([mix, copies], ignore_index=True)
        path = str(run.work / "input")
        spark.createDataFrame(self.labels[CORPUS_COLS]).write.parquet(path)
        self.corpus = spark.read.parquet(path)
        run.report["input_s"] = (time.perf_counter() - t0, "s")
        self.expected = None
        self.digest = None
        self.last_out = None

    def op(self, run: Run, i: int, traced: bool = False) -> Op:
        out = run.work / f"op{i}"
        t0 = time.perf_counter()
        with _span(run.tracer if traced else None, "pipeline", root=True):
            res = run_pipeline(run.spark, self.corpus, self.cfg, str(out),
                               resume=False)
        op = Op("pipeline", time.perf_counter() - t0)
        self._check(run, res, op)
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out, self.last_res = out, res
        return op

    def enough(self, ops: list[Op]) -> bool:
        return True

    # --- correctness ------------------------------------------------------
    def _check(self, run: Run, res, op: Op) -> None:
        digest = res.clusters.agg(
            F.expr("bit_xor(xxhash64(file_id, cluster_id))").alias("d")
        ).first()["d"]
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            op.problems.append(f"cluster digest {digest} != {self.digest}")
        clusters = dict(res.clusters.select("file_id", "cluster_id")
                        .toLocalIterator())
        if len(clusters) != self.n_files:
            op.problems.append(
                f"{len(clusters)} files clustered, expected {self.n_files}")
        if self.expected is None:
            self.expected = self.planted(run)
        groups, pairs, exact_groups = self.expected
        hit, total = _group_pairs(groups, clusters)
        ehit, etotal = _group_pairs(exact_groups, clusters)
        phit = sum(1 for u, v in pairs
                   if clusters.get(u) is not None
                   and clusters.get(u) == clusters.get(v))
        recall = (hit + ehit + phit) / max(total + etotal + len(pairs), 1)
        exact_recall = ehit / etotal if etotal else 1.0
        op.detail.update(recall=recall, exact_recall=exact_recall,
                         planted_pairs=total + etotal + len(pairs),
                         exact_pairs=etotal)
        if recall < 0.99:
            op.problems.append(f"planted-pair recall {recall:.4f} < 0.99")
        if exact_recall < 1.0:
            op.problems.append(f"exact-pair recall {exact_recall:.4f} < 1")

    def planted(self, run: Run):
        """(groups, pairs, exact_groups): every pair inside a group and every
        listed pair is a planted duplicate the pipeline must co-cluster.

        Exact: byte-identical files. Near: a near-class file and its
        unique-class base when their Jaccard similarity reaches
        ``jaccard_s``. Families: copies of one template variant whose
        Jaccard similarity to the variant is at least 1 - (1 - s) / 2;
        Jaccard distance is a metric, so every two of them are within
        1 - s of each other."""
        rows = self.labels
        fid = dict(run.spark.read.parquet(str(run.work / "input")).select(
            "path", file_id_col()).toLocalIterator())
        fid = [fid[p] for p in rows["path"]]
        k, s = self.cfg.shingle_k, self.cfg.jaccard_s
        shingles = [oracle.shingle_set(c, k) for c in rows["content"]]
        by_row = {int(r): i for i, r in enumerate(rows["row_id"])}
        cls = rows["dup_class"].tolist()
        pairs = []
        for i, c in enumerate(cls):
            b = by_row.get(int(rows["base_id"][i]))
            if (c == "near" and b is not None and cls[b] == "unique"
                    and oracle.jaccard(shingles[i], shingles[b]) >= s):
                pairs.append((fid[i], fid[b]))
        words = skewed.vocab(run.seed)
        near = 1 - (1 - s) / 2
        base: dict[tuple[int, int], frozenset] = {}
        groups: dict[tuple[int, int], list[int]] = {}
        for i, (t, v) in enumerate(zip(rows["template"], rows["variant"])):
            if cls[i] != "template":
                continue
            key = (int(t), int(v))
            if key not in base:
                base[key] = oracle.shingle_set(skewed.render(
                    skewed.template_tokens(run.seed, *key, words)), k)
            if oracle.jaccard(shingles[i], base[key]) >= near:
                groups.setdefault(key, []).append(fid[i])
        by_sha: dict[str, list[int]] = {}
        for f, content in zip(fid, rows["content"]):
            by_sha.setdefault(hashlib.sha256(content.encode()).hexdigest(),
                              []).append(f)
        exact = [g for g in by_sha.values() if len(g) > 1]
        return list(groups.values()), pairs, exact

    # --- metrics ----------------------------------------------------------
    def metrics(self, run: Run, ops: list[Op], setup_s: float) -> dict:
        walls = [o.seconds for o in ops]
        wall = _median(walls)
        first = ops[0].detail
        r = run.report
        r["wall_s"] = (wall, "s")
        r["wall_samples"] = (len(walls), "count")
        r["files_per_s"] = (self.n_files / wall, "1/s")
        r["planted_pair_recall"] = (first.get("recall", 0.0), "ratio")
        r["exact_pair_recall"] = (first.get("exact_recall", 0.0), "ratio")
        r["planted_pairs"] = (first.get("planted_pairs", 0), "count")
        r["exact_pairs"] = (first.get("exact_pairs", 0), "count")
        r["n_files"] = (self.n_files, "count")
        return {"wall_s": wall, "items_per_s": self.n_files / wall,
                "recall": first.get("recall", 0.0)}

    # --- traced run -------------------------------------------------------
    def instrument(self, run: Run) -> None:
        tr = run.tracer
        stage = pipeline_mod._stage

        def traced_stage(store, spark, name, build, metrics, resume):
            with tr.span(STAGE_LAYER[name], group=True):
                return stage(store, spark, name, build, metrics, resume)

        pipeline_mod._stage = traced_stage
        for meth in ("write", "read"):
            orig = getattr(CheckpointStore, meth)
            setattr(CheckpointStore, meth,
                    tr.wrap(orig, f"checkpoint.{meth}"))

    def layer_metrics(self, run: Run, traced: list[Op],
                      untraced: float) -> dict:
        tr, spark = run.tracer, run.spark
        spans = tr.finished()
        root = next(s for s in spans if s["name"] == "pipeline")
        layers = [s for s in spans if s["parent"] == root["id"]]
        m: dict[str, float] = {}
        for lay in DEDUP_LAYERS:
            own = [s for s in layers if s["name"] == lay]
            m[f"{lay}.busy_s"] = sum(s["duration_s"] for s in own)
            m[f"{lay}.self_s"] = sum(s["self_s"] for s in own)
        wall = root["duration_s"]
        m["pipeline.wall_s"] = wall
        m["pipeline.overlap_ratio"] = sum(
            m[f"{lay}.busy_s"] for lay in DEDUP_LAYERS) / wall
        m["pipeline.driver_gap_s"] = root["self_s"]
        m["trace.overhead_s"] = traced[0].seconds - untraced

        # counts, read back from the traced run's checkpoints
        store = CheckpointStore(str(self.last_out), self.cfg)
        res = self.last_res
        m["sign.rows"] = res.metrics["signatures"]["n_rows"]
        cand = store.read(spark, "candidate_edges").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("from_star").alias("star"),
        ).first()
        ver = store.read(spark, "verified_edges").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("kind") == "lsh_rescue", 1).otherwise(0))
            .alias("rescue"),
        ).first()
        m["band.candidates"] = cand["n"]
        m["band.star_edges"] = cand["star"] or 0
        m["band.skipped_groups"] = store.read(spark, "skipped_groups").count()
        m["verify.candidates_in"] = cand["n"]
        m["verify.pass_ratio"] = ver["n"] / cand["n"] if cand["n"] else 0.0
        m["verify.rescue_pairs"] = ver["rescue"] or 0
        sub = store.read(spark, "substring_edges").count()
        m["substring.edges"] = sub
        m["substring.edges_per_busy_s"] = sub / m["substring.busy_s"]

        # Spark task metrics per layer, through each span's job group
        group_layer = {s["group"]: s["name"] for s in layers if s["group"]}
        stats = layer_stats(
            event_log_file(run.event_dir, spark.sparkContext.applicationId),
            group_layer,
        )
        for lay, st in stats.items():
            for key in ("shuffle_write_mb", "spill_mb", "gc_s", "task_skew"):
                m[f"{lay}.{key}"] = st[key]
        m["cluster.jobs"] = stats["cluster"]["jobs"]

        # the checkpoint layer alone: read back and rewrite every stage the
        # traced run persisted (inside the pipeline a write also executes
        # the stage's lazy plan, so its span cannot isolate parquet I/O)
        redo = CheckpointStore(str(run.work / "ckpt_rewrite"), self.cfg)
        m["checkpoint.read_s"] = m["checkpoint.write_s"] = 0.0
        m["checkpoint.bytes"] = 0
        for stage in pipeline_mod.STAGES:
            if not store.exists(stage):
                continue
            t0 = time.perf_counter()
            df = store.read(spark, stage)
            df.count()
            m["checkpoint.read_s"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            redo.write(stage, df)
            m["checkpoint.write_s"] += time.perf_counter() - t0
            m["checkpoint.bytes"] += sum(
                p.stat().st_size
                for p in (self.last_out / stage).iterdir() if p.is_file())
        return m


def _group_pairs(groups, clusters: dict) -> tuple[int, int]:
    """(pairs co-clustered, pairs) over all pairs inside each group."""
    hit = total = 0
    for members in groups:
        g = len(members)
        total += g * (g - 1) // 2
        counts = Counter(clusters.get(f) for f in members)
        hit += sum(c * (c - 1) // 2 for cid, c in counts.items()
                   if cid is not None)
    return hit, total


# --------------------------------------------------------------------------
# ANN serving
# --------------------------------------------------------------------------

class AnnServe:
    """Persisted forest index over a seeded 64-d Gaussian mixture; a closed
    loop with one client sends query batches and, after every few, one
    append batch. Set-up includes building and loading the index."""

    name = "ann_serve"
    #: the index build and load are traced during set-up
    trace_setup = True
    #: one traced round: the query batches and the append that follows them
    traced_ops = 4
    warm_reference = False
    dim, centers, spread = 64, 32, 0.35
    k, batch, append_n, queries_per_append = 10, 500, 250, 3
    recall_floor = 0.90
    icfg = AnnIndexConfig(kind="forest")

    def _vectors(self, seed: int, stream: int, j: int, m: int) -> np.ndarray:
        rng = np.random.default_rng([seed, stream, j])
        return (self.center_xyz[rng.integers(0, self.centers, m)]
                + self.spread * rng.normal(size=(m, self.dim)))

    def _frame(self, spark, ids, x):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": list(x)}),
            "vec_id long, embedding array<double>",
        )

    def prepare(self, run: Run) -> None:
        spark = run.spark
        self.n_base = 400 if run.tiny else 2000
        self.center_xyz = np.random.default_rng([run.seed, 0xCE]).normal(
            size=(self.centers, self.dim))
        x = self._vectors(run.seed, 0xB45E, 0, self.n_base)
        path = str(run.work / "vectors")
        self._frame(spark, np.arange(self.n_base), x).write.parquet(path)
        items = spark.read.parquet(path)
        self.unit = x / np.linalg.norm(x, axis=1, keepdims=True)
        self.root = str(run.work / "index")
        tr = run.tracer
        t0 = time.perf_counter()
        with _span(tr, "ann_index.build", group=True):
            build_index(spark, items, self.root, self.icfg)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with _span(tr, "ann_index.load", group=True):
            self.index = load_index(spark, self.root, expected=self.icfg)
        run.report["index_build_s"] = (build_s, "s")
        run.report["index_load_s"] = (time.perf_counter() - t0, "s")
        self.n_appended = 0
        self.n_queries = 0

    def op(self, run: Run, i: int, traced: bool = False) -> Op:
        tr = run.tracer if traced else None
        if (i + 1) % (self.queries_per_append + 1) == 0:
            return self._append(run, tr)
        return self._query(run, tr)

    def _query(self, run: Run, tr) -> Op:
        q = self._vectors(run.seed, 0x9E7, self.n_queries, self.batch)
        qdf = self._frame(run.spark, np.arange(self.batch), q)
        self.n_queries += 1
        t0 = time.perf_counter()
        with _span(tr, "ann_index.query", group=True):
            rows = self.index.query(qdf, self.k).select("qid", "nid").collect()
        op = Op("query", time.perf_counter() - t0)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["qid"], set()).add(r["nid"])
        qu = q / np.linalg.norm(q, axis=1, keepdims=True)
        exact = np.argpartition(-(qu @ self.unit.T), self.k, axis=1)[:, :self.k]
        hits = sum(len(got.get(j, set()) & set(exact[j].tolist()))
                   for j in range(self.batch))
        recall = hits / (self.batch * self.k)
        op.detail["recall"] = recall
        short = sum(1 for j in range(self.batch)
                    if len(got.get(j, ())) != self.k)
        if short:
            op.problems.append(f"{short} queries without {self.k} neighbours")
        if recall < self.recall_floor:
            op.problems.append(
                f"recall@{self.k} {recall:.4f} < {self.recall_floor}")
        return op

    def _append(self, run: Run, tr) -> Op:
        x = self._vectors(run.seed, 0xADD, self.n_appended, self.append_n)
        start = self.n_base + self.n_appended * self.append_n
        ids = np.arange(start, start + self.append_n)
        adf = self._frame(run.spark, ids, x)
        self.n_appended += 1
        t0 = time.perf_counter()
        with _span(tr, "ann_index.append", group=True):
            self.index.append(adf)
        op = Op("append", time.perf_counter() - t0)
        self.unit = np.vstack(
            [self.unit, x / np.linalg.norm(x, axis=1, keepdims=True)])
        if self.index.n_items() != len(self.unit):
            op.problems.append(
                f"index holds {self.index.n_items()} items, "
                f"expected {len(self.unit)}")
        return op

    def enough(self, ops: list[Op]) -> bool:
        # whole rounds only, so every run has the same query/append mix
        return ops[-1].kind == "append"

    def metrics(self, run: Run, ops: list[Op], setup_s: float) -> dict:
        qs = [o.seconds for o in ops if o.kind == "query"]
        ap = [o.seconds for o in ops if o.kind == "append"]
        recalls = [o.detail["recall"] for o in ops if "recall" in o.detail]
        qps = len(qs) * self.batch / sum(o.seconds for o in ops)
        r = run.report
        _tail("query_batch", qs, "s", r)
        r["queries_per_s"] = (qps, "1/s")
        r["append_batch_p50_s"] = (_median(ap), "s")
        r["append_samples"] = (len(ap), "count")
        r["recall_at_10"] = (statistics.fmean(recalls), "ratio")
        r["n_items"] = (len(self.unit), "count")
        return {"wall_s": _median(qs), "items_per_s": qps,
                "recall": statistics.fmean(recalls)}

    def instrument(self, run: Run) -> None:
        tr = run.tracer
        ann_mod.build_forest = tr.wrap(ann_mod.build_forest, "forest.build")
        train = ann_mod.AnnModel.train.__func__
        ann_mod.AnnModel.train = classmethod(
            tr.wrap(train, "ann_index.train"))

    def layer_metrics(self, run: Run, traced: list[Op],
                      untraced: float) -> dict:
        spans = run.tracer.finished()

        def total(name, key="duration_s"):
            return sum(s[key] for s in spans if s["name"] == name)

        def med(name):
            return _median([s["duration_s"] for s in spans
                            if s["name"] == name])

        files = sum(1 for p in Path(self.root).rglob("*.parquet"))
        return {
            "forest.build_s": total("forest.build"),
            "ann_index.train_s": total("ann_index.train"),
            "ann_index.persist_s": total("ann_index.build", "self_s"),
            "ann_index.load_s": total("ann_index.load"),
            "ann_index.query_s": med("ann_index.query"),
            "ann_index.append_s": med("ann_index.append"),
            "ann_index.files": files,
            "trace.overhead_s": med("ann_index.query") - untraced,
        }
