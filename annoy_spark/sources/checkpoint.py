"""Config-validated parquet checkpoints + lineage — the save/load analog.

Annoy persists the built index as a raw file and validates geometry on load
(`size % _s == 0`, /root/reference/src/annoylib.h:1185-1188); reopening with
a different metric/f is undefined. Here every stage writes a parquet
snapshot stamped with the config hash; resume reads it back only if the
hash matches, and a mismatch fails loudly (never silently recomputes with
mixed semantics).

On a production cluster these writes target Iceberg tables
(`df.writeTo(tbl).createOrReplace()` + snapshot ids); this store degrades
to plain parquet directories because the sandbox has no Iceberg catalog —
the resume/validation protocol is identical. The Iceberg data plane is
wired for real in sources/iceberg_store.py (same API, catalog-probed,
used when a configured catalog is available).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from annoy_spark.config import DedupConfig

_META = "_ANNOY_SPARK_META.json"


def write_json_atomic(path: Path, obj: dict) -> None:
    """Write ``obj`` as JSON through a temp file next to ``path`` that is
    fsynced and renamed into place: a crash mid-write leaves the old file
    or none, never truncated JSON."""
    tmp = path.parent / f".{path.name}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, sort_keys=True)
            # durable before the rename: after an OS crash the rename
            # must not survive without the bytes it points at
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        tmp.unlink(missing_ok=True)


class CheckpointStore:
    def __init__(self, root: str, cfg: DedupConfig):
        self.root = Path(root)
        self.cfg = cfg
        self.root.mkdir(parents=True, exist_ok=True)

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def exists(self, stage: str) -> bool:
        d = self._dir(stage)
        meta = d / _META
        if not meta.exists() or not (d / "_SUCCESS").exists():
            return False
        info = json.loads(meta.read_text())
        return info.get("config_hash") == self.cfg.config_hash()

    def validate_or_raise(self, stage: str) -> None:
        meta = self._dir(stage) / _META
        if meta.exists():
            info = json.loads(meta.read_text())
            if info.get("config_hash") != self.cfg.config_hash():
                raise ValueError(
                    f"checkpoint '{stage}' was produced with config "
                    f"{info.get('config_hash')} but current config is "
                    f"{self.cfg.config_hash()} — refusing to resume "
                    f"(annoy load-validation analog)"
                )

    def write(self, stage: str, df: DataFrame, **extra) -> None:
        df.write.mode("overwrite").parquet(str(self._dir(stage)))
        self.restamp(stage, **extra)

    def append(self, stage: str, df: DataFrame, **extra) -> None:
        """Append rows to an existing stage (incremental index growth —
        annoy's unbuild -> add_item -> build reopening). The stage meta is
        re-stamped with the SAME config hash: appends never change
        semantics, only extent. On Iceberg this is `df.writeTo(tbl).
        append()` (one new snapshot); the parquet degradation appends
        files to the stage directory."""
        self.validate_or_raise(stage)
        df.write.mode("append").parquet(str(self._dir(stage)))
        self.restamp(stage, **extra)

    def restamp(self, stage: str, **extra) -> None:
        """Rewrite a stage's meta under the current config hash without
        touching its data files (used when data files are PUBLISHED into
        the stage dir by rename — the ANN index's staged commit).

        The meta goes to a temp file in the stage dir and is renamed into
        place, so a crash mid-write leaves either the old meta or none —
        never truncated JSON that would break ``exists()``."""
        write_json_atomic(self._dir(stage) / _META, {
            "stage": stage,
            "config_hash": self.cfg.config_hash(),
            "config": json.loads(self.cfg.to_json()),
            "written_at": time.time(),
            **extra,
        })

    def read(self, spark: SparkSession, stage: str, schema=None) -> DataFrame:
        """The stage's rows; with a known ``schema`` (a StructType or DDL
        string), reading runs no schema-inference job."""
        self.validate_or_raise(stage)
        if not self.exists(stage):
            raise FileNotFoundError(f"no valid checkpoint for stage '{stage}'")
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(str(self._dir(stage)))

    def invalidate(self, stage: str) -> None:
        meta = self._dir(stage) / _META
        if meta.exists():
            meta.unlink()

    # --- lineage ---------------------------------------------------------
    def log_lineage(self, spark: SparkSession, row: dict) -> None:
        """Append one metrics row (stage, counts, durations, config hash).

        Written driver-side with pyarrow: the row is a handful of scalars
        already on the driver, and the old ``spark.createDataFrame(...).
        write`` path cost two Spark jobs per pipeline stage for it (pure
        per-stage overhead at bench scale, guide §1.2 step 2). The file is
        ordinary parquet; ``lineage()`` reads it back unchanged."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        payload = {
            "config_hash": self.cfg.config_hash(),
            "ts": float(time.time()),
            **{k: (json.dumps(v) if isinstance(v, (dict, list)) else v)
               for k, v in row.items()},
        }
        table = pa.table(
            {
                "stage": [str(payload.get("stage", "?"))],
                "duration_s": pa.array(
                    [float(payload.get("duration_s", 0.0))], pa.float64()
                ),
                "n_rows": pa.array(
                    [int(payload.get("n_rows", -1))], pa.int64()
                ),
                "config_hash": [payload["config_hash"]],
                "ts": pa.array([payload["ts"]], pa.float64()),
                "detail": [json.dumps(payload, sort_keys=True)],
            }
        )
        d = self.root / "lineage"
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            table,
            d / f"part-{time.time_ns():020d}-"
                f"{payload.get('stage', 'x')}.parquet",
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.root / "lineage"))
