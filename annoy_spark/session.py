"""SparkSession factory with the scale-oriented defaults this engine assumes.

AQE on (runtime skew-join splitting + partition coalescing), Arrow on (all
UDFs are pandas/Arrow vectorized), and a shuffle-partition count sized for the
local harness. On a real cluster these come from spark-submit conf; the
builder only sets what is semantically assumed by the operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """min(16g, half of MemTotal): an undersized host must not be asked
    for a heap it does not have."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(16 << 10, kb // 2048)}m"


def get_spark(
    app_name: str = "annoy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # host-derived defaults; SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate copies the generator's (often huge)
        # array expression into an extra Filter below every explode, so the
        # shingle/band-key transforms were evaluated 2-3x per row (visible
        # in plans/r06/*_before.txt). The rule only prunes rows explode
        # would drop anyway — excluding it is semantics-neutral (guide §7.2
        # duplicated-subtree check).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # big `content` strings: bound Arrow batch memory, the real knob
        # (SURVEY.md §4 — replaces annoy's -march=native build flags)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
