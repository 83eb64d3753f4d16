"""Streaming ITEM ingest into a persisted ANN index — the item-side twin
of ann_query_stream.

Annoy reopens a built index for more items via unbuild -> add_item ->
build (/root/reference/src/annoylib.h:1080-1091; test/index_test.py:234-245
pins the allowed transitions). The daily-growing-corpus shape of that
lifecycle is a stream: new item vectors land as files (in production:
Kafka/Iceberg ingestion) and each micro-batch is APPENDED to the stored
index — routed with the FROZEN stored router (same trees/centroids/planes,
the set_seed contract keeps old answers stable), appended to the
vectors/buckets artifacts, with only the per-bucket count DELTA written
(see sources/ann_index.py module doc for the format-2 layout).

Restart safety: Structured Streaming's checkpoint makes the SOURCE
exactly-once, but foreachBatch can re-run the last batch after a crash.
Appends are not idempotent (they add rows), so a per-checkpoint ledger
file under the index root records the last applied batch id and replays
are skipped. The ledger key includes the checkpoint's QUERY ID (read
from the checkpoint dir's metadata file): a deleted-and-recreated
checkpoint dir restarts batch ids at 0 under a FRESH query id, so the
new run's early batches are never mistaken for already-applied replays
of the old run — re-delivered rows instead fail loudly on the stored-id
collision check (check_ids). A crash inside an append or a
compact_every pass leaves the index's pending commit marker; stream
start repairs it (repair_index: a recorded publish is completed, an
unrecorded one rolled back), after which the ledger decides —
completed-but-unledgered replays collide loudly, rolled-back batches
replay cleanly. On Iceberg the artifact appends and the ledger
update collapse into one transactional snapshot commit.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from annoy_spark.sources.ann_index import (
    AnnIndex,
    compact_index,
    repair_index,
)

ITEM_SCHEMA = "vec_id long, embedding array<double>"


def ann_item_stream(
    spark: SparkSession,
    index_root: str,
    input_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    item_schema: str = ITEM_SCHEMA,
    available_now: bool = True,
    check_ids: bool = True,
    compact_every: int = 0,
) -> StreamingQuery:
    """Append every item vector landing under input_dir to the index
    persisted at index_root (for hamming indexes pass an array<long>
    item_schema).

    compact_every=N (default off) runs compact_index after every Nth
    applied batch — in-line maintenance for a long-running ingest whose
    appends would otherwise scatter the index across thousands of small
    delta files (see compact_index). Safe here because foreachBatch
    serializes batches: no append runs concurrently with the compact,
    and the ledger/batch protocol is untouched (compaction never changes
    logical content). A crash inside the compact leaves the commit marker;
    the next stream start repairs it below."""
    # a crash inside an append or a compaction: complete or roll back the
    # commit before ingesting more (see module doc); a plain load otherwise
    idx: AnnIndex = repair_index(spark, index_root)
    ledger = Path(index_root) / "_ITEM_STREAM_BATCHES.json"

    def _ck_key() -> str:
        # the checkpoint metadata file holds the streaming query id,
        # written at first start and stable across restarts of the SAME
        # checkpoint; a recreated checkpoint dir mints a new id, giving
        # its batch-id sequence a fresh ledger slot
        run = ""
        meta = Path(checkpoint_dir) / "metadata"
        if meta.exists():
            run = json.loads(meta.read_text()).get("id", "")
        return hashlib.sha256(
            f"{checkpoint_dir}\n{run}".encode()
        ).hexdigest()[:16]

    def _applied(key: str) -> int:
        if ledger.exists():
            return int(json.loads(ledger.read_text()).get(key, -1))
        return -1

    def ingest(batch: DataFrame, batch_id: int) -> None:
        nonlocal idx
        key = _ck_key()
        if batch_id <= _applied(key):
            return  # replayed batch whose append already committed
        if batch.isEmpty():
            return
        idx.append(batch, id_col=id_col, vec_col=vec_col,
                   check_ids=check_ids)
        data = json.loads(ledger.read_text()) if ledger.exists() else {}
        data[key] = batch_id
        ledger.write_text(json.dumps(data, sort_keys=True))
        # maintenance AFTER the ledger commit: a compact crash never
        # loses an applied batch, and a replayed (skipped) batch never
        # re-triggers it
        if compact_every and (batch_id + 1) % compact_every == 0:
            idx = compact_index(spark, index_root)

    stream = spark.readStream.schema(item_schema).parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
