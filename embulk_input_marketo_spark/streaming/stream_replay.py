"""Structured Streaming replay: the changelog tail as a stream.

The reference's pull loop IS a hand-rolled micro-batch stream (SURVEY.md
§2.7): page-token/offset cursors ≡ source offsets, `Thread.sleep` polling ≡
trigger, ConfigDiff ≡ checkpoint. Here it's the real thing:

    readStream(changelog dir) → foreachBatch(micro-batch):
        LWW dedup → manifest-gated MERGE → atomic checkpoint

Exactly-once composes from BOTH layers: Structured Streaming's own
checkpoint gives at-least-once micro-batch delivery, and the lake's
batch_id manifest gate makes re-delivered micro-batches no-ops — the same
idempotence that guards the batch path.

``trigger(availableNow=True)`` drains the backlog and stops — the scheduled
incremental-run model of the reference, without in-engine sleeps
(``MarketoRestClient.java:294-326`` polls with Thread.sleep)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_input_marketo_spark.lake.merge import merge_batch
from embulk_input_marketo_spark.lake.table import LakeTable
from embulk_input_marketo_spark.replay import project_to_schema


def _stream_instance_id(checkpoint_dir: str) -> str:
    """Nonce identifying this checkpoint lifetime: minted on first use,
    reused on resume (same dir contents), re-minted if the dir is wiped —
    matching exactly when Structured Streaming restarts epoch numbering."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    sid_file = os.path.join(checkpoint_dir, "_engine_stream_id")
    if os.path.exists(sid_file):
        with open(sid_file) as f:
            return f.read().strip()
    sid = uuid.uuid4().hex[:16]
    with open(sid_file, "w") as f:
        f.write(sid)
    return sid


def stream_replay(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the streaming replay; returns the StreamingQuery."""
    log_schema = spark.read.parquet(changelog_dir).schema
    # stream identity: epoch ids restart at 0 for every fresh Structured
    # Streaming checkpoint, so the manifest gate must be scoped by the
    # stream INSTANCE — a nonce minted when the checkpoint dir is first
    # used (resume reuses it; deleting/recreating the dir mints a new one,
    # because the restarted stream renumbers epochs from 0). Round 1 keyed
    # on the bare epoch id, silently swallowing any second stream into the
    # same table (data loss).
    stream_id = _stream_instance_id(checkpoint_dir)
    reader = spark.readStream.schema(log_schema)
    if max_files_per_trigger:
        # batch-size cap — the reference's rate-limit / batch_size analogue
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(changelog_dir)

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        proj = project_to_schema(batch_df, table.manifest())
        # channel-gated idempotence: epochs are monotone within a stream, so
        # the manifest keeps ONE watermark per stream (O(1) metadata however
        # many epochs run) and re-delivered epochs no-op; distinct streams
        # are distinct channels and never collide (round-1 data-loss bug).
        # Raw append (LSM-style) — compaction/read-time reduce own the dedup.
        merge_batch(
            spark,
            table,
            proj,
            batch_id=f"stream-{stream_id}-epoch-{epoch_id}",
            channel=(f"stream-{stream_id}", int(epoch_id)),
            lineage={
                "epoch": epoch_id,
                "stream": stream_id,
                "source": changelog_dir,
            },
        )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_wal_replay(
    spark: SparkSession,
    wal_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    row_schema,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Tail a directory of WAL/Debezium envelope files (JSON lines — the
    file-drop shape of a Kafka-connect S3 sink) straight into the lake:
    readStream.text → explicit-schema envelope parse → channel-gated merge.
    The full wire-to-table path under Structured Streaming's exactly-once
    (source offsets in the checkpoint, epoch watermark in the manifest —
    re-delivered epochs no-op, exactly like :func:`stream_replay`).

    Quarantined lines (broken JSON, unknown ops, missing images — see
    sources/debezium.parse_debezium) are APPENDED per epoch under
    ``<checkpoint_dir>/quarantine`` with the epoch id, so ingest health is
    a table you can aggregate, not a log line. Returns the StreamingQuery.
    """
    from embulk_input_marketo_spark.sources.debezium import parse_debezium

    stream_id = _stream_instance_id(checkpoint_dir)
    quarantine_dir = os.path.join(checkpoint_dir, "quarantine")
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.text(wal_dir).withColumnRenamed("value", "value")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        good, quarantine = parse_debezium(batch_df, row_schema)
        (
            quarantine.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(quarantine_dir)
        )
        merge_batch(
            spark,
            table,
            project_to_schema(good, table.manifest()),
            batch_id=f"wal-{stream_id}-epoch-{epoch_id}",
            channel=(f"wal-{stream_id}", int(epoch_id)),
            lineage={
                "epoch": epoch_id,
                "stream": stream_id,
                "source": wal_dir,
                "format": "debezium",
            },
        )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
