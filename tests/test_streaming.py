"""Structured Streaming replay: availableNow drain of a changelog directory
through foreachBatch merges; final state equals the batch oracle; epoch
re-delivery is absorbed by the manifest gate."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.functions.compare import assert_same_state
from embulk_input_marketo_spark.lake import LakeTable
from embulk_input_marketo_spark.streaming.stream_replay import stream_replay

N = 6_000


def test_stream_replay_matches_oracle(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    generator.changelog(spark, N, 500, seed=11).write.parquet(log_dir)
    log = spark.read.parquet(log_dir)

    schema = T.StructType(
        [f for f in log.schema.fields if f.name not in ("lsn", "op", "schema_version")]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, n_buckets=8)

    q = stream_replay(
        spark, log_dir, table, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True, max_files_per_trigger=4,
    )
    q.awaitTermination(300)

    expected = generator.expected_final_state(log)
    cols = ["url", "warc_ts", "html", "text", "lang", "text_encoding"]
    assert_same_state(table.read(spark), expected, cols)
    # multiple micro-batches actually ran
    assert table.current_version() >= 1


@pytest.mark.parametrize(
    "changes, col",
    [
        ([{"change": "rename", "old": "value", "new": "score"}], "score"),
        (
            [
                {"change": "drop", "name": "value"},
                {"change": "add", "name": "value", "type": "double"},
            ],
            "value",
        ),
    ],
    ids=["rename", "drop_then_readd"],
)
def test_stream_replay_follows_schema_evolution(spark, tmp_path, changes, col):
    """A stream file written before the schema evolved still carries
    ``value``. After ``rename value → score`` the micro-batch projection
    goes through the rename log, so ``score`` carries the values instead of
    NULL; after ``drop value`` and a re-``add`` of ``value``, the inbound
    ``value`` is the re-added column and keeps its values instead of being
    renamed to the drop tombstone."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, n_buckets=4)
    for ch in changes:  # one schema version each, like a registry would
        table.evolve_schema([ch])
    log_dir = str(tmp_path / "log")
    spark.createDataFrame(
        [(f"u{i}", i, float(i), "I", i) for i in range(20)],
        "url string, sec long, value double, op string, lsn long",
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "value", "op", "lsn"
    ).write.parquet(log_dir)

    q = stream_replay(
        spark, log_dir, table, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = {r.url: r[col] for r in table.read(spark).collect()}
    assert got == {f"u{i}": float(i) for i in range(20)}
