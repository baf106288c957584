"""Structured Streaming replay: availableNow drain of a changelog directory
through foreachBatch merges; final state equals the batch oracle; epoch
re-delivery is absorbed by the manifest gate."""

import pyspark.sql.functions as F
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
