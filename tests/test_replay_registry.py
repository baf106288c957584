"""``replay(registry=...)``: registry changes that take effect mid-window are
applied between slices. For merge-on-read the reconcile must wait for the
in-flight write-ahead commit, then the next slice projects against the
re-read schema; copy-on-write merges inline."""

import glob
import os
import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.functions.compare import assert_same_state
from embulk_input_marketo_spark.lake import LakeTable
from embulk_input_marketo_spark.registry import RegistryEntry, SchemaRegistry
from embulk_input_marketo_spark.replay import replay

N_EVENTS = 6_000
SPAN = 1_500  # slices (-1,1499] (1499,2999] (2999,4499] (4499,5999]
WIDEN_AT = 2_000  # inside slice 2: applied before it, so slice 1 wrote int
ADD_AT = 5_000  # inside slice 4: the slices before it had no such column


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("reglog") / "changelog.parquet")
    (
        generator.changelog(spark, N_EVENTS, 400, seed=5)
        .withColumn("score", F.length("html").cast("long"))
        .write.parquet(p)
    )
    return spark.read.parquet(p)


def _registry():
    return SchemaRegistry([
        RegistryEntry(1, "score", "long", "widen:integer", effective_lsn=WIDEN_AT),
        RegistryEntry(2, "text_encoding", "string", "add", effective_lsn=ADD_AT),
    ])


def _expected(changelog_df):
    """The oracle's final state, with ``text_encoding`` null-padded for the
    events merged before the slice that added it, and the widened score."""
    add_lo = (ADD_AT - 1) // SPAN * SPAN - 1  # lower bound of the adding slice
    padded = changelog_df.withColumn(
        "text_encoding",
        F.when(F.col("lsn") > add_lo, F.col("text_encoding")),
    )
    return generator.expected_final_state(padded).withColumn(
        "score", F.length("html").cast("long")
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_registry_changes_apply_mid_window(spark, changelog, tmp_path, mode):
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.IntegerType()),
    ])
    table = LakeTable.create(str(tmp_path / mode), schema, key_col="url",
                             n_buckets=8)
    sv0 = table.manifest().schema_version

    report = replay(spark, changelog, table, batch_span=SPAN, mode=mode,
                    registry=_registry())

    assert len(report.batches) == 4
    assert all(b.applied for b in report.batches)
    m = table.manifest()
    assert m.schema_version > sv0
    assert m.checkpoint["registry_version"] == 2
    assert m.checkpoint["hwm_lsn"] == N_EVENTS - 1
    types = {f.name: f.dataType.simpleString() for f in m.current_schema().fields}
    assert types["score"] == "bigint" and types["text_encoding"] == "string"

    cols = ["url", "warc_ts", "html", "text", "lang", "text_encoding", "score"]
    assert_same_state(table.read(spark), _expected(changelog), cols)

    labels = [
        int(re.search(r"snap-(\d{12})-", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(table.data_dir, "snap-*"))
    ]
    assert labels and max(labels) <= m.version  # no uncommitted staging dir
