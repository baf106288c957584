"""End-to-end CDC replay: changelog → LWW dedup → MERGE → final state equals
the independent oracle; idempotence; kill/resume. (FIXTURES.md C.1-C.4)"""

import pyspark.sql.functions as F
import pytest

from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.checkpoint import checkpoints_df, resume_hwm
from embulk_input_marketo_spark.lake import LakeTable, merge_batch
from embulk_input_marketo_spark.replay import replay

N_EVENTS = 20_000
N_URLS = 1_500


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    """Materialized to parquet once — the changelog is a table on disk in
    production, and a short scan lineage keeps plans simple."""
    p = str(tmp_path_factory.mktemp("log") / "changelog.parquet")
    generator.changelog(spark, N_EVENTS, N_URLS, seed=7).write.parquet(p)
    return spark.read.parquet(p)


def _schema(changelog_df):
    # base table schema = changelog minus (lsn, op, schema_version)
    keep = {"url", "warc_ts", "html", "text", "lang", "text_encoding"}
    from pyspark.sql import types as T

    return T.StructType([f for f in changelog_df.schema.fields if f.name in keep])


def _assert_state_equals_oracle(spark, table, changelog_df):
    from embulk_input_marketo_spark.functions.compare import (
        assert_same_state,
        text_bytes_comparator,
    )

    actual = table.read(spark)
    expected = generator.expected_final_state(changelog_df)
    cols = ["url", "warc_ts", "html", "text", "lang", "text_encoding"]
    assert_same_state(actual, expected, cols)
    # input_hint invariant: byte-identical text per url (Arrow comparator)
    assert text_bytes_comparator(actual, expected).count() == 0


@pytest.mark.parametrize("mode,compact_threshold", [
    ("mor", 8),   # pure append: 4 batches < threshold → read-time reduce
    ("mor", 3),   # auto-compaction kicks in mid-replay
    ("cow", 8),   # copy-on-write folds every batch
])
def test_full_replay_matches_oracle(spark, changelog, tmp_path, mode,
                                    compact_threshold):
    table = LakeTable.create(str(tmp_path / "web_pages"), _schema(changelog),
                             key_col="url", n_buckets=16)
    report = replay(spark, changelog, table, batch_span=6_000, salt_buckets=8,
                    mode=mode, compact_threshold=compact_threshold)
    assert len(report.batches) == 4  # ceil((N-1 - (-1)) / 6000) slices of (hwm, max]
    assert all(b.applied for b in report.batches)
    if mode == "cow":
        assert all(b.compacted_buckets == b.touched_buckets for b in report.batches)
    if mode == "mor" and compact_threshold == 3:
        assert any(b.compacted_buckets > 0 for b in report.batches)
    assert report.events_applied == N_EVENTS
    _assert_state_equals_oracle(spark, table, changelog)


def test_replay_with_text_extraction_matches_oracle(spark, changelog, tmp_path):
    """The ingest pipeline derives text from html via the Arrow pandas UDF;
    the final state must STILL be byte-identical to the oracle's text column
    (input_hint invariant, exercised inside the replay)."""
    table = LakeTable.create(str(tmp_path / "t"), _schema(changelog),
                             key_col="url", n_buckets=16)
    replay(spark, changelog, table, batch_span=10_000,
           extract_text_from_html=True)
    _assert_state_equals_oracle(spark, table, changelog)


def test_replay_is_idempotent(spark, changelog, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), _schema(changelog),
                             key_col="url", n_buckets=16)
    replay(spark, changelog, table, batch_span=10_000)
    v1 = table.current_version()
    # re-run the whole thing: checkpoint says nothing new -> zero new commits
    report2 = replay(spark, changelog, table, batch_span=10_000)
    assert table.current_version() == v1
    assert report2.events_applied == 0
    _assert_state_equals_oracle(spark, table, changelog)


def test_kill_and_resume_converges(spark, changelog, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), _schema(changelog),
                             key_col="url", n_buckets=16)
    # simulate a kill after 2 of 5 batches
    replay(spark, changelog, table, batch_span=4_000, max_batches=2)
    assert resume_hwm(table) == 7_999
    # resume to completion
    replay(spark, changelog, table, batch_span=4_000)
    _assert_state_equals_oracle(spark, table, changelog)
    ck = checkpoints_df(spark, table)
    # one checkpoint row per MERGE commit (auto-compaction commits — the
    # hot-bucket write split can trip the threshold even at this scale —
    # carry no checkpoint)
    merges = [
        m for m in table.history() if m.summary.get("operation") == "merge"
    ]
    assert ck.count() == len(merges) == 5
    assert ck.agg(F.max("hwm_lsn")).collect()[0][0] == N_EVENTS - 1


def test_reapplying_same_batch_is_noop(spark, changelog, tmp_path):
    from embulk_input_marketo_spark.operators.dedup import lww_dedup

    table = LakeTable.create(str(tmp_path / "t"), _schema(changelog),
                             key_col="url", n_buckets=8)
    batch = lww_dedup(
        changelog.where(F.col("lsn") < 5000).drop("schema_version")
        .withColumnRenamed("lsn", "_lsn"),
        key_cols="url", order_cols=["warc_ts", "_lsn"],
    )
    r1 = merge_batch(spark, table, batch, batch_id="b1",
                     checkpoint={"hwm_lsn": 4999})
    assert r1.applied and r1.rows_in > 0
    state1 = sorted(table.read(spark).select("url", "text").collect())
    r2 = merge_batch(spark, table, batch, batch_id="b1",
                     checkpoint={"hwm_lsn": 4999})
    assert not r2.applied
    assert table.current_version() == r1.version
    state2 = sorted(table.read(spark).select("url", "text").collect())
    assert state1 == state2


def test_boundary_lsn_in_exactly_one_slice():
    from embulk_input_marketo_spark.operators.windows import slice_range

    slices = slice_range(-1, 10_000, 3_000)
    assert slices == [(-1, 2999), (2999, 5999), (5999, 8999), (8999, 10_000)]
    # half-open (lo, hi]: each lsn in exactly one slice
    seen = []
    for lo, hi in slices:
        seen.extend(range(lo + 1, hi + 1))
    assert seen == list(range(0, 10_001))


def test_max_lsn_snapshot(spark):
    """The job-start snapshot: the largest non-null lsn, and -1 for an
    empty or all-null log (nothing to replay)."""
    from embulk_input_marketo_spark.replay import _max_lsn

    def log(*lsns):
        return spark.createDataFrame([(x,) for x in lsns], "lsn long")

    assert _max_lsn(log()) == -1
    assert _max_lsn(log(None, None)) == -1
    assert _max_lsn(log(3, None, 7, 5)) == 7
