"""Time-range scans over the lake: per-file lww-major (warc_ts) stats in the
manifest + read(major_range=...) file skipping.

Soundness contract:
- results are exactly "current rows whose warc_ts lies in the closed range"
  (post-LWW semantics — a key whose FINAL version is outside the window is
  absent, never resurrected at an older in-range version);
- on compacted (single-generation) buckets, files wholly outside the range
  are never opened (inputFiles audit);
- on merge-on-read buckets, file skipping is disabled (reduce-then-filter),
  which the resurrect scenario below would catch if it regressed.
"""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_input_marketo_spark.lake import LakeTable
from embulk_input_marketo_spark.lake.merge import compact_buckets, merge_batch

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

EPOCH = datetime.datetime(2024, 1, 1)


def _ts(days):
    return EPOCH + datetime.timedelta(days=days)


def _batch(spark, rows):
    return spark.createDataFrame(
        [
            Row(url=u, warc_ts=_ts(d), value=float(v), op=op, lsn=lsn)
            for (u, d, v, op, lsn) in rows
        ]
    )


def test_major_stats_recorded_and_files_skipped(spark, tmp_path):
    table = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=1,  # one bucket → skipping must come from FILE stats alone
    )
    # two commits with disjoint day ranges, then compact to a clean bucket
    merge_batch(
        spark, table,
        _batch(spark, [(f"a{i}", i, i, "I", i) for i in range(5)]),  # days 0-4
        batch_id="b1", lsn_col="lsn",
    )
    merge_batch(
        spark, table,
        _batch(spark, [(f"b{i}", 100 + i, i, "I", 50 + i)  # days 100-104
                       for i in range(5)]),
        batch_id="b2", lsn_col="lsn",
    )
    m = table.manifest()
    entries = [e for b in set(m.files) for e in m.files[b]]
    assert entries and all("tmin" in e and "tmax" in e for e in entries)

    compact_buckets(spark, table, [0])
    # compaction rewrote the bucket into one generation; a day-100..200 scan
    # must return only the b-keys
    got = table.read(spark, major_range=(_ts(100), _ts(200)))
    assert {r.url for r in got.collect()} == {f"b{i}" for i in range(5)}

    # file skipping: compare files actually planned vs the full read. The
    # compacted generation may be a single file (then pruning comes from
    # parquet row groups, not manifest stats) — so force two time-disjoint
    # files via a second post-compaction commit and re-compare.
    merge_batch(
        spark, table,
        _batch(spark, [(f"c{i}", 300 + i, i, "I", 90 + i)  # days 300-304
                       for i in range(5)]),
        batch_id="b3", lsn_col="lsn",
    )
    compact_buckets(spark, table, [0])
    m2 = table.manifest()
    files_all = {e["path"] for b in set(m2.files) for e in m2.files[b]}
    narrow = table.read(spark, major_range=(_ts(300), _ts(400)))
    assert {r.url for r in narrow.collect()} == {f"c{i}" for i in range(5)}
    if len(files_all) > 1:  # compaction produced time-splittable files
        assert len(set(narrow.inputFiles())) < len(files_all)


def test_mor_bucket_never_resurrects_old_version(spark, tmp_path):
    table = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=1,
    )
    # gen 1: key k at day 5 (inside the scan window)
    merge_batch(
        spark, table, _batch(spark, [("k", 5, 1, "I", 1)]),
        batch_id="b1", lsn_col="lsn",
    )
    # gen 2 (MoR delta, NOT compacted): k updated to day 50 (outside)
    merge_batch(
        spark, table, _batch(spark, [("k", 50, 2, "U", 2)]),
        batch_id="b2", lsn_col="lsn",
    )
    # scanning days 0-10 must NOT return k: its final version is day 50.
    # (if file skipping wrongly applied to the MoR bucket, the day-50 delta
    # file would be skipped and k would resurrect at day 5)
    assert table.read(spark, major_range=(_ts(0), _ts(10))).count() == 0
    # and the full read still sees the day-50 version
    [r] = table.read(spark).collect()
    assert r.url == "k" and r.warc_ts == _ts(50) and r.value == 2.0


def test_range_scan_equals_filtered_full_read(spark, tmp_path):
    table = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=4,
    )
    rows = [(f"u{i}", i % 37, i, "I", i) for i in range(200)]
    rows += [(f"u{i}", (i % 37) + 40, i + 1000, "U", 1000 + i)
             for i in range(0, 200, 3)]
    merge_batch(spark, table, _batch(spark, rows[:200]),
                batch_id="b1", lsn_col="lsn")
    merge_batch(spark, table, _batch(spark, rows[200:]),
                batch_id="b2", lsn_col="lsn")
    compact_buckets(spark, table, [0, 1])  # mixed clean + MoR buckets
    lo, hi = _ts(10), _ts(45)
    want = {
        (r.url, r.warc_ts, r.value)
        for r in table.read(spark)
        .where(F.col("warc_ts").between(lo, hi)).collect()
    }
    got = {
        (r.url, r.warc_ts, r.value)
        for r in table.read(spark, major_range=(lo, hi)).collect()
    }
    assert got == want and got


WIDE = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("html", T.StringType()),  # the wide payload
    ]
)


def test_column_pruning_reaches_scan_through_mor_reduce(spark, tmp_path):
    """read(columns=...) must prune the wide payload OUT of the parquet
    ReadSchema even for merge-on-read buckets — the LWW max_by struct is
    opaque to Catalyst, so the pruning has to happen below the reduce."""
    from pyspark.sql import Row

    table = LakeTable.create(
        str(tmp_path / "t"), WIDE, key_col="url", lww_major="warc_ts",
        n_buckets=1,
    )

    def batch(rows, bid):
        merge_batch(
            spark, table,
            spark.createDataFrame(
                [
                    Row(url=u, warc_ts=_ts(d), value=float(v),
                        html="<html>" + "x" * 100 + "</html>",
                        op="I", lsn=lsn)
                    for (u, d, v, lsn) in rows
                ]
            ),
            batch_id=bid, lsn_col="lsn",
        )

    batch([("a", 1, 1, 1), ("b", 2, 2, 2)], "b1")
    batch([("a", 3, 9, 3)], "b2")  # second generation → MoR bucket

    narrow = table.read(spark, columns=["url", "value"])
    assert narrow.columns == ["url", "value"]
    assert {(r.url, r.value) for r in narrow.collect()} == {
        ("a", 9.0), ("b", 2.0),
    }
    # the EXECUTED plan's ReadSchema is what the scan actually reads; the
    # parsed/analyzed stages always print the relation's full column list
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan  # never read, never shuffled

    # unknown columns fail loudly, not with a downstream resolve error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        table.read(spark, columns=["nope"])


def test_column_pruning_composes_with_major_range(spark, tmp_path):
    from pyspark.sql import Row

    table = LakeTable.create(
        str(tmp_path / "t2"), WIDE, key_col="url", lww_major="warc_ts",
        n_buckets=1,
    )
    merge_batch(
        spark, table,
        spark.createDataFrame(
            [
                Row(url=f"u{d}", warc_ts=_ts(d), value=float(d),
                    html="y" * 50, op="I", lsn=d)
                for d in range(1, 6)
            ]
        ),
        batch_id="b1", lsn_col="lsn",
    )
    got = table.read(
        spark, columns=["value"], major_range=(_ts(2), _ts(3))
    )
    assert got.columns == ["value"]
    assert {r.value for r in got.collect()} == {2.0, 3.0}
