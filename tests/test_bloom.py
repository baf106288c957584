"""Per-bucket key blooms (lake/bloom.py): the absent-key fast path.

Soundness contract under test:
- NO false negatives, ever — a key that was ever written (even deleted)
  must probe True (or None/unknown), never False.
- "False" is load-bearing: it must be answerable from bloom metadata alone,
  proven here by answering correctly with the data directory renamed away.
- Blooms stay COMPLETE per bucket across merge / compact / cow / vacuum /
  restore / rehash, or they disappear for that bucket (None) — a partial
  bloom may not exist.
"""

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_input_marketo_spark.lake import bloom as B
from embulk_input_marketo_spark.lake.merge import (
    compact_buckets,
    merge_batch,
    rehash_buckets,
    vacuum_tombstones,
)
from embulk_input_marketo_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def _ts(i):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=i)


def _batch(spark, rows, base=0):
    return spark.createDataFrame(
        [
            (u, _ts(base + i), f"t{u}", op, base + i)
            for i, (u, op) in enumerate(rows)
        ],
        "url string, warc_ts timestamp, text string, op string, _lsn long",
    )


@pytest.fixture()
def table(tmp_path, spark):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=4, bloom_bits=1 << 14,
    )
    merge_batch(
        spark, t,
        _batch(spark, [(f"u{i}", "I") for i in range(50)] + [("gone", "I")]),
        "b1",
    )
    merge_batch(
        spark, t,
        _batch(
            spark, [(f"v{i}", "I") for i in range(20)] + [("gone", "D")],
            base=1000,  # the delete must POSTDATE the insert to win LWW
        ),
        "b2",
    )
    return t


def test_no_false_negatives_and_absent_fast_path(spark, table):
    for k in ["u0", "u17", "u49", "v0", "v19", "gone"]:
        assert table.might_contain(spark, k) is True, k
    # absent keys: with 2^14 bits over ~18 keys/bucket the FP rate is ~0 —
    # require every probe of this fixed absent set to answer False
    for k in ["w0", "nope", "https://x.example/y", "u50", "v20"]:
        assert table.might_contain(spark, k) is False, k


def test_false_answer_needs_no_data_files(spark, table):
    hidden = table.data_dir + ".hidden"
    shutil.move(table.data_dir, hidden)
    try:
        assert table.might_contain(spark, "definitely-absent") is False
        # the lookup fast path returns an EMPTY frame without any scan
        assert table.lookup(spark, "definitely-absent").count() == 0
    finally:
        shutil.move(hidden, table.data_dir)


def test_lookup_still_finds_present_keys(spark, table):
    got = table.lookup(spark, "u7").collect()
    assert [r["url"] for r in got] == ["u7"]
    assert table.lookup(spark, "gone").count() == 0  # tombstoned


def test_merge_maintains_only_touched_buckets(spark, table):
    before = dict(table.manifest().bloom_ptrs)
    merge_batch(
        spark, table, _batch(spark, [("u0", "U"), ("zz9", "I")], base=2000), "b3"
    )
    after = dict(table.manifest().bloom_ptrs)
    changed = {b for b in after if before.get(b) != after[b]}
    # only the buckets u0/zz9 hash into were rewritten — O(touched) metadata
    assert 1 <= len(changed) <= 2
    assert table.might_contain(spark, "zz9") is True


def test_compact_and_cow_keep_completeness(spark, table):
    compact_buckets(spark, table, [0, 1, 2, 3])
    for k in ["u0", "u49", "v19", "gone"]:
        assert table.might_contain(spark, k) is True, k
    merge_batch(
        spark, table, _batch(spark, [("cowkey", "I")], base=3000), "b4", mode="cow"
    )
    assert table.might_contain(spark, "cowkey") is True
    for k in ["u0", "gone"]:
        assert table.might_contain(spark, k) is True, k
    assert table.might_contain(spark, "absent-after-cow") is False


def test_vacuum_rebuild_sheds_reclaimed_keys(spark, table):
    vacuum_tombstones(spark, table, watermark_major=_ts(10**6))
    # 'gone' was tombstoned and reclaimed: its bits left the rebuilt bloom
    assert table.might_contain(spark, "gone") is False
    assert table.might_contain(spark, "u0") is True
    assert table.read(spark).where(F.col("url") == "gone").count() == 0


def test_rehash_rebuilds_under_new_layout(spark, table):
    rehash_buckets(spark, table, 8)
    m = table.manifest()
    assert m.n_buckets == 8 and m.bloom_ptrs
    for k in ["u0", "u49", "v19"]:
        assert table.might_contain(spark, k) is True, k
    assert table.might_contain(spark, "never-written") is False


def test_restore_carries_blooms(spark, table):
    v = table.current_version()
    merge_batch(spark, table, _batch(spark, [("late", "I")], base=4000), "b5")
    assert table.might_contain(spark, "late") is True
    table.restore(v)
    assert table.might_contain(spark, "late") is False
    assert table.might_contain(spark, "u0") is True


def test_enable_backfill_on_existing_unbloomed_table(tmp_path, spark):
    t = LakeTable.create(
        str(tmp_path / "plain"), SCHEMA, key_col="url",
        lww_major="warc_ts", n_buckets=4,
    )
    merge_batch(spark, t, _batch(spark, [(f"u{i}", "I") for i in range(30)]), "b1")
    assert t.might_contain(spark, "u0") is None  # no blooms yet: unknown
    # a merge before enabling must NOT create a partial bloom for a bucket
    # that already has data
    merge_batch(spark, t, _batch(spark, [("u1", "U")], base=2000), "b2")
    assert not t.manifest().bloom_ptrs
    t.enable_key_blooms(spark, m_bits=1 << 14)
    assert t.might_contain(spark, "u29") is True
    assert t.might_contain(spark, "nope") is False
    # post-backfill merges maintain incrementally
    merge_batch(spark, t, _batch(spark, [("fresh", "I")], base=3000), "b3")
    assert t.might_contain(spark, "fresh") is True


def test_expiry_reclaims_dead_bloom_sides(spark, table):
    for i in range(6):
        merge_batch(
            spark, table, _batch(spark, [(f"e{i}", "I")], base=5000 + 10 * i),
            f"x{i}",
        )
    removed = table.expire_snapshots(keep_last=2)
    assert removed["side_files"] > 0
    live = {
        n for n in os.listdir(table.meta_dir) if n.startswith("keybloom-")
    }
    assert set(table.manifest().bloom_ptrs.values()) <= live
    for k in ["u0", "e5"]:
        assert table.might_contain(spark, k) is True, k


def _numeric_keys(spark, t):
    """String keys that read as integers: 7 and 42 live, 13 tombstoned."""
    merge_batch(
        spark, t,
        _batch(spark, [("7", "I"), ("42", "I"), ("13", "I")], base=6000),
        "num1",
    )
    merge_batch(spark, t, _batch(spark, [("13", "D")], base=7000), "num2")


def _exists(spark, t, probes):
    return sorted(
        ((r["probe"], r["exists"])
         for r in t.exists_join(spark, probes, "probe").collect()),
        key=repr,
    )


def _int_probe_answers(spark, t):
    """An int probe column against string keys: the cast path."""
    probes = spark.createDataFrame(
        [(7,), (42,), (13,), (99,), (None,), (7,)], "probe int"
    )
    assert _exists(spark, t, probes) == sorted(
        [(7, True), (7, True), (42, True), (13, False), (99, False),
         (None, False)],
        key=repr,
    )


def test_exists_join_matches_ground_truth(spark, table):
    _numeric_keys(spark, table)
    probes = spark.createDataFrame(
        [("u0",), ("u49",), ("v19",), ("gone",), ("absent1",),
         ("absent2",), (None,), ("u49",), ("u49",), (None,)],
        "probe string",
    )
    # one output row per probe row: a repeated probe answers each time
    assert _exists(spark, table, probes) == sorted(
        [("u0", True), ("u49", True), ("u49", True), ("u49", True),
         ("v19", True),
         ("gone", False),  # tombstoned = not live
         ("absent1", False), ("absent2", False), (None, False),
         (None, False)],
        key=repr,
    )
    _int_probe_answers(spark, table)


def test_exists_join_without_blooms_same_answers(tmp_path, spark):
    t = LakeTable.create(
        str(tmp_path / "nb"), SCHEMA, key_col="url",
        lww_major="warc_ts", n_buckets=4,
    )
    merge_batch(spark, t, _batch(spark, [("a", "I"), ("b", "I"), ("c", "D")]), "b1")
    _numeric_keys(spark, t)
    probes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), (None,), ("a",), ("a",)],
        "probe string",
    )
    assert _exists(spark, t, probes) == sorted(
        [("a", True), ("a", True), ("a", True), ("b", True), ("c", False),
         ("d", False), (None, False)],
        key=repr,
    )
    _int_probe_answers(spark, t)


def test_exists_join_over_bloom_cap_skips_prefilter(spark, table, monkeypatch):
    """Blooms over the broadcast cap are not loaded at all (the cap bounds
    driver memory); the answers stay exact."""
    from embulk_input_marketo_spark.lake import table as table_mod

    loads = []
    real_load = B.load_bloom
    monkeypatch.setattr(
        B, "load_bloom", lambda *a: loads.append(a) or real_load(*a))
    monkeypatch.setattr(table_mod, "_MAX_BLOOM_BROADCAST_BYTES", 1)
    probes = spark.createDataFrame(
        [("u0",), ("v19",), ("gone",), ("absent1",), (None,)], "probe string"
    )
    assert _exists(spark, table, probes) == sorted(
        [("u0", True), ("v19", True), ("gone", False), ("absent1", False),
         (None, False)],
        key=repr,
    )
    assert loads == []


def test_manifest_json_compat_without_blooms(tmp_path, spark):
    t = LakeTable.create(
        str(tmp_path / "compat"), SCHEMA, key_col="url",
        lww_major="warc_ts", n_buckets=2,
    )
    s = t.manifest().to_json()
    assert "bloom" not in s  # unbloomed manifests keep the legacy shape


def test_bloom_kernel_roundtrip():
    import numpy as np

    bits = np.zeros(1 << 11, dtype=np.uint8)  # m=2^14 bits
    h1 = np.arange(100, dtype=np.int64) * 2654435761
    h2 = np.arange(100, dtype=np.int64) * 40503 + 7
    B._set_bits(bits, B._positions(h1, h2, 1 << 14, 7))
    assert B._test_bits(bits, B._positions(h1, h2, 1 << 14, 7)).all()
    miss = B._positions(h1 + 10**12, h2 - 3, 1 << 14, 7)
    assert not B._test_bits(bits, miss).all()
