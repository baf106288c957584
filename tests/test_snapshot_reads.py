"""Snapshot reads of lake/table.py: their plan shape and job counts, and the
change feed against a reference implementation.

Read shapes, on a bloom table with two unmerged merge-on-read generations
in every bucket:

- a lookup the bloom rules out runs no Spark job, a present lookup runs one
  and returns the last writer across the generations, and ``might_contain``
  runs none;
- a full read and a time-window read scan no RDD (an empty frame made by
  ``createDataFrame([])`` is one, and scanning it is a Python-worker job);
- ``exists_join`` runs at most 4 jobs, and the frame it returns evaluates
  no Python UDF;
- ``changes`` reads every data file in exactly one scan and has one
  exchange.

Change feed: ``changes`` equals ``_changes_reference`` (each side reduced
on its own, then a full outer join), with and without pre-images, over
merge-on-read appends, copy-on-write folds, a compaction-only commit,
delete then re-insert, a late event that loses, schema evolution, a legacy
inline manifest, an empty range and a rehash. Across a restore that drops
a schema version the feed still maps every file.
"""

import datetime
import json
import os
import re
import sys
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import embulk_input_marketo_spark.replay as replay_mod
from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.lake import bloom as B
from embulk_input_marketo_spark.lake.merge import (
    compact_buckets,
    merge_batch,
    rehash_buckets,
)
from embulk_input_marketo_spark.lake.table import FileSet, LakeTable, Manifest
from embulk_input_marketo_spark.operators.dedup import lww_dedup

N_BUCKETS = 8


def _jobs(spark, fn):
    """(Spark jobs ``fn`` ran, its result), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _final_plan(df) -> str:
    """The executed plan of ``df`` after an action ran on it (the final
    adaptive plan, without the initial one)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# ------------------------------------------------------------ read shapes
@pytest.fixture(scope="module")
def mor2(spark, tmp_path_factory):
    """A bloom table replayed from a changelog in two merge-on-read slices
    and never compacted: every bucket holds two generations."""
    tmp = tmp_path_factory.mktemp("mor2")
    path = str(tmp / "log")
    generator.changelog(spark, 1_200, 120, seed=5).write.parquet(path)
    log = spark.read.parquet(path)
    schema = T.StructType(
        [f for f in log.schema.fields
         if f.name not in ("lsn", "op", "schema_version")]
    )
    t = LakeTable.create(
        str(tmp / "t"), schema, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS, bloom_bits=1 << 12,
    )
    v0 = t.current_version()
    replay_mod.replay(spark, log.where(F.col("lsn") < 600), t,
                      compact_threshold=sys.maxsize)
    v1 = t.current_version()
    replay_mod.replay(spark, log, t, compact_threshold=sys.maxsize)
    m = t.manifest()
    assert len(set(m.files)) == N_BUCKETS
    for b in set(m.files):
        assert len({e.get("v") for e in m.files[b]}) == 2, b
    final = {
        r["url"]: r.asDict()
        for r in generator.expected_final_state(log).collect()
    }
    early = {r["url"] for r in log.where(F.col("lsn") < 600).collect()}
    late = {r["url"] for r in log.where(F.col("lsn") >= 600).collect()}
    return {"t": t, "v0": v0, "v1": v1, "final": final,
            "both": sorted((early & late) & set(final))}


def _absent_key(spark, t):
    for i in range(100):
        k = f"https://absent.example/{i}"
        if t.might_contain(spark, k) is False:
            return k
    raise AssertionError("every candidate absent key hit a bloom")


def test_absent_lookup_runs_no_job(spark, mor2):
    t = mor2["t"]
    absent = _absent_key(spark, t)
    assert _jobs(spark, lambda: t.lookup(spark, absent).collect()) == (0, [])


def test_present_lookup_runs_one_job(spark, mor2):
    """The row is the last writer across both generations."""
    t = mor2["t"]
    key = mor2["both"][0]
    n, rows = _jobs(spark, lambda: t.lookup(spark, key).collect())
    assert n == 1
    assert [r.asDict() for r in rows] == [mor2["final"][key]]
    for key in mor2["both"][1:6]:
        assert [r.asDict() for r in t.lookup(spark, key).collect()] == [
            mor2["final"][key]
        ]


def test_might_contain_runs_no_job(spark, mor2):
    t = mor2["t"]
    assert _jobs(spark, lambda: t.might_contain(spark, mor2["both"][0])) == (
        0, True)
    absent = _absent_key(spark, t)
    assert _jobs(spark, lambda: t.might_contain(spark, absent)) == (0, False)
    keys = mor2["both"][:3]
    assert _jobs(spark, lambda: len(B.probe_hashes(spark, keys))) == (0, 3)


@pytest.mark.parametrize("window", [False, True])
def test_full_and_window_reads_scan_no_rdd(spark, mor2, window):
    t = mor2["t"]
    lo = datetime.datetime(2024, 1, 1, 0, 4)
    hi = datetime.datetime(2024, 1, 1, 0, 12)
    df = t.read(spark, major_range=(lo, hi) if window else None)
    urls = {r["url"] for r in df.collect()}
    assert "ExistingRDD" not in _final_plan(df)
    expect = {
        u for u, r in mor2["final"].items()
        if not window or lo <= r["warc_ts"] <= hi
    }
    assert urls == expect and urls


def test_exists_join_jobs_and_plan(spark, mor2):
    t = mor2["t"]
    present = mor2["both"][:5]
    probes = spark.createDataFrame(
        [(k,) for k in present + [f"https://absent.example/p{i}"
                                  for i in range(20)]],
        "probe string",
    )
    got = t.exists_join(spark, probes, "probe")
    n, rows = _jobs(spark, got.collect)
    assert n <= 4
    assert "ArrowEvalPython" not in _final_plan(got)
    assert {r["probe"] for r in rows if r["exists"]} == set(present)
    assert len(rows) == 25


def _file_scans(plan: str) -> list[int]:
    """Files per ``FileScan`` node of an executed plan."""
    return [
        int(n) for n in re.findall(
            r"FileScan parquet [^\n]*InMemoryFileIndex\((\d+) paths?\)", plan)
    ]


def test_changes_scans_each_file_once(spark, mor2):
    """Between the two slices every bucket changed and both snapshots share
    its first generation: the feed reads each file of the newer snapshot in
    exactly one scan, and shuffles once."""
    t = mor2["t"]
    feed = t.changes(spark, mor2["v1"])
    n, rows = _jobs(spark, feed.collect)
    plan = _final_plan(feed)
    files = {e["path"] for b in set(t.manifest().files)
             for e in t.manifest().files[b]}
    assert {
        os.path.normpath(f.removeprefix("file:")) for f in feed.inputFiles()
    } == files
    assert sum(_file_scans(plan)) == len(files)
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert n <= 3
    assert rows


# ------------------------------------------------- change-feed reference
def _changes_reference(table, spark, from_version, to_version=None,
                       include_preimage=False):
    """The change feed as two reads: each snapshot's changed buckets are
    reduced on their own, mapped to the newer snapshot's columns, and the
    two reduced sides are full-outer joined per key."""
    ma = table.manifest(from_version)
    mb = table.manifest(to_version)

    def ptr_format(m):
        return isinstance(m.files, FileSet) and not m.files.pending

    if ptr_format(ma) and ptr_format(mb):
        pa, pb = ma.files.ptrs, mb.files.ptrs
        changed = {b for b in set(pa) | set(pb) if pa.get(b) != pb.get(b)}
        changed -= table._compaction_only_buckets(ma, mb, changed)
    else:
        changed = set(ma.files) | set(mb.files)
    cur = mb.current_schema()
    data_cols = [f.name for f in cur.fields]
    key = mb.key_col

    def side(m, tag):
        raw = table._read_raw(spark, m, changed)
        red = lww_dedup(raw, key_cols=key, order_cols=[m.lww_major, "_lsn"])
        have = {f.name for f in red.schema.fields}
        cols = [
            (F.col(f.name).cast(f.dataType) if f.name in have
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in cur.fields
        ]
        return red.select(
            *cols,
            F.col("_lsn").alias(f"_lsn_{tag}"),
            F.col("_deleted").alias(f"_del_{tag}"),
        )

    # the older side's files map through the newer snapshot's schema
    # history and renames, as the feed emits the newer snapshot's columns
    a = side(Manifest(**{**mb.__dict__, "files": ma.files,
                         "lww_major": ma.lww_major}), "a")
    b = side(mb, "b")
    j = a.alias("a").join(b.alias("b"), a[key] == b[key], "full_outer")
    live_a = F.col("a._del_a").isNotNull() & ~F.col("a._del_a")
    live_b = F.col("b._del_b").isNotNull() & ~F.col("b._del_b")
    change = (
        F.when(live_b & ~live_a, F.lit("insert"))
        .when(live_a & ~live_b, F.lit("delete"))
        .when(live_a & live_b & (F.col("a._lsn_a") != F.col("b._lsn_b")),
              F.lit("update"))
    )
    classified = j.withColumn("_change", change).where(
        F.col("_change").isNotNull())
    if include_preimage:
        a_struct = F.struct(*[F.col(f"a.{c}").alias(c) for c in data_cols])
        b_struct = F.struct(*[F.col(f"b.{c}").alias(c) for c in data_cols])

        def kind(k, row):
            return F.struct(F.lit(k).alias("_k"), row.alias("_r"))

        rows = (
            F.when(F.col("_change") == "insert",
                   F.array(kind("insert", b_struct)))
            .when(F.col("_change") == "delete",
                  F.array(kind("delete", a_struct)))
            .otherwise(F.array(kind("update_preimage", a_struct),
                               kind("update_postimage", b_struct)))
        )
        return classified.select(F.explode(rows).alias("_e")).select(
            *[F.col(f"_e._r.{c}").alias(c) for c in data_cols],
            F.col("_e._k").alias("_change"),
        )
    picked = [
        F.when(F.col("_change") == "delete", F.col(f"a.{c}"))
        .otherwise(F.col(f"b.{c}")).alias(c)
        for c in data_cols
    ]
    return classified.select(*picked, "_change")


SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _ts(s):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)


def _batch(spark, rows, evolved=False):
    """rows: (url, ts seconds, n, lang, op, lsn)."""
    if evolved:
        return spark.createDataFrame(
            [(u, _ts(s), n, lg, f"x{n}", op, lsn)
             for u, s, n, lg, op, lsn in rows],
            "url string, warc_ts timestamp, n long, language string, "
            "extra string, op string, _lsn long",
        )
    return spark.createDataFrame(
        [(u, _ts(s), n, lg, op, lsn) for u, s, n, lg, op, lsn in rows],
        "url string, warc_ts timestamp, n int, lang string, op string, "
        "_lsn long",
    )


def _merge(spark, t, rows, mode="mor", evolved=False):
    merge_batch(spark, t, _batch(spark, rows, evolved), uuid.uuid4().hex,
                mode=mode, compact_threshold=100)
    return t.current_version()


def _seed(spark, t, n=24):
    return _merge(spark, t, [(f"u{i}", i, i, "en", "I", i) for i in range(n)])


def _legacyize(table, version):
    """Rewrite a committed manifest in the legacy inline format (full file
    lists in the snapshot JSON, no pointers)."""
    m = table.manifest(version)
    d = {k: v for k, v in m.__dict__.items() if k != "files"}
    d["files"] = {b: list(m.files[b]) for b in set(m.files)}
    with open(table._manifest_path(m.version), "w") as f:
        f.write(json.dumps(d, indent=1, default=str))


def _mor_and_cow(spark, t):
    v1 = _seed(spark, t)
    v2 = _merge(spark, t, [("u1", 100, 101, "de", "U", 100),
                           ("u2", 101, 102, "fr", "U", 101),
                           ("u6", 102, 0, "en", "D", 102),
                           ("w0", 103, 500, "en", "I", 103)])
    v3 = _merge(spark, t, [("u2", 200, 202, "it", "U", 200),
                           ("u10", 201, 210, "en", "U", 201),
                           ("u11", 202, 0, "en", "D", 202),
                           ("w9", 203, 509, "en", "I", 203)], mode="cow")
    v4 = _merge(spark, t, [("u3", 300, 303, "es", "U", 300),
                           ("w0", 301, 0, "en", "D", 301)])
    return [(0, v4), (v1, v2), (v2, v3), (v1, v3), (v3, v4), (v1, v4),
            (v2, v2)]


def _compaction_between(spark, t):
    v1 = _seed(spark, t)
    v2 = _merge(spark, t, [("u4", 100, 104, "de", "U", 100),
                           ("u5", 101, 0, "en", "D", 101)])
    compact_buckets(spark, t, list(range(N_BUCKETS)))
    v3 = t.current_version()
    v4 = _merge(spark, t, [("u4", 200, 204, "pt", "U", 200),
                           ("u8", 201, 208, "en", "U", 201)])
    return [(v2, v3), (v1, v3), (v2, v4), (v1, v4)]


def _delete_then_reinsert(spark, t):
    v1 = _seed(spark, t)
    v2 = _merge(spark, t, [("u3", 100, 0, "en", "D", 100),
                           ("u9", 101, 0, "en", "D", 101)])
    v3 = _merge(spark, t, [("u3", 200, 333, "nl", "I", 200)], mode="cow")
    v4 = _merge(spark, t, [("u9", 300, 999, "sv", "I", 300)])
    return [(v1, v2), (v2, v3), (v1, v3), (v2, v4), (v1, v4)]


def _late_event_loses(spark, t):
    v1 = _seed(spark, t)
    # higher lsn, older warc_ts: u2's update and u3's delete lose LWW, so
    # neither key changes; u4's newer update wins
    v2 = _merge(spark, t, [("u2", 1, 777, "xx", "U", 100),
                           ("u3", 2, 0, "en", "D", 101),
                           ("u4", 500, 404, "de", "U", 102)])
    v3 = _merge(spark, t, [("u5", 0, 555, "yy", "U", 200)], mode="cow")
    return [(v1, v2), (v2, v3), (v1, v3)]


def _schema_evolution(spark, t):
    v1 = _seed(spark, t)
    v2 = _merge(spark, t, [("u1", 100, 101, "de", "U", 100)])
    t.evolve_schema([
        {"change": "add", "name": "extra", "type": "string"},
        {"change": "widen", "name": "n", "to_type": "long"},
        {"change": "rename", "old": "lang", "new": "language"},
    ])
    v3 = t.current_version()
    v4 = _merge(spark, t, [("u1", 200, 2**40, "fi", "U", 200),
                           ("u2", 201, 0, "en", "D", 201),
                           ("n1", 202, 7, "is", "I", 202)], evolved=True)
    v5 = _merge(spark, t, [("u3", 300, 3, "no", "U", 300)], mode="cow",
                evolved=True)
    return [(v1, v3), (v1, v4), (v2, v4), (v3, v5), (v1, v5)]


def _legacy_side(spark, t):
    v1 = _seed(spark, t)
    _legacyize(t, v1)
    v2 = _merge(spark, t, [("u0", 100, 100, "de", "U", 100),
                           ("u7", 101, 0, "en", "D", 101),
                           ("new1", 102, 1, "en", "I", 102)])
    v3 = _merge(spark, t, [("u1", 200, 201, "fr", "U", 200)], mode="cow")
    return [(v1, v2), (v1, v3), (v2, v3)]


def _rehash_between(spark, t):
    v1 = _seed(spark, t)
    v2 = _merge(spark, t, [("u1", 100, 101, "de", "U", 100),
                           ("u2", 101, 0, "en", "D", 101)])
    rehash_buckets(spark, t, 3)
    v3 = t.current_version()
    v4 = _merge(spark, t, [("u1", 200, 201, "fr", "U", 200),
                           ("x1", 201, 1, "en", "I", 201)])
    return [(v2, v3), (v1, v3), (v2, v4), (v1, v4)]


SCENARIOS = {
    "mor_and_cow": _mor_and_cow,
    "compaction_between": _compaction_between,
    "delete_then_reinsert": _delete_then_reinsert,
    "late_event_loses": _late_event_loses,
    "schema_evolution": _schema_evolution,
    "legacy_side": _legacy_side,
    "rehash_between": _rehash_between,
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_changes_match_reference(spark, tmp_path, name):
    t = LakeTable.create(
        str(tmp_path / name), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS,
    )
    for va, vb in SCENARIOS[name](spark, t):
        for pre in (False, True):
            got = t.changes(spark, va, vb, include_preimage=pre)
            ref = _changes_reference(t, spark, va, vb, include_preimage=pre)
            assert got.columns == ref.columns, (va, vb, pre)
            assert _rows(got) == _rows(ref), (va, vb, pre)


def test_changes_carry_renamed_column_in_old_rows(spark, tmp_path):
    """A delete row and an update pre-image come from files written before
    a rename: they carry the column's value under its new name."""
    t = LakeTable.create(
        str(tmp_path / "r"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS,
    )
    v1 = _seed(spark, t, n=4)
    t.evolve_schema([{"change": "rename", "old": "lang", "new": "language"}])
    merge_batch(
        spark, t,
        _batch(spark, [("u1", 100, 101, "de", "U", 100),
                       ("u2", 101, 0, "en", "D", 101)])
        .withColumnRenamed("lang", "language"),
        "renamed", compact_threshold=100,
    )
    got = {
        (r["url"], r["_change"]): r["language"]
        for r in t.changes(spark, v1, include_preimage=True).collect()
    }
    assert got == {("u1", "update_preimage"): "en",
                   ("u1", "update_postimage"): "de",
                   ("u2", "delete"): "en"}


def test_changes_across_restore_that_drops_a_schema_version(spark, tmp_path):
    """A restore re-points the table at a snapshot from before a schema
    change, so the restored snapshot does not know the schema version the
    older side's newest files were written under: those files map through
    the older snapshot's schema, the rest through the newer one's."""
    t = LakeTable.create(
        str(tmp_path / "rs"), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS,
    )
    v1 = _seed(spark, t, n=4)
    t.evolve_schema([{"change": "rename", "old": "lang", "new": "language"}])
    merge_batch(
        spark, t,
        _batch(spark, [("u1", 100, 101, "de", "U", 100),
                       ("n1", 101, 7, "is", "I", 101)])
        .withColumnRenamed("lang", "language"),
        "renamed", compact_threshold=100,
    )
    v3 = t.current_version()
    v4 = t.restore(v1).version
    got = {
        (r["url"], r["_change"]): (r["n"], r["lang"])
        for r in t.changes(spark, v3, v4).collect()
    }
    assert got == {("u1", "update"): (1, "en"), ("n1", "delete"): (7, None)}
