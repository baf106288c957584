"""The one bucket-rewrite primitive (lake/merge._write_reduced) under every
operation that rewrites whole buckets: compaction (plain and z-order),
``delete_where``, vacuum, rehash and the copy-on-write fold.

- Shape: each rewrite's executed write plan has exactly one ``Exchange``;
  a compaction of 8 dirty buckets runs 2 Spark jobs, and every one of its
  write tasks holds exactly one bucket. The salt search behind the
  placement runs no job.
- Answers: against a reference kept in this file in the earlier shape
  (``lww_dedup`` on the key, then ``repartition(n, _b)`` and a
  partitioned write), each rewrite leaves the same internal rows
  (``_lsn``, ``_deleted`` and tombstones included) and the same number of
  files per bucket, and every bloom equals a rebuild over the live files.
"""

import collections
import datetime
import os
import re
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import embulk_input_marketo_spark.lake.merge as merge_mod
from embulk_input_marketo_spark.lake import bloom as B
from embulk_input_marketo_spark.lake.merge import (
    compact_buckets,
    delete_where,
    merge_batch,
    rehash_buckets,
    vacuum_tombstones,
)
from embulk_input_marketo_spark.lake.table import LakeTable, bucket_expr
from embulk_input_marketo_spark.operators.dedup import lww_dedup
from test_cow_commit import _assert_blooms_exact, _plans_since

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)
COLS = [f.name for f in SCHEMA.fields] + ["_lsn", "_deleted"]
N_BUCKETS = 8
T0 = datetime.datetime(2026, 1, 1)


def _ts(sec):
    return T0 + datetime.timedelta(seconds=sec)


def _batch(spark, events):
    """(url, warc_ts seconds, op, lsn) → a CDC batch; ``lang`` is NULL for
    every third key, so predicates on it can evaluate to NULL."""
    return spark.createDataFrame(
        [
            (
                u, _ts(sec), None if op == "D" else f"{u}@{lsn}",
                None if int(u[1:]) % 3 == 0 else ("en" if lsn % 2 else "de"),
                op, lsn,
            )
            for u, sec, op, lsn in events
        ],
        "url string, warc_ts timestamp, text string, lang string, op string,"
        " _lsn long",
    )


def _table(spark, tmp_path, bloom=True):
    """A merge-on-read table, 3 generations in every bucket: 48 keys,
    updates, a delete then a re-insert (k5), an older ``warc_ts`` at a
    higher lsn (k7 loses it), and tombstones at two business times (k9 at
    200 s, k11 at 400 s)."""
    t = LakeTable.create(
        str(tmp_path / f"t-{uuid.uuid4().hex[:8]}"), SCHEMA, key_col="url",
        lww_major="warc_ts", n_buckets=N_BUCKETS,
        bloom_bits=(1 << 12) if bloom else 0,
    )
    batches = [
        [(f"k{i}", 100, "I", i) for i in range(48)],
        [(f"k{i}", 150, "U", 100 + i) for i in range(0, 48, 2)]
        + [("k5", 160, "D", 150), ("k9", 200, "D", 151), ("k7", 50, "U", 152)],
        [(f"k{i}", 300, "U", 200 + i) for i in range(1, 48, 4)]
        + [("k5", 310, "I", 250), ("k11", 400, "D", 251)],
    ]
    for i, events in enumerate(batches):
        merge_batch(spark, t, _batch(spark, events), f"b{i}",
                    compact_threshold=100)
    m = t.manifest()
    assert set(m.files) == {str(b) for b in range(N_BUCKETS)}
    assert all(len(m.files[b]) >= 2 for b in m.files), "every bucket dirty"
    return t


def _raw(spark, t, m, buckets, n_buckets=None):
    return t._read_raw(spark, m, {str(b) for b in buckets}).withColumn(
        "_b", bucket_expr("url", n_buckets or m.n_buckets)
    )


def _rows(df):
    return collections.Counter(tuple(r) for r in df.select(*COLS, "_b").collect())


def _reference(spark, tmp_path, rows, n_partitions, *, sort=("url",),
               transform=None, keep=None):
    """The earlier rewrite shape: LWW-reduce on the key, then
    ``repartition(n, _b)``, sort and a ``partitionBy("_b")`` write. Returns
    (the written rows, {bucket: files})."""
    out = str(tmp_path / f"ref-{uuid.uuid4().hex[:8]}")
    reduced = lww_dedup(rows, key_cols="url", order_cols=["warc_ts", "_lsn"])
    if transform is not None:
        reduced = transform(reduced)
    if keep is not None:
        reduced = reduced.where(keep)
    (
        reduced.repartition(n_partitions, "_b")
        .sortWithinPartitions(*sort)
        .write.partitionBy("_b").parquet(out)
    )
    files = {
        d.split("=", 1)[1]: sum(f.endswith(".parquet") for f in os.listdir(
            os.path.join(out, d)))
        for d in os.listdir(out) if d.startswith("_b=")
    }
    return _rows(spark.read.parquet(out)), files


def _assert_like_reference(spark, t, before, buckets, want):
    """The rewritten buckets hold exactly the reference's rows, in as many
    files per bucket; the others keep their file lists; blooms are
    exact."""
    m = t.manifest()
    want_rows, want_files = want
    rewritten = {str(b) for b in buckets}
    assert _rows(_raw(spark, t, m, buckets)) == want_rows
    assert {b: len(m.files[b]) for b in rewritten if m.files.get(b)} == \
        want_files
    for b in set(m.files) - rewritten:
        assert m.files[b] == before.files[b]
    _assert_blooms_exact(spark, t)


def _scrub(predicate):
    """delete_where's conversion, applied after the reduce as it once was."""
    def transform(df):
        hit = F.coalesce((~F.col("_deleted")) & predicate, F.lit(False))
        return df.select(
            "url", "warc_ts",
            *[F.when(hit, F.lit(None)).otherwise(F.col(c)).alias(c)
              for c in ("text", "lang")],
            "_lsn", (F.col("_deleted") | hit).alias("_deleted"), "_b",
        )
    return transform


ALL = list(range(N_BUCKETS))


@pytest.mark.parametrize("zorder", [False, True])
def test_compaction_matches_reference(spark, tmp_path, zorder):
    t = _table(spark, tmp_path)
    m = t.manifest()
    sort = ("url",)
    if zorder:
        sort = (merge_mod._zorder_sort_key(_raw(spark, t, m, ALL),
                                           ["url", "warc_ts"]), "url")
    want = _reference(spark, tmp_path, _raw(spark, t, m, ALL), N_BUCKETS,
                      sort=sort)
    compact_buckets(spark, t, ALL,
                    zorder_by=["url", "warc_ts"] if zorder else None)
    _assert_like_reference(spark, t, m, ALL, want)
    # every file holds its rows in the sort order, read back in file order
    sizes = []
    for b in ALL:
        for e in t.manifest().files[str(b)]:
            df = spark.read.parquet(e["path"])
            key = [F.col("url")]
            if zorder:
                zkey = merge_mod._zorder_sort_key(df, ["url", "warc_ts"])
                key.insert(0, zkey)
            got = [tuple(r) for r in df.select(*key).collect()]
            assert got == sorted(got), (b, got)
            sizes.append(len(got))
    assert max(sizes) > 1


def test_delete_where_matches_reference(spark, tmp_path):
    """A predicate that is NULL on every third key, then a late event older
    than a deleted winner: it loses, and the bucket compacts to the
    reference's rows."""
    t = _table(spark, tmp_path)
    m = t.manifest()
    pred = F.col("lang") == "en"
    live = t.read(spark)
    hit = live.where(pred).select(
        bucket_expr("url", N_BUCKETS).alias("b"), "url", "warc_ts"
    ).collect()
    assert live.where(F.col("lang").isNull()).count() > 0
    buckets = sorted({r.b for r in hit})
    assert hit
    want = _reference(spark, tmp_path, _raw(spark, t, m, buckets),
                      len(buckets), transform=_scrub(pred))
    v, n = delete_where(spark, t, pred)
    assert (v, n) == (m.version + 1, len(hit))
    _assert_like_reference(spark, t, m, buckets, want)

    late = hit[0]
    merge_batch(spark, t, _batch(spark, [(late.url, 1, "U", 900)]), "late",
                compact_threshold=100)
    m = t.manifest()
    want = _reference(spark, tmp_path, _raw(spark, t, m, [late.b]), 1)
    compact_buckets(spark, t, [late.b])
    _assert_like_reference(spark, t, m, [late.b], want)
    assert t.lookup(spark, late.url).count() == 0


def test_vacuum_matches_reference(spark, tmp_path):
    """The watermark lies between k9's tombstone (200 s) and k11's (400 s):
    k9's is reclaimed, k11's kept."""
    t = _table(spark, tmp_path)
    m = t.manifest()
    keep = (~F.col("_deleted")) | (F.col("warc_ts") >= F.lit(_ts(300)))
    want = _reference(spark, tmp_path, _raw(spark, t, m, ALL), N_BUCKETS,
                      keep=keep)
    vacuum_tombstones(spark, t, _ts(300))
    _assert_like_reference(spark, t, m, ALL, want)
    tomb = {r[0] for r in want[0] if r[COLS.index("_deleted")]}
    assert tomb == {"k11"}


@pytest.mark.parametrize("n", [3, 16])
def test_rehash_matches_reference(spark, tmp_path, n):
    t = _table(spark, tmp_path)
    m = t.manifest()
    want = _reference(spark, tmp_path, _raw(spark, t, m, ALL, n_buckets=n), n)
    rehash_buckets(spark, t, n)
    assert t.manifest().n_buckets == n
    _assert_like_reference(spark, t, m, list(range(n)), want)


def test_cow_fold_matches_reference(spark, tmp_path):
    """A cow commit with the bloom fast path, folding some buckets and
    appending to others: its new generation holds the reference's reduce
    of the batch and the folded buckets' base rows."""
    t = _table(spark, tmp_path)
    m = t.manifest()
    events = [("k0", 500, "U", 1000), ("k0", 490, "U", 1001),
              ("k5", 500, "D", 1002)] + [
        (f"k{i}", 500, "I", 1003 + i) for i in range(100, 140)]
    batch = _batch(spark, events)
    keys = sorted({e[0] for e in events})
    bucket = {r.url: r.b for r in spark.createDataFrame(
        [(k,) for k in keys], "url string"
    ).select("url", bucket_expr("url", N_BUCKETS).alias("b")).collect()}
    hashes = dict(zip(keys, B.probe_hashes(spark, keys)))
    might = collections.defaultdict(bool)
    for k, b in bucket.items():
        bits, mb, kk, _n = B.load_bloom(t.meta_dir, m.bloom_ptrs[str(b)])
        might[b] |= B.might_contain(bits, mb, kk, *hashes[k])
    folds = sorted(b for b, hit in might.items() if hit)
    appends = sorted(b for b, hit in might.items() if not hit)
    assert folds and appends, "the batch must mix folds and appends"

    rows = batch.select(
        *[c for c in SCHEMA.names], F.col("_lsn"),
        (F.col("op") == "D").alias("_deleted"),
        bucket_expr("url", N_BUCKETS).alias("_b"),
    ).unionByName(_raw(spark, t, m, folds))
    want = _reference(spark, tmp_path, rows, len(might))
    r = merge_batch(spark, t, batch, "cow", mode="cow", bloom_fast_path=True)
    assert r.compacted_buckets == len(folds)
    nm = t.manifest()
    new = {b: [e for e in nm.files[str(b)] if e["v"] == nm.version]
           for b in might}
    paths = [e["path"] for es in new.values() for e in es]
    got = spark.read.schema(
        T.StructType(list(SCHEMA.fields) + [
            T.StructField("_lsn", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ])
    ).parquet(*paths).withColumn("_b", bucket_expr("url", N_BUCKETS))
    assert _rows(got) == want[0]
    assert {str(b): len(es) for b, es in new.items()} == want[1]
    for b in appends:
        assert nm.files[str(b)][:-1] == m.files[str(b)]
    for b in folds:
        assert len(nm.files[str(b)]) == 1
    _assert_blooms_exact(spark, t)


# ------------------------------------------------------------------ shape


def _write_exchanges(plans):
    """Exchanges in the final plan of the last parquet write."""
    plan = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p][-1]
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return len(re.findall(r"\bExchange\b", tree))


def _first_execution(spark):
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


OPS = {
    "compact": lambda spark, t: compact_buckets(spark, t, ALL),
    "compact_zorder": lambda spark, t: compact_buckets(
        spark, t, ALL, zorder_by=["url", "warc_ts"]),
    "delete_where": lambda spark, t: delete_where(
        spark, t, F.col("lang") == "en"),
    "vacuum": lambda spark, t: vacuum_tombstones(spark, t, _ts(300)),
    "rehash": lambda spark, t: rehash_buckets(spark, t, 3),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_rewrite_write_plan_has_one_exchange(spark, tmp_path, op):
    t = _table(spark, tmp_path, bloom=False)
    first = _first_execution(spark)
    OPS[op](spark, t)
    assert _write_exchanges(_plans_since(spark, first)) == 1


def test_zorder_write_plan_evaluates_each_dimension_once(spark, tmp_path):
    """The Morton key spreads each dimension's bits with 32 references to
    it; the dimensions are bound as columns first, so the executed write
    plan (final and initial plan together) holds the url prefix expression
    where it is bound, at most twice, not 32 times per plan."""
    t = _table(spark, tmp_path, bloom=False)
    first = _first_execution(spark)
    OPS["compact_zorder"](spark, t)
    plan = [p for p in _plans_since(spark, first)
            if "InsertIntoHadoopFsRelationCommand" in p][-1]
    assert 1 <= len(re.findall(r"substring\(url(#\d+)?, 1, 1\)", plan)) <= 2
    assert {f.name for f in spark.read.parquet(
        t.manifest().files["0"][0]["path"]).schema} == set(COLS)


def test_compaction_runs_two_jobs(spark, tmp_path):
    """Compacting 8 dirty buckets runs the exchange's map stage and the
    write: 2 jobs."""
    t = _table(spark, tmp_path, bloom=False)
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        compact_buckets(spark, t, ALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_compaction_writes_one_bucket_per_task(spark, tmp_path):
    """Every write task of an 8-bucket compaction holds exactly one
    bucket: each bucket's one file comes from a distinct task partition
    (the ``part-<partition>-`` prefix of its name)."""
    t = _table(spark, tmp_path, bloom=False)
    compact_buckets(spark, t, ALL)
    m = t.manifest()
    parts = []
    for b in ALL:
        (e,) = m.files[str(b)]
        parts.append(re.match(r"part-(\d+)-", os.path.basename(e["path"]))[1])
    assert len(set(parts)) == N_BUCKETS


def test_granule_salts_run_no_job_and_place_one_per_partition(
    spark, monkeypatch
):
    monkeypatch.setattr(merge_mod, "_GRANULE_SALTS", {})
    sc = spark.sparkContext
    group = f"salts-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        salts = merge_mod._granule_salts(spark, 13)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    placed = (
        spark.createDataFrame([(s,) for s in salts], "s int")
        .repartition(13, "s").rdd.glom().collect()
    )
    assert [[r.s for r in p] for p in placed] == [[s] for s in salts]
