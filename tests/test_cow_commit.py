"""Copy-on-write commit shape (lake/merge._merge_cow): one pre-pass job over
the batch, blooms from the batch instead of a rebuild over the written
files, one exchange in the fold write.

- The pre-pass reports the same counts the commit always reported, on
  tables with and without blooms, including the no-op results.
- Every bloom a cow commit writes equals ``build_bloom_deltas`` over the
  bucket's live files, in bits and key count (fold, bloom-skip append,
  first write into an empty bucket, and the rebuild fallback for a bucket
  with data but no bloom).
- One cow merge on a trickle-shaped bloom table runs a pinned number of
  Spark jobs, its write plan has one exchange above the union, and the
  driver loads no bloom.
"""

import dataclasses
import datetime
import re
import sys
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import embulk_input_marketo_spark.lake.merge as merge_mod
import embulk_input_marketo_spark.replay as replay_mod
from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.lake import bloom as B
from embulk_input_marketo_spark.lake.merge import MergeResult, merge_batch
from embulk_input_marketo_spark.lake.table import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)
N_BUCKETS = 8
# the reference rebuild, kept before any test spies on the module attribute
_BUILD = B.build_bloom_deltas


def _batch(spark, rows, base=0):
    return spark.createDataFrame(
        [
            (
                u,
                datetime.datetime(2026, 1, 1)
                + datetime.timedelta(seconds=base + i),
                f"t{u}@{base}",
                op,
                base + i,
            )
            for i, (u, op) in enumerate(rows)
        ],
        "url string, warc_ts timestamp, text string, op string, _lsn long",
    )


def _table(tmp_path, name, bloom=True):
    return LakeTable.create(
        str(tmp_path / name), SCHEMA, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS, bloom_bits=(1 << 14) if bloom else 0,
    )


def _buckets_of(spark, keys):
    rows = (
        spark.createDataFrame([(k,) for k in keys], "url string")
        .select("url", bucket_expr("url", N_BUCKETS).alias("b"))
        .collect()
    )
    return {r["url"]: int(r["b"]) for r in rows}


def _keys_by_bucket(spark, per_bucket=4, prefix="k"):
    """{bucket: [keys]} with ``per_bucket`` keys hashing to each bucket."""
    out: dict[int, list[str]] = {b: [] for b in range(N_BUCKETS)}
    for k, b in sorted(
        _buckets_of(spark, [f"{prefix}{i}" for i in range(400)]).items()
    ):
        if len(out[b]) < per_bucket:
            out[b].append(k)
    assert all(len(v) == per_bucket for v in out.values())
    return out


class TestPrepassCounts:
    """The counts a cow merge reports, against a reference computed
    independently of the merge: null keys, deletes, present and new keys,
    and the bloom-skipped buckets from the blooms the table holds."""

    SEED = [(f"a{i}", "I") for i in range(20)]
    MIXED = (
        [("a1", "U"), ("a2", "D"), (None, "I"), (None, "D"), ("gone", "D")]
        + [(f"n{i}", "I") for i in range(10)]
    )

    def _expected_skipped(self, spark, t, keys):
        """Touched buckets none of whose batch keys the table's blooms may
        hold (each bucket here has < 8 generations)."""
        m = t.manifest()
        by_bucket = _buckets_of(spark, keys)
        hashes = dict(zip(keys, B.probe_hashes(spark, keys)))
        might: dict[int, bool] = {}
        for k, b in by_bucket.items():
            ptr = m.bloom_ptrs.get(str(b))
            if ptr is None:
                hit = str(b) in set(m.files)
            else:
                bits, mb, kk, _n = B.load_bloom(t.meta_dir, ptr)
                hit = B.might_contain(bits, mb, kk, *hashes[k])
            might[b] = might.get(b, False) or hit
        return sum(1 for hit in might.values() if not hit)

    @pytest.mark.parametrize("bloom", [True, False])
    def test_mixed_batch_counts(self, spark, tmp_path, bloom):
        t = _table(tmp_path, "t", bloom=bloom)
        merge_batch(spark, t, _batch(spark, self.SEED), "b1", mode="cow")
        keys = [u for u, _ in self.MIXED if u is not None]
        touched = len(set(_buckets_of(spark, keys).values()))
        skipped = self._expected_skipped(spark, t, keys) if bloom else 0
        if bloom:
            assert 0 < skipped < touched, "the batch must mix folds and skips"

        r = merge_batch(
            spark, t, _batch(spark, self.MIXED, base=100), "b2", mode="cow",
            bloom_fast_path=True,
        )
        assert r == MergeResult(
            True, r.version, rows_in=13, rows_upserted=11, rows_deleted=2,
            touched_buckets=touched, compacted_buckets=touched - skipped,
            rows_null_key=2,
        )
        s = t.manifest().summary
        assert (
            s["rows_in"], s["rows_deleted"], s["rows_null_key"],
            s["touched_buckets"], s["bloom_skipped_buckets"],
        ) == (13, 2, 2, touched, skipped)
        got = {row.url: row.text for row in t.read(spark).collect()}
        want = {f"a{i}": f"ta{i}@0" for i in range(20) if i != 2}
        want["a1"] = "ta1@100"
        want.update({f"n{i}": f"tn{i}@100" for i in range(10)})
        assert got == want

    @pytest.mark.parametrize("bloom", [True, False])
    def test_noop_batches(self, spark, tmp_path, bloom):
        t = _table(tmp_path, "t", bloom=bloom)
        merge_batch(spark, t, _batch(spark, self.SEED), "b1", mode="cow")
        v = t.current_version()
        nulls = merge_batch(
            spark, t, _batch(spark, [(None, "I"), (None, "D"), (None, "U")]),
            "b2", mode="cow", bloom_fast_path=True,
        )
        assert nulls == MergeResult(False, v, 0, 0, 0, 0, rows_null_key=3)
        empty = merge_batch(
            spark, t, _batch(spark, [(None, "I")]).limit(0), "b3",
            mode="cow", bloom_fast_path=True,
        )
        assert empty == MergeResult(False, v, 0, 0, 0, 0)
        assert t.current_version() == v


class TestBloomIdentity:
    """Blooms a cow commit writes are byte-identical to a rebuild over the
    bucket's live files."""

    def _rebuilt(self, spark, t):
        m = t.manifest()
        paths = [e["path"] for b in m.files for e in m.files[b]]
        keyed = (
            spark.read.schema(T.StructType([m.current_schema()["url"]]))
            .parquet(*paths)
            .select(bucket_expr("url", m.n_buckets).alias("_b"),
                    *B.hash_cols("url"))
        )
        return _BUILD(keyed, int(m.bloom_conf["m_bits"]), int(m.bloom_conf["k"]))

    def _assert_exact(self, spark, t):
        m = t.manifest()
        want = self._rebuilt(spark, t)
        assert set(m.bloom_ptrs) == set(want) == set(m.files)
        for b, (bits, n) in want.items():
            got_bits, _mb, _k, got_n = B.load_bloom(t.meta_dir, m.bloom_ptrs[b])
            assert got_bits.tobytes() == bits, f"bucket {b} bits"
            assert got_n == n, f"bucket {b} key count"

    def test_fold_append_and_first_write(self, spark, tmp_path, monkeypatch):
        builds = []
        monkeypatch.setattr(
            B, "build_bloom_deltas",
            lambda *a, **kw: builds.append(1) or _BUILD(*a, **kw),
        )
        kb = _keys_by_bucket(spark)
        t = _table(tmp_path, "t")
        # first writes into empty buckets, through the fold
        merge_batch(
            spark, t,
            _batch(spark, [(k, "I") for b in (0, 1, 2) for k in kb[b][:3]]),
            "b1", mode="cow",
        )
        self._assert_exact(spark, t)
        # bucket 0 folds (a present key), bucket 1 appends (new keys only),
        # bucket 3 is a first write through the append
        r = merge_batch(
            spark, t,
            _batch(spark, [(kb[0][0], "U"), (kb[1][3], "I"), (kb[3][0], "I"),
                           (kb[3][1], "D")], base=100),
            "b2", mode="cow", bloom_fast_path=True,
        )
        m = t.manifest()
        assert (r.touched_buckets, m.summary["bloom_skipped_buckets"]) == (3, 2)
        assert len({e["v"] for e in m.files["1"]}) == 2
        self._assert_exact(spark, t)
        # a multi-generation bucket folds; bucket 4 is a first write
        # through the fold
        merge_batch(
            spark, t,
            _batch(spark, [(kb[1][0], "D"), (kb[4][0], "I")], base=200),
            "b3", mode="cow",
        )
        assert len(t.manifest().files["1"]) == 1
        self._assert_exact(spark, t)
        assert builds == [], "cow commits of bloomed buckets rebuild nothing"

    def test_bucket_without_bloom_rebuilds(self, spark, tmp_path, monkeypatch):
        kb = _keys_by_bucket(spark)
        t = _table(tmp_path, "t")
        merge_batch(
            spark, t,
            _batch(spark, [(k, "I") for b in (0, 2) for k in kb[b][:3]]),
            "b1", mode="cow",
        )
        m = t.manifest()
        t.commit(dataclasses.replace(
            m, version=m.version + 1, parent=m.version,
            summary={"operation": "drop_bloom"},
            bloom_ptrs={b: p for b, p in m.bloom_ptrs.items() if b != "2"},
        ))
        assert "2" not in t.manifest().bloom_ptrs
        calls = []
        orig = merge_mod._bloom_ptr_updates

        def spy(spark_, table, m_, new_files, version, mode="union", **kw):
            calls.append((mode, sorted(new_files)))
            return orig(spark_, table, m_, new_files, version, mode=mode, **kw)

        monkeypatch.setattr(merge_mod, "_bloom_ptr_updates", spy)
        merge_batch(
            spark, t,
            _batch(spark, [(kb[2][0], "U"), (kb[0][3], "I")], base=100),
            "b2", mode="cow", bloom_fast_path=True,
        )
        assert calls == [("rebuild", ["2"])]
        self._assert_exact(spark, t)


def _write_plan_exchanges_above_union(spark, first_execution: int) -> int:
    """Exchanges between the write and the union, in the final plan of the
    last parquet write run since ``first_execution``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(first_execution, execs.size())
    ]
    plan = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p][-1]
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    above = tree.split("Union")[0]
    assert "Union" in tree
    return len(re.findall(r"\bExchange\b", above))


def test_cow_commit_jobs_plan_and_driver_blooms(spark, tmp_path, monkeypatch):
    """The trickle shape: a bloom table built as a two-generation
    merge-on-read table, then one incremental cow replay with the bloom
    fast path. Its merge runs 6 Spark jobs (the pre-pass: the batch's
    dedup, the cache, the per-bucket exchange and the collect; the write:
    its exchange and the write); it was 11 with the separate present-bucket,
    stats and bloom-rebuild jobs and a second shuffle in the fold."""
    path = str(tmp_path / "log")
    generator.changelog(spark, 3_000, 150, seed=21).write.parquet(path)
    log = spark.read.parquet(path)
    schema = T.StructType(
        [f for f in log.schema.fields
         if f.name not in ("lsn", "op", "schema_version")]
    )
    t = LakeTable.create(
        str(tmp_path / "t"), schema, key_col="url", lww_major="warc_ts",
        n_buckets=N_BUCKETS, bloom_bits=1 << 12,
    )
    replay_mod.replay(spark, log.where(F.col("lsn") < 2_000), t, n_slices=2,
                      compact_threshold=sys.maxsize, pipeline=True)

    loads, builds = [], []
    real_load = B.load_bloom
    monkeypatch.setattr(
        B, "load_bloom", lambda *a: loads.append(a) or real_load(*a))
    monkeypatch.setattr(
        B, "build_bloom_deltas",
        lambda *a, **kw: builds.append(a) or _BUILD(*a, **kw))
    sc = spark.sparkContext
    group = f"cow-commit-{uuid.uuid4().hex}"

    def merge_in_group(*a, **kw):
        sc.setJobGroup(group, group)
        try:
            return merge_batch(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(replay_mod, "merge_batch", merge_in_group)
    first = spark._jsparkSession.sharedState().statusStore().executionsList().size()
    report = replay_mod.replay(
        spark, log.where(F.col("lsn") < 2_300), t, mode="cow",
        bloom_fast_path=True,
    )
    (r,) = report.batches
    assert r.applied and r.compacted_buckets > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6
    assert loads == [] and builds == []
    assert _write_plan_exchanges_above_union(spark, first) == 1
