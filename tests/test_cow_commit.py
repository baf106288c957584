"""Copy-on-write commit shape (lake/merge._merge_cow): one pre-pass over
the raw batch, blooms from the batch instead of a rebuild over the written
files, one exchange in the fold write.

- The pre-pass reports the same counts the commit always reported, on
  tables with and without blooms, including the no-op results. A cow
  replay, whose slices reach the merge with several rows per key, reports
  the counts of the slice's LWW winners and writes the oracle state.
- Every bloom a cow commit writes equals ``build_bloom_deltas`` over the
  bucket's live files, in bits and key count (fold, bloom-skip append,
  first write into an empty bucket, and the rebuild fallback for a bucket
  with data but no bloom).
- One cow replay on a trickle-shaped bloom table runs a pinned number of
  Spark jobs, its snapshot plan has no exchange, its pre-pass scans no
  payload column, its write plan has one exchange above the union, and the
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
from embulk_input_marketo_spark.functions.compare import content_hash
from embulk_input_marketo_spark.lake import bloom as B
from embulk_input_marketo_spark.lake.merge import MergeResult, merge_batch
from embulk_input_marketo_spark.lake.table import LakeTable, bucket_expr
from embulk_input_marketo_spark.operators.dedup import lww_dedup

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


def _expected_skipped(spark, t, keys):
    """Touched buckets none of whose batch keys the table's blooms may hold
    (each bucket here has < 8 generations)."""
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


class TestPrepassCounts:
    """The counts a cow merge reports, against a reference computed
    independently of the merge: null keys, deletes, present and new keys,
    and the bloom-skipped buckets from the blooms the table holds."""

    SEED = [(f"a{i}", "I") for i in range(20)]
    MIXED = (
        [("a1", "U"), ("a2", "D"), (None, "I"), (None, "D"), ("gone", "D")]
        + [(f"n{i}", "I") for i in range(10)]
    )

    @pytest.mark.parametrize("bloom", [True, False])
    def test_mixed_batch_counts(self, spark, tmp_path, bloom):
        t = _table(tmp_path, "t", bloom=bloom)
        merge_batch(spark, t, _batch(spark, self.SEED), "b1", mode="cow")
        keys = [u for u, _ in self.MIXED if u is not None]
        touched = len(set(_buckets_of(spark, keys).values()))
        skipped = _expected_skipped(spark, t, keys) if bloom else 0
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

    def test_nondeterministic_batch_is_rejected(self, spark, tmp_path):
        """The pre-pass and the write evaluate the batch separately, so a
        plan that may differ between them is refused before any write; a
        materialized copy of it merges."""
        t = _table(tmp_path, "t")
        merge_batch(spark, t, _batch(spark, self.SEED), "b1", mode="cow")
        v = t.current_version()
        batch = _batch(spark, self.MIXED, base=100).withColumn(
            "text", F.concat(F.col("text"), F.rand().cast("string"))
        )
        with pytest.raises(ValueError, match="non-deterministic"):
            merge_batch(spark, t, batch, "b2", mode="cow", bloom_fast_path=True)
        assert t.current_version() == v
        r = merge_batch(
            spark, t, batch.localCheckpoint(), "b2", mode="cow",
            bloom_fast_path=True,
        )
        assert r.applied and r.rows_in == 13
        _assert_blooms_exact(spark, t)


def _assert_blooms_exact(spark, t):
    """Every bucket's bloom equals a rebuild over its live files, in bits
    and key count."""
    m = t.manifest()
    paths = [e["path"] for b in m.files for e in m.files[b]]
    keyed = (
        spark.read.schema(T.StructType([m.current_schema()["url"]]))
        .parquet(*paths)
        .select(bucket_expr("url", m.n_buckets).alias("_b"),
                *B.hash_cols("url"))
    )
    want = _BUILD(keyed, int(m.bloom_conf["m_bits"]), int(m.bloom_conf["k"]))
    assert set(m.bloom_ptrs) == set(want) == set(m.files)
    for b, (bits, n) in want.items():
        got_bits, _mb, _k, got_n = B.load_bloom(t.meta_dir, m.bloom_ptrs[b])
        assert got_bits.tobytes() == bits, f"bucket {b} bits"
        assert got_n == n, f"bucket {b} key count"


class TestReplayCountParity:
    """A cow replay hands the merge raw slice rows, several per key. It
    reports the counts of the slice's LWW winners (``lww_dedup``), null-key
    rows counted as they arrive, and writes the oracle state."""

    BASE_EVENTS = 400
    COLS = ["url", "warc_ts", "html", "text", "lang", "text_encoding"]

    def _log(self, spark, tmp_path):
        """A generated base log, then one slice of hand-made edge cases."""
        base = generator.changelog(spark, self.BASE_EVENTS, 40, seed=5)
        a, b, c = sorted(
            r.url for r in generator.expected_final_state(base).collect()
        )[:3]
        t0 = datetime.datetime(2024, 1, 2)  # after every base event

        def ts(sec):
            return None if sec is None else t0 + datetime.timedelta(seconds=sec)

        nm1, nm2 = "https://null-major.example/1", "https://null-major.example/2"
        events = [
            (a, "U", 1), (a, "D", 2),  # an update then a delete: the delete wins
            (b, "D", 3), (b, "I", 4),  # a delete then a re-insert
            (c, "U", 10), (c, "U", 5),  # an older warc_ts at a higher lsn loses
            (nm1, "I", 6), (nm1, "U", None),  # a null major loses
            (nm2, "I", None),  # a lone null major wins
            (None, "I", 7), (None, "D", 8),  # null keys
        ] + [(f"https://new.example/{i}", "I", 20 + i) for i in range(12)] + [
            ("https://new.example/0", "U", 40),
        ]
        rows = []
        for i, (url, op, sec) in enumerate(events):
            lsn = self.BASE_EVENTS + i
            live = op != "D"
            rows.append((
                lsn, op, url, ts(sec),
                f"<p>{url}@{lsn}</p>".encode() if live else None,
                f"{url}@{lsn}" if live else None,
                "en" if live else None, "utf-8" if live else None, 2,
            ))
        nullable = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in base.schema]
        )
        path = str(tmp_path / "log")
        base.unionByName(spark.createDataFrame(rows, nullable)).write.parquet(path)
        return spark.read.parquet(path)

    def _table(self, tmp_path, log, name, bloom):
        schema = T.StructType(
            [f for f in log.schema.fields
             if f.name not in ("lsn", "op", "schema_version")]
        )
        return LakeTable.create(
            str(tmp_path / name), schema, key_col="url", lww_major="warc_ts",
            n_buckets=N_BUCKETS, bloom_bits=(1 << 12) if bloom else 0,
        )

    @pytest.mark.parametrize("bloom", [True, False])
    def test_counts_match_slice_winners(self, spark, tmp_path, bloom):
        log = self._log(spark, tmp_path)
        t = self._table(tmp_path, log, "t", bloom)
        replay_mod.replay(
            spark, log.where(F.col("lsn") < self.BASE_EVENTS), t, mode="cow"
        )
        sl = log.where(F.col("lsn") >= self.BASE_EVENTS)
        keyed = sl.where(F.col("url").isNotNull())
        won = lww_dedup(keyed, "url", ["warc_ts", "lsn"]).collect()
        keys = sorted({r.url for r in won})
        rows_in = len(won)
        rows_deleted = sum(r.op == "D" for r in won)
        assert (rows_in, rows_deleted) == (17, 1)
        touched = len(set(_buckets_of(spark, keys).values()))
        skipped = _expected_skipped(spark, t, keys) if bloom else 0
        if bloom:
            assert 0 < skipped < touched, "the slice must mix folds and skips"

        (r,) = replay_mod.replay(
            spark, log, t, mode="cow", bloom_fast_path=True
        ).batches
        assert r == MergeResult(
            True, r.version, rows_in=rows_in,
            rows_upserted=rows_in - rows_deleted, rows_deleted=rows_deleted,
            touched_buckets=touched, compacted_buckets=touched - skipped,
            rows_null_key=2,
        )
        s = t.manifest().summary
        assert (
            s["rows_in"], s["rows_upserted"], s["rows_deleted"],
            s["rows_null_key"], s["touched_buckets"],
            s["bloom_skipped_buckets"],
        ) == (rows_in, rows_in - rows_deleted, rows_deleted, 2, touched,
              skipped)
        want = generator.expected_final_state(log).where(
            F.col("url").isNotNull()
        )
        assert content_hash(t.read(spark).select(*self.COLS)) == content_hash(
            want.select(*self.COLS)
        )
        if bloom:
            _assert_blooms_exact(spark, t)


class TestBloomIdentity:
    """Blooms a cow commit writes are byte-identical to a rebuild over the
    bucket's live files."""

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
        _assert_blooms_exact(spark, t)
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
        _assert_blooms_exact(spark, t)
        # a multi-generation bucket folds; bucket 4 is a first write
        # through the fold
        merge_batch(
            spark, t,
            _batch(spark, [(kb[1][0], "D"), (kb[4][0], "I")], base=200),
            "b3", mode="cow",
        )
        assert len(t.manifest().files["1"]) == 1
        _assert_blooms_exact(spark, t)
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
        _assert_blooms_exact(spark, t)


def _plans_since(spark, first_execution: int) -> list[str]:
    """Physical plan descriptions of the SQL executions run since
    ``first_execution``, in order."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        execs.apply(i).physicalPlanDescription()
        for i in range(first_execution, execs.size())
    ]


def _write_plan_exchanges_above_union(plans: list[str]) -> int:
    """Exchanges between the write and the union, in the final plan of the
    last parquet write."""
    plan = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p][-1]
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    above = tree.split("Union")[0]
    assert "Union" in tree
    return len(re.findall(r"\bExchange\b", above))


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)


def test_cow_commit_jobs_plan_and_driver_blooms(spark, tmp_path, monkeypatch):
    """The trickle shape: a bloom table built as a two-generation
    merge-on-read table, then one incremental cow replay with the bloom
    fast path.

    - The replay runs 5 Spark jobs: the max-lsn snapshot (1), the merge's
      pre-pass (2: its exchange and the collect) and its write (2: its
      exchange and the write). A two-stage snapshot, a batch dedup and a
      cache of the batch would make it 8.
    - Its merge runs 4 of them.
    - The snapshot's plan has no exchange; the pre-pass scans no payload
      column; the write plan has one exchange above the union; the driver
      loads and rebuilds no bloom."""
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
                      compact_threshold=sys.maxsize)

    loads, builds = [], []
    real_load = B.load_bloom
    monkeypatch.setattr(
        B, "load_bloom", lambda *a: loads.append(a) or real_load(*a))
    monkeypatch.setattr(
        B, "build_bloom_deltas",
        lambda *a, **kw: builds.append(a) or _BUILD(*a, **kw))
    sc = spark.sparkContext
    outer = f"cow-replay-{uuid.uuid4().hex}"
    group = f"cow-commit-{uuid.uuid4().hex}"

    def merge_in_group(*a, **kw):
        sc.setJobGroup(group, group)
        try:
            return merge_batch(*a, **kw)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(replay_mod, "merge_batch", merge_in_group)
    first = spark._jsparkSession.sharedState().statusStore().executionsList().size()
    sc.setJobGroup(outer, outer)
    try:
        report = replay_mod.replay(
            spark, log.where(F.col("lsn") < 2_300), t, mode="cow",
            bloom_fast_path=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (r,) = report.batches
    assert r.applied and r.compacted_buckets > 0
    merge_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    replay_jobs = merge_jobs + len(sc.statusTracker().getJobIdsForGroup(outer))
    assert (replay_jobs, merge_jobs) == (5, 4)
    assert loads == [] and builds == []

    plans = _plans_since(spark, first)
    (snapshot,) = [p for p in plans if "TakeOrderedAndProject" in p]
    assert "Exchange" not in snapshot
    (prepass,) = [p for p in plans if "FlatMapGroupsInPandas" in p]
    (prepass_scan,) = set(_read_schemas(prepass))
    assert "url" in prepass_scan and "html" not in prepass_scan
    write = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p][-1]
    assert any("html" in rs for rs in _read_schemas(write))
    assert _write_plan_exchanges_above_union(plans) == 1
