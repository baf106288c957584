"""One write per merge-on-read slice (lake/merge._stage_mor): the write tasks
LWW-reduce the batch behind its one exchange, derive text for the winners
only, and a bucket whose next generation would reach ``compact_threshold``
folds its base rows into that same write.

- Answers: against a reference kept in this file in the earlier shape (raw
  append, then ``compact_buckets`` once a bucket's generation count reaches
  the threshold), a replay leaves the same state at every slice's version,
  the same change feed between them and exact blooms — at thresholds 2, 3
  and 8, with and without blooms, over a log with deletes and re-inserts,
  late events, in-slice duplicates, null keys, a registry add and widen
  mid-replay and derived text.
- Shape: no compaction commit in the chain, one version per slice, one
  generation per bucket after a fold, the text UDF above the reduce above
  the single exchange, and the jobs of a folding slice.
- Protocol: a fold whose base moves before its commit raises
  :class:`StaleStagedMergeError` and changes nothing; a crash in a folding
  stage or commit is invisible and a rerun converges.
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
import embulk_input_marketo_spark.replay as replay_mod
from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.checkpoint import batch_id_for
from embulk_input_marketo_spark.functions.compare import content_hash
from embulk_input_marketo_spark.lake import LakeTable, merge_batch
from embulk_input_marketo_spark.lake.merge import (
    StaleStagedMergeError,
    commit_staged_merge,
    compact_buckets,
    stage_merge,
)
from embulk_input_marketo_spark.operators.windows import (
    bounded_scan,
    slice_range,
)
from embulk_input_marketo_spark.registry import RegistryEntry, SchemaRegistry
from embulk_input_marketo_spark.replay import replay
from test_cow_commit import _assert_blooms_exact

N_EVENTS = 2_400
SPAN = 300  # 8 slices: threshold 8 folds in the last one
N_BUCKETS = 4
WIDEN_AT = 700
ADD_AT = 1_600
# crafted keys on top of the generator's updates, deletes, late events and
# duplicates: each case lands in a known slice
DEL_URL, LATE_URL, DUP_URL = "https://x.org/del", "https://x.org/late", "https://x.org/dup"


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    """The generator's log with ``score`` (widened mid-replay), every 97th
    event's key nulled, and crafted events: ``DEL_URL`` inserted, deleted,
    then re-inserted in later slices; ``LATE_URL`` updated, then an older
    ``warc_ts`` at a higher lsn; ``DUP_URL`` three times in one slice."""
    p = str(tmp_path_factory.mktemp("foldlog") / "changelog.parquet")
    log = generator.changelog(spark, N_EVENTS, 240, seed=13)
    log = log.withColumn(
        "url", F.when(F.col("lsn") % 97 == 5, F.lit(None)).otherwise(F.col("url"))
    ).withColumn("score", F.length("html").cast("long"))
    proto = log.where(F.col("url").isNotNull()).limit(1).first().asDict()

    def event(url, lsn, op, sec):
        ts = proto["warc_ts"].replace(microsecond=0)
        return {**proto, "url": url, "lsn": lsn, "op": op,
                "warc_ts": ts + datetime.timedelta(seconds=sec),
                "html": f"<html><body>{url} {lsn}</body></html>".encode()}

    crafted = [
        # the crafted lsns replace generator events of the same lsn
        event(DEL_URL, 10, "I", 10_000), event(DEL_URL, 650, "D", 10_100),
        event(DEL_URL, 1_250, "I", 10_200),
        event(LATE_URL, 20, "U", 20_000), event(LATE_URL, 950, "U", 100),
        event(DUP_URL, 1_810, "I", 30_000), event(DUP_URL, 1_820, "U", 30_010),
        event(DUP_URL, 1_830, "U", 30_005),
    ]
    lsns = [e["lsn"] for e in crafted]
    extra = spark.createDataFrame(
        [tuple(e[c] for c in log.columns) for e in crafted], log.schema
    )
    log.where(~F.col("lsn").isin(lsns)).unionByName(extra).write.parquet(p)
    return spark.read.parquet(p)


SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("score", T.IntegerType()),
])
COLS = ["url", "warc_ts", "html", "text", "lang", "score", "text_encoding"]


def _registry():
    return SchemaRegistry([
        RegistryEntry(1, "score", "long", "widen:integer", effective_lsn=WIDEN_AT),
        RegistryEntry(2, "text_encoding", "string", "add", effective_lsn=ADD_AT),
    ])


def _table(tmp_path, name, bloom):
    return LakeTable.create(
        str(tmp_path / f"{name}-{uuid.uuid4().hex[:6]}"), SCHEMA,
        key_col="url", n_buckets=N_BUCKETS, bloom_bits=(1 << 12) if bloom else 0,
    )


def _generations(m, b):
    return len({e["v"] for e in m.files.get(b, [])})


def _raw_append(spark, t, batch, derive, batch_id, hi):
    """The earlier merge-on-read commit: the batch's raw rows (several per
    key, derived text on every row, null keys dropped) appended as one
    unreduced generation; blooms OR'd with the new keys."""
    m = t.manifest()
    full, cols, derive = merge_mod._prepare_batch(
        t, m, batch, "op", "_lsn", derive, "mor"
    )
    rows = full.where(F.col(m.key_col).isNotNull())
    for name, expr in (derive or {}).items():
        rows = rows.withColumn(name, expr)
    v = m.version + 1
    staging = t.snapshot_staging_dir(v)
    rows.select(*cols, "_b").write.partitionBy("_b").parquet(staging)
    new = merge_mod._enumerate_bucket_files(
        staging, m.schema_version, v, reduced=False,
        stats_col=m.key_col, major_col=m.lww_major,
    )
    applied, ckpt = merge_mod._commit_bookkeeping(
        m, batch_id, {"hwm_lsn": hi}, None, None
    )
    t.commit(m.evolve(
        files=m.files.with_updates(
            {b: list(m.files.get(b, [])) + es for b, es in new.items()}
        ),
        applied_batches=applied,
        checkpoint=ckpt,
        summary={"operation": "merge", "batch_id": batch_id},
        bloom_ptrs={**m.bloom_ptrs,
                    **merge_mod._bloom_ptr_updates(spark, t, m, new, v)},
    ), staging)


def _reference(spark, log, t, threshold, registry):
    """The earlier replay: per slice, reconcile the registry, raw-append
    the slice, then compact every bucket whose generation count reached
    the threshold in a second commit. Returns each slice's last version."""
    versions = []
    max_lsn = log.agg(F.max("lsn")).first()[0]
    for lo, hi in slice_range(-1, max_lsn, SPAN):
        registry.reconcile(t, up_to_lsn=hi)
        m = t.manifest()
        batch, derive = replay_mod._project_slice(
            bounded_scan(log, lo, hi), m, True, "mor"
        )
        _raw_append(spark, t, batch, derive, batch_id_for(t.path, lo, hi), hi)
        m = t.manifest()
        over = [int(b) for b in m.files if _generations(m, b) >= threshold]
        if over:
            compact_buckets(spark, t, over)
        versions.append(t.current_version())
    return versions


def _state(spark, t, version=None):
    df = t.read(spark, version=version)
    cols = [c for c in COLS if c in df.columns]
    return cols, content_hash(df.select(*cols), cols)


def _changes(spark, t, a, b):
    df = t.changes(spark, a, b)
    cols = [c for c in COLS if c in df.columns] + ["_change"]
    return collections.Counter(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("bloom", [False, True])
@pytest.mark.parametrize("threshold", [2, 3, 8])
def test_replay_matches_append_then_compact(spark, changelog, tmp_path,
                                            threshold, bloom):
    got = _table(tmp_path, "got", bloom)
    ref = _table(tmp_path, "ref", bloom)
    report = replay(spark, changelog, got, batch_span=SPAN,
                    compact_threshold=threshold, extract_text_from_html=True,
                    registry=_registry())
    ref_versions = _reference(spark, changelog, ref, threshold, _registry())
    assert all(b.applied for b in report.batches)
    assert len(report.batches) == len(ref_versions) == 8
    assert any(b.compacted_buckets for b in report.batches)
    assert sum(b.rows_null_key for b in report.batches) == \
        changelog.where(F.col("url").isNull()).count()

    got_versions = [b.version for b in report.batches]
    prev = (0, 0)
    for gv, rv in zip(got_versions, ref_versions):
        assert _state(spark, got, gv) == _state(spark, ref, rv), (gv, rv)
        assert _changes(spark, got, prev[0], gv) == \
            _changes(spark, ref, prev[1], rv), (gv, rv)
        prev = (gv, rv)
    m = got.manifest()
    assert all(_generations(m, b) < threshold for b in m.files)
    # the crafted keys: re-inserted, the late event lost, the last writer
    # of the in-slice duplicates won
    final = {r.url: r for r in got.read(spark).where(
        F.col("url").startswith("https://x.org/")).collect()}
    assert set(final) == {DEL_URL, LATE_URL, DUP_URL}
    assert final[LATE_URL].html.endswith(" 20</body></html>")
    assert final[DUP_URL].html.endswith(" 1820</body></html>")
    assert final[DEL_URL].text and "1250" in final[DEL_URL].text
    if bloom:
        _assert_blooms_exact(spark, got)
        _assert_blooms_exact(spark, ref)


def test_one_write_and_commit_per_slice(spark, changelog, tmp_path):
    """Threshold 2: every slice after the first folds every bucket, in
    its own one commit; nothing in the chain is a compaction commit."""
    t = _table(tmp_path, "shape", bloom=False)
    log = changelog.where(F.col("lsn") < 4 * SPAN)
    report = replay(spark, log, t, batch_span=SPAN, compact_threshold=2)
    assert [b.version for b in report.batches] == [1, 2, 3, 4]
    assert [b.compacted_buckets for b in report.batches] == [0] + [N_BUCKETS] * 3
    assert "compact" not in {m.summary.get("operation") for m in t.history()}
    for r in report.batches[1:]:
        m = t.manifest(r.version)
        for b in m.files:
            (e,) = m.files[b]  # one generation, one file
            assert e["v"] == r.version and e["reduced"]


def test_folding_slice_plan_and_jobs(spark, changelog, tmp_path):
    """A folding slice with derived text: one Exchange, the reduce above
    it and the text UDF above the reduce; 2 jobs (the exchange's map stage
    and the write), plus the bloom rebuild's 2 on a bloom table."""
    from embulk_input_marketo_spark.functions.textops import extract_text_arrow

    sc = spark.sparkContext
    for bloom, want_jobs in ((False, 2), (True, 4)):
        t = _table(tmp_path, "plan", bloom)
        base = changelog.where(F.col("lsn") < SPAN).drop("text_encoding")
        merge_batch(spark, t, base, "b0", lsn_col="lsn", compact_threshold=2)
        batch = changelog.where(
            F.col("lsn").between(SPAN, 2 * SPAN - 1)
        ).drop("text_encoding").withColumn("text", F.lit(None).cast("string"))
        group = f"fold-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            r = merge_batch(spark, t, batch, "b1", lsn_col="lsn",
                            compact_threshold=2,
                            derive={"text": extract_text_arrow(F.col("html"))})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert r.compacted_buckets == N_BUCKETS
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == want_jobs
        plan = _last_write_plan(spark)
        tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
        assert len(re.findall(r"\bExchange\b", tree)) == 1
        udf = tree.index("ArrowEvalPython")
        agg = min(m.start() for m in re.finditer(r"\w*Aggregate\b", tree))
        assert udf < agg < tree.index("Exchange")


def _last_write_plan(spark):
    """The physical plan of the latest parquet write. The status store
    keeps only the most recent SQL executions, so a long session's
    execution count stops growing: search back from the newest."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size() - 1, -1, -1):
        plan = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return plan
    raise AssertionError("no parquet write recorded")


def _folding_stage(spark, changelog, t):
    """One committed slice, then the next staged at threshold 2: it folds
    every bucket."""
    merge_batch(spark, t, changelog.where(F.col("lsn") < SPAN)
                .drop("text_encoding"), "b0", lsn_col="lsn",
                compact_threshold=2)
    staged = stage_merge(
        spark, t, changelog.where(F.col("lsn").between(SPAN, 2 * SPAN - 1))
        .drop("text_encoding"),
        lsn_col="lsn", label=t.current_version() + 2, compact_threshold=2,
    )
    assert sorted(staged.folded) == [str(b) for b in range(N_BUCKETS)]
    return staged


def test_commit_of_a_moved_fold_raises(spark, changelog, tmp_path):
    t = _table(tmp_path, "stale", bloom=True)
    staged = _folding_stage(spark, changelog, t)
    # another writer appends to the folded buckets
    merge_batch(spark, t, changelog.where(F.col("lsn").between(
        2 * SPAN, 3 * SPAN - 1)).drop("text_encoding"), "other",
        lsn_col="lsn", compact_threshold=100)
    version, state = t.current_version(), _state(spark, t)
    with pytest.raises(StaleStagedMergeError, match="folded buckets"):
        commit_staged_merge(spark, t, staged, batch_id="b1")
    assert not os.path.exists(staged.staging)
    assert t.current_version() == version and _state(spark, t) == state
    assert "b1" not in t.applied_batch_ids()


@pytest.mark.parametrize("step", ["stage_write", "fold_commit"])
def test_crash_in_a_folding_slice_is_invisible(spark, changelog, tmp_path,
                                               monkeypatch, step):
    """Crash-matrix steps 1 and 6: the second slice of a threshold-2 replay
    folds; a failure in its stage write or in its commit publishes nothing
    past the first slice, and a rerun converges to the uncrashed run."""
    log = changelog.where(F.col("lsn") < 3 * SPAN)
    clean = _table(tmp_path, "clean", bloom=True)
    replay(spark, log, clean, batch_span=SPAN, compact_threshold=2)

    t = _table(tmp_path, "crash", bloom=True)
    if step == "stage_write":
        real = merge_mod._enumerate_bucket_files
        calls = {"n": 0}

        def boom(*a, **k):
            calls["n"] += 1
            if calls["n"] == 2:  # after the second slice's data is written
                raise RuntimeError("injected stage failure")
            return real(*a, **k)

        monkeypatch.setattr(merge_mod, "_enumerate_bucket_files", boom)
    else:
        real = LakeTable.commit

        def boom(self, m, staging=None):
            if m.summary.get("compacted_buckets"):
                raise RuntimeError("injected commit failure")
            return real(self, m, staging)

        monkeypatch.setattr(LakeTable, "commit", boom)
    with pytest.raises(RuntimeError, match="injected"):
        replay(spark, log, t, batch_span=SPAN, compact_threshold=2)
    monkeypatch.undo()
    assert t.current_version() == 1  # only the first slice published
    assert _state(spark, t) == _state(spark, clean, 1)

    replay(spark, log, t, batch_span=SPAN, compact_threshold=2)
    assert t.current_version() == clean.current_version()
    assert _state(spark, t) == _state(spark, clean)
    assert t.applied_batch_ids() == clean.applied_batch_ids()
    assert t.checkpoint() == clean.checkpoint()
    _assert_blooms_exact(spark, t)


def test_threshold_counts_generations_not_files(spark, tmp_path):
    """A cold-start commit splits every bucket into two files of one
    generation: at threshold 2 the next slice folds (2 generations), at
    threshold 3 it appends though the bucket then holds 3 files."""
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("warc_ts", T.TimestampType())])
    ts = datetime.datetime(2026, 1, 1)

    def batch(lsn0):
        return spark.createDataFrame(
            [(f"u{i}", ts, "U", lsn0 + i) for i in range(200)],
            "url string, warc_ts timestamp, op string, _lsn long",
        )

    for threshold, folds in ((3, 0), (2, N_BUCKETS)):
        t = LakeTable.create(str(tmp_path / f"g{threshold}"), schema,
                             key_col="url", n_buckets=N_BUCKETS)
        merge_batch(spark, t, batch(0), "b0", compact_threshold=threshold)
        m = t.manifest()
        assert all(len(m.files[b]) == 2 and _generations(m, b) == 1
                   and not any(e["reduced"] for e in m.files[b])
                   for b in m.files)
        r = merge_batch(spark, t, batch(1000), "b1",
                        compact_threshold=threshold)
        assert r.compacted_buckets == folds
        assert r.rows_in == 200
        assert t.read(spark).count() == 200
