"""Write-ahead replay: each merge-on-read slice is staged while the previous
slice's commit publishes on a side thread, strictly in slice order. Final
state, metadata invariants, crash reclamation and idempotence must all match
a reference that merges one slice at a time with synchronous ``merge_batch``.
"""

import glob
import os
import re

import pytest

from pyspark.sql import functions as F

from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.checkpoint import batch_id_for, resume_hwm
from embulk_input_marketo_spark.lake import LakeTable, merge_batch
from embulk_input_marketo_spark.lake.merge import (
    StaleStagedMergeError,
    commit_staged_merge,
    stage_merge,
)
from embulk_input_marketo_spark.operators.windows import (
    bounded_scan,
    slice_range,
)
from embulk_input_marketo_spark.replay import replay

N_EVENTS = 20_000
N_URLS = 1_500


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plog") / "changelog.parquet")
    generator.changelog(spark, N_EVENTS, N_URLS, seed=11).write.parquet(p)
    return spark.read.parquet(p)


def _schema(changelog_df):
    keep = {"url", "warc_ts", "html", "text", "lang", "text_encoding"}
    from pyspark.sql import types as T

    return T.StructType([f for f in changelog_df.schema.fields if f.name in keep])


def _mk(tmp_path, changelog_df, name):
    return LakeTable.create(str(tmp_path / name), _schema(changelog_df),
                            key_col="url", n_buckets=16)


def _reference_replay(spark, changelog_df, table, batch_span,
                      compact_threshold=8, extract_text_from_html=False):
    """The reference for write-ahead replay: every slice of the log from
    lsn -1 goes through one synchronous ``merge_batch`` — no staging ahead,
    no side thread."""
    from embulk_input_marketo_spark.functions.textops import extract_text_arrow

    max_lsn = changelog_df.agg(F.max("lsn")).first()[0]
    derive = (
        {"text": extract_text_arrow(F.col("html"))}
        if extract_text_from_html else None
    )
    return [
        merge_batch(
            spark, table, bounded_scan(changelog_df, lo, hi),
            batch_id=batch_id_for(table.path, lo, hi), lsn_col="lsn",
            compact_threshold=compact_threshold, checkpoint={"hwm_lsn": hi},
            window=(lo, hi), derive=derive,
        )
        for lo, hi in slice_range(-1, max_lsn, batch_span)
    ]


def _state_hash(spark, table):
    from embulk_input_marketo_spark.functions.compare import content_hash

    cols = ["url", "warc_ts", "html", "text", "lang", "text_encoding"]
    return content_hash(table.read(spark).select(*cols), cols)


@pytest.mark.parametrize("compact_threshold", [8, 2])
def test_pipelined_state_equals_sequential(spark, changelog, tmp_path,
                                           compact_threshold):
    """Same changelog through replay and the reference (threshold 2 folds
    every bucket from the second slice on, so each stage waits for the
    previous commit; threshold 8 never folds, so every stage runs ahead of
    the previous commit under a future label). Either way each slice is
    one commit."""
    seq = _mk(tmp_path, changelog, "seq")
    pipe = _mk(tmp_path, changelog, "pipe")
    ref = _reference_replay(spark, changelog, seq, 5_000,
                            compact_threshold=compact_threshold,
                            extract_text_from_html=True)
    r = replay(spark, changelog, pipe, batch_span=5_000,
               compact_threshold=compact_threshold,
               extract_text_from_html=True)
    assert len(r.batches) == len(ref) == 4
    assert all(b.applied for b in r.batches)
    assert r.end_hwm == resume_hwm(seq)
    assert [b.version for b in r.batches] == [b.version for b in ref] \
        == [1, 2, 3, 4]
    assert _state_hash(spark, pipe) == _state_hash(spark, seq)


def test_pipelined_metadata_invariants(spark, changelog, tmp_path):
    """After the commit-time relabel, the on-disk layout must be exactly a
    synchronous merge's: every entry's generation id ``v`` equals the version
    of a committed manifest, its path lives under a ``snap-{v:012d}-*`` dir
    of the SAME v, no dir carries a future (never-committed) label — i.e. no
    staging dir leaked — and the set of per-version data dirs on disk
    (committed generations + MoR-stranded pre-compaction ones, which expiry
    owns) matches the reference's."""
    table = _mk(tmp_path, changelog, "inv")
    replay(spark, changelog, table, batch_span=5_000, compact_threshold=2)
    seq = _mk(tmp_path, changelog, "inv_seq")
    _reference_replay(spark, changelog, seq, 5_000, compact_threshold=2)
    m = table.manifest()
    assert m.version == seq.manifest().version
    for b in set(m.files):
        for e in m.files[b]:
            v = int(e["v"])
            d = os.path.basename(os.path.dirname(os.path.dirname(e["path"])))
            got = re.search(r"snap-(\d{12})-", d)
            assert got and int(got.group(1)) == v, (e["path"], v)
            assert os.path.exists(e["path"])
            assert m.version >= v >= 1  # a committed version, never a label

    def disk_labels(t):
        return sorted(
            int(re.search(r"snap-(\d{12})-", os.path.basename(p)).group(1))
            for p in glob.glob(os.path.join(t.data_dir, "snap-*"))
        )

    assert disk_labels(table) == disk_labels(seq)
    assert max(disk_labels(table)) <= m.version  # no leaked future label


def test_pipelined_rerun_noops_and_resumes(spark, changelog, tmp_path):
    table = _mk(tmp_path, changelog, "rerun")
    r1 = replay(spark, changelog, table, batch_span=5_000)
    hwm = resume_hwm(table)
    assert hwm == r1.end_hwm
    r2 = replay(spark, changelog, table, batch_span=5_000)
    assert r2.events_applied == 0 and not r2.batches  # skip-batch guard


def test_error_midway_reclaims_inflight_stage(spark, changelog, tmp_path,
                                              monkeypatch):
    """Fail the FIRST commit: the lookahead slice is already staged — its
    dir must be reclaimed, nothing committed, and a plain rerun converges."""
    table = _mk(tmp_path, changelog, "crash")
    import embulk_input_marketo_spark.replay as replay_mod

    calls = {"n": 0}
    real = replay_mod.batch_id_for

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected commit failure")
        return real(*a, **k)

    monkeypatch.setattr(replay_mod, "batch_id_for", boom)
    with pytest.raises(RuntimeError, match="injected"):
        replay(spark, changelog, table, batch_span=5_000)
    monkeypatch.setattr(replay_mod, "batch_id_for", real)
    assert table.manifest().version == 0  # nothing published
    assert glob.glob(os.path.join(table.data_dir, "snap-*")) == []  # reclaimed
    seq = _mk(tmp_path, changelog, "crash_oracle")
    _reference_replay(spark, changelog, seq, 5_000)
    r = replay(spark, changelog, table, batch_span=5_000)
    assert all(b.applied for b in r.batches)
    assert _state_hash(spark, table) == _state_hash(spark, seq)


def test_commit_staged_rechecks_idempotence(spark, changelog, tmp_path):
    """A batch that lands (by another writer / a racing rerun) between stage
    and commit must no-op AND reclaim its staged dir."""
    table = _mk(tmp_path, changelog, "race")
    batch = changelog.where(F.col("lsn") < 1000)
    staged = stage_merge(spark, table, batch, lsn_col="lsn",
                         label=table.manifest().version + 3)
    # the same logical batch commits first through the normal path
    assert merge_batch(spark, table, batch, batch_id="dup",
                       lsn_col="lsn").applied
    r = commit_staged_merge(spark, table, staged, batch_id="dup")
    assert not r.applied
    assert not os.path.exists(staged.staging)  # loser reclaimed
    # exactly one generation of data on disk
    assert len(glob.glob(os.path.join(table.data_dir, "snap-*"))) == 1


def test_commit_staged_raises_on_schema_drift(spark, changelog, tmp_path):
    table = _mk(tmp_path, changelog, "drift")
    batch = changelog.where(F.col("lsn") < 1000)
    staged = stage_merge(spark, table, batch, lsn_col="lsn",
                         label=table.manifest().version + 3)
    table.evolve_schema([{"change": "add", "name": "new_col", "type": "string"}])
    with pytest.raises(StaleStagedMergeError):
        commit_staged_merge(spark, table, staged, batch_id="drift1")
    assert not os.path.exists(staged.staging)


def test_commit_thread_jobs_run_in_the_callers_job_group(spark, changelog,
                                                        tmp_path):
    """Under ``setJobGroup``, every job a two-slice replay on a bloom table
    runs — the side thread's commits (bloom upkeep) included — is in the
    caller's group: the status store records no job in that span outside
    it. Marker jobs in their own groups bound the span."""
    import time
    import uuid

    table = LakeTable.create(str(tmp_path / "grp"), _schema(changelog),
                             key_col="url", n_buckets=16, bloom_bits=1 << 12)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex

    def marker(name):
        sc.setJobGroup(name, name)
        try:
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for _ in range(100):  # the status store is fed asynchronously
            ids = tracker.getJobIdsForGroup(name)
            if ids:
                return ids
            time.sleep(0.05)
        raise AssertionError(f"marker job {name} never recorded")

    lo = max(marker(f"before-{tag}"))
    group = f"replay-{tag}"
    sc.setJobGroup(group, group)
    try:
        r = replay(spark, changelog.where(F.col("lsn") < 4_000), table,
                   n_slices=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    hi = min(marker(f"after-{tag}"))
    assert len(r.batches) == 2 and all(b.applied for b in r.batches)
    in_group = set(tracker.getJobIdsForGroup(group))
    assert in_group and in_group == set(range(lo + 1, hi))
