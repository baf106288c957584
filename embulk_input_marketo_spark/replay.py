"""Replay orchestrator: changelog window → schema reconcile → LWW MERGE →
atomic checkpoint advance.

This is the Spark re-expression of the reference's transaction lifecycle
(SURVEY.md §3.1): validate/plan window → discover schema → ingest → advance
``ConfigDiff``. One ``replay()`` call = one Embulk "transaction"; each inner
slice = one bulk-export window (``MarketoBaseBulkExtractInputPlugin.java:
140-175``), except slices here run through Spark's distributed plan instead of
a single-threaded CSV loop (the reference's data plane is one task,
``MarketoBaseInputPluginDelegate.java:104-108``).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import embulk_input_marketo_spark.lake.merge as lake_merge
from embulk_input_marketo_spark.checkpoint import batch_id_for, resume_hwm
from embulk_input_marketo_spark.lake import fsio
from embulk_input_marketo_spark.lake.merge import MergeResult, merge_batch
from embulk_input_marketo_spark.lake.table import LakeTable
from embulk_input_marketo_spark.operators.windows import bounded_scan, slice_range
from embulk_input_marketo_spark.registry import SchemaRegistry


@dataclass
class ReplayReport:
    batches: list[MergeResult] = field(default_factory=list)
    start_hwm: int = -1
    end_hwm: int = -1

    @property
    def rows_merged(self) -> int:
        """Rows written by applied merge commits (raw for mor appends,
        post-dedup for cow)."""
        return sum(b.rows_in for b in self.batches if b.applied)

    @property
    def events_applied(self) -> int:
        """Raw changelog events consumed (hwm advance) — the throughput
        numerator for the change-events/sec metric."""
        return max(self.end_hwm - self.start_hwm, 0)


def replay(
    spark: SparkSession,
    changelog: DataFrame,
    table: LakeTable,
    batch_span: int = 1_000_000,
    n_slices: int | None = None,
    mode: str = "mor",
    compact_threshold: int = 8,
    extract_text_from_html: bool = False,
    registry: SchemaRegistry | None = None,
    max_batches: int | None = None,
    on_batch: Callable[[MergeResult], Any] | None = None,
    pipeline: bool = True,
    bloom_fast_path: bool = False,
) -> ReplayReport:
    """Replay the changelog into the table from the committed checkpoint.

    - The job-start snapshot of ``max(lsn)`` clamps the run (C1): events that
      arrive mid-replay wait for the next run. It is taken once, before
      slicing, by one exchange-free job (:func:`_max_lsn`).
    - The window splits into ≤``batch_span`` half-open slices (C2); each is
      schema-reconciled and merged with an idempotent batch_id — killing the
      process anywhere and re-running converges (C3/C7). Slices reach the
      merge raw, several rows per key included: mor appends them and cow
      LWW-reduces them with the base rows in its fold
      (``lake/merge.merge_batch``).
    - mor slices are written ahead: slice k's data is staged to a private
      dir (``lake/merge.stage_merge``) while slice k-1's commit bookkeeping
      (footer stats, manifest build, fsync) publishes on one side thread
      (``commit_staged_merge``), strictly in slice order, so only the
      driver gap between write jobs is overlapped. Each slice is one write
      and one commit: a bucket due for compaction (``compact_threshold``
      generations) folds into the slice's own write. Slice k waits for
      slice k-1's commit before staging only when a fold may be due
      (``lake/merge._fold_possible``), since the fold reads the base that
      commit replaces. The commit thread runs with the caller's Spark local
      properties (job group included); ``on_batch`` fires on it. An
      uncommitted staged dir is invisible (expiry's in-flight guard skips
      it), an error path reclaims every unconsumed one, and a rerun
      converges from the committed hwm.
    - cow slices merge inline (``merge_batch``): each fold reads the base
      the previous slice wrote.
    - ``registry``: before each slice, wait for the in-flight commit, apply
      the registry changes effective by the slice's upper lsn, and project
      the slice against the re-read schema.
    - ``bloom_fast_path`` (cow mode with key blooms enabled): probe each
      slice's keys against the per-bucket blooms before the fold — buckets
      whose keys are all provably absent append instead of read+rewrite
      (``lake/merge.merge_batch``). The insert-heavy crawl-frontier knob;
      a no-op for mor (mor never reads base data on merge).
    - ``pipeline`` is accepted for older callers and selects nothing.
    """
    hwm = resume_hwm(table)
    report = ReplayReport(start_hwm=hwm, end_hwm=hwm)
    max_lsn = _max_lsn(changelog)
    if max_lsn <= hwm:
        # skip-batch guard (C7): nothing new, keep state
        return report
    if n_slices is not None:
        # derive the span from the lsn bounds this function already computed —
        # callers wanting "K slices" need no extra count() scan of their own
        batch_span = max(-(-(max_lsn - hwm) // n_slices), 1)
    slices = list(slice_range(hwm, max_lsn, batch_span))[:max_batches]

    def record(result: MergeResult, hi: int) -> None:
        report.batches.append(result)
        if result.applied:
            report.end_hwm = hi
        if on_batch:
            on_batch(result)

    def merge_kw(lo: int, hi: int) -> dict[str, Any]:
        return dict(
            batch_id=batch_id_for(table.path, lo, hi),
            checkpoint={"hwm_lsn": hi},
            window=(lo, hi),
            lineage={"lsn_lo": lo, "lsn_hi": hi, "source": "changelog"},
        )

    unconsumed: dict[int, Any] = {}  # slice index → staged, commit pending

    def commit(i: int, staged: Any) -> None:
        lo, hi = slices[i]
        try:
            result = lake_merge.commit_staged_merge(
                spark, table, staged, **merge_kw(lo, hi)
            )
        finally:
            # a commit attempt that consumed the dir (renamed it onto the
            # chain, or reclaimed it as a no-op / drift / conflict) drops
            # the claim; a failure before that leaves it for the cleanup below
            if not (staged.staging and os.path.exists(staged.staging)):
                unconsumed.pop(i, None)
        record(result, hi)

    pool = ThreadPoolExecutor(max_workers=1)
    pending = None  # the in-flight commit
    try:
        for i, (lo, hi) in enumerate(slices):
            m = table.manifest()
            if pending is not None and (
                registry is not None
                or lake_merge._fold_possible(m, compact_threshold)
            ):
                # the stage folds from, or reconciles against, the manifest
                # the in-flight commit is about to replace
                pending.result()
                pending = None
                m = table.manifest()
            if registry is not None:
                registry.reconcile(table, up_to_lsn=hi)
                m = table.manifest()
            batch, derive = _project_slice(
                bounded_scan(changelog, lo, hi), m, extract_text_from_html, mode
            )
            if mode == "cow":
                record(merge_batch(
                    spark, table, batch, mode="cow", derive=derive,
                    bloom_fast_path=bloom_fast_path, **merge_kw(lo, hi),
                ), hi)
                continue
            # label headroom: each in-order commit advances 1 version and at
            # most one commit is in flight, so +2 per slice keeps every
            # uncommitted staging dir above the committed frontier — the
            # property expiry's in-flight-writer guard relies on — and no
            # two slices' labels meet. The commit renames the dir to its
            # real version.
            unconsumed[i] = lake_merge.stage_merge(
                spark, table, batch, manifest=m, derive=derive,
                label=m.version + 2 * (i + 1),
                compact_threshold=compact_threshold,
            )
            if pending is not None:
                pending.result()  # surface a commit error before going deeper
            pending = pool.submit(
                _with_local_properties(spark, commit), i, unconsumed[i]
            )
        if pending is not None:
            pending.result()
            pending = None
    finally:
        # threads cannot be cancelled mid-write: wait for the in-flight
        # commit, then reclaim every staged dir no commit attempt consumed
        if pending is not None:
            try:
                pending.result()
            except Exception:
                pass  # already propagating the primary error
        pool.shutdown(wait=True)
        for staged in unconsumed.values():
            if staged.staging:
                fsio.remove_dir(staged.staging)
    return report


def _with_local_properties(spark: SparkSession, fn: Callable) -> Callable:
    """``fn``, run with a copy of the calling thread's Spark local
    properties (job group, scheduler pool) taken now: a side thread's jobs
    then belong to the caller's group, as they would inline."""
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def run(*args: Any) -> Any:
        jsc.setLocalProperties(props)
        return fn(*args)

    return run


def _max_lsn(changelog: DataFrame) -> int:
    """The job-start snapshot: the log's largest non-null lsn, or -1 for an
    empty or all-null log. A per-partition top-1 (``TakeOrderedAndProject``)
    — one job and no exchange, where ``agg(max)`` runs a partial-aggregate
    stage and a final stage."""
    rows = (
        changelog.select("lsn")
        .where(F.col("lsn").isNotNull())
        .orderBy(F.col("lsn").desc())
        .limit(1)
        .collect()
    )
    return rows[0]["lsn"] if rows else -1


def project_to_schema(df: DataFrame, m: Any) -> DataFrame:
    """Project an inbound changelog frame onto manifest ``m``'s current
    schema, plus ``op`` and ``lsn`` as ``_lsn``: the shape every merge
    takes, from the batch replay and from both streaming replays.

    - inbound rows may still carry pre-rename column names (a source that
      lags the registry); translate through the rename log, except a name
      the current schema holds again: after ``drop lang`` and a re-``add``
      of ``lang``, an inbound ``lang`` is the re-added column, not the
      drop tombstone
    - project to current schema (+op); unknown inbound columns dropped,
      missing ones padded with typed nulls, types cast — the
      included_fields ∩ describe discipline
      (LeadServiceResponseMapperBuilder.java:47-76)"""
    cur_fields = m.current_schema().fields
    cur_names = {f_.name for f_ in cur_fields}
    for r in m.renames:
        if (
            r["old"] in df.columns
            and r["old"] not in cur_names
            and r["new"] not in df.columns
        ):
            df = df.withColumnRenamed(r["old"], r["new"])
    proj = []
    inbound = dict(zip(df.columns, df.schema.fields))
    for f_ in cur_fields:
        if f_.name in inbound:
            c = F.col(f_.name)
            if inbound[f_.name].dataType != f_.dataType:
                c = c.cast(f_.dataType)
            proj.append(c.alias(f_.name))
        else:
            proj.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*proj, F.col("op"), F.col("lsn").alias("_lsn"))


def _project_slice(
    window_df: DataFrame,
    m: Any,
    extract_text_from_html: bool,
    mode: str,
) -> tuple[DataFrame, dict[str, Any] | None]:
    """One slice's schema discipline: :func:`project_to_schema`, and the
    deferred-text derive hook."""
    batch = project_to_schema(window_df, m)
    derive = None
    if extract_text_from_html and "text" in m.current_schema().fieldNames():
        # the engine's own text derivation (input_hint §2.8), Arrow-native
        # over the html payload; byte-identical per url to the oracle's text
        from embulk_input_marketo_spark.functions.textops import (
            extract_text_arrow as extract_text,
        )

        if mode == "mor":
            # defer to the write tasks (merge_batch derive=) so the
            # bucket shuffle carries a null placeholder, not a second
            # copy of ~the html bytes — shuffle width is the engine's
            # memory-bandwidth hot spot at high core counts
            derive = {"text": extract_text(F.col("html"))}
            batch = batch.withColumn("text", F.lit(None).cast("string"))
        else:
            batch = batch.withColumn("text", extract_text(F.col("html")))
    return batch, derive

