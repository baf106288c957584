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

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_input_marketo_spark.checkpoint import batch_id_for, resume_hwm
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
    salt_buckets: int | None = None,
    mode: str = "mor",
    compact_threshold: int = 8,
    extract_text_from_html: bool = False,
    registry: SchemaRegistry | None = None,
    max_batches: int | None = None,
    on_batch: Callable[[MergeResult], Any] | None = None,
    pipeline: bool | str = False,
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
    - ``salt_buckets`` acts on mor only (its compactions); the cow fold
      reduces in its one bucket exchange, unsalted.
    - ``pipeline`` (mor only, ignored when a ``registry`` is given):
      write-ahead replay — slice k's data is staged to a private dir
      (lake/merge.stage_merge), the commit publishes strictly in slice order
      on a side thread while slice k+1's write job already runs
      (commit_staged_merge). ``True`` overlaps the COMMIT bookkeeping only
      (never two cluster jobs at once); ``"full"`` additionally overlaps
      adjacent slices' write jobs — see :func:`_replay_pipelined` for the
      measured tradeoff. This adds NO extra copy of the slice — it
      reorders already-necessary work into idle the commit gap (and, for
      "full", stage straggler tails) leaves: measured 10-15% of
      replay wall at 8 cores, and pure scaling loss — the same absolute
      driver latency hides behind 4x longer compute at a quarter the cores.
      Crash/idempotence semantics are unchanged — an uncommitted staged dir
      is invisible (expiry's in-flight guard skips it) and a rerun
      converges from the committed hwm exactly as before.
    - ``bloom_fast_path`` (cow mode with key blooms enabled): probe each
      slice's keys against the per-bucket blooms before the fold — buckets
      whose keys are all provably absent append instead of read+rewrite
      (``lake/merge.merge_batch``). The insert-heavy crawl-frontier knob;
      a no-op for mor (mor never reads base data on merge).
    """
    hwm = resume_hwm(table)
    max_lsn = _max_lsn(changelog)
    if max_lsn <= hwm:
        # skip-batch guard (C7): nothing new, keep state
        return ReplayReport(start_hwm=hwm, end_hwm=hwm)
    if n_slices is not None:
        # derive the span from the lsn bounds this function already computed —
        # callers wanting "K slices" need no extra count() scan of their own
        batch_span = max(-(-(max_lsn - hwm) // n_slices), 1)

    slices = list(slice_range(hwm, max_lsn, batch_span))

    if pipeline and registry is None and mode == "mor":
        if max_batches is not None:
            slices = slices[:max_batches]
        return _replay_pipelined(
            spark, changelog, table, slices, hwm, salt_buckets,
            compact_threshold, extract_text_from_html, on_batch,
            depth="full" if pipeline == "full" else "commit",
        )

    report = ReplayReport(start_hwm=hwm, end_hwm=hwm)
    for lo, hi in slices:
        if max_batches is not None and len(report.batches) >= max_batches:
            break
        if registry is not None:
            registry.reconcile(table, up_to_lsn=hi)

        window_df = bounded_scan(changelog, lo, hi)
        m = table.manifest()
        batch, derive = _project_slice(
            window_df, m, extract_text_from_html, mode
        )
        # both modes hand the merge raw slice rows. mor appends them
        # (LSM-style; compaction and the read-time reduce own the dedup);
        # cow reduces them with the base rows in its fold's one exchange
        result = merge_batch(
            spark,
            table,
            batch,
            batch_id=batch_id_for(table.path, lo, hi),
            salt_buckets=salt_buckets,
            mode=mode,
            compact_threshold=compact_threshold,
            checkpoint={"hwm_lsn": hi},
            window=(lo, hi),
            lineage={"lsn_lo": lo, "lsn_hi": hi, "source": "changelog"},
            derive=derive,
            bloom_fast_path=bloom_fast_path,
        )
        report.batches.append(result)
        if result.applied:
            report.end_hwm = hi
        if on_batch:
            on_batch(result)
    return report


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


def _project_slice(
    window_df: DataFrame,
    m: Any,
    extract_text_from_html: bool,
    mode: str,
) -> tuple[DataFrame, dict[str, Any] | None]:
    """One slice's schema discipline: rename-log translation, projection to
    the current schema, and the deferred-text derive hook.

    - inbound rows may still carry pre-rename column names (a source that
      lags the registry); translate through the rename log
    - project to current schema (+op); unknown inbound columns dropped,
      missing ones padded with typed nulls, types cast — the
      included_fields ∩ describe discipline
      (LeadServiceResponseMapperBuilder.java:47-76)"""
    cur_fields = m.current_schema().fields
    for r in m.renames:
        if r["old"] in window_df.columns and r["new"] not in window_df.columns:
            window_df = window_df.withColumnRenamed(r["old"], r["new"])
    proj = []
    inbound = dict(zip(window_df.columns, window_df.schema.fields))
    for f_ in cur_fields:
        if f_.name in inbound:
            c = F.col(f_.name)
            if inbound[f_.name].dataType != f_.dataType:
                c = c.cast(f_.dataType)
            proj.append(c.alias(f_.name))
        else:
            proj.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    batch = window_df.select(*proj, F.col("op"), F.col("lsn").alias("_lsn"))
    derive = None
    if extract_text_from_html and "text" in [f.name for f in cur_fields]:
        # the engine's own text derivation (input_hint §2.8): Arrow
        # pandas UDF over the html payload; output must be byte-identical
        # per url to the oracle's expected text
        # arrow transport: the Arrow-native twin of the pandas UDF —
        # same kernel, same bytes, but no per-row python objects on
        # either side of the worker exchange (textops.extract_text_arrow)
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


def _replay_pipelined(
    spark: SparkSession,
    changelog: DataFrame,
    table: LakeTable,
    slices: list[tuple[int, int]],
    hwm: int,
    salt_buckets: int | None,
    compact_threshold: int,
    extract_text_from_html: bool,
    on_batch: Callable[[MergeResult], Any] | None,
    depth: str = "commit",
) -> ReplayReport:
    """Write-ahead replay: slice k+1's work runs CONCURRENTLY with slice k's
    commit; commits publish strictly in slice order (so hwm monotonicity,
    the window idempotence gate, and crash-rerun convergence are exactly the
    sequential path's).

    Why this is the scaling-correct shape: the per-commit driver latency
    (footer stats, manifest build, fsync) and each write stage's straggler
    tail are ABSOLUTE costs — at 4x the cores the compute that used to hide
    them is 4x shorter, so they surface as pure wide-config idle (profiled:
    10-15% of replay wall at 8 cores vs ~3% at 2). Overlapping the next
    slice's already-necessary work into that idle removes the serial
    fraction instead of amortizing it. On a 1000-executor cluster the same
    overlap hides the catalog round-trip per commit.

    ``depth`` picks how much overlaps:

    - ``"commit"`` (the ``pipeline=True`` default): slice k's COMMIT
      bookkeeping runs on a side thread under slice k+1's write job; at most
      one cluster job at a time, so no extra memory-bandwidth contention —
      this reclaims the driver gap only.
    - ``"full"``: additionally stages slice k+1's WRITE JOB concurrently
      with slice k's (lookahead exactly 1 — deeper adds concurrent-shuffle
      memory pressure with no more idle to fill), filling straggler tails
      too. Measured on the single-box bench (8 pinned cores, 10M events,
      interleaved A/B x3): occupancy 0.85→0.94-0.97, gap 2.4s→0.6-1.2s,
      partial 3.0-3.8s→0.9-2.0s — but throughput FELL 5-15%: two concurrent
      16M-row write jobs inflate total task time ~30% on this
      bandwidth-capped host (same failure mode as the rejected scan
      prefetch). Kept because the tradeoff inverts when per-task time is
      NOT bandwidth-bound — real executors with their own memory channels,
      or remote-object-store scans — which is exactly where straggler tails
      dominate."""
    from concurrent.futures import ThreadPoolExecutor

    from embulk_input_marketo_spark.lake import fsio
    from embulk_input_marketo_spark.lake.merge import (
        commit_staged_merge,
        stage_merge,
    )

    report = ReplayReport(start_hwm=hwm, end_hwm=hwm)
    if not slices:
        return report
    m0 = table.manifest()

    def stage(i: int):
        lo, hi = slices[i]
        batch, derive = _project_slice(
            bounded_scan(changelog, lo, hi), m0, extract_text_from_html, "mor"
        )
        # label headroom: each in-order commit advances ≤2 versions (merge +
        # auto-compaction) and at most one stage runs ahead, so +3 per slice
        # keeps every UNCOMMITTED staging dir above the committed frontier —
        # the property expiry's in-flight-writer guard relies on. The commit
        # renames the dir to the version it actually lands at.
        return stage_merge(
            spark, table, batch, manifest=m0, salt_buckets=salt_buckets,
            derive=derive, label=m0.version + 3 * (i + 1),
        )

    staged_by_idx: dict[int, Any] = {}  # produced, commit not yet attempted

    def do_commit(i: int, staged) -> None:
        import os as _os

        try:
            lo, hi = slices[i]
            result = commit_staged_merge(
                spark, table, staged,
                batch_id=batch_id_for(table.path, lo, hi),
                compact_threshold=compact_threshold,
                checkpoint={"hwm_lsn": hi},
                window=(lo, hi),
                lineage={"lsn_lo": lo, "lsn_hi": hi, "source": "changelog"},
                salt_buckets=salt_buckets,
            )
        finally:
            # drop the cleanup claim only once the commit attempt CONSUMED
            # the dir (success renamed it onto the chain; a no-op / drift /
            # conflict reclaimed it). A failure upstream of the consume —
            # or an unexpected one inside it — leaves the claim, and the
            # replay-level cleanup reclaims the dir
            if not (staged.staging and _os.path.exists(staged.staging)):
                staged_by_idx.pop(i, None)
        report.batches.append(result)
        if result.applied:
            report.end_hwm = hi
        if on_batch:
            on_batch(result)

    # commits run on ONE worker, submitted (and completion-checked) strictly
    # in slice order — the report sees them in order and at most one commit
    # is ever in flight, exactly the sequential path's publish discipline
    stage_futures: dict[int, Any] = {}
    stage_pool = ThreadPoolExecutor(max_workers=2) if depth == "full" else None
    commit_pool = ThreadPoolExecutor(max_workers=1)
    pending = None
    try:
        for i in range(len(slices)):
            if stage_pool is not None:
                if i not in stage_futures:
                    stage_futures[i] = stage_pool.submit(stage, i)
                if i + 1 < len(slices) and i + 1 not in stage_futures:
                    stage_futures[i + 1] = stage_pool.submit(stage, i + 1)
                staged = stage_futures.pop(i).result()
            else:
                staged = stage(i)
            staged_by_idx[i] = staged
            if pending is not None:
                pending.result()  # surface commit errors before going deeper
            pending = commit_pool.submit(do_commit, i, staged)
        if pending is not None:
            pending.result()
            pending = None
    finally:
        # an error path must not leak a staged-but-uncommitted dir — wait
        # for whatever is in flight (threads can't be cancelled mid-write),
        # then reclaim anything no commit attempt consumed
        if pending is not None:
            try:
                pending.result()
            except Exception:
                pass  # already propagating the primary error
        for f in stage_futures.values():
            try:
                s = f.result()
                if s.staging:
                    fsio.remove_dir(s.staging)
            except Exception:
                pass  # the stage itself failed — nothing durable leaked
        commit_pool.shutdown(wait=True)
        if stage_pool is not None:
            stage_pool.shutdown(wait=True)
        for s in staged_by_idx.values():
            if s.staging:
                fsio.remove_dir(s.staging)
    return report
