"""MERGE INTO for the lake table — key-partitioned copy-on-write upsert with
manifest-gated exactly-once and order-aware (LWW) conflict resolution.

Semantics (the engine's core operator, SURVEY.md §2.4):

    MERGE INTO base t USING batch s ON t.<key> = s.<key>
    WHEN MATCHED AND (s.warc_ts, s.lsn) > (t._ts, t._lsn) AND s.op =  'D' THEN DELETE*
    WHEN MATCHED AND (s.warc_ts, s.lsn) > (t._ts, t._lsn)               THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *
    (*deletes become tombstones that keep their order key)

The order condition matters: batches arrive in lsn-slice order but business
time ``warc_ts`` is the LWW major key, so a later slice can carry an *older*
version of a key — it must lose against the already-applied row. Likewise a
late update must not resurrect a newer delete, hence tombstones.

Physical strategy, chosen for 10^10-event scale:

1. batch keys hash into a set of touched buckets → ONLY those buckets' files
   are read and rewritten (copy-on-write bounded by batch key spread, not
   table size).
2. new bucket contents = LWW-reduce( old_bucket_rows ∪ batch_rows ) — a
   hash aggregate per (bucket, key) instead of a join; associative/
   commutative because (warc_ts, _lsn) totally orders rows per key.
3. results written partitioned-by-bucket into a fresh snapshot directory;
   the commit (new files + batch_id + checkpoint advance) is one atomic
   manifest swap.

Every operation that rewrites whole buckets — the copy-on-write fold,
compaction, vacuum, ``delete_where`` and rehash — writes through one
primitive, :func:`_write_reduced` (steps 2-3: one exchange, the reduce in the
write stage, one file per bucket); the four maintenance rewrites also share
one commit tail, :func:`_rewrite_buckets`.

Merge-on-read batches (:func:`merge_batch` ``mode='mor'``, replay's
write-ahead :func:`stage_merge` / :func:`commit_staged_merge`, streaming and
the mirror) take one path: one write and one commit per batch. The write
tasks reduce the batch behind its one layout exchange
(:func:`_granule_exchange`) and append a generation per touched bucket; a
bucket due for compaction folds its base rows into that same write instead
of a follow-up compaction commit. :func:`compact_buckets` stays as an
explicit maintenance call.

Idempotence: ``batch_id`` already in the manifest → no-op. This is the
exactly-once the reference lacks (it re-downloads and re-emits on retry,
``MarketoServiceImpl.java:113-133``; "Resume supported: no", README.md:25).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_input_marketo_spark.lake import fsio
from embulk_input_marketo_spark.lake.table import (
    FileSet,
    LakeTable,
    Manifest,
    bucket_expr,
)
from embulk_input_marketo_spark.operators.dedup import lww_dedup


@dataclass
class MergeResult:
    applied: bool
    version: int
    rows_in: int
    rows_upserted: int
    rows_deleted: int
    touched_buckets: int
    compacted_buckets: int = 0
    rows_null_key: int = 0
    staged: bool = False  # write-audit-publish: durable but not visible


def _entry_id(e) -> str:
    return e["id"] if isinstance(e, dict) else e


def _ensure_stats_friendly_writes(spark: SparkSession) -> None:
    """Engine sessions (session.get_spark) already write INT64-micros
    timestamps; a FOREIGN session may still default to legacy INT96, whose
    parquet footers carry no min/max — which would silently cost every
    commit its (tmin, tmax) time-skipping stats. Dynamic SQL conf, safe to
    set repeatedly; existing INT96 files remain readable."""
    try:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
    except Exception:
        pass  # conf locked down: stats degrade conservatively, reads stay correct


def _already_applied(
    m: Manifest,
    batch_id: str,
    window: tuple[int, int] | None,
    channel: tuple[str, int] | None,
) -> bool:
    """Three idempotence gates, cheapest metadata first:
    1. exact batch_id match (ad-hoc batches with no ordering information);
    2. window gate — a batch declaring the half-open lsn window ``(lo, hi]``
       is provably applied once the table's hwm is ≥ hi, so its
       applied-batches entry can RETIRE (the list stays O(1) instead of
       O(#batches), round-1 scale finding). ONLY batches that explicitly
       declare a window are answered here — an ad-hoc batch that merely
       carries a checkpoint update must apply, not silently no-op (round-2
       ADVICE: gate 2 keyed off checkpoint['hwm_lsn'] caused silent data
       loss for callers reusing replay's checkpoint convention). A window
       that STRADDLES the hwm (lo < hwm < hi) is a protocol violation and
       raises rather than double-applying its first half;
    3. channel gate — a (channel, seq) pair with monotone seq (streaming
       epochs) is applied iff seq ≤ the channel's committed watermark; such
       batches never touch applied_batches at all."""
    if batch_id in {_entry_id(e) for e in m.applied_batches}:
        return True
    if window is not None:
        hwm = m.checkpoint.get("hwm_lsn", -1)
        hwm = -1 if hwm is None else int(hwm)
        lo, hi = int(window[0]), int(window[1])
        if hi <= hwm:
            return True
        if lo < hwm:
            raise ValueError(
                f"window ({lo}, {hi}] straddles committed hwm {hwm}: "
                "re-slice from the committed checkpoint instead"
            )
    if channel is not None:
        name, seq = channel
        if int(seq) <= int(m.checkpoint.get(f"channel_seq:{name}", -1)):
            return True
    return False


def _commit_bookkeeping(
    m: Manifest,
    batch_id: str,
    checkpoint: dict[str, Any] | None,
    window: tuple[int, int] | None,
    channel: tuple[str, int] | None,
) -> tuple[list, dict[str, Any]]:
    """(applied_batches, checkpoint) for the next manifest: merge the
    checkpoint update, advance the channel watermark, append the batch entry
    (with its window hi, if any) and retire every entry whose hi ≤ the new
    hwm — those are answered by gate 2 forever after."""
    new_ckpt = {**m.checkpoint, **(checkpoint or {})}
    # the lsn high-water mark is monotone: an ad-hoc batch replaying an old
    # window's checkpoint must not rewind the table's resume point
    old_hwm = m.checkpoint.get("hwm_lsn", -1)
    old_hwm = -1 if old_hwm is None else int(old_hwm)
    if new_ckpt.get("hwm_lsn") is not None:
        new_ckpt["hwm_lsn"] = max(int(new_ckpt["hwm_lsn"]), old_hwm)
    if channel is not None:
        name, seq = channel
        new_ckpt[f"channel_seq:{name}"] = int(seq)
    new_hwm = new_ckpt.get("hwm_lsn", -1)
    new_hwm = -1 if new_hwm is None else int(new_hwm)
    win_hi = None if window is None else int(window[1])
    entries = list(m.applied_batches)
    if channel is None:
        entries.append({"id": batch_id, "hi": win_hi})
    live = [
        e for e in entries
        if not isinstance(e, dict) or e.get("hi") is None or int(e["hi"]) > new_hwm
    ]
    return live, new_ckpt


# per-(partition-count) salt tables for the exchanges that place rows by
# bucket (_granule_exchange, _write_reduced), asked from Spark's own hash
# once per process and reused for every batch
_GRANULE_SALTS: dict[int, list[int]] = {}


def _granule_salts(spark: SparkSession, g: int) -> list[int]:
    """For each granule class c in 0..g-1, an int salt whose Spark
    murmur3 hash lands in exchange partition c under HashPartitioning(g) —
    found by asking SPARK for its own hash values (zero risk of a Python
    reimplementation drifting from the JVM), cached per process. The
    candidates' hashes are literals projected over a one-row local
    relation, which Catalyst folds into a ``LocalTableScan``: no Spark job
    (as ``bloom.key_hashes``), so a caller's job count never depends on
    which counts the process has already seen."""
    got = _GRANULE_SALTS.get(g)
    if got is not None:
        return got
    salts: list[int | None] = [None] * g
    lo = 0
    while None in salts:
        span = range(lo, lo + max(8 * g, 64))
        # one SQL string: a py4j round trip per candidate would cost more
        # than the search
        (classes,) = spark.sql("VALUES (0)").select(F.expr(
            "array(%s)" % ",".join(f"pmod(hash({v}), {g})" for v in span)
        )).collect()[0]
        for v, c in zip(span, classes):
            if salts[c] is None:
                salts[c] = v
        lo = span.stop
    _GRANULE_SALTS[g] = salts  # type: ignore[assignment]
    return salts  # type: ignore[return-value]


def _granule_exchange(
    spark: SparkSession,
    df: DataFrame,
    n_buckets: int,
    weights: dict[str, int] | None = None,
    order_col: str = "_lsn",
    whole: set[int] = frozenset(),
) -> tuple[DataFrame, set[int]]:
    """The merge write's layout exchange: EXACTLY ``4 × defaultParallelism``
    partitions (whole waves at every parallelism; 4 waves bound the
    quantization + unknown-weight raggedness at ≤ a quarter wave), whole
    buckets assigned to partitions by byte-weighted LPT, heaviest granule
    launched first.

    Why not AQE coalescing (the previous design): granules must hold WHOLE
    buckets (one bucket → one task keeps files-per-commit at one per
    touched bucket), so AQE's byte-greedy merge over atomic bucket-sized
    chunks lands on counts like 20-for-8-cores — 2.5 ragged waves, measured
    write-stage packing 0.82-0.88 on the wide config vs 0.95-0.99 on the
    narrow (the loss is pure wave quantization and charges itself to
    "scaling").

    Why not plain round-robin dealing at the exact count: buckets are NOT
    byte-uniform under a zipf key distribution — the hottest url's bucket
    measured ~4x the mean, and whichever granule drew it became a 1.8x
    straggler (packing 0.77). LPT (longest-processing-time greedy) over the
    manifest's running ``bucket_bytes`` gives the hot bucket its own
    granule and packs the rest to ≈ max(hot bucket, total/g); the weights
    are a PROXY (last commits' layout ≈ this batch's skew, same key
    distribution) — a wrong weight costs balance only, never correctness.

    HEAVY buckets split across granules: a zipf-hot bucket can alone exceed
    the ideal per-granule load (profiled at 8 cores: the hot-bucket granule
    ran 1.85x the mean write task and set the write stage's tail, packing
    0.87). A bucket whose weight exceeds ~1.25x the granule target is dealt
    across ceil(weight/target) granules by hashing ``order_col`` (the
    unique ``_lsn``), i.e. classic hot-key salting applied at the WRITE
    layout. Correctness is untouched — the bucket's rows still all land in
    ``_b=<b>`` dirs, there are just K part files for that bucket in this
    commit, one generation that may hold a key in more than one of its files
    (written ``reduced=False``). Only heavy buckets pay the extra-file cost;
    uniform tables keep exactly one file per touched bucket. Buckets in
    ``whole`` (the ones a merge folds) are never split, so each comes out
    as one file with one row per key.

    Returns the exchanged frame, which keeps the granule column ``_gr`` (the
    write stage groups by it: ``HashPartitioning(_gr)`` satisfies any
    grouping that includes ``_gr``, so the reduce adds no exchange), and the
    set of buckets it split.

    Mechanics: ``repartition(g, col)`` places rows by
    ``pmod(murmur3(col), g)``, so each granule id maps to a salt int whose
    Spark hash occupies exactly that partition (salts asked from Spark's
    own hash — :func:`_granule_salts`; never reimplemented in Python). On a
    real cluster ``defaultParallelism`` is the executor-core total, so the
    same two-wave rule holds."""
    g = min(4 * max(spark.sparkContext.defaultParallelism, 1), n_buckets)
    if g <= 1:
        return df.withColumn("_gr", F.lit(0)).repartition(1), set()
    # LPT over SUB-ITEMS: heaviest first into the lightest bin (uniform
    # weights degrade to round-robin dealing with no splits)
    import heapq

    w = weights or {}
    bw = [w.get(str(b), 1) for b in range(n_buckets)]
    target = sum(bw) / g
    # heavy-bucket split factor (≤8: beyond that the per-commit file cost
    # outgrows the tail it shaves)
    subs = [
        max(1, min(-(-int(wb) // max(int(target), 1)), 8))
        if wb > 1.25 * target else 1
        for wb in bw
    ]
    if not w:
        # COLD START (first commit of a fresh table): no byte history, so a
        # zipf-hot bucket would ride one task unsplit — profiled as a 19s
        # straggler against an ~8s mean on the first 16M-row batch. A blanket
        # 2-way split halves the worst case for the one commit that has no
        # better information, at the cost of one extra file per bucket that
        # the next fold reduces anyway.
        subs = [2] * n_buckets
    subs = [1 if b in whole else sb for b, sb in enumerate(subs)]
    items = [
        (b, si, bw[b] / subs[b]) for b in range(n_buckets)
        for si in range(subs[b])
    ]
    items.sort(key=lambda t: -t[2])
    assign: dict[tuple[int, int], int] = {}
    loads = [0.0] * g
    heap = [(0.0, gi) for gi in range(g)]
    heapq.heapify(heap)
    for b, si, wt in items:
        load, gi = heapq.heappop(heap)
        assign[(b, si)] = gi
        loads[gi] = load + wt
        heapq.heappush(heap, (loads[gi], gi))
    # heaviest bin → LOWEST partition index: the scheduler launches a
    # taskset roughly in partition order, so with >1 wave the long tasks
    # must go in the first wave — LPT's makespan bound assumes exactly this
    # ordering; a heavy bin that launches in the last wave adds its whole
    # length past the ideal span (profiled: 12s hot-bucket task starting at
    # wave 2 of 2 put write-stage packing at 0.83)
    rank = {gi: i for i, gi in enumerate(
        sorted(range(g), key=lambda gi: -loads[gi])
    )}
    salts = _granule_salts(spark, g)
    # per-bucket ARRAY of salts (one per sub-granule); a row picks its sub
    # by hashing the unique order column — uniform within the bucket. The
    # whole lookup table ships as ONE F.expr string: building it from
    # nested F.array(F.lit(...)) costs a py4j round trip per element
    # (profiled at ~0.35s per commit for 64 buckets — the single largest
    # piece of the between-jobs driver gap); the SQL parser takes the same
    # literal tree in one call.
    arr_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(
            str(salts[rank[assign[(b, si)]]]) for si in range(subs[b])
        )
        for b in range(n_buckets)
    )
    gr = F.expr(
        f"element_at(element_at({arr_sql}, _b + 1), "
        f"cast(pmod(xxhash64({order_col}), "
        f"size(element_at({arr_sql}, _b + 1))) as int) + 1)"
    )
    split = {b for b, sb in enumerate(subs) if sb > 1}
    return df.withColumn("_gr", gr).repartition(g, F.col("_gr")), split


def _bytes_of(entries: list[dict]) -> int:
    return sum(int(e.get("bytes", 0) or 0) for e in entries)


def _bloom_ptr_updates(
    spark: SparkSession,
    table: LakeTable,
    m,
    new_files: dict[str, list[dict]],
    version: int,
    mode: str = "union",
    n_buckets: int | None = None,
) -> dict[str, str]:
    """Incremental per-bucket key-bloom maintenance (lake/bloom.py) for the
    buckets this commit touched — {} when blooms aren't enabled. (cow
    commits take their blooms from the batch instead and come here only as
    a fallback — see :func:`_cow_bloom_updates`.)

    The delta is computed by ONE narrow Spark job over the key column of
    the files the commit just wrote (never a recompute of the batch plan,
    never a driver loop over rows).

    ``mode='union'`` (MoR appends): the new files hold only the BATCH's
    keys, so the delta ORs into the bucket's existing bloom. Only buckets
    whose bloom stays COMPLETE are maintained — an existing pointer, or a
    brand-new bucket (no prior data). A bucket with prior data but no bloom
    stays bloomless (probes fall back to reading it) until
    ``enable_key_blooms`` backfills — a partial bloom would turn "definitely
    absent" into a lie.

    ``mode='rebuild'`` (MoR folds, compaction / full rewrites): the new
    files ARE the bucket's complete content (LWW folding keeps one row per
    key and tombstones keep their keys), so a fresh bloom replaces the old
    one — shedding keys vacuumed before the fold and keeping the filter
    tight. ``n_buckets`` overrides the OLD manifest's count for rebuilds
    that change the layout (rehash)."""
    if not m.bloom_conf:
        return {}
    from embulk_input_marketo_spark.lake import bloom as B
    from pyspark.sql import types as T

    m_bits = int(m.bloom_conf["m_bits"])
    k = int(m.bloom_conf["k"])
    prior = set(m.files)
    if mode == "union":
        eligible = {
            b for b in new_files if b in m.bloom_ptrs or b not in prior
        }
    else:
        eligible = set(new_files)
    paths = [e["path"] for b in eligible for e in new_files[b]]
    if not paths:
        return {}
    key_field = m.current_schema()[m.key_col]
    keyed = (
        spark.read.schema(T.StructType([key_field])).parquet(*paths)
        .select(
            bucket_expr(m.key_col, n_buckets or m.n_buckets).alias("_b"),
            *B.hash_cols(m.key_col),
        )
    )
    deltas = B.build_bloom_deltas(keyed, m_bits, k)
    updates: dict[str, str] = {}
    for b, (bits, n) in deltas.items():
        if mode == "union" and b in m.bloom_ptrs:
            old_bits, _mb, _kk, old_n = B.load_bloom(
                table.meta_dir, m.bloom_ptrs[b]
            )
            bits = B.union_bloom(old_bits, bits)
            n += old_n
        updates[b] = B.write_bloom_side(
            table.meta_dir, version, b, bits, m_bits, k, n
        )
    return updates


def merge_batch(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    op_col: str = "op",
    lsn_col: str = "_lsn",
    mode: str = "mor",
    compact_threshold: int = 8,
    checkpoint: dict[str, Any] | None = None,
    window: tuple[int, int] | None = None,
    channel: tuple[str, int] | None = None,
    lineage: dict[str, Any] | None = None,
    publish: bool = True,
    derive: dict[str, Any] | None = None,
    bloom_fast_path: bool = False,
) -> MergeResult:
    """Apply a CDC batch to the table, last writer wins per key.

    ``batch`` must carry the table's current user-schema columns plus
    ``op_col`` ('I'/'U'/'D') and ``lsn_col`` (unique monotone order minor).
    ``checkpoint`` (e.g. {'hwm_lsn': ...}) commits atomically with the data —
    it is bookkeeping only and carries NO idempotence semantics.
    ``window``: optional half-open lsn window ``(lo, hi]`` this batch covers;
    declaring it enrolls the batch in the hwm idempotence gate (re-applying
    once the table's hwm ≥ hi is a no-op, and its applied-batches entry can
    retire). Only declare a window for batches that genuinely are a full
    slice of the ordered changelog.
    ``channel``: optional (name, monotone_seq) idempotence key for ordered
    producers (streaming epochs) — gated on the channel's committed
    watermark instead of the applied-batches list, so manifest metadata
    stays O(1) per stream regardless of epoch count.

    Null-key policy: CDC rows with a NULL merge key cannot be bucketed or
    LWW-resolved — they are counted (``rows_null_key``, also in the commit
    summary) and dropped, never written; the commit path cannot crash on
    them (round-1 ADVICE: a null bucket partition dir aborted the commit
    mid-write).

    mode='mor' (merge-on-read, default): the batch, LWW-reduced in its
    write tasks, APPENDS one delta generation to each bucket it touches —
    per-commit cost is O(batch), one shuffle, no read of base data. A bucket
    whose next generation would reach ``compact_threshold`` (generations
    are counted, not files) is folded instead: its base rows join the SAME
    write and it comes out as one reduced generation — one write and one
    commit per batch, bounding read amplification below
    ``compact_threshold`` generations. ``rows_in``/``rows_deleted`` count
    the batch's raw rows; ``compacted_buckets`` the folded buckets.
    mode='cow' (copy-on-write): every touched bucket is folded each commit —
    cheapest reads, O(touched-bucket data) writes. The batch may carry
    several rows per key; the fold reduces them with the base rows, and
    ``rows_in``/``rows_deleted`` count the LWW winners (one per key). The
    batch is evaluated twice (a narrow counting pre-pass, then the write),
    so it must be deterministic: a batch whose plan is not raises
    ValueError before anything is written.

    derive: optional {column: Column} of DERIVED schema columns computed
    AFTER the bucket exchange and the reduce, in the write tasks, for the
    batch's winning rows only — the column rides the shuffle as whatever
    cheap placeholder the batch carries (typically a typed null) instead of
    its materialized value. For wide derived columns
    (extracted text ≈ the html it came from) this nearly halves shuffle
    bytes, which is pure memory-bandwidth at high core counts. mor only:
    cow folds base rows by LWW, so a placeholder could win a fold and
    persist — there derive is applied BEFORE the merge (no bandwidth win,
    same result). Keys must be current-schema columns.

    bloom_fast_path (cow only; mor never reads base data on merge): probe
    the per-bucket key blooms with the batch's keys BEFORE the fold — a
    bucket whose bloom proves EVERY incoming key absent skips the base read
    and rewrite entirely and appends its (within-batch-reduced) rows as a
    new generation instead, exactly the :meth:`LakeTable.exists_join`
    prefilter applied at the write path. Insert-heavy workloads (a web
    crawl's mostly-new-urls frontier) touch zero existing data files.
    Sound because blooms have no false negatives; a false positive only
    routes the bucket to the normal fold. Skipped buckets become
    merge-on-read (their read LWW-folds generations) until a later fold or
    compaction collapses them — buckets already holding ≥ 8 generations
    fold regardless, bounding read amplification.

    Bloom invariant (tables with key blooms): a bucket's complete bloom is
    always exactly bits(its key set). Writes that only add keys OR the new
    keys in; writes that can shed keys (vacuum, compaction, ``delete_where``,
    rehash) rebuild. A cow commit relies on it: its new blooms are the old
    ones | the batch's keys, computed in its pre-pass, with no job over the
    files it wrote.
    """
    m = table.manifest()
    if _already_applied(m, batch_id, window, channel):
        return MergeResult(False, m.version, 0, 0, 0, 0)

    batch_full, full_cols, derive = _prepare_batch(
        table, m, batch, op_col, lsn_col, derive, mode
    )

    if mode == "cow":
        return _merge_cow(
            spark, table, m, batch_full, batch_id, full_cols,
            checkpoint, window, channel, lineage, publish,
            bloom_fast_path=bloom_fast_path,
        )

    staged = _stage_mor(
        spark, table, m, batch_full, full_cols, derive,
        label=m.version + 1, compact_threshold=compact_threshold,
    )
    return _commit_mor(
        spark, table, m, staged, batch_id, mode,
        checkpoint, window, channel, lineage, publish,
    )


def _prepare_batch(
    table: LakeTable,
    m: Manifest,
    batch: DataFrame,
    op_col: str,
    lsn_col: str,
    derive: dict[str, Any] | None,
    mode: str,
) -> tuple[DataFrame, list[str], dict[str, Any] | None]:
    """Schema-align a CDC batch against manifest ``m`` and validate the
    ``derive`` hook: returns (batch_full, full_cols, derive) where
    ``batch_full`` carries the table's current columns (cast), ``_lsn``,
    ``_deleted`` and the bucket id ``_b``."""
    key = m.key_col
    cur_fields = m.current_schema().fields
    data_cols = [f.name for f in cur_fields]
    full_cols = data_cols + ["_lsn", "_deleted"]

    # align batch columns to the table schema (cast, e.g. inferred long →
    # declared int) so every data file matches its manifest schema exactly
    batch_types = dict(zip(batch.columns, [f.dataType for f in batch.schema.fields]))
    aligned = [
        (F.col(f.name).cast(f.dataType) if batch_types.get(f.name) != f.dataType
         else F.col(f.name)).alias(f.name)
        for f in cur_fields
    ]
    batch_full = batch.select(
        *aligned,
        F.col(lsn_col).cast("long").alias("_lsn"),
        (F.col(op_col) == "D").alias("_deleted"),
    ).withColumn("_b", bucket_expr(key, m.n_buckets))

    if derive:
        unknown = set(derive) - set(data_cols)
        if unknown:
            raise ValueError(
                f"derive targets {sorted(unknown)} are not current-schema "
                f"columns of {table.path}"
            )
        # the bucket id and the LWW order were computed from the PRE-shuffle
        # values; re-deriving either after the exchange would silently
        # desynchronize a row from its bucket / its dedup ordering
        protected = {key, m.lww_major} & set(derive)
        if protected:
            raise ValueError(
                f"derive may not target the merge key or lww major "
                f"{sorted(protected)}: bucketing and LWW order are computed "
                "before the exchange"
            )
        if mode == "cow":
            # cow folds the batch against BASE rows that already carry real
            # values; materialize up front so its write path (which this
            # hook does not reach) never persists a placeholder. mor
            # appends raw rows, so the html still rides to the write task.
            for name, expr in derive.items():
                batch_full = batch_full.withColumn(name, expr)
            derive = None

    return batch_full, full_cols, derive


@dataclass
class StagedMerge:
    """A merge-on-read batch whose DATA is durably written but whose commit
    has not happened yet — the handle between :func:`stage_merge` (cluster
    work) and :func:`commit_staged_merge` (driver bookkeeping + manifest
    CAS). ``label`` is the snapshot version the staging dir was NAMED for;
    the commit renames the dir (and rewrites each entry's generation id) to
    the version it actually lands at, so on-disk layout after commit is
    byte-identical to a synchronous merge. ``folded``: the buckets the stage
    folded, each with the file paths it read as their base — their new
    files replace those lists at commit."""

    staging: str
    new_files: dict[str, list[dict]]
    rows_in: int
    rows_deleted: int
    rows_null_key: int
    schema_version: int
    label: int
    folded: dict[str, list[str]] = field(default_factory=dict)


class StaleStagedMergeError(RuntimeError):
    """The table moved under a staged merge between stage and commit — its
    schema changed (the staged files carry the old one), or a bucket it
    folded got new files (the fold would drop them) — so it must be
    restaged."""


def _generations(m: Manifest, b: str) -> int:
    """Distinct generation ids (``v``) in bucket ``b``: one commit's files
    are one generation however many files it wrote."""
    return len({e.get("v", 0) for e in m.files.get(b, [])})


def _fold_possible(m: Manifest, compact_threshold: int) -> bool:
    """Whether a stage made on manifest ``m`` while one commit is still in
    flight could need a fold: that commit may add a generation to any
    bucket and the stage adds the next, so some bucket's generation count
    + 2 reaches ``compact_threshold``."""
    return any(
        _generations(m, str(b)) + 2 >= compact_threshold
        for b in range(m.n_buckets)
    )


def _stage_mor(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    batch_full: DataFrame,
    full_cols: list[str],
    derive: dict[str, Any] | None,
    label: int,
    compact_threshold: int,
) -> StagedMerge:
    """merge-on-read STAGE: ONE write, ONE shuffle per batch.

    The only shuffle is the layout exchange by bucket
    (:func:`_granule_exchange`). The write tasks LWW-reduce their rows by
    ``(_gr, _b, key)`` — ``HashPartitioning(_gr)`` already meets that
    grouping — and ``derive`` runs on the winners only. An unsplit bucket's
    new generation holds one row per key (``reduced=True``); a bucket the
    exchange split across granules may hold a key in several of its files
    (``reduced=False``).

    Fold: a bucket with data whose next generation would reach
    ``compact_threshold`` unions its base rows into the same write, unsplit,
    and comes out as ONE generation with one row per key. A ``_fresh`` flag
    keeps the base rows' stored derived values: ``derive`` applies to batch
    rows only.

    Metrics ride on the write job via Observation, counting the batch's raw
    rows before the reduce — including the null-key quarantine count
    (observed BEFORE the filter). Empty/fully-quarantined batches reclaim
    their staging dir here and return ``rows_in == 0`` (nothing for the
    commit phase to publish)."""
    from pyspark.sql import Observation

    key = m.key_col
    key_null = F.col(key).isNull()
    obs = Observation()
    rows = batch_full.select(*full_cols, "_b", key_null.alias("_nk")).observe(
        obs,
        F.count_if(~F.col("_nk")).alias("rows_in"),
        F.count_if(F.col("_deleted") & ~F.col("_nk")).alias("rows_deleted"),
        F.count_if(F.col("_nk")).alias("rows_null_key"),
    ).where(~F.col("_nk")).drop("_nk")
    fold = sorted(
        int(b) for b in m.files
        if m.files[b] and _generations(m, b) + 1 >= compact_threshold
    )
    if fold:
        rows = rows.withColumn("_fresh", F.lit(True)).unionByName(
            _bucket_rows(spark, table, m, fold)
            .select(*full_cols, "_b", F.lit(False).alias("_fresh"))
        )
    staging = table.snapshot_staging_dir(label)
    _ensure_stats_friendly_writes(spark)
    # the exchange hands each write task whole buckets, byte-weight-balanced
    # (LPT, heavy buckets salted across granules) — see _granule_exchange
    exchanged, split = _granule_exchange(
        spark, rows, m.n_buckets, weights=m.bucket_bytes, whole=set(fold)
    )
    won = lww_dedup(
        exchanged, key_cols=["_gr", "_b", key],
        order_cols=[m.lww_major, "_lsn"],
    )
    for name, expr in (derive or {}).items():
        # computed ABOVE the reduce and the exchange: the shuffle moved the
        # placeholder, the write tasks materialize the real value for the
        # winners only (plan-audited in tests/test_mor_fold.py)
        won = won.withColumn(
            name, F.when(F.col("_fresh"), expr).otherwise(F.col(name))
            if fold else expr,
        )
    # key order within each file, as a compaction writes it: tight
    # row-group min/max for point lookups; the writer needs the _b lead
    (
        won.select(*full_cols, "_b")
        .sortWithinPartitions("_b", key)
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(staging)
    )
    try:
        got = obs.get
        rows_in = int(got["rows_in"])
        rows_deleted = int(got["rows_deleted"])
        rows_null_key = int(got["rows_null_key"])
    except Exception:
        # zero-output writes (empty input, or every row quarantined) don't
        # emit the observed-metrics event in this Spark build — legitimate
        # ONLY when the write produced no files; recover the quarantine
        # count with one explicit job on this rare path (never the hot path)
        if _enumerate_bucket_files(staging, m.schema_version, label):
            raise
        rows_in = rows_deleted = 0
        rows_null_key = int(batch_full.where(F.col(key).isNull()).count())
    if rows_in == 0:
        # nothing to commit (a fold waits for a batch that has rows):
        # reclaim the staging dir instead of orphaning it
        fsio.remove_dir(staging)
        return StagedMerge(
            "", {}, 0, 0, rows_null_key, m.schema_version, label
        )

    new_files = _enumerate_bucket_files(
        staging, m.schema_version, label,
        stats_col=m.key_col, major_col=m.lww_major,
    )
    for b, entries in new_files.items():
        for e in entries:
            e["reduced"] = int(b) not in split
    return StagedMerge(
        staging, new_files, rows_in, rows_deleted, rows_null_key,
        m.schema_version, label,
        folded={str(b): [e["path"] for e in m.files[str(b)]] for b in fold},
    )


def _commit_mor(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    staged: StagedMerge,
    batch_id: str,
    mode: str,
    checkpoint: dict[str, Any] | None,
    window: tuple[int, int] | None,
    channel: tuple[str, int] | None,
    lineage: dict[str, Any] | None,
    publish: bool,
) -> MergeResult:
    """merge-on-read COMMIT: driver bookkeeping + atomic manifest swap for a
    :class:`StagedMerge`, against manifest ``m``. A direct
    :func:`merge_batch` passes the manifest it staged under;
    :func:`commit_staged_merge` (replay's write-ahead commit) passes a fresh
    read, so the commit rebases onto whatever landed since staging — the
    previous slice's merge. Appended buckets add their new files to their
    lists; a folded bucket's new files replace its list, its byte total and
    its bloom (rebuilt from the files written)."""
    rows_in = staged.rows_in
    rows_deleted = staged.rows_deleted
    rows_null_key = staged.rows_null_key
    if rows_in == 0:
        return MergeResult(
            False, m.version, 0, 0, 0, 0, rows_null_key=rows_null_key
        )

    new_version = m.version + 1
    staging = staged.staging
    new_files = staged.new_files
    if staged.label != new_version:
        # the stage ran ahead under a guessed (future) version label:
        # relabel the data dir and each entry's generation id to the version
        # this commit actually lands at, so every post-commit invariant the
        # read/expiry/WAP paths rely on (entry v == the snapshot that added
        # it; dir name matches) holds exactly as in a synchronous merge
        final_dir = table.snapshot_staging_dir(new_version)
        fsio.rename_dir(staging, final_dir)
        new_files = {
            bk: [
                {**e, "v": new_version,
                 "path": final_dir + e["path"][len(staging):]}
                for e in entries
            ]
            for bk, entries in new_files.items()
        }
        staging = final_dir

    folded = set(staged.folded)
    touched = sorted(int(b) for b in new_files)
    # metadata delta: only the written buckets' lists are rebuilt (loading
    # just their side files); the rest of the table inherits by pointer
    updates = {
        bk: entries if bk in folded else list(m.files.get(bk, [])) + entries
        for bk, entries in new_files.items()
    }
    files = m.files.with_updates(updates)
    bloom_updates: dict[str, str] = {}
    for bloom_mode, nf in (
        ("union", {b: es for b, es in new_files.items() if b not in folded}),
        ("rebuild", {b: es for b, es in new_files.items() if b in folded}),
    ):
        if nf:
            bloom_updates.update(_bloom_ptr_updates(
                spark, table, m, nf, new_version, mode=bloom_mode
            ))
    bucket_bytes = dict(m.bucket_bytes)
    for bk, entries in new_files.items():
        base = 0 if bk in folded else bucket_bytes.get(bk, 0)
        bucket_bytes[bk] = base + _bytes_of(entries)

    applied, ckpt = _commit_bookkeeping(m, batch_id, checkpoint, window, channel)
    nm = m.evolve(
        files=files,
        applied_batches=applied,
        checkpoint=ckpt,
        summary={
            "operation": "merge",
            "batch_id": batch_id,
            "rows_in": rows_in,
            "rows_upserted": rows_in - rows_deleted,
            "rows_deleted": rows_deleted,
            "rows_null_key": rows_null_key,
            "touched_buckets": len(touched),
            "compacted_buckets": len(folded),
            "mode": mode,
            "lineage": lineage or {},
        },
        bloom_ptrs={**m.bloom_ptrs, **bloom_updates},
        bucket_bytes=bucket_bytes,
    )
    if publish:
        table.commit(nm, staging)
    else:
        # write-audit-publish: durable and auditable (table.read_staged),
        # invisible until table.publish_staged(batch_id)
        table.write_staged(batch_id, nm)
    return MergeResult(
        True, nm.version, rows_in, rows_in - rows_deleted, rows_deleted,
        len(touched), compacted_buckets=len(folded),
        rows_null_key=rows_null_key, staged=not publish,
    )


def stage_merge(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    op_col: str = "op",
    lsn_col: str = "_lsn",
    derive: dict[str, Any] | None = None,
    manifest: Manifest | None = None,
    label: int | None = None,
    compact_threshold: int = 8,
) -> StagedMerge:
    """Run a merge-on-read batch's CLUSTER work (scan → bucket exchange →
    LWW reduce → parquet write to a private staging dir) WITHOUT committing
    — the write half of replay's write-ahead commit. Pair with
    :func:`commit_staged_merge`, which publishes staged batches in order.

    The staged data stays invisible until its commit, so ``replay`` stages
    slice k while slice k-1's commit bookkeeping (footer stats, manifest
    build, fsync) runs on a side thread — driver time that would otherwise
    leave the cluster idle between write jobs.

    ``compact_threshold``: buckets of ``manifest`` whose next generation
    would reach it are folded in this write (see :func:`_stage_mor`). The
    fold reads those buckets' files as ``manifest`` lists them; if they
    change before the commit, the commit raises
    :class:`StaleStagedMergeError`. A caller that stages ahead of an
    in-flight commit must therefore wait for it whenever
    :func:`_fold_possible` says a fold may be due.

    ``label``: the version number used to NAME the staging dir. It must stay
    ABOVE the table's committed frontier until this stage commits (expiry's
    in-flight-writer guard never descends into dirs beyond the frontier), so
    a caller with commits still in flight passes a guess with headroom for
    the versions they will take; the commit renames to the real version.
    Defaults to ``manifest.version + 1`` (nothing in flight)."""
    m = manifest or table.manifest()
    batch_full, full_cols, derive = _prepare_batch(
        table, m, batch, op_col, lsn_col, derive, mode="mor"
    )
    return _stage_mor(
        spark, table, m, batch_full, full_cols, derive,
        label=m.version + 1 if label is None else label,
        compact_threshold=compact_threshold,
    )


def commit_staged_merge(
    spark: SparkSession,
    table: LakeTable,
    staged: StagedMerge,
    batch_id: str,
    mode: str = "mor",
    checkpoint: dict[str, Any] | None = None,
    window: tuple[int, int] | None = None,
    channel: tuple[str, int] | None = None,
    lineage: dict[str, Any] | None = None,
    publish: bool = True,
) -> MergeResult:
    """Publish a :func:`stage_merge` result against the CURRENT manifest.

    Same idempotence gates as :func:`merge_batch` (re-checked here — the
    stage may have raced an identical batch): an already-applied batch
    reclaims its staged data and no-ops. A schema change between stage and
    commit, or a folded bucket whose file list changed, raises
    :class:`StaleStagedMergeError` after reclaiming the staging dir —
    restage to proceed."""
    m = table.manifest()
    if _already_applied(m, batch_id, window, channel):
        if staged.staging:
            fsio.remove_dir(staged.staging)
        return MergeResult(False, m.version, 0, 0, 0, 0)
    moved = [
        b for b, paths in staged.folded.items()
        if [e["path"] for e in m.files.get(b, [])] != paths
    ]
    if m.schema_version != staged.schema_version or moved:
        if staged.staging:
            fsio.remove_dir(staged.staging)
        raise StaleStagedMergeError(
            f"table moved between stage and commit of {batch_id}: schema "
            f"{staged.schema_version} -> {m.schema_version}, folded buckets "
            f"with new files {sorted(int(b) for b in moved)}"
        )
    return _commit_mor(
        spark, table, m, staged, batch_id, mode,
        checkpoint, window, channel, lineage, publish,
    )


def _cow_prepass(m: Manifest, batch_full: DataFrame, meta_dir: str) -> dict:
    """The copy-on-write commit's pre-pass over the batch → {bucket: row}.
    Per bucket: ``n`` LWW winners (distinct keys), ``d`` of them deletes,
    ``nk`` null-key rows; on bloom tables also ``might`` (the old bloom may
    hold a batch key), ``bloom`` (old bits | the batch's keys) and ``n_old``
    (the old bloom's key count).

    The batch may carry several rows per key. One JVM aggregate picks each
    key's winner by ``max_by(struct(major, _lsn))``, the order the fold
    applies, behind the one exchange that groups rows by bucket. The scan
    is narrow — bucket, key, LWW order and tombstone flag — so payload
    columns (and any UDF over them) are pruned out of it.

    Each bloom group loads only its own bucket's bloom, by the pointer name
    shipped in the closure — the driver never loads or ships bloom bytes.
    Tables without blooms count in the JVM alone."""
    key, major = m.key_col, m.lww_major
    nk = F.col(key).isNull()
    # HashPartitioning(_b) satisfies this grouping and the per-bucket one
    # after it: one exchange
    per_key = (
        batch_full.select("_b", key, major, "_lsn", "_deleted")
        .repartition("_b")
        .groupBy("_b", key)
        .agg(
            F.max_by("_deleted", F.struct(major, "_lsn")).alias("_del"),
            F.count("*").alias("_c"),
        )
    )
    if not m.bloom_conf:
        rows = per_key.groupBy("_b").agg(
            F.count_if(~nk).alias("n"),
            F.count_if(F.col("_del") & ~nk).alias("d"),
            F.sum(F.when(nk, F.col("_c")).otherwise(0)).alias("nk"),
        ).collect()
        return {int(r["_b"]): r for r in rows}

    from embulk_input_marketo_spark.lake import bloom as B

    m_bits, k = int(m.bloom_conf["m_bits"]), int(m.bloom_conf["k"])
    ptrs = dict(m.bloom_ptrs)
    with_data = set(m.files)

    def per_bucket(pdf):
        import pandas as pd

        b = str(int(pdf["_b"].iloc[0]))
        null = pdf["_nk"].to_numpy()
        keyed = ~null
        bits, n_old, might = B.add_keys(
            meta_dir, ptrs.get(b), pdf["_h1"].to_numpy()[keyed],
            pdf["_h2"].to_numpy()[keyed], m_bits, k,
        )
        if might is None:
            # no bloom: a bucket holding data stays a candidate (unknown is
            # never absent); an empty bucket holds no key at all
            might = b in with_data
        return pd.DataFrame({
            "_b": [int(b)],
            "n": [int(keyed.sum())],
            "d": [int((pdf["_del"].to_numpy() & keyed).sum())],
            "nk": [int(pdf["_c"].to_numpy()[null].sum())],
            "might": [might],
            "bloom": [bits],
            "n_old": [n_old],
        })

    rows = (
        per_key.select("_b", nk.alias("_nk"), "_del", "_c", *B.hash_cols(key))
        .groupBy("_b")
        .applyInPandas(
            per_bucket,
            "_b int, n long, d long, nk long, might boolean, bloom binary,"
            " n_old long",
        )
        .collect()
    )
    return {int(r["_b"]): r for r in rows}


def _merge_cow(
    spark, table, m, batch_full, batch_id, full_cols,
    checkpoint, window, channel, lineage, publish=True,
    bloom_fast_path=False,
) -> MergeResult:
    """Copy-on-write path: every touched bucket folds each commit — unless
    ``bloom_fast_path`` proves a bucket's incoming keys all-absent, in which
    case that bucket APPENDS a new generation instead of reading + rewriting
    (see merge_batch docstring). Null-key rows are counted by the pre-pass
    and dropped (see merge_batch docstring for the policy).

    Two passes over the batch, which may carry several rows per key: the
    pre-pass (:func:`_cow_prepass`), which counts LWW winners per bucket,
    and the write of the batch and base rows through :func:`_write_reduced`.
    Nothing is cached in between, so the batch is evaluated twice and must
    be deterministic; a batch whose plan is not is rejected.

    Blooms are never rebuilt from the written files: a touched bucket's new
    bloom is its old bloom | the batch's keys, which equals a rebuild
    because a complete bloom is always bits(the bucket's key set) and the
    fold keeps every key (see lake/bloom.py). The key count is the rows
    written (from the parquet footers), plus the old count for an append. A
    bucket with data but no bloom gets one rebuilt from its folded files."""
    key = m.key_col
    if not batch_full._jdf.queryExecution().analyzed().deterministic():
        # two evaluations of such a plan can disagree: the write could store
        # a key the pre-pass never added to the bloom, a false negative
        raise ValueError(
            "cow merge: the batch plan is non-deterministic, and the commit "
            "evaluates it twice; materialize it first (e.g. "
            "DataFrame.localCheckpoint())"
        )
    stats = _cow_prepass(m, batch_full, table.meta_dir)
    live = {b: r for b, r in stats.items() if r["n"]}
    touched = sorted(live)
    rows_in = int(sum(r["n"] for r in live.values()))
    rows_deleted = int(sum(r["d"] for r in live.values()))
    rows_null_key = int(sum(r["nk"] for r in stats.values()))
    if rows_in == 0:
        return MergeResult(
            False, m.version, 0, 0, 0, 0, rows_null_key=rows_null_key
        )

    # append-eligible: the bloom proved every batch key absent AND the
    # bucket hasn't accumulated too many GENERATIONS (≥ 8 folds anyway,
    # bounding the read amplification the skipped folds defer). Distinct
    # generation ids, not file entries: a fold that split a bucket into
    # several files in one generation must not trip the bound early
    # (matches table.read's dirty-bucket test).
    append_set = {
        b for b in touched
        if not live[b]["might"]
        and _generations(m, str(b)) < 8
    } if bloom_fast_path and m.bloom_conf else set()
    fold_buckets = [b for b in touched if b not in append_set]

    # skipped buckets never read base data: their batch rows just reduce
    # and append as a fresh generation
    rows = batch_full.where(F.col(key).isNotNull()).select(*full_cols, "_b")
    if fold_buckets:
        rows = rows.unionByName(_bucket_rows(spark, table, m, fold_buckets))
    # Raw batch rows ride the write's one exchange, with no map-side
    # combine: a perfbench trickle_reads slice is 1,000 rows over ~320 keys
    # (3.2 per key) against ~1,450 base rows, so the exchange moves ~1.4x
    # the rows of a pre-deduped batch. Its map stage took ~25 ms longer per
    # call on 4 cores, less than the extra job a combine ahead of it costs.
    new_version, staging, new_files = _write_reduced(
        spark, table, m, rows, touched, sort_cols=[key]
    )
    files = m.files.with_updates(
        {
            str(b): (
                list(m.files.get(str(b), [])) + new_files.get(str(b), [])
                if b in append_set
                else new_files.get(str(b), [])
            )
            for b in touched
        }
    )
    bloom_updates = _cow_bloom_updates(
        spark, table, m, live, new_files, append_set, new_version
    )
    bucket_bytes = dict(m.bucket_bytes)
    for b in touched:
        add = _bytes_of(new_files.get(str(b), []))
        bucket_bytes[str(b)] = (
            bucket_bytes.get(str(b), 0) + add if b in append_set else add
        )
    applied, ckpt = _commit_bookkeeping(m, batch_id, checkpoint, window, channel)
    nm = m.evolve(
        files=files,
        applied_batches=applied,
        checkpoint=ckpt,
        summary={
            "operation": "merge",
            "batch_id": batch_id,
            "rows_in": rows_in,
            "rows_upserted": rows_in - rows_deleted,
            "rows_deleted": rows_deleted,
            "rows_null_key": rows_null_key,
            "touched_buckets": len(touched),
            "compacted_buckets": len(fold_buckets),
            "bloom_skipped_buckets": len(append_set),
            "mode": "cow",
            "lineage": lineage or {},
        },
        bloom_ptrs={**m.bloom_ptrs, **bloom_updates},
        bucket_bytes=bucket_bytes,
    )
    if publish:
        table.commit(nm, staging)
    else:
        table.write_staged(batch_id, nm)
    return MergeResult(
        True, new_version, rows_in, rows_in - rows_deleted, rows_deleted,
        len(touched), compacted_buckets=len(fold_buckets),
        rows_null_key=rows_null_key, staged=not publish,
    )


def _cow_bloom_updates(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    live: dict,
    new_files: dict[str, list[dict]],
    append_set: set[int],
    version: int,
) -> dict[str, str]:
    """Bloom side files of a copy-on-write commit, from the pre-pass's
    (old | batch) bits — {} when blooms aren't enabled. A bucket whose old
    bloom was complete (a pointer, or no prior data) writes those bits with
    key count = rows written (+ the old count for an append). A bucket with
    data but no pointer, or whose written row count is unknown, falls back
    to :func:`_bloom_ptr_updates` over the files just written."""
    if not m.bloom_conf:
        return {}
    from embulk_input_marketo_spark.lake import bloom as B

    m_bits, k = int(m.bloom_conf["m_bits"]), int(m.bloom_conf["k"])
    updates: dict[str, str] = {}
    fallback: dict[str, dict[str, list[dict]]] = {"rebuild": {}, "union": {}}
    for b, r in live.items():
        sb = str(b)
        entries = new_files.get(sb, [])
        rows = [e.get("rows") for e in entries]
        if entries and None not in rows and (
            sb in m.bloom_ptrs or sb not in m.files
        ):
            n = sum(rows) + (int(r["n_old"]) if b in append_set else 0)
            updates[sb] = B.write_bloom_side(
                table.meta_dir, version, sb, bytes(r["bloom"]), m_bits, k, n
            )
        elif entries:
            fallback["union" if b in append_set else "rebuild"][sb] = entries
    for mode, nf in fallback.items():
        if nf:
            updates.update(
                _bloom_ptr_updates(spark, table, m, nf, version, mode=mode)
            )
    return updates


def _zorder_dims(df, zorder_by: list[str]) -> list:
    """The two order-preserving 32-bit dimensions of a Morton key, the map
    picked by each column's type."""
    from embulk_input_marketo_spark.functions import zorder

    if len(zorder_by) != 2:
        raise ValueError("zorder_by takes exactly two columns")
    dims = []
    for name in zorder_by:
        dt = df.schema[name].dataType.simpleString()
        if dt == "timestamp":
            dims.append(zorder.dim_from_timestamp(name))
        elif dt == "string":
            dims.append(zorder.dim_from_string_prefix(name))
        else:
            dims.append(zorder.dim_from_long(name))
    return dims


def _zorder_sort_key(df, zorder_by: list[str]):
    """The 64-bit Morton key of two data columns, as one expression."""
    from embulk_input_marketo_spark.functions import zorder

    return zorder.zorder_key(*_zorder_dims(df, zorder_by))


def _bucket_rows(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    buckets: list[int] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Every file generation of ``buckets`` (all when None) as manifest
    ``m`` lists them, raw: several rows per key, tombstones,
    ``_lsn``/``_deleted``, and ``_b`` under ``n_buckets`` (default: the
    manifest's count) — a rewrite's or a fold's input."""
    return table.read(
        spark, version=m.version, buckets=buckets, include_internal=True
    ).withColumn("_b", bucket_expr(m.key_col, n_buckets or m.n_buckets))


def _write_reduced(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    rows: DataFrame,
    buckets: list[int],
    *,
    sort_cols: list,
    keep: Any = None,
    bind: dict[str, Any] | None = None,
) -> tuple[int, str, dict[str, list[dict]]]:
    """The one bucket-rewrite write: LWW-reduce ``rows`` (the table's
    columns, ``_lsn``, ``_deleted`` and ``_b``; any number per key) to one
    row per key, and write each of ``buckets`` as ONE reduced generation
    into a fresh staging dir named for ``m.version + 1``. Returns
    ``(new_version, staging, new_files)``; the caller commits.

    - One exchange places the rows: bucket i of ``sorted(buckets)`` goes to
      partition i, by a salt whose Spark hash lands there
      (:func:`_granule_salts`). Every write task holds exactly one bucket
      and writes one file for it; plain ``repartition(n, _b)`` would put
      several buckets in one task and leave others empty.
    - The reduce groups by ``(_gr, _b, key)``. ``HashPartitioning(_gr)``
      already satisfies that grouping, so it runs in the write stage with
      no second exchange. ``_gr`` and ``_b`` are functions of the key, so
      the winners are those of a reduce on the key alone.
    - ``keep``: an optional predicate on the winners — vacuum's tombstone
      reclaim, which does not commute with the reduce.
    - ``sort_cols`` order the rows within each file: the key, for tight
      parquet min/max on point lookups, or a z-order key then the key. The
      sort leads with ``_b``: the partitioned writer requires ``_b``
      ordering, and a sort on ``sort_cols`` alone is dropped beneath the
      ``Sort [_b]`` it adds.
    - ``bind``: {name: Column} computed once per winner before the sort and
      dropped after it, for ``sort_cols`` that use a value many times (the
      Morton key spreads each dimension's bits in 32 references)."""
    order = sorted({int(b) for b in buckets}) or [0]
    salts = _granule_salts(spark, len(order))
    # the bucket → salt table ships as one SQL literal (one py4j call)
    gr = F.expr("element_at(map(%s), _b)" % ",".join(
        f"{b}, {salt}" for b, salt in zip(order, salts)
    ))
    won = lww_dedup(
        rows.withColumn("_gr", gr).repartition(len(order), "_gr"),
        key_cols=["_gr", "_b", m.key_col],
        order_cols=[m.lww_major, "_lsn"],
    ).drop("_gr")
    if keep is not None:
        won = won.where(keep)
    new_version = m.version + 1
    staging = table.snapshot_staging_dir(new_version)
    _ensure_stats_friendly_writes(spark)
    if bind:
        won = won.withColumns(bind)
    (
        won.sortWithinPartitions("_b", *sort_cols)
        .drop(*(bind or ()))
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(staging)
    )
    new_files = _enumerate_bucket_files(
        staging, m.schema_version, new_version, reduced=True,
        stats_col=m.key_col, major_col=m.lww_major,
    )
    return new_version, staging, new_files


def _rewrite_buckets(
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    rows: DataFrame,
    buckets: list[int],
    summary: dict[str, Any],
    *,
    sort_cols: list | None = None,
    keep: Any = None,
    bind: dict[str, Any] | None = None,
    full: bool = False,
    n_buckets: int | None = None,
) -> int:
    """Rewrite ``buckets`` from ``rows`` (:func:`_write_reduced`, sorted by
    the key unless ``sort_cols`` says otherwise) and commit: the tail that
    compaction, vacuum, ``delete_where`` and rehash share. Returns the new
    version.

    The rewritten buckets' file lists and byte totals are replaced, and
    their blooms rebuilt from the written files: a rewrite can shed keys
    (vacuum) or move them (rehash). ``full``: the rewrite is the whole
    table, so its buckets replace every bucket list, bloom and byte total;
    otherwise the untouched buckets carry forward. ``n_buckets``: the new
    bucket count (rehash)."""
    new_version, staging, new_files = _write_reduced(
        spark, table, m, rows, buckets,
        sort_cols=sort_cols or [F.col(m.key_col)], keep=keep, bind=bind,
    )
    if full:
        rewritten, kept_ptrs, kept_bytes = new_files, {}, {}
        files = FileSet.replace_all(table.meta_dir, rewritten)
    else:
        rewritten = {str(b): new_files.get(str(b), []) for b in buckets}
        kept_ptrs, kept_bytes = m.bloom_ptrs, m.bucket_bytes
        files = m.files.with_updates(rewritten)
    blooms = _bloom_ptr_updates(
        spark, table, m, new_files, new_version, mode="rebuild",
        n_buckets=n_buckets,
    )
    table.commit(m.evolve(
        n_buckets=n_buckets or m.n_buckets,
        files=files,
        summary=summary,
        bloom_ptrs={**kept_ptrs, **blooms},
        bucket_bytes={
            **kept_bytes, **{b: _bytes_of(es) for b, es in rewritten.items()}
        },
    ), staging)
    return new_version


def compact_buckets(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int],
    zorder_by: list[str] | None = None,
) -> int:
    """Fold the given buckets' delta generations into one reduced generation
    (metadata + data rewrite of ONLY those buckets, through
    :func:`_rewrite_buckets`). Idempotent; keeps tombstones
    (vacuum_tombstones reclaims those).

    ``zorder_by``: exactly two data columns — compacted files are written
    in Morton z-order of those dimensions instead of plain key order
    (functions/zorder.py), so range predicates on EITHER column skip row
    groups; the merge key rides as the tiebreak sort so point lookups keep
    usable (looser) min/max. Plain key-sort remains the default."""
    m = table.manifest()
    rows = _bucket_rows(spark, table, m, buckets)
    sort_cols = bind = None
    if zorder_by is not None:
        from embulk_input_marketo_spark.functions import zorder

        # each dimension is evaluated once per winner, not once per
        # reference in the bit spreading
        bind = dict(zip(("_z0", "_z1"), _zorder_dims(rows, zorder_by)))
        sort_cols = [
            zorder.zorder_key(F.col("_z0"), F.col("_z1")), F.col(m.key_col)
        ]
    return _rewrite_buckets(
        spark, table, m, rows, buckets,
        {"operation": "compact", "buckets": [int(b) for b in buckets]},
        sort_cols=sort_cols, bind=bind,
    )


def vacuum_tombstones(
    spark: SparkSession,
    table: LakeTable,
    watermark_major: Any,
) -> int:
    """Full compaction + tombstone reclaim: fold all merge-on-read
    generations, then physically drop tombstones whose LWW-major key
    (warc_ts) is older than ``watermark_major`` — no future event can carry
    a smaller order key than the lateness watermark, so those deletes can
    never lose a conflict again. Rewrites every bucket (run occasionally,
    like Iceberg compaction) through :func:`_rewrite_buckets`; the reclaim
    is its ``keep`` predicate, applied to the reduce's winners. Blooms are
    rebuilt wholesale, so vacuumed keys leave the filter."""
    m = table.manifest()
    keep = (~F.col("_deleted")) | (F.col(m.lww_major) >= F.lit(watermark_major))
    return _rewrite_buckets(
        spark, table, m, _bucket_rows(spark, table, m),
        [int(b) for b in m.files],
        {"operation": "vacuum_tombstones", "watermark": str(watermark_major)},
        keep=keep, full=True,
    )


def delete_where(
    spark: SparkSession,
    table: LakeTable,
    predicate: Any,
) -> tuple[int, int]:
    """Row-level DELETE WHERE as a copy-on-write commit (Iceberg
    ``DeleteFromTable`` / Delta ``DELETE FROM`` — the retention/GDPR path,
    distinct from CDC 'D' events which arrive through the log).

    Matching LIVE rows become tombstones that KEEP their ``(lww_major,
    _lsn)`` order keys — a late or duplicate delivery of an event older
    than the deleted winner still loses the LWW fold, exactly the engine's
    late-arrival guard — while every other payload column is scrubbed to
    NULL (a retention delete must erase the bytes, not merely hide the
    row; the key itself stays, as in Iceberg equality deletes, because the
    guard needs it). A newer real event (greater order key) resurrects the
    key as usual.

    Pass 1 finds the buckets holding matching live rows (a pruned, narrow
    read); pass 2 rewrites ONLY those through :func:`_rewrite_buckets`.
    The scrub runs on the raw rows, before the reduce: it keeps every row's
    order key, so it commutes with the reduce. CDF ``changes()`` sees the
    rewrite as ordinary data (summary operation ``delete_where``) and emits
    delete kinds for the scrubbed keys.

    Returns ``(version, rows_deleted)`` — the current version with 0 when
    nothing matched (no empty commits).
    """
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    m = table.manifest()
    data_cols = [f.name for f in m.current_schema().fields]

    # pass 1: which buckets hold matching live rows, and how many rows
    hits = (
        table.read(spark)
        .where(predicate)
        .select(bucket_expr(m.key_col, m.n_buckets).alias("_b"))
        .groupBy("_b")
        .count()
        .collect()
    )
    if not hits:
        return m.version, 0
    buckets = sorted(int(r["_b"]) for r in hits)
    n_deleted = int(sum(r["count"] for r in hits))

    # three-valued logic guard: a predicate that evaluates to NULL (e.g.
    # `lang = 'x'` on a NULL lang) must mean "not matched", never a NULL
    # _deleted flag (which the read-side `~_deleted` filter would drop)
    hit = F.coalesce((~F.col("_deleted")) & predicate, F.lit(False))
    scrub = [
        F.when(hit, F.lit(None)).otherwise(F.col(c)).alias(c)
        if c not in (m.key_col, m.lww_major)
        else F.col(c)
        for c in data_cols
    ]
    scrubbed = _bucket_rows(spark, table, m, buckets).select(
        *scrub,
        F.col("_lsn"),
        (F.col("_deleted") | hit).alias("_deleted"),
        F.col("_b"),
    )
    version = _rewrite_buckets(
        spark, table, m, scrubbed, buckets,
        {
            "operation": "delete_where",
            "buckets": buckets,
            "rows_deleted": n_deleted,
        },
    )
    return version, n_deleted


def rehash_buckets(
    spark: SparkSession,
    table: LakeTable,
    new_n_buckets: int,
) -> int:
    """Bucket-count evolution (Iceberg partition-spec evolution for a hash
    layout): rewrite the table under a NEW ``pmod(xxhash64(key), n)`` —
    the operation a 100 TB table needs when it outgrows its bucket count
    (buckets sized for 1 TB are 100-key-range monsters at 100 TB: point
    lookups scan too much, commits contend on too few partition dirs).

    One full-table rewrite through :func:`_rewrite_buckets`, with ``_b``
    under the new count (run as rarely as Iceberg's
    rewrite-data-files-with-new-spec). Tombstones stay (they still guard
    against late arrivals) and every bloom is rebuilt under the new layout.
    Readers and writers before the commit see the old layout, after it the
    new one; a concurrent merge loses the CAS and rebases onto the new
    bucket count (its bucket ids come from the manifest it rebases on). The
    CDF across a rehash stays correct, just not pruned, like any full
    rewrite: every bucket's pointer changes, and keys drive the diff."""
    if new_n_buckets < 1:
        raise ValueError("new_n_buckets must be >= 1")
    m = table.manifest()
    return _rewrite_buckets(
        spark, table, m, _bucket_rows(spark, table, m, n_buckets=new_n_buckets),
        list(range(new_n_buckets)),
        {
            "operation": "rehash",
            "from_n_buckets": m.n_buckets,
            "to_n_buckets": new_n_buckets,
        },
        full=True, n_buckets=new_n_buckets,
    )


def major_to_micros(v) -> int | None:
    """Normalize a lww-major value to epoch MICROSECONDS (int) so manifest
    stats stay JSON-portable and total-ordered. Naive datetimes are taken
    as UTC wall time (both the writer's footer stats and the reader's range
    bound go through THIS function, so the convention cancels out); aware
    datetimes convert to UTC. Ints/floats pass through (a numeric major —
    e.g. an lsn — needs no conversion)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return int(v)


def _file_stats(md, col: str, convert=None):
    """Per-FILE (min, max) of ``col`` over every row group of the parquet
    footer the commit just wrote (``pyarrow`` FileMetaData) — Iceberg's
    write-time column stats: the merge key's, and the lww-major's mapped
    to epoch micros by ``convert=major_to_micros`` (the time axis of a CDC
    web table, "pages crawled in window X"). Parquet writers may TRUNCATE
    string stats, but the spec keeps them conservative (min is a prefix ≤
    the true min; max has its last byte incremented ≥ the true max), so a
    range check against them can only over-include, never skip a file that
    holds the value. Returns None (no stats recorded) on any doubt — a row
    group without stats, or a bound that is not JSON-portable; missing
    stats merely cost the skip."""
    try:
        mins: list = []
        maxs: list = []
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = next((
                rgm.column(ci).statistics for ci in range(rgm.num_columns)
                if rgm.column(ci).path_in_schema == col
            ), None)
            if st is None or not st.has_min_max:
                return None
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            return None
        lo, hi = min(mins), max(maxs)
        if convert is not None:
            lo, hi = convert(lo), convert(hi)
    except Exception:
        return None
    if any(isinstance(v, bytes) or not isinstance(v, (str, int, float))
           for v in (lo, hi)):
        return None  # keep the manifest JSON-portable
    return lo, hi


def _enumerate_bucket_files(
    staging: str,
    sv: int,
    version: int,
    reduced: bool = True,
    stats_col: str | None = None,
    major_col: str | None = None,
) -> dict[str, list[dict]]:
    """List written parquet files per bucket, through the fsio seam (local
    here, Hadoop FileSystem on a cluster — see lake/fsio.py). Each entry
    records the schema version (``sv``) that wrote it and the snapshot
    (``v``) — the read path uses ``v`` to tell single-generation (clean)
    buckets from multi-generation (merge-on-read) ones.

    Entries record their row count (``rows``) from the parquet footer;
    ``stats_col``: also record the column's per-file (kmin, kmax) from the
    footers this commit just wrote — O(files in THIS commit)
    footer reads, never O(table); the point-lookup path skips whole files
    on them without opening anything (on a cluster this loop belongs in
    the write tasks — the fsio seam again).

    Non-integer partition dirs (e.g. Hive's null-partition marker) are
    skipped defensively — the commit must never crash post-write on a stray
    directory; the merge path quarantines null keys upstream, so anything
    here is foreign to the engine."""
    def entry_for(p: str) -> dict:
        e = {
            "path": p, "sv": sv, "v": version, "reduced": reduced,
            "bytes": fsio.file_size(p),
        }
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(p).metadata
        except Exception:
            return e  # no footer: no stats, no row count — both optional
        e["rows"] = md.num_rows
        for col, names, convert in (
            (stats_col, ("kmin", "kmax"), None),
            (major_col, ("tmin", "tmax"), major_to_micros),
        ):
            stats = None if col is None else _file_stats(md, col, convert)
            if stats is not None:
                e.update(zip(names, stats))
        return e

    per_bucket: dict[str, list[str]] = {}
    for entry in fsio.list_dir(staging):
        if not entry.startswith("_b="):
            continue
        part = entry.split("=", 1)[1]
        if not part.isdigit():
            continue
        b = str(int(part))
        bdir = os.path.join(staging, entry)
        paths = [
            os.path.join(bdir, f)
            for f in fsio.list_dir(bdir)
            if f.endswith(".parquet")
        ]
        if paths:
            per_bucket[b] = paths

    # footer reads are per-file independent metadata IO; doing them serially
    # puts O(touched buckets) blocking reads in the driver-only gap between
    # the write job and the commit (profiled at ~8% of wall on the wide
    # config, where the gap can't hide behind running tasks). pyarrow
    # releases the GIL on footer reads, so a small thread pool overlaps them
    # — the commit stays O(touched) but stops being serial-latency-bound.
    all_paths = [p for ps in per_bucket.values() for p in ps]
    if len(all_paths) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(all_paths))) as ex:
            by_path = dict(zip(all_paths, ex.map(entry_for, all_paths)))
    else:
        by_path = {p: entry_for(p) for p in all_paths}
    return {
        b: [by_path[p] for p in ps] for b, ps in per_bucket.items()
    }
