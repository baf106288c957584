"""Occupancy profile of the CDC replay at one parallelism level.

Answers the question the scaling archive raises: the wide config's timed
window shows 10-15% idle on /proc/stat while the narrow config is ~98% busy
— WHERE does the idle go? This harness re-runs the exact scaling-worker
replay (same generator, same warm-up discipline, same pinning contract left
to the caller via taskset) with the Spark event log enabled, then folds the
log into a task-occupancy timeline:

- ``occupancy``    = sum(task runtime) / (cores * wall) over the timed window
- ``gap_sec``      = wall where ZERO tasks ran (driver-serial: Catalyst
                     analysis, manifest/commit bookkeeping, job scheduling)
- ``partial_sec``  = wall where 0 < running < cores (straggler tails, wave
                     quantization, undersized stages)
- per-stage task-time totals, top offenders first, so a straggler stage is
  attributable by name.

Usage (pin it like the scaling harness does):
    taskset -c 0-7 python bench/profile_replay.py --cores 8 \
        --events 10000000 --log /dev/shm/profile_changelog
The changelog is generated once per (events, urls, seed) and reused across
invocations; pass --regen to force.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _timeline(events_path: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Fold SparkListenerTaskEnd events into an occupancy timeline over the
    timed window [t0_ms, t1_ms]."""
    starts: list[tuple[float, int]] = []  # (ts, +1/-1)
    stage_time: dict[str, float] = {}
    stage_metrics: dict[str, dict[str, float]] = {}
    stage_spans: dict[str, list[tuple[float, float]]] = {}
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    task_total = 0.0
    with open(events_path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "submit": float(e.get("Submission Time", 0)),
                    "first_task": None, "end": None,
                }
                for sid_ in e.get("Stage IDs", []):
                    stage_to_job[int(sid_)] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = float(e.get("Completion Time", 0))
            if ev == "SparkListenerTaskEnd":
                ti = e.get("Task Info", {})
                a = float(ti.get("Launch Time", 0))
                b = float(ti.get("Finish Time", 0))
                if b <= t0_ms or a >= t1_ms or b <= a:
                    continue
                a, b = max(a, t0_ms), min(b, t1_ms)
                starts.append((a, +1))
                starts.append((b, -1))
                task_total += (b - a) / 1000.0
                sid = str(e.get("Stage ID"))
                stage_time[sid] = stage_time.get(sid, 0.0) + (b - a) / 1000.0
                spans = stage_spans.setdefault(sid, [])
                spans.append((a, b))
                jid = stage_to_job.get(int(e.get("Stage ID", -1)))
                if jid is not None and jid in jobs:
                    ft = jobs[jid]["first_task"]
                    jobs[jid]["first_task"] = a if ft is None else min(ft, a)
                tm = e.get("Task Metrics") or {}
                sm = stage_metrics.setdefault(sid, {})
                for label, val in (
                    ("run", tm.get("Executor Run Time", 0) / 1e3),
                    ("cpu", tm.get("Executor CPU Time", 0) / 1e9),
                    ("gc", tm.get("JVM GC Time", 0) / 1e3),
                    ("deser", tm.get("Executor Deserialize Time", 0) / 1e3),
                    ("shuf_w",
                     (tm.get("Shuffle Write Metrics") or {})
                     .get("Shuffle Write Time", 0) / 1e9),
                    ("fetch_wait",
                     (tm.get("Shuffle Read Metrics") or {})
                     .get("Fetch Wait Time", 0) / 1e3),
                ):
                    sm[label] = sm.get(label, 0.0) + float(val)
    starts.sort()
    gap = partial = full = 0.0
    gaps: list[tuple[float, float]] = []  # (len_sec, start_rel_sec)
    running = 0
    prev = t0_ms
    for ts, d in starts:
        span = (ts - prev) / 1000.0
        if span > 0:
            if running == 0:
                gap += span
                gaps.append((round(span, 3), round((prev - t0_ms) / 1e3, 2)))
            elif running >= cores:
                full += span
            else:
                partial += span
        running += d
        prev = ts
    gaps.sort(reverse=True)
    gap += max(t1_ms - prev, 0) / 1000.0
    wall = (t1_ms - t0_ms) / 1000.0
    return {
        "wall_sec": round(wall, 3),
        "occupancy": round(task_total / (cores * wall), 4) if wall else 0.0,
        "gap_sec": round(gap, 3),            # zero tasks running
        "partial_sec": round(partial, 3),    # some cores idle
        "full_sec": round(full, 3),          # all cores busy
        "task_time_sec": round(task_total, 3),
        "top_stages_by_task_time": sorted(
            stage_time.items(), key=lambda kv: -kv[1]
        )[:8],
        "stage_metrics_sec": {
            sid: {k: round(v, 2) for k, v in m.items()}
            for sid, m in sorted(
                stage_metrics.items(), key=lambda kv: -kv[1].get("run", 0)
            )[:8]
        },
        "widest_gaps": gaps[:8],  # (seconds, at-offset-seconds) zero-task
        # driver-side latency attribution per job: plan = submit→first task
        # (Catalyst/AQE/committer setup), then between-jobs = this job's
        # end → next submit (obs.get, footer reads, manifest write, next
        # batch's python bookkeeping)
        "job_latency": [
            {
                "job": j,
                "at": round((v["submit"] - t0_ms) / 1e3, 2),
                "plan_sec": round((v["first_task"] - v["submit"]) / 1e3, 3)
                if v["first_task"] else None,
                "to_next_submit_sec": round(
                    (jobs[nj]["submit"] - v["end"]) / 1e3, 3
                ) if v["end"] and nj in jobs else None,
            }
            for j, v, nj in (
                (j, jobs[j], j + 1) for j in sorted(jobs)
                if t0_ms <= jobs[j]["submit"] <= t1_ms
            )
        ],
        # packing = (sum task span / cores) / stage wall — 1.0 is a perfectly
        # filled rectangle; low values on a long stage mean straggler tail
        "stage_packing": {
            sid: {
                "n_tasks": len(sp),
                "stage_wall": round(
                    (max(b for _, b in sp) - min(a for a, _ in sp)) / 1e3, 2
                ),
                "packing": round(
                    sum(b - a for a, b in sp)
                    / cores
                    / max(max(b for _, b in sp) - min(a for a, _ in sp), 1),
                    3,
                ),
                "longest_task": round(max(b - a for a, b in sp) / 1e3, 2),
            }
            for sid, sp in sorted(
                stage_spans.items(),
                key=lambda kv: -sum(b - a for a, b in kv[1]),
            )[:6]
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--slots", type=int, default=0,
                    help="task slots (local[slots]); default = cores. "
                    "Oversubscribing slots past the pinned core budget "
                    "hides UDF-wait blocking in write tasks.")
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--urls", type=int, default=0)
    ap.add_argument("--batches", type=int, default=3)
    ap.add_argument("--log", default="/dev/shm/profile_changelog")
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    urls = args.urls or max(args.events // 20, 1000)

    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql import types as T  # noqa: N812

    from embulk_input_marketo_spark.generator import changelog
    from embulk_input_marketo_spark.lake import LakeTable
    from embulk_input_marketo_spark.replay import replay
    from embulk_input_marketo_spark.session import get_spark

    evdir = tempfile.mkdtemp(prefix="evlog_", dir="/dev/shm")
    shuffle_dir = tempfile.mkdtemp(prefix="prof_shuffle_", dir="/dev/shm")
    slots = args.slots or args.cores
    spark = get_spark(
        f"profile-{args.cores}", cores=slots,
        shuffle_partitions=4 * args.cores,
        extra_conf={
            "spark.local.dir": shuffle_dir,
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.driver.memory": f"{4 * args.cores}g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            # single uncompressed file so the parser below can stream it
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    marker = os.path.join(args.log, "_GENERATED")
    if args.regen or not os.path.exists(marker):
        changelog(
            spark, args.events, urls, seed=42, partitions=args.cores * 4
        ).write.mode("overwrite").parquet(args.log)
        open(marker, "w").write(f"{args.events} {urls} 42")

    log = spark.read.parquet(args.log)
    schema = T.StructType(
        [f for f in log.schema.fields
         if f.name not in ("lsn", "op", "schema_version")]
    )
    work = tempfile.mkdtemp(prefix=f"prof_{args.cores}_", dir="/dev/shm")
    warm_n = max(args.events // 50, 10_000)
    warm = LakeTable.create(
        os.path.join(work, "warm"), schema,
        key_col="url", lww_major="warc_ts", n_buckets=64,
    )
    replay(spark, log.where(F.col("lsn") < warm_n), warm,
           batch_span=warm_n, extract_text_from_html=True)

    table = LakeTable.create(
        os.path.join(work, "web_pages"), schema,
        key_col="url", lww_major="warc_ts", n_buckets=64,
    )
    t0_ms = time.time() * 1000
    t0 = time.perf_counter()
    report = replay(
        spark, log, table,
        batch_span=max(args.events // args.batches, 1),
        extract_text_from_html=True,
    )
    sec = time.perf_counter() - t0
    t1_ms = time.time() * 1000

    app_id = spark.sparkContext.applicationId
    # flush the event log before reading it
    spark.stop()
    ev_path = os.path.join(evdir, app_id)
    if not os.path.exists(ev_path):  # some builds suffix .inprogress
        cands = [p for p in os.listdir(evdir) if app_id in p]
        ev_path = os.path.join(evdir, cands[0])
        if os.path.isdir(ev_path):  # rolling v2 layout: events_* inside
            parts = sorted(
                p for p in os.listdir(ev_path) if p.startswith("events_")
            )
            ev_path = os.path.join(ev_path, parts[0])
    prof = _timeline(ev_path, t0_ms, t1_ms, args.cores)
    prof.update({
        "cores": args.cores,
        "events": report.events_applied,
        "events_per_sec": round(report.events_applied / sec, 1),
    })
    print(json.dumps(prof, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(prof, f)
    import shutil
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(shuffle_dir, ignore_errors=True)
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
