"""A/B harness for replay-path session confs on the scaling workload.

Runs the same bounded replay (first N events of an existing generated
changelog) at a pinned core count, once per configuration, back-to-back and
interleaved, and prints per-run events/sec. Used to decide codec/conf
choices with data before touching the shipped defaults (the lz4-vs-snappy
parquet decision in session.py was made the same way).

Usage:
  taskset -c 0-7 python bench/ab_conf.py <changelog_dir> <events> <cores> \
      <repeats> name1=conf1:v1,conf2:v2 name2=...

Each run is a fresh Spark session in THIS process (sequential, never
concurrent); the lake goes to /dev/shm and is removed per run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(log_dir: str, events: int, cores: int, extra: dict) -> dict:
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql import types as T  # noqa: N812

    from embulk_input_marketo_spark.lake import LakeTable
    from embulk_input_marketo_spark.replay import replay
    from embulk_input_marketo_spark.session import get_spark

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    shuffle_dir = tempfile.mkdtemp(prefix=f"ab_shuffle_{cores}_", dir=base)
    work = tempfile.mkdtemp(prefix=f"ab_{cores}_", dir=base)
    spark = get_spark(
        f"ab-{cores}", cores=cores, shuffle_partitions=4 * cores,
        extra_conf={
            "spark.local.dir": shuffle_dir,
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.driver.memory": f"{4 * cores}g",
            **extra,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    log = spark.read.parquet(log_dir).where(F.col("lsn") < events)
    schema = T.StructType([
        f for f in spark.read.parquet(log_dir).schema.fields
        if f.name not in ("lsn", "op", "schema_version")
    ])
    # small untimed warm-up (JIT of scan/UDF/shuffle/write paths)
    warm = LakeTable.create(
        os.path.join(work, "warm"), schema, key_col="url",
        lww_major="warc_ts", n_buckets=64,
    )
    replay(spark, log.where(F.col("lsn") < max(events // 50, 10_000)), warm,
           batch_span=events, extract_text_from_html=True)
    shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)

    table = LakeTable.create(
        os.path.join(work, "web_pages"), schema, key_col="url",
        lww_major="warc_ts", n_buckets=64,
    )
    t0 = time.perf_counter()
    report = replay(
        spark, log, table, batch_span=max(events // 3, 1),
        extract_text_from_html=True,
    )
    sec = time.perf_counter() - t0
    out = {
        "events": report.events_applied,
        "sec": round(sec, 2),
        "ev_per_sec": round(report.events_applied / sec, 1),
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(shuffle_dir, ignore_errors=True)
    return out


def main() -> None:
    log_dir, events, cores, repeats = (
        sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    )
    variants = []
    for spec in sys.argv[5:]:
        name, _, confs = spec.partition("=")
        extra = {}
        if confs:
            for kv in confs.split(","):
                k, _, v = kv.partition(":")
                extra[k] = v
        variants.append((name, extra))
    results: dict[str, list] = {name: [] for name, _ in variants}
    for r in range(repeats):
        for name, extra in variants:
            out = run_once(log_dir, events, cores, extra)
            results[name].append(out)
            print(json.dumps({"repeat": r, "variant": name, **out}),
                  flush=True)
    for name, runs in results.items():
        best = max(x["ev_per_sec"] for x in runs)
        print(json.dumps({"variant": name, "best_ev_per_sec": best,
                          "all": [x["ev_per_sec"] for x in runs]}),
              flush=True)


if __name__ == "__main__":
    main()
