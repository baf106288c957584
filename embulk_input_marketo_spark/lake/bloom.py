"""Per-bucket key bloom filters: the absent-key fast path.

The dominant point query of a web-crawl CDC pipeline is negative: "have we
seen this url?" asked by a fetch frontier about urls that are mostly NEW.
Bucket pruning alone still reads one bucket's files per probe; at 10^10 rows
/ 10^5 buckets that is ~10^5 rows of IO to answer "no". A per-bucket bloom
filter over ``xxhash64(key)`` answers "definitely not present" from
O(bytes-of-one-bloom) metadata — no data file opened — and its false
positives only cost the read we would have done anyway (the read then finds
nothing or a tombstone, so answers stay exact).

Design:

- One bloom per BUCKET, not per file: buckets are the pruning unit, blooms
  OR monotonically across commits (a fixed-size bitset supports incremental
  union; per-file blooms would need the write task → file mapping that AQE
  granule coalescing deliberately obscures). Deletes stay in the bloom —
  conservative and sound (a deleted key reads its tombstone and returns
  absent).
- A complete bloom is always exactly bits(the bucket's key set): every
  write that can only ADD keys (merge-on-read appends, copy-on-write folds
  — LWW keeps every key, tombstones included) ORs the batch's keys into
  it, and every write that can shed keys (vacuum, compaction,
  ``delete_where``, rehash) rebuilds it from the files it wrote.
- Copy-on-write commits compute their delta from the BATCH, in the same
  per-bucket job that probes it (:func:`add_keys`, run by each group of the
  merge's pre-pass); the other writers use :func:`build_bloom_deltas`, a
  Spark job over the key column of the files the commit just wrote. Both
  group per bucket with an Arrow-batched numpy kernel — never a driver
  loop.
- Storage mirrors the ``FileSet`` side-file discipline (table.py:80): one
  binary side file per touched bucket per commit
  (``keybloom-<version>-<bucket>-<nonce>.bin``), pointer map in the
  manifest. Commit metadata stays O(touched buckets); probes load only the
  buckets they ask about.
- Hashing: double hashing over two JVM-side seeds —
  ``h1 = xxhash64(key)``, ``h2 = xxhash64(key, 1)``; bit i =
  ``(h1 + i*h2) mod m``. Probe-side hashes are computed by the SAME Spark
  expressions (a tiny job), so driver/executor disagreement on xxhash64's
  byte layout is impossible by construction.

Sizing: ``m_bits`` is fixed at enable time (unions require it). Rule of
thumb: ``m_bits ≥ 10 × expected keys per bucket`` keeps the false-positive
rate ~1% at k=7. Each bloom file records its key count so
:func:`bloom_health` can report saturation (bits/key) before the filter
degrades silently.

Reference parity note: the reference has no index at all — every
"already imported?" check re-pulls a date window
(MarketoBaseBulkExtractInputPlugin.java:126-137); this is the lake-side
primitive that answers it from metadata.
"""

from __future__ import annotations

import os
import struct
import uuid
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# header: magic, m_bits, k, n_keys  (little-endian u32, u64, u32, u64)
_MAGIC = 0x424C4D31  # "BLM1"
_HDR = struct.Struct("<IQIQ")

DEFAULT_K = 7


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, in uint64 space (Spark's
    xxhash64 lands as signed int64; reinterpret, don't abs)."""
    h1u = h1.astype(np.int64).view(np.uint64)
    h2u = h2.astype(np.int64).view(np.uint64)
    ii = np.arange(k, dtype=np.uint64)
    return (h1u[:, None] + ii[None, :] * h2u[:, None]) % np.uint64(m_bits)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bits, (flat >> np.uint64(3)).astype(np.int64),
                     (np.uint8(1) << (flat & np.uint64(7)).astype(np.uint8)))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n,) bool: True iff ALL k positions are set (might contain)."""
    byte = (pos >> np.uint64(3)).astype(np.int64)
    mask = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return ((bits[byte] & mask) != 0).all(axis=1)


def hash_cols(key_col: str) -> list[F.Column]:
    """The two JVM-side hash expressions every bloom producer AND prober
    uses — one definition, zero layout drift."""
    return [
        F.xxhash64(F.col(key_col)).alias("_h1"),
        F.xxhash64(F.col(key_col), F.lit(1)).alias("_h2"),
    ]


def build_bloom_deltas(
    keyed: DataFrame, m_bits: int, k: int = DEFAULT_K,
    bucket_col: str = "_b",
) -> dict[str, tuple[bytes, int]]:
    """Per-bucket (bloom bitset, key count) from a DataFrame carrying the
    bucket id and the merge key hashes (``hash_cols``). One narrow shuffle
    of 3 longs/row; the bitset build is an Arrow-batched numpy kernel
    (no per-row Python). Returns a driver dict sized
    O(touched buckets × m_bits/8) — the commit's metadata delta, not data."""
    nbytes = m_bits // 8

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(nbytes, dtype=np.uint8)
        pos = _positions(
            pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), m_bits, k
        )
        _set_bits(bits, pos)
        return pd.DataFrame(
            {
                "b": [str(pdf[bucket_col].iloc[0])],
                "bloom": [bits.tobytes()],
                "n": [len(pdf)],
            }
        )

    rows = (
        keyed.groupBy(bucket_col)
        .applyInPandas(fold, schema="b string, bloom binary, n long")
        .collect()
    )
    return {r["b"]: (bytes(r["bloom"]), int(r["n"])) for r in rows}


def write_bloom_side(
    meta_dir: str, version: int, bucket: str,
    bits: bytes, m_bits: int, k: int, n_keys: int,
) -> str:
    """Durable bloom side file; same nonce discipline as bucket side files
    (racing writers can never clobber each other's pointees)."""
    name = f"keybloom-{version:012d}-{bucket}-{uuid.uuid4().hex[:8]}.bin"
    tmp = os.path.join(meta_dir, name + f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as f:
        f.write(_HDR.pack(_MAGIC, m_bits, k, n_keys))
        f.write(bits)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(meta_dir, name))
    return name


def load_bloom(meta_dir: str, name: str) -> tuple[np.ndarray, int, int, int]:
    """→ (bits uint8 array, m_bits, k, n_keys)."""
    with open(os.path.join(meta_dir, name), "rb") as f:
        magic, m_bits, k, n = _HDR.unpack(f.read(_HDR.size))
        if magic != _MAGIC:
            raise ValueError(f"not a bloom side file: {name}")
        bits = np.frombuffer(f.read(m_bits // 8), dtype=np.uint8)
    return bits, m_bits, k, n


def add_keys(
    meta_dir: str, ptr: str | None, h1: np.ndarray, h2: np.ndarray,
    m_bits: int, k: int,
) -> tuple[bytes, int, bool | None]:
    """One bucket's bloom after adding the keys hashed as (h1, h2):
    → (old bits | the keys' bits, the old bloom's key count, might).
    ``might`` says whether the old bloom may hold any of the keys; it is
    None when the bucket has no bloom (``ptr`` None — the old bits are then
    empty and the count 0). Runs where the keys are, so only the pointer
    name travels, never bloom bytes."""
    pos = _positions(h1, h2, m_bits, k)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    _set_bits(bits, pos)
    if ptr is None:
        return bits.tobytes(), 0, None
    old, _mb, _k, n_old = load_bloom(meta_dir, ptr)
    might = bool(_test_bits(old, pos).any())
    return np.bitwise_or(old, bits).tobytes(), n_old, might


def union_bloom(old: np.ndarray | None, delta: bytes) -> bytes:
    d = np.frombuffer(delta, dtype=np.uint8)
    if old is None:
        return d.tobytes()
    if len(old) != len(d):
        raise ValueError("bloom size mismatch: m_bits is fixed at enable time")
    return np.bitwise_or(old, d).tobytes()


def bloom_health(table) -> dict:
    """Saturation report for a table's key blooms, from bloom headers alone
    (O(buckets) side-file header reads, no data scan) — the operator signal
    that ``m_bits`` was undersized BEFORE false-positive rates degrade the
    absent-key fast path silently. Per bucket: key count, bits/key, and the
    standard FPR estimate ``(1 - e^(-k·n/m))^k``. A bloom past ~2 bits/key
    is effectively saturated (FPR > 0.5): rebuild with a bigger ``m_bits``
    via ``enable_key_blooms`` (allowed — it REPLACES conf and every bloom
    in one commit, so sizes never mix)."""
    import math

    m = table.manifest()
    if not m.bloom_conf:
        return {"enabled": False}
    out: dict[str, dict] = {}
    worst_fpr = 0.0
    for b, ptr in sorted(m.bloom_ptrs.items(), key=lambda kv: int(kv[0])):
        with open(os.path.join(table.meta_dir, ptr), "rb") as f:
            magic, m_bits, k, n = _HDR.unpack(f.read(_HDR.size))
        if magic != _MAGIC:
            continue
        fpr = (1.0 - math.exp(-k * n / m_bits)) ** k if n else 0.0
        worst_fpr = max(worst_fpr, fpr)
        out[b] = {
            "keys": n,
            "bits_per_key": round(m_bits / n, 2) if n else float("inf"),
            "est_fpr": round(fpr, 6),
        }
    unbloomed = sorted(set(m.files) - set(m.bloom_ptrs), key=int)
    return {
        "enabled": True,
        "m_bits": int(m.bloom_conf["m_bits"]),
        "k": int(m.bloom_conf["k"]),
        "buckets": out,
        "worst_est_fpr": round(worst_fpr, 6),
        "unbloomed_buckets": unbloomed,
    }


def make_might_contain_udf(bblooms, bdata, m_bits: int, k: int):
    """Arrow-batched membership prefilter for :meth:`LakeTable.exists_join`:
    (bucket, h1, h2) → "might the table contain this key?". ``bblooms`` is a
    broadcast {bucket: bloom bytes}, ``bdata`` a broadcast set of buckets
    that hold data (a bucket with data but no bloom must stay a candidate —
    unknown is never treated as absent)."""

    @F.pandas_udf("boolean")
    def _might(pb: pd.Series, h1: pd.Series, h2: pd.Series) -> pd.Series:
        out = np.zeros(len(pb), dtype=bool)
        bl = bblooms.value
        dat = bdata.value
        pbv = pb.to_numpy()
        h1v = h1.to_numpy()
        h2v = h2.to_numpy()
        for b in np.unique(pbv[~pd.isna(pbv)]):
            sel = pbv == b
            bits = bl.get(int(b))
            if bits is None:
                out[sel] = int(b) in dat
                continue
            arr = np.frombuffer(bits, dtype=np.uint8)
            pos = _positions(h1v[sel], h2v[sel], m_bits, k)
            out[sel] = _test_bits(arr, pos)
        return pd.Series(out)

    return _might


def probe_hashes(
    spark: SparkSession, keys: Iterable, key_type: str = "string"
) -> list[tuple[int, int]]:
    """(h1, h2) per probe key via the SAME Spark expressions producers use.
    Driver-side helper for point probes (one tiny job, like
    LakeTable.lookup's bucket computation)."""
    df = spark.createDataFrame([(kv,) for kv in keys], f"k {key_type}")
    rows = df.select(*hash_cols("k")).collect()
    return [(r["_h1"], r["_h2"]) for r in rows]


def might_contain(
    bits: np.ndarray, m_bits: int, k: int, h1: int, h2: int
) -> bool:
    pos = _positions(np.array([h1]), np.array([h2]), m_bits, k)
    return bool(_test_bits(bits, pos)[0])
