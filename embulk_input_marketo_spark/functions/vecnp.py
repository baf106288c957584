"""Bit-exact numpy twins of the JVM fold-based vector math.

The engine's cosine/dot/norm expressions are interpreted higher-order
functions (``aggregate(zip_with(...))``) — ~250 ns per element on this
Spark build, which dominates the O(n²/cells) SemDeDup pair loop and the
O(n·cells) assignment pass (r6 plan+profile audit). The guide's §4.2
answer is to hand whole Arrow batches to vectorized native code; the
catch is that results must stay BIT-IDENTICAL to the JVM fold (declared
queries are hash-compared against frozen DuckDB oracles), and naive BLAS
matmul / ``np.round`` both break that:

- BLAS uses blocked/pairwise summation; the JVM fold is strictly
  left-associated (``((0.0 + x0) + x1) + …``). :func:`seq_matmul` /
  :func:`seq_sq_norms` therefore accumulate one element position per
  step across the whole matrix — vectorized over rows/pairs, but the
  per-entry addition order is exactly the fold's.
- ``np.round`` is HALF_EVEN over the binary value; Spark's
  ``round(double, d)`` is ``BigDecimal.valueOf(x)`` (i.e. the SHORTEST
  DECIMAL STRING, ``Double.toString``) quantized HALF_UP.
  :func:`round_half_up` reproduces that via Python ``repr`` (the same
  shortest round-trip decimal) + ``decimal`` quantization; the
  vectorized wrapper :func:`round_half_up_array` uses a cheap
  floor-formula for values provably far from a rounding boundary and
  the exact path for the rest.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def seq_matmul(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """``out[i, j] = fold_k(A[i, k] * B[j, k])`` with the JVM aggregate's
    exact left-associated accumulation order: ``out`` starts at 0.0 and
    element positions are added one k at a time, so every entry sees
    ``((0.0 + p_0) + p_1) + …`` — bit-identical to
    ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)`` on the same doubles."""
    n, d = A.shape
    m = B.shape[0]
    out = np.zeros((n, m), dtype=np.float64)
    for k in range(d):
        out += A[:, k, None] * B[None, :, k]
    return out


def seq_sq_norms(A: np.ndarray) -> np.ndarray:
    """``sqrt(fold_k(acc + A[i,k]*A[i,k]))`` per row — bit-identical to the
    engine's ``_norm`` fold (product first, then add, in index order)."""
    n, d = A.shape
    s = np.zeros(n, dtype=np.float64)
    for k in range(d):
        v = A[:, k]
        s += v * v
    return np.sqrt(s)


def py_fold_dot(a, b) -> float | None:
    """Pure-Python replica of ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)``
    including zip_with's null padding: unequal lengths or None elements
    poison the sum to None, exactly like the JVM fold."""
    if a is None or b is None:
        return None
    if len(a) != len(b):
        return None  # zip_with pads with null -> null product -> null sum
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + (float(x) * float(y))
    return acc


def round_half_up(x: float, decimals: int = 6) -> float:
    """Spark ``round(double, decimals)``: quantize the SHORTEST-REPR decimal
    (``Double.toString`` ≡ Python ``repr``) HALF_UP, back to double."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    q = Decimal(1).scaleb(-decimals)
    r = float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
    # java.math.BigDecimal has no signed zero: round(-1e-9, 6) == 0.0, not
    # -0.0 (python's Decimal keeps the sign; normalize to match Spark)
    return 0.0 if r == 0.0 else r


def round_half_up_array(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """Vectorized :func:`round_half_up`. The floor formula
    ``sign(x) * floor(|x|*10^d + 0.5) / 10^d`` equals the exact
    string-decimal HALF_UP everywhere except within a guard band of a
    .5·10^-d boundary; banded values take the exact path. The double
    scaling error and the shortest-repr displacement grow with magnitude
    (a few ulps of ``|x|*10^d``), so the band does too: ``1e-6`` or
    ``1e-12`` of ``|x|*10^d``, whichever is wider. Past ``|x|*10^d`` ≈ 5e11
    every value is banded and takes the exact path."""
    scale = 10.0 ** decimals
    ax = np.abs(x)
    scaled = ax * scale
    with np.errstate(invalid="ignore"):
        out = np.copysign(np.floor(scaled + 0.5) / scale, x)
        out[out == 0.0] = 0.0  # BigDecimal has no signed zero (see above)
        frac = scaled - np.floor(scaled)
        band = np.maximum(1e-6, scaled * 1e-12)
        suspicious = ~np.isfinite(x) | (np.abs(frac - 0.5) < band)
    if suspicious.any():
        flat = out.reshape(-1)
        xf = np.asarray(x, dtype=np.float64).reshape(-1)
        for i in np.nonzero(suspicious.reshape(-1))[0]:
            flat[i] = round_half_up(float(xf[i]), decimals)
        out = flat.reshape(out.shape)
    return out
