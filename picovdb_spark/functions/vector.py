"""Scalar vector kernels as Catalyst array expressions (SURVEY.md §2.3).

All kernels are built-in higher-order array functions — JVM-side, inside
whole-stage codegen, no Python in the hot path. Arithmetic is carried in
DOUBLE so results are reproducible against the DuckDB oracle (float32
inputs widen exactly to float64; a left-fold of doubles is deterministic).

Reference semantics:
- `_normalize` — v/‖v‖₂, zero vector ⇒ e₀ = (1,0,0,…)
  (/root/reference/picovdb/pico_vdb.py:58-68).
- cosine ≡ dot product on unit vectors (/root/reference/picovdb/pico_vdb.py:686).
- auto-id = md5 of the vector bytes (/root/reference/picovdb/pico_vdb.py:54-55);
  here defined over a canonical string encoding (documented deviation,
  SURVEY.md §2.3) so the id is computable by any engine.

`vector_block` and `unit_rows` at the end are the NumPy side of the same
contract: every Arrow→NumPy kernel decodes its vector column and applies
the zero ⇒ e₀ rule through them, so the Catalyst and kernel forms of
the rule live in one module.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F


def l2_norm(v: Column) -> Column:
    """sqrt(sum(x^2)) in double."""
    return F.sqrt(
        F.aggregate(v, F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(v: Column) -> Column:
    """L2-normalize to array<double>; zero (or null-norm) vector maps
    deterministically to e₀ rather than NaN (pico_vdb.py:62-67). A
    LENGTH-0 array stays empty: `sequence(1, 0)` counts DOWN to [1, 0],
    so without the size guard an empty input would produce a 2-element
    e₀."""
    norm = l2_norm(v)
    unit = F.transform(v, lambda x: x.cast("double") / norm)
    e0 = F.transform(
        F.sequence(F.lit(1), F.size(v)),
        lambda i: F.when(i == 1, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    empty = F.transform(v, lambda x: x.cast("double"))
    return F.when(F.size(v) == 0, empty).otherwise(
        F.when(norm == 0.0, e0).otherwise(unit)
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double — a left fold, same order as the oracle's
    list_dot_product, so values agree to ~1 ulp."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, *, normalized: bool = False) -> Column:
    """Cosine similarity. If both sides are already unit vectors
    (`normalized=True`, the store invariant) this is just `dot`."""
    if normalized:
        return dot(a, b)
    return dot(l2_normalize(a), l2_normalize(b))


def quantize_int8(v: Column) -> Column:
    """Symmetric per-vector int8 quantization: struct(scale double,
    q array<tinyint>) with qᵢ = round(xᵢ / scale), scale = max|x| / 127.

    The 4× memory lever for a 100 TB vector column when PQ's 256× is too
    lossy: int8 keeps ~0.5% cosine error on unit vectors vs PQ's ~5-15%.
    All-zero (and empty) vectors get scale 1.0 so they round-trip to
    themselves. Pure Catalyst expression — quantization happens in the
    scan projection, no Python. `round` is HALF_UP on .5 like the DuckDB
    oracle's round(), so the twins agree exactly."""
    scale = F.aggregate(
        v,
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    ) / F.lit(127.0)
    safe = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    return F.struct(
        safe.alias("scale"),
        F.transform(
            v, lambda x: F.round(x.cast("double") / safe).cast("tinyint")
        ).alias("q"),
    )


def dequantize_int8(qv: Column) -> Column:
    """Inverse of `quantize_int8`: array<double> = q * scale."""
    return F.transform(
        qv["q"], lambda x: x.cast("double") * qv["scale"]
    )


def auto_id(v: Column) -> Column:
    """Content-hash id for records without `_id_`: md5 over a canonical
    string encoding of the normalized vector (6-decimal fixed point).

    The reference hashes raw float32 bytes (pico_vdb.py:54-55); a byte
    encoding is not portable across engines, so the engine defines the
    canonical form as `round(x, 6)` joined by ','. Same invariant holds:
    identical input vectors ⇒ identical id ⇒ upsert dedups by content.
    """
    canon = F.array_join(F.transform(l2_normalize(v), lambda x: F.format_number(x, 6)), ",")
    return F.md5(canon)


def assert_dim(v: Column, dim: int) -> Column:
    """Fail-fast dimension guard (pico_vdb.py:413-421): raises at execution
    time if any vector's length differs from the declared dim."""
    return F.when(F.size(v) == dim, v).otherwise(
        F.raise_error(F.concat(F.lit(f"vector dim mismatch: expected {dim}, got "), F.size(v).cast("string")))
    )


def vector_block(col: pa.Array | pa.ChunkedArray, dtype) -> np.ndarray:
    """(n, dim) matrix from an Arrow list column — the one Arrow→NumPy
    vector decode. Flattens the list values and reshapes, so there is no
    per-row Python work; when `dtype` is the Arrow value type the result
    is a zero-copy READ-ONLY view, otherwise the cast copy. An empty
    column gives (0, 0).

    Raises ValueError on a null row (it would vanish in the flatten and
    shift every later row) and on rows of differing length (checked on
    the list offsets: a total element count that happens to divide by n
    would otherwise reshape into silently wrong vectors)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    if col.null_count:
        raise ValueError(f"vector column contains {col.null_count} null vectors")
    lengths = np.diff(col.offsets.to_numpy())
    dim = int(lengths[0])
    bad = np.flatnonzero(lengths != dim)
    if bad.size:
        raise ValueError(
            f"ragged vectors: row 0 has dim {dim}, row {int(bad[0])} has "
            f"dim {int(lengths[bad[0]])}"
        )
    vals = col.flatten().to_numpy(zero_copy_only=False)
    return vals.reshape(n, dim).astype(dtype, copy=False)


def unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise v/‖v‖₂ with the zero ⇒ e₀ rule of `l2_normalize`, in the
    input's precision. Never mutates `m` (it may be a read-only Arrow
    view or alias a caller's array): zero rows are substituted in a
    copy, and the divide returns a new matrix."""
    norms = np.sqrt((m * m).sum(axis=1))
    zero = norms == 0.0
    if zero.any():
        m = m.copy()
        m[zero] = 0.0
        m[zero, 0] = 1.0
        norms[zero] = 1.0
    return m / norms[:, None]
