"""Vector column expressions (array<float>/array<double>).

All JVM-side (`zip_with` + `aggregate`), sequential evaluation order —
deterministic and bit-reproducible across runs and engines. Used by
operators.similarity and operators.dedup; public API for users writing
their own vector queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str, b: str) -> Column:
    """Sequential-order double dot product (deterministic)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )


def norm(a: str) -> Column:
    return F.expr(f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v))")


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_scale(vec_col: str, bits: int = 8) -> Column:
    """Per-vector symmetric quantization scale: max|v| mapped to the
    top of the signed `bits`-bit range (127 for int8). The 1e-30 floor
    keeps all-zero vectors finite instead of dividing by zero."""
    top = (1 << (bits - 1)) - 1
    return F.expr(
        f"greatest(array_max(transform(CAST({vec_col} AS ARRAY<DOUBLE>), x -> abs(x))), 1e-30D) / {top}.0D"
    )


def quantize_vec(vec_col: str, scale_col: str) -> Column:
    """Symmetric scalar quantization to int codes: round-half-up of
    v/s. floor(x + 0.5) rather than round(): Spark and DuckDB agree on
    floor bit-for-bit, while their round()s differ in mode (HALF_UP vs
    half-even) — and DuckDB's CAST(double AS INT) rounds where Spark
    truncates, so the cast must only ever see an exact integral."""
    return F.expr(
        f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), x -> CAST(floor(x / {scale_col} + 0.5D) AS INT))"
    )


def int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two int-code arrays (bigint —
    ANSI-safe: |code| ≤ 127 so each term ≤ 16129, far below 2^63)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * y), "
        f"CAST(0 AS BIGINT), (s, v) -> s + v)"
    )


def int_norm(a: str) -> Column:
    """sqrt of the exact integer self-dot (double)."""
    return F.expr(
        f"sqrt(CAST(aggregate({a}, CAST(0 AS BIGINT), (s, v) -> s + CAST(v AS BIGINT) * v) AS DOUBLE))"
    )


def plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    plane p, dimension d — blake2b-derived, no RNG state, identical
    across runs/machines."""
    import hashlib

    h = hashlib.blake2b(f"{p},{d}".encode(), digest_size=4).digest()
    return (int.from_bytes(h, "big") % 2001 - 1000) / 1000.0


def _plane_dot_sql(vec_col: str, p: int, n_dims: int | None) -> str:
    """SQL text of v · r_p for plane p, the weights a LITERAL array
    computed here once at plan-build, so the per-row work is a pure
    float dot product with no per-(row, dim) hashing. `n_dims` bounds
    the weight array; None means 256 weights sliced to the vector's
    length (zip_with null-pads the shorter side, which would poison the
    sum)."""
    weights = ", ".join(f"{plane_weight(p, d)!r}D" for d in range(n_dims or 256))
    warr = (
        f"array({weights})"
        if n_dims is not None
        else f"slice(array({weights}), 1, size({vec_col}))"
    )
    return (
        f"aggregate(zip_with({vec_col}, {warr}, "
        f"(x, w) -> x * w), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )


def hyperplane_bucket(
    vec_col: str,
    n_planes: int = 12,
    n_dims: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(v · r_p), packed
    into a bigint. Weights come from `plane_weight` (deterministic,
    zero driver-side state to broadcast), embedded as literal arrays
    (`_plane_dot_sql`); `n_dims` bounds the weight array, and the
    default 256 covers unknown dims. `plane_offset` shifts the plane
    ids, yielding an INDEPENDENT table of planes — the building block
    for OR-amplified multi-table LSH (operators.dedup.embedding_near_dups).
    """
    bits = [
        f"CASE WHEN {_plane_dot_sql(vec_col, plane_offset + p, n_dims)} > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {p}) ELSE CAST(0 AS BIGINT) END"
        for p in range(n_planes)
    ]
    return F.expr(" + ".join(bits))


def plane_dots(
    vec_col: str,
    n_planes: int,
    n_dims: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """array<double> of the raw hyperplane dot products v · r_p for
    planes plane_offset .. plane_offset+n_planes-1 (same literal-weight
    construction as `hyperplane_bucket`). The magnitudes are the
    distances to each cutting plane — the probe-priority signal for
    query-directed multi-probe (Lv et al., VLDB'07): the planes a query
    sits closest to are the ones most likely to have split it from its
    near neighbors."""
    dots_ = [
        _plane_dot_sql(vec_col, plane_offset + p, n_dims) for p in range(n_planes)
    ]
    return F.expr("array(" + ", ".join(dots_) + ")")


def infer_dim(df, vec_col: str) -> int | None:
    """Probe the vector dimension from the first row; None on empty
    input. This runs Spark jobs at plan-build time, and `first()` runs
    the input's whole upstream (every shuffle stage feeding it), so it
    is as costly as the input's lineage, not one row. Only operators
    that must size a weight literal past 256 dims call it."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row.d
