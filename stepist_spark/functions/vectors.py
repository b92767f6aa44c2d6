"""Vector operations over embedding columns (``array<float>``).

Dot product / cosine as JVM-side higher-order functions
(``zip_with`` + ``aggregate``: sequential left-fold in double, so the
result is deterministic and reproducible in the DuckDB oracle, which
folds lists in the same order). No UDFs, no collect.

Scale note: brute-force top-k is a broadcast nested loop — correct at
any |corpus| as long as |queries| is small (queries broadcast, corpus
streams). The sub-linear path is random-hyperplane LSH bucketing
(:mod:`stepist_spark.operators.similarity`), which turns the search
into an equi-join on bucket signature.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fixed random-hyperplane constants for sign-LSH (64 planes × 64 dims),
# generated once from a linear congruential generator so they are plain
# literals shared with the oracle SQL.
_LCG_M = 2_147_483_647
_LCG_A = 48_271

DIM = 64
# 64 planes total: banded LSH draws bands of 8 or 16 consecutive planes
# (4 bands × 16 planes needs all 64).
MAX_PLANES = 64


def _lcg_int_stream(seed: int, n: int) -> list[int]:
    """A Park–Miller LCG draw in exact integer form: ``2*x - M``, a
    plane component scaled by ``M`` (``(2*x - M) / M`` lies in
    [-1, 1))."""
    out = []
    x = seed
    for _ in range(n):
        x = (_LCG_A * x) % _LCG_M
        out.append(2 * x - _LCG_M)
    return out


# Integer-exact plane constants for the banded signatures: sign(v · P/M)
# == sign(v · P) since M > 0, so the signature can be decided entirely
# in int64 — order-independent, bit-identical on every engine, and
# therefore computable with ONE numpy matmul per Arrow batch instead of
# n_planes interpreted fold-dots per row.
IPLANES: list[list[int]] = [
    _lcg_int_stream(seed=1234 + 7 * p, n=DIM) for p in range(MAX_PLANES)
]

# Fixed-point quantization scale for signature inputs. A power of two,
# so `v * FIXED_SCALE` is EXACT in double (only the +0.5/floor rounds):
# both engines compute bit-identical quantized ints from the same
# doubles. |v| < 1 here ⇒ |iq| < 2^20; |iq·plane| ≤ 2^20·2^31·64 = 2^57
# per dot — no int64 overflow.
FIXED_SCALE = 1 << 20


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB mirror: same element order, same double accumulation."""
    return f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (acc, x) -> acc + x)"


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential fold in double (deterministic,
    oracle-mirrorable) — the standard IVF assignment metric."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def norm_sql(a: str) -> str:
    return f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), (acc, x) -> acc + x))"


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN {norm_sql(a)} > 0 AND {norm_sql(b)} > 0 "
        f"THEN {dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}) ELSE 0.0 END"
    )


def band_signatures(vec: Column, n_bands: int, planes_per_band: int) -> Column:
    """All banded sign-LSH signatures of ``vec`` in one vectorized pass:
    an ``array<bigint>`` of length ``n_bands``, where bit ``p`` of band
    ``b`` is 1 iff ``Σ_d iq_d · IPLANES[b·ppb+p][d] >= 0`` with
    ``iq_d = floor(v_d · 2^20 + 0.5)``.

    The decision is ALL-INTEGER (fixed-point input × integer planes), so
    it is summation-order independent — one Arrow-batched numpy int64
    matmul per batch is bit-identical to any engine's sequential fold
    (see :func:`band_sig_int_sql` for the DuckDB mirror). This replaces
    ``n_bands × planes_per_band`` interpreted fold-dots per row (the
    round-1 hot spot: 64 interpreted dots ≈ 2.7 ms/row) with one BLAS-free
    exact matmul (~µs/row).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    total = n_bands * planes_per_band
    if total > MAX_PLANES:
        raise ValueError(f"{n_bands}×{planes_per_band} planes exceed {MAX_PLANES}")
    planes = np.array(IPLANES[:total], dtype=np.int64)  # (total, d)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    def _sigs(s):
        m = np.stack(s.to_numpy()).astype(np.float64)  # (n, d)
        iq = np.floor(m * FIXED_SCALE + 0.5).astype(np.int64)
        bits = (iq @ planes.T >= 0).astype(np.int64)  # (n, total)
        sigs = bits.reshape(len(m), n_bands, planes_per_band) @ weights
        return pd.Series(list(sigs))

    # explicit scalar eval type (module-level `from __future__ import
    # annotations` stringifies hints, which the hint-based API rejects)
    return pandas_udf(_sigs, "array<bigint>")(vec)


def iquant_sql(vec: str) -> str:
    """DuckDB mirror of the signature quantization: float→double is
    exact, ×2^20 is exact (power of two), floor(+0.5) rounds identically
    to the numpy path."""
    return f"list_transform({vec}, x -> CAST(floor(x * {float(FIXED_SCALE)} + 0.5) AS BIGINT))"


def band_sig_int_sql(vec: str, band: int, planes_per_band: int) -> str:
    """DuckDB mirror of one band of :func:`band_signatures`: integer
    dot against the band's plane slice, then the same bit packing. The
    sum is over int64 products (DuckDB widens to HUGEINT — sign
    unaffected), so the result is exactly the numpy matmul's."""
    q = iquant_sql(vec)
    terms = []
    for p in range(planes_per_band):
        plane = IPLANES[band * planes_per_band + p]
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        d = f"list_sum(list_transform(list_zip({q}, {lit}), t -> t[1] * t[2]))"
        terms.append(f"(CASE WHEN {d} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END << {p})")
    return "(" + " + ".join(terms) + ")"
