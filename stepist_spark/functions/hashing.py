"""Portable hashing: word hashes, MinHash, SimHash, shingle fingerprints.

Cross-engine design: Spark's built-in ``hash``/``xxhash64`` are not
reproducible in other engines, so every hash here is derived from MD5
(identical everywhere) truncated to 32 bits:

    h(s) = int(md5(s)[0:8 hex], 16)            # uniform in [0, 2^32)

MinHash then uses the standard universal-hash family
``(a_i * h + b_i) mod P`` with P prime > 2^32 and a_i, b_i < 2^30 so
``a_i * h + b_i < 2^62`` — no bigint overflow under Spark 4's ANSI
mode. All constants live here and are injected into both the Spark
expressions and the DuckDB oracle SQL.

Reference parity: the reference has no hashing/dedup operators at all
(SURVEY.md §2.2); these are the LLM-data-pipeline extensions mandated
by BASELINE.json, built from Spark built-ins (explode + groupBy.min is
a single shuffle with map-side partial aggregation — scales linearly).
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Prime just above 2^32.
MINHASH_P = 4_294_967_311
# Deterministic universal-hash coefficients (< 2^30; odd multipliers).
# Fixed literals — NOT runtime-random — so Spark and the DuckDB oracle
# compute identical signatures.
MINHASH_A = [
    536870909, 433494437, 297, 374761393,
    268435399, 190979111, 99990001, 715827883,
    613651349, 512927357, 413158523, 314606891,
]
MINHASH_B = [
    97, 514229, 39916801, 987654319,
    122949829, 433024253, 715225741, 3524578,
    201326611, 104395303, 15485863, 32452867,
]
SIMHASH_BITS = 32
# Gates build from threads (session.build_concurrently): the
# read-length-then-append extension below must not interleave, or two
# threads append the same index and every later coefficient shifts.
_COEFFS_LOCK = threading.Lock()


def ensure_minhash_coeffs(n: int) -> None:
    """Extend the universal-hash family deterministically past the 12
    literal seeds — corpus-scale banding wants 100+ hashes
    (see operators/dedup.lsh_params_for_threshold), and a fixed
    12-entry list was the cap. a_i = md5("minhash_a:i")[:8] forced odd
    (< 2^30, nonzero ⇒ a valid universal-hash multiplier), b_i likewise
    from "minhash_b:i". The first 12 entries are NEVER regenerated, so
    every existing gate hash is stable; cross-engine parity is free
    because the VALUES are injected as literals into both the Spark
    expressions and the DuckDB oracle SQL."""
    import hashlib

    with _COEFFS_LOCK:
        while len(MINHASH_A) < n:
            i = len(MINHASH_A)
            ha = int(hashlib.md5(f"minhash_a:{i}".encode()).hexdigest()[:8], 16)
            hb = int(hashlib.md5(f"minhash_b:{i}".encode()).hexdigest()[:8], 16)
            MINHASH_A.append((ha % (1 << 30)) | 1)
            MINHASH_B.append(hb % (1 << 30))


def word_hash32(col: Column) -> Column:
    """32-bit portable string hash: first 8 hex chars of md5 → bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def word_hash32_sql(expr: str) -> str:
    """DuckDB mirror of :func:`word_hash32`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def minhash_of_hash(h: Column, i: int) -> Column:
    """i-th universal hash applied to an existing 32-bit hash."""
    ensure_minhash_coeffs(i + 1)
    return (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)


def minhash_of_hash_sql(h_expr: str, i: int) -> str:
    ensure_minhash_coeffs(i + 1)
    return f"(({MINHASH_A[i]}::BIGINT * {h_expr} + {MINHASH_B[i]}) % {MINHASH_P})"


def minhash_signature(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature over a token-array column.

    One explode + one groupBy: the min() aggregation is partially
    computed map-side (hash-aggregate), so the shuffle carries only one
    row per (doc, nothing) — i.e. |docs| rows of n_hashes bigints, not
    |tokens| rows. At 100 TB this is the dominant-cost-optimal shape.

    Output: ``id_col, mh0..mh{n-1}``.
    """
    ensure_minhash_coeffs(n_hashes)
    tok = df.select(id_col, F.explode(F.col(tokens_col)).alias("_tok"))
    # materialize the base hash ONCE per token: aggregate expressions get
    # no common-subexpression elimination, so inlining word_hash32 into
    # every min() would run the md5 n_hashes times per row
    hashed = tok.select(id_col, word_hash32(F.col("_tok")).alias("_h"))
    aggs = [F.min(minhash_of_hash(F.col("_h"), i)).alias(f"mh{i}") for i in range(n_hashes)]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signature_sql(
    table: str,
    id_expr: str,
    tokens_expr: str,
    n_hashes: int = 8,
) -> str:
    """DuckDB mirror of :func:`minhash_signature` (same constants)."""
    h = word_hash32_sql("_tok")
    aggs = ", ".join(
        f"min({minhash_of_hash_sql(h, i)}) AS mh{i}" for i in range(n_hashes)
    )
    return (
        f"SELECT {id_expr} AS _id, {aggs} "
        f"FROM (SELECT {id_expr}, unnest({tokens_expr}) AS _tok FROM {table}) "
        f"GROUP BY {id_expr}"
    )


def simhash(df: DataFrame, id_col: str, tokens_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash over a token-array column (with multiplicity).

    Classic construction: for each bit position b, sum +1/-1 across
    token hashes; bit b of the output is 1 iff the sum is positive.
    Implemented as explode(tokens) × explode(bit range) → two-level
    aggregation — all JVM-side, no UDF. The bit fan-out multiplies rows
    by `bits` before the first (partial) aggregation; for 100 TB runs
    prefer bits=32 and pre-aggregate token counts per doc first.
    """
    tok = df.select(id_col, F.explode(F.col(tokens_col)).alias("_tok"))
    tok = tok.withColumn("_h", word_hash32(F.col("_tok")))
    bitted = tok.select(
        id_col, "_h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("_b")
    )
    signed = bitted.withColumn(
        "_s",
        F.when(F.expr("(_h >> _b) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)),
    )
    per_bit = signed.groupBy(id_col, "_b").agg(F.sum("_s").alias("_bitsum"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("_bitsum") > 0, F.expr("shiftleft(cast(1 as bigint), _b)")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("simhash")
    )


def simhash_sql(table: str, id_expr: str, tokens_expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB mirror of :func:`simhash`."""
    h = word_hash32_sql("_tok")
    return f"""
    WITH _tokens AS (
        SELECT {id_expr} AS _id, unnest({tokens_expr}) AS _tok FROM {table}
    ), _hashed AS (
        SELECT _id, {h} AS _h FROM _tokens
    ), _bits AS (
        SELECT _id, _h, b._b FROM _hashed, (SELECT unnest(range({bits})) AS _b) b
    ), _per_bit AS (
        SELECT _id, _b,
               sum(CASE WHEN ((_h >> _b) & 1) = 1 THEN 1 ELSE -1 END) AS _bitsum
        FROM _bits GROUP BY _id, _b
    )
    SELECT _id, CAST(sum(CASE WHEN _bitsum > 0 THEN (1::BIGINT << _b) ELSE 0 END) AS BIGINT) AS simhash
    FROM _per_bit GROUP BY _id
    """


def shingles(tokens: Column, k: int) -> Column:
    """k-word shingles of a token array (space-joined strings).

    Empty array when the document has fewer than k tokens (guarded —
    Spark's ``sequence`` would otherwise produce a descending range).
    """
    n = F.size(tokens)
    # higher-order functions run interpreted (no whole-stage codegen), so
    # build each shingle with k-1 O(1) element_at lookups instead of an
    # O(k) slice-copy per position — measurably faster on long docs
    make = F.transform(
        F.slice(tokens, 1, n - F.lit(k - 1)),
        lambda x, i: F.concat_ws(
            " ", x, *[F.element_at(tokens, i + F.lit(j + 1)) for j in range(1, k)]
        ),
    )
    return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))


def shingles_sql(tokens_expr: str, k: int) -> str:
    """DuckDB mirror of :func:`shingles` (1-based list_slice, same joins)."""
    return (
        f"CASE WHEN len({tokens_expr}) >= {k} THEN "
        f"list_transform(range(1, len({tokens_expr}) - {k - 2}), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {k - 1}), ' ')) "
        f"ELSE [] END"
    )


def span_hash60(col: Column) -> Column:
    """60-bit portable string hash (first 15 md5 hex chars → bigint).
    For keys that index large populations (e.g. every k-token window of
    a corpus) where 32 bits would birthday-collide; 60 bits keeps the
    same md5 portability and stays inside a signed bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def span_hash60_sql(expr: str) -> str:
    """DuckDB mirror of :func:`span_hash60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# sketch_pos60 splits the 60-bit hash into two independent 30-bit
# halves; the per-depth multiplier pairs come from the shared
# coefficient table (A_d for the low half, A_{d+4} for the high half,
# B_d as the addend) so both engines read the same literals.
_POS60_HALF = 1 << 30


def sketch_pos60(h: Column, d: int, width: int) -> Column:
    """d-th sketch cell position from an EXISTING 60-bit value hash
    (:func:`span_hash60`): ``((A_d·lo + A_{d+4}·hi + B_d) mod P) mod
    width`` with ``lo/hi`` the hash's 30-bit halves.

    Why not an affine rederivation of a 32-bit hash (the round-6
    scheme): two values colliding in the 32-bit BASE hash collide in
    EVERY depth row, so depth stops
    reducing the CMS error once the distinct-value population reaches
    birthday range (~2^16) — the (eps, delta) guarantee silently
    degrades (round-6 ADVICE). Deriving all rows from 60 bits pushes
    the all-row collision probability per pair to ~2^-60 while keeping
    ONE md5 per value. Overflow-safe under ANSI: each product is
    < 2^30·2^30 = 2^60, the sum < 2^62 < bigint max.
    """
    assert 0 <= d and d + 4 < len(MINHASH_A), "sketch_pos60 supports depth <= 8"
    lo = h % F.lit(_POS60_HALF)
    # shiftright is exact integer division by 2^30 for the non-negative
    # span_hash60 (a double division would lose bits above 2^53)
    hi = F.shiftright(h, 30)
    mixed = (
        F.lit(MINHASH_A[d]) * lo + F.lit(MINHASH_A[d + 4]) * hi + F.lit(MINHASH_B[d])
    ) % F.lit(MINHASH_P)
    return (mixed % F.lit(width)).cast("int")


def sketch_pos60_sql(h_expr: str, d: int, width: int) -> str:
    """DuckDB mirror of :func:`sketch_pos60`."""
    return (
        f"CAST((({MINHASH_A[d]}::BIGINT * (({h_expr}) % {_POS60_HALF}) "
        f"+ {MINHASH_A[d + 4]}::BIGINT * (({h_expr}) // {_POS60_HALF}) "
        f"+ {MINHASH_B[d]}) % {MINHASH_P}) % {width} AS INT)"
    )
