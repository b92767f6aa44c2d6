"""Skew mitigation: salted joins and two-phase aggregation.

At 100 TB a single hot key (one viral user, one default enum value)
turns a shuffle into one straggler task. AQE's skew-join splitting
(`spark.sql.adaptive.skewJoin`, on by default in
``stepist_spark.session.get_spark``) handles the sort-merge-join case
at runtime; these operators cover what AQE cannot:

- ``salted_join``: explicit salting for joins AQE won't split (e.g.
  when the skewed side feeds a co-partitioned downstream op, or for
  shuffled-hash paths);
- ``salted_agg``: two-phase aggregation for skewed GROUP BY keys —
  AQE never splits a hash-aggregate's hot key.

Salts hash the row PLUS a per-row partition sequence id, so even
byte-identical duplicate rows (the classic hot-key shape) spread across
all ``salt`` shards. Join/aggregation RESULTS are deterministic; the
physical row→shard assignment is not reproducible across runs (it
doesn't need to be — the salt column never escapes the operator).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ALGEBRAIC = {"sum", "count", "min", "max", "avg"}


def _salt_col(df: DataFrame, salt: int):
    """Per-row salt in [0, salt): hash of the row mixed with a per-row
    sequence id, so identical duplicate rows — the common hot-key
    shape — still land on different shards."""
    return F.pmod(
        F.xxhash64(F.monotonically_increasing_id(), *[F.col(c) for c in df.columns]),
        F.lit(salt),
    ).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed frame against a moderate one, spreading each hot
    key over ``salt`` partitions.

    The skewed side gets a deterministic per-row salt; the other side
    is replicated ``salt`` times (one copy per salt value), so every
    (key, salt) shard joins locally. Use when ``other`` is too big to
    broadcast but small enough to replicate ``salt``×; otherwise
    prefer ``broadcast()`` (small dim) or AQE skew-join (sort-merge).

    Result is row-identical to ``skewed.join(other, on, how)`` for
    inner/left joins.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            "salted_join supports inner/left joins (replicating the right "
            f"side breaks {how} semantics)"
        )
    s = skewed.withColumn("_salt", _salt_col(skewed, salt))
    o = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int")))
    )
    return s.join(o, keys + ["_salt"], how).drop("_salt")


def salted_agg(
    df: DataFrame,
    keys: str | Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation over skewed group keys.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max, avg}. Phase 1 aggregates on
    (keys, salt) — the hot key's rows split across ``salt`` reducers —
    phase 2 combines the per-salt partials on the true keys. The second
    shuffle moves at most ``salt`` rows per key.

    Equivalent to ``df.groupBy(keys).agg(...)`` for these algebraic
    functions (avg is recomposed exactly as sum/count).
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    for out_col, (in_col, fn) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{out_col}: {fn!r} is not algebraic; supported: {_ALGEBRAIC}")

    salted = df.withColumn("_salt", _salt_col(df, salt))

    partial_exprs, final_exprs = [], []
    for out_col, (in_col, fn) in aggs.items():
        if fn == "avg":
            partial_exprs += [
                F.sum(in_col).alias(f"_{out_col}_s"),
                F.count(in_col).alias(f"_{out_col}_c"),
            ]
            final_exprs.append(
                (F.sum(f"_{out_col}_s") / F.sum(f"_{out_col}_c")).alias(out_col)
            )
        elif fn == "count":
            partial_exprs.append(F.count(in_col).alias(f"_{out_col}_p"))
            final_exprs.append(F.sum(f"_{out_col}_p").alias(out_col))
        elif fn == "sum":
            partial_exprs.append(F.sum(in_col).alias(f"_{out_col}_p"))
            final_exprs.append(F.sum(f"_{out_col}_p").alias(out_col))
        else:  # min / max combine with themselves
            partial_exprs.append(getattr(F, fn)(in_col).alias(f"_{out_col}_p"))
            final_exprs.append(getattr(F, fn)(f"_{out_col}_p").alias(out_col))

    partial = salted.groupBy(*key_list, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key_list).agg(*final_exprs)


def skew_report(
    df: DataFrame,
    key_cols: str | list[str],
    top_n: int = 10,
) -> DataFrame:
    """Skew DIAGNOSIS for a prospective shuffle key: the ``top_n``
    hottest key values with exact counts and their share of all rows —
    the number to look at BEFORE choosing a salt factor or an AQE skew
    hint (a key holding more than ~1/partitions of the rows straggles
    any hash exchange keyed on it; its count/total is the minimum salt
    multiplier that levels it).

    One map-side-combined count aggregation over the rows; the top-n
    pick is a sort().limit() — planned as TakeOrderedAndProject, so
    every task keeps at most n rows and NOTHING ever concentrates the
    |keys|-row count table on one task (grouping keys can be
    unbounded-cardinality); the grand total is a 1-row aggregate
    broadcast onto the ≤top_n result rows.

    Output: ``*key_cols, n_rows, share`` (share = one exact-integer
    division), hottest first, deterministic key tiebreak.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    # the top-n branch and the grand-total branch both consume the
    # SAME |keys|-row counts table — checkpoint it so the raw frame is
    # aggregated once, not once per consumer (round-7 ADVICE)
    counts = counts.localCheckpoint(eager=False)
    top = counts.orderBy(
        F.col("n_rows").desc(), *[F.col(k).asc() for k in keys]
    ).limit(top_n)
    tot = counts.agg(F.sum("n_rows").alias("_tot"))
    return top.crossJoin(F.broadcast(tot)).select(
        *keys,
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("_tot").cast("double")).alias(
            "share"
        ),
    )


def skew_report_sql(
    table_sql: str, key_exprs: str | list[str], top_n: int = 10
) -> str:
    """DuckDB mirror of :func:`skew_report`."""
    keys = [key_exprs] if isinstance(key_exprs, str) else list(key_exprs)
    g = ", ".join(keys)
    ties = ", ".join(f"{k} ASC" for k in keys)
    return f"""
SELECT {g}, n_rows, CAST(n_rows AS DOUBLE) / tot AS share FROM (
    SELECT {g}, n_rows, sum(n_rows) OVER () AS tot,
           row_number() OVER (ORDER BY n_rows DESC, {ties}) AS rk
    FROM (SELECT {g}, count(*) AS n_rows FROM ({table_sql}) GROUP BY {g})
) WHERE rk <= {top_n}
"""
