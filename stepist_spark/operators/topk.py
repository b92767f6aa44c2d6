"""Top-k operators.

Global top-k: ``orderBy().limit(k)`` — Spark plans this as
TakeOrderedAndProject: each partition keeps a k-heap, the driver merges
k·partitions rows; no full sort, no full shuffle. Per-group top-k:
row_number window ≤ k — one sort-shuffle on the group key.
Deterministic tiebreaks are mandatory (the oracle gate compares sets,
but the k-boundary must cut identically in both engines).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stepist_spark.operators.cumulative import require_groups


def global_topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    return df.orderBy(*order).limit(k)


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str | Column],
    order: Sequence[Column],
    k: int | Column,
    rank_col: str = "rn",
) -> DataFrame:
    """The library's one rank-and-cut: number each group's rows by
    ``order`` (1-based) into ``rank_col`` and keep ranks ``<= k``.

    ``group_cols`` may be expressions (``md5(text)``, ``id % n``); ``k``
    may be a per-row column (a set's own prefix length). The rank stays
    ``int`` through the cut: an int ``k`` against the bare window
    output lets Spark plan a WindowGroupLimit below the sort-shuffle,
    which a cast rank would hide — cast after the cut.
    """
    group_cols = require_groups(
        group_cols, "grouped_topk", "use global_topk (TakeOrderedAndProject)"
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    rank = F.col(rank_col)
    # a single-winner pick filters "= 1": Catalyst infers the same
    # WindowGroupLimit from either form, and the plan reads as a pick
    keep = rank == 1 if isinstance(k, int) and k == 1 else rank <= k
    return df.withColumn(rank_col, F.row_number().over(w)).filter(keep)
