"""Scale-safe global-order primitives: whole-frame windows that are
EXPLICIT about boundedness, and cumulative sums / global row numbers
that never collapse to a single task.

Why this module exists: ``Window.partitionBy().orderBy(x)`` moves the
ENTIRE frame to one task. That is fine — and the right plan — when the
frame is provably tiny (|partitions|, |bins|, |9 digits|, |sources|),
but it is a 100 TB scale-killer when the frame is value-counts over a
near-continuous column or a per-entity table. This module gives each
case its own named tool so the distinction is visible in code review
and in logs:

- :func:`whole_frame` — an explicit ``partitionBy(lit(0))`` window for
  BOUNDED frames. Same single-partition execution, but the constant
  key is kept (session excludes Spark 4's EliminateWindowPartitions),
  so it never logs ``WARN WindowExec: No Partition Defined`` — any
  such warning that still appears is a real unbounded window bug.
- :func:`ordered_cumsum` — cumulative sums under a global order for
  UNBOUNDED frames, built from the partition-offset pattern proven in
  ``operators/sampling.deterministic_shuffle``: one range exchange
  (parallel sort with sampled boundaries), per-partition local
  cumulatives, plus broadcast per-partition offsets. Wall-clock stays
  wide at any scale; results are a function of the total order only,
  so the sampled range boundaries cannot affect them.
- :func:`global_row_number` / :func:`global_ntile` — total-order ranks
  and NTILE tiles from the same machinery (NTILE is pure arithmetic on
  the rank once the grand total rides along).

The reference has no analytics surface (SURVEY.md §2.2); these are the
engine-room primitives behind the statistics/evaluation extension
families (ROC AUC, calibration, KS/PSI CDFs, RFM tiles).

Determinism contract: ``order_cols`` must uniquely key the frame (all
call sites order value-counts frames by their distinct value, or add
an id tiebreak). With duplicate order keys an inclusive running sum is
order-dependent on ANY engine (DuckDB included), so the contract is
the same one the oracle mirrors already rely on.

DECISION TABLE — which frame helper a new operator uses (this is the
public operator contract; ``tests/test_plans.py`` lints bare
``Window.partitionBy()`` and sweeps every gate plan, so picking wrong
fails CI, but pick right the first time):

+---------------------------------------------+----------------------------+
| the frame you are windowing over is…        | use                        |
+=============================================+============================+
| BOUNDED by construction at 100 TB — value   | :func:`whole_frame`        |
| counts, |bins|, |groups|, |digits|, per-    | (explicit lit(0) key)      |
| partition registers; kilobytes provably     |                            |
+---------------------------------------------+----------------------------+
| bounded PER GROUP, caller passes the group  | :func:`grouped_frame`      |
| list and an EMPTY list must stay safe       | (empty → lit(0), visible)  |
| (value-counts / per-group stats tables)     |                            |
+---------------------------------------------+----------------------------+
| RAW ROWS grouped by caller columns — an     | :func:`require_groups`     |
| empty group list would window the full      | then plain                 |
| fact table in one task                      | ``Window.partitionBy(*g)`` |
+---------------------------------------------+----------------------------+
| UNBOUNDED under a TOTAL ORDER — global      | :func:`ordered_cumsum` /   |
| CDFs, ranks, tiles over row-scale data      | :func:`global_row_number` /|
|                                             | :func:`global_ntile`       |
+---------------------------------------------+----------------------------+

The question to ask is "how big is ONE frame at 100 TB?", never "how
big is it in the test". If the answer needs the phrase "usually small",
it is unbounded: use the partition-offset machinery.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def whole_frame(*order_cols: str | Column) -> WindowSpec:
    """A whole-frame window for PROVABLY BOUNDED frames (registers,
    |groups|, |bins|, |partitions| — kilobytes by construction).

    Semantically identical to ``Window.partitionBy()`` (every row in
    one frame, one task) but carries an explicit ``lit(0)`` partition
    key: the single-task plan is a declared design decision, not an
    accident, and Spark's "No Partition Defined" warning stays
    meaningful for real regressions. Callers must be able to argue the
    frame is bounded at 100 TB; otherwise use :func:`ordered_cumsum`.
    """
    w = Window.partitionBy(F.lit(0))
    return w.orderBy(*order_cols) if order_cols else w


def grouped_frame(
    group_cols: Sequence[str], *order_cols: str | Column
) -> WindowSpec:
    """Window partition spec over a CALLER-SUPPLIED group-column list
    that cannot silently degrade to a bare unpartitioned window: an
    empty list routes to the explicit ``lit(0)`` key of
    :func:`whole_frame` instead of recreating the single-task
    ``Window.partitionBy()`` shape invisibly (the empty-splat hole the
    source lint cannot see). Non-empty calls are unchanged.

    Use ONLY where the ungrouped frame is bounded at scale (value-counts
    / per-group stats tables); for unbounded global-order work use
    :func:`ordered_cumsum` / :func:`global_row_number`, and raw-row
    grouped operators should raise on an empty group list instead.
    """
    keys = list(group_cols)
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    return w.orderBy(*order_cols) if order_cols else w


def require_groups(group_cols, fn: str, alternative: str) -> list:
    """Guard for RAW-ROW grouped operators: an empty group list would
    silently rebuild the bare single-task ``Window.partitionBy()``
    shape over the full frame (invisible to the source lint — the
    splat is non-empty textually). Bounded value-counts operators
    route empty groups through :func:`grouped_frame` instead."""
    cols = list(group_cols)
    if not cols:
        raise ValueError(
            f"{fn}: group_cols must be non-empty — an ungrouped call "
            f"windows the raw rows in ONE task; {alternative}"
        )
    return cols


#: Materialization strategies for the cumulative-input frame.
_MATERIALIZE = ("localCheckpoint", "none")


def _ranged_by(
    df: DataFrame, order_cols: Sequence[str], materialize: str = "localCheckpoint"
) -> DataFrame:
    # repartitionByRange runs a SAMPLING job to pick boundaries, and
    # the offsets branch reads the frame a third time — without
    # materialization each pass recomputes the whole upstream plan
    # (measured: q25's KS/PSI parts tripled when the CDF inputs were
    # re-derived per pass). Default: a lazy localCheckpoint caches the
    # input on first touch; 'none' when the caller already
    # materialized the frame or reads the output exactly once.
    if materialize not in _MATERIALIZE:
        raise ValueError(
            f"materialize must be one of {_MATERIALIZE}, got {materialize!r}"
        )
    if materialize == "localCheckpoint":
        df = df.localCheckpoint(eager=False)
    cols = [F.col(c).asc() for c in order_cols]
    return (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
    )


def ordered_cumsum(
    df: DataFrame,
    order_cols: str | Sequence[str],
    sum_cols: Sequence[str],
    cum_prefix: str = "cum_",
    tot_prefix: str | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """Inclusive cumulative sums of ``sum_cols`` under the global
    ascending ``order_cols`` order, WITHOUT a single-task window.

    Returns ``df`` plus ``{cum_prefix}{c}`` per sum column, and — when
    ``tot_prefix`` is given — ``{tot_prefix}{c}`` grand totals on every
    row (the totals come from the same |partitions|-sized offsets
    frame, so no extra pass over the data and no 1-row cross join).

    Physical shape: one range exchange on the order key, a
    per-partition cumulative window (wide), and a broadcast hash join
    against the |partitions|-row exclusive-offset table. The offsets
    table itself is built with a :func:`whole_frame` window — bounded
    by the cluster's partition count, never by the data.

    Sum-column types are preserved (decimal stays decimal); the order
    key must uniquely identify rows (see module docstring).

    ``materialize``: how the multi-pass input frame is cached —
    ``'localCheckpoint'`` (default; lazy, lineage-truncating) or
    ``'none'`` (caller already materialized).
    """
    ocols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    with_pid = _ranged_by(df, ocols, materialize)

    per_pid = with_pid.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_s_{c}") for c in sum_cols]
    )
    w_excl = whole_frame("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = whole_frame()
    sel: list = [F.col("_pid")]
    for c in sum_cols:
        prev = F.sum(f"_s_{c}").over(w_excl)
        sel.append(F.coalesce(prev, F.lit(0)).alias(f"_off_{c}"))
        if tot_prefix is not None:
            sel.append(F.sum(f"_s_{c}").over(w_all).alias(f"{tot_prefix}{c}"))
    offsets = per_pid.select(*sel)

    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c).asc() for c in ocols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = with_pid.join(F.broadcast(offsets), "_pid")
    drop = ["_pid"]
    for c in sum_cols:
        out = out.withColumn(
            f"{cum_prefix}{c}", F.sum(c).over(w_loc) + F.col(f"_off_{c}")
        )
        drop.append(f"_off_{c}")
    return out.drop(*drop)


def global_row_number(
    df: DataFrame,
    order_cols: str | Sequence[str],
    out_col: str = "rn",
    tot_col: str | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """1-based position of every row under the global ascending
    ``order_cols`` order (ties broken by nothing — the key must be
    unique), plus the grand row count when ``tot_col`` is given.
    Same partition-offset shape (and ``materialize`` seam) as
    :func:`ordered_cumsum`; this is ``deterministic_shuffle``
    generalized to any caller-owned key.
    """
    ocols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    with_pid = _ranged_by(df, ocols, materialize)

    per_pid = with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_excl = whole_frame("_pid").rowsBetween(Window.unboundedPreceding, -1)
    sel = [
        F.col("_pid"),
        F.coalesce(F.sum("_n").over(w_excl), F.lit(0)).alias("_off"),
    ]
    if tot_col is not None:
        sel.append(F.sum("_n").over(whole_frame()).alias(tot_col))
    offsets = per_pid.select(*sel)

    w_loc = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in ocols])
    return (
        with_pid.withColumn("_local", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_local")).cast("bigint"))
        .drop("_pid", "_local", "_off")
    )


def global_ntile(
    df: DataFrame,
    order_cols: str | Sequence[str],
    n_tiles: int,
    out_col: str = "tile",
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """NTILE(n) under a global order without the single-task window.

    Reproduces Spark/DuckDB NTILE semantics exactly: with N rows the
    first ``N mod n`` tiles hold ``ceil(N/n)`` rows, the rest hold
    ``floor(N/n)`` — pure integer arithmetic on the global row number,
    so the result is bit-identical to ``ntile(n) OVER (ORDER BY ...)``
    on any engine while staying wide at scale.
    """
    ranked = global_row_number(
        df, order_cols, out_col="_gnt_rn", tot_col="_gnt_n", materialize=materialize
    )
    # exact integer forms (DIV = integer division; denominators are
    # nonzero whenever a row exists: N >= 1 so ceil(N/n) >= 1, and the
    # size_lo branch is only reached when N > n_hi*size_hi => size_lo>0)
    tile = F.expr(
        f"CAST(CASE WHEN _gnt_rn <= (_gnt_n % {n_tiles})"
        f"                * ((_gnt_n + {n_tiles} - 1) DIV {n_tiles})"
        f"  THEN (_gnt_rn - 1) DIV ((_gnt_n + {n_tiles} - 1) DIV {n_tiles}) + 1"
        f"  ELSE (_gnt_n % {n_tiles})"
        f"       + (_gnt_rn - (_gnt_n % {n_tiles})"
        f"                    * ((_gnt_n + {n_tiles} - 1) DIV {n_tiles}) - 1)"
        f"         DIV (_gnt_n DIV {n_tiles}) + 1"
        f" END AS BIGINT)"
    )
    return ranked.withColumn(out_col, tile).drop("_gnt_rn", "_gnt_n")
