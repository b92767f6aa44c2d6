"""Rolling-window anomaly scoring over windowed aggregates.

Two-level temporal analytics — the monitoring-dashboard pattern: first
aggregate events into time windows (``streaming/windows.py``), then
score each window against the rolling statistics of its own trailing
history. A window whose count deviates from its lookback mean by more
than ``threshold`` standard deviations is flagged.

Scale shape: the input is already windowed (|keys| × |windows| rows —
orders of magnitude below the raw events), and the rolling pass is ONE
window function per key ordered by window start: Spark sorts within
each key's partition, no self-join, no per-row history explosion. The
same query runs incrementally under Structured Streaming by keeping
the windowed aggregate as a sink table and scoring only appended
windows.

Portability (the certification mode of every operator here): the
rolling mean/variance come from EXACT bigint frame sums (sum, sum of
squares, count over a ROWS frame), combined in doubles with one
mirrored expression tree — no stddev_samp(), whose accumulation
algorithm (Welford vs sum-of-squares, partition order) is
engine-specific. sqrt is IEEE-correctly-rounded everywhere.

The reference has no analytics surface at all (SURVEY.md §2.2);
BASELINE.json text-analysis extension territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stepist_spark.operators.cumulative import grouped_frame
from stepist_spark.operators.cumulative import require_groups as _require_groups
from stepist_spark.operators.topk import grouped_topk


def _join_on_groups(left: DataFrame, right: DataFrame, group_cols) -> DataFrame:
    """Inner join on the group key — or, for the UNGROUPED call, a
    broadcast cross join against the then-1-row right side (the
    standard 1-row scalar-frame pattern; ``join(on=[])`` is not a
    valid Spark call)."""
    cols = list(group_cols)
    if cols:
        return left.join(right, cols)
    return left.crossJoin(F.broadcast(right))


def rolling_zscore(
    windowed: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    lookback: int = 6,
    threshold: float = 2.0,
    z_col: str = "z",
    flag_col: str = "is_anomaly",
) -> DataFrame:
    """Append ``z_col`` (rounded to 6 dp) and ``flag_col`` per row:
    the z-score of ``value_col`` (an INTEGER column — counts) against
    the trailing ``lookback`` rows of the same key, ordered by
    ``order_col``.

    NULL z when history is incomplete (< lookback prior rows) or the
    history is constant (zero variance) — flagged False either way.

    Requirements: ``(key_cols, order_col)`` must be UNIQUE per row —
    ties make the ROWS frame ordering (and thus z) engine-
    nondeterministic. Sums accumulate in decimal(38,0), matching
    DuckDB's int128 (HUGEINT) sum type, so the k·Σx² − (Σx)² numerator
    is exact up to ~10^38 — far past any realistic windowed count —
    and both engines ERROR (never silently wrap) beyond it.
    """
    from pyspark.sql import Window

    key_cols = _require_groups(
        key_cols, "rolling_zscore", "pre-aggregate to one global series first"
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(-lookback, -1)
    )
    x = F.col(value_col).cast("bigint")
    # decimal(19,0) per-row values: Σx is decimal(29,0), Σx² sums the
    # decimal(38,0) products — bigint sums would overflow at ~1.2e9
    # per-window counts and, under ANSI mode, error where the DuckDB
    # mirror (HUGEINT accumulation) succeeds (round-3 ADVICE)
    xd = x.cast("decimal(19,0)")
    s = F.sum(xd).over(w)
    s2 = F.sum(xd * xd).over(w)
    k = F.count(x).over(w)
    # sample variance from exact decimal sums: (k*Σx² - (Σx)²) / (k(k-1))
    var_num = k.cast("decimal(19,0)") * s2 - s * s
    var = var_num.cast("double") / (k * (k - 1)).cast("double")
    mean = s.cast("double") / k.cast("double")
    z = F.round((x.cast("double") - mean) / F.sqrt(var), 6)
    z_guarded = F.when((k == lookback) & (var_num > 0), z)
    out = windowed.withColumn(z_col, z_guarded)
    return out.withColumn(
        flag_col,
        F.coalesce(F.abs(F.col(z_col)) > F.lit(threshold), F.lit(False)),
    )


def rolling_zscore_sql(
    windowed_sql: str,
    key_exprs: list[str],
    order_expr: str,
    value_expr: str,
    lookback: int = 6,
    threshold: float = 2.0,
) -> str:
    """DuckDB mirror of :func:`rolling_zscore` (same expression tree,
    same frame; DuckDB's sum(BIGINT) accumulates in HUGEINT, which the
    Spark side matches with decimal(38,0)). ``windowed_sql`` must yield
    the windowed aggregate, unique per (keys, order)."""
    keys = ", ".join(key_exprs)
    frame = (
        f"OVER (PARTITION BY {keys} ORDER BY {order_expr} "
        f"ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)"
    )
    x = f"CAST({value_expr} AS BIGINT)"
    return f"""
SELECT * EXCLUDE (_s, _s2, _k), coalesce(abs(z) > {threshold}, FALSE) AS is_anomaly
FROM (
    SELECT *,
           CASE WHEN _k = {lookback} AND (_k * _s2 - _s * _s) > 0 THEN
               round((CAST({x} AS DOUBLE) - CAST(_s AS DOUBLE) / CAST(_k AS DOUBLE))
                     / sqrt(CAST(_k * _s2 - _s * _s AS DOUBLE)
                            / CAST(_k * (_k - 1) AS DOUBLE)), 6)
           END AS z
    FROM (
        SELECT *,
               sum({x}) {frame} AS _s,
               sum({x} * {x}) {frame} AS _s2,
               count({x}) {frame} AS _k
        FROM ({windowed_sql})
    )
)
"""


def funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
    max_gap: str = "1 hour",
) -> DataFrame:
    """Time-constrained funnel: for each user, the earliest chain
    ``stages[0] -> stages[1] -> ...`` where each step occurs strictly
    after the previous one and within ``max_gap`` of it. Output one row
    per stage: ``stage_idx, stage, n_users`` (users whose chain reaches
    that stage).

    Earliest-chain semantics: step i's timestamp is the MIN qualifying
    ``stages[i]`` event after the user's step-(i-1) time — the standard
    product-analytics definition (greedy earliest anchor; a user who
    misses the window after the earliest anchor does not re-anchor on a
    later one).

    Scale shape: one filtered aggregate per stage, each a user-keyed
    hash aggregation joined user-to-user with the previous stage frame
    (|users| rows, NOT |events|) — co-partitioned on the user key after
    the first shuffle, never a cross join. Funnel depth = number of
    stages = plan depth, constant per query.
    """
    per_stage = []
    gap = F.expr(f"INTERVAL {max_gap}")
    prev = None
    for i, stage in enumerate(stages):
        ev = events.filter(F.col(type_col) == stage).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if prev is None:
            cur = ev.groupBy("_u").agg(F.min("_ts").alias("_t"))
        else:
            cur = (
                ev.join(prev.select("_u", F.col("_t").alias("_pt")), "_u")
                .filter((F.col("_ts") > F.col("_pt")) & (F.col("_ts") <= F.col("_pt") + gap))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_t"))
            )
        per_stage.append(
            cur.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(i).cast("bigint").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_users",
            )
        )
        prev = cur
    out = per_stage[0]
    for s in per_stage[1:]:
        out = out.unionByName(s)
    return out


def funnel_stages_sql(
    events_sql: str,
    user_expr: str,
    ts_expr: str,
    type_expr: str,
    stages: list[str],
    max_gap_sql: str = "INTERVAL 1 HOUR",
) -> str:
    """DuckDB mirror of :func:`funnel_stages`. Stage names are escaped
    for single-quoted SQL literals (the Spark side's F.lit needs no
    escaping, so quote-bearing stage values must not diverge)."""
    ctes = [f"ev AS (SELECT {user_expr} AS u, {ts_expr} AS ts, {type_expr} AS et FROM ({events_sql}))"]
    selects = []
    for i, stage in enumerate(stages):
        lit = stage.replace("'", "''")
        if i == 0:
            ctes.append(
                f"s{i} AS (SELECT u, min(ts) AS t FROM ev WHERE et = '{lit}' GROUP BY u)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.u, min(e.ts) AS t FROM ev e JOIN s{i-1} p ON e.u = p.u "
                f"WHERE e.et = '{lit}' AND e.ts > p.t AND e.ts <= p.t + {max_gap_sql} "
                f"GROUP BY e.u)"
            )
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS stage_idx, '{lit}' AS stage, "
            f"CAST(count(*) AS BIGINT) AS n_users FROM s{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def event_transitions(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences: for each user's events in time order, count every
    consecutive (from_type -> to_type) step. The empirical transition
    matrix behind next-event analytics.

    One window pass (lead over user, ordered by ts with a deterministic
    tiebreak) + one hash aggregation — |events| rows through a single
    shuffle keyed by user, then a tiny (|types|²) result.

    Output: ``from_type, to_type, n_transitions``.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def event_transitions_sql(
    events_sql: str,
    user_expr: str,
    ts_expr: str,
    type_expr: str,
    tiebreak_expr: str | None = None,
) -> str:
    """DuckDB mirror of :func:`event_transitions`."""
    tb = f", {tiebreak_expr}" if tiebreak_expr else ""
    return f"""
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM (
    SELECT {type_expr} AS from_type,
           lead({type_expr}) OVER (PARTITION BY {user_expr}
                                   ORDER BY {ts_expr}{tb}) AS to_type
    FROM ({events_sql})
) WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention: users grouped by their first-seen week,
    counted in every later week they were active. The classic
    product-analytics triangle.

    Two aggregations over |events|: (1) first-seen week per user,
    (2) distinct active (user, week) pairs — then a user-keyed join
    (co-partitioned with (1)) and a tiny (cohorts × offsets) count.
    Weeks are Monday-truncated dates; ``week_offset`` is whole weeks
    since the cohort week (exact integer day-diff DIV 7, portable).

    Output: ``cohort_week (date), week_offset, n_users``.
    """
    weeks = events.select(
        F.col(user_col).alias("u"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("wk"),
    )
    firsts = weeks.groupBy("u").agg(F.min("wk").alias("cohort_week"))
    active = weeks.distinct()
    return (
        active.join(firsts, "u")
        .select(
            "cohort_week",
            F.expr("CAST(datediff(wk, cohort_week) AS BIGINT) DIV 7").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def cohort_retention_sql(events_sql: str, user_expr: str, ts_expr: str) -> str:
    """DuckDB mirror of :func:`cohort_retention`."""
    return f"""
WITH wks AS (
    SELECT {user_expr} AS u,
           CAST(date_trunc('week', {ts_expr}) AS DATE) AS wk
    FROM ({events_sql})
),
firsts AS (SELECT u, min(wk) AS cohort_week FROM wks GROUP BY u),
active AS (SELECT DISTINCT u, wk FROM wks)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN firsts f ON f.u = a.u
GROUP BY f.cohort_week, week_offset
"""


def grouped_median_mad(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    value_counts: DataFrame | None = None,
) -> DataFrame:
    """EXACT per-group discrete median and MAD (median absolute
    deviation) — the robust-statistics pair for outlier thresholds
    (median ± k*MAD survives the contamination that wrecks mean/std).

    'Discrete' = the element at rank (n+1) DIV 2 of the sorted group —
    no interpolation, so the result is always an actual data value and
    is bit-identical across engines regardless of tie order (ties don't
    affect WHICH VALUE sits at a rank).

    Scale shape: the raw rows are touched only by hash aggregations
    ((group, value) counts — map-side combined, fully parallel however
    few groups there are); the rank is then located by a cumulative
    window over the DISTINCT-VALUE counts. A naive per-group sort
    serializes into one task per group (measured 16s for 3 groups x 2M
    rows at sf1); this shape took it to ~2s, and the window input is
    |distinct values| rows, not |rows|.

    Output: ``*group_cols, median, mad, n``.

    ``value_counts``: optional pre-built ``(*group_cols, value_col,
    c)`` frame with RAW (unscaled) distinct values — the
    rank-statistics-family reuse contract: one materialized base pass
    feeds every sibling statistic over the same column. When provided,
    ``df`` is ignored and the internal checkpoint is skipped (the
    caller's base is the cache); counts aggregate identically, so
    results are hash-identical.
    """
    from pyspark.sql import Window

    def _median_of_counts(counts: DataFrame, col: str) -> DataFrame:
        """counts: (*group_cols, col, _cnt) -> per-group discrete
        median of the expanded multiset + total count."""
        # grouped_frame: empty group_cols stays an explicit lit(0)
        # whole-frame window over the BOUNDED value-counts table
        w = grouped_frame(group_cols, F.col(col).asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cw = grouped_frame(group_cols)
        cum = counts.select(
            *group_cols,
            F.col(col),
            F.sum("_cnt").over(w).alias("_cum"),
            F.sum("_cnt").over(cw).alias("_n"),
        )
        # the median is the FIRST value whose cumulative count reaches
        # the target rank
        hit = cum.filter(F.col("_cum") >= F.expr("(_n + 1) DIV 2"))
        # _n is constant within a group; max() just picks it deterministically
        return hit.groupBy(*group_cols).agg(
            F.min(col).alias("_med"), F.max("_n").alias("n")
        )

    if value_counts is not None:
        vcounts = value_counts.select(
            *group_cols,
            F.col(value_col).alias("_v"),
            F.col("c").alias("_cnt"),
        )
    else:
        vals = df.select(*group_cols, F.col(value_col).alias("_v"))
        vcounts = vals.groupBy(*group_cols, "_v").agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        # both passes (median, then MAD) read the value counts:
        # materialize (skipped on the reuse path — the caller's base
        # already is the cache)
        vcounts = vcounts.localCheckpoint(eager=False)
    med = _median_of_counts(vcounts, "_v").withColumnRenamed("_med", "median")
    dcounts = (
        _join_on_groups(vcounts, med.select(*group_cols, "median"), group_cols)
        .select(
            *group_cols,
            F.abs(F.col("_v") - F.col("median")).alias("_d"),
            "_cnt",
        )
        .groupBy(*group_cols, "_d")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    mad = _median_of_counts(dcounts, "_d").select(
        *group_cols, F.col("_med").alias("mad")
    )
    return _join_on_groups(med, mad, group_cols).select(
        *group_cols, "median", "mad", "n"
    )


def grouped_median_mad_sql(
    table_sql: str, group_exprs: list[str], value_expr: str
) -> str:
    """DuckDB mirror of :func:`grouped_median_mad` (two CTE levels per
    median — window results can't feed another window in one level)."""
    g = ", ".join(group_exprs)
    return f"""
WITH mm_t AS (SELECT {g}, {value_expr} AS v FROM ({table_sql})),
mm_r1 AS (
    SELECT {g}, v, row_number() OVER (PARTITION BY {g} ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY {g}) AS n
    FROM mm_t
),
mm_med AS (SELECT {g}, v AS median, n FROM mm_r1 WHERE rn = (n + 1) // 2),
mm_dev AS (
    SELECT t.{g.replace(', ', ', t.')}, abs(t.v - m.median) AS d
    FROM mm_t t JOIN mm_med m USING ({g})
),
mm_r2 AS (
    SELECT {g}, d, row_number() OVER (PARTITION BY {g} ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY {g}) AS n
    FROM mm_dev
),
mm_mad AS (SELECT {g}, d AS mad FROM mm_r2 WHERE rn = (n + 1) // 2)
SELECT m.{g.replace(', ', ', m.')}, m.median, a.mad, m.n
FROM mm_med m JOIN mm_mad a USING ({g})
"""


def grouped_weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    weight_counts: DataFrame | None = None,
) -> DataFrame:
    """EXACT per-group LOWER WEIGHTED MEDIAN: the smallest value v with
    cumulative weight(<= v) * 2 >= total weight — importance-weighted
    robust center (sample weights from resampling/mixture pipelines
    land here). Always an actual data value; weights must be
    non-negative integers so the doubled-cumulative comparison is
    exact on every engine. Zero-weight values can never be selected
    (the cumulative only crosses the half-total at a value carrying
    mass) — except the degenerate all-zero-weight group, which returns
    its minimum value with ``total_weight`` 0.

    Same shape as :func:`grouped_median_mad`: raw rows touched only by
    one (group, value) weight aggregation; the pick is a cumulative
    window over the distinct-value table plus a min — no per-group
    sort of the raw rows.

    Output: ``*group_cols, weighted_median, total_weight``.

    ``weight_counts``: optional pre-built ``(*group_cols, value_col,
    w)`` frame — per-(group, distinct value) bigint WEIGHT SUMS, the
    rank-statistics-family reuse contract. When provided, ``df``/
    ``weight_col`` are ignored; weight sums aggregate identically, so
    results are hash-identical.
    """
    from pyspark.sql import Window

    if weight_counts is not None:
        wc = weight_counts.select(
            *group_cols, value_col, F.col("w").cast("bigint").alias("_w")
        )
    else:
        wc = df.groupBy(*group_cols, value_col).agg(
            F.sum(F.col(weight_col).cast("bigint")).alias("_w")
        )
    # grouped_frame: empty group_cols stays an explicit lit(0)
    # whole-frame window over the BOUNDED value-counts table
    wcum = grouped_frame(group_cols, F.col(value_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = grouped_frame(group_cols)
    c = wc.withColumn("_cum", F.sum("_w").over(wcum)).withColumn(
        "_tot", F.sum("_w").over(wtot)
    )
    return (
        c.filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("weighted_median"),
            F.max("_tot").alias("total_weight"),
        )
    )


def grouped_weighted_median_sql(
    table_sql: str,
    group_exprs: list[str],
    value_expr: str,
    weight_expr: str,
) -> str:
    """DuckDB mirror of :func:`grouped_weighted_median`."""
    g = ", ".join(group_exprs)
    return f"""
SELECT {g}, min(v) AS weighted_median, max(tot) AS total_weight FROM (
    SELECT {g}, v,
           sum(w) OVER (PARTITION BY {g} ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(w) OVER (PARTITION BY {g}) AS tot
    FROM (
        SELECT {g}, {value_expr} AS v, CAST(sum({weight_expr}) AS BIGINT) AS w
        FROM ({table_sql}) GROUP BY {g}, {value_expr}
    )
) WHERE cum * 2 >= tot
GROUP BY {g}
"""


def cusum_changepoint(
    df: DataFrame,
    group_cols,
    ts_col: str,
    value_col: str,
    id_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """CUSUM change-point detection per group (Page 1954, public): the
    position where the cumulative deviation from the group mean is
    largest — the standard single-change locator for level shifts in
    a metric stream.

    Math kept EXACT by multiplying through: with scaled integers
    ``v_i = floor(value·scale + 0.5)``, the cumulative deviation at
    row t is ``S_t = Σ_{i≤t}(v_i) − t·mean(v)``; scaling by n gives
    ``D_t = n·P_t − t·T`` (P_t prefix sum, T group total) — a
    decimal(38,0)/HUGEINT integer, no float mean ever computed. The
    change point is the row maximizing |D_t| with earliest-(ts, id)
    tiebreak; ``cusum_stat = max|D_t| / (n·scale)`` is ONE double
    division at the end (mean-deviation units), rounded to 6 dp.

    Spark-first shape: ONE group-partitioned window sort carries the
    prefix sum, row number, and group totals; the argmax is a
    row_number over the same exchange (different order key — a
    partition-local re-sort, no second shuffle). Output one row per
    group: ``*group_cols, n, change_ts, change_id, t_at_max,
    d_abs_scaled, cusum_stat``.
    """
    from pyspark.sql import Window

    group_cols = _require_groups(
        group_cols, "cusum_changepoint", "slice the stream into series first"
    )
    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("decimal(38,0)")
    w_ord = Window.partitionBy(*group_cols).orderBy(
        F.col("_ts").asc(), F.col("_id").asc()
    )
    w_all = Window.partitionBy(*group_cols)
    staged = df.select(
        *group_cols,
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        v.alias("_v"),
    ).select(
        *group_cols,
        "_ts",
        "_id",
        F.sum("_v").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("_p"),
        F.row_number().over(w_ord).cast("decimal(38,0)").alias("_t"),
        F.sum("_v").over(w_all).alias("_tot"),
        F.count(F.lit(1)).over(w_all).cast("decimal(38,0)").alias("_n"),
    )
    d = (F.col("_n") * F.col("_p") - F.col("_t") * F.col("_tot")).alias("_d")
    with_d = staged.select(
        *group_cols, "_ts", "_id", "_t", "_n",
        F.abs(d).cast("decimal(38,0)").alias("_dabs"),
    )
    return (
        grouped_topk(
            with_d,
            group_cols,
            [F.col("_dabs").desc(), F.col("_ts").asc(), F.col("_id").asc()],
            1,
            rank_col="_rn",
        )
        .select(
            *group_cols,
            F.col("_n").cast("bigint").alias("n"),
            F.col("_ts").alias("change_ts"),
            F.col("_id").alias("change_id"),
            F.col("_t").cast("bigint").alias("t_at_max"),
            F.col("_dabs").cast("decimal(38,0)").alias("d_abs_scaled"),
            F.round(
                F.col("_dabs").cast("double")
                / (F.col("_n").cast("double") * F.lit(float(scale))),
                6,
            ).alias("cusum_stat"),
        )
    )


def cusum_changepoint_sql(
    table_sql: str,
    group_exprs,
    ts_expr: str,
    value_expr: str,
    id_expr: str,
    scale: int = 10**6,
) -> str:
    """DuckDB mirror of :func:`cusum_changepoint` — same multiplied-
    through integer deviation (HUGEINT == decimal(38,0)), same
    (|D| desc, ts, id) pick."""
    g = ", ".join(group_exprs)
    return f"""
WITH cus_t AS (
    SELECT {g}, {ts_expr} AS ts, {id_expr} AS id,
           CAST(floor(({value_expr}) * {scale} + 0.5) AS HUGEINT) AS v
    FROM ({table_sql})
),
cus_s AS (
    SELECT {g}, ts, id,
           sum(v) OVER (PARTITION BY {g} ORDER BY ts, id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
           CAST(row_number() OVER (PARTITION BY {g} ORDER BY ts, id) AS HUGEINT) AS t,
           sum(v) OVER (PARTITION BY {g}) AS tot,
           CAST(count(*) OVER (PARTITION BY {g}) AS HUGEINT) AS n
    FROM cus_t
),
cus_d AS (
    SELECT {g}, ts, id, t, n, abs(n * p - t * tot) AS dabs
    FROM cus_s
),
cus_r AS (
    SELECT *, row_number() OVER (PARTITION BY {g}
                                 ORDER BY dabs DESC, ts ASC, id ASC) AS rn
    FROM cus_d
)
SELECT {g}, CAST(n AS BIGINT) AS n, ts AS change_ts, id AS change_id,
       CAST(t AS BIGINT) AS t_at_max, dabs AS d_abs_scaled,
       round(CAST(dabs AS DOUBLE) / (CAST(n AS DOUBLE) * {scale}.0), 6)
           AS cusum_stat
FROM cus_r WHERE rn = 1
"""


def event_paths(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    path_len: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Top-k most frequent length-``path_len`` event paths — the
    sequential-pattern pass behind "common journeys" analytics (the
    k-gram specialization of GSP/PrefixSpan, Agrawal ICDE'95 public).

    Spark-first shape: ONE user-partitioned window sort carries all
    ``path_len − 1`` leads (one exchange, one sort — leads share the
    frame), then one hash aggregate on the path; the top-k compiles
    to TakeOrderedAndProject. Windows cross session boundaries by
    design — pre-filter or pre-sessionize to scope paths.

    Output: ``path ('a>b>c'), n`` with (n desc, path) determinism.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, path_len)
    ]
    paths = events.select(
        F.concat_ws(">", *steps).alias("path"),
        steps[-1].isNotNull().alias("_full"),
    ).filter(F.col("_full"))
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from stepist_spark.operators import topk as topk_ops

    return topk_ops.global_topk(
        counted, order=[F.col("n").desc(), F.col("path").asc()], k=top_k
    )


def event_paths_sql(
    events_sql: str,
    user_expr: str,
    ts_expr: str,
    type_expr: str,
    tiebreak_expr: str,
    path_len: int = 3,
    top_k: int = 20,
) -> str:
    """DuckDB mirror of :func:`event_paths`."""
    over = (
        f"OVER (PARTITION BY {user_expr} ORDER BY {ts_expr}, {tiebreak_expr})"
    )
    parts = [f"{type_expr}"] + [
        f"lead({type_expr}, {i}) {over}" for i in range(1, path_len)
    ]
    concat = " || '>' || ".join(parts)
    last = parts[-1]
    return f"""
SELECT path, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT {concat} AS path, {last} AS _last
    FROM ({events_sql})
) WHERE _last IS NOT NULL
GROUP BY path
ORDER BY n DESC, path ASC LIMIT {top_k}
"""


def seasonal_baseline(
    events: DataFrame,
    group_cols,
    ts_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Day-of-week seasonal baseline + residuals over daily event
    counts — the weekday-effect decomposition behind "is today's
    volume normal FOR A TUESDAY" monitoring (classical seasonal
    indices, Persons 1919, public).

    Exactness by multiplying through (the CUSUM discipline): with
    daily counts n_d, the baseline for day d is the mean of its
    day-of-week cohort — never computed as a float; the residual is
    ``resid_scaled = (n_d · days_dow − sum_dow) · scale DIV days_dow``
    — one integer division, so the gate hashes exact bigints; the
    6-dp ``resid`` view divides once in double.

    Spark-first shape: raw events collapse in ONE hash aggregate to
    the (group, date) daily-count frame; the day-of-week cohort
    stats are windows over that TINY frame. Output: ``*group_cols,
    day, dow (1=Sunday..7, Spark dayofweek), n, days_dow, sum_dow,
    resid_scaled, resid``. Negative residuals are safe: Spark DIV and
    DuckDB // both truncate toward zero.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    daily = events.groupBy(
        *group_cols, F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Spark dayofweek: 1=Sunday..7=Saturday (DuckDB's dayofweek+1)
    daily = daily.withColumn("dow", F.dayofweek(F.col("day")).cast("bigint"))
    w = Window.partitionBy(*group_cols, "dow")
    staged = daily.select(
        *group_cols,
        "day",
        "dow",
        "n",
        F.count(F.lit(1)).over(w).cast("bigint").alias("days_dow"),
        F.sum("n").over(w).cast("bigint").alias("sum_dow"),
    )
    resid_scaled = F.expr(
        f"CAST(((n * days_dow - sum_dow) * {scale}) DIV days_dow AS BIGINT)"
    )
    return staged.select(
        *group_cols,
        "day",
        "dow",
        "n",
        "days_dow",
        "sum_dow",
        resid_scaled.alias("resid_scaled"),
        F.round(resid_scaled.cast("double") / F.lit(float(scale)), 6).alias("resid"),
    )


def seasonal_baseline_sql(
    events_sql: str,
    group_exprs,
    ts_expr: str,
    scale: int = 10**6,
) -> str:
    """DuckDB mirror of :func:`seasonal_baseline` — same multiplied-
    through integer residual. Spark's ``dayofweek`` is 1=Sunday..7,
    DuckDB's ``dayofweek`` is 0=Sunday..6 — mirrored as ``dow+1``."""
    g = ", ".join(group_exprs)
    return f"""
WITH sb_daily AS (
    SELECT {g}, CAST({ts_expr} AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM ({events_sql}) GROUP BY {g}, CAST({ts_expr} AS DATE)
),
sb_dow AS (
    SELECT *, CAST(dayofweek(day) + 1 AS BIGINT) AS dow FROM sb_daily
),
sb_st AS (
    SELECT *, CAST(count(*) OVER (PARTITION BY {g}, dow) AS BIGINT) AS days_dow,
           CAST(sum(n) OVER (PARTITION BY {g}, dow) AS BIGINT) AS sum_dow
    FROM sb_dow
)
SELECT {g}, day, dow, n, days_dow, sum_dow,
       CAST(((n * days_dow - sum_dow) * {scale}) // days_dow AS BIGINT)
           AS resid_scaled,
       round(CAST(((n * days_dow - sum_dow) * {scale}) // days_dow AS BIGINT)
             / {scale}.0, 6) AS resid
FROM sb_st
"""


def winsorized_stats(
    df: DataFrame,
    group_cols,
    value_col: str,
    lo: tuple = (5, 100),
    hi: tuple = (95, 100),
    value_counts: DataFrame | None = None,
) -> DataFrame:
    """Winsorized (percentile-clamped) aggregates per group — the
    outlier-robust mean every metrics pipeline reports alongside the
    raw one (Winsor/Tukey, public). Values below the lower exact
    discrete quantile or above the upper one are CLAMPED to it, then
    aggregated.

    Spark-first shape (the grouped_median_mad discipline): raw rows
    are touched ONLY by one (group, cents) count aggregate; quantile
    location and the winsorized sum both ride windows/aggregates over
    that value-counts frame — clamping is applied to DISTINCT values
    weighted by their counts, never to raw rows again.

    Exactness: cents bigints; quantile ranks are ceil-integer
    arithmetic (``(n·num + den − 1) DIV den``); the winsorized sum is
    an exact bigint; the mean is ONE double division, round 6.

    Output: ``*group_cols, n, p_lo_cents, p_hi_cents,
    sum_wins_cents, mean_wins``.

    ``value_counts``: optional pre-built ``(*group_cols, v, c)`` frame
    with ``v`` in cents (``floor(value·100 + 0.5)``) — the
    rank-statistics-family reuse contract; hash-identical results.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    if value_counts is not None:
        counts = value_counts.select(
            *group_cols, "v", F.col("c").cast("bigint").alias("c")
        )
    else:
        cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
        counts = (
            df.select(*group_cols, cents.alias("v"))
            .groupBy(*group_cols, "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
    # grouped_frame: empty group_cols stays an explicit lit(0)
    # whole-frame window over the BOUNDED value-counts table
    w_ord = grouped_frame(group_cols, F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = grouped_frame(group_cols)
    st = counts.select(
        *group_cols,
        "v",
        "c",
        F.sum("c").over(w_ord).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    r_lo = F.expr(f"CAST((n * {lo[0]} + {lo[1]} - 1) DIV {lo[1]} AS BIGINT)")
    r_hi = F.expr(f"CAST((n * {hi[0]} + {hi[1]} - 1) DIV {hi[1]} AS BIGINT)")
    flagged = st.select(
        *group_cols,
        "v",
        "c",
        "n",
        F.when(F.col("cum") >= F.greatest(F.lit(1), r_lo), F.col("v")).alias("_vlo"),
        F.when(F.col("cum") >= F.greatest(F.lit(1), r_hi), F.col("v")).alias("_vhi"),
    )
    bounds = flagged.groupBy(*group_cols, "n").agg(
        F.min("_vlo").alias("p_lo_cents"), F.min("_vhi").alias("p_hi_cents")
    )
    joined = _join_on_groups(counts, bounds, group_cols)
    clamped = F.greatest(
        F.col("p_lo_cents"), F.least(F.col("p_hi_cents"), F.col("v"))
    )
    out = joined.groupBy(*group_cols, "n", "p_lo_cents", "p_hi_cents").agg(
        F.sum(clamped * F.col("c")).cast("bigint").alias("sum_wins_cents")
    )
    return out.select(
        *group_cols,
        "n",
        "p_lo_cents",
        "p_hi_cents",
        "sum_wins_cents",
        F.round(
            F.col("sum_wins_cents").cast("double")
            / (F.col("n").cast("double") * F.lit(100.0)),
            6,
        ).alias("mean_wins"),
    )


def winsorized_stats_sql(
    table_sql: str,
    group_exprs,
    value_expr: str,
    lo: tuple = (5, 100),
    hi: tuple = (95, 100),
) -> str:
    """DuckDB mirror of :func:`winsorized_stats`."""
    g = ", ".join(group_exprs)
    return f"""
WITH ws_cnt AS (
    SELECT {g}, CAST(floor(({value_expr}) * 100 + 0.5) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM ({table_sql}) GROUP BY {g}, 2
),
ws_st AS (
    SELECT {g}, v, c,
           sum(c) OVER (PARTITION BY {g} ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY {g}) AS n
    FROM ws_cnt
),
ws_b AS (
    SELECT {g}, n,
           min(CASE WHEN cum >= greatest(1, (n * {lo[0]} + {lo[1]} - 1) // {lo[1]})
                    THEN v END) AS p_lo_cents,
           min(CASE WHEN cum >= greatest(1, (n * {hi[0]} + {hi[1]} - 1) // {hi[1]})
                    THEN v END) AS p_hi_cents
    FROM ws_st GROUP BY {g}, n
)
SELECT {g}, n, p_lo_cents, p_hi_cents,
       CAST(sum(greatest(p_lo_cents, least(p_hi_cents, v)) * c) AS BIGINT)
           AS sum_wins_cents,
       round(CAST(sum(greatest(p_lo_cents, least(p_hi_cents, v)) * c) AS DOUBLE)
             / (CAST(n AS DOUBLE) * 100.0), 6) AS mean_wins
FROM ws_cnt JOIN ws_b USING ({g})
GROUP BY {g}, n, p_lo_cents, p_hi_cents
"""


def gini_coefficient(df, group_cols, value_col: str, value_counts=None) -> DataFrame:
    """Gini concentration coefficient per group over NON-NEGATIVE
    values (Gini 1912, public) — the inequality / revenue-concentration
    metric: 0 = perfectly equal, →1 = one row holds everything.

    Exact rank-weighted sum WITHOUT sorting raw rows (the value-counts
    discipline): for a distinct value v with count c whose predecessors
    total cum_prev rows, its occurrences hold ranks cum_prev+1 ..
    cum_prev+c, so ``Σ_i i·x_(i)`` gains ``v·(c·cum_prev +
    c(c+1) DIV 2)`` — an exact decimal/HUGEINT term per distinct value.
    ``G = (2·S) / (n·T) − (n+1)/n`` is then a fixed two-division IEEE
    sequence over exact integers, round 6 (NULL when T = 0).

    Output: ``*group_cols, n, total_cents, s_scaled, gini``.

    ``value_counts``: optional pre-built ``(*group_cols, v, c)`` frame
    (``v`` = cents, exactly ``floor(value·100 + 0.5)``) — the
    rank-statistics-family reuse contract (see
    :func:`~stepist_spark.operators.abtest.mann_whitney_u`): one base
    hash-agg pass feeds every sibling statistic over the same fact
    column. When provided, ``df``/``value_col`` are ignored; results
    are hash-identical (all sums are exact integers of the counts).
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    if value_counts is not None:
        counts = value_counts.select(
            *group_cols, "v", F.col("c").cast("bigint").alias("c")
        )
    else:
        cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
        counts = (
            df.select(*group_cols, cents.alias("v"))
            .groupBy(*group_cols, "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
    # grouped_frame: empty group_cols stays an explicit lit(0)
    # whole-frame window over the BOUNDED value-counts table
    w_prev = grouped_frame(group_cols, F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = "decimal(38,0)"
    staged = counts.withColumn(
        "cum_prev", F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast(dec)
    )
    term = F.col("v").cast(dec) * (
        F.col("c").cast(dec) * F.col("cum_prev")
        + F.expr("CAST((c * (c + 1)) DIV 2 AS DECIMAL(38,0))")
    )
    agg = staged.groupBy(*group_cols).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v").cast(dec) * F.col("c").cast(dec)).cast(dec).alias("_t"),
        F.sum(term).cast(dec).alias("_s"),
    )
    nd = F.col("n").cast("double")
    g = (F.lit(2.0) * F.col("_s").cast("double")) / (
        nd * F.col("_t").cast("double")
    ) - (nd + F.lit(1.0)) / nd
    return agg.select(
        *group_cols,
        "n",
        F.col("_t").cast("decimal(38,0)").alias("total_cents"),
        F.col("_s").cast("decimal(38,0)").alias("s_scaled"),
        F.when(F.col("_t") > 0, F.round(g, 6)).alias("gini"),
    )


def gini_coefficient_sql(table_sql: str, group_exprs, value_expr: str) -> str:
    """DuckDB mirror of :func:`gini_coefficient`."""
    g = ", ".join(group_exprs)
    return f"""
WITH gi_c AS (
    SELECT {g}, CAST(floor(({value_expr}) * 100 + 0.5) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM ({table_sql}) GROUP BY {g}, 2
),
gi_s AS (
    SELECT {g}, v, c,
           CAST(coalesce(sum(c) OVER (PARTITION BY {g} ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT)
               AS cum_prev
    FROM gi_c
),
gi_a AS (
    SELECT {g}, CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(v::HUGEINT * c) AS HUGEINT) AS t,
           CAST(sum(v::HUGEINT * (c::HUGEINT * cum_prev
                + CAST((c * (c + 1)) // 2 AS HUGEINT))) AS HUGEINT) AS s
    FROM gi_s GROUP BY {g}
)
SELECT {g}, n, t AS total_cents, s AS s_scaled,
       CASE WHEN t > 0 THEN
         round((2.0 * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
       END AS gini
FROM gi_a
"""


def quantile_buckets(
    df,
    group_cols,
    value_col: str,
    n_buckets: int = 10,
    value_counts: DataFrame | None = None,
) -> DataFrame:
    """Equal-frequency (quantile) bucket MAP per group: each distinct
    value gets the bucket of its upper CDF position — the feature-
    discretization binning step of a tabular ML pipeline. Join the map
    back on (group, value) to label raw rows.

    Exactness: ``bucket = ceil(cum·B / n)`` in pure integer arithmetic
    over the value-counts frame (ties share a bucket by construction —
    same value, same cum). Raw rows are touched once by the count
    aggregate. Output: ``*group_cols, v_cents, c, bucket``.

    ``value_counts``: optional pre-built ``(*group_cols, v_cents, c)``
    frame (cents-scaled) — the rank-statistics-family reuse contract;
    hash-identical results.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    if value_counts is not None:
        counts = value_counts.select(
            *group_cols, "v_cents", F.col("c").cast("bigint").alias("c")
        )
    else:
        cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
        counts = (
            df.select(*group_cols, cents.alias("v_cents"))
            .groupBy(*group_cols, "v_cents")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
    # grouped_frame: empty group_cols stays an explicit lit(0)
    # whole-frame window over the BOUNDED value-counts table
    w_ord = grouped_frame(group_cols, F.col("v_cents").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = grouped_frame(group_cols)
    st = counts.select(
        *group_cols,
        "v_cents",
        "c",
        F.sum("c").over(w_ord).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    bucket = F.expr(f"CAST((cum * {n_buckets} + n - 1) DIV n AS BIGINT)")
    return st.select(*group_cols, "v_cents", "c", bucket.alias("bucket"))


def quantile_buckets_sql(
    table_sql: str, group_exprs, value_expr: str, n_buckets: int = 10
) -> str:
    """DuckDB mirror of :func:`quantile_buckets`."""
    g = ", ".join(group_exprs)
    return f"""
WITH qb_c AS (
    SELECT {g}, CAST(floor(({value_expr}) * 100 + 0.5) AS BIGINT) AS v_cents,
           CAST(count(*) AS BIGINT) AS c
    FROM ({table_sql}) GROUP BY {g}, 2
),
qb_s AS (
    SELECT *, sum(c) OVER (PARTITION BY {g} ORDER BY v_cents
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY {g}) AS n
    FROM qb_c
)
SELECT {g}, v_cents, c,
       CAST((cum * {n_buckets} + n - 1) // n AS BIGINT) AS bucket
FROM qb_s
"""


def interarrival_burstiness(
    df,
    group_cols,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Inter-arrival-time burstiness per group: the coefficient of
    variation of consecutive-event gaps and the Goh-Barabási
    burstiness index ``B = (cv − 1)/(cv + 1)`` (Goh & Barabási, EPL
    2008 — public; B → −1 periodic, 0 Poisson, → 1 bursty) — the
    temporal-texture signal a rate/seasonal baseline can't see.

    Exactness: gaps are exact integer microseconds (``unix_micros`` ==
    DuckDB ``epoch_us``; id tiebreak makes the order unique), the
    sufficient statistics accumulate in decimal(38,0)/HUGEINT, and
    cv/B are a fixed IEEE sequence over those exact integers, 6-dp.

    Spark-first shape: ONE group-keyed window sort (the same exchange
    discipline as event_transitions) + one map-side-combined
    aggregate. Output: ``*group_cols, n_gaps, sum_us, cv, burstiness``
    (NULL cv/B when < 2 gaps or zero mean).
    """
    from pyspark.sql import Window

    group_cols = _require_groups(
        group_cols, "interarrival_burstiness", "slice the stream into series first"
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (
        df.select(*group_cols, us.alias("_us"), F.col(id_col).alias("_id"))
        .select(
            *group_cols,
            (F.col("_us") - F.lag("_us").over(
                Window.partitionBy(*group_cols).orderBy(
                    F.col("_us").asc(), F.col("_id").asc()
                )
            )).alias("_gap"),
        )
        .filter(F.col("_gap").isNotNull())
    )
    dec = "decimal(38,0)"
    st = gaps.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.col("_gap").cast(dec)).cast(dec).alias("_s"),
        F.sum(F.col("_gap").cast(dec) * F.col("_gap").cast(dec)).cast(dec).alias("_q"),
    )
    nd = F.col("n_gaps").cast("double")
    sd = F.col("_s").cast("double")
    qd = F.col("_q").cast("double")
    # cv = sample-std / mean = sqrt((n·q − s²)/(n−1)) · n / (s · n) …
    # spelled as one fixed sequence: sqrt(n·(n·q − s²)/(n−1)) / s
    cv = F.sqrt(nd * (nd * qd - sd * sd) / (nd - F.lit(1.0))) / sd
    valid = (F.col("n_gaps") >= 2) & (F.col("_s") > 0)
    return st.select(
        *group_cols,
        "n_gaps",
        F.col("_s").cast("bigint").alias("sum_us"),
        F.when(valid, F.round(cv, 6)).alias("cv"),
        F.when(valid, F.round((cv - F.lit(1.0)) / (cv + F.lit(1.0)), 6)).alias(
            "burstiness"
        ),
    )


def interarrival_burstiness_sql(
    table_sql: str,
    group_exprs,
    ts_expr: str,
    id_expr: str,
) -> str:
    """DuckDB mirror of :func:`interarrival_burstiness`."""
    g = ", ".join(group_exprs)
    return f"""
WITH _e AS (
    SELECT {g}, epoch_us(CAST(({ts_expr}) AS TIMESTAMP)) AS _us,
           ({id_expr}) AS _id
    FROM ({table_sql})
),
_gaps AS (
    SELECT {g}, _us - lag(_us) OVER (PARTITION BY {g} ORDER BY _us, _id) AS _gap
    FROM _e
),
_st AS (
    SELECT {g}, CAST(count(*) AS BIGINT) AS n_gaps,
           sum(CAST(_gap AS HUGEINT)) AS _s,
           sum(CAST(_gap AS HUGEINT) * _gap) AS _q
    FROM _gaps WHERE _gap IS NOT NULL GROUP BY {g}
)
SELECT {g}, n_gaps, CAST(_s AS BIGINT) AS sum_us,
       CASE WHEN n_gaps >= 2 AND _s > 0
            THEN round(sqrt(CAST(n_gaps AS DOUBLE)
                            * (CAST(n_gaps AS DOUBLE) * CAST(_q AS DOUBLE)
                               - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE))
                            / (CAST(n_gaps AS DOUBLE) - 1.0))
                       / CAST(_s AS DOUBLE), 6) END AS cv,
       CASE WHEN n_gaps >= 2 AND _s > 0
            THEN round((sqrt(CAST(n_gaps AS DOUBLE)
                             * (CAST(n_gaps AS DOUBLE) * CAST(_q AS DOUBLE)
                                - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE))
                             / (CAST(n_gaps AS DOUBLE) - 1.0))
                        / CAST(_s AS DOUBLE) - 1.0)
                       / (sqrt(CAST(n_gaps AS DOUBLE)
                               * (CAST(n_gaps AS DOUBLE) * CAST(_q AS DOUBLE)
                                  - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE))
                               / (CAST(n_gaps AS DOUBLE) - 1.0))
                          / CAST(_s AS DOUBLE) + 1.0), 6) END AS burstiness
FROM _st
"""


def grouped_percentile_cont(
    df,
    group_cols,
    value_col: str,
    quantiles=((1, 4), (1, 2), (19, 20)),
    value_counts: DataFrame | None = None,
) -> DataFrame:
    """ANSI ``PERCENTILE_CONT`` per group, EXACTLY: the linearly-
    interpolated quantile at rational positions ``q = a/b`` — the
    SQL-standard continuous percentile the discrete median/'pct'
    operators deliberately avoid (they emit data values; this emits
    the standard's interpolation).

    Exactness: the 0-based position is the rational ``a·(n−1)/b``;
    with ``idx = a·(n−1) DIV b`` and ``rem = a·(n−1) MOD b``, the
    result is ``(lo·(b−rem) + hi·rem) / b`` over integer cents — an
    EXACT bigint numerator over literal denominator b, one division
    at the end. lo/hi are the idx-th and (idx+1)-th order statistics,
    located by a cumulative window over the value-counts frame — raw
    rows are touched once by the count aggregate, never sorted.

    Output: ``*group_cols, q_num, q_den, n, v_scaled_num, value``
    (v_scaled_num = the exact bigint numerator in cents·b units;
    value = v_scaled_num/(100·b), 6 dp).

    ``value_counts``: optional pre-built ``(*group_cols, v, c)`` frame
    (cents-scaled) — the rank-statistics-family reuse contract;
    hash-identical results. Especially valuable here: the cumulated
    frame is consumed 2·|quantiles| times (lo/hi order statistics per
    quantile), each re-deriving the counts without it.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    if value_counts is not None:
        vc = value_counts.select(
            *group_cols, "v", F.col("c").cast("bigint").alias("c")
        )
    else:
        cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
        vc = (
            df.select(*group_cols, cents.alias("v"))
            .groupBy(*group_cols, "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
    # grouped_frame: empty group_cols stays an explicit lit(0)
    # whole-frame window over the BOUNDED value-counts table
    w_ord = grouped_frame(group_cols, F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = grouped_frame(group_cols)
    st = vc.select(
        *group_cols,
        "v",
        F.sum("c").over(w_ord).alias("cum"),
        (F.sum("c").over(w_ord) - F.col("c")).alias("cum_before"),
        F.sum("c").over(w_all).alias("n"),
    )
    outs = []
    for a, b in quantiles:
        idx = F.expr(f"({a}L * (n - 1)) div {b}")       # 0-based lower index
        rem = F.expr(f"({a}L * (n - 1)) % {b}")
        # order statistics idx (lo) and idx+1 (hi), 1-based ranks
        lo = st.filter(
            (F.col("cum_before") <= idx) & (idx < F.col("cum"))
        ).select(*group_cols, F.col("v").alias("_lo"), idx.alias("_idx"), rem.alias("_rem"), "n")
        hi_rank = idx + F.lit(1)
        hi = st.filter(
            (F.col("cum_before") <= hi_rank) & (hi_rank < F.col("cum"))
        ).select(*group_cols, F.col("v").alias("_hi"))
        j = lo.join(hi, group_cols, "left").select(
            *group_cols,
            F.lit(a).cast("bigint").alias("q_num"),
            F.lit(b).cast("bigint").alias("q_den"),
            F.col("n").cast("bigint").alias("n"),
            (
                F.col("_lo") * (F.lit(b) - F.col("_rem"))
                + F.coalesce(F.col("_hi"), F.col("_lo")) * F.col("_rem")
            ).cast("bigint").alias("v_scaled_num"),
        )
        outs.append(j)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        *group_cols,
        "q_num",
        "q_den",
        "n",
        "v_scaled_num",
        F.round(
            F.col("v_scaled_num").cast("double") / F.lit(100.0 * 1) / F.col("q_den").cast("double"),
            6,
        ).alias("value"),
    )


def grouped_percentile_cont_sql(
    table_sql: str,
    group_exprs,
    value_expr: str,
    quantiles=((1, 4), (1, 2), (19, 20)),
) -> str:
    """DuckDB mirror of :func:`grouped_percentile_cont`."""
    g = ", ".join(group_exprs)
    arms = []
    for a, b in quantiles:
        arms.append(f"""
SELECT {g}, CAST({a} AS BIGINT) AS q_num, CAST({b} AS BIGINT) AS q_den,
       CAST(lo.n AS BIGINT) AS n,
       CAST(lo._lo * ({b} - lo._rem)
            + coalesce(hi._hi, lo._lo) * lo._rem AS BIGINT) AS v_scaled_num,
       round(CAST(lo._lo * ({b} - lo._rem)
                  + coalesce(hi._hi, lo._lo) * lo._rem AS DOUBLE)
             / 100.0 / {b}, 6) AS value
FROM (
    SELECT {g}, v AS _lo, ({a} * (n - 1)) // {b} AS _idx,
           ({a} * (n - 1)) % {b} AS _rem, n
    FROM _pc_st
    WHERE cum_before <= ({a} * (n - 1)) // {b}
      AND ({a} * (n - 1)) // {b} < cum
) lo LEFT JOIN (
    SELECT {g}, v AS _hi FROM _pc_st
    WHERE cum_before <= ({a} * (n - 1)) // {b} + 1
      AND ({a} * (n - 1)) // {b} + 1 < cum
) hi USING ({g})""")
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH _pc_vc AS (
    SELECT {g}, CAST(floor(({value_expr}) * 100 + 0.5) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM ({table_sql}) GROUP BY {g}, 2
),
_pc_st AS (
    SELECT {g}, v,
           sum(c) OVER (PARTITION BY {g} ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY {g} ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cum_before,
           sum(c) OVER (PARTITION BY {g}) AS n
    FROM _pc_vc
)
{union}
"""
