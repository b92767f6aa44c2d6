"""Model-evaluation primitives over scored corpora: ROC AUC via the
tie-corrected Mann-Whitney rank statistic, and exact confusion-matrix
cells. The quality-classifier family (operators/classifier.py) gates
training + scoring; this module closes the loop — evaluating a
filter-model's ranking quality over billions of scored documents is
itself a large-scale aggregation problem (Fawcett, "An introduction
to ROC analysis", PRL 2006 — public).

The reference has no analytics surface (SURVEY.md §2.2); this is the
LLM-pipeline extension family (model-based curation evaluation).

Spark-first shape: AUC never sorts raw rows per-score — it collapses
to VALUE COUNTS first (one map-side-combined hash aggregate to
|distinct scores| rows per group), then runs the rank-cumulative pass
over that frame — the same value-counts discipline as median/MAD and
winsorized_stats. The ungrouped cumulative rides the partition-offset
pattern (operators/cumulative.ordered_cumsum), NOT a single-task
global window, so a near-continuous score column (|distinct| ≈ |rows|)
stays wide at 100 TB; grouped variants window per group as usual.

Cross-engine determinism: the Mann-Whitney statistic is kept as
EXACT integers — ``2·R_pos`` (twice the positive rank-sum; doubling
makes tied average ranks integral) accumulates in decimal(38,0)
(DuckDB: HUGEINT) — and the final AUC is one double division of
exact integers, then 6-dp rounding.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Tie-corrected ROC AUC per group from a boolean label and an
    orderable (ideally integer fixed-point) score.

    AUC = (R_pos − n_pos·(n_pos+1)/2) / (n_pos·n_neg) with R_pos the
    sum of AVERAGE ranks of positives (ties share the mean rank —
    equivalent to counting tied pairs as half-concordant). Everything
    stays integral by tracking ``2·R_pos``: a tied run of g rows
    starting after c predecessors contributes ``n_pos_run ·
    (2c + g + 1)``.

    Output per group: ``n_pos, n_neg, auc_num, auc_den, auc`` where
    ``auc_num = 2·R_pos − n_pos·(n_pos+1)`` and ``auc_den =
    2·n_pos·n_neg`` are exact (auc = auc_num/auc_den, 6 dp; NULL when
    a class is empty).
    """
    gcols = list(group_cols or [])
    lab = F.col(label_col).cast("boolean").cast("int")
    vc = (
        df.select(*gcols, lab.alias("_y"), F.col(score_col).alias("_s"))
        .groupBy(*gcols, "_s")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_g"),
            F.sum("_y").cast("decimal(38,0)").alias("_gp"),
        )
    )
    if gcols:
        w = Window.partitionBy(*gcols).orderBy(F.col("_s").asc())
        cum = F.sum("_g").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ranked = vc.select(
            *gcols,
            "_g",
            "_gp",
            (cum - F.col("_g")).alias("_c"),
        )
    else:
        # ungrouped: |distinct scores| is unbounded for near-continuous
        # scores, so NO single-task window — partition-offset cumsum
        # (operators/cumulative.py) keeps the CDF pass wide at 100 TB
        from stepist_spark.operators.cumulative import ordered_cumsum

        ranked = ordered_cumsum(vc, "_s", ["_g"]).select(
            "_g",
            "_gp",
            (F.col("cum__g") - F.col("_g")).alias("_c"),
        )
    # 2·R_pos contribution of each tied run: n_pos_run · (2c + g + 1)
    contrib = F.col("_gp") * (F.lit(2) * F.col("_c") + F.col("_g") + F.lit(1))
    agg = ranked.groupBy(*gcols).agg(
        F.sum("_gp").cast("decimal(38,0)").alias("_np"),
        F.sum("_g").cast("decimal(38,0)").alias("_n"),
        F.sum(contrib).cast("decimal(38,0)").alias("_2rp"),
    )
    n_pos = F.col("_np")
    n_neg = F.col("_n") - F.col("_np")
    num = F.col("_2rp") - n_pos * (n_pos + F.lit(1))
    den = F.lit(2) * n_pos * n_neg
    return agg.select(
        *gcols,
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        num.cast("bigint").alias("auc_num"),
        den.cast("bigint").alias("auc_den"),
        F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).alias("auc"),
    )


def confusion_stats(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Exact confusion-matrix cells per group: one hash aggregate to
    at most 4 rows per group (``label, pred, n``) — the building block
    for precision/recall/F1, which are single divisions of these
    counts. NULL labels/predictions are excluded (scored-row
    semantics)."""
    gcols = list(group_cols or [])
    return (
        df.select(
            *gcols,
            F.col(label_col).cast("boolean").alias("label"),
            F.col(pred_col).cast("boolean").alias("pred"),
        )
        .filter(F.col("label").isNotNull() & F.col("pred").isNotNull())
        .groupBy(*gcols, "label", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def calibration_bins(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-curve bins: equal-frequency score deciles with the
    exact positive rate per bin — the calibration diagnostic that
    pairs with :func:`roc_auc` (ranking quality says nothing about
    probability quality; DeGroot & Fienberg 1983, public).

    Spark-first shape: the quantile_buckets discipline — raw rows are
    touched by ONE (score, label) count aggregate; bin assignment is
    ``ceil(cum·B/n)`` pure-integer arithmetic over the value-counts
    frame (tied scores share a bin by construction, so the split is
    engine-independent); the bin rollup is a second tiny aggregate.

    Output per bin: ``bin, lo_score, hi_score, n, n_pos, pos_rate``
    (rate = one division, 6 dp).
    """
    lab = F.col(label_col).cast("boolean").cast("int")
    vc = (
        df.select(F.col(score_col).alias("_s"), lab.alias("_y"))
        .groupBy("_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_c"),
            F.sum("_y").cast("bigint").alias("_cp"),
        )
    )
    # |distinct scores| is unbounded for near-continuous scores: the
    # cumulative + grand-total pass rides the partition-offset pattern
    # (operators/cumulative.py) instead of a single-task global window
    from stepist_spark.operators.cumulative import ordered_cumsum

    st = ordered_cumsum(vc, "_s", ["_c"], tot_prefix="tot_").select(
        "_s",
        "_c",
        "_cp",
        F.col("cum__c").alias("_cum"),
        F.col("tot__c").alias("_n"),
    )
    bucket = F.expr(f"CAST((_cum * {n_bins} + _n - 1) DIV _n AS BIGINT)")
    agg = st.select("_s", "_c", "_cp", bucket.alias("bin")).groupBy("bin").agg(
        F.min("_s").cast("bigint").alias("lo_score"),
        F.max("_s").cast("bigint").alias("hi_score"),
        F.sum("_c").cast("bigint").alias("n"),
        F.sum("_cp").cast("bigint").alias("n_pos"),
    )
    return agg.select(
        "bin",
        "lo_score",
        "hi_score",
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6).alias(
            "pos_rate"
        ),
    )


def calibration_bins_sql(
    table_sql: str,
    label_expr: str,
    score_expr: str,
    n_bins: int = 10,
) -> str:
    """DuckDB mirror of :func:`calibration_bins`."""
    return f"""
WITH _vc AS (
    SELECT ({score_expr}) AS _s,
           CAST(count(*) AS BIGINT) AS _c,
           CAST(sum(CAST(({label_expr}) AS INTEGER)) AS BIGINT) AS _cp
    FROM ({table_sql}) GROUP BY 1
),
_st AS (
    SELECT _s, _c, _cp,
           sum(_c) OVER (ORDER BY _s ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS _cum,
           sum(_c) OVER () AS _n
    FROM _vc
)
SELECT CAST((_cum * {n_bins} + _n - 1) // _n AS BIGINT) AS bin,
       CAST(min(_s) AS BIGINT) AS lo_score, CAST(max(_s) AS BIGINT) AS hi_score,
       CAST(sum(_c) AS BIGINT) AS n, CAST(sum(_cp) AS BIGINT) AS n_pos,
       round(CAST(sum(_cp) AS DOUBLE) / CAST(sum(_c) AS DOUBLE), 6) AS pos_rate
FROM _st GROUP BY 1
"""


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
    group_cols: Optional[Sequence[str]] = None,
    scale: int = 10**6,
) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between two categorical
    raters (Cohen 1960, public) — the label-QA statistic for annotation
    pipelines: raw accuracy flatters lopsided label distributions, and
    at 100 TB "two labelers / model-vs-ruleset mostly agree" is only
    meaningful after chance correction.

    kappa = (p_o − p_e) / (1 − p_e) with p_o the observed agreement
    and p_e = Σ_c row_c·col_c / n² the chance agreement from the two
    raters' marginals. Cross-multiplied to stay exact:
    ``kappa_scaled = (n·agree_n − pe_num)·scale DIV (n² − pe_num)``
    (decimal(38,0)/HUGEINT products; the sign is factored out so Spark
    DIV and DuckDB // agree on negative kappa; NULL when both raters
    are constant and identical — p_e = 1, kappa undefined).

    Spark-first shape: raw rows collapse in ONE (a, b) count aggregate
    to the |A|×|B| categorical cell frame; marginals and the three
    sums are joins/aggregates over that bounded frame. Rows where
    either rating is NULL are excluded (unrated-row semantics, as in
    :func:`confusion_stats`). Output per group: ``n, agree_n,
    pe_num, kappa_scaled``.
    """
    gcols = list(group_cols or [])
    dec = "decimal(38,0)"
    cells = (
        df.select(
            *gcols,
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy(*gcols, "_a", "_b")
        .agg(F.count(F.lit(1)).cast(dec).alias("_c"))
    )
    rows_m = cells.groupBy(*gcols, "_a").agg(F.sum("_c").alias("_rn"))
    cols_m = cells.groupBy(*gcols, "_b").agg(F.sum("_c").alias("_cn"))
    # per-category row·col product: full outer on the category name so
    # rater-exclusive categories contribute 0 (their partner marginal
    # is absent)
    marg = rows_m.select(*gcols, F.col("_a").alias("_cat"), "_rn").join(
        cols_m.select(*gcols, F.col("_b").alias("_cat"), "_cn"),
        gcols + ["_cat"],
        "full",
    )
    pe = marg.groupBy(*gcols).agg(
        F.sum(
            F.coalesce(F.col("_rn"), F.lit(0)) * F.coalesce(F.col("_cn"), F.lit(0))
        )
        .cast(dec)
        .alias("pe_num")
    )
    tot = cells.groupBy(*gcols).agg(
        F.sum("_c").cast(dec).alias("_n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0))
        .cast(dec)
        .alias("agree_n"),
    )
    j = tot.join(pe, gcols) if gcols else tot.crossJoin(pe)
    num = (F.col("_n") * F.col("agree_n") - F.col("pe_num")) * F.lit(scale)
    den = F.col("_n") * F.col("_n") - F.col("pe_num")
    tdiv = F.when(
        num >= 0, F.expr(f"(_n * agree_n - pe_num) * {scale} DIV (_n * _n - pe_num)")
    ).otherwise(
        -F.expr(f"-((_n * agree_n - pe_num) * {scale}) DIV (_n * _n - pe_num)")
    )
    return j.select(
        *gcols,
        F.col("_n").cast("bigint").alias("n"),
        F.col("agree_n").cast("bigint").alias("agree_n"),
        F.col("pe_num").cast(dec).alias("pe_num"),
        F.when(den > 0, tdiv).cast("bigint").alias("kappa_scaled"),
    )


def cohens_kappa_sql(
    table_sql: str,
    a_expr: str,
    b_expr: str,
    scale: int = 10**6,
) -> str:
    """DuckDB mirror of :func:`cohens_kappa` (ungrouped) — same cell
    collapse, HUGEINT marginal products, sign-factored division."""
    return f"""
WITH _kc AS (
    SELECT CAST(({a_expr}) AS VARCHAR) AS a, CAST(({b_expr}) AS VARCHAR) AS b,
           CAST(count(*) AS HUGEINT) AS c
    FROM ({table_sql})
    WHERE ({a_expr}) IS NOT NULL AND ({b_expr}) IS NOT NULL
    GROUP BY 1, 2
),
_kr AS (SELECT a AS cat, sum(c) AS rn FROM _kc GROUP BY a),
_kl AS (SELECT b AS cat, sum(c) AS cn FROM _kc GROUP BY b),
_kp AS (
    SELECT CAST(sum(coalesce(rn, 0) * coalesce(cn, 0)) AS HUGEINT) AS pe_num
    FROM _kr FULL JOIN _kl USING (cat)
),
_kt AS (
    SELECT CAST(sum(c) AS HUGEINT) AS n,
           CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS HUGEINT) AS agree_n
    FROM _kc
)
SELECT CAST(n AS BIGINT) AS n, CAST(agree_n AS BIGINT) AS agree_n,
       pe_num,
       CASE WHEN n * n - pe_num > 0 THEN CAST(
           CASE WHEN n * agree_n - pe_num >= 0
                THEN ((n * agree_n - pe_num) * {scale}) // (n * n - pe_num)
                ELSE -((-((n * agree_n - pe_num) * {scale})) // (n * n - pe_num))
           END AS BIGINT)
       END AS kappa_scaled
FROM _kt, _kp
"""


def mcnemar_test(
    df: DataFrame,
    label_col: str,
    pred_a_col: str,
    pred_b_col: str,
) -> DataFrame:
    """McNemar's paired test on two classifiers over the SAME examples
    (McNemar 1947, public) — the standard "is model A actually better
    than model B" readout: accuracy deltas on shared eval sets are
    dominated by the examples BOTH models get right/wrong, so only the
    DISCORDANT pairs carry evidence. ``b`` = A right & B wrong, ``c``
    = A wrong & B right; the continuity-corrected statistic is
    ``chi2 = max(|b−c|−1, 0)² / (b+c)``.

    One conditional hash aggregate over the examples (the welch
    shape): n/n_both/b/c are exact bigints; chi² is ONE double
    division of exact integers, 6 dp (NULL when b+c = 0 — no
    discordant pairs, the test is undefined). NULL labels or
    predictions are excluded.

    Output (one row): ``n, n_both_right, b, c, chi2``.
    """
    y = F.col(label_col)
    a_ok = F.col(pred_a_col) == y
    b_ok = F.col(pred_b_col) == y
    rows = df.filter(
        y.isNotNull() & F.col(pred_a_col).isNotNull() & F.col(pred_b_col).isNotNull()
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((a_ok & b_ok).cast("bigint")).cast("bigint").alias("n_both_right"),
        F.sum((a_ok & ~b_ok).cast("bigint")).cast("bigint").alias("b"),
        F.sum((~a_ok & b_ok).cast("bigint")).cast("bigint").alias("c"),
    )
    num = F.greatest(F.abs(F.col("b") - F.col("c")) - F.lit(1), F.lit(0)).cast(
        "double"
    )
    chi2 = num * num / (F.col("b") + F.col("c")).cast("double")
    return agg.select(
        "n",
        "n_both_right",
        "b",
        "c",
        F.when(F.col("b") + F.col("c") > 0, F.round(chi2, 6)).alias("chi2"),
    )


def mcnemar_test_sql(
    table_sql: str,
    label_expr: str,
    pred_a_expr: str,
    pred_b_expr: str,
) -> str:
    """DuckDB mirror of :func:`mcnemar_test` — identical exact counts
    and the same one-division IEEE chi²."""
    return f"""
WITH _mn AS (
    SELECT (({pred_a_expr}) = ({label_expr})) AS a_ok,
           (({pred_b_expr}) = ({label_expr})) AS b_ok
    FROM ({table_sql})
    WHERE ({label_expr}) IS NOT NULL AND ({pred_a_expr}) IS NOT NULL
      AND ({pred_b_expr}) IS NOT NULL
),
_ma AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both_right,
           CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT) AS c
    FROM _mn
)
SELECT n, n_both_right, b, c,
       CASE WHEN b + c > 0 THEN round(
           CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
           * CAST(greatest(abs(b - c) - 1, 0) AS DOUBLE)
           / CAST(b + c AS DOUBLE), 6) END AS chi2
FROM _ma
"""
