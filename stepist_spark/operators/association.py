"""Market-basket association rules — pairwise co-occurrence mining
(support / confidence / lift) over a (basket, item) relation, the
A-Priori k=2 pass every recommendation / co-purchase pipeline starts
from (Agrawal & Srikant, VLDB'94 — public).

Spark-first shape, sized for 100 TB:
1. distinct (basket, item) — one shuffle, hash on the pair;
2. candidate pairs by a SELF equi-join on the basket key with
   ``item_a < item_b`` — both sides hash on the same basket key, so
   AQE plans one exchange reuse; baskets are small (tens of items), so
   the per-basket pair blow-up is bounded and there is never an
   all-pairs cross join;
3. pair counts — one shuffle on (item_a, item_b);
4. per-item counts are a |items|-row aggregate, BROADCAST back onto
   the pair counts (a small-dim join, never a shuffle of the pairs);
5. rules emit BOTH directions from each unordered pair, so confidence
   is directional while the heavy join work is done once.

Engine-portable exactness: all counts are bigints; confidence and
lift are a SINGLE double division of exact integer products, which
IEEE 754 rounds identically on any engine, then ``round(·, 6)`` per
repo convention — so the driver's value-hash gate holds.

Reference parity: stepist has no relational surface at all — its
closest shape is a fan-out Hub feeding per-branch aggregations
(`stepist/flow/steps/hub.py:1-30`); this operator is the analytic
capability that pipeline would be built to feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stepist_spark.operators.topk import grouped_topk


def basket_pairs(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Distinct unordered item pairs per basket: one row per
    (basket, item_a, item_b) with ``item_a < item_b``."""
    items = df.select(
        F.col(basket_col).alias("_basket"), F.col(item_col).alias("_item")
    ).distinct()
    a = items.select("_basket", F.col("_item").alias("item_a"))
    b = items.select("_basket", F.col("_item").alias("item_b"))
    return a.join(b, "_basket").filter(F.col("item_a") < F.col("item_b"))


def pair_counts(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Co-occurrence counts per unordered item pair — the shared
    upstream of :func:`association_rules` and :func:`item_similarity`
    (compute once, localCheckpoint, feed both). Output:
    ``item_a, item_b, pair_n`` with ``item_a < item_b``."""
    return (
        basket_pairs(df, basket_col, item_col)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
    k: int = 50,
    pair_counts_df: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` directional association rules by lift.

    Output: ``antecedent, consequent, pair_n, ante_n, cons_n,
    n_baskets, confidence, lift`` — counts exact bigints, ratios
    rounded to 6 dp. Ties break by (confidence desc, antecedent,
    consequent) so the top-k cut is deterministic.
    """
    items = df.select(
        F.col(basket_col).alias("_basket"), F.col(item_col).alias("_item")
    ).distinct()
    n_baskets = items.select("_basket").distinct().count()

    pc = (
        pair_counts(df, basket_col, item_col)
        if pair_counts_df is None
        else pair_counts_df
    )
    pairs = pc.filter(F.col("pair_n") >= min_pair_support)
    item_n = items.groupBy(F.col("_item").alias("item")).agg(
        F.count(F.lit(1)).alias("item_n")
    )

    # both rule directions from each unordered pair
    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_n",
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "pair_n",
    )
    rules = (
        fwd.unionByName(rev)
        .join(
            F.broadcast(item_n.withColumnsRenamed({"item": "antecedent", "item_n": "ante_n"})),
            "antecedent",
        )
        .join(
            F.broadcast(item_n.withColumnsRenamed({"item": "consequent", "item_n": "cons_n"})),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "pair_n",
            "ante_n",
            "cons_n",
            F.lit(n_baskets).cast("bigint").alias("n_baskets"),
            # exact bigint operands, ONE double division each -> the
            # result double is identical on any IEEE engine
            F.round(
                F.col("pair_n").cast("double") / F.col("ante_n").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("pair_n") * F.lit(n_baskets)).cast("double")
                / (F.col("ante_n") * F.col("cons_n")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    from stepist_spark.operators import topk as topk_ops

    return topk_ops.global_topk(
        rules,
        order=[
            F.col("lift").desc(),
            F.col("confidence").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        ],
        k=k,
    )


def association_rules_sql(
    table: str,
    basket_expr: str,
    item_expr: str,
    min_pair_support: int = 2,
    k: int = 50,
) -> str:
    """DuckDB mirror of :func:`association_rules` — same expression
    tree (distinct -> self-join -> counts -> one division -> round 6),
    same tiebreaks."""
    return f"""
WITH _items AS (
    SELECT DISTINCT {basket_expr} AS _basket, {item_expr} AS _item FROM {table}
),
_nb AS (SELECT count(DISTINCT _basket) AS n_baskets FROM _items),
_pairs AS (
    SELECT a._item AS item_a, b._item AS item_b, count(*) AS pair_n
    FROM _items a JOIN _items b ON a._basket = b._basket AND a._item < b._item
    GROUP BY 1, 2
    HAVING count(*) >= {min_pair_support}
),
_cnt AS (SELECT _item AS item, count(*) AS item_n FROM _items GROUP BY 1),
_dir AS (
    SELECT item_a AS antecedent, item_b AS consequent, pair_n FROM _pairs
    UNION ALL
    SELECT item_b, item_a, pair_n FROM _pairs
)
SELECT d.antecedent, d.consequent, d.pair_n,
       ca.item_n AS ante_n, cc.item_n AS cons_n,
       CAST(nb.n_baskets AS BIGINT) AS n_baskets,
       round(CAST(d.pair_n AS DOUBLE) / CAST(ca.item_n AS DOUBLE), 6) AS confidence,
       round(CAST(d.pair_n * nb.n_baskets AS DOUBLE)
             / CAST(ca.item_n * cc.item_n AS DOUBLE), 6) AS lift
FROM _dir d
JOIN _cnt ca ON d.antecedent = ca.item
JOIN _cnt cc ON d.consequent = cc.item
CROSS JOIN _nb nb
ORDER BY lift DESC, confidence DESC, antecedent, consequent
LIMIT {k}
"""


def item_similarity(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
    top_n: int = 3,
    pair_counts_df: DataFrame | None = None,
) -> DataFrame:
    """Item-item collaborative-filtering neighbors: cosine similarity
    over binary basket-membership vectors — ``cos(i,j) = c_ij /
    sqrt(c_i · c_j)`` (Sarwar WWW'01 item-based CF, public) — top-n
    neighbors per item.

    Spark-first shape: reuses the :func:`pair_counts` co-occurrence
    pass (pass ``pair_counts_df`` to share it with
    :func:`association_rules`); per-item counts broadcast onto the
    pair frame; the per-item top-n is a window over the PAIR-count
    frame (items², support-pruned), never over raw baskets.

    Engine portability: cosine is sqrt of an exact bigint product,
    then ONE division — a fixed IEEE sequence identical on any
    engine, so ranking on the unrounded double is stable; ties break
    by neighbor id. Output: ``item, neighbor, rank, pair_n, item_n,
    neighbor_n, cosine`` (6-dp).
    """
    pc = (
        pair_counts(df, basket_col, item_col)
        if pair_counts_df is None
        else pair_counts_df
    )
    pairs = pc.filter(F.col("pair_n") >= min_pair_support)
    items = df.select(
        F.col(basket_col).alias("_basket"), F.col(item_col).alias("_item")
    ).distinct()
    item_n = items.groupBy(F.col("_item").alias("item")).agg(
        F.count(F.lit(1)).alias("item_n")
    )
    both = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("neighbor"), "pair_n"
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("neighbor"), "pair_n"
        )
    )
    joined = both.join(F.broadcast(item_n), "item").join(
        F.broadcast(
            item_n.withColumnsRenamed({"item": "neighbor", "item_n": "neighbor_n"})
        ),
        "neighbor",
    )
    cos = F.col("pair_n").cast("double") / F.sqrt(
        (F.col("item_n") * F.col("neighbor_n")).cast("double")
    )
    return (
        grouped_topk(
            joined, ["item"], [cos.desc(), F.col("neighbor").asc()], top_n, rank_col="rank"
        )
        .select(
            "item",
            "neighbor",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("pair_n").cast("bigint").alias("pair_n"),
            F.col("item_n").cast("bigint").alias("item_n"),
            F.col("neighbor_n").cast("bigint").alias("neighbor_n"),
            F.round(cos, 6).alias("cosine"),
        )
    )


def item_similarity_sql(
    table: str,
    basket_expr: str,
    item_expr: str,
    min_pair_support: int = 2,
    top_n: int = 3,
) -> str:
    """DuckDB mirror of :func:`item_similarity` — same cosine
    expression sequence and (cosine desc, neighbor) ranking."""
    return f"""
WITH _cf_items AS (
    SELECT DISTINCT {basket_expr} AS _basket, {item_expr} AS _item FROM {table}
),
_cf_pairs AS (
    SELECT a._item AS item_a, b._item AS item_b, count(*) AS pair_n
    FROM _cf_items a JOIN _cf_items b ON a._basket = b._basket AND a._item < b._item
    GROUP BY 1, 2
    HAVING count(*) >= {min_pair_support}
),
_cf_cnt AS (SELECT _item AS item, count(*) AS item_n FROM _cf_items GROUP BY 1),
_cf_dir AS (
    SELECT item_a AS item, item_b AS neighbor, pair_n FROM _cf_pairs
    UNION ALL
    SELECT item_b, item_a, pair_n FROM _cf_pairs
),
_cf_sc AS (
    SELECT d.item, d.neighbor, d.pair_n, ci.item_n, cn.item_n AS neighbor_n,
           CAST(d.pair_n AS DOUBLE)
               / sqrt(CAST(ci.item_n * cn.item_n AS DOUBLE)) AS _cos
    FROM _cf_dir d
    JOIN _cf_cnt ci ON d.item = ci.item
    JOIN _cf_cnt cn ON d.neighbor = cn.item
),
_cf_rk AS (
    SELECT *, row_number() OVER (PARTITION BY item
                                 ORDER BY _cos DESC, neighbor ASC) AS rank
    FROM _cf_sc
)
SELECT item, neighbor, CAST(rank AS BIGINT) AS rank,
       CAST(pair_n AS BIGINT) AS pair_n, CAST(item_n AS BIGINT) AS item_n,
       CAST(neighbor_n AS BIGINT) AS neighbor_n, round(_cos, 6) AS cosine
FROM _cf_rk WHERE rank <= {top_n}
"""
