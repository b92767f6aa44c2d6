"""Change-data-capture apply — the batch MERGE/upsert a warehouse sink
needs: fold a change stream (insert/update/delete rows, each stamped
with a monotonically increasing sequence) into a target snapshot and
produce the new snapshot.

Spark-first shape (two shuffles, both on the merge key):
1. collapse the change stream to latest-wins per key — one window
   (``row_number`` over key ORDER BY seq DESC) with deterministic
   tie-breaking;
2. anti-join the target against the touched keys (drops updated and
   deleted rows), then union the surviving upserts back in.

Both shuffles hash on the same key columns, so AQE plans them as one
exchange reuse; there is no sort of the target and no full rewrite —
at 100 TB the cost is one pass over the (small) change set plus one
co-partitioned anti-join against the target.

Spark itself only offers MERGE INTO through table formats (Delta/
Iceberg); this operator is the format-agnostic DataFrame equivalent,
mirroring the reference's enqueue-then-overwrite update story
(`stepist/flow/libs/simple_queue.py:49-60` — its queues are
last-write-wins per job id) restated as set semantics.

Determinism contract (for the oracle gate): ties on ``seq_col`` break
by operation precedence (delete wins over upsert, so replaying a
batch that deletes-then-reinserts at the same seq is stable) and then
by ascending order over the optional ``tie_cols`` columns. WITHOUT
``tie_cols``, two same-op changes for one key at the same seq resolve
arbitrarily (row_number over an underdetermined order) — pass a unique
``seq_col`` or ``tie_cols`` whenever the stream can carry such ties.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stepist_spark.operators.cumulative import require_groups
from stepist_spark.operators.topk import grouped_topk

#: operation codes in the change stream
OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"


def latest_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Collapse a change stream to one latest-wins row per key.

    Highest ``seq_col`` wins; on equal seq a delete outranks an
    insert/update (op descending happens to order D > U > I in ASCII —
    we make that explicit with a precedence column so the contract
    survives renamed op codes); remaining ties order ascending by
    ``tie_cols``. With no ``tie_cols``, same-key/same-seq/same-
    precedence rows resolve arbitrarily — see the module contract.
    """
    prec = (
        F.when(F.col(op_col) == OP_DELETE, F.lit(2))
        .when(F.col(op_col) == OP_UPDATE, F.lit(1))
        .otherwise(F.lit(0))
    )
    key_cols = require_groups(
        key_cols, "latest_changes", "CDC collapse is keyed by definition"
    )
    order = [F.col(seq_col).desc(), prec.desc(), *[F.col(c).asc() for c in tie_cols]]
    return grouped_topk(changes, key_cols, order, 1, rank_col="_rn").drop("_rn")


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Apply a CDC change stream to a target snapshot; returns the new
    snapshot with the target's schema.

    Inserts of keys already present behave as updates (upsert
    semantics); deletes of absent keys are no-ops. The change stream
    must carry every target column plus ``seq_col`` and ``op_col``.
    ``tie_cols`` forwards to :func:`latest_changes` for same-seq
    determinism.
    """
    key_cols = list(key_cols)
    latest = latest_changes(changes, key_cols, seq_col, op_col, tie_cols)
    upserts = latest.filter(F.col(op_col) != OP_DELETE).select(*target.columns)
    untouched = target.join(
        latest.select(*key_cols), on=key_cols, how="left_anti"
    )
    return untouched.unionByName(upserts)


def incremental_agg(
    base_agg: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n",
) -> DataFrame:
    """Maintain a materialized count/sum aggregate INCREMENTALLY: fold
    the rows leaving (``removed``: pre-images of updated/deleted keys)
    and entering (``added``: post-images of upserts) the underlying
    table into ``base_agg`` without recomputing it.

    ``base_agg`` must have ``group_cols``, a bigint ``count_col``, and
    one bigint column per entry of ``sum_cols`` (sums of exact integer
    measures — the only kind that can be maintained by addition without
    cross-engine float drift). Groups whose maintained count reaches 0
    disappear, so the result is EXACTLY what re-aggregating the merged
    table would produce.

    Shape at scale: one aggregation over the (small) change set plus
    one group-key-co-partitioned outer join against the base aggregate
    — the 100 TB base table is never touched. This is the classic
    self-maintainable-view delta rule for SUM/COUNT (Gupta & Mumick's
    materialized-view maintenance survey, public).
    """
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)

    def _signed(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            *group_cols,
            F.lit(sign).cast("bigint").alias("_w"),
            *[(F.lit(sign) * F.col(c)).cast("bigint").alias(c) for c in sum_cols],
        )

    delta = (
        _signed(removed, -1)
        .unionByName(_signed(added, 1))
        .groupBy(*group_cols)
        .agg(
            F.sum("_w").alias("_d_n"),
            *[F.sum(c).alias(f"_d_{c}") for c in sum_cols],
        )
    )
    joined = base_agg.join(delta, on=group_cols, how="full_outer")
    zero = F.lit(0).cast("bigint")
    out_count = F.coalesce(F.col(count_col), zero) + F.coalesce("_d_n", zero)
    return (
        joined.select(
            *group_cols,
            out_count.alias(count_col),
            *[
                (F.coalesce(F.col(c), zero) + F.coalesce(f"_d_{c}", zero)).alias(c)
                for c in sum_cols
            ],
        )
        .filter(F.col(count_col) > 0)
    )


def snapshot_diff(
    target_old: DataFrame,
    target_new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same table: one row
    per key present in either side, with ``status`` in
    added/removed/changed/unchanged and the exact ``changed_cols``
    (null-safe comparison, so NULL -> value and value -> NULL both
    count as changes).

    One full outer join co-partitioned on the key — the dataset-diff
    primitive behind audit reports and incremental publish decisions.
    """
    key_cols = list(key_cols)
    compare = (
        list(compare_cols)
        if compare_cols is not None
        else [c for c in target_new.columns if c not in key_cols]
    )
    o = target_old.select(
        *key_cols,
        *[F.col(c).alias(f"_o_{c}") for c in compare],
        F.lit(1).alias("_in_o"),
    )
    n = target_new.select(
        *key_cols,
        *[F.col(c).alias(f"_n_{c}") for c in compare],
        F.lit(1).alias("_in_n"),
    )
    j = o.join(n, key_cols, "full_outer")
    both = F.col("_in_o").isNotNull() & F.col("_in_n").isNotNull()
    # column attribution only applies to rows present on BOTH sides —
    # added/removed rows carry an empty list, not "every column"
    changed_arr = F.when(
        both,
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
                    )
                    for c in compare
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<string>"))
    status = (
        F.when(F.col("_in_o").isNull(), F.lit("added"))
        .when(F.col("_in_n").isNull(), F.lit("removed"))
        .when(F.size(changed_arr) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *key_cols, status.alias("status"), changed_arr.alias("changed_cols")
    )


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2: turn a change stream into a
    VERSION HISTORY — one row per surviving version with
    ``valid_from_seq`` (the change's seq), ``valid_to_seq`` (the next
    change's seq for the key, NULL while current) and ``is_current``.
    Deletes close the previous version's interval without opening one.
    The warehouse "as of seq S" query is then a plain range predicate:
    ``valid_from_seq <= S AND (valid_to_seq IS NULL OR S <
    valid_to_seq)``.

    Two window passes over the CHANGE SET only (never the snapshot):
    collapse same-(key, seq) ties with :func:`latest_changes`'s
    precedence contract (delete outranks upsert, then ascending
    ``tie_cols``), then one ``lead`` over seq per key. Both hash on
    ``key_cols`` — one exchange at any scale.
    """
    key_cols = list(key_cols)
    prec = (
        F.when(F.col(op_col) == OP_DELETE, F.lit(2))
        .when(F.col(op_col) == OP_UPDATE, F.lit(1))
        .otherwise(F.lit(0))
    )
    key_cols = require_groups(
        key_cols, "scd2_history", "SCD2 history is keyed by definition"
    )
    collapsed = grouped_topk(
        changes,
        [*key_cols, seq_col],
        [prec.desc(), *[F.col(c).asc() for c in tie_cols]],
        1,
        rank_col="_rn",
    ).drop("_rn")
    w_seq = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        F.col(seq_col).asc()
    )
    return (
        collapsed.withColumn("valid_from_seq", F.col(seq_col).cast("bigint"))
        .withColumn("valid_to_seq", F.lead(F.col(seq_col).cast("bigint")).over(w_seq))
        .filter(F.col(op_col) != OP_DELETE)
        .withColumn("is_current", F.col("valid_to_seq").isNull())
    )


def scd2_history_sql(
    changes_sql: str,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    tie_cols: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`scd2_history` — same tie collapse, same
    lead window."""
    keys = ", ".join(key_cols)
    ties = "".join(f", {c} ASC" for c in tie_cols)
    prec = f"CASE {op_col} WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END"
    return f"""
SELECT * EXCLUDE (_rn) FROM (
    SELECT *, CAST({seq_col} AS BIGINT) AS valid_from_seq,
           lead(CAST({seq_col} AS BIGINT)) OVER (
               PARTITION BY {keys} ORDER BY {seq_col} ASC
           ) AS valid_to_seq
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY {keys}, {seq_col}
            ORDER BY {prec} DESC{ties}
        ) AS _rn
        FROM ({changes_sql})
    ) WHERE _rn = 1
)
WHERE {op_col} <> 'D'
"""
