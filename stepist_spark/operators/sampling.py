"""Deterministic sampling & dataset splitting for training-data
pipelines: hash-based train/val/test splits and per-stratum samples.

Everything here is a pure function of the row's id — NO RNG state, no
``rand()`` — so results are identical across engines, runs, partition
layouts, and cluster sizes. That property is what makes a split
reproducible at 100 TB: re-running the pipeline (or backfilling one
shard) assigns every document to the same split it got last time.
Spark's own ``df.sample``/``randomSplit`` are seed-stable only for a
fixed partitioning and are NOT portable to an oracle engine.

The hash is the repo-wide portable ``word_hash32`` (md5-derived, see
functions/hashing.py), so DuckDB mirrors are exact.

Physical shape: the split label is a scalar projection (no shuffle);
the stratified sample is one window shuffle keyed on the stratum.

Reference parity: the reference has no sampling operators (SURVEY.md
§2.2 'absent'); BASELINE.json LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stepist_spark.functions import hashing
from stepist_spark.operators.topk import grouped_topk

DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10))


def _bucket(id_col: Column, buckets: int) -> Column:
    return hashing.word_hash32(id_col.cast("string")) % F.lit(buckets)


def split_label(
    id_col: Column,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    buckets: int = 100,
) -> Column:
    """Deterministic split assignment: hash the id into ``buckets`` and
    carve contiguous bucket ranges per split (weights must sum to
    ``buckets``)."""
    if sum(w for _, w in splits) != buckets:
        raise ValueError("split weights must sum to the bucket count")
    b = _bucket(id_col, buckets)
    expr = None
    hi = 0
    for name, weight in splits[:-1]:
        hi += weight
        cond = b < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def split_label_sql(
    id_expr: str,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    buckets: int = 100,
) -> str:
    """DuckDB mirror of :func:`split_label`."""
    h = hashing.word_hash32_sql(f"CAST({id_expr} AS VARCHAR)")
    b = f"({h} % {buckets})"
    parts = []
    hi = 0
    for name, weight in splits[:-1]:
        hi += weight
        parts.append(f"WHEN {b} < {hi} THEN '{name}'")
    return f"CASE {' '.join(parts)} ELSE '{splits[-1][0]}' END"


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    buckets: int = 100,
) -> DataFrame:
    """Append a deterministic ``split`` column (train/val/test…)."""
    return df.withColumn("split", split_label(F.col(id_col), splits, buckets))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
) -> DataFrame:
    """Deterministic fixed-size sample per stratum: the ``n`` rows with
    the smallest portable hash of their id (id tiebreak), per stratum.

    Equivalent to a uniform random sample under the hash's uniformity,
    but reproducible and engine-portable. One window shuffle keyed on
    the stratum; heavily skewed strata sort-spill rather than OOM. For
    a fraction-based sample at scale, filter on ``hash % K < fK``
    instead (no shuffle at all).
    """
    h = hashing.word_hash32(F.col(id_col).cast("string"))
    return grouped_topk(
        df, [strata_col], [h.asc(), F.col(id_col).asc()], n_per_stratum, rank_col="_rn"
    ).drop("_rn")


def stratified_sample_sql(
    table: str,
    strata_expr: str,
    id_expr: str,
    n_per_stratum: int,
    select_cols: str = "*",
) -> str:
    """DuckDB mirror of :func:`stratified_sample`."""
    h = hashing.word_hash32_sql(f"CAST({id_expr} AS VARCHAR)")
    return f"""
SELECT {select_cols} FROM (
    SELECT *, row_number() OVER (
        PARTITION BY {strata_expr} ORDER BY {h}, {id_expr}
    ) AS _rn FROM {table}
) WHERE _rn <= {n_per_stratum}
"""


def temperature_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    buckets: int = 1 << 20,
) -> DataFrame:
    """Deterministic temperature resampling across groups (domains /
    languages / sources): keep each group with acceptance rate
    ``(n_g / n_min) ** (alpha - 1)``, so expected kept volume per group
    is ``∝ n_g ** alpha`` — the multilingual-LM rebalancing rule
    (`alpha=1` keeps everything, `alpha=0` flattens toward uniform,
    the smallest group always keeps all rows).

    Acceptance is a pure function of the row id (portable md5 hash vs
    an integer threshold), NOT ``rand()``: re-running the pipeline or
    backfilling one shard keeps exactly the same rows — same property
    as :func:`split_label`, and the sampling hash is domain-separated
    from the split hash (different salt) so resampling is independent
    of split assignment.

    Physical shape: one group-count aggregation (|groups| rows), its
    global min folded in, then a broadcast join of the per-group rate
    back onto the corpus — the corpus itself never shuffles.

    Engine portability: at the common multilingual setting
    ``alpha=0.5`` the rate is computed as ``1/sqrt(n/n_min)`` — both
    division and sqrt are IEEE correctly-rounded, so the acceptance
    decision is bit-identical on every engine (the v08/t25 oracle
    discipline). Other alphas go through libm ``pow``, which is not
    bit-portable; gate those at a group level if oracle parity is
    needed.
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    # global min via a whole-frame window over the |groups|-row count
    # table: ONE corpus aggregation feeds both the min and the rates (a
    # counts.agg() + crossJoin would recompute the corpus scan twice)
    from stepist_spark.operators.cumulative import whole_frame

    n_min = F.min("_n").over(whole_frame())
    ratio = F.col("_n") / n_min
    rate = (
        F.lit(1.0) / F.sqrt(ratio)
        if alpha == 0.5
        else F.pow(ratio, F.lit(alpha - 1.0))
    )
    rates = counts.select(
        group_col,
        F.least(F.lit(1.0), rate).alias("_rate"),
    )
    h = hashing.word_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(":resample"))
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h % F.lit(buckets) < F.floor(F.col("_rate") * F.lit(buckets)))
        .drop("_rate")
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    targets: dict[str, float],
    buckets: int = 1 << 20,
) -> DataFrame:
    """Deterministic resampling to a TARGET MIXTURE: keep the largest
    corpus whose per-group proportions match ``targets`` (the static
    data-mixing step of multi-domain LM training — DoReMi-style weights
    land here as the target vector).

    ``scale = min_g(n_g / p_g)`` is the largest total size no group can
    exceed with acceptance ≤ 1; each group then keeps
    ``rate_g = scale * p_g / n_g`` of its rows (the binding group keeps
    everything). Groups absent from ``targets`` are DROPPED — a target
    of 0 by construction.

    Determinism/portability follow :func:`temperature_resample`:
    acceptance is the portable md5 hash of the row id (salt ':mix',
    domain-separated from split/resample salts) against an integer
    threshold, and the rate expression is division/multiply/min only —
    each IEEE correctly-rounded and applied in a fixed order, so the
    keep set is bit-identical on any engine (see mixture_rates_sql).

    Physical shape: one |groups|-row aggregation, a broadcast of the
    rate table, zero corpus shuffles.
    """
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        f"{group_col} string, _p double",
    )
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    joined = counts.join(F.broadcast(tgt), group_col, "inner")
    # scale via a whole-frame window over the |groups|-row table: one
    # corpus aggregation, not two (agg + crossJoin re-evaluates the
    # count scan per consumer)
    from stepist_spark.operators.cumulative import whole_frame

    scale = F.min(F.col("_n") / F.col("_p")).over(whole_frame())
    rates = joined.select(
        group_col,
        F.least(F.lit(1.0), scale * F.col("_p") / F.col("_n")).alias("_rate"),
    )
    h = hashing.word_hash32(F.concat(F.col(id_col).cast("string"), F.lit(":mix")))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h % F.lit(buckets) < F.floor(F.col("_rate") * F.lit(buckets)))
        .drop("_rate")
    )


def mixture_resample_sql(
    table: str,
    group_expr: str,
    id_expr: str,
    targets: dict[str, float],
    buckets: int = 1 << 20,
    select_cols: str = "*",
) -> str:
    """DuckDB mirror of :func:`mixture_resample` — same expression tree
    in the same order, so the kept rows hash-match.

    The helper ``_rate`` column is filtered on inside the subquery and
    never projected, so the default ``select_cols='*'`` returns exactly
    the input columns — matching the Spark side's ``.drop('_rate')``
    (round-4 ADVICE: the old shape leaked ``_rate`` through ``*``)."""
    vals = ", ".join(f"('{k}', {float(v)!r})" for k, v in sorted(targets.items()))
    h = hashing.word_hash32_sql(f"CAST({id_expr} AS VARCHAR) || ':mix'")
    return f"""
SELECT {select_cols} FROM (
    WITH _tgt(_g, _p) AS (VALUES {vals}),
    _cnt AS (SELECT {group_expr} AS _g, count(*) AS _n FROM {table} GROUP BY 1),
    _j AS (SELECT _g, _n, _p FROM _cnt JOIN _tgt USING (_g)),
    _sc AS (SELECT min(_n / _p) AS _scale FROM _j),
    _rates AS (
        SELECT _g, least(1.0, (SELECT _scale FROM _sc) * _p / _n) AS _rate FROM _j
    )
    SELECT t.* FROM {table} t JOIN _rates ON t.{group_expr} = _rates._g
    WHERE ({h}) % {buckets} < floor(_rate * {buckets})
)
"""


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "0",
    out_col: str = "shuffle_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global, reproducible corpus shuffle for training-order assembly:
    append ``out_col`` = the row's 1-based position under ordering by
    the portable salted hash ``word_hash32(seed || ':' || id)`` (id
    tiebreak). Changing ``seed`` reshuffles; re-running any shard of
    the pipeline reproduces the same permutation — ``rand()`` cannot
    promise either.

    Physical shape (NO single-task global sort): one range exchange on
    the hash key (parallel sort, sampled boundaries), then ranks are
    per-partition row_numbers plus each partition's cumulative row
    offset — the offsets come from a |partitions|-sized count
    aggregate broadcast back. The rank is a function of the total
    (hash, id) order only, so the sampled range boundaries don't
    affect the result. A bare ``Window.orderBy(h)`` would move the
    whole corpus to ONE task; this stays wide at any scale.
    """
    from pyspark.sql import Window

    h = hashing.word_hash32(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    parts = [F.col("_h").asc(), F.col(id_col).asc()]
    ranged = df.withColumn("_h", h)
    ranged = (
        ranged.repartitionByRange(num_partitions, *parts)
        if num_partitions
        else ranged.repartitionByRange(*parts)
    ).sortWithinPartitions(*parts)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    from stepist_spark.operators.cumulative import whole_frame

    # |partitions|-row frame: explicit bounded whole-frame window
    wcum = whole_frame("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_offset", F.coalesce(F.sum("_n").over(wcum), F.lit(0)))
        .select("_pid", "_offset")
    )

    wlocal = Window.partitionBy("_pid").orderBy(*parts)
    return (
        with_pid.withColumn("_local", F.row_number().over(wlocal))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_local")).cast("bigint"))
        .drop("_h", "_pid", "_local", "_offset")
    )


def weighted_priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — priority
    sampling (Duffield, Lund & Thorup, JACM'07, public): each row gets
    priority weight/u for a uniform u, and the k highest priorities per
    group are kept, so selection probability rises with weight while
    every row keeps a nonzero chance.

    Engine-portable determinism: u is a 63-bit uniform composed from
    two repo-wide portable md5 hashes of the id (salts ':wps' and
    ':wps2' — ``h1 * 2^31 + (h2 % 2^31)``, which tops out at exactly
    2^63 - 1, the bigint max), and the ranking key is the integer
    quantization ``u DIV weight`` — comparing u/weight ratios without
    any floating-point division, so Spark and an oracle agree on
    EXACTLY which rows are kept (ties break by id). Weights must be
    positive integers; rows with weight <= 0 are dropped. Resolution:
    the key keeps ~2^63/weight distinct values, so weights up to ~10^12
    still discriminate at >= ~9×10^6 levels; beyond ~10^17 the id
    tiebreak starts to dominate (round-4 ADVICE: the old 32-bit u lost
    discrimination near weight ~10^6).

    One window sort per group over the input — same shape as top-k.
    """
    gcols = list(group_cols or [])
    u1 = hashing.word_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(":wps"))
    ).cast("bigint")
    u2 = hashing.word_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(":wps2"))
    ).cast("bigint")
    keyed = (
        df.filter(F.col(weight_col) > 0)
        .withColumn(
            "_wnum",
            (u1 * F.lit(2_147_483_648) + (u2 % F.lit(2_147_483_648))).cast("bigint"),
        )
        .withColumn("_wkey", F.expr(f"_wnum DIV {weight_col}"))
        .drop("_wnum")
    )
    if gcols:
        return grouped_topk(
            keyed, gcols, [F.col("_wkey").asc(), F.col(id_col).asc()], k, rank_col="_wrn"
        ).drop("_wkey", "_wrn")
    # ungrouped global top-k: sort().limit() plans as
    # TakeOrderedAndProject — every task keeps ≤ k rows, no
    # single-task window over the full keyed corpus
    return (
        keyed.orderBy(F.col("_wkey").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("_wkey")
    )


def weighted_priority_sample_sql(
    table_sql: str,
    id_expr: str,
    weight_expr: str,
    k: int,
    group_exprs: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`weighted_priority_sample`."""
    g = ", ".join(group_exprs or [])
    part = f"PARTITION BY {g}" if g else ""
    h1 = hashing.word_hash32_sql(f"CAST({id_expr} AS VARCHAR) || ':wps'")
    h2 = hashing.word_hash32_sql(f"CAST({id_expr} AS VARCHAR) || ':wps2'")
    return f"""
SELECT * EXCLUDE (_wkey, _wrn) FROM (
    SELECT *, row_number() OVER ({part} ORDER BY _wkey, {id_expr}) AS _wrn
    FROM (
        SELECT *, (CAST({h1} AS BIGINT) * 2147483648
                   + (CAST({h2} AS BIGINT) % 2147483648)) // ({weight_expr}) AS _wkey
        FROM ({table_sql}) WHERE ({weight_expr}) > 0
    )
) WHERE _wrn <= {k}
"""


def leakage_safe_split(
    df: DataFrame,
    key_col: str,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    buckets: int = 100,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash a CONTENT or
    CLUSTER key instead of the row id, so every member of a duplicate
    cluster lands in the SAME split — held-out contamination through
    duplicated content is impossible by construction (the split-level
    twin of decontamination; cf. Lee et al. 2022 'Deduplicating
    Training Data', which measures exactly this eval leakage).

    ``key_col``: any duplicate-collapsing key — a canonical-text md5
    (:func:`stepist_spark.functions.text.canonical_text`), a MinHash
    component id from ``operators.clusters``, or a SemDeDup cluster.
    Same zero-shuffle shape as :func:`hash_split`: one JVM md5 per
    row, no join against a cluster table when the key is derivable
    from the row itself.

    NULL keys hash to NULL and fall through the bucket CASE to the
    LAST split — they co-locate (no leak), but silently skew that
    split; require a non-null key (coalesce a sentinel) if NULLs are
    possible.

    Output: the input plus a ``split`` column.
    """
    return df.withColumn("split", split_label(F.col(key_col), splits, buckets))


def temporal_split(
    df: DataFrame,
    ts_col: str,
    val_start_us: int,
    test_start_us: int | None = None,
    embargo_us: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Time-ordered train/val(/test) split with an EMBARGO gap — the
    temporal twin of :func:`leakage_safe_split`: chronological splits
    stop future data leaking into training, and the embargo drops the
    rows within ``embargo_us`` BEFORE each boundary from the earlier
    split, so features computed over trailing windows (rolling counts,
    lagged aggregates) cannot straddle the boundary and see the later
    period (the purged/embargoed split of López de Prado, "Advances in
    Financial Machine Learning" 2018, public — equally load-bearing
    for any event-stream corpus with windowed features).

    Boundaries are EXACT µs epochs (compare with ``unix_micros`` —
    DuckDB's ``epoch_us`` twin; second-level helpers truncate
    sub-seconds differently across engines). Rows inside an embargo
    zone get ``split = 'embargo'`` (dropped by the caller, but kept
    visible here — silently vanishing rows are how leakage guards rot).
    NULL/unparseable timestamps get ``split = 'unknown'`` for the same
    reason: defaulting them into the final split would silently
    contaminate the most leakage-sensitive slice.
    Pure per-row projection: no shuffle, no state, any scale.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bounds = [(val_start_us, "train"), (test_start_us, "val")]
    expr = F.lit("test" if test_start_us is not None else "val")
    for boundary, name in reversed(bounds):
        if boundary is None:
            continue
        expr = (
            F.when(us < boundary - embargo_us, F.lit(name))
            .when(us < boundary, F.lit("embargo"))
            .otherwise(expr)
        )
    # NULL/unparseable timestamps must NOT default into the final
    # (most leakage-sensitive) split via the otherwise() branch —
    # label them 'unknown' so they stay visible and routable
    # (round-7 ADVICE)
    return df.withColumn(out_col, F.when(us.isNull(), F.lit("unknown")).otherwise(expr))


def temporal_split_sql(
    table_sql: str,
    ts_expr: str,
    val_start_us: int,
    test_start_us: int | None = None,
    embargo_us: int = 0,
) -> str:
    """DuckDB mirror of :func:`temporal_split` (adds the ``split``
    column to ``SELECT *``)."""
    us = f"epoch_us(({ts_expr})::TIMESTAMP)"
    tail = "'test'" if test_start_us is not None else "'val'"
    if test_start_us is not None:
        tail = (
            f"CASE WHEN {us} < {test_start_us - embargo_us} THEN 'val' "
            f"WHEN {us} < {test_start_us} THEN 'embargo' "
            f"ELSE 'test' END"
        )
    return f"""
SELECT *, CASE WHEN {us} IS NULL THEN 'unknown'
               WHEN {us} < {val_start_us - embargo_us} THEN 'train'
               WHEN {us} < {val_start_us} THEN 'embargo'
               ELSE {tail} END AS split
FROM ({table_sql})
"""
