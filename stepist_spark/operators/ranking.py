"""BM25 text retrieval: inverted-index build + top-k query scoring.

The retrieval counterpart of the vector ANN operators
(`operators/similarity.py`): score a (small) set of text queries
against a (huge) document corpus with Okapi BM25 and return the top-k
documents per query.

Scale shape — the classic search-engine layout, expressed relationally:

- the corpus pass builds POSTINGS ``(tok, doc_id, tf)`` plus per-doc
  lengths: one explode + one hash-aggregate (map-side partial), the
  same dominant-cost shape as ``corpus.vocabulary``;
- document frequency is a vocabulary-sized aggregate over postings;
- the query-term table is tiny and BROADCAST: scoring is a broadcast
  equi-join ``postings ⋈ query_terms`` on the token — the corpus never
  shuffles for the probe, and only candidate (query, doc) partial
  scores shuffle into the final per-pair sum;
- stop-term pruning (``max_df_ratio``): a query term appearing in more
  than that fraction of documents is dropped BEFORE the postings join —
  at 100 TB a stopword's posting list is a large fraction of the corpus
  and contributes ~zero discrimination (its idf ≈ 0); pruning bounds
  the join fan-out by construction, the standard impact-ordering
  shortcut of web-scale BM25.

Portability: with ``portable=True`` (the certification mode) the
per-term partial scores use only IEEE-exact operations (+ - * /, all
correctly rounded, identical expression tree in the DuckDB oracle) and
the RATIONAL idf ``(N - df + 0.5) / (df + 0.5)`` — the Robertson idf
without the final ``ln``, whose libm rounding is engine-specific (the
same reasoning as ``corpus.salient_terms``; ln is monotone, so
per-term ORDER is unaffected, though multi-term sums weight rare terms
more strongly than standard BM25). Partial scores are fixed-point
scaled to bigints before summing, so the cross-partition sum order
cannot perturb the result (the ``classifier.perplexity_score``
pattern). ``portable=False`` uses the standard Lucene
``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf.

The reference has no text-retrieval surface (SURVEY.md §2.2 'absent');
this is an LLM-data-pipeline extension (quality-biased sampling and
targeted corpus audits are BM25 queries over the training corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stepist_spark.functions.text import tokens, tokens_sql
from stepist_spark.operators.topk import grouped_topk

SCALE = 1_000_000  # fixed-point scale for portable partial scores


def doc_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted-index postings ``doc_id, tok, tf, dl`` (dl = document
    token length, carried on every posting so scoring needs no second
    join against a lengths table)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    return tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("bigint")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 0.5,
    portable: bool = True,
    postings: DataFrame | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    Output: ``query_id, doc_id, rank, score_scaled, n_terms_hit`` —
    ``score_scaled`` is the fixed-point (×1e6) integer score (exact,
    engine-portable, deterministic sum), ``n_terms_hit`` the number of
    query terms matched in the document.

    ``postings`` (output of :func:`doc_postings`) lets the caller
    build the inverted index ONCE and reuse it — the corpus stats, the
    df table and the scoring probe all read postings, so without a
    materialized index the corpus explode runs three times. At scale
    the index is a persisted table (build per ingest, query many
    times); pass a checkpointed/written frame here.

    ``broadcast_queries``: an interactive query set is tiny —
    broadcast it onto the postings (default). A BATCH retrieval
    workload (millions of queries scoring one corpus) makes the
    query-term table big; pass ``False`` for a token-keyed shuffle
    join of postings against query terms — the standard big-big
    layout, result-identical.
    """
    if postings is None:
        postings = doc_postings(docs, id_col, text_col)

    # corpus scalars: one tiny aggregate, broadcast as a 1-row frame
    stats = postings.groupBy().agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs"),
        F.sum("tf").cast("double").alias("total_toks"),
    )

    # document frequency per token (vocabulary-sized)
    dfreq = postings.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    # query terms: DISTINCT per (query, token) — BM25's standard
    # bag-of-words form scores each matched term once per document
    # occurrence profile; duplicate query words add no information
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("tok"),
    ).distinct()

    # attach df to query terms and prune stop-terms BEFORE touching the
    # postings: df/N > max_df_ratio ⇒ dropped
    qt = (
        qterms.join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df").cast("double") <= F.lit(max_df_ratio) * F.col("n_docs"))
    )

    scored = postings.join(F.broadcast(qt) if broadcast_queries else qt, "tok")
    idf_rational = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    idf = idf_rational if portable else F.log(F.lit(1.0) + idf_rational)
    # norm = k1 * (1 - b + b * dl * N / total_toks); every op mirrored
    # 1:1 in the oracle SQL so double rounding is bit-identical
    norm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl").cast("double") * F.col("n_docs") / F.col("total_toks")
    )
    part = (
        idf
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (F.col("tf").cast("double") + norm)
    )
    part_scaled = F.round(part * F.lit(float(SCALE))).cast("bigint")

    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(part_scaled).alias("score_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
    )
    order = [F.col("score_scaled").desc(), F.col("doc_id").asc()]
    return grouped_topk(agg, ["query_id"], order, k, rank_col="rank").select(
        "query_id",
        "doc_id",
        F.col("rank").cast("bigint").alias("rank"),
        "score_scaled",
        "n_terms_hit",
    )


def bm25_topk_sql(
    docs_table: str,
    queries_sql: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 0.5,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` (portable mode). The
    expression trees match the Spark side operation-for-operation so
    IEEE-exact arithmetic yields identical scaled scores.
    ``queries_sql`` must yield ``(query_id, query_text)``."""
    return f"""
WITH postings AS (
    SELECT doc_id, tok, count(*) AS tf,
           CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
    FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM {docs_table})
    GROUP BY doc_id, tok
),
stats AS (
    SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
           CAST(sum(tf) AS DOUBLE) AS total_toks
    FROM postings
),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY tok),
qterms AS (
    SELECT DISTINCT query_id, unnest({tokens_sql('query_text')}) AS tok
    FROM ({queries_sql})
),
qt AS (
    SELECT q.query_id, q.tok, d.df, s.n_docs, s.total_toks
    FROM qterms q JOIN dfreq d USING (tok) CROSS JOIN stats s
    WHERE CAST(d.df AS DOUBLE) <= {max_df_ratio} * s.n_docs
),
parts AS (
    SELECT q.query_id, p.doc_id,
           CAST(round(
               ((q.n_docs - q.df + 0.5) / (q.df + 0.5))
               * (CAST(p.tf AS DOUBLE) * {k1 + 1.0})
               / (CAST(p.tf AS DOUBLE)
                  + ({k1} * ({1.0 - b} + {b} * CAST(p.dl AS DOUBLE) * q.n_docs
                             / q.total_toks)))
               * {float(SCALE)}) AS BIGINT) AS part_scaled
    FROM postings p JOIN qt q USING (tok)
),
agg AS (
    SELECT query_id, doc_id, sum(part_scaled) AS score_scaled,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM parts GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rank, score_scaled, n_terms_hit FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
    FROM agg
) WHERE rank <= {k}
"""


def phrase_occurrences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrases: "list[str]",
) -> DataFrame:
    """Exact multi-word phrase search over a positional inverted
    index — the retrieval primitive BM25's bag-of-words scoring can't
    express (contiguous token adjacency; Manning/Raghavan/Schütze IIR
    §2.4 positional postings, public).

    Spark-first shape: ONE posexplode builds the positional postings
    (doc_id, pos, tok); the tiny phrase-term table (|phrases|·|terms|
    rows) BROADCAST-joins onto it; every matched term votes for the
    candidate start position ``pos − offset``, and a start that
    collects all m distinct offsets is one occurrence. The only
    shuffle is the (phrase, doc, start) vote aggregate — never an
    m-way self-join of the postings. At 100 TB the posting build is
    the one corpus pass; phrase terms prune the postings to the
    matched-token subset before the shuffle.

    Output: one row per (phrase, doc_id) with ``n_occurrences >= 1``
    plus ``first_pos`` (earliest match start — exact min). Phrases
    tokenize with the corpus tokenizer; single-token phrases degrade
    to plain term frequency.
    """
    phrase_rows = []
    for p in phrases:
        terms = p.split()
        for off, t in enumerate(terms):
            phrase_rows.append((p, off, t, len(terms)))
    spark = docs.sparkSession
    terms_df = spark.createDataFrame(
        phrase_rows, "phrase string, off int, term string, m int"
    )
    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    votes = pos.join(
        F.broadcast(terms_df), pos["tok"] == terms_df["term"], "inner"
    ).select(
        "phrase",
        "doc_id",
        (F.col("pos") - F.col("off")).alias("start"),
        "off",
        "m",
    ).filter(F.col("start") >= 0)
    hits = (
        votes.groupBy("phrase", "doc_id", "start", "m")
        .agg(F.count_distinct("off").alias("_k"))
        .filter(F.col("_k") == F.col("m"))
    )
    return hits.groupBy("phrase", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("start").cast("bigint").alias("first_pos"),
    )


def phrase_occurrences_sql(
    table: str,
    id_col: str,
    text_col: str,
    phrases: "list[str]",
) -> str:
    """DuckDB mirror of :func:`phrase_occurrences` — positional
    postings via the 1-based range/list_extract pattern (DuckDB has
    no WITH ORDINALITY), identical vote/threshold relational plan."""
    values = ", ".join(
        f"('{p}', {off}, '{t}', {len(p.split())})"
        for p in phrases
        for off, t in enumerate(p.split())
    )
    return f"""
WITH _terms(phrase, off, term, m) AS (VALUES {values}),
_pos AS (
    SELECT {id_col} AS doc_id, i - 1 AS pos, list_extract(tk, i) AS tok
    FROM (
        SELECT {id_col}, tk, unnest(range(1, len(tk) + 1)) AS i
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS tk FROM {table})
    )
),
_votes AS (
    SELECT t.phrase, p.doc_id, p.pos - t.off AS start, t.off, t.m
    FROM _pos p JOIN _terms t ON p.tok = t.term
    WHERE p.pos - t.off >= 0
),
_hits AS (
    SELECT phrase, doc_id, start, m, count(DISTINCT off) AS _k
    FROM _votes GROUP BY phrase, doc_id, start, m
)
SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(start) AS BIGINT) AS first_pos
FROM _hits WHERE _k = m GROUP BY phrase, doc_id
"""


RRF_SCALE = 1_000_000_000  # fixed-point scale for RRF contributions


def rrf_fuse(
    rankings: "list[DataFrame]",
    c: int = 60,
    k: int = 10,
    scale: int = RRF_SCALE,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (Cormack & Clarke,
    SIGIR'09 — the standard hybrid-retrieval combiner, e.g. BM25 ⊕
    embedding-cosine): ``rrf(d) = Σ_systems 1/(c + rank_s(d))``,
    summed over the systems that returned ``d``.

    Each input frame must carry ``query_id, doc_id, rank`` (1-based
    within its system; ranks must be >= 1 — a rank of ``-c`` would
    divide by zero, which ANSI mode raises loudly rather than
    corrupting scores). A document absent from a system's list simply
    contributes nothing for that system — no outer join needed.

    Exactness: each contribution is the INTEGER ``scale DIV (c +
    rank)`` (both engines truncate non-negative integer division
    identically), so the fused score is an order-free bigint sum —
    hash-certifiable cross-engine, the classifier/BM25 fixed-point
    discipline.

    Scale shape: the inputs are already top-k lists (|queries|·k rows
    per system — tiny relative to the corpora they were computed
    from), so fusion is one union + one hash aggregate + one
    per-query window over a few-hundred-row-per-query frame. The
    expensive work (index probe, ANN scan) stays in the upstream
    systems; RRF itself never touches the corpus.

    Output: ``query_id, doc_id, fused_rank, rrf_scaled, n_systems``
    (fused_rank deterministic via (rrf_scaled desc, doc_id asc)).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    u = rankings[0].select("query_id", "doc_id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("query_id", "doc_id", "rank"))
    contrib = F.expr(f"CAST({scale} AS BIGINT) DIV (CAST({c} AS BIGINT) + rank)")
    agg = u.groupBy("query_id", "doc_id").agg(
        F.sum(contrib).cast("bigint").alias("rrf_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("n_systems"),
    )
    order = [F.col("rrf_scaled").desc(), F.col("doc_id").asc()]
    return grouped_topk(agg, ["query_id"], order, k, rank_col="fused_rank").select(
        "query_id",
        "doc_id",
        F.col("fused_rank").cast("bigint").alias("fused_rank"),
        "rrf_scaled",
        "n_systems",
    )


def rrf_fuse_sql(
    ranking_sqls: "list[str]",
    c: int = 60,
    k: int = 10,
    scale: int = RRF_SCALE,
) -> str:
    """DuckDB mirror of :func:`rrf_fuse`. Each SQL must yield
    ``(query_id, doc_id, rank)``; DuckDB's ``//`` truncates toward
    zero on non-negative operands exactly like Spark's ``DIV``."""
    union = " UNION ALL ".join(
        f"SELECT query_id, doc_id, rank FROM ({s})" for s in ranking_sqls
    )
    return f"""
WITH _rrf_u AS ({union}),
_rrf_s AS (
    SELECT query_id, doc_id,
           CAST(sum(CAST({scale} AS BIGINT) // (CAST({c} AS BIGINT) + rank)) AS BIGINT)
               AS rrf_scaled,
           CAST(count(*) AS BIGINT) AS n_systems
    FROM _rrf_u GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, fused_rank, rrf_scaled, n_systems FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS fused_rank
    FROM _rrf_s
) WHERE fused_rank <= {k}
"""


NDCG_SCALE = 10**6


def _dcg_weights(k: int, scale: int) -> "list[int]":
    """Integer DCG discount LUT: ``W[i] = floor(scale / log2(i + 1))``
    for ranks 1..k, computed ONCE driver-side and inlined as literals
    in BOTH engines — no runtime transcendental ever enters the
    cross-engine comparison (libm log2 rounding differs per platform;
    a k-entry literal table cannot)."""
    import math

    return [int(scale // math.log2(i + 1)) for i in range(1, k + 1)]


def ranking_quality(
    ranked: DataFrame,
    rel_col: str,
    k: int = 5,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    scale: int = NDCG_SCALE,
) -> DataFrame:
    """Per-query ranking-quality metrics over ANY top-k list —
    nDCG@k (Järvelin & Kekäläinen TOIS'02, public) and the reciprocal
    rank of the first relevant hit (MRR's per-query term): the
    acceptance metrics for the retrieval family (BM25 / RRF / ANN),
    scoring an actual ranking against graded relevance labels where
    `recall_at_k` only checks set membership.

    Input: one row per (query, doc) with a 1-based ``rank_col`` and a
    non-negative integer relevance grade ``rel_col``. Rows with rank >
    k are ignored. Output per query: ``n_scored, dcg_scaled,
    idcg_scaled, ndcg_scaled, first_rel_rank`` — all exact bigints:
    DCG uses the literal integer discount LUT (:func:`_dcg_weights`),
    the ideal ordering re-ranks the SAME k rows by (grade desc, doc
    asc), and ``ndcg_scaled = dcg·scale DIV idcg`` (NULL when every
    grade is 0). ``first_rel_rank`` is NULL for queries with no
    relevant hit (their reciprocal-rank term is 0 by convention).

    Scale shape: one filter, one per-query window over ≤k rows (the
    top-k list is k rows per query BY CONSTRUCTION — the window is
    bounded however large the corpus), one hash aggregate.
    """
    w = _dcg_weights(k, scale)
    weights = F.array(*[F.lit(x).cast("bigint") for x in w])
    rel = F.col(rel_col).cast("bigint")
    top = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).cast("int").alias("_r"),
        rel.alias("_rel"),
    )
    w_ideal = Window.partitionBy("_q").orderBy(
        F.col("_rel").desc(), F.col("_d").asc()
    )
    scored = top.withColumn("_ir", F.row_number().over(w_ideal)).select(
        "_q",
        "_rel",
        "_r",
        (F.col("_rel") * F.element_at(weights, F.col("_r"))).alias("_dterm"),
        (F.col("_rel") * F.element_at(weights, F.col("_ir"))).alias("_iterm"),
    )
    agg = scored.groupBy("_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("_dterm").cast("bigint").alias("dcg_scaled"),
        F.sum("_iterm").cast("bigint").alias("idcg_scaled"),
        F.min(F.when(F.col("_rel") > 0, F.col("_r"))).cast("bigint").alias(
            "first_rel_rank"
        ),
    )
    return agg.select(
        F.col("_q").alias(query_col),
        "n_scored",
        "dcg_scaled",
        "idcg_scaled",
        F.when(
            F.col("idcg_scaled") > 0,
            F.expr(f"dcg_scaled * CAST({scale} AS BIGINT) DIV idcg_scaled"),
        ).alias("ndcg_scaled"),
        "first_rel_rank",
    )


def ranking_quality_sql(
    ranked_sql: str,
    rel_expr: str,
    k: int = 5,
    scale: int = NDCG_SCALE,
) -> str:
    """DuckDB mirror of :func:`ranking_quality`; ``ranked_sql`` must
    yield ``query_id, doc_id, rank``. Same literal discount LUT, same
    exact-integer DCG/IDCG and single integer division."""
    w = _dcg_weights(k, scale)
    lut = "[" + ", ".join(f"{x}::BIGINT" for x in w) + "]"
    return f"""
WITH _rq AS (
    SELECT query_id, doc_id, CAST(rank AS INT) AS r,
           CAST(({rel_expr}) AS BIGINT) AS rel
    FROM ({ranked_sql}) WHERE rank <= {k}
),
_ri AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS INT) AS ir
    FROM _rq
),
_ra AS (
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(rel * list_extract({lut}, r)) AS BIGINT) AS dcg_scaled,
           CAST(sum(rel * list_extract({lut}, ir)) AS BIGINT) AS idcg_scaled,
           CAST(min(CASE WHEN rel > 0 THEN r END) AS BIGINT) AS first_rel_rank
    FROM _ri GROUP BY query_id
)
SELECT query_id, n_scored, dcg_scaled, idcg_scaled,
       CASE WHEN idcg_scaled > 0
            THEN dcg_scaled * CAST({scale} AS BIGINT) // idcg_scaled
       END AS ndcg_scaled,
       first_rel_rank
FROM _ra
"""
