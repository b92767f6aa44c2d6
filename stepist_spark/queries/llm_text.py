"""LLM-data-pipeline text operators over the ``documents`` table:
exact dedup, MinHash signatures, LSH near-dup candidates, Jaccard
verification, SimHash, fingerprinting, token statistics, quality
scoring, language ID.

The driver corpus contains no natural duplicates, so the dedup queries
plant deterministic duplicates — UNION ALL with shifted doc_ids and
(for near-dup) a suffixed copy — identically on both engines. The
operators still scan the full real corpus; the plants guarantee
nonempty, discriminating outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stepist_spark.functions import hashing
from stepist_spark.functions import text as TX
from stepist_spark.operators import dedup
from stepist_spark.queries import QuerySpec
from stepist_spark.session import load_table

N_HASHES = 8
BANDS = 4

# ---- shared corpus builders (Spark + SQL must stay in lockstep) ----------

def _docs_with_exact_dups(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    # spread(): the testdata table scans as ONE partition, which would
    # serialize the per-doc hashing these gates do before any shuffle
    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(plants)


EXACT_DUP_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzplantedtoken")).alias("text"),
    )
    return docs.unionByName(plants)


NEAR_DUP_CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text || ' zzplantedtoken' AS text
FROM documents WHERE doc_id % 20 = 0
"""


def _minhash_sig_sql(
    corpus_sql: str, shingle_k: int | None = None, n_hashes: int = N_HASHES
) -> str:
    """Signature CTE body shared by the LSH/jaccard oracles.

    ``shingle_k`` mirrors the operator's shingle-based MinHash (see
    dedup.minhash_lsh_candidates: single-token MinHash degenerates on a
    small vocabulary); None hashes raw tokens (t06's signature demo).
    ``n_hashes`` widens the sig CTE (mh0..mh{n-1}) — a SUPERSET: the
    first N_HASHES columns are identical values, so widening for t08's
    'steep' part cannot move any existing band's hashes.
    """
    unit = TX.tokens_sql("text")
    if shingle_k is not None:
        unit = hashing.shingles_sql(unit, shingle_k)
    h = hashing.word_hash32_sql("_tok")
    aggs = ", ".join(
        f"min({hashing.minhash_of_hash_sql(h, i)}) AS mh{i}" for i in range(n_hashes)
    )
    return f"""
corpus AS ({corpus_sql}),
toks AS (
    SELECT doc_id AS _id, unnest({unit}) AS _tok FROM corpus
),
sig AS (SELECT _id, {aggs} FROM toks GROUP BY _id)
"""


def _bands_sql() -> str:
    rows_per_band = N_HASHES // BANDS
    parts = []
    for b in range(BANDS):
        cols = ", ".join(
            f"mh{b * rows_per_band + r} AS h{r}" for r in range(rows_per_band)
        )
        parts.append(f"SELECT _id, {b} AS band, {cols} FROM sig")
    return " UNION ALL ".join(parts)


_CAND_JOIN_SQL = (
    "bands a JOIN bands b ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 "
    "AND a._id < b._id"
)


def _bands16_sql() -> str:
    """The r=4 band split over the widened signature (mh0..mh15, 4
    bands of 4 rows) — the steeper S-curve posture t08's 'steep' part
    certifies; mirrors dedup.minhash_lsh_candidates(n_hashes=16,
    bands=4) row-for-row."""
    parts = []
    for b in range(4):
        cols = ", ".join(f"mh{b * 4 + r} AS h{r}" for r in range(4))
        parts.append(f"SELECT _id, {b} AS band, {cols} FROM sig")
    return " UNION ALL ".join(parts)


_CAND16_JOIN_SQL = (
    "bands16 a JOIN bands16 b ON a.band = b.band AND a.h0 = b.h0 "
    "AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.h3 = b.h3 AND a._id < b._id"
)


# --------------------------------------------------------------------------
# t01 — exact duplicate groups (hash-groupBy dedup)
def t01_exact_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    exact = dedup.exact_dup_groups(
        _docs_with_exact_dups(spark, sf), "doc_id", "text"
    ).select(F.lit("exact").alias("part"), "content_hash", "n_dups", "canonical_id")
    # 'canon' — normalization-robust dedup (round 6): the corpus plants
    # re-ENCODED copies (upper-cased, padded with extra whitespace) that
    # byte-exact md5 provably misses; canonical_dup_groups must still
    # group them with their originals
    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
    reencoded = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit(" ")).alias("text"),
    )
    canon = dedup.canonical_dup_groups(
        docs.unionByName(reencoded), "doc_id", "text"
    ).select(F.lit("canon").alias("part"), "content_hash", "n_dups", "canonical_id")
    return exact.unionByName(canon)


T01_SQL = f"""
WITH corpus AS ({EXACT_DUP_CORPUS_SQL}),
canon_corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 4000000 AS doc_id, '  ' || upper(text) || ' ' AS text
    FROM documents WHERE doc_id % 40 = 0
)
SELECT 'exact' AS part, md5(text) AS content_hash, count(*) AS n_dups,
       min(doc_id) AS canonical_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
UNION ALL
SELECT 'canon', md5({TX.canonical_text_sql('text')}), count(*), min(doc_id)
FROM canon_corpus GROUP BY md5({TX.canonical_text_sql('text')}) HAVING count(*) > 1
"""


# t03 — the per-document text profile in one pass (merged former t03
# token stats + t05 lang-ID + t11 subword counts — all 1-row-per-doc
# projections over the same scan, so one gate certifies the whole
# scalar text surface). Ratio columns are single divisions of identical
# integers on both engines — bit-identical IEEE doubles, so they ship
# UNROUNDED (rounding would reintroduce .5-boundary rounding-mode
# divergence). Exact-dedup survivors (former t02) are gated by c01,
# which runs dedup_exact inside its oracle-checked pipeline.
def t03_doc_profile(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    # tokens bound once: the stats reference the array ~11× total
    docs = spread(load_table(spark, sf, "documents")).withColumn(
        "_tk", TX.tokens(F.col("text"))
    )
    txt = F.col("text")
    tk = F.col("_tk")
    return docs.select(
        "doc_id",
        TX.token_count(txt, toks=tk).cast("bigint").alias("n_tokens"),
        TX.avg_token_len(txt, toks=tk).alias("avg_token_len"),
        TX.punct_ratio(txt).alias("punct_ratio"),
        TX.stopword_ratio(txt, toks=tk).alias("stopword_ratio"),
        F.length(txt).cast("bigint").alias("n_chars_computed"),
        "lang",
        TX.lang_id(txt, toks=tk).alias("lang_guess"),
        TX.subword_token_count(txt).cast("bigint").alias("n_subtokens"),
        F.size(F.array_distinct(TX.subword_tokens(txt))).cast("bigint").alias(
            "n_distinct_subtokens"
        ),
        # structural quality signals (round 5): sentence segmentation
        # by terminator runs; the ratio is one division of identical
        # integers — unrounded like the other ratio columns
        TX.sentence_count(txt).alias("n_sentences"),
        F.when(
            TX.sentence_count(txt) > 0,
            TX.token_count(txt, toks=tk).cast("double")
            / TX.sentence_count(txt).cast("double"),
        ).otherwise(F.lit(0.0)).alias("tokens_per_sentence"),
        # readability (round 6): vowel-group syllable proxy + Flesch
        # reading ease — two exact-int divisions, fixed literal combo
        TX.syllable_count(txt, toks=tk).alias("n_syllables"),
        F.round(TX.flesch_reading_ease(txt, toks=tk), 6).alias("flesch"),
        # tokenizer fertility (round 6): chars per subword pre-token —
        # the compression-rate signal tokenizer QA tracks per language;
        # one division of two already-certified integers
        F.when(
            TX.subword_token_count(txt) > 0,
            F.length(txt).cast("double")
            / TX.subword_token_count(txt).cast("double"),
        ).otherwise(F.lit(0.0)).alias("fertility"),
    )


T03_SQL = f"""
SELECT doc_id,
       {TX.token_count_sql('text')} AS n_tokens,
       {TX.avg_token_len_sql('text')} AS avg_token_len,
       {TX.punct_ratio_sql('text')} AS punct_ratio,
       {TX.stopword_ratio_sql('text')} AS stopword_ratio,
       length(text) AS n_chars_computed,
       lang,
       {TX.lang_id_sql('text')} AS lang_guess,
       len({TX.subword_tokens_sql('text')}) AS n_subtokens,
       len(list_distinct({TX.subword_tokens_sql('text')})) AS n_distinct_subtokens,
       {TX.sentence_count_sql('text')} AS n_sentences,
       CASE WHEN {TX.sentence_count_sql('text')} > 0
            THEN CAST({TX.token_count_sql('text')} AS DOUBLE)
                 / {TX.sentence_count_sql('text')}
            ELSE 0.0 END AS tokens_per_sentence,
       {TX.syllable_count_sql('text')} AS n_syllables,
       round({TX.flesch_reading_ease_sql('text')}, 6) AS flesch,
       CASE WHEN {TX.subword_token_count_sql('text')} > 0
            THEN CAST(length(text) AS DOUBLE)
                 / {TX.subword_token_count_sql('text')}
            ELSE 0.0 END AS fertility
FROM documents
"""


# t04 — quality scoring aggregated by source. Scores are integer-scaled
# (exact bigint arithmetic end-to-end): composite FP scores land on
# decimal .5 rounding boundaries where engines disagree by one ulp.
def t04_quality_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents"))
    # tokens bound first — the score references the array ~8×
    toked = docs.withColumn("_tk", TX.tokens(F.col("text")))
    scored = toked.select(
        "source", TX.quality_score_scaled(F.col("text"), toks=F.col("_tk")).alias("q")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q").alias("sum_quality_scaled"),
        F.min("q").alias("min_quality_scaled"),
    )


T04_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum({TX.quality_score_scaled_sql('text')}) AS BIGINT) AS sum_quality_scaled,
       min({TX.quality_score_scaled_sql('text')}) AS min_quality_scaled
FROM documents GROUP BY source
"""


# t08 — near-dup pair mining, two tag-union parts:
#   'lsh'    — exact Jaccard verification of the LSH candidates, BOTH
#              set units (merged former t07/t08/t12): every banded-LSH
#              candidate pair ships with its token-set Jaccard AND its
#              3-shingle (n-gram, order-sensitive) Jaccard. The
#              candidate row set IS the former t07 output, so the
#              banding join is certified too; the MinHash signature
#              values are certified transitively — the oracle
#              recomputes the full shingle→minhash→band pipeline and
#              one differing signature would change the candidate set.
#   'ppjoin' — EXACT-threshold set-similarity self-join (prefix
#              filtering, operators/dedup.set_similarity_join): all
#              pairs with 3-shingle Jaccard >= 1/2, NO false negatives.
#              Its oracle is BRUTE FORCE all-pairs — algorithm-
#              independent, so it certifies the prefix-filter pruning
#              (a dropped true pair would show as a missing row).
def t08_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import build_concurrently

    # spread once, where the corpus is read (_docs_with_near_dups)
    corpus = _docs_with_near_dups(spark, sf)
    # ONE tokenize→shingle→16-hash signature pass feeds EVERY banding
    # in this gate (round-11 optimization; guide §1.2 "don't compute
    # things twice" / §2.3 shuffle fewer bytes). The universal-hash
    # family is prefix-stable, so the (8, 4) default banding reads
    # mh0..mh7 of the SAME checkpointed frame the (16, 4) 'steep'
    # banding reads in full, and the 'incr' part's two sides are row
    # filters of the same banded table. Previously the gate ran FOUR
    # tokenize+hash passes (self-cands 8h, both incr sides 8h, steep
    # 16h) plus a fifth tokenize for the set statistics — the before
    # plan scanned documents 38×, the after plan reads the signature
    # checkpoint (equivalence pinned by tests/test_lsh_reuse.py).
    toked = corpus.select(
        F.col("doc_id").alias("_sid"), TX.tokens(F.col("text")).alias("_tk")
    )
    shingled = toked.select(
        F.col("_sid").alias("_id"), hashing.shingles(F.col("_tk"), 3).alias("_toks")
    )

    # Round 12 (guide §2.6): the gate's checkpoint materializations are
    # blocking jobs that ran back-to-back in source order (~6s of the
    # 9s gate was this serial build phase). The minhash/banding chain
    # and the hashed-set chain are independent (both re-tokenize from
    # the same lazy lineage), and the ppjoin part needs only the hashed
    # sets — so the two chains build concurrently and ppjoin starts the
    # moment the sets are ready, overlapping the LSH chain.
    def _build_lsh():
        sig16 = hashing.minhash_signature(
            shingled, "_id", "_toks", n_hashes=16
        ).localCheckpoint(eager=False)
        banded8 = dedup.bands_from_signature(sig16, N_HASHES, BANDS)
        # one materialization of the (id, id) candidate pairs feeds
        # every verification consumer — without it each branch re-runs
        # the band self-join
        cands = dedup.candidates_from_banded(banded8).localCheckpoint()
        return sig16, banded8, cands

    def _build_sets():
        return shingled.select(
            F.col("_id").alias("_sid"),
            F.transform(F.array_distinct("_toks"), lambda t: F.xxhash64(t)).alias(
                "_set"
            ),
        ).localCheckpoint()

    # ppjoin rides the SAME hashed element universe: it reads the
    # checkpointed hashed sets (one row per doc) — no second
    # tokenize→shingle→hash→distinct pass
    def _ppjoin(sh):
        return sh, dedup.set_similarity_join(
            corpus, "doc_id", "text", t_num=1, t_den=2, shingle_k=3, sets=sh
        )

    (sig16, banded8, cands), (sh_sets, pp_verified) = build_concurrently(
        spark, [_build_lsh, lambda: _ppjoin(_build_sets())]
    )
    # token/shingle SETS off the same tokenize pass: join the pairs
    # once per set unit and derive every score (tok/shingle Jaccard,
    # both containment directions) from the shared (inter, n_a, n_b)
    # statistics — instead of one tokenize+join pipeline per score.
    # Round 12 (guide §2.3 narrower types): the set elements are
    # xxhash64-hashed to int64 BEFORE the pair joins — per-element
    # array work (array_intersect/array_distinct) on 64-bit ints is an
    # order of magnitude cheaper than on shingle strings, the join
    # shuffles ~5× fewer bytes, and the compact bigint arrays make the
    # shingle sets cheap to materialize, so ONE checkpointed frame now
    # feeds all three shingle-stat consumers (lsh, incr, steep) where
    # each previously re-ran tokenize→shingle→distinct. Jaccard/
    # containment values are unchanged unless two distinct shingles of
    # the same document pair collide in 64 bits (~10⁻⁷ at corpus
    # scale); the DuckDB oracle still computes on the raw string sets,
    # so the sf0.01/sf0.1 parity gates certify collision-freeness on
    # the actual data.
    tok_sets = toked.select(
        "_sid",
        F.transform(F.array_distinct("_tk"), lambda t: F.xxhash64(t)).alias("_set"),
    )
    # (id, id, 3 ints) rows: cheap to materialize, consumed twice
    tok_stats = dedup.pair_set_stats(tok_sets, cands).localCheckpoint(eager=False)
    sh_stats = dedup.pair_set_stats(sh_sets, cands)

    def _jac(stats_prefix: str = "") -> "F.Column":
        i, a, b = (F.col(f"{stats_prefix}{c}") for c in ("inter", "n_a", "n_b"))
        u = a + b - i
        return F.when(u > 0, i.cast("double") / u.cast("double")).otherwise(F.lit(0.0))

    sh_named = sh_stats.select(
        "id_a", "id_b", F.col("inter").alias("s_inter"),
        F.col("n_a").alias("s_n_a"), F.col("n_b").alias("s_n_b"),
    )
    lsh = tok_stats.join(sh_named, ["id_a", "id_b"]).select(
        F.lit("lsh").alias("part"),
        "id_a",
        "id_b",
        _jac().alias("jaccard_tok"),
        _jac("s_").alias("jaccard_shingle"),
    )
    pp = pp_verified.select(
        F.lit("ppjoin").alias("part"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard_tok"),
        F.col("jaccard").alias("jaccard_shingle"),
    )
    # 'contain' — Broder CONTAINMENT per LSH candidate (asymmetric
    # quotation/partial-copy signal): both directions ride the two
    # double columns, straight off the shared token statistics
    c_ab = F.when(
        F.col("n_a") > 0, F.col("inter").cast("double") / F.col("n_a").cast("double")
    ).otherwise(F.lit(0.0))
    c_ba = F.when(
        F.col("n_b") > 0, F.col("inter").cast("double") / F.col("n_b").cast("double")
    ).otherwise(F.lit(0.0))
    cn = tok_stats.select(
        F.lit("contain").alias("part"),
        "id_a",
        "id_b",
        c_ab.alias("jaccard_tok"),
        c_ba.alias("jaccard_shingle"),
    )
    # 'cosine' — Ochiai / Salton set-cosine per LSH candidate
    # (inter / sqrt(n_a·n_b), the binary-vector cosine): the FOURTH
    # score off the SAME shared token statistics — zero extra joins;
    # sqrt of an exact integer product is correctly rounded
    oc = tok_stats.select(
        F.lit("cosine").alias("part"),
        "id_a",
        "id_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("inter").cast("double")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        ).otherwise(F.lit(0.0)).alias("jaccard_tok"),
        F.lit(None).cast("double").alias("jaccard_shingle"),
    )
    # 'incr' — INCREMENTAL dedup (round 7): the plants (doc_id >= 2M)
    # play a new crawl batch checked against the original corpus as
    # the accumulated base — candidates come from the cross-frame band
    # join (dedup.minhash_lsh_candidates_between), verified with the
    # same shared shingle-set statistics.
    # the two sides are row filters of the SAME shared banded table —
    # banding is per-document, so filtering commutes with it (pinned by
    # tests/test_lsh_reuse.py against minhash_lsh_candidates_between)
    ic = dedup.candidates_between_banded(
        banded8.filter(F.col("_id") < 2_000_000),
        banded8.filter(F.col("_id") >= 2_000_000),
    ).select(F.col("base_id").alias("id_a"), F.col("new_id").alias("id_b"))
    incr = dedup.pair_set_stats(sh_sets, ic).select(
        F.lit("incr").alias("part"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard_tok"),
        _jac().alias("jaccard_shingle"),
    )
    # 'steep' — the r=4 banding POSTURE certified by value (round 11):
    # the round-11 LSH audit showed the default (8, 4) ⇒ r=2 S-curve
    # is the catalog's candidate-volume governor at corpus scale (37%
    # sub-threshold candidates at sf0.1, AND missed true pairs). This
    # part runs the SAME operator at (16, 4) ⇒ r=4 — the posture the
    # audit recommends — and hash-certifies its candidate set + exact
    # shingle Jaccard against an oracle that replays the full 16-hash
    # pipeline, which also certifies the md5-extended hash family
    # (ensure_minhash_coeffs, coeffs 12..15) through a gate rather
    # than unit tests alone.
    steep_c = dedup.candidates_from_banded(dedup.bands_from_signature(sig16, 16, 4))
    steep = dedup.pair_set_stats(sh_sets, steep_c).select(
        F.lit("steep").alias("part"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard_tok"),
        _jac().alias("jaccard_shingle"),
    )
    return (
        lsh.unionByName(pp)
        .unionByName(cn)
        .unionByName(oc)
        .unionByName(incr)
        .unionByName(steep)
    )


def _jac_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN len(list_distinct(list_concat({a}, {b}))) > 0 "
        f"THEN CAST(len(list_intersect({a}, {b})) AS DOUBLE) "
        f"/ len(list_distinct(list_concat({a}, {b}))) ELSE 0.0 END"
    )


T08_SQL = f"""
WITH {_minhash_sig_sql(NEAR_DUP_CORPUS_SQL, shingle_k=3, n_hashes=16)},
bands AS ({_bands_sql()}),
bands16 AS ({_bands16_sql()}),
cands AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b FROM {_CAND_JOIN_SQL}),
sets_t AS (SELECT doc_id AS _sid, list_distinct({TX.tokens_sql('text')}) AS _set FROM corpus),
sets_s AS (SELECT doc_id AS _sid,
                  list_distinct({hashing.shingles_sql(TX.tokens_sql('text'), 3)}) AS _set
           FROM corpus)
SELECT 'lsh' AS part, id_a, id_b,
       {_jac_sql('ta._set', 'tb._set')} AS jaccard_tok,
       {_jac_sql('sa._set', 'sb._set')} AS jaccard_shingle
FROM cands
JOIN sets_t ta ON ta._sid = id_a
JOIN sets_t tb ON tb._sid = id_b
JOIN sets_s sa ON sa._sid = id_a
JOIN sets_s sb ON sb._sid = id_b
UNION ALL
-- incr part: cross-frame band join — plants (>= 2M) as the new
-- batch, originals as the accumulated base
SELECT 'incr' AS part, id_a, id_b,
       CAST(NULL AS DOUBLE) AS jaccard_tok,
       {_jac_sql('sa._set', 'sb._set')} AS jaccard_shingle
FROM (SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM bands a JOIN bands b
      ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
         AND a._id < 2000000 AND b._id >= 2000000) ic
JOIN sets_s sa ON sa._sid = id_a
JOIN sets_s sb ON sb._sid = id_b
UNION ALL
-- ppjoin part: brute-force all-pairs >= 1/2 (algorithm-independent
-- witness for the prefix-filter join: no false negatives allowed)
SELECT 'ppjoin' AS part, a._sid AS id_a, b._sid AS id_b,
       CAST(NULL AS DOUBLE) AS jaccard_tok,
       CAST(len(list_intersect(a._set, b._set)) AS DOUBLE)
           / len(list_distinct(list_concat(a._set, b._set))) AS jaccard_shingle
FROM (SELECT _sid, _set FROM sets_s WHERE len(_set) > 0) a
JOIN (SELECT _sid, _set FROM sets_s WHERE len(_set) > 0) b
ON a._sid < b._sid
AND 1 * greatest(len(a._set), len(b._set)) <= 2 * least(len(a._set), len(b._set))
AND len(list_intersect(a._set, b._set)) * 2
    >= len(list_distinct(list_concat(a._set, b._set))) * 1
UNION ALL
-- contain part: directional token-set containment per LSH candidate
SELECT 'contain' AS part, id_a, id_b,
       CASE WHEN len(ta._set) > 0
            THEN CAST(len(list_intersect(ta._set, tb._set)) AS DOUBLE)
                 / len(ta._set) ELSE 0.0 END AS jaccard_tok,
       CASE WHEN len(tb._set) > 0
            THEN CAST(len(list_intersect(ta._set, tb._set)) AS DOUBLE)
                 / len(tb._set) ELSE 0.0 END AS jaccard_shingle
FROM cands
JOIN sets_t ta ON ta._sid = id_a
JOIN sets_t tb ON tb._sid = id_b
UNION ALL
-- cosine part: Ochiai set-cosine per LSH candidate off the same sets
SELECT 'cosine' AS part, id_a, id_b,
       CASE WHEN len(ta._set) > 0 AND len(tb._set) > 0
            THEN CAST(len(list_intersect(ta._set, tb._set)) AS DOUBLE)
                 / sqrt(CAST(len(ta._set) AS DOUBLE)
                        * CAST(len(tb._set) AS DOUBLE))
            ELSE 0.0 END AS jaccard_tok,
       CAST(NULL AS DOUBLE) AS jaccard_shingle
FROM cands
JOIN sets_t ta ON ta._sid = id_a
JOIN sets_t tb ON tb._sid = id_b
UNION ALL
-- steep part: the r=4 banding posture (16 hashes, 4 bands of 4) —
-- the full widened pipeline replayed, certifying the md5-extended
-- hash family (coeffs 12..15) by value
SELECT 'steep' AS part, id_a, id_b,
       CAST(NULL AS DOUBLE) AS jaccard_tok,
       {_jac_sql('sa._set', 'sb._set')} AS jaccard_shingle
FROM (SELECT DISTINCT a._id AS id_a, b._id AS id_b FROM {_CAND16_JOIN_SQL}) sc
JOIN sets_s sa ON sa._sid = id_a
JOIN sets_s sb ON sb._sid = id_b
"""


# t09 — fingerprint/fuzzy-match family, two tag-union parts:
#   'fp'   — per-document near-dup signatures (merged former t09
#            SimHash + t10 shingle fingerprint) joined on doc_id.
#   'edit' — EXACT edit-distance threshold self-join
#            (dedup.edit_distance_join, q-gram blocking) over 8-char
#            md5-prefix "names" with planted one-edit variants; the
#            oracle is BRUTE-FORCE all-pairs levenshtein — algorithm-
#            independent, so the blocking provably drops no true pair.
def _edit_names(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    names = docs.select(
        F.col("doc_id").alias("id"), F.substring(F.md5("text"), 1, 8).alias("name")
    )
    planted = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("id"),
        F.concat(
            F.substring(F.md5("text"), 1, 2),
            F.lit("z"),
            F.substring(F.md5("text"), 4, 5),
        ).alias("name"),
    )
    return names.unionByName(planted)


def t09_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    # one spread feeds both operators: the two branches reuse its exchange
    docs = spread(load_table(spark, sf, "documents"))
    sh = dedup.simhash_docs(docs, "doc_id", "text")
    fp = dedup.fingerprint_docs(docs, "doc_id", "text", k=3)
    fpart = sh.join(fp, "doc_id").select(
        F.lit("fp").alias("part"),
        F.col("doc_id").cast("bigint").alias("id"),
        F.col("doc_md5").alias("s1"),
        F.col("simhash").cast("bigint").alias("n1"),
        F.col("min_shingle_hash").cast("bigint").alias("n2"),
        F.col("n_shingles").cast("bigint").alias("n3"),
    )
    ed = dedup.edit_distance_join(_edit_names(spark, sf), "id", "name", max_dist=1)
    epart = ed.select(
        F.lit("edit").alias("part"),
        F.col("id_a").cast("bigint").alias("id"),
        F.lit(None).cast("string").alias("s1"),
        F.col("id_b").cast("bigint").alias("n1"),
        F.col("dist").cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
    )
    return fpart.unionByName(epart)


_SHINGLES = hashing.shingles_sql(TX.tokens_sql("text"), 3)
T09_SQL = f"""
SELECT 'fp' AS part, doc_id AS id, doc_md5 AS s1, simhash AS n1,
       min_shingle_hash AS n2, n_shingles AS n3
FROM (
  SELECT a.doc_id, a.simhash, b.doc_md5, b.min_shingle_hash, b.n_shingles
  FROM (SELECT _id AS doc_id, simhash FROM ({hashing.simhash_sql("documents", "doc_id", TX.tokens_sql("text"))})) a
  JOIN (
      SELECT doc_id, md5(text) AS doc_md5,
             list_min(list_transform({_SHINGLES}, s -> {hashing.word_hash32_sql('s')})) AS min_shingle_hash,
             len({_SHINGLES}) AS n_shingles
      FROM documents
  ) b USING (doc_id)
)
UNION ALL
-- 'edit' witness: brute-force all-pairs levenshtein over the same
-- name fixture — any pair the q-gram blocking missed would show here
SELECT 'edit' AS part, e.id_a AS id, CAST(NULL AS VARCHAR) AS s1,
       e.id_b AS n1, e.dist AS n2, CAST(NULL AS BIGINT) AS n3
FROM (
  SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist
  FROM (
    SELECT doc_id AS id, substring(md5(text), 1, 8) AS name FROM documents
    UNION ALL
    SELECT doc_id + 3000000,
           substring(md5(text), 1, 2) || 'z' || substring(md5(text), 4, 5)
    FROM documents WHERE doc_id % 97 = 0
  ) a
  JOIN (
    SELECT doc_id AS id, substring(md5(text), 1, 8) AS name FROM documents
    UNION ALL
    SELECT doc_id + 3000000,
           substring(md5(text), 1, 2) || 'z' || substring(md5(text), 4, 5)
    FROM documents WHERE doc_id % 97 = 0
  ) b ON a.id < b.id
) e
WHERE e.dist <= 1
"""


# t13 — deterministic sampling + splitting in one gate (merged former
# t13 hash split + t14 stratified sample): the 5 smallest-hash docs per
# source (id tiebreak), each carrying its deterministic train/val/test
# split label — per-row certification of both id-hash operators,
# reproducible across engines, runs, and partition layouts.
# target mixture for the 'mix' part: 'es' deliberately untargeted
# (drop path); at every sf 'fr' is the binding group (min n/p), so the
# gate exercises rate==1 and fractional rates together
MIX_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.2}


def t13_sample_split(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import sampling
    from stepist_spark.session import spread

    docs = load_table(spark, sf, "documents").select("doc_id", "source", "lang")
    sampled = sampling.stratified_sample(docs, "source", "doc_id", 5)
    split = sampling.hash_split(sampled, "doc_id").select(
        F.lit("split").alias("part"), "doc_id", "source", "lang", "split"
    )
    # static data mixing (DoReMi-style target weights): largest corpus
    # matching the target proportions, deterministic hash acceptance
    mix = sampling.mixture_resample(docs, "lang", "doc_id", MIX_TARGETS).select(
        F.lit("mix").alias("part"),
        "doc_id",
        "source",
        "lang",
        F.lit(None).cast("string").alias("split"),
    )
    # weighted sampling WITHOUT replacement (priority sampling): 8 docs
    # per lang, weighted by text length — longer docs proportionally
    # likelier, selection decided by exact integer keys
    weighted = load_table(spark, sf, "documents").select(
        "doc_id", "source", "lang", F.length("text").cast("bigint").alias("w")
    )
    wps = sampling.weighted_priority_sample(
        weighted, "doc_id", "w", 8, group_cols=["lang"]
    ).select(
        F.lit("wps").alias("part"),
        "doc_id",
        "source",
        "lang",
        F.lit(None).cast("string").alias("split"),
    )
    # corpus-mixing budget (operators/mixing.py): waterfill the token
    # budget over languages (budget 350 puts fr/de in the saturated
    # branch and es/zh/en at the floored common level at sf0.01), then
    # realize it with the deterministic md5-rank quota take. The
    # allocation table is |langs| rows; slots: allocated->doc_id,
    # key->source, avail->lang, saturated->split.
    from stepist_spark.operators.mixing import take_quota, waterfill_allocation

    avail = docs.groupBy(F.col("lang").alias("src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    alloc = waterfill_allocation(avail, "src", "a", WFILL_BUDGET)
    wf = alloc.select(
        F.lit("wfill").alias("part"),
        F.col("allocated").alias("doc_id"),
        F.col("key").alias("source"),
        F.col("avail").cast("string").alias("lang"),
        F.col("saturated").cast("string").alias("split"),
    )
    qt = take_quota(docs, "lang", "doc_id", alloc).select(
        F.lit("quota").alias("part"),
        "doc_id",
        "source",
        "lang",
        F.lit(None).cast("string").alias("split"),
    )
    # leakage-safe split (round 6): the corpus plants RE-ENCODED
    # copies (upper-cased, whitespace-padded); splitting on the
    # canonical-content md5 forces each copy into ITS ORIGINAL'S
    # split — eval contamination through duplicates is impossible by
    # construction. 'leakchk' certifies it: every content cluster
    # spans exactly one split.
    base = spread(load_table(spark, sf, "documents")).select(
        "doc_id", "source", "text"
    )
    replants = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        "source",
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit(" ")).alias("text"),
    )
    lcorpus = base.unionByName(replants).withColumn(
        "ckey", F.md5(TX.canonical_text(F.col("text")))
    )
    # lazy localCheckpoint: the split assignment feeds BOTH the 'leak'
    # rows and the 'leakchk' aggregate — one canonical-md5 pass, not two
    lsplit = sampling.leakage_safe_split(lcorpus, "ckey").localCheckpoint(
        eager=False
    )
    leak = lsplit.select(
        F.lit("leak").alias("part"),
        "doc_id",
        F.col("ckey").alias("source"),
        F.lit(None).cast("string").alias("lang"),
        "split",
    )
    chk = (
        lsplit.groupBy("ckey")
        .agg(F.countDistinct("split").alias("_ns"))
        .groupBy(F.col("_ns").cast("bigint").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("string").alias("lang"))
        .select(
            F.lit("leakchk").alias("part"),
            "doc_id",
            F.lit(None).cast("string").alias("source"),
            "lang",
            F.lit(None).cast("string").alias("split"),
        )
    )
    # length-matched resampling (round 6): a COMPOSITION gate — equal-
    # frequency length quartiles (operators/anomaly.quantile_buckets)
    # feed the deterministic target-mixture resampler so the kept
    # corpus has a uniform length distribution (length-prior matching,
    # the standard fix for length-biased web scrapes). Both stages are
    # already individually certified; this certifies the composition.
    from stepist_spark.operators.anomaly import quantile_buckets

    qdocs = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.lit(1).alias("g1"),
        F.col("n_chars").cast("double").alias("nc"),
    )
    qmap = quantile_buckets(qdocs, ["g1"], "nc", n_buckets=4)
    bucketed = qdocs.withColumn(
        "v_cents", F.floor(F.col("nc") * 100 + F.lit(0.5)).cast("bigint")
    ).join(
        F.broadcast(qmap.select("v_cents", F.col("bucket").cast("string").alias("bkt"))),
        "v_cents",
    )
    lm = sampling.mixture_resample(
        bucketed, "bkt", "doc_id", {"1": 0.25, "2": 0.25, "3": 0.25, "4": 0.25}
    ).select(
        F.lit("lenmatch").alias("part"),
        "doc_id",
        "source",
        F.col("bkt").alias("lang"),
        F.lit(None).cast("string").alias("split"),
    )
    return (
        split.unionByName(mix)
        .unionByName(wps)
        .unionByName(wf)
        .unionByName(qt)
        .unionByName(leak)
        .unionByName(chk)
        .unionByName(lm)
    )


WFILL_BUDGET = 350


_T13_LEAK_CORPUS_SQL = f"""
SELECT doc_id, md5({TX.canonical_text_sql('text')}) AS ckey FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 5000000 AS doc_id, '  ' || upper(text) || ' ' AS text
    FROM documents WHERE doc_id % 25 = 0
)
"""


def _t13_sql() -> str:
    from stepist_spark.operators import sampling

    inner = sampling.stratified_sample_sql(
        "(SELECT doc_id, source, lang FROM documents)",
        "source",
        "doc_id",
        5,
        select_cols="doc_id, source, lang",
    )
    mix = sampling.mixture_resample_sql(
        "documents", "lang", "doc_id", MIX_TARGETS,
        select_cols="doc_id, source, lang",
    )
    wps = sampling.weighted_priority_sample_sql(
        "SELECT doc_id, source, lang, CAST(length(text) AS BIGINT) AS w "
        "FROM documents",
        "doc_id",
        "w",
        8,
        group_exprs=["lang"],
    )
    from stepist_spark.operators.mixing import (
        take_quota_sql,
        waterfill_allocation_sql,
    )

    wfill = waterfill_allocation_sql(
        "SELECT lang AS src, CAST(count(*) AS BIGINT) AS a "
        "FROM documents GROUP BY lang",
        "src",
        "a",
        WFILL_BUDGET,
    )
    quota = take_quota_sql(
        "SELECT doc_id, source, lang FROM documents",
        "lang",
        "doc_id",
        wfill,
        select_cols="doc_id, source, lang",
    )
    from stepist_spark.operators.anomaly import quantile_buckets_sql

    qb = quantile_buckets_sql(
        "SELECT 1 AS g1, CAST(n_chars AS DOUBLE) AS nc FROM documents",
        ["g1"],
        "nc",
        4,
    )
    bucketed = f"""(
    SELECT d.doc_id, d.source,
           CAST(q.bucket AS VARCHAR) AS bkt
    FROM documents d
    JOIN ({qb}) q
      ON CAST(floor(CAST(d.n_chars AS DOUBLE) * 100 + 0.5) AS BIGINT) = q.v_cents
)"""
    lenmatch = sampling.mixture_resample_sql(
        bucketed,
        "bkt",
        "doc_id",
        {"1": 0.25, "2": 0.25, "3": 0.25, "4": 0.25},
        select_cols="doc_id, source, bkt",
    )
    return f"""
SELECT 'split' AS part, doc_id, source, lang,
       {sampling.split_label_sql('doc_id')} AS split
FROM ({inner})
UNION ALL
SELECT 'mix', doc_id, source, lang, CAST(NULL AS VARCHAR)
FROM ({mix})
UNION ALL
SELECT 'wps', doc_id, source, lang, CAST(NULL AS VARCHAR)
FROM (SELECT doc_id, source, lang FROM ({wps}))
UNION ALL
SELECT 'wfill', allocated, key, CAST(avail AS VARCHAR),
       CAST(saturated AS VARCHAR)
FROM ({wfill})
UNION ALL
SELECT 'quota', doc_id, source, lang, CAST(NULL AS VARCHAR)
FROM (SELECT doc_id, source, lang FROM ({quota}))
UNION ALL
SELECT 'leak', doc_id, ckey, CAST(NULL AS VARCHAR),
       {sampling.split_label_sql('ckey')}
FROM ({_T13_LEAK_CORPUS_SQL})
UNION ALL
SELECT 'leakchk', ns, CAST(NULL AS VARCHAR), CAST(n AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM (
    SELECT ns, count(*) AS n FROM (
        SELECT ckey,
               CAST(count(DISTINCT {sampling.split_label_sql('ckey')}) AS BIGINT)
                   AS ns
        FROM ({_T13_LEAK_CORPUS_SQL}) GROUP BY ckey
    ) GROUP BY ns
)
UNION ALL
SELECT 'lenmatch', doc_id, source, bkt, CAST(NULL AS VARCHAR)
FROM ({lenmatch})
"""


T13_SQL = _t13_sql()


# t15 — within-document token statistics in one explode→count pass
# (merged former t15 word-repetition + t17 salient terms): the most
# frequent token (Gopher/C4-style repetition signal) alongside the
# TF-IDF-shaped salient term ranked on the exact integer pair
# (tf desc, df asc) — see operators.corpus.salient_terms for why the
# float tf·ln(N/df) is deliberately avoided cross-engine. Ratio is a
# single division of identical integers — bit-identical unrounded.
def t15_word_stats(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from stepist_spark.operators import corpus as corpus_ops

    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w_doc = Window.partitionBy("doc_id")
    w_rep = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    # lexical-richness measures ride on the SAME value-counts frame
    # (no extra corpus pass): type count, hapax legomena (tokens
    # occurring once in the doc), and the type-token ratio — the
    # classic vocabulary-diversity quality signals
    top = (
        counts.withColumn("_rn", F.row_number().over(w_rep))
        .withColumn("n_tokens", F.sum("cnt").over(w_doc).cast("bigint"))
        .withColumn("n_types", F.count(F.lit(1)).over(w_doc).cast("bigint"))
        .withColumn(
            "hapax",
            F.sum((F.col("cnt") == 1).cast("int")).over(w_doc).cast("bigint"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "n_tokens",
            F.col("tok").alias("top_token"),
            F.col("cnt").cast("bigint").alias("top_freq"),
            (F.col("cnt").cast("double") / F.col("n_tokens")).alias("top_ratio"),
            "n_types",
            "hapax",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
        )
    )
    sal = corpus_ops.salient_terms(docs, "doc_id", "text").select(
        "doc_id",
        F.col("top_token").alias("salient_token"),
        F.col("tf").alias("salient_tf"),
        F.col("df").alias("salient_df"),
    )
    return top.join(sal, "doc_id")


T15_SQL = f"""
WITH counts AS (
    SELECT doc_id, _tok AS tok, count(*) AS cnt
    FROM (SELECT doc_id, unnest({TX.tokens_sql('text')}) AS _tok FROM documents)
    GROUP BY doc_id, _tok
),
dfreq AS (SELECT tok, count(*) AS df FROM counts GROUP BY tok),
j AS (
    SELECT c.doc_id, c.tok, c.cnt, d.df,
           row_number() OVER (PARTITION BY c.doc_id ORDER BY c.cnt DESC, c.tok) AS r1,
           row_number() OVER (PARTITION BY c.doc_id ORDER BY c.cnt DESC, d.df, c.tok) AS r2,
           CAST(sum(c.cnt) OVER (PARTITION BY c.doc_id) AS BIGINT) AS n_tokens,
           CAST(count(*) OVER (PARTITION BY c.doc_id) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY c.doc_id) AS BIGINT) AS hapax
    FROM counts c JOIN dfreq d USING (tok)
)
SELECT t.doc_id, t.n_tokens, t.tok AS top_token, t.cnt AS top_freq,
       CAST(t.cnt AS DOUBLE) / t.n_tokens AS top_ratio,
       t.n_types, t.hapax,
       round(CAST(t.n_types AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6) AS ttr,
       s.tok AS salient_token, s.cnt AS salient_tf, s.df AS salient_df
FROM (SELECT * FROM j WHERE r1 = 1) t
JOIN (SELECT * FROM j WHERE r2 = 1) s USING (doc_id)
"""


# t16 — text-index tag union: corpus vocabulary (top-50 tokens, the
# vocab-build pass of a tokenizer pipeline) + BM25 retrieval (each
# query = the first 6 tokens of every 50th document, top-5 docs by
# fixed-point portable BM25 — `operators/ranking.py`; max_df_ratio=1.0
# because the synthetic corpus's tiny vocabulary makes every term a
# "stopword"; the pruning path is covered in tests/test_ranking.py).
def t16_vocabulary(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import corpus as corpus_ops
    from stepist_spark.operators import ranking

    docs = load_table(spark, sf, "documents")
    # ONE corpus explode: the inverted index feeds the vocabulary, the
    # corpus stats, the df table, and the scoring probe (localCheckpoint
    # stands in for the persisted index table a real deployment keeps)
    postings = ranking.doc_postings(docs, "doc_id", "text").localCheckpoint()
    v = corpus_ops.vocabulary_from_postings(postings, min_count=2)
    vocab = (
        v.orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
        .limit(50)
        .select(
            F.lit("vocab").alias("part"),
            "tok",
            F.lit(None).cast("bigint").alias("qid"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("bigint").alias("rank"),
            F.col("n_occurrences").cast("bigint").alias("n1"),
            F.col("n_docs").cast("bigint").alias("n2"),
            F.lit(None).cast("bigint").alias("score_scaled"),
        )
    )
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(TX.tokens(F.col("text")), 1, 6)).alias("query_text"),
    )
    # lazy localCheckpoint: the BM25 list feeds BOTH the 'bm25' part
    # and the 'rrf' fusion below — materialize once per action
    bm_raw = ranking.bm25_topk(
        docs.select("doc_id", "text"), queries, k=5, max_df_ratio=1.0,
        postings=postings,
    ).localCheckpoint(eager=False)
    bm = bm_raw.select(
        F.lit("bm25").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.col("query_id").cast("bigint").alias("qid"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("rank"),
        F.col("n_terms_hit").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        "score_scaled",
    )
    # per-source distribution shift rides along (operators/corpus.py):
    # smoothed KL of each source's token distribution vs the rest of
    # the corpus, fed from the SAME postings pass (no re-tokenize) —
    # the doc_id->source map joins co-partitioned on doc_id
    # NO localCheckpoint here (round-11 measurement): gt feeds three
    # drift parts (kl, js, lodds) but re-running the cheap join+agg
    # over the postings checkpoint beats materializing this frame —
    # 8.2s vs 9.4s whole-gate min-of-3 at sf0.1 (the q25 li3 result
    # again: checkpoint only pays when the shared base is expensive)
    gt = (
        postings.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(F.col("source").alias("grp"), "tok")
        .agg(F.sum("tf").cast("bigint").alias("c"))
    )
    kl = corpus_ops.distribution_shift_from_counts(gt, min_count=5).select(
        F.lit("kl").alias("part"),
        F.col("grp").alias("tok"),
        F.lit(None).cast("bigint").alias("qid"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("n_tokens").alias("n1"),
        F.col("vocab_v").alias("n2"),
        F.col("kl_scaled").alias("score_scaled"),
    )
    # top-PMI collocations ride along (operators/corpus.py): adjacent-
    # bigram phrase discovery, zip-adjacent inside each row (no
    # positional shuffle), integer-scaled ln for stable ranking
    pmi = corpus_ops.pmi_collocations(
        docs.select("text"), "text", min_pair_count=3, top_k=50
    ).select(
        F.lit("pmi").alias("part"),
        F.concat(F.col("a"), F.lit(" "), F.col("b")).alias("tok"),
        F.col("c_a").alias("qid"),
        F.col("c_b").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("c_ab").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("pmi_scaled").alias("score_scaled"),
    )
    # exact positional phrase search rides along (operators/
    # ranking.py): adjacency retrieval the bag-of-words BM25 part
    # can't express — one posexplode + broadcast term join
    from stepist_spark.operators.ranking import phrase_occurrences

    ph = phrase_occurrences(docs, "doc_id", "text", T16_PHRASES).select(
        F.lit("phrase").alias("part"),
        F.col("phrase").alias("tok"),
        F.lit(None).cast("bigint").alias("qid"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("first_pos").alias("rank"),
        F.col("n_occurrences").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("score_scaled"),
    )
    # hybrid retrieval via reciprocal-rank fusion (operators/
    # ranking.py): the lexical BM25 list fuses with a DENSE ranking
    # over the SAME query ids (vec_id ↔ doc_id) — the standard
    # sparse⊕dense combiner. The dense leg is the JL-projected
    # integer-dot top-k (similarity.jl_topk): RRF only consumes
    # RANKS, so the cheap 16-bigint-dim stage-1 is the scale-honest
    # choice over exact 64-float cosine (8× fewer bytes/pair; at sf1
    # the cosine leg alone cost ~80s). Fusion itself touches only the
    # two top-k lists, never the corpora.
    from stepist_spark.operators import similarity
    from stepist_spark.session import spread

    # spread(): the small embeddings scan is one partition — without
    # it the |queries|×|corpus| scoring pass serializes on one core
    emb = spread(load_table(spark, sf, "embeddings"))
    dense_ranked = similarity.jl_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding", k=5
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = ranking.rrf_fuse(
        [
            bm_raw.filter(F.col("query_id") % 100 == 0).select(
                "query_id", "doc_id", "rank"
            ),
            dense_ranked,
        ],
        c=60,
        k=8,
    ).select(
        F.lit("rrf").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.col("query_id").cast("bigint").alias("qid"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("fused_rank").alias("rank"),
        F.col("n_systems").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("rrf_scaled").alias("score_scaled"),
    )
    # ranking-quality acceptance metrics (round 7): nDCG@5 + first-
    # relevant-rank of the SAME BM25 list, graded by n_terms_hit (how
    # many query terms the doc contains — a label independent of the
    # BM25 score order, so the metric discriminates). Touches only the
    # k-rows-per-query list; the integer discount LUT is inlined in
    # both engines (operators/ranking.ranking_quality).
    # vocabulary-coverage estimators (round 7): Chao1 + Good-Turing
    # unseen mass off the SAME postings pass (token totals = one
    # vocabulary-sized aggregate, no re-tokenize)
    vr = corpus_ops.vocabulary_richness(
        token_counts=postings.groupBy("tok").agg(F.sum("tf").alias("c"))
    ).select(
        F.lit("vocabest").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.col("f1").alias("qid"),
        F.col("f2").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("n_types").alias("n1"),
        F.col("n_tokens").alias("n2"),
        F.col("chao1_scaled").alias("score_scaled"),
    )
    # symmetric drift companion (round 8): Jensen-Shannon divergence
    # per source vs rest off the SAME per-(source, token) count frame
    # as 'kl' — bounded ≤ ln 2, robust where KL blows up
    js = corpus_ops.js_shift_from_counts(gt, min_count=5).select(
        F.lit("js").alias("part"),
        F.col("grp").alias("tok"),
        F.col("js_p_scaled").alias("qid"),
        F.col("js_q_scaled").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("n_tokens").alias("n1"),
        F.col("vocab_v").alias("n2"),
        F.col("js_scaled").alias("score_scaled"),
    )
    # Zipf rank-frequency fit (round 8): log-log OLS slope over the
    # SAME vocabulary counts ('vocab''s v frame) — ranking rides the
    # partition-offset global_row_number, sums are exact decimals
    zp = corpus_ops.zipf_slope(v, "tok", "n_occurrences").select(
        F.lit("zipf").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.lit(None).cast("bigint").alias("qid"),
        F.col("r2_scaled").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("n_vocab").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("slope_scaled").alias("score_scaled"),
    )
    # Heaps'-law vocabulary growth (round 8): β of V(N) over the SAME
    # postings pass — first-doc type attribution + ordered_cumsum, the
    # corpus-growth planning twin of 'vocabest'
    hp = corpus_ops.heaps_fit(postings).select(
        F.lit("heaps").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.lit(None).cast("bigint").alias("qid"),
        F.col("r2_scaled").alias("doc_id"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("n_docs").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("slope_scaled").alias("score_scaled"),
    )
    # Fightin' Words characteristic tokens (round 9): per-source
    # prior-smoothed log-odds z off the SAME (source, token) count
    # frame as 'kl'/'js' — the variance term keeps rare tokens from
    # dominating the keyword list
    lo = corpus_ops.log_odds_tokens(gt, min_count=5, k=5).select(
        F.lit("lodds").alias("part"),
        F.concat_ws(":", F.col("grp"), F.col("tok")).alias("tok"),
        F.col("delta_scaled").alias("qid"),
        F.col("c_all").alias("doc_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("c").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("z_scaled").alias("score_scaled"),
    )
    rq = ranking.ranking_quality(bm_raw, rel_col="n_terms_hit", k=5).select(
        F.lit("rankq").alias("part"),
        F.lit(None).cast("string").alias("tok"),
        F.col("query_id").cast("bigint").alias("qid"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.col("first_rel_rank").alias("rank"),
        F.col("dcg_scaled").alias("n1"),
        F.col("idcg_scaled").alias("n2"),
        F.col("ndcg_scaled").alias("score_scaled"),
    )
    return (
        vocab.unionByName(bm)
        .unionByName(kl)
        .unionByName(pmi)
        .unionByName(ph)
        .unionByName(fused)
        .unionByName(rq)
        .unionByName(vr)
        .unionByName(js)
        .unionByName(zp)
        .unionByName(hp)
        .unionByName(lo)
    )


_T16_VOCAB_SQL = f"""
SELECT _tok AS tok, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest({TX.tokens_sql('text')}) AS _tok FROM documents)
GROUP BY _tok HAVING count(*) >= 2
ORDER BY n_occurrences DESC, tok LIMIT 50
"""

_T16_QUERIES_SQL = f"""
SELECT doc_id AS query_id,
       array_to_string(({TX.tokens_sql('text')})[1:6], ' ') AS query_text
FROM documents WHERE doc_id % 50 = 0
"""


def _t16_kl_sql() -> str:
    from stepist_spark.operators.corpus import distribution_shift_sql

    return distribution_shift_sql("documents", "doc_id", "text", "source", 5)


def _t16_pmi_sql() -> str:
    from stepist_spark.operators.corpus import pmi_collocations_sql

    return pmi_collocations_sql("documents", "text", 3, 50)


# exact positional phrase search (operators/ranking.py): contiguous
# bigram/trigram matches over the documents table — vote-per-start
# aggregation on a broadcast phrase-term table, never an m-way
# postings self-join
T16_PHRASES = ["key scan", "table table", "fast sort", "scan query big"]


def _t16_phrase_sql() -> str:
    from stepist_spark.operators.ranking import phrase_occurrences_sql

    return phrase_occurrences_sql("documents", "doc_id", "text", T16_PHRASES)


def _t16_sql() -> str:
    from stepist_spark.operators import ranking, similarity

    bm25 = ranking.bm25_topk_sql(
        "(SELECT doc_id, text FROM documents)", _T16_QUERIES_SQL, k=5, max_df_ratio=1.0
    )
    dense_sql = (
        "SELECT query_id, neighbor_id AS doc_id, rank FROM ("
        + similarity.jl_topk_sql(query_pred="vec_id % 100 = 0", k=5)
        + ")"
    )
    rrf = ranking.rrf_fuse_sql(
        [
            f"SELECT query_id, doc_id, rank FROM ({bm25}) "
            "WHERE query_id % 100 = 0",
            dense_sql,
        ],
        c=60,
        k=8,
    )
    rankq = ranking.ranking_quality_sql(
        f"SELECT query_id, doc_id, rank, n_terms_hit FROM ({bm25})",
        rel_expr="n_terms_hit",
        k=5,
    )
    from stepist_spark.operators.corpus import (
        js_shift_sql,
        vocabulary_richness_sql,
        zipf_slope_sql,
    )

    vocabest = vocabulary_richness_sql("SELECT text FROM documents")
    js = js_shift_sql("documents", "text", "source", 5)
    from stepist_spark.operators.corpus import log_odds_sql

    lodds = log_odds_sql("documents", "text", "source", min_count=5, k=5)
    from stepist_spark.operators.corpus import heaps_fit_sql

    heaps = heaps_fit_sql("documents", "doc_id", "text")
    zipf = zipf_slope_sql(
        f"""SELECT _tok AS tok, CAST(count(*) AS BIGINT) AS n_occurrences
FROM (SELECT unnest({TX.tokens_sql('text')}) AS _tok FROM documents)
GROUP BY _tok HAVING count(*) >= 2"""
    )
    return f"""
SELECT 'vocab' AS part, tok, CAST(NULL AS BIGINT) AS qid,
       CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS rank,
       n_occurrences AS n1, n_docs AS n2, CAST(NULL AS BIGINT) AS score_scaled
FROM ({_T16_VOCAB_SQL})
UNION ALL
SELECT 'bm25', CAST(NULL AS VARCHAR), query_id, doc_id, rank,
       n_terms_hit, CAST(NULL AS BIGINT), score_scaled
FROM ({bm25})
UNION ALL
SELECT 'kl', grp, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), n_tokens, vocab_v, kl_scaled
FROM ({_t16_kl_sql()})
UNION ALL
SELECT 'pmi', a || ' ' || b, c_a, c_b, CAST(NULL AS BIGINT),
       c_ab, CAST(NULL AS BIGINT), pmi_scaled
FROM ({_t16_pmi_sql()})
UNION ALL
SELECT 'phrase', phrase, CAST(NULL AS BIGINT), doc_id, first_pos,
       n_occurrences, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_t16_phrase_sql()})
UNION ALL
SELECT 'rrf', CAST(NULL AS VARCHAR), query_id, doc_id, fused_rank,
       n_systems, CAST(NULL AS BIGINT), rrf_scaled
FROM ({rrf})
UNION ALL
SELECT 'rankq', CAST(NULL AS VARCHAR), query_id, CAST(NULL AS BIGINT),
       first_rel_rank, dcg_scaled, idcg_scaled, ndcg_scaled
FROM ({rankq})
UNION ALL
SELECT 'vocabest', CAST(NULL AS VARCHAR), f1, f2, CAST(NULL AS BIGINT),
       n_types, n_tokens, chao1_scaled
FROM ({vocabest})
UNION ALL
SELECT 'js', grp, js_p_scaled, js_q_scaled, CAST(NULL AS BIGINT),
       n_tokens, vocab_v, js_scaled
FROM ({js})
UNION ALL
SELECT 'zipf', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), r2_scaled,
       CAST(NULL AS BIGINT), n_vocab, CAST(NULL AS BIGINT), slope_scaled
FROM ({zipf})
UNION ALL
SELECT 'heaps', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), r2_scaled,
       CAST(NULL AS BIGINT), n_docs, CAST(NULL AS BIGINT), slope_scaled
FROM ({heaps})
UNION ALL
SELECT 'lodds', grp || ':' || tok, delta_scaled, c_all,
       CAST(rank AS BIGINT), c, CAST(NULL AS BIGINT), z_scaled
FROM ({lodds})
"""


T16_SQL = _t16_sql()


# t18 — benchmark decontamination: 8-gram shingle overlap between the
# training corpus and a held-out benchmark set. The corpus plants exact
# copies of benchmark docs (id+3M) — the contamination the op must
# flag; clean docs appear with ratio 0.
def _decontam_frames(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0).unionByName(
        bench.select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    )
    return corpus, bench


_BLOOM_M = 1 << 16
_BLOOM_K = 4


def t18_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Tag union: exact shingle-overlap decontamination + the Bloom
    scale path. At 100 TB the benchmark shingle set is too large to
    broadcast exactly; `sketches.bloom_build` compresses it to a KB-
    scale bitmap ('words' part certifies the bitmap itself) that
    pre-filters the corpus with zero false negatives ('bloom' part:
    per-doc possibly-contaminated counts, always ≥ the exact counts) —
    survivors then exact-verify, the same filter→verify shape as
    LSH→Jaccard."""
    from stepist_spark.operators import corpus as corpus_ops
    from stepist_spark.operators import sketches

    corpus, bench = _decontam_frames(spark, sf)
    # ONE tokenize+shingle pass each, shared by the exact path and the
    # Bloom path (at 100 TB the corpus explode dominates; never do it
    # twice for two membership tests over the same shingles)
    # lazy localCheckpoints (round 11): each shingle frame feeds THREE
    # consumers (exact audit, Bloom path, clean removal) — without the
    # checkpoint the tokenize+shingle+explode+distinct pass re-ran per
    # consumer; the frames are flat (_id, sh) rows, the cheap-to-
    # materialize shape (not string arrays)
    corpus_sh = corpus_ops.shingle_set(corpus, "doc_id", "text", 8).localCheckpoint(
        eager=False
    )
    bench_sh_ids = corpus_ops.shingle_set(bench, "doc_id", "text", 8).localCheckpoint(
        eager=False
    )
    exact = corpus_ops.ngram_contamination(
        corpus,
        bench,
        "doc_id",
        "text",
        shingle_k=8,
        corpus_shingles=corpus_sh,
        benchmark_shingles=bench_sh_ids,
    ).select(
        F.lit("exact").alias("part"),
        F.col("doc_id").cast("bigint").alias("k"),
        F.col("n_shingles").alias("n1"),
        F.col("n_contaminated").alias("n2"),
        F.col("contamination_ratio").alias("ratio"),
    )
    bench_sh = bench_sh_ids.select("sh").distinct()
    bloom = sketches.bloom_build(bench_sh, "sh", m_bits=_BLOOM_M, n_hashes=_BLOOM_K)
    words = bloom.select(
        F.lit("words").alias("part"),
        F.col("word_idx").cast("bigint").alias("k"),
        F.col("word").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("ratio"),
    )
    probed = sketches.bloom_probe(
        corpus_sh, "sh", bloom, m_bits=_BLOOM_M, n_hashes=_BLOOM_K
    )
    pre = probed.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0)).cast("bigint").alias("n2"),
    ).select(
        F.lit("bloom").alias("part"),
        F.col("_id").cast("bigint").alias("k"),
        "n1",
        "n2",
        F.lit(None).cast("double").alias("ratio"),
    )
    # 'clean' — the REMOVAL step (round 7): corpus_ops.decontaminate
    # drops every flagged doc (GPT-3 drop-whole-doc discipline); the
    # surviving id set is hash-gated against the oracle's anti-join.
    # Shares the same shingle pass as the audit above.
    clean = corpus_ops.decontaminate(
        corpus,
        bench,
        "doc_id",
        "text",
        shingle_k=8,
        corpus_shingles=corpus_sh,
        benchmark_shingles=bench_sh_ids,
    ).select(
        F.lit("clean").alias("part"),
        F.col("doc_id").cast("bigint").alias("k"),
        F.lit(None).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("ratio"),
    )
    return exact.unionByName(words).unionByName(pre).unionByName(clean)


_SH8 = hashing.shingles_sql(TX.tokens_sql("text"), 8)


def _t18_sql() -> str:
    from stepist_spark.operators.sketches import BLOOM_WORD_BITS, _bloom_positions_sql

    pos = ", ".join(_bloom_positions_sql("sh", _BLOOM_M, _BLOOM_K))
    return f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 50 != 0
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, text FROM bench
),
bsh AS (SELECT DISTINCT unnest({_SH8}) AS sh FROM bench),
csh AS (
    SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, unnest({_SH8}) AS sh FROM corpus
    )
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY doc_id),
hit AS (
    SELECT c.doc_id, count(*) AS n_contaminated
    FROM csh c JOIN bsh USING (sh) GROUP BY c.doc_id
),
bloomw AS (
    SELECT CAST(p // {BLOOM_WORD_BITS} AS BIGINT) AS word_idx,
           bit_or(1::BIGINT << CAST(p % {BLOOM_WORD_BITS} AS INT)) AS word
    FROM (SELECT unnest([{pos}]) AS p FROM bsh) GROUP BY 1
),
cbits AS (
    SELECT doc_id, sh, CAST(p // {BLOOM_WORD_BITS} AS BIGINT) AS widx,
           1::BIGINT << CAST(p % {BLOOM_WORD_BITS} AS INT) AS mask
    FROM (SELECT doc_id, sh, unnest([{pos}]) AS p FROM csh)
),
cflag AS (
    SELECT b.doc_id, b.sh,
           bool_and((coalesce(w.word, 0) & b.mask) <> 0) AS maybe
    FROM cbits b LEFT JOIN bloomw w ON b.widx = w.word_idx
    GROUP BY b.doc_id, b.sh
)
SELECT 'exact' AS part, CAST(t.doc_id AS BIGINT) AS k, t.n_shingles AS n1,
       coalesce(h.n_contaminated, 0) AS n2,
       CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles AS ratio
FROM tot t LEFT JOIN hit h USING (doc_id)
UNION ALL
SELECT 'words', word_idx, word, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM bloomw
UNION ALL
SELECT 'bloom', CAST(doc_id AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS DOUBLE)
FROM cflag GROUP BY doc_id
UNION ALL
-- removal: every corpus doc not flagged by the audit survives
-- (docs with no shingles have no hit row and are kept)
SELECT 'clean', CAST(c.doc_id AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM corpus c
LEFT JOIN hit h ON h.doc_id = c.doc_id
WHERE h.doc_id IS NULL
"""


T18_SQL = _t18_sql()


# t20 — sequence packing: concatenate-and-chunk layout of the corpus
# into 512-token training sequences across 16 shards (per-shard window
# cumsum — no global ordering bottleneck).
CHUNK_W, CHUNK_OVERLAP = 64, 16  # chunker window/overlap (step 48)


def t20_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Tag union: concat-and-chunk packing layout + T5-style span
    corruption (deterministic md5 masking — the full input/target
    denoising pair is hash-certified string-for-string) + overlapping
    context-window chunking (every chunk text certified verbatim)."""
    from stepist_spark.operators import packing
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents")).withColumn(
        "_tk", TX.tokens(F.col("text"))
    )
    counted = docs.select(
        "doc_id", TX.token_count(F.col("text"), toks=F.col("_tk")).alias("n_toks")
    )
    nul = F.lit(None)
    pk = packing.pack_sequences(
        counted, "doc_id", "n_toks", seq_len=512, shards=16
    ).select(
        F.lit("pack").alias("part"),
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n1"),
        F.col("shard").cast("bigint").alias("n2"),
        F.col("start_offset").cast("bigint").alias("n3"),
        F.col("end_offset").cast("bigint").alias("n4"),
        F.col("first_chunk").cast("bigint").alias("n5"),
        F.col("last_chunk").cast("bigint").alias("n6"),
        nul.cast("string").alias("s1"),
        nul.cast("string").alias("s2"),
    )
    sc = packing.span_corruption(docs.select("doc_id", "text")).select(
        F.lit("mask").alias("part"),
        "doc_id",
        F.col("n_tokens").alias("n1"),
        F.col("n_masked").alias("n2"),
        F.col("n_spans").alias("n3"),
        nul.cast("bigint").alias("n4"),
        nul.cast("bigint").alias("n5"),
        nul.cast("bigint").alias("n6"),
        F.col("input_text").alias("s1"),
        F.col("target_text").alias("s2"),
    )
    ch = packing.chunk_documents(
        docs.select("doc_id", "text"),
        chunk_tokens=CHUNK_W,
        overlap_tokens=CHUNK_OVERLAP,
    ).select(
        F.lit("chunk").alias("part"),
        "doc_id",
        F.col("chunk_idx").alias("n1"),
        F.col("start_tok").alias("n2"),
        F.col("n_chunk_tokens").alias("n3"),
        nul.cast("bigint").alias("n4"),
        nul.cast("bigint").alias("n5"),
        nul.cast("bigint").alias("n6"),
        F.col("chunk_text").alias("s1"),
        nul.cast("string").alias("s2"),
    )
    return pk.unionByName(sc).unionByName(ch)


T20_SQL = f"""
WITH counted AS (
    SELECT doc_id, doc_id % 16 AS shard,
           CAST({TX.token_count_sql('text')} AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, shard, n_tokens,
           CAST(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS _cum
    FROM counted
)
SELECT 'pack' AS part, doc_id, n_tokens AS n1, CAST(shard AS BIGINT) AS n2,
       _cum - n_tokens AS n3, _cum AS n4,
       CAST(floor(CAST(_cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS n5,
       CAST(floor(CAST(greatest(_cum - 1, _cum - n_tokens) AS DOUBLE) / 512) AS BIGINT) AS n6,
       CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2
FROM cum
UNION ALL
SELECT 'mask', doc_id, n_tokens, n_masked, n_spans,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       input_text, target_text
FROM (
    WITH tok AS (
        SELECT doc_id, _s.tok AS tok, _s.pos AS pos FROM (
            SELECT doc_id,
                   unnest(list_transform({TX.tokens_sql('text')},
                          (x, i) -> {{'tok': x, 'pos': CAST(i - 1 AS BIGINT)}})) AS _s
            FROM documents
        )
    ),
    flagged AS (
        SELECT doc_id, tok, pos,
               ({hashing.word_hash32_sql("doc_id || ':' || CAST(pos AS VARCHAR)")} % 100) < 15 AS m
        FROM tok
    ),
    starts AS (
        SELECT *, m AND NOT coalesce(
                   lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE
               ) AS span_start
        FROM flagged
    ),
    spans AS (
        SELECT *,
               CAST(sum(CASE WHEN span_start THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS k
        FROM starts
    )
    SELECT d.doc_id,
           CAST(count(s.pos) AS BIGINT) AS n_tokens,
           CAST(count(s.pos) FILTER (s.m) AS BIGINT) AS n_masked,
           CAST(count(s.pos) FILTER (s.span_start) AS BIGINT) AS n_spans,
           coalesce(string_agg(
               CASE WHEN NOT s.m THEN s.tok
                    WHEN s.span_start THEN '<extra_id_' || s.k || '>' END,
               ' ' ORDER BY s.pos) FILTER (NOT s.m OR s.span_start), '') AS input_text,
           coalesce(string_agg(
               CASE WHEN s.span_start THEN '<extra_id_' || s.k || '> ' || s.tok
                    ELSE s.tok END,
               ' ' ORDER BY s.pos) FILTER (s.m), '') AS target_text
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN spans s USING (doc_id)
    GROUP BY d.doc_id
)
UNION ALL
SELECT 'chunk', doc_id, CAST((start_tok - 1) // 48 AS BIGINT),
       CAST(start_tok AS BIGINT), CAST(least(64, n - start_tok + 1) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       array_to_string(list_slice(tk, start_tok, least(start_tok + 63, n)), ' '),
       CAST(NULL AS VARCHAR)
FROM (
    SELECT doc_id, tk, len(tk) AS n,
           unnest(range(1, len(tk) + 1, 48)) AS start_tok
    FROM (SELECT doc_id, {TX.tokens_sql('text')} AS tk FROM documents)
    WHERE len(tk) > 0
)
"""


# t19 — per-key frequency, sketched two ways in one tag-union gate:
# - 'top':  per-partition summarize-then-merge frequent-items sketch.
#   Capacity (128) exceeds the corpus vocabulary, so the sketch is
#   EXACT here and the oracle is plain count-group-by — certifying the
#   merge machinery end-to-end.
# - 'cell': the COUNT-MIN sketch itself, built as two shards and merged
#   (cms_build + cms_merge), every non-zero cell emitted word-for-word
#   — positions use the portable md5 hash, so DuckDB recomputes the
#   identical depth×width table (the Bloom-bitmap certification
#   pattern from t18).
# - 'est':  cms_estimate for every distinct token (min over depth
#   rows). WIDTH=64 forces real collisions, so the min is doing actual
#   work and the overcounts are certified too — the oracle recomputes
#   the same estimates, making even the approximation hash-checkable.
CMS_DEPTH = 4
CMS_WIDTH = 64


def t19_frequent_tokens(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import sketches
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents"))
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))

    # raw-stream pass #1: the per-partition summarize-then-merge sketch
    top = sketches.frequent_items(toks, "tok", capacity=128, k=20).select(
        F.lit("top").alias("part"),
        F.col("item"),
        F.col("weight").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )

    # raw-stream pass #2: exact per-token counts, checkpointed — it is
    # the VOCAB-sized frame (hundreds of rows), so everything CMS
    # derives from it (weighted build shards, merge, estimate probes)
    # re-reads KBs instead of the |tokens| stream
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact")).localCheckpoint()

    # shard split on token-hash parity: arbitrary but deterministic —
    # merge must reassemble the exact global cell counts. Weighted
    # build over vocab == unweighted build over the raw stream.
    parity = hashing.word_hash32(F.col("tok")) % 2
    shard_a = sketches.cms_build(
        vocab.filter(parity == 0), "tok", weight_col="exact",
        depth=CMS_DEPTH, width=CMS_WIDTH,
    )
    shard_b = sketches.cms_build(
        vocab.filter(parity == 1), "tok", weight_col="exact",
        depth=CMS_DEPTH, width=CMS_WIDTH,
    )
    # localCheckpoint: the estimate probes join the sketch once per
    # depth row — materialize the KB-scale cell table (also turns the
    # probe's parameter guard eager, free on a materialized plan)
    cms = sketches.cms_merge(shard_a, shard_b).localCheckpoint()

    cells = cms.select(
        F.lit("cell").alias("part"),
        F.concat_ws(":", F.col("row_idx"), F.col("col_idx")).alias("item"),
        F.col("cnt").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )

    est = sketches.cms_estimate(
        vocab, "tok", cms, depth=CMS_DEPTH, width=CMS_WIDTH
    ).select(
        F.lit("est").alias("part"),
        F.col("tok").alias("item"),
        F.col("approx_count").cast("bigint").alias("n1"),
        F.col("exact").cast("bigint").alias("n2"),
    )
    # vocabulary coverage curve (round 8, operators/corpus.py): token
    # mass covered by the top-k types off the SAME exact vocab frame —
    # the tokenizer/vocab sizing input; rank + cumulative ride the
    # partition-offset machinery
    from stepist_spark.operators.corpus import coverage_curve

    cov = coverage_curve(vocab, ks=(10, 100, 1000)).select(
        F.lit("cover").alias("part"),
        F.concat_ws(
            ":", F.col("k").cast("string"), F.col("k_effective").cast("string")
        ).alias("item"),
        F.col("covered").alias("n1"),
        F.col("total").alias("n2"),
    )
    return top.unionByName(cells).unionByName(est).unionByName(cov)


def _t19_cover_sql() -> str:
    from stepist_spark.operators.corpus import coverage_curve_sql

    return coverage_curve_sql(
        f"SELECT tok, CAST(count(*) AS BIGINT) AS exact "
        f"FROM (SELECT unnest({TX.tokens_sql('text')}) AS tok FROM documents) "
        f"GROUP BY tok",
        ks=(10, 100, 1000),
    )


def _t19_sql() -> str:
    toks = f"SELECT unnest({TX.tokens_sql('text')}) AS tok FROM documents"
    cover = _t19_cover_sql()

    def pos_union(src: str) -> str:
        # one md5 per token, positions re-derived per depth from the
        # 60-bit hash's halves (hashing.sketch_pos60 discipline — must
        # stay in lockstep with operators/sketches.cms_build scheme v2)
        hv = f"SELECT *, {hashing.span_hash60_sql('tok')} AS _h FROM {src}"
        rows = [
            f"SELECT tok, {d} AS row_idx, "
            f"{hashing.sketch_pos60_sql('_h', d, CMS_WIDTH)} AS col_idx "
            f"FROM ({hv})"
            for d in range(CMS_DEPTH)
        ]
        return "\n    UNION ALL\n    ".join(rows)

    return f"""
WITH toks AS ({toks}),
pos AS (
    {pos_union('toks')}
),
cells AS (
    SELECT row_idx, col_idx, CAST(count(*) AS BIGINT) AS cnt
    FROM pos GROUP BY 1, 2
),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM toks GROUP BY tok),
vpos AS (
    {pos_union('vocab')}
),
est AS (
    SELECT p.tok, min(c.cnt) AS e
    FROM vpos p JOIN cells c USING (row_idx, col_idx)
    GROUP BY p.tok
)
SELECT part, item, n1, n2 FROM (
    SELECT 'top' AS part, tok AS item, CAST(count(*) AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS n2
    FROM toks GROUP BY tok ORDER BY n1 DESC, item LIMIT 20
)
UNION ALL
SELECT 'cell', row_idx::VARCHAR || ':' || col_idx::VARCHAR, cnt, CAST(NULL AS BIGINT)
FROM cells
UNION ALL
SELECT 'est', v.tok, e.e, v.exact
FROM vocab v JOIN est e ON e.tok = v.tok
UNION ALL
SELECT 'cover', CAST(k AS VARCHAR) || ':' || CAST(k_effective AS VARCHAR),
       covered, total
FROM ({cover})
"""


T19_SQL = _t19_sql()


# --------------------------------------------------------------------------
# t21 — ExactSubstr duplicated spans (Lee et al. 2022) + per-doc
# coverage stats, one tag-union gate. The exact-dup-planted corpus
# guarantees whole-document spans; the oracle recomputes the hashed
# k-token windows, the dup-hash set, and the island merge (gaps-and-
# islands over the running max end — e is monotone in s, so the global
# preceding max equals the previous row's end).
SPAN_K = 20


def t21_duplicate_spans(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _docs_with_exact_dups(spark, sf)
    # one corpus tokenize+hash pass shared by detection AND cutting
    # (localCheckpoint: windows are |tokens| rows — at real scale write
    # them to parquet instead, same shape)
    wins = dedup.token_windows(corpus, "doc_id", "text", k=SPAN_K).localCheckpoint()
    spans = dedup.duplicate_spans(
        corpus, "doc_id", "text", k=SPAN_K, min_count=2, windows=wins
    )
    stats = dedup.duplicate_span_stats(corpus, spans, "doc_id", "text")
    cut = dedup.cut_duplicate_spans(
        corpus, "doc_id", "text", k=SPAN_K, min_count=2, windows=wins
    )
    sp = spans.select(
        F.lit("span").alias("part"),
        "doc_id",
        F.col("span_start").cast("bigint").alias("n1"),
        F.col("span_end").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("frac"),
        F.lit(None).cast("string").alias("s1"),
    )
    st = stats.select(
        F.lit("stat").alias("part"),
        "doc_id",
        F.col("dup_tokens").cast("bigint").alias("n1"),
        F.col("n_tokens").cast("bigint").alias("n2"),
        F.col("dup_token_frac").alias("frac"),
        F.lit(None).cast("string").alias("s1"),
    )
    ct = cut.select(
        F.lit("cut").alias("part"),
        "doc_id",
        F.col("n_tokens_kept").cast("bigint").alias("n1"),
        F.col("n_tokens_cut").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("frac"),
        F.col("text").alias("s1"),
    )
    # corpus duplication-inflation metrics (round 6): what fraction of
    # all k-token window occurrences are REPEATS of a window seen in
    # another position — the headline statistic of Lee et al. 2022's
    # dedup study. Rides the SAME hashed-window table: one more hash
    # aggregate over |tokens| rows, zero extra corpus passes.
    infl = wins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.countDistinct("_h").cast("bigint").alias("n_distinct"),
    ).select(
        F.lit("infl").alias("part"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.col("n_occ").alias("n1"),
        F.col("n_distinct").alias("n2"),
        (
            (F.col("n_occ") - F.col("n_distinct")).cast("double")
            / F.col("n_occ").cast("double")
        ).alias("frac"),
        F.lit(None).cast("string").alias("s1"),
    )
    return sp.unionByName(st).unionByName(ct).unionByName(infl)


T21_SQL = f"""
WITH corpus AS ({EXACT_DUP_CORPUS_SQL}),
toked AS (SELECT doc_id, {TX.tokens_sql('text')} AS tk FROM corpus),
shg AS (SELECT doc_id, {hashing.shingles_sql('tk', SPAN_K)} AS shs FROM toked),
wins AS (
    SELECT doc_id, i AS s, {hashing.span_hash60_sql('list_extract(shs, i)')} AS h
    FROM (SELECT doc_id, shs, unnest(range(1, len(shs) + 1)) AS i FROM shg)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, s FROM wins JOIN dup USING (h)),
marked AS (
    SELECT doc_id, s, s + {SPAN_K - 1} AS e,
           CASE WHEN s > coalesce(max(s + {SPAN_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
           THEN 1 ELSE 0 END AS brk
    FROM hits
),
islands AS (
    SELECT doc_id, s, e, sum(brk) OVER (
        PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl
    FROM marked
),
spans AS (
    SELECT doc_id, min(s) AS span_start, max(e) AS span_end
    FROM islands GROUP BY doc_id, isl
),
stats AS (
    SELECT c.doc_id,
           coalesce(p.dup_tokens, 0) AS dup_tokens,
           CAST({TX.token_count_sql('c.text')} AS BIGINT) AS n_tokens
    FROM corpus c LEFT JOIN (
        SELECT doc_id, CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    ) p USING (doc_id)
),
-- keep-first cutting: every dup-hash occurrence EXCEPT the corpus-wide
-- canonical (min (doc, pos)) becomes a cut window; islands re-merged
hits_kf AS (
    SELECT doc_id, s FROM (
        SELECT doc_id, s,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
               count(*) OVER (PARTITION BY h) AS cnt
        FROM wins
    ) WHERE cnt >= 2 AND rn > 1
),
marked_kf AS (
    SELECT doc_id, s, s + {SPAN_K - 1} AS e,
           CASE WHEN s > coalesce(max(s + {SPAN_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
           THEN 1 ELSE 0 END AS brk
    FROM hits_kf
),
spans_kf AS (
    SELECT doc_id, min(s) AS span_start, max(e) AS span_end
    FROM (SELECT doc_id, s, e, sum(brk) OVER (
              PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl
          FROM marked_kf)
    GROUP BY doc_id, isl
),
-- case-preserving raw tokens (whitespace split; lowercasing never
-- moves a token boundary, so span positions index this array 1-based)
rawtok AS (
    SELECT doc_id, i AS pos, list_extract(rt, i) AS tok
    FROM (
        SELECT doc_id, rt, unnest(range(1, len(rt) + 1)) AS i
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS rt
              FROM corpus)
    )
),
cut AS (
    SELECT r.doc_id,
           coalesce(string_agg(CASE WHEN NOT EXISTS (
               SELECT 1 FROM spans_kf k
               WHERE k.doc_id = r.doc_id
                 AND r.pos BETWEEN k.span_start AND k.span_end
           ) THEN r.tok END, ' ' ORDER BY r.pos), '') AS text,
           count(CASE WHEN NOT EXISTS (
               SELECT 1 FROM spans_kf k
               WHERE k.doc_id = r.doc_id
                 AND r.pos BETWEEN k.span_start AND k.span_end
           ) THEN 1 END) AS n_kept,
           count(CASE WHEN EXISTS (
               SELECT 1 FROM spans_kf k
               WHERE k.doc_id = r.doc_id
                 AND r.pos BETWEEN k.span_start AND k.span_end
           ) THEN 1 END) AS n_cut
    FROM rawtok r GROUP BY r.doc_id
)
SELECT 'span' AS part, doc_id, CAST(span_start AS BIGINT) AS n1,
       CAST(span_end AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS frac,
       CAST(NULL AS VARCHAR) AS s1
FROM spans
UNION ALL
SELECT 'stat', doc_id, dup_tokens, n_tokens,
       CASE WHEN n_tokens > 0 THEN CAST(dup_tokens AS DOUBLE) / n_tokens ELSE 0.0 END,
       CAST(NULL AS VARCHAR)
FROM stats
UNION ALL
SELECT 'cut', c.doc_id, CAST(coalesce(t.n_kept, 0) AS BIGINT),
       CAST(coalesce(t.n_cut, 0) AS BIGINT), CAST(NULL AS DOUBLE),
       coalesce(t.text, '')
FROM corpus c LEFT JOIN cut t USING (doc_id)
UNION ALL
SELECT 'infl', CAST(NULL AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT h) AS BIGINT),
       CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*),
       CAST(NULL AS VARCHAR)
FROM wins
"""


# --------------------------------------------------------------------------
# t22 — curation scrubbers in one tag-union gate: PII redaction +
# counts (planted emails/IPs/phones), C4-style boilerplate line removal
# (planted cross-doc banner), and the Gopher repetition signals
# (planted within-doc line duplication). All three corpora are planted
# identically on both engines; every ratio is a single division of
# identical integers.
def _pii_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 call +1 415-55"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit("-01"),
            (F.col("doc_id") % 80 + 10).cast("string"),
        ).alias("text"),
    )


_PII_CORPUS_SQL = """
SELECT doc_id,
       text || ' Reach user' || CAST(doc_id AS VARCHAR)
            || '@mail.example.com or 10.0.' || CAST(doc_id % 200 AS VARCHAR)
            || '.7 call +1 415-55' || CAST(doc_id % 90 + 10 AS VARCHAR)
            || '-01' || CAST(doc_id % 80 + 10 AS VARCHAR) AS text
FROM documents
"""

_BOILER_LINE = "JOIN OUR NEWSLETTER TODAY"


# encoding-damage plant: mojibake digraphs + a replacement char,
# shared verbatim by the Spark fixture and the SQL oracle
_MOJI_PLANT = " caf\u00c3\u00a9 \u00e2\u0080\u0099quoted\u00e2\u0080\u0099 \ufffd"


def t22_curation_scrub(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.session import spread

    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text")

    pii = _pii_corpus(spark, sf)
    counts = TX.pii_counts(F.col("text"))
    p = pii.select(
        F.lit("pii").alias("part"),
        "doc_id",
        TX.redact_pii(F.col("text")).alias("s1"),
        counts["email"].cast("bigint").alias("n1"),
        counts["ipv4"].cast("bigint").alias("n2"),
        counts["phone"].cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
    )

    boiler_corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER_LINE + "\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b = dedup.remove_boilerplate_lines(boiler_corpus, "doc_id", "text", max_doc_freq=2).select(
        F.lit("boiler").alias("part"),
        "doc_id",
        F.col("text").alias("s1"),
        F.col("n_lines_kept").cast("bigint").alias("n1"),
        F.col("n_lines_dropped").cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
    )

    rep_corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).withColumn("_tk", TX.tokens(F.col("text")))
    sig = TX.repetition_signals(F.col("text"), toks=F.col("_tk"))
    r = rep_corpus.select(
        F.lit("rep").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        sig["dup_line_frac"].alias("d1"),
        sig["dup_line_char_frac"].alias("d2"),
        sig["top_bigram_share"].alias("d3"),
    )
    # 'kanon' — k-anonymity suppression (operators/privacy.py): rows
    # surviving with their quasi-identifier ((lang, source) + a coarse
    # length bucket so some groups genuinely fall under k) group size;
    # suppressed rows are ABSENT — the discriminator
    from stepist_spark.operators.privacy import k_anonymity

    quasi = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source",
        F.expr("n_chars DIV 100").alias("len_bucket"),
    )
    ka = k_anonymity(quasi, ["lang", "source", "len_bucket"], k=5).filter(
        F.col("is_k_anon")
    ).select(
        F.lit("kanon").alias("part"),
        "doc_id",
        # concat (NULL-propagating, matching the oracle's ||), NOT
        # concat_ws (which silently skips NULL quasi values)
        F.concat(
            F.col("lang"), F.lit(":"), F.col("source"), F.lit(":"),
            F.col("len_bucket").cast("string"),
        ).alias("s1"),
        F.col("group_size").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
    )
    # 'moji' — encoding-damage detection (round 6): docs planted with
    # classic UTF-8-as-Latin-1 artifacts + U+FFFD must flag; naturally
    # clean docs must not. One JVM regexp pass per signal.
    moji_corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(_MOJI_PLANT))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    mj_n = TX.mojibake_count(F.col("text"))
    na_n = TX.non_ascii_count(F.col("text"))
    mj = moji_corpus.select(
        F.lit("moji").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("s1"),
        mj_n.alias("n1"),
        na_n.alias("n2"),
        (mj_n >= 2).cast("int").cast("bigint").alias("n3"),
        F.when(
            F.length("text") > 0,
            na_n.cast("double") / F.length("text").cast("double"),
        ).otherwise(F.lit(0.0)).alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
    )
    # 'nfc' — Unicode canonical-composition scrubbing (round 7):
    # docs planted with DECOMPOSED accents (e + combining acute) must
    # normalize to the precomposed form before any byte-keyed dedup;
    # the normalized text, a changed flag, and the char-length delta
    # are hash-gated against DuckDB's nfc_normalize.
    nfc_corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.col("text"),
                # DECOMPOSED plants: base + combining-mark escapes
                # (a precomposed literal is a no-op under NFC)
                F.lit(" cafe\u0301 de\u0301ja\u0300"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    normed = TX.nfc_normalize(F.col("text"))
    nf = nfc_corpus.select(
        F.lit("nfc").alias("part"),
        "doc_id",
        normed.alias("s1"),
        (normed != F.col("text")).cast("int").cast("bigint").alias("n1"),
        (F.length("text") - F.length(normed)).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
    )
    return (
        p.unionByName(b)
        .unionByName(r)
        .unionByName(ka)
        .unionByName(mj)
        .unionByName(nf)
    )


def _t22_sql() -> str:
    pii_cnt = dict(TX.pii_counts_sql("text"))
    lines_expr = TX.doc_lines_sql("text")
    return f"""
WITH pii_corpus AS ({_PII_CORPUS_SQL}),
boiler_corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN '{_BOILER_LINE}' || chr(10) || text
                ELSE text END AS text
    FROM documents
),
blines AS (
    SELECT doc_id, i - 1 AS pos, list_extract(ls, i) AS line,
           regexp_replace(list_extract(ls, i), '^\\s+|\\s+$', '', 'g') AS key
    FROM (
        SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM boiler_corpus)
    )
),
bboiler AS (
    SELECT key FROM blines WHERE length(key) >= 1
    GROUP BY key HAVING count(DISTINCT doc_id) > 2
),
bout AS (
    SELECT l.doc_id,
           coalesce(string_agg(
               CASE WHEN length(l.key) >= 1 AND b.key IS NULL THEN l.line END,
               chr(10) ORDER BY l.pos), '') AS text,
           count(CASE WHEN length(l.key) >= 1 AND b.key IS NULL THEN 1 END) AS n_kept,
           count(CASE WHEN length(l.key) >= 1 AND b.key IS NOT NULL THEN 1 END) AS n_dropped
    FROM blines l LEFT JOIN bboiler b ON l.key = b.key
    GROUP BY l.doc_id
),
rep_corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || text ELSE text END AS text
    FROM documents
),
rep_bound AS (
    SELECT doc_id, {lines_expr} AS lines, {TX.tokens_sql('text')} AS tk
    FROM rep_corpus
)
SELECT 'pii' AS part, doc_id, {TX.redact_pii_sql('text')} AS s1,
       CAST({pii_cnt['email']} AS BIGINT) AS n1,
       CAST({pii_cnt['ipv4']} AS BIGINT) AS n2,
       CAST({pii_cnt['phone']} AS BIGINT) AS n3,
       CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2,
       CAST(NULL AS DOUBLE) AS d3
FROM pii_corpus
UNION ALL
SELECT 'boiler', doc_id, text, CAST(n_kept AS BIGINT), CAST(n_dropped AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM bout
UNION ALL
SELECT 'rep', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       {TX.dup_line_frac_sql('lines')},
       {TX.dup_line_char_frac_sql('lines')},
       {TX.top_bigram_share_sql('tk')}
FROM rep_bound
UNION ALL
SELECT 'kanon', doc_id,
       lang || ':' || source || ':' || CAST(len_bucket AS VARCHAR),
       group_size, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM (
    SELECT doc_id, lang, source, len_bucket,
           count(*) OVER (PARTITION BY lang, source, len_bucket) AS group_size
    FROM (SELECT doc_id, lang, source, n_chars // 100 AS len_bucket FROM documents)
) WHERE group_size >= 5
UNION ALL
SELECT 'moji', doc_id, CAST(NULL AS VARCHAR),
       {TX.mojibake_count_sql('text')},
       {TX.non_ascii_count_sql('text')},
       CAST(CASE WHEN {TX.mojibake_count_sql('text')} >= 2 THEN 1 ELSE 0 END AS BIGINT),
       CASE WHEN length(text) > 0
            THEN CAST({TX.non_ascii_count_sql('text')} AS DOUBLE) / length(text)
            ELSE 0.0 END,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN text || '{_MOJI_PLANT}'
                ELSE text END AS text
    FROM documents
)
UNION ALL
SELECT 'nfc', doc_id, nfc_normalize(text),
       CAST(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END AS BIGINT),
       CAST(length(text) - length(nfc_normalize(text)) AS BIGINT),
       CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 2
                THEN text || ' cafe' || chr(769) || ' de' || chr(769)
                     || 'ja' || chr(768)
                ELSE text END AS text
    FROM documents
)
"""


T22_SQL = _t22_sql()


# --------------------------------------------------------------------------
# t23 — model-based quality gates in one tag-union: hashed-BoW Rocchio
# classifier margins (seed labels = lang=='en') and the bigram-LM
# perplexity signal — both integer-exact aggregates (the ppl double is
# deliberately excluded; logp_scaled determines it). The oracle
# recomputes training AND scoring, so one differing weight or count
# changes the margins.
CLF_DIM = 512


def t23_model_gates(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import classifier as clf
    from stepist_spark.session import build_concurrently, spread

    docs = spread(load_table(spark, sf, "documents")).select("doc_id", "text", "lang")
    labeled = docs.select("text", (F.col("lang") == "en").alias("label"))

    # localCheckpoints (round-11 optimization, guide §2.3/§1.2):
    # the scored frame feeds SEVEN union branches (clf, auc, cm, cal,
    # auc:src*, kappa, mcnemar) and the ppl frame three — without the
    # checkpoint each branch's column pruning makes the subtrees
    # non-identical, exchange reuse never fires, and the tokenize+
    # explode+score pipeline re-executes per branch (the before plan
    # had 84 parquet scans of documents; see plans/r11/).
    # Round 12 (guide §2.6): the two checkpoint chains are independent
    # (classifier train→score vs bigram-LM train→perplexity) but their
    # upstream jobs ran back-to-back as blocking checkpoint
    # materializations — build them concurrently so the two tokenize
    # pipelines overlap.
    def _build_scored():
        weights = clf.train_quality_classifier(labeled, "text", "label", dim=CLF_DIM)
        return clf.score_documents(
            docs, weights, "doc_id", "text", dim=CLF_DIM
        ).localCheckpoint()

    def _build_ppl():
        model = clf.train_bigram_lm(docs, "text")
        return clf.perplexity_score(docs, model, "doc_id", "text").localCheckpoint()

    scored, ppl = build_concurrently(spark, [_build_scored, _build_ppl])
    c = scored.select(
        F.lit("clf").alias("part"),
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n"),
        F.col("margin_scaled").alias("v"),
        F.col("keep").alias("keep"),
    )
    p = ppl.select(
        F.lit("ppl").alias("part"),
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n"),
        F.col("logp_scaled").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # model evaluation rides along (operators/evaluation.py): ROC AUC
    # of the trained classifier's margin against the true labels —
    # tie-corrected Mann-Whitney kept as exact integers on the
    # value-counts frame — plus the exact confusion cells at the
    # keep-threshold. Slotting: 'auc' packs (n_neg, n_pos, auc_num)
    # into (doc_id, n, v); 'cm' packs the cell id 2·label+pred into
    # doc_id (schema reuse across the tag union; auc_den is derivable
    # as 2·n_pos·n_neg and the one-division double AUC is certified
    # by tests/test_evaluation.py).
    from stepist_spark.operators.evaluation import confusion_stats, roc_auc

    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("label")), "doc_id"
    )
    auc = roc_auc(labeled, "label", "margin_scaled").select(
        F.lit("auc").alias("part"),
        F.col("n_neg").alias("doc_id"),
        F.col("n_pos").alias("n"),
        F.col("auc_num").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    cm = confusion_stats(labeled, "label", "keep").select(
        F.lit("cm").alias("part"),
        (
            F.lit(2) * F.col("label").cast("int") + F.col("pred").cast("int")
        ).cast("bigint").alias("doc_id"),
        F.col("n"),
        F.lit(None).cast("bigint").alias("v"),
        F.col("pred").alias("keep"),
    )
    # calibration deciles (operators/evaluation.py): equal-frequency
    # score bins with exact positive counts — bin id packed into the
    # doc_id slot, n_pos into v
    from stepist_spark.operators.evaluation import calibration_bins

    cal = calibration_bins(labeled, "label", "margin_scaled", n_bins=10).select(
        F.lit("cal").alias("part"),
        F.col("bin").alias("doc_id"),
        F.col("n"),
        F.col("n_pos").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # SLICED model evaluation (round 6): the same tie-corrected AUC
    # per document source — slice regressions hide inside a healthy
    # global AUC, so per-slice eval is the standard model QA gate;
    # the source key rides the part tag ('auc:<source>')
    lab_src = labeled.join(
        load_table(spark, sf, "documents").select("doc_id", "source"), "doc_id"
    )
    auc_src = roc_auc(
        lab_src, "label", "margin_scaled", group_cols=["source"]
    ).select(
        F.concat(F.lit("auc:"), F.col("source")).alias("part"),
        F.col("n_neg").alias("doc_id"),
        F.col("n_pos").alias("n"),
        F.col("auc_num").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # Cohen's kappa (round 7): chance-corrected agreement between the
    # true label and the classifier's keep decision — the label-QA
    # statistic; raw accuracy (the 'cm' cells) flatters lopsided label
    # distributions, kappa does not. One row: (agree_n, n,
    # kappa_scaled) packed into (doc_id, n, v).
    from stepist_spark.operators.evaluation import cohens_kappa

    kap = cohens_kappa(labeled, "label", "keep").select(
        F.lit("kappa").alias("part"),
        F.col("agree_n").alias("doc_id"),
        F.col("n"),
        F.col("kappa_scaled").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # DSIR importance weights (operators/classifier.py): the
    # importance-resampling twin of the 'clf' margin — target = the
    # src0 slice, raw = the whole corpus; per-doc hashed-unigram
    # log-ratio sums, exact integers end-to-end
    dsir_target = (
        load_table(spark, sf, "documents")
        .filter(F.col("source") == "src0")
        .select("text")
    )
    ds = clf.dsir_score(
        docs,
        clf.dsir_log_ratios(dsir_target, docs, dim=CLF_DIM),
        "doc_id",
        "text",
        dim=CLF_DIM,
    ).select(
        F.lit("dsir").alias("part"),
        "doc_id",
        F.col("n_feats").alias("n"),
        F.col("dsir_scaled").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # McNemar's paired test rides along (round 10, operators/
    # evaluation.py): classifier-keep vs a perplexity-threshold gate
    # as the two paired models over the SAME documents against the
    # language label — only DISCORDANT examples carry evidence, so
    # (b, c, n_both_right) are the certified statistics (chi² is a
    # pure function of b and c, unit-test-certified). The per-bigram
    # threshold −3.404 (scaled 1e6, near the corpus median) makes the
    # ppl gate a real second classifier, not a constant.
    from stepist_spark.operators.evaluation import mcnemar_test

    _PPL_T = -3_404_000
    pair = (
        docs.select("doc_id", (F.col("lang") == "en").alias("y"))
        .join(scored.select("doc_id", "margin_scaled"), "doc_id", "left")
        .join(ppl.select("doc_id", "n_bigrams", "logp_scaled"), "doc_id", "left")
        .select(
            "y",
            (F.coalesce("margin_scaled", F.lit(0)) >= 0).alias("pa"),
            (
                F.coalesce("logp_scaled", F.lit(0))
                >= F.coalesce("n_bigrams", F.lit(0)) * F.lit(_PPL_T)
            ).alias("pb"),
        )
    )
    mc = mcnemar_test(pair, "y", "pa", "pb").select(
        F.lit("mcnemar").alias("part"),
        F.col("b").alias("doc_id"),
        F.col("n_both_right").alias("n"),
        F.col("c").alias("v"),
        F.lit(None).cast("boolean").alias("keep"),
    )
    # k-fold CROSS-VALIDATED margins ride along (round 10, operators/
    # classifier.py): every document scored by a model trained WITHOUT
    # its md5 fold — the honest (leak-free) estimate of the 'clf'
    # filter's quality; 3 trainings over 2/3 of the corpus each, all
    # hash aggregates. fold is derivable from doc_id (word_hash32 % 3),
    # so the per-doc (n_toks, margin, keep) triple certifies the whole
    # CV pipeline.
    cv = clf.cross_validated_margins(
        docs.select("doc_id", "text", (F.col("lang") == "en").alias("label")),
        "doc_id", "text", "label", k=3, dim=CLF_DIM,
    ).select(
        F.lit("cv").alias("part"),
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n"),
        F.col("margin_scaled").alias("v"),
        F.col("keep"),
    )
    return (
        c.unionByName(p)
        .unionByName(auc)
        .unionByName(cm)
        .unionByName(cal)
        .unionByName(auc_src)
        .unionByName(kap)
        .unionByName(ds)
        .unionByName(mc)
        .unionByName(cv)
    )


def _t23_sql() -> str:
    from stepist_spark.operators.evaluation import calibration_bins_sql

    h = hashing.word_hash32_sql("t")
    toks = TX.tokens_sql("text")
    from stepist_spark.operators.evaluation import cohens_kappa_sql

    # references the lab CTE of the enclosing statement (DuckDB CTEs
    # are visible inside later subqueries)
    _CAL_SQL = calibration_bins_sql("SELECT y, sc FROM lab", "y", "sc", 10)
    _KAP_SQL = cohens_kappa_sql("SELECT y, pred FROM lab", "y", "pred")
    from stepist_spark.operators.evaluation import mcnemar_test_sql

    _MCN_SQL = mcnemar_test_sql(
        """SELECT l.y, l.pred AS pa,
                  coalesce(p.logp, 0) >= coalesce(p.n_bigrams, 0) * -3404000 AS pb
           FROM lab l LEFT JOIN ppl p USING (doc_id)""",
        "y", "pa", "pb",
    )
    from stepist_spark.operators.classifier import cross_validated_margins_sql

    _CV_SQL = cross_validated_margins_sql(
        "SELECT doc_id, text, (lang = 'en') AS label FROM documents",
        "doc_id", "text", "label", k=3, dim=CLF_DIM,
    )
    return f"""
WITH buckets AS (
    SELECT doc_id, (lang = 'en') AS pos,
           unnest(list_transform({toks}, t -> ({h}) % {CLF_DIM})) AS bucket
    FROM documents
),
counts AS (
    SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
           sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
    FROM documents
),
per_bucket AS (
    SELECT bucket,
           sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
           sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
    FROM buckets GROUP BY bucket
),
weights AS (
    SELECT bucket, cp * 1000000 // np - cn * 1000000 // nn AS w
    FROM per_bucket, counts
),
ex AS (
    SELECT doc_id, unnest(list_transform({toks}, t -> ({h}) % {CLF_DIM})) AS bucket
    FROM documents
),
scored AS (
    SELECT doc_id, count(bucket) AS n_toks,
           CAST(coalesce(sum(w), 0) AS BIGINT) AS margin
    FROM ex LEFT JOIN weights USING (bucket) GROUP BY doc_id
),
tk AS (SELECT doc_id, {toks} AS t FROM documents),
dbg AS (
    SELECT doc_id, list_extract(t, i) AS w1, list_extract(t, i + 1) AS w2
    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk)
),
big AS (SELECT w1, w2, count(*) AS c12 FROM dbg GROUP BY w1, w2),
uni AS (SELECT unnest(t) AS w1 FROM tk),
ctx AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY w1),
voc AS (SELECT count(DISTINCT w1) AS v FROM uni),
lp AS (
    SELECT d.doc_id,
           CAST(floor(ln(CAST(b.c12 + 1 AS DOUBLE) / CAST(c.c1 + voc.v AS DOUBLE))
                      * 1000000) AS BIGINT) AS _lp
    FROM dbg d
    JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
    JOIN ctx c ON c.w1 = d.w1
    CROSS JOIN voc
),
ppl AS (
    SELECT doc_id, count(*) AS n_bigrams, CAST(sum(_lp) AS BIGINT) AS logp
    FROM lp GROUP BY doc_id
),
lab AS (
    SELECT d.doc_id, (d.lang = 'en') AS y, coalesce(s.margin, 0) AS sc,
           coalesce(s.margin, 0) >= 0 AS pred
    FROM documents d LEFT JOIN scored s USING (doc_id)
),
auc_vc AS (
    SELECT sc, CAST(count(*) AS HUGEINT) AS g,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS gp
    FROM lab GROUP BY sc
),
auc_rk AS (
    SELECT g, gp,
           sum(g) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - g AS c
    FROM auc_vc
),
auc_agg AS (
    SELECT sum(gp) AS np, sum(g) AS n, sum(gp * (2 * c + g + 1)) AS r2p
    FROM auc_rk
),
slab AS (
    SELECT d.source, l.y, l.sc FROM lab l JOIN documents d USING (doc_id)
),
svc AS (
    SELECT source, sc, CAST(count(*) AS HUGEINT) AS g,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS gp
    FROM slab GROUP BY source, sc
),
srk AS (
    SELECT source, g, gp,
           sum(g) OVER (PARTITION BY source ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - g AS c
    FROM svc
),
sagg AS (
    SELECT source, sum(gp) AS np, sum(g) AS n,
           sum(gp * (2 * c + g + 1)) AS r2p
    FROM srk GROUP BY source
),
dtex AS (
    SELECT unnest(list_transform({toks}, t -> ({h}) % {CLF_DIM})) AS bucket
    FROM documents WHERE source = 'src0'
),
dtc AS (SELECT bucket, CAST(count(*) AS HUGEINT) AS ct FROM dtex GROUP BY bucket),
drc AS (SELECT bucket, CAST(count(*) AS HUGEINT) AS cr FROM ex GROUP BY bucket),
dlr AS (
    SELECT s.bucket,
        CAST(floor(ln(
            CAST((coalesce(ct, 0) + 1)
                 * ((SELECT sum(cr) FROM drc) + {CLF_DIM}) AS DOUBLE)
            / CAST((coalesce(cr, 0) + 1)
                   * ((SELECT sum(ct) FROM dtc) + {CLF_DIM}) AS DOUBLE))
            * 1000000) AS BIGINT) AS lr
    FROM (SELECT unnest(range(0, {CLF_DIM})) AS bucket) s
    LEFT JOIN dtc USING (bucket) LEFT JOIN drc USING (bucket)
),
dsc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nf, CAST(sum(lr) AS BIGINT) AS sc
    FROM ex JOIN dlr USING (bucket) GROUP BY doc_id
)
SELECT 'clf' AS part, d.doc_id, coalesce(s.n_toks, 0) AS n,
       coalesce(s.margin, 0) AS v, coalesce(s.margin, 0) >= 0 AS keep
FROM documents d LEFT JOIN scored s USING (doc_id)
UNION ALL
SELECT 'ppl', d.doc_id, coalesce(p.n_bigrams, 0), coalesce(p.logp, 0),
       CAST(NULL AS BOOLEAN)
FROM documents d LEFT JOIN ppl p USING (doc_id)
UNION ALL
SELECT 'auc', CAST(n - np AS BIGINT), CAST(np AS BIGINT),
       CAST(r2p - np * (np + 1) AS BIGINT), CAST(NULL AS BOOLEAN)
FROM auc_agg
UNION ALL
SELECT 'cm', CAST(2 * CAST(y AS INT) + CAST(pred AS INT) AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT), pred
FROM lab GROUP BY y, pred
UNION ALL
SELECT 'cal', bin, n, n_pos, CAST(NULL AS BOOLEAN)
FROM ({_CAL_SQL})
UNION ALL
SELECT 'kappa', agree_n, n, kappa_scaled, CAST(NULL AS BOOLEAN)
FROM ({_KAP_SQL})
UNION ALL
SELECT 'auc:' || source, CAST(n - np AS BIGINT), CAST(np AS BIGINT),
       CAST(r2p - np * (np + 1) AS BIGINT), CAST(NULL AS BOOLEAN)
FROM sagg
UNION ALL
SELECT 'dsir', d.doc_id, coalesce(nf, 0), coalesce(sc, 0), CAST(NULL AS BOOLEAN)
FROM documents d LEFT JOIN dsc USING (doc_id)
UNION ALL
SELECT 'mcnemar', b, n_both_right, c, CAST(NULL AS BOOLEAN)
FROM ({_MCN_SQL})
UNION ALL
SELECT 'cv', doc_id, n_toks, margin_scaled, keep
FROM ({_CV_SQL})
"""


T23_SQL = _t23_sql()


# --------------------------------------------------------------------------
# t24 — BPE merge application: segment a deterministic document subset
# with a FIXED merge list through the OOV path (empty memo table), so
# the gate certifies the character split + the left-to-right merge fold
# + the memo-join plumbing. Training itself is certified by
# tests/test_bpe.py's exactness against a pure-Python reference (the
# merge choice is a corpus-wide argmax — not expressible as one SQL
# statement). The oracle reimplements each merge pass as a
# string-accumulator list_reduce (chr(1)-separated), which matches the
# Spark fold's single-pass left-to-right semantics exactly.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("a", "n"),
    ("an", "d"),
    ("i", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
]


# Fixed unigram-LM piece table for the t24 'unigram' part (round 11):
# trained ONCE by operators/unigram.train_unigram on the sf0.01
# documents corpus (vocab_size=48, seed_size=192, max_piece_len=4,
# em_iters=2) and committed — the gate certifies the Viterbi DP
# (integer-scaled scores, struct-lexicographic tie-break, backtrace)
# through the SAME JVM expression training uses; training itself is
# certified by tests/test_unigram.py's parity against a pure-Python
# reference (the EM/prune loop is iterative corpus-wide argmax work —
# not one SQL statement). Scores are floor(log(p)·1e6) bigints: every
# engine comparison is exact integer arithmetic.
UNIGRAM_PIECES: dict[str, int] = {
    "a": -2827516, "b": -11011192, "batc": -4168509, "big": -4235826,
    "c": -11011192, "co": -4171716, "cust": -4171716, "d": -4167442,
    "data": -4199948, "e": -2262253, "f": -4261261, "filt": -4172787,
    "g": -3117620, "h": -2802973, "i": -11011192, "j": -11011192,
    "join": -4140101, "k": -4213252, "l": -11011192, "line": -4197748,
    "lumn": -4171716, "m": -11011192, "mall": -4178160, "merg": -4188995,
    "n": -11011192, "o": -3111668, "omer": -4171716, "ow": -3499668,
    "p": -7753096, "park": -4231270, "part": -4233546, "q": -11011192,
    "quer": -4241550, "r": -2401602, "ream": -4222220, "roup": -4233546,
    "s": -2422795, "scan": -4169577, "slow": -4188995, "t": -2863904,
    "tabl": -4199948, "u": -7753096, "v": -11011192, "valu": -4212136,
    "vect": -4195552, "w": -11011192, "wind": -4224475, "y": -3534154,
}
UNIGRAM_MAX_PIECE_LEN = 4


def t24_bpe_segment(spark: SparkSession, sf: str) -> DataFrame:
    from stepist_spark.operators import bpe, unigram

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 29 == 0)
    empty_seg = spark.createDataFrame([], "word string, sym array<string>")
    seg = bpe.bpe_segment(docs, empty_seg, BPE_MERGES, "doc_id", "text")
    # ONE word stream feeds both tokenizers: the BPE fold and the
    # unigram Viterbi DP segment the same (doc_id, pos, word) rows
    words = seg.select("doc_id", F.col("pos").cast("bigint").alias("pos"), "word", "sym")
    bpe_part = words.select(
        F.lit("bpe").alias("part"),
        "doc_id",
        "pos",
        "word",
        F.array_join(F.col("sym"), " ").alias("segmented"),
        F.lit(None).cast("bigint").alias("lp"),
    )
    uni = unigram.viterbi_segment(
        words.drop("sym"), UNIGRAM_PIECES, "word", UNIGRAM_MAX_PIECE_LEN
    )
    uni_part = uni.select(
        F.lit("unigram").alias("part"),
        "doc_id",
        "pos",
        "word",
        F.array_join(F.col("sym"), " ").alias("segmented"),
        # fold the piece count into the certified value: lp is already
        # exact, n_pieces rides its low digits (|lp| < 1e12, count < 1e3)
        (F.col("logp_scaled") * 1000 - F.col("n_pieces")).alias("lp"),
    )
    return bpe_part.unionByName(uni_part)


def _t24_sql() -> str:
    from stepist_spark.operators.unigram import viterbi_segment_sql

    sep = "chr(1)"
    sym = "list_transform(range(1, length(word) + 1), i -> substr(word, i, 1))"
    for left, right in BPE_MERGES:
        enc = (
            f"list_reduce({sym}, (acc, x) -> "
            f"CASE WHEN (acc = '{left}' OR ends_with(acc, {sep} || '{left}')) "
            f"AND x = '{right}' "
            f"THEN substr(acc, 1, length(acc) - {len(left)}) || '{left}{right}' "
            f"ELSE acc || {sep} || x END)"
        )
        sym = f"string_split({enc}, {sep})"
    uni = viterbi_segment_sql("word", UNIGRAM_PIECES, UNIGRAM_MAX_PIECE_LEN)
    return f"""
WITH ws AS (
    SELECT doc_id, i - 1 AS pos, list_extract(tk, i) AS word
    FROM (
        SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
        FROM (SELECT doc_id, {TX.tokens_sql('text')} AS tk FROM documents
              WHERE doc_id % 29 = 0)
    )
),
ud AS (
    SELECT doc_id, pos, word, {uni['dp']} AS dparr FROM ws
)
SELECT 'bpe' AS part, doc_id, CAST(pos AS BIGINT) AS pos, word,
       array_to_string({sym}, ' ') AS segmented,
       CAST(NULL AS BIGINT) AS lp
FROM ws
UNION ALL
SELECT 'unigram' AS part, doc_id, CAST(pos AS BIGINT) AS pos, word,
       array_to_string({uni['seg']}, ' ') AS segmented,
       ({uni['score']}) * 1000 - ({uni['np']}) AS lp
FROM ud
"""


T24_SQL = _t24_sql()


# --------------------------------------------------------------------------
# t25 — corpus assembly in one tag-union gate: temperature resampling
# across languages (alpha=0.5 — the correctly-rounded sqrt path, so
# per-row acceptance is bit-identical cross-engine) and the
# deterministic global shuffle rank (range-exchange implementation;
# the oracle is a plain global row_number over the same salted hash).
SHUFFLE_SEED = "42"


N_SHARDS = 8


def t25_resample_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from stepist_spark.operators import packing, sampling
    from stepist_spark.queries.streaming_gates import fresh_scratch

    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    res = sampling.temperature_resample(docs, "lang", "doc_id", alpha=0.5)
    r = res.select(
        F.lit("resample").alias("part"),
        "doc_id",
        F.col("lang").alias("s"),
        F.lit(None).cast("bigint").alias("n"),
    )
    sh = sampling.deterministic_shuffle(docs, "doc_id", seed=SHUFFLE_SEED)
    s = sh.filter(F.col("doc_id") % 25 == 0).select(
        F.lit("shuffle").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("s"),
        F.col("shuffle_rank").alias("n"),
    )
    # training-shard WRITER layout, certified from the FILES it lands
    # (round-3 VERDICT: layout was tests-only): shard dirs round-trip
    # the (rank-1) % n_shards assignment and balance to ±1 row — both
    # recomputed by the oracle from the same portable shuffle rank
    sdir = os.path.join(fresh_scratch(spark, "t25_shards"), "shards")
    counts = packing.write_training_shards(
        docs, sdir, "doc_id", n_shards=N_SHARDS, seed=SHUFFLE_SEED, mode="overwrite"
    )
    written = spark.read.parquet(sdir)
    shard = written.filter(F.col("doc_id") % 25 == 0).select(
        F.lit("shard").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("s"),
        F.col("shard").cast("bigint").alias("n"),
    )
    shardcount = counts.select(
        F.lit("shardcount").alias("part"),
        F.col("shard").cast("bigint").alias("doc_id"),
        F.lit(None).cast("string").alias("s"),
        F.col("n_rows").cast("bigint").alias("n"),
    )
    return r.unionByName(s).unionByName(shard).unionByName(shardcount)


def _t25_sql() -> str:
    hres = hashing.word_hash32_sql("CAST(doc_id AS VARCHAR) || ':resample'")
    hshuf = hashing.word_hash32_sql(f"'{SHUFFLE_SEED}' || ':' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
mins AS (SELECT min(n) AS nmin FROM counts),
rates AS (
    SELECT lang, least(1.0, 1.0 / sqrt(CAST(n AS DOUBLE) / nmin)) AS rate
    FROM counts, mins
),
ranked AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY {hshuf}, doc_id) AS BIGINT) AS rnk
    FROM documents
)
SELECT 'resample' AS part, doc_id, lang AS s, CAST(NULL AS BIGINT) AS n
FROM documents JOIN rates USING (lang)
WHERE ({hres}) % 1048576 < floor(rate * 1048576)
UNION ALL
SELECT 'shuffle', doc_id, CAST(NULL AS VARCHAR), rnk
FROM ranked WHERE doc_id % 25 = 0
UNION ALL
SELECT 'shard', doc_id, CAST(NULL AS VARCHAR), CAST((rnk - 1) % {N_SHARDS} AS BIGINT)
FROM ranked WHERE doc_id % 25 = 0
UNION ALL
SELECT 'shardcount', CAST((rnk - 1) % {N_SHARDS} AS BIGINT), CAST(NULL AS VARCHAR),
       count(*)
FROM ranked GROUP BY 2
"""


T25_SQL = _t25_sql()


# Registry discipline (round-2, see queries/relational.py): merged to
# fit the driver's 50-entry correctness window — t02→c01 (dedup_exact
# runs inside c01's oracle-gated pipeline), t05/t11→t03, t06/t07→t08
# (the oracle recomputes the signature+banding pipeline), t10→t09,
# t14→t13, t17→t15. Round 3 adds t21–t25 over the formerly ungated
# round-2 operators.
QUERIES = [
    QuerySpec("t01_exact_dup_groups", t01_exact_dup_groups, T01_SQL, "exact dedup (md5 hash-groupBy) + canonical-hash normalized dedup"),
    QuerySpec("t03_doc_profile", t03_doc_profile, T03_SQL, "per-doc token/quality/lang-ID/subword profile"),
    # t04_quality_by_source has no row of its own: w01_sink_roundtrip
    # (queries/composite.py) runs the same query THROUGH the parquet
    # sink round-trip and gates it against the same T04_SQL oracle —
    # the registry slot went to p02_flow_metrics instead.
    QuerySpec("t08_jaccard_pairs", t08_jaccard_pairs, T08_SQL, "LSH candidates + token & 3-shingle Jaccard verification + incremental new-vs-base cross-frame dedup"),
    QuerySpec("t09_fingerprints", t09_fingerprints, T09_SQL, "SimHash + shingle fingerprints"),
    QuerySpec("t13_sample_split", t13_sample_split, T13_SQL, "stratified/hash/mixture/priority/waterfill sampling + leakage-safe + length-matched resampling"),
    QuerySpec("t15_word_stats", t15_word_stats, T15_SQL, "word repetition + salient term (integer-exact)"),
    QuerySpec("t16_vocabulary", t16_vocabulary, T16_SQL, "corpus vocabulary (top-50) + BM25 retrieval top-5 (fixed-point portable) + KL shift + PMI + phrase search + RRF hybrid fusion + nDCG@5 quality metrics + Chao1/Good-Turing coverage estimators"),
    QuerySpec("t18_decontamination", t18_decontamination, T18_SQL, "n-gram decontamination: exact + Bloom-bitmap pre-filter (bitmap certified) + drop-whole-doc removal"),
    QuerySpec("t19_frequent_tokens", t19_frequent_tokens, T19_SQL, "frequent-items sketch (exact regime)"),
    QuerySpec("t20_sequence_packing", t20_sequence_packing, T20_SQL, "sequence packing + span corruption + overlap chunking"),
    QuerySpec("t21_duplicate_spans", t21_duplicate_spans, T21_SQL, "ExactSubstr duplicated spans + coverage stats + keep-first cutting + corpus inflation"),
    QuerySpec("t22_curation_scrub", t22_curation_scrub, T22_SQL, "PII redaction + boilerplate removal + Gopher repetition + k-anonymity + mojibake QA + Unicode NFC scrubbing"),
    QuerySpec("t23_model_gates", t23_model_gates, T23_SQL, "hashed-BoW classifier + bigram-LM perplexity (integer-exact) + AUC/sliced-AUC/confusion/calibration + Cohen kappa agreement"),
    QuerySpec("t24_bpe_segment", t24_bpe_segment, T24_SQL, "BPE merge application (fixed merges, OOV path)"),
    QuerySpec("t25_resample_shuffle", t25_resample_shuffle, T25_SQL, "temperature resample + shuffle rank + shard-writer layout"),
]
