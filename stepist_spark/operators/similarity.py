"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — a broadcast nested-loop join
(queries broadcast, corpus streamed once; no shuffle of the corpus).
Scale path: sign-LSH bucketing — equi-join on bucket id so only
same-bucket vectors are compared; with multi-probe fallback this is
the standard sub-linear ANN shape for 100 TB corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stepist_spark.functions import vectors as V
from stepist_spark.operators.dedup import candidates_from_banded
from stepist_spark.operators.topk import grouped_topk



def lsh_band_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int = 4,
    planes_per_band: int = 8,
    out_id: str = "_id",
) -> DataFrame:
    """Banded sign-LSH signatures: one row per (vector, band) with the
    band's ``planes_per_band``-bit signature over its disjoint plane
    slice. Output: ``<out_id>, band, sig``.

    This is the OR-of-ANDs LSH structure (the same banding already used
    for MinHash text dedup, operators/dedup.py): two vectors are
    candidates iff ALL planes agree within ANY single band. Recall and
    bucket population tune independently — more planes per band ⇒
    2^planes_per_band possible signatures per band ⇒ smaller buckets
    (size ~N/2^r for near-orthogonal corpora); more bands ⇒ more
    chances for a true near-dup to collide. At 100 TB size
    ``planes_per_band`` so 2^r ≫ N / target_bucket_rows (e.g. r=24-32),
    and recover recall with more bands — the candidate join below stays
    the same bounded equi-join either way.

    All signatures are computed in ONE vectorized Arrow pass
    (``functions.vectors.band_signatures``: fixed-point int64 matmul,
    order-independent and bit-reproducible cross-engine) — the
    interpreted per-plane fold-dot path cost ~2.7 ms/row at 64 planes.
    """
    c = df.select(
        F.col(id_col).alias(out_id),
        V.band_signatures(
            V.to_double(F.col(vec_col)), n_bands, planes_per_band
        ).alias("_sigs"),
    )
    return c.select(out_id, F.posexplode("_sigs").alias("band", "sig"))


def _per_query_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The ``k`` best-scoring neighbors per query (score desc,
    neighbor id tiebreak) — every search's final cut."""
    order = [F.col(score_col).desc(), F.col("neighbor_id").asc()]
    return grouped_topk(scored, ["query_id"], order, k, rank_col="_rn").drop("_rn")


def _nearest_probes(probe_scored: DataFrame, n_probe: int) -> DataFrame:
    """The ``n_probe`` nearest centroids per query (``_d`` asc, cid
    tiebreak) — the IVF probe set."""
    order = [F.col("_d").asc(), F.col("cid").asc()]
    return grouped_topk(probe_scored, ["query_id"], order, n_probe, rank_col="_rn")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query.

    ``queries`` must be small (it is broadcast). The corpus is scanned
    once; cosine runs as a codegen'd higher-order function; top-k is a
    per-query window (row_number ≤ k) with a deterministic
    (similarity desc, corpus id) tiebreak.

    Output: ``query_id, neighbor_id, cos_sim`` (rounded to 6 dp).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return _per_query_topk(scored, "cos_sim", k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bands: int = 4,
    planes_per_band: int = 8,
) -> DataFrame:
    """Approximate cosine top-k via banded sign-LSH: candidates are
    corpus vectors sharing ANY band signature with the query
    (OR-of-ANDs — the structure text dedup already uses for MinHash).

    The corpus is hashed once (narrow map: n_bands signatures per row),
    then candidate generation is an equi-join on (band, sig) against
    the broadcast query signatures — at 100 TB no |corpus|×|queries|
    product ever materializes, and per-band bucket population is
    ~N/2^planes_per_band (size the band width so 2^r ≫ N/bucket_target;
    see :func:`lsh_band_signatures`). Candidates dedup across bands
    before scoring, so each pair's cosine is computed once.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    )
    cb = lsh_band_signatures(corpus, id_col, vec_col, n_bands, planes_per_band, out_id="neighbor_id")
    qb = lsh_band_signatures(queries, id_col, vec_col, n_bands, planes_per_band, out_id="query_id")
    cands = (
        cb.join(F.broadcast(qb), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, "cos_sim", k)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """Deterministic IVF centroid seeding: the min-id vector of each
    ``id % n_centroids`` residue class. Output: ``cid, cvec``.

    Deterministic seeding keeps the index oracle-reproducible; for
    production recall, refine with :func:`ivf_refine` (Lloyd steps) —
    the query path is identical either way.
    """
    return grouped_topk(
        corpus.select(F.col(id_col), V.to_double(F.col(vec_col)).alias("cvec")),
        [F.col(id_col) % n_centroids],
        [F.col(id_col)],
        1,
        rank_col="_rn",
    ).select((F.col(id_col) % n_centroids).alias("cid"), "cvec")


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    portable: bool = False,
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd refinement of IVF centroids: assign -> per-dimension mean.

    Each iteration is two shuffles (argmin assignment collapses map-side
    because the broadcast cross-join keeps a vector's k candidate rows in
    one partition; the mean is posexplode + mean per (cid, dim)).

    ``portable=False`` (default): plain FP ``avg`` — summation order
    makes refined centroids NOT bit-reproducible across engines/runs.
    ``portable=True``: the label_centroids fixed-point discipline —
    each component rounds to ``scale`` fixed-point BEFORE the sum
    (exact bigint, order-free), the mean is one correctly-rounded
    division — so refined centroids ARE bit-identical across engines
    (the v05 'refined' oracle recomputes them), at the cost of 1e-6
    input quantization (noise floor for unit-scale embeddings).
    """
    cent = centroids
    for _ in range(iters):
        assigned = ivf_assign(corpus, cent, id_col, vec_col)
        ex = assigned.select("cid", F.posexplode("_v").alias("dim", "x"))
        if portable:
            per_dim = (
                ex.withColumn(
                    "_s",
                    F.floor(F.col("x") * F.lit(scale) + F.lit(0.5)).cast("bigint"),
                )
                .groupBy("cid", "dim")
                .agg(
                    (
                        F.sum("_s").cast("double")
                        / (F.count(F.lit(1)) * F.lit(scale))
                    ).alias("m")
                )
            )
        else:
            per_dim = ex.groupBy("cid", "dim").agg(F.avg("x").alias("m"))
        cent = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    return cent


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2 argmin,
    centroid-id tiebreak). Output: ``id_col, _v, cid``.

    Shape at scale: centroids broadcast; the k candidate rows per vector
    stay in the producing partition, so the argmin collapses in the
    map-side partial aggregate — the shuffle moves ONE row per vector,
    not k.
    """
    c = corpus.select(F.col(id_col), V.to_double(F.col(vec_col)).alias("_v"))
    scored = c.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", V.l2sq(F.col("_v"), F.col("cvec"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min_by(F.col("cid"), F.struct(F.col("_d"), F.col("cid"))).alias("cid"),
            F.any_value(F.col("_v")).alias("_v"),
        )
        .select(id_col, "_v", "cid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: search only the ``n_probe``
    clusters nearest each query.

    The corpus is scanned once for assignment (one shuffle keyed by
    cluster), then the search is an equi-join on ``cid`` — at 100 TB
    the per-query work is |corpus| * n_probe / n_centroids instead of
    |corpus|. Recall rises with n_probe; n_probe == n_centroids
    degenerates to brute force.
    """
    cent = centroids if centroids is not None else ivf_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = ivf_assign(corpus, cent, id_col, vec_col).withColumnRenamed(id_col, "neighbor_id")
    q = queries.select(F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv"))
    probe_scored = q.crossJoin(F.broadcast(cent)).withColumn("_d", V.l2sq(F.col("qv"), F.col("cvec")))
    probe = _nearest_probes(probe_scored, n_probe).select("query_id", "qv", "cid")
    scored = (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.cosine(F.col("qv"), F.col("_v")), 6).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, "cos_sim", k)


def embedding_near_dups(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    planes_per_band: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded-LSH self-join
    (OR-of-ANDs), cosine-verified. Output: ``id_a, id_b, cos_sim``.

    Candidate generation is an equi-join of the banded-signature frame
    with itself on the (band, sig) struct — MinHash text dedup's own
    join (:func:`~stepist_spark.operators.dedup.candidates_from_banded`)
    over the same bounded-bucket structure. With 16 planes per band
    the per-band signature space is 2^16, so bucket population on a
    near-orthogonal corpus is ~N/65536 per band — the within-bucket
    pair count stays linear-ish instead of (N/256)² as with a single
    8-plane table; widen further (r=24-32) as N grows. True near-dups
    (cosine → 1) agree on almost every plane, so they still collide in
    at least one of the 4 bands with high probability. The banded
    frame is checkpointed (lazily) for the self-join, the same idiom
    as dedup's minhash_lsh_candidates.
    """
    c = corpus.select(
        F.col(id_col).alias("_id"), V.to_double(F.col(vec_col)).alias("_v")
    )
    banded = (
        lsh_band_signatures(corpus, id_col, vec_col, n_bands, planes_per_band)
        .select("_id", F.struct("band", "sig").alias("bk"))
        .localCheckpoint(eager=False)
    )
    cands = candidates_from_banded(banded)
    va = c.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    vb = c.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", F.round(V.cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embeddings,
    then drop any document whose cosine similarity to a LOWER-id member
    of the SAME cluster reaches ``threshold`` (greedy min-id keep — the
    deterministic variant of SemDeDup's per-cluster pruning, Abbas et
    al. 2023). Output: ``id_col, cid, keep``.

    Shape at scale: cluster assignment is one broadcast argmin per
    vector (:func:`ivf_assign` — the shuffle moves one row per vector),
    and the duplicate test is a self equi-join ON ``cid`` — pairwise
    work is bounded per cluster (~(N/k)² per cluster), never corpus².
    Size ``n_centroids`` so clusters fit the pair budget (the SemDeDup
    paper uses k≈100k at web scale); for clusters still too large,
    compose with :func:`embedding_near_dups`'s banded LSH WITHIN each
    cluster (add ``cid`` to the join key) — same bounded-bucket
    structure, one extra key column.

    The left-anti join keeps vectors with NO qualifying lower-id
    neighbor; ``keep`` is materialized as a flag (rather than filtering)
    so downstream stages can audit the removal rate per cluster.
    """
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, n_centroids)
    )
    assigned = ivf_assign(corpus, cent, id_col, vec_col)
    # normalize ONCE per vector so the per-pair test is a single dot
    # fold instead of dot + two norms — 3× less work in the quadratic
    # per-cluster stage, where all the time goes
    nrm = V.norm(F.col("_v"))
    normed = assigned.withColumn(
        "_nv",
        F.when(nrm > 0, F.transform(F.col("_v"), lambda x: x / nrm)).otherwise(
            F.col("_v")
        ),
    )
    a = normed.select(
        F.col("cid"), F.col(id_col).alias("_ida"), F.col("_nv").alias("_va")
    )
    b = normed.select(
        F.col("cid"), F.col(id_col).alias("_idb"), F.col("_nv").alias("_vb")
    )
    # lower-id neighbor above threshold in the same cluster => b is a dup
    dup_ids = (
        b.join(a, "cid")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(V.dot(F.col("_va"), F.col("_vb")), 6) >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return assigned.join(dup_ids.withColumn("_dup", F.lit(True)), id_col, "left").select(
        F.col(id_col),
        F.col("cid"),
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label mean embedding (class prototypes / centroids), one row
    per (label, dimension): ``label, dim, sum_scaled, n_vecs, centroid``.

    Exact integer-scaled arithmetic: each component is rounded to
    ``scale`` fixed-point (``floor(x*scale + 0.5)``, exact on every
    IEEE engine) BEFORE summation, so the per-label sum is a bigint —
    order-independent and bit-identical across engines — and the mean
    is a single division of identical integers. A plain double sum
    would depend on reduction order and diverge between engines.

    Physical shape: posexplode (×dims) then ONE hash-aggregate shuffle
    keyed (label, dim) with map-side partial sums — at 100 TB the
    shuffle carries |labels|·dims rows per partition, not the corpus.
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    )
    scaled = ex.withColumn(
        "_s", F.floor(F.col("_x").cast("double") * F.lit(scale) + F.lit(0.5)).cast("bigint")
    )
    agg = scaled.groupBy("label", "dim").agg(
        F.sum("_s").alias("sum_scaled"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    return agg.withColumn(
        "centroid",
        F.col("sum_scaled").cast("double") / (F.col("n_vecs") * F.lit(scale)),
    )


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """Product-quantization codebook: for each of ``n_subspaces``
    disjoint dimension slices, ``n_codes`` centroid sub-vectors.
    Output: ``subspace, code, subvec``.

    Seeding is deterministic (the sub-slices of the min-id vector per
    ``id % n_codes`` residue — same reproducible-seeding policy as
    :func:`ivf_centroids`); refine with per-subspace Lloyd offline if
    recall matters more than reproducibility. The codebook is
    n_subspaces·n_codes rows — always broadcastable.
    """
    seeds = ivf_centroids(corpus, id_col, vec_col, n_codes).withColumnRenamed(
        "cid", "code"
    )
    d = F.size("cvec") / n_subspaces
    subs = seeds.select(
        "code",
        F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("subspace"),
    ).join(seeds, "code")
    return subs.select(
        "subspace",
        "code",
        F.slice(
            "cvec", (F.col("subspace") * d + 1).cast("int"), d.cast("int")
        ).alias("subvec"),
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` one-byte-ish codes: per
    dimension slice, the L2-nearest codebook sub-vector (code-id
    tiebreak). Output: ``id_col, codes array<int>`` — the 32×-smaller
    representation an at-scale index stores instead of raw floats.

    Shape: explode to (vector, subspace) sub-slices (narrow ×m), then
    the argmin against the BROADCAST codebook collapses map-side
    exactly like :func:`ivf_assign` — the shuffle moves m rows per
    vector (the codes), never the candidate products.
    """
    d_expr = F.size(F.col("_v")) / n_subspaces
    sliced = corpus.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("subspace"),
        F.col(vec_col).alias("_v"),
    ).select(
        id_col,
        "subspace",
        V.to_double(
            F.slice(
                "_v", (F.col("subspace") * d_expr + 1).cast("int"), d_expr.cast("int")
            )
        ).alias("_sv"),
    )
    scored = sliced.join(F.broadcast(codebook), "subspace").withColumn(
        "_d", V.l2sq(F.col("_sv"), V.to_double(F.col("subvec")))
    )
    per_sub = scored.groupBy(id_col, "subspace").agg(
        F.min_by(F.col("code"), F.struct(F.col("_d"), F.col("code"))).alias("code")
    )
    return per_sub.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_topk(
    encoded: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 4,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k dot product over PQ codes: each
    query precomputes its dot product against every codebook sub-vector
    (a lookup table of n_subspaces·n_codes floats), and a corpus
    vector's approximate score is the sum of its codes' table entries.
    Output: ``query_id, neighbor_id, adc_dot`` (rounded to 6 dp).

    Shape at scale: the lookup table build is |queries|×|codebook| via
    broadcast (both small); scoring explodes codes (×m, narrow), joins
    the BROADCAST table on (query is in the table rows — no corpus-side
    shuffle), and the per-(query, vector) sum collapses map-side. The
    raw float corpus is never read — this is the path that makes
    100 TB of embeddings searchable from a codes-only index.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    d_expr = F.size(F.col("qv")) / n_subspaces
    table = (
        q.crossJoin(F.broadcast(codebook))
        .select(
            "query_id",
            "subspace",
            "code",
            # fixed-point partial: a cross-row SUM of doubles is
            # shuffle-order-dependent (non-associative addition) and
            # can flip the 6-dp rounding vs the oracle; scaled bigints
            # sum exactly in any order (the label_centroids discipline)
            F.round(
                V.dot(
                    V.to_double(
                        F.slice(
                            "qv",
                            (F.col("subspace") * d_expr + 1).cast("int"),
                            d_expr.cast("int"),
                        )
                    ),
                    V.to_double(F.col("subvec")),
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("partial"),
        )
    )
    ex = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    scored = (
        ex.join(F.broadcast(table), ["subspace", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("partial") / F.lit(1e6), 6).alias("adc_dot"))
    )
    return _per_query_topk(scored, "adc_dot", k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS-style at-scale index shape):
    IVF assignment prunes the search to ``n_probe`` clusters per query,
    and within them vectors are scored from PQ codes by ADC table
    lookup — so the scan touches ``n_probe/n_centroids`` of the corpus
    and reads codes, not floats. Output: ``query_id, neighbor_id,
    adc_dot``.

    Both index structures are built here from the same deterministic
    seeding (build once and reuse `ivf_assign`/`pq_encode` outputs in
    production — they are plain DataFrames, so checkpoint them as
    parquet and this function's body is the query-time plan).
    """
    cent = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = ivf_assign(corpus, cent, id_col, vec_col).select(
        F.col(id_col), F.col("cid")
    )
    book = pq_codebook(corpus, id_col, vec_col, n_subspaces, n_codes)
    enc = pq_encode(corpus, book, id_col, vec_col, n_subspaces).join(assigned, id_col)

    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    probe_scored = q.crossJoin(F.broadcast(cent)).withColumn(
        "_d", V.l2sq(F.col("qv"), F.col("cvec"))
    )
    probe = _nearest_probes(probe_scored, n_probe).select("query_id", "cid")
    d_expr = F.size(F.col("qv")) / n_subspaces
    table = (
        q.crossJoin(F.broadcast(book))
        .select(
            "query_id",
            "subspace",
            "code",
            # fixed-point partial: a cross-row SUM of doubles is
            # shuffle-order-dependent (non-associative addition) and
            # can flip the 6-dp rounding vs the oracle; scaled bigints
            # sum exactly in any order (the label_centroids discipline)
            F.round(
                V.dot(
                    V.to_double(
                        F.slice(
                            "qv",
                            (F.col("subspace") * d_expr + 1).cast("int"),
                            d_expr.cast("int"),
                        )
                    ),
                    V.to_double(F.col("subvec")),
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("partial"),
        )
    )
    cand = (
        enc.join(F.broadcast(probe), "cid")
        .filter(F.col("query_id") != F.col(id_col))
        .select(F.col(id_col).alias("neighbor_id"), "query_id", "codes")
    )
    scored = (
        cand.select("query_id", "neighbor_id", F.posexplode("codes").alias("subspace", "code"))
        .join(F.broadcast(table), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("partial") / F.lit(1e6), 6).alias("adc_dot"))
    )
    return _per_query_topk(scored, "adc_dot", k)


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the 4x
    storage/bandwidth lever for vector corpora: q_i = round-half-up of
    x_i * 127 / max|x|, clamped to [-127, 127], plus the per-vector
    ``max_abs`` needed to dequantize (x ≈ q * max_abs / 127).

    Engine-portable by construction: float32 inputs widen to double
    exactly, the max/abs fold and the single multiply-divide evaluate
    identically under IEEE in Spark and DuckDB, and the half-up round
    is spelled floor(x + 0.5) so no engine-specific rounding mode is
    involved. All-zero vectors quantize to zeros with max_abs 0.

    One projection, zero shuffles. Output:
    ``<id_col>, qvec array<int>, max_abs double``.
    """
    from stepist_spark.functions.vectors import to_double

    # bind the max BEFORE the per-element transform: a HOF lambda
    # referencing an inline aggregate would re-fold the whole array
    # per element (O(d²) per row)
    bound = df.select(
        F.col(id_col),
        to_double(F.col(vec_col)).alias("_v"),
    ).select(
        id_col,
        "_v",
        F.aggregate(
            "_v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
        ).alias("max_abs"),
    )
    q = F.when(
        F.col("max_abs") == 0.0,
        F.transform("_v", lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            "_v",
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x * F.lit(127.0) / F.col("max_abs") + F.lit(0.5)).cast(
                        "int"
                    ),
                ),
            ),
        )
    )
    return bound.select(id_col, q.alias("qvec"), "max_abs")


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for
    each anchor, the k most-similar corpus vectors with a DIFFERENT
    label — the negatives nearest the decision boundary, which carry
    most of the training signal (the dense-retrieval mining recipe of
    DPR, Karpukhin et al. 2020, public).

    Exact path (this function): broadcast anchors × one corpus scan —
    the brute_force_topk shape with the label-mismatch predicate
    applied BEFORE the cosine, so same-label rows never pay the
    O(d) similarity. At 100 TB with a large anchor set, bound the
    candidates first (ivf_assign both sides, equi-join on cluster —
    the semantic_dedup shape) and feed each cluster's slice through
    the same predicate; the per-anchor window is unchanged.

    Output: ``query_id, query_label, neighbor_id, neighbor_label,
    cos_sim`` (6 dp), k rows per anchor, deterministic
    (cos_sim desc, neighbor_id) tiebreak.
    """
    q = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        V.to_double(F.col(vec_col)).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        V.to_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, "cos_sim", k)


def truncated_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dims: int = 16,
) -> DataFrame:
    """Matryoshka-style retrieval: cosine top-k over only the FIRST
    ``dims`` coordinates of each vector (MRL, Kusupati et al. 2022,
    public — nested-prefix embeddings let a coarse low-dim pass read
    1/d of the bytes and a full-dim pass rerank the shortlist). Exact
    over the truncated space, deterministic tiebreak — the cheap first
    stage of a two-stage funnel, not an approximation of full-dim
    cosine. ``dims`` beyond the vector length degrades to full-dim
    top-k (slice truncates to the available elements on both engines).
    """
    c = corpus.select(id_col, F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    q = queries.select(id_col, F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    return brute_force_topk(c, q, id_col, vec_col, k=k)


def embedding_norm_stats(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Embedding-space QA per label: exact fixed-point L2-norm sums
    and the mean vector norm — the collapse/blow-up health check a
    trained-embedding pipeline runs before indexing (near-zero norms
    = dead encoder; diverging per-label means = drift).

    Cross-engine exactness: coordinates scale half-up to integers,
    the per-row squared-norm is an exact bigint fold, the per-row
    ``floor(sqrt(·))`` is a correctly-rounded sqrt of an exact
    integer (deterministic), and the per-label sum of those bigints is
    order-free; mean_norm is one division.

    One scan, one map-side-combined aggregate. Output per label:
    ``label, n_vecs, norm_sum_scaled, mean_norm`` (mean in original
    units, 6 dp).
    """
    s = F.lit(scale).cast("double")
    sq = F.aggregate(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * s + F.lit(0.5)).cast("decimal(38,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v * v,
    )
    norm_scaled = F.floor(F.sqrt(sq.cast("double"))).cast("bigint")
    per = df.select(F.col(label_col).alias("label"), norm_scaled.alias("_ns"))
    agg = per.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("_ns").cast("bigint").alias("norm_sum_scaled"),
    )
    return agg.select(
        "label",
        "n_vecs",
        "norm_sum_scaled",
        F.round(
            F.col("norm_sum_scaled").cast("double")
            / (F.col("n_vecs").cast("double") * F.lit(float(scale))),
            6,
        ).alias("mean_norm"),
    )


def embedding_norm_stats_sql(
    table_sql: str,
    vec_expr: str,
    label_expr: str,
    scale: int = 10**6,
) -> str:
    """DuckDB mirror of :func:`embedding_norm_stats`."""
    return f"""
WITH _n AS (
    SELECT ({label_expr}) AS label,
           CAST(floor(sqrt(CAST(list_sum(list_transform(
               ({vec_expr})::DOUBLE[],
               x -> CAST(floor(x * {scale} + 0.5) AS HUGEINT)
                    * CAST(floor(x * {scale} + 0.5) AS HUGEINT)
           )) AS DOUBLE))) AS BIGINT) AS _ns
    FROM ({table_sql})
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(_ns) AS BIGINT) AS norm_sum_scaled,
       round(CAST(sum(_ns) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * {float(scale)}), 6) AS mean_norm
FROM _n GROUP BY label
"""


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """ANN quality metric: per-query recall@k of an approximate
    top-k result against the exact one — THE acceptance number for an
    IVF/PQ/LSH index (how much quality the speedup trades away).

    Both inputs are ``(query_id, neighbor_id, ...)`` top-k frames.
    One co-partitioned join on (query, neighbor) + one count per
    query; recall = hits/k is the single division. Exact counts —
    trivially hash-certifiable.

    Output: ``query_id, n_hits, recall``.
    """
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    j = a.join(e, ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
    )


JL_SCALE = 1_000_000  # fixed-point quantization for JL projections


def jl_sign_matrix(out_dims: int, in_dims: int, seed: str = "jl") -> "list[list[int]]":
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (Achlioptas
    2003: dense Rademacher entries preserve pairwise distances with
    the JL guarantee). Derived driver-side from md5 so BOTH engines
    receive the SAME matrix as literals — the projection is
    data-independent, so at 100 TB the matrix is computed once (k×d
    ints, kilobytes) and inlined into the plan; rows never pay a
    per-element hash."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[-1] in "02468ace"
            else -1
            for i in range(1, in_dims + 1)
        ]
        for j in range(out_dims)
    ]


def signed_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 16,
    in_dims: int = 64,
    seed: str = "jl",
    scale: int = JL_SCALE,
) -> DataFrame:
    """Project ``in_dims``-float vectors to ``out_dims`` exact-bigint
    coordinates: ``proj_j = Σ_i sign_ji · round(x_i·scale)``. Each
    coordinate is one JVM ``zip_with`` against a literal sign array +
    one fold — all codegen, no UDF, no shuffle; the quantization makes
    every downstream comparison an exact integer decision (the
    LSH/PQ fixed-point discipline).

    Output: ``(id_col, proj array<bigint>)``.
    """
    signs = jl_sign_matrix(out_dims, in_dims, seed)
    q = f"CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)"
    projs = [
        "aggregate(zip_with({v}, array({arr}), (x, s) -> s * {q}), "
        "CAST(0 AS BIGINT), (a, p) -> a + p)".format(
            v=vec_col, arr=", ".join(f"{s}L" for s in row), q=q
        )
        for row in signs
    ]
    # dimension guard: zip_with pads a short/long vector with NULLs,
    # which would fold to a silently-NULL projection (rows sinking to
    # the bottom of every ranking instead of erroring) — one int
    # comparison per row makes the mismatch loud instead
    guard = (
        f"CASE WHEN size({vec_col}) = {in_dims} THEN 1 "
        f"ELSE raise_error(concat('signed_projection: expected {in_dims}-dim "
        f"vectors, got dim ', CAST(size({vec_col}) AS STRING))) END"
    )
    return df.select(
        F.col(id_col),
        F.expr(
            "CASE WHEN (" + guard + ") = 1 THEN array(" + ", ".join(projs) + ") END"
        ).alias("proj"),
    )


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    out_dims: int = 16,
    in_dims: int = 64,
    seed: str = "jl",
    scale: int = JL_SCALE,
) -> DataFrame:
    """Top-k by EXACT integer dot product in JL-projected space — the
    data-independent coarse pass of a two-stage funnel (project 64→16
    floats to bigints = 4× fewer bytes per comparison; compose with a
    full-dim rerank of the survivors). Unlike ``truncated_topk`` (MRL,
    needs a trained importance-ordered embedding), JL works on ANY
    embedding.

    Queries are broadcast (small), the corpus streams once; scoring is
    a codegen'd bigint fold, deterministic everywhere, so the result
    hash-certifies cross-engine with no float discipline needed.

    Output: ``query_id, neighbor_id, rank, dot_scaled`` (tiebreak
    (dot desc, neighbor_id asc); dot_scaled is the raw integer dot of
    the two projected vectors, ~scale² units).
    """
    pq = signed_projection(queries, id_col, vec_col, out_dims, in_dims, seed, scale)
    pc = signed_projection(corpus, id_col, vec_col, out_dims, in_dims, seed, scale)
    pairs = pc.select(
        F.col(id_col).alias("neighbor_id"), F.col("proj").alias("cp")
    ).crossJoin(
        F.broadcast(
            pq.select(F.col(id_col).alias("query_id"), F.col("proj").alias("qp"))
        )
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    dot = F.expr(
        "aggregate(zip_with(qp, cp, (a, b) -> a * b), CAST(0 AS BIGINT), (s, p) -> s + p)"
    )
    scored = pairs.select("query_id", "neighbor_id", dot.alias("dot_scaled"))
    order = [F.col("dot_scaled").desc(), F.col("neighbor_id").asc()]
    return grouped_topk(scored, ["query_id"], order, k, rank_col="rank").select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        "dot_scaled",
    )


def _jl_proj_sql(
    vec: str, out_dims: int, in_dims: int, seed: str, scale: int
) -> str:
    """DuckDB list expression mirroring :func:`signed_projection` for
    one vector column (1-based lambda index)."""
    signs = jl_sign_matrix(out_dims, in_dims, seed)
    q = f"CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)"
    projs = [
        "CAST(list_sum(list_transform({v}, (x, i) -> "
        "(LIST_VALUE({arr}))[i] * {q})) AS BIGINT)".format(
            v=vec, arr=", ".join(str(s) for s in row), q=q
        )
        for row in signs
    ]
    return "LIST_VALUE(" + ", ".join(projs) + ")"


def jl_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 8",
    k: int = 5,
    out_dims: int = 16,
    in_dims: int = 64,
    seed: str = "jl",
    scale: int = JL_SCALE,
) -> str:
    """DuckDB mirror of :func:`jl_topk` (same literal sign matrix,
    same integer arithmetic). The ``_jl`` CTE carries the id column
    under BOTH its original name and ``_id`` so ``query_pred`` is used
    verbatim — a textual ``replace(id_col, '_id')`` corrupted any
    predicate where the id name appeared inside a longer identifier or
    a string literal (round-6 ADVICE). ``id_col == '_id'`` needs no
    duplicate projection — emitting one made every ``_id`` reference
    ambiguous (round-7 ADVICE)."""
    proj = _jl_proj_sql(vec_col, out_dims, in_dims, seed, scale)
    id_sel = f"{id_col}" if id_col == "_id" else f"{id_col}, {id_col} AS _id"
    return f"""
WITH _jl AS (SELECT {id_sel}, {proj} AS proj FROM {table}),
_jq AS (SELECT _id, proj FROM _jl WHERE {query_pred}),
_jp AS (
    SELECT q._id AS query_id, c._id AS neighbor_id,
           CAST(list_sum(list_transform(q.proj, (a, i) -> a * c.proj[i])) AS BIGINT)
               AS dot_scaled
    FROM _jq q, _jl c WHERE q._id <> c._id
)
SELECT query_id, neighbor_id, rank, dot_scaled FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY dot_scaled DESC, neighbor_id) AS BIGINT) AS rank
    FROM _jp
) WHERE rank <= {k}
"""


def rerank_exact(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Stage 2 of a retrieval funnel: exact-cosine rerank of a coarse
    candidate list (``query_id, neighbor_id`` from ANY stage-1 —
    :func:`jl_topk`, :func:`truncated_topk`, :func:`lsh_bucketed_topk`,
    :func:`ivf_topk`), keep the top ``k``.

    Scale shape: queries and the candidate list are both tiny
    (|queries|·coarse_k rows) and BROADCAST onto one corpus scan — the
    full-precision vectors of non-candidates are never touched by the
    scoring expression and the corpus never shuffles. Same cosine +
    (cos desc, id) discipline as :func:`brute_force_topk`, so the
    rerank hash-certifies cross-engine.

    Output: ``query_id, neighbor_id, cos_sim`` (rounded 6 dp).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), V.to_double(F.col(vec_col)).alias("qv")
    )
    cand_q = candidates.select("query_id", "neighbor_id").join(
        F.broadcast(q), "query_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.to_double(F.col(vec_col)).alias("cv")
    )
    scored = c.join(F.broadcast(cand_q), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return _per_query_topk(scored, "cos_sim", k)


def mutual_margin_pairs(topk: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Mutual-nearest-neighbor pairs with ratio-margin scores — the
    bitext/parallel-pair mining primitive (Artetxe & Schwenk ACL'19,
    CCMatrix): keep (a, b) only if b is in a's top-k AND a is in b's
    top-k, scored by ``margin = cos(a,b) / ((avg_k cos(a,·) +
    avg_k cos(b,·)) / 2)`` — high-margin pairs stand out from their
    neighborhoods, filtering hub vectors that are merely close to
    everything.

    Input: ANY symmetric top-k list ``query_id, neighbor_id, cos_sim``
    (e.g. :func:`brute_force_topk` or an ANN list over the same set) —
    the operator never touches the vectors, so at 100 TB the expensive
    part stays in the stage-1 index and this is |ids|·k-row relational
    work: one per-id sum, one self-join on the reversed pair.

    Exactness: cosines are 6-dp; ``c6 = round(cos·1e6)`` is an exact
    bigint. The denominator is the cited mean of PER-SIDE averages
    ``(S_a/k_a + S_b/k_b)/2`` — cross-multiplied so the division stays
    exact: margin_scaled = ``2·c6·k_a·k_b·scale / (S_a·k_b + S_b·k_a)``
    with explicit truncation TOWARD ZERO on both engines (Spark DIV
    truncates, DuckDB // floors — they differ on negative numerators,
    so the sign is factored out). A pooled ``(S_a+S_b)/(k_a+k_b)``
    denominator (round-6 ADVICE) only equals this when k_a == k_b;
    short top-k lists (small corpora, boundary ties) made it deviate
    from the published formula.

    Output: ``id_a < id_b, c6, margin_scaled`` (margin NULL when the
    denominator is not positive — degenerate all-negative
    neighborhoods).
    """
    t = topk.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_sim") * scale).cast("bigint").alias("c6"),
    )
    sums = t.groupBy("query_id").agg(
        F.sum("c6").alias("s6"), F.count(F.lit(1)).cast("bigint").alias("nk")
    )
    ab = t.filter(F.col("query_id") < F.col("neighbor_id")).select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"), "c6"
    )
    ba = t.filter(F.col("neighbor_id") < F.col("query_id")).select(
        F.col("neighbor_id").alias("id_a"), F.col("query_id").alias("id_b")
    )
    mutual = ab.join(ba, ["id_a", "id_b"])
    j = (
        mutual.join(
            sums.select(F.col("query_id").alias("id_a"), F.col("s6").alias("sa"),
                        F.col("nk").alias("ka")),
            "id_a",
        )
        .join(
            sums.select(F.col("query_id").alias("id_b"), F.col("s6").alias("sb"),
                        F.col("nk").alias("kb")),
            "id_b",
        )
    )
    num = F.lit(2) * F.col("c6") * F.col("ka") * F.col("kb") * F.lit(scale)
    den = F.col("sa") * F.col("kb") + F.col("sb") * F.col("ka")
    _n = f"(2 * c6 * ka * kb * CAST({scale} AS BIGINT))"
    _d = "(sa * kb + sb * ka)"
    tdiv = F.when(num >= 0, F.expr(f"{_n} DIV {_d}")).otherwise(
        -F.expr(f"(-{_n}) DIV {_d}")
    )
    return j.select(
        "id_a",
        "id_b",
        "c6",
        F.when(den > 0, tdiv).cast("bigint").alias("margin_scaled"),
    )


def mutual_margin_pairs_sql(topk_sql: str, scale: int = 1_000_000) -> str:
    """DuckDB mirror of :func:`mutual_margin_pairs`; ``topk_sql`` must
    yield ``query_id, neighbor_id, cos_sim``."""
    return f"""
WITH _mt AS (
    SELECT query_id, neighbor_id,
           CAST(round(cos_sim * {scale}) AS BIGINT) AS c6
    FROM ({topk_sql})
),
_ms AS (
    SELECT query_id, CAST(sum(c6) AS BIGINT) AS s6,
           CAST(count(*) AS BIGINT) AS nk
    FROM _mt GROUP BY query_id
),
_mm AS (
    SELECT ab.id_a, ab.id_b, ab.c6
    FROM (SELECT query_id AS id_a, neighbor_id AS id_b, c6
          FROM _mt WHERE query_id < neighbor_id) ab
    JOIN (SELECT neighbor_id AS id_a, query_id AS id_b
          FROM _mt WHERE neighbor_id < query_id) ba
    USING (id_a, id_b)
)
SELECT m.id_a, m.id_b, m.c6,
       CASE WHEN (a.s6 * b.nk + b.s6 * a.nk) > 0 THEN CAST(
           CASE WHEN m.c6 >= 0
                THEN (2 * m.c6 * a.nk * b.nk * {scale})
                     // (a.s6 * b.nk + b.s6 * a.nk)
                ELSE -((-(2 * m.c6 * a.nk * b.nk * {scale}))
                       // (a.s6 * b.nk + b.s6 * a.nk))
           END AS BIGINT)
       END AS margin_scaled
FROM _mm m
JOIN _ms a ON a.query_id = m.id_a
JOIN _ms b ON b.query_id = m.id_b
"""
