"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard
near-dup — all expressed as DataFrame transformations whose physical
shape survives a 100× scale-up:

- exact dedup: one hash-aggregate shuffle keyed on the content hash;
- MinHash-LSH: explode→partial-min aggregation (one shuffle), then an
  equi-join on (band, band-hash) buckets — candidate pairs only, never
  the full |docs|² cross product;
- Jaccard verification runs only on LSH candidates.

The reference has no dedup operators (SURVEY.md §2.2 'absent'); these
are the BASELINE.json LLM-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stepist_spark.functions import hashing
from stepist_spark.functions.text import tokens
from stepist_spark.operators.topk import grouped_topk



def lsh_candidate_probability(s: float, n_hashes: int, bands: int) -> float:
    """Closed-form probability that a document pair with true Jaccard
    similarity ``s`` becomes an LSH candidate under ``bands`` bands of
    ``n_hashes // bands`` minhash rows each: ``1 - (1 - s^r)^b``.

    Each of the r rows in a band matches independently with probability
    s (the defining MinHash property), a band matches iff ALL its rows
    do (s^r), and the pair is a candidate iff ANY band matches — the
    OR-of-ANDs S-curve. Steeper r suppresses low-similarity collisions
    polynomially: at the repo's (8, 4) default (r=2), P(0.3) ≈ 0.31,
    while (64, 16) (r=4) gives P(0.3) ≈ 0.12 and (128, 16) (r=8)
    P(0.3) ≈ 0.001 — the round-10 sf1 sweep measured exactly this as
    t08's 6.0× candidate growth at 10× data. Use
    :func:`lsh_params_for_threshold` to pick (n_hashes, bands) for a
    target cutoff at corpus scale.
    """
    r = n_hashes // bands
    if r * bands != n_hashes:
        raise ValueError("bands must divide n_hashes")
    return 1.0 - (1.0 - s**r) ** bands


def lsh_params_for_threshold(
    threshold: float,
    max_hashes: int = 256,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick ``(n_hashes, bands)`` whose band S-curve best separates at
    a target Jaccard ``threshold`` — the parameter-sizing discipline
    for corpus-scale dedup (gate defaults stay at (8, 4) for the
    test-scale oracle; at 100 TB candidate volume is governed by the
    S-curve tail below the threshold, so size the banding from the
    cutoff, not from habit).

    Minimizes ``fp_weight · ∫₀ᵗ P(s) ds + fn_weight · ∫ₜ¹ (1-P(s)) ds``
    over all (bands, rows) with ``bands · rows ≤ max_hashes`` — the
    false-positive mass below the cutoff plus the false-negative mass
    above it, each integrated by the midpoint rule. Probability mass is
    uniform in s, the standard neutral prior for this sizing (the
    datasketch-style optimization, reimplemented from the closed form).

    Returns ``(n_hashes, bands)`` with ``n_hashes = bands · rows``.
    Deterministic: ties break toward fewer hashes, then fewer bands
    (cheaper signatures first).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    steps = 200
    best: tuple[float, int, int] | None = None
    for bands in range(1, max_hashes + 1):
        for rows in range(1, max_hashes // bands + 1):
            fp = fn = 0.0
            for i in range(steps):
                s = (i + 0.5) / steps
                p = 1.0 - (1.0 - s**rows) ** bands
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            err = (fp_weight * fp + fn_weight * fn) / steps
            key = (err, bands * rows, bands)
            if best is None or key < best:
                best = key
                out = (bands * rows, bands)
    return out


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: content md5 → member count +
    canonical (min) id. Output: ``content_hash, n_dups, canonical_id``
    for groups with >1 member."""
    hashed = df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text. Single shuffle: window
    row_number over the content hash, keep rn=1."""
    return grouped_topk(
        df, [F.md5(F.col(text_col))], [F.col(id_col)], 1, rank_col="_rn"
    ).drop("_rn")


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Banded MinHash signature rows ``(_id, bk)`` — bk = (band index,
    band's signature slice) struct; two docs are LSH candidates iff
    they share a bk value. The shared first stage of
    :func:`minhash_lsh_candidates` (self-join dedup) and
    :func:`minhash_lsh_candidates_between` (incremental new-vs-base
    dedup); at deployment scale the BASE corpus's banded table is the
    persistent index written to parquet once and reused per increment.

    The shingle build and per-shingle hashing are the CPU-dense part and
    run on the partitioning ``df`` arrives with: the caller spreads the
    corpus where it reads it (``session.spread``), or a small scan's 1-2
    input partitions serialize them.
    """
    rows_per_band = n_hashes // bands
    if rows_per_band * bands != n_hashes:
        raise ValueError("bands must divide n_hashes")
    # Two projections on purpose: shingles() references its token array
    # k+ times inside interpreted lambda bodies, so the tokens MUST be a
    # bound column — inlining the tokenizer expression would re-run the
    # regex split per shingle element (measured ~10× slowdown).
    toked = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_tk"))
    toks = toked.select(
        "_id", hashing.shingles(F.col("_tk"), shingle_k).alias("_toks")
    )
    sig = hashing.minhash_signature(toks, "_id", "_toks", n_hashes=n_hashes)
    return bands_from_signature(sig, n_hashes, bands)


def bands_from_signature(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Banded rows ``(_id, bk)`` from a PRECOMPUTED minhash signature
    frame (``_id, mh0..mh{n_hashes-1}``) — the signature-reuse seam.

    The universal-hash family is prefix-stable (coefficient i never
    depends on n_hashes: the first 12 are frozen literals, the rest
    md5-position-keyed — ``hashing.ensure_minhash_coeffs``), so ONE
    wide signature pass can feed SEVERAL bandings: a 16-hash frame
    yields both the (8, 4) r=2 banding (reading mh0..mh7) and the
    (16, 4) r=4 banding byte-identically to separate
    :func:`banded_signatures` runs — one tokenize+shingle+hash pass
    instead of one per banding (round-11 optimization; parity pinned
    by tests/test_lsh_reuse.py)."""
    rows_per_band = n_hashes // bands
    if rows_per_band * bands != n_hashes:
        raise ValueError("bands must divide n_hashes")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"mh{b * rows_per_band + r}").alias(f"h{r}") for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    return sig.select("_id", F.explode(band_structs).alias("bk"))


def candidates_from_banded(banded: DataFrame) -> DataFrame:
    """Distinct ``id_a < id_b`` candidate pairs from a banded table —
    the self-join tail of :func:`minhash_lsh_candidates`, exposed so a
    caller holding a shared banded/signature frame can skip the
    tokenize+hash rebuild (caller is responsible for checkpointing the
    upstream; the skew story is the parent's)."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bk") == F.col("r.bk")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def candidates_between_banded(
    base_banded: DataFrame, new_banded: DataFrame
) -> DataFrame:
    """Distinct ``(base_id, new_id)`` candidate pairs from two banded
    tables — the join tail of :func:`minhash_lsh_candidates_between`,
    exposed for the same signature-reuse seam."""
    return (
        base_banded.alias("b")
        .join(new_banded.alias("n"), F.col("b.bk") == F.col("n.bk"))
        .select(F.col("b._id").alias("base_id"), F.col("n._id").alias("new_id"))
        .distinct()
    )


def minhash_lsh_candidates_between(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    base_banded: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup candidates: which documents of a NEW batch
    near-duplicate an EXISTING corpus — the nightly-crawl dedup shape
    (every new dump is checked against the accumulated training set,
    NOT re-deduplicated against itself from scratch).

    Same shingle→minhash→band discipline as
    :func:`minhash_lsh_candidates`, but the band match is an equi-join
    BETWEEN the two frames' banded tables, so only the new batch pays
    the tokenize+hash pass per increment — pass ``base_banded=`` (a
    checkpointed/parquet-written :func:`banded_signatures` table) and the
    base corpus is never rescanned. Ids need not be disjoint across
    frames; a shared id is treated as two distinct documents (no
    self-pair suppression across frames — an id collision between a
    crawl and the base is itself a finding).

    Output: ``base_id, new_id`` distinct candidate pairs. Skew story =
    the self-join's (see :func:`minhash_lsh_candidates`): broadcast
    below threshold, AQE skew-split sort-merge above.
    """
    from stepist_spark.session import ensure_runtime_tuning

    ensure_runtime_tuning(new_docs.sparkSession)
    nb = banded_signatures(
        new_docs, id_col, text_col, n_hashes=n_hashes, bands=bands, shingle_k=shingle_k
    )
    bb = (
        base_banded
        if base_banded is not None
        else banded_signatures(
            base_docs, id_col, text_col,
            n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        )
    )
    return candidates_between_banded(bb, nb)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding over
    k-word shingles (shingle → minhash → band → bucket-join).

    MinHash runs over ``shingle_k``-word shingles, NOT single tokens:
    token vocabulary is small, so the corpus-global minimum token hash
    lands in most documents and single-token MinHash degenerates to
    all-pairs (measured: 77% of all 5k² pairs became candidates on the
    test corpus). The shingle space is effectively unbounded, so only
    genuinely overlapping documents collide. Documents shorter than
    ``shingle_k`` tokens have no shingles and never pair.

    Signature of ``n_hashes`` minhashes split into ``bands`` bands of
    ``n_hashes // bands`` rows each; two docs are candidates if any
    band matches exactly. The band match is an equi-join on
    (band_index, band-value struct) — shuffle partitioned by band
    value, so only colliding docs meet. Output: ``id_a < id_b`` pairs,
    distinct.

    Parameter sizing at corpus scale: the (8, 4) default is r=2 per
    band — a LOOSE S-curve whose tail admits P(0.3-Jaccard) ≈ 0.31
    collisions (measured: 37% of sf0.1 candidates were sub-threshold,
    and r=2 additionally MISSED true pairs r=4 catches — see
    scripts/lsh_growth_probe.py and the README growth table). Size
    (n_hashes, bands) from the target cutoff with
    :func:`lsh_params_for_threshold`; r ≥ 4 at corpus density. The
    hash family extends past the 12 literal seeds on demand
    (``hashing.ensure_minhash_coeffs``).

    Skew story (round-6 verdict #6 — duplicate-heavy corpora make some
    (band, signature) buckets hot): at test scale the banded frame
    broadcasts, and a BroadcastHashJoin has no bucket-key skew — the
    hot bucket's probe rows are spread across whatever partitioning
    the probe side already has. Past the broadcast threshold the join
    is a sort-merge on the bucket key, and AQE's skew-join split
    (enforced below via ensure_runtime_tuning, not just assumed from
    the session factory) carves the oversized bucket partition into
    salt-like slices at runtime — the salted_join effect without
    paying 16× replication on balanced corpora.
    tests/test_skew.py::TestLshBandJoinSkew plants a hot bucket and
    pins both the correctness and the plan shape.
    """
    from stepist_spark.session import ensure_runtime_tuning

    ensure_runtime_tuning(df.sparkSession)

    # checkpoint the banded signatures: the self-join would otherwise
    # recompute the whole tokenize->shingle->hash pipeline for BOTH
    # sides. The banded frame is bands rows/doc of (id, small struct) —
    # tiny relative to the corpus; the ContextCleaner frees its blocks
    # once the frame is garbage.
    banded = banded_signatures(
        df, id_col, text_col, n_hashes=n_hashes, bands=bands, shingle_k=shingle_k
    ).localCheckpoint(eager=False)
    return candidates_from_banded(banded)


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int | None = None,
) -> DataFrame:
    """Exact set-Jaccard on candidate pairs (verification stage).

    The set unit is tokens by default; ``shingle_k`` switches to
    k-word shingles (n-gram Jaccard — order-sensitive, the unit the
    LSH candidates were hashed on). Joins the sets onto the (small
    relative to |docs|²) candidate set, computes |A∩B| / |A∪B| with
    JVM array intrinsics. Output: ``id_a, id_b, jaccard`` (≥ threshold).
    """
    toked = df.select(F.col(id_col).alias("_sid"), tokens(F.col(text_col)).alias("_tk"))
    unit = hashing.shingles(F.col("_tk"), shingle_k) if shingle_k else F.col("_tk")
    sets = toked.select("_sid", F.array_distinct(unit).alias("_set"))
    joined = (
        candidates.join(sets.withColumnRenamed("_sid", "id_a").withColumnRenamed("_set", "set_a"), "id_a")
        .join(sets.withColumnRenamed("_sid", "id_b").withColumnRenamed("_set", "set_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.array_union(F.col("set_a"), F.col("set_b")))
    # single division of identical integers → bit-identical on every
    # IEEE engine; deliberately NOT rounded (rounding would reintroduce
    # .5-boundary rounding-mode divergence across engines)
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def pair_set_stats(sets: DataFrame, candidates: DataFrame) -> DataFrame:
    """Join a prepared ``(_sid, _set)`` table onto candidate pairs ONCE
    and emit the exact overlap statistics every set-overlap score
    derives from: ``id_a, id_b, inter, n_a, n_b`` (jaccard =
    inter/(n_a + n_b - inter), containment = inter/n_a). Lets a gate
    that needs several scores over the same set unit pay the pair join
    a single time.
    """
    joined = (
        candidates.join(
            sets.withColumnRenamed("_sid", "id_a").withColumnRenamed("_set", "set_a"),
            "id_a",
        ).join(
            sets.withColumnRenamed("_sid", "id_b").withColumnRenamed("_set", "set_b"),
            "id_b",
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).alias("inter"),
        F.size("set_a").alias("n_a"),
        F.size("set_b").alias("n_b"),
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int | None = None,
) -> DataFrame:
    """Exact set CONTAINMENT on candidate pairs — Broder's asymmetric
    overlap c(A→B) = |A∩B| / |A| (public, "On the resemblance and
    containment of documents", 1997). Distinct from Jaccard: a short
    document quoted whole inside a long one scores containment 1.0 but
    low resemblance — the signal for quotation/partial-copy detection
    that symmetric near-dup scores miss.

    Same single-join shape as :func:`jaccard_pairs` (sets land on the
    bounded candidate set, JVM array intrinsics, one unrounded double
    division per direction). Output: ``id_a, id_b, contain_a_in_b,
    contain_b_in_a``.
    """
    toked = df.select(F.col(id_col).alias("_sid"), tokens(F.col(text_col)).alias("_tk"))
    unit = hashing.shingles(F.col("_tk"), shingle_k) if shingle_k else F.col("_tk")
    sets = toked.select("_sid", F.array_distinct(unit).alias("_set"))
    joined = (
        candidates.join(
            sets.withColumnRenamed("_sid", "id_a").withColumnRenamed("_set", "set_a"),
            "id_a",
        ).join(
            sets.withColumnRenamed("_sid", "id_b").withColumnRenamed("_set", "set_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    na, nb = F.size("set_a"), F.size("set_b")
    c_ab = F.when(na > 0, inter.cast("double") / na.cast("double")).otherwise(F.lit(0.0))
    c_ba = F.when(nb > 0, inter.cast("double") / nb.cast("double")).otherwise(F.lit(0.0))
    return joined.select(
        "id_a", "id_b", c_ab.alias("contain_a_in_b"), c_ba.alias("contain_b_in_a")
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 1,
    t_den: int = 2,
    shingle_k: int | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al. WWW'08,
    both public). Unlike MinHash-LSH this has NO false negatives: every
    pair with Jaccard >= t_num/t_den is returned, with its exact score
    (computed over 64-bit element hashes — a ~1e-13/pair collision
    caveat, see the inline note — not a sketch approximation).

    Candidate generation never goes |docs|²: tokens are canonically
    ordered rarest-first (global doc-frequency, token tiebreak), each
    set keeps only its prefix of length L - ceil(t*L) + 1, and
    candidates are the equi-join on shared PREFIX tokens — rare tokens
    have short posting lists, and any pair meeting the threshold
    provably shares a prefix token. A length filter
    (t*max(La,Lb) <= min(La,Lb)) prunes before verification.

    Portability: the threshold is a RATIONAL t_num/t_den, so prefix
    lengths use integer ceil ((t*L + den - 1) DIV den) and the
    verification predicate is the exact integer cross-multiplication
    inter*t_den >= union*t_num — no floating point anywhere in the
    decision path; the reported ``jaccard`` is one final division.

    Output: ``id_a, id_b, jaccard`` with id_a < id_b.

    ``sets``: optional pre-built ``(_sid, _set array<bigint>)`` frame of
    xxhash64-hashed set elements, ONE ROW PER DOC (two rows with one
    ``_sid`` are two different sets under one id) — e.g. a caller's
    already-hashed set arrays. Skips this operator's own tokenize→hash
    pass. Each array is normalized per row with
    ``sort_array(array_distinct(_set))`` — a narrow map, no shuffle — so
    a repeated caller element cannot inflate a set's length.
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")
    if sets is None:
        toked = df.select(F.col(id_col).alias("_sid"), tokens(F.col(text_col)).alias("_tk"))
        unit = (
            hashing.shingles(F.col("_tk"), shingle_k) if shingle_k else F.col("_tk")
        )
        # EVERYTHING downstream runs on 64-bit hashes of the set elements,
        # never the strings: one (doc, hash array) frame is the only
        # materialization (8 bytes/element), and the lengths, frequencies,
        # prefixes and verification arrays all derive from it — the text
        # is tokenized exactly once. A cross-doc hash collision could in
        # principle perturb a pair's intersection count — probability
        # ~|set|²/2^64 ≈ 1e-13 per pair, negligible even across 100 TB of
        # candidate pairs.
        sets = toked.select("_sid", F.transform(unit, lambda t: F.xxhash64(t)).alias("_set"))
    sets = (
        sets.select("_sid", F.sort_array(F.array_distinct("_set")).alias("_set"))
        .withColumn("_len", F.size("_set"))
        .localCheckpoint(eager=False)
    )
    flat = sets.select("_sid", "_len", F.explode("_set").alias("_h"))
    dfreq = flat.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    prefix_len = (
        F.col("_len")
        - F.expr(f"({t_num} * _len + {t_den} - 1) DIV {t_den}")
        + F.lit(1)
    )
    # canonical global order for prefix filtering just has to be
    # consistent across sets — rarest-first by (hash-df, hash) is.
    # Materialize: both sides of the candidate self-join read this
    prefix = (
        grouped_topk(
            flat.join(dfreq, "_h"),
            ["_sid"],
            [F.col("_df").asc(), F.col("_h").asc()],
            prefix_len,
            rank_col="_idx",
        )
        .select("_sid", "_len", "_h")
        .localCheckpoint(eager=False)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._h") == F.col("b._h"))
            & (F.col("a._sid") < F.col("b._sid"))
            # length filter: J >= t forces t*max(La,Lb) <= min(La,Lb)
            & (
                F.lit(t_num) * F.greatest("a._len", "b._len")
                <= F.lit(t_den) * F.least("a._len", "b._len")
            ),
        )
        .select(F.col("a._sid").alias("id_a"), F.col("b._sid").alias("id_b"))
        .distinct()
    )
    # the candidate table is BYTES-small but COMPUTE-heavy (one
    # array-intersect per row): AQE coalesces it to a couple of
    # partitions by size and serializes verification — force it back
    # out with an explicit round-robin exchange (AQE leaves
    # user-specified repartition counts alone; measured 8.5s -> ~1s
    # for 334k candidates)
    ncores = df.sparkSession.sparkContext.defaultParallelism
    joined = cands.repartition(ncores).join(
        sets.select(F.col("_sid").alias("id_a"), F.col("_set").alias("set_a")), "id_a"
    ).join(
        sets.select(F.col("_sid").alias("id_b"), F.col("_set").alias("set_b")), "id_b"
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    return (
        joined
        # exact integer threshold decision
        .filter(inter * F.lit(t_den) >= union * F.lit(t_num))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """EXACT edit-distance threshold self-join (fuzzy key matching /
    entity resolution): every pair of rows whose strings are within
    Levenshtein distance ``max_dist``, with the exact distance.

    Candidate generation is q-gram blocking (Gravano et al. VLDB'01,
    public): one edit operation destroys at most ``q`` q-grams, so two
    strings within distance d share at least
    max(L1,L2) - q + 1 - q*d q-grams — for strings of length
    >= q*(d+1) that is >= 1, and the equi-join on q-grams finds every
    true pair. Shorter strings can share zero q-grams, so they emit
    d+1 LENGTH-BUCKET keys instead (lengths L..L+d): any two short
    strings within distance d have lengths within d and therefore
    collide on the longer one's bucket. A |L1-L2| <= d filter prunes
    before the exact ``levenshtein`` verification.

    Output: ``id_a, id_b, dist`` with id_a < id_b, dist <= max_dist.
    Deterministic and engine-portable (unit-cost Levenshtein is
    identical in Spark and DuckDB).
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    s = df.select(
        F.col(id_col).alias("_sid"),
        F.col(str_col).alias("_s"),
        F.length(str_col).alias("_l"),
    ).filter(F.col("_s").isNotNull())
    min_long = q * (max_dist + 1)
    grams = s.filter(F.col("_l") >= min_long).select(
        "_sid",
        "_l",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(_s) - {q} + 1, 0)),"
                f" i -> substring(_s, i, {q}))"
            )
        ).alias("_k"),
    )
    # length-bucket keys also cover strings just ABOVE the q-gram
    # threshold: a short string's only possible long partners have
    # length < min_long + d, and those must land in a shared bucket
    shorts = s.filter(F.col("_l") < min_long + max_dist).select(
        "_sid",
        "_l",
        F.explode(
            F.expr(
                f"transform(sequence(0, {max_dist}),"
                " i -> concat('#len:', CAST(_l + i AS STRING)))"
            )
        ).alias("_k"),
    )
    keyed = grams.unionByName(shorts).localCheckpoint(eager=False)
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._k") == F.col("b._k"))
            & (F.col("a._sid") < F.col("b._sid"))
            & (
                F.abs(F.col("a._l") - F.col("b._l")) <= F.lit(max_dist)
            ),
        )
        .select(F.col("a._sid").alias("id_a"), F.col("b._sid").alias("id_b"))
        .distinct()
    )
    ncores = df.sparkSession.sparkContext.defaultParallelism
    strs = s.select("_sid", "_s")
    verified = (
        cands.repartition(ncores)
        .join(strs.select(F.col("_sid").alias("id_a"), F.col("_s").alias("_sa")), "id_a")
        .join(strs.select(F.col("_sid").alias("id_b"), F.col("_s").alias("_sb")), "id_b")
        .select("id_a", "id_b", F.levenshtein("_sa", "_sb").alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )
    return verified


def simhash_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint (near-dup via small
    Hamming distance on the output)."""
    toks = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks"))
    return hashing.simhash(toks, "_id", "_toks").withColumnRenamed("_id", id_col)


def fingerprint_docs(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Shingle fingerprint: min 32-bit hash over k-word shingles plus a
    whole-document md5 — a compact near-dup / containment signature.
    Documents shorter than k tokens fingerprint to NULL min-shingle."""
    # tokens bound as a column first — see minhash_lsh_candidates: the
    # shingle lambdas would otherwise re-tokenize per element
    toked = df.withColumn("_tk", tokens(F.col(text_col)))
    sh = hashing.shingles(F.col("_tk"), k)
    min_shingle = F.array_min(F.transform(sh, lambda s: hashing.word_hash32(s)))
    return toked.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("doc_md5"),
        min_shingle.alias("min_shingle_hash"),
        F.size(sh).cast("bigint").alias("n_shingles"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-level line dedup (C4-style boilerplate removal): drop every
    line whose trimmed form appears in MORE than ``max_doc_freq``
    distinct documents (cookie banners, navigation chrome, license
    headers), then reassemble each document with its surviving lines in
    original order. Output: ``<id_col>, text, n_lines_kept,
    n_lines_dropped``; documents whose lines are all boilerplate come
    back with empty text rather than vanishing.

    Physical shape at 100 TB:
    - one explode (docs × lines, narrow);
    - line doc-frequency is ONE hash-aggregate shuffle keyed on the
      trimmed line (map-side partial counts collapse the per-partition
      repeats, so the shuffle carries distinct lines per partition, not
      every occurrence);
    - the boilerplate set joins back by line key. It is NOT collected
      or broadcast: at corpus scale the frequent-line set is unbounded
      (every site's chrome), so this stays a shuffle join on the same
      key the aggregation just used;
    - reassembly is one groupBy(doc) with array_agg sorted by line
      position — keyed by the id, so it co-partitions with any
      downstream per-doc operator.

    The reference has no corpus operators (SURVEY.md §2.2 'absent');
    this is a BASELINE.json LLM-pipeline extension.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn(
        # regex trim, NOT F.trim: Spark's trim strips only the space
        # character, so a tab-only line would count as substantive
        # content while every Python/C4 reference treats it as blank
        "_key",
        F.regexp_replace(F.col("_line"), r"^\s+|\s+$", ""),
    )
    substantive = F.length("_key") >= min_line_chars

    boiler = (
        lines.filter(substantive)
        .groupBy("_key")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_key", F.lit(True).alias("_is_boiler"))
    )
    # reassemble from ALL lines (split always yields ≥1 element, so
    # every input doc keeps a row even when fully blank/boilerplate);
    # blank lines are dropped silently, boilerplate lines are counted
    tagged = lines.join(boiler, "_key", "left")
    is_boiler = substantive & F.col("_is_boiler").isNotNull()
    is_kept = substantive & F.col("_is_boiler").isNull()
    return (
        tagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(is_kept, F.struct(F.col("_pos"), F.col("_line")))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("text"),
            F.count(F.when(is_kept, 1)).alias("n_lines_kept"),
            F.count(F.when(is_boiler, 1)).alias("n_lines_dropped"),
        )
    )


def token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Hashed k-token windows: ``<id_col>, _start (1-based), _h``.

    The shared first stage of :func:`duplicate_spans` /
    :func:`cut_duplicate_spans` — build it ONCE (localCheckpoint it, or write
    it to parquet at corpus scale) and pass it to both via
    ``windows=`` so detection, stats, and cutting pay the corpus
    tokenize+hash pass a single time.
    """
    from stepist_spark.functions.text import tokens as _tokens

    toked = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
    return toked.select(
        id_col, F.posexplode(hashing.shingles(F.col("_toks"), k)).alias("_p0", "_sh")
    ).select(
        id_col,
        (F.col("_p0") + 1).alias("_start"),
        hashing.span_hash60(F.col("_sh")).alias("_h"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_count: int = 2,
    keep_first: bool = False,
    windows: DataFrame | None = None,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every k-token window whose content occurs ``min_count``+ times in
    the corpus (across documents OR repeated inside one), and return
    the per-document maximal merged spans covering those windows.
    Output: ``<id_col>, span_start, span_end`` — 1-based inclusive
    token positions; feed to a span-cut pass or threshold on coverage
    via :func:`duplicate_span_stats`.

    This is the hashed-window approximation of suffix-array ExactSubstr:
    a 60-bit portable hash per window (``span_hash60``) instead of a
    global suffix sort — collisions mark a false span at rate
    ~|windows|²/2⁶¹, negligible below ~10¹² windows and bounded in
    damage (a span is dropped data, never corrupted data).

    Physical shape at 100 TB: windows are built per-doc with the O(1)
    element_at shingle construction (no slice-copies); occurrence
    counting is ONE hash-aggregate shuffle keyed by the 60-bit window
    hash — ~|tokens| rows, the honest linear cost every ExactSubstr
    implementation pays (the suffix-array original is |tokens| log
    |tokens| on one machine). The dup-hash set joins back by the same
    key (never collected/broadcast — it is unbounded), and span
    merging is a per-doc sorted fold over that doc's own hit
    positions, bounded by document length. Pass a checkpointed
    :func:`token_windows` frame via ``windows=`` to amortize the
    corpus pass across detection and cutting.
    """
    wins = windows if windows is not None else token_windows(df, id_col, text_col, k)
    dup_hashes = (
        wins.groupBy("_h").agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") >= min_count)
    )
    hits = wins.join(dup_hashes.select("_h"), "_h")
    if keep_first:
        # exempt each window content's corpus-wide canonical occurrence
        # (min (doc, position)) so a cutting pass retains exactly one
        # copy; the extra aggregate + join reuse the _h partitioning
        canon = hits.groupBy("_h").agg(
            F.min(F.struct(F.col(id_col), F.col("_start"))).alias("_c")
        )
        hits = hits.join(canon, "_h").filter(
            ~(
                (F.col(id_col) == F.col("_c")[id_col])
                & (F.col("_start") == F.col("_c")["_start"])
            )
        )
    hits = hits.select(id_col, "_start")

    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    merged = (
        hits.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.col("_start").cast("bigint"))).alias("_ss"))
        .select(
            id_col,
            F.aggregate(
                "_ss",
                empty,
                lambda acc, s: F.when(
                    (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["e"] + 1),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc, -1)["s"].alias("s"),
                                F.greatest(
                                    F.element_at(acc, -1)["e"], s + F.lit(k - 1)
                                ).alias("e"),
                            )
                        ),
                    ),
                ).otherwise(
                    F.concat(acc, F.array(F.struct(s.alias("s"), (s + F.lit(k - 1)).alias("e"))))
                ),
            ).alias("_spans"),
        )
    )
    ex = merged.select(id_col, F.explode("_spans").alias("_sp"))
    return ex.select(
        id_col,
        F.col("_sp.s").alias("span_start"),
        F.col("_sp.e").alias("span_end"),
    )


def duplicate_span_stats(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-token coverage from
    :func:`duplicate_spans` output: ``<id_col>, n_tokens, dup_tokens,
    dup_token_frac`` — every document appears (zero coverage when no
    spans). The usual curation gate is ``dup_token_frac`` ≤ ~0.2 or
    span-cutting above it. One sum per doc keyed by the id — at scale
    it co-partitions with the span join that produced the input."""
    from stepist_spark.functions.text import token_count

    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens")
    )
    base = df.select(F.col(id_col), token_count(F.col(text_col)).alias("n_tokens"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_count: int = 2,
    windows: DataFrame | None = None,
) -> DataFrame:
    """ExactSubstr remediation: delete every duplicated span found by
    :func:`duplicate_spans` while keeping the corpus-wide canonical
    first occurrence (min ``(doc, position)``) of each window, so
    exactly one copy of each duplicated run survives — the Lee et al.
    2022 cutting policy. Output: ``<id_col>, text, n_tokens_kept,
    n_tokens_cut``; the rebuilt text is whitespace-NORMALIZED (tokens
    re-joined with single spaces, original case preserved) — position
    bookkeeping across arbitrary whitespace is not worth carrying at
    corpus scale, and trainers tokenize it away anyway.

    Extra physical cost over detection: one canonical-occurrence
    aggregate + anti-filter on the already-partitioned window-hash key,
    then a per-doc spans-array join back to the corpus (left join keyed
    by the id) and an index-aware HOF filter — narrow per document.
    """
    spans = duplicate_spans(
        df, id_col, text_col, k, min_count, keep_first=True, windows=windows
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    # case-preserving tokens: same boundaries as the lowercased hash
    # tokens (lowercasing never changes whitespace), so span positions
    # from duplicate_spans index this array 1-based
    raw = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = df.select(F.col(id_col), raw.alias("_raw")).join(per_doc, id_col, "left")
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    kept = F.filter(
        F.col("_raw"),
        lambda t, i: ~F.exists(
            sp,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return base.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text"),
        F.size(kept).alias("n_tokens_kept"),
        (F.size("_raw") - F.size(kept)).alias("n_tokens_cut"),
    )


def canonical_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of documents identical AFTER canonicalization
    (``functions.text.canonical_text``: lowercase, punctuation and
    whitespace runs collapsed) — catches the re-encoded copies
    byte-exact dedup misses (casing flips, reflowed whitespace,
    punctuation variants). Same one-shuffle shape as
    :func:`exact_dup_groups`: canonical md5 → hash aggregate.
    Output: ``content_hash, n_dups, canonical_id`` for groups with
    >1 member."""
    from stepist_spark.functions.text import canonical_text

    hashed = df.select(
        F.md5(canonical_text(F.col(text_col))).alias("content_hash"), F.col(id_col)
    )
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def canonical_dup_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized (id_a < id_b) pairs of canonically-identical
    documents — the pair view of :func:`canonical_dup_groups` for
    ensemble-dedup comparison. One md5 hash-agg shuffle + a within-
    group self-join (group sizes are duplicate multiplicities, tiny)."""
    from stepist_spark.functions.text import canonical_text

    hashed = df.select(
        F.md5(canonical_text(F.col(text_col))).alias("_h"), F.col(id_col).alias("_id")
    )
    a = hashed.select("_h", F.col("_id").alias("id_a"))
    b = hashed.select("_h", F.col("_id").alias("id_b"))
    return a.join(b, "_h").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def pair_agreement(pairs_a: DataFrame, pairs_b: DataFrame) -> DataFrame:
    """Ensemble-dedup diagnostic: full outer join of two normalized
    (id_a < id_b) candidate-pair sets with membership flags — which
    duplicates does each signal see that the other misses? (Multi-
    signal dedup — lexical ⊕ semantic — is standard pipeline practice:
    near-identical text with divergent embeddings flags embedding
    drift; semantically-identical pairs with low lexical overlap are
    paraphrase dups only the dense signal catches.)

    Scale shape: both inputs are candidate-pair tables (already
    sub-quadratic products of their generators); this is one
    co-partitioned full outer join on (id_a, id_b). Output:
    ``id_a, id_b, in_a, in_b`` (booleans, never both false).
    """
    a = pairs_a.select("id_a", "id_b").distinct().withColumn("in_a", F.lit(True))
    b = pairs_b.select("id_a", "id_b").distinct().withColumn("in_b", F.lit(True))
    return a.join(b, ["id_a", "id_b"], "full_outer").select(
        "id_a",
        "id_b",
        F.coalesce(F.col("in_a"), F.lit(False)).alias("in_a"),
        F.coalesce(F.col("in_b"), F.lit(False)).alias("in_b"),
    )
