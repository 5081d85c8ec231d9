"""Deduplication operators for training-data pipelines.

Five families, each expressed as shuffles Spark can execute at 100 TB —
no cross joins, no driver-side state:

- ``exact_dedup``            hash-groupBy on content
- ``minhash_signatures`` / ``minhash_lsh_pairs``
                             MinHash + banded LSH: shingle -> minhash ->
                             band -> bucket-join -> verified Jaccard
- ``simhash_fingerprints`` / ``simhash_pairs``
                             64-bit SimHash + banded Hamming candidates
- ``ngram_jaccard_pairs``    exact n-gram Jaccard via token-postings join
- ``embedding_neardup_pairs``  cosine near-dups via hyperplane-LSH buckets

Design notes (scale):
- Every candidate-generation step is an equi-join on a bucket key, so
  the shuffle volume is O(data + candidate pairs), never O(n^2).
- Hashing uses ``xxhash64`` (JVM built-in, whole-stage codegen).
- Pair outputs are canonicalized (id_a < id_b) and deduplicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import with_coalesced_cached_rounds
from pyspark.sql.window import Window

from .fixpoint import fixpoint
from .textops import tokens


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct content tuple.
    Returns (keep_id, n_copies) — a plain hash aggregation."""
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_id", "n_copies")


def keep_min_survivors(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup that keeps the survivors' full rows: the min-id row
    per distinct content tuple, all original columns preserved. One
    shuffle on the content key (at corpus scale, pass a fingerprint
    column instead of raw text so the shuffle key is fixed-width)."""
    w = Window.partitionBy(*content_cols)
    return (
        df.withColumn("_keep_id", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id")
    )


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def word_shingles(text_col: str, k: int = 3):
    """Distinct k-word shingles of the document (array<string>)."""
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: sig[i] = min over shingles of
    xxhash64(i, shingle). Pure expressions — one narrow pass."""
    sh = word_shingles(text_col, shingle_k)
    sig = F.array(
        *[
            F.array_min(
                F.transform(sh, lambda s, i=i: F.xxhash64(F.lit(i), s))
            )
            for i in range(num_hashes)
        ]
    )
    return df.select(F.col(id_col), sig.alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs with MinHash-estimated Jaccard.

    rows-per-band r = num_hashes/bands; two docs collide when any band
    of their signatures is identical (p = 1-(1-j^r)^b). Candidates are
    generated inside each (band_idx, band_hash) bucket with the fused
    postings formulation (``collect_list`` + a codegen nested
    transform over the sorted member list) rather than a self-join, so
    a bucket of k docs costs one group of k rows plus its
    C(k,2) output pairs and nothing else.

    Skew guard: buckets with more than ``max_bucket_size`` members are
    dropped before pair generation. A hot bucket is quadratic by
    nature — 10⁶ boilerplate docs sharing a band hash would emit
    5·10¹¹ candidates and sink the stage. The recall cost is explicit:
    all pairs whose ONLY collision is a hot bucket are lost, which in
    practice means template/boilerplate families past the cap —
    exact-dedup first (the composed pipeline does) and they never get
    that big. Memory stays bounded too: a capped group holds at most
    ``max_bucket_size`` × (id + num_hashes·8 B) ≈ 264 KB at defaults.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    banded = sigs.select(
        id_col,
        "minhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[F.col("minhash")[b * r + j] for j in range(r)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "minhash", "band.band_idx", "band.band_hash")
    members = F.array_sort(F.col("members"))  # struct sort: id first
    pair_structs = F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + F.lit(2), F.size(members)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["mh"].alias("mh_a"),
                    y["mh"].alias("mh_b"),
                ),
            ),
        )
    )
    cand = (
        banded.groupBy("band_idx", "band_hash")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col("minhash").alias("mh")
                )
            ).alias("members")
        )
        .where(
            (F.size("members") >= 2)
            & (F.size("members") <= max_bucket_size)
        )
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.mh_a", "p.mh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.aggregate(
            F.zip_with("mh_a", "mh_b", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.withColumn("jaccard_est", est)
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash: per token hash, each bit votes +1/-1; the
    fingerprint takes the sign of each bit's vote sum.

    Implemented as one explode + one groupBy(doc) with 64 conditional
    sums — shuffle volume is O(docs x 64 ints)."""
    toked = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = toked.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_bands(max_hamming: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) spans splitting ``bits`` into ``max_hamming + 1``
    contiguous bands. Pigeonhole: two fingerprints within Hamming
    distance ``max_hamming`` differ in at most ``max_hamming`` bands,
    so with ``max_hamming + 1`` bands at least one band is bit-identical
    — banding therefore finds EVERY pair at distance <= max_hamming,
    not a probabilistic subset."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs >{bits} bands")
    base, extra = divmod(bits, n_bands)
    spans, off = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        spans.append((off, width))
        off += width
    return spans


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    The 64-bit fingerprint is split into ``max_hamming + 1`` bands
    (``simhash_bands``), which by pigeonhole guarantees every pair
    within the distance budget shares at least one exact band — the
    candidate equi-join on (band_idx, band_val) has *perfect recall*
    for the advertised filter, and the exact popcount afterwards gives
    perfect precision. Cost scales with band-bucket collisions
    (O(data + candidates)), never all-pairs."""
    fps = simhash_fingerprints(df, id_col, text_col)
    spans = simhash_bands(max_hamming)
    banded = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        # mask AFTER the (arithmetic) shift so the band
                        # holding bit 63 doesn't sign-extend; a full-
                        # width band (max_hamming=0) skips the mask —
                        # (1<<64)-1 overflows a long literal
                        (
                            F.shiftright("simhash", off).bitwiseAND(
                                F.lit((1 << width) - 1)
                            )
                            if width < 64
                            else F.col("simhash")
                        ).alias("band_val"),
                    )
                    for b, (off, width) in enumerate(spans)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    left = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "band_idx",
        "band_val",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    wide_ids: bool = False,
) -> DataFrame:
    """Exact n-gram (word) Jaccard similarity for all pairs sharing at
    least one n-gram: build each n-gram's posting list in ONE shuffle,
    emit the per-gram doc pairs in place, count shared grams per pair
    in a second shuffle, then |A∩B| / (|A|+|B|-|A∩B|).

    This is the postings formulation with the self-join fused away:
    ``collect_list`` per gram (memory bounded by the df cap — ≤1000
    ids ≈ 8 KB per group), pairs generated by a codegen nested
    transform over the sorted list instead of a postings⋈postings
    equi-join, so the gram expression is evaluated once per branch
    rather than re-derived under both join sides. Skew guard:
    extremely common n-grams (df > 1000) are dropped, which bounds
    both posting-list memory and per-gram pair fan-out (standard
    prefix-filtering trick).

    Candidate volume is Θ(Σ C(df,2)) — quadratic in duplication
    multiplicity, the information-theoretic floor for exact
    shared-gram counting (the 3× probe's candidate set genuinely
    grows ~9×) — so the pair stage is tuned for per-row cost: when
    the id column is integral and fits 31 bits (guarded in codegen,
    raise_error on violation) each pair is packed into ONE bigint
    ``id_a·2³¹ + id_b``, making the emitted array a primitive
    long array and the count shuffle a single-long-key hash-agg
    instead of a two-field struct key. Non-integral ids fall back to
    the struct formulation automatically — same output, slower key;
    integral ids that legitimately exceed 2^31 (hash-derived 64-bit
    ids) must pass ``wide_ids=True`` to select it explicitly, since
    the range is only knowable at runtime and a silent wrap would
    corrupt pairs."""
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")

    def finish(counts: DataFrame) -> DataFrame:
        return (
            counts.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    return _shared_gram_counts(
        df, id_col, text_col, n, wide_ids, finish
    )


def _shared_gram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    wide_ids: bool,
    finish=None,
) -> DataFrame:
    """Shared machinery for the exact n-gram pair family: per-pair
    (id_a, id_b, n_common, na, nb) distinct-shingle intersection
    counts via the fused postings formulation documented on
    ``ngram_jaccard_pairs`` (collect-list postings, 1000-df skew cap,
    packed-bigint pair keys for 31-bit integral ids).

    ``finish`` (r15, per the r14 advice): the caller's score +
    threshold-filter + projection, applied BEFORE the materialize-
    then-release persist so the frame that stays cached is the small
    FILTERED pair set, not the full unfiltered candidate frame (the
    largest frame in the pipeline). The returned frame is persisted
    and materialized; the consumption boundary (bench / checker /
    caller) owns its release."""
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram")
    )
    # sizes on purpose derives from the exploded grams, NOT from
    # size(word_shingles(...)) over the scan: the shingle expression
    # (token slice × distinct) dominates cost, and a scan-side sizes
    # would re-evaluate it once more per join branch — measured
    # slower at sf0.1 than re-aggregating the already-exploded rows.
    # PERSISTED (r14 optimization, guide §5): both pair-join sides
    # (sa/sb below) read this per-doc count frame, and unpersisted
    # each side re-ran the whole shingle explode+aggregate — the
    # frame is one row per doc, tiny at any scale. Released by the
    # caller-visible result's own materialization below.
    sizes = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    ).persist()
    id_type = dict(df.dtypes)[id_col]
    packable = not wide_ids and id_type in (
        "tinyint", "smallint", "int", "bigint"
    )
    posts = (
        grams.groupBy("gram")
        .agg(F.collect_list(id_col).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= 1000))
    )
    ids = F.array_sort(F.col("ids"))
    if packable:
        guard = F.transform(
            ids,
            lambda x: F.when(
                (x < 0) | (x >= F.lit(1 << 31)),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"ngram_jaccard_pairs: {id_col} outside "
                            "[0, 2^31) for the packed-pair key — pass "
                            "wide_ids=True for 64-bit ids; offending "
                            "id: "
                        ),
                        x.cast("string"),
                    )
                ).cast("bigint"),
            ).otherwise(x.cast("bigint")),
        )
        # project the guarded/sorted array ONCE; the nested pair
        # transform then iterates a plain column reference instead of
        # re-evaluating the guard per (i, j)
        gids = F.col("gids")
        pair_keys = F.flatten(
            F.transform(
                gids,
                lambda x, i: F.transform(
                    F.slice(gids, i + F.lit(2), F.size(gids)),
                    lambda y: x * F.lit(1 << 31) + y,
                ),
            )
        )
        common = (
            posts.select(guard.alias("gids"))
            .select(F.explode(pair_keys).alias("pk"))
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .select(
                F.shiftright("pk", 31).cast(id_type).alias("id_a"),
                F.col("pk")
                .bitwiseAND(F.lit((1 << 31) - 1))
                .cast(id_type)
                .alias("id_b"),
                "n_common",
            )
        )
    else:
        pair_structs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        common = (
            posts.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_grams").alias("na")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb")
    )
    try:
        res = (
            common.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", "n_common", "na", "nb")
        )
        if finish is not None:
            res = finish(res)
        res = res.persist()
        res.count()
        return res
    finally:
        sizes.unpersist()


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    wide_ids: bool = False,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — |A∩B| / min(|A|, |B|) ≥
    ``threshold`` over distinct word shingles. The asymmetric twin of
    ``ngram_jaccard_pairs``: a short document quoted wholesale inside
    a much longer one has near-1 containment but tiny Jaccard (the
    union is dominated by the long doc), so Jaccard-thresholded dedup
    systematically misses subset copies — the Broder resemblance-vs-
    containment distinction, and the standard quote/inclusion signal
    a curation pipeline wants next to the symmetric one.

    Same fused-postings candidate machinery, same 1000-df hot-gram
    cap, same packed-pair keys (``_shared_gram_counts``); scale shape
    identical to the Jaccard query. Returns (id_a, id_b, containment)
    with containment = n_common / min(na, nb) — one exact-integer
    division, engine-exact."""
    cont = F.col("n_common").cast("double") / F.least(
        F.col("na"), F.col("nb")
    ).cast("double")

    def finish(counts: DataFrame) -> DataFrame:
        return (
            counts.withColumn("containment", cont)
            .where(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment")
        )

    return _shared_gram_counts(
        df, id_col, text_col, n, wide_ids, finish
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine) via hyperplane LSH
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicates via banded random-hyperplane LSH, then
    exact cosine inside buckets.

    Pass ``dim`` (the embedding dimensionality) when known — otherwise
    it is inferred with a 1-row action on ``df``, an extra Spark job
    per call.

    Sign-LSH collision probability per plane is 1 - angle/pi, so one
    wide sign vector only finds cosines near 1. Banding (OR over
    ``bands`` groups of ``planes_per_band`` planes, exactly like
    MinHash banding) trades candidate volume for recall at moderate
    thresholds: p_collide = 1 - (1 - p^r)^b. Hyperplanes derive
    deterministically from ``seed`` (reproducible, no driver state).
    Exact cosine verification inside buckets keeps precision exact;
    recall is the LSH approximation knob.
    """
    import numpy as np

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    hp = rng.standard_normal((bands * planes_per_band, dim))

    def dot_plane(p):
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(v)) for v in p]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "",
                    *[
                        F.when(
                            dot_plane(hp[b * planes_per_band + j]) >= 0,
                            F.lit("1"),
                        ).otherwise(F.lit("0"))
                        for j in range(planes_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    keyed = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            norm.alias("_norm"),
            F.explode(band_keys).alias("band"),
        )
        .select(id_col, vec_col, "_norm", "band.band_idx", "band.band_key")
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col("_norm").alias("norm_a"),
        "band_idx",
        "band_key",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("_norm").alias("norm_b"),
        "band_idx",
        "band_key",
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", dot / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


@with_coalesced_cached_rounds
def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Assign every node the smallest id reachable through ``pairs`` —
    the canonical dup-cluster id, so "keep one doc per cluster" is a
    single ``WHERE id = cluster_id`` afterwards. Returns
    ``(id_col, cluster_id)``; singletons keep their own id.

    Smallest-label propagation: each round, every node takes the min of
    its own label and its neighbors' labels; converged when a round
    changes nothing. Rounds needed = component diameter, which for dup
    clusters is tiny (dups of a doc are dups of each other), so the
    loop is a handful of shuffle-join + min-agg rounds, each
    partitioned on the node id — no driver-side graph, no all-pairs.
    Raises if ``max_iter`` rounds don't converge (pathological chain
    — raise the budget explicitly rather than silently returning
    half-merged clusters; for graphs whose diameter is NOT shallow,
    use ``operators.graph.star_connected_components``, O(log n)
    rounds). This loop stays because it is the fastest of the three
    on shallow dup graphs: rerouting its callers to star contraction
    slowed emb_semantic_dedup_exact 7.35 -> 12.53 s and
    emb_semantic_dedup_cells 4.28 -> 6.90 s in a same-session A/B
    (table in ``graph.connected_components``); it also tolerates
    NULL ids.

    SINGLE-REFERENCE rounds (fixed round 11): the original round
    referenced ``labels`` twice (neighbor-min join + a keep-own-label
    join), so the LOGICAL plan doubled per round — persist caches
    execution, but Catalyst re-ANALYZES the full 2^rounds tree, which
    turned a diameter-7 chain graph into minutes of pure driver-side
    planning. Adding a SELF-LOOP per node to the (pre-loop, persisted)
    edge set folds "keep my own label" into the same neighbor-min
    aggregate, so each round is ONE join + ONE min-agg over the
    previous round's persisted frame — the plan grows linearly like
    the PageRank loop, with no lineage checkpointing (this engine
    bans ``localCheckpoint``: a table-sized frame must never pin
    itself in executor storage). Convergence is ONE scalar action
    per round: labels never increase (each is the min of a set
    containing itself), so the exact DECIMAL(38,0) label sum is
    strictly decreasing until the fixed point — sum unchanged ⟺ no
    label changed — and that same aggregate doubles as the round's
    persist materialization (NULL-id singletons sit outside the sum
    and never change)."""
    # both directions from ONE reference (explode, not union — r15,
    # guide §1.2): the union shape evaluated the caller's pair
    # pipeline TWICE inside edges_all's materialization (for
    # semantic_dedup that is the per-cell quadratic cosine join,
    # measured as a full extra pass); same rows, same types
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    node_ids = nodes.select(F.col(id_col).alias("id")).distinct()
    # output rows are keyed by src, so srcs outside the node frame
    # must not leak in (the pre-r11 shape only ever emitted node
    # rows); unknown DSTs need no guard — they match no label
    edges_all = (
        edges.join(
            node_ids.select(F.col("id").alias("src")),
            "src",
            "left_semi",
        )
        .unionByName(
            node_ids.select(
                F.col("id").alias("src"), F.col("id").alias("dst")
            )
        )
        .distinct()
        .persist()
    )

    def one_round(labels: DataFrame) -> DataFrame:
        # self-loops make this min(own, neighbors) in one pass;
        # eqNullSafe keeps a NULL node id as a legal singleton
        return (
            edges_all.join(labels, edges_all.dst.eqNullSafe(labels.id))
            .groupBy("src")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("src").alias("id"), "lbl")
        )

    try:
        labels = fixpoint(
            node_ids.withColumn("lbl", F.col("id")),
            one_round,
            lambda df: df.agg(
                F.sum(F.col("lbl").cast("decimal(38,0)"))
            ).collect()[0][0],
            max_iter=max_iter,
            rounds_per_step=1,
            name="connected_components",
        )
    finally:
        edges_all.unpersist()
    return labels.select(
        F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Train/eval decontamination
# ---------------------------------------------------------------------------


def contamination_flags(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Per-training-doc n-gram overlap with an evaluation set — the
    standard pre-training decontamination check (flag and drop train
    docs that contain verbatim eval n-grams, so benchmark answers
    don't leak into the corpus).

    Scale shape: the eval side collapses to DISTINCT grams (one row
    per gram, no doc ids — eval corpora are small, and even a big one
    dedupes hard), then a single equi-join against the train posting
    list and a count per train doc: O(train grams + eval grams +
    matches), never pairwise. The join key is the gram itself and the
    per-doc gram lists are already distinct (``word_shingles``), so a
    stop-gram can contribute at most one match per train doc — no
    quadratic bucket to cap.

    Returns one row per train doc: ``n_grams``,
    ``n_contaminated_grams`` (distinct grams shared with the eval
    set), and ``contaminated`` (>= ``min_overlap`` shared grams).
    """
    sh = word_shingles(text_col, n)
    t_grams = train.select(
        F.col(id_col), F.explode(sh).alias("gram")
    )
    e_grams = eval_df.select(F.explode(sh).alias("gram")).distinct()
    overlap = (
        t_grams.join(e_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    sizes = train.select(
        F.col(id_col), F.size(sh).cast("long").alias("n_grams")
    )
    return (
        sizes.join(overlap, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            (
                F.coalesce("n_contaminated_grams", F.lit(0))
                >= F.lit(min_overlap)
            ).alias("contaminated"),
        )
    )


def substring_leak(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
) -> DataFrame:
    """CHARACTER-level decontamination: flag training documents that
    share a VERBATIM substring with any eval document — the stricter
    sibling of ``contamination_flags`` (word n-grams miss reformatted
    but verbatim-copied spans; benchmark-leak audits ask for exact
    substring matches).

    Seed-window formulation with an exact guarantee instead of an
    all-pairs substring search: the train side emits k-char windows
    at stride k (O(len/k) per doc), the eval side emits ALL k-char
    windows (stride 1 — affordable because eval sets are small), and
    matches are an equi-join on the window string. Any common
    substring of length >= 2k-1 fully contains one of the train
    side's strided windows, so it is ALWAYS detected; shorter common
    spans may be missed (tune k down for a tighter net). No hashing,
    so no false positives — a matched window IS a verbatim k-char
    copy.

    Scale shape: one explode per side (train side k-fold smaller than
    the corpus), one distinct on the eval window set, one left-semi
    equi-join (no fan-out: each train window matches the eval SET at
    most once), one count per doc. Returns one row per train doc:
    ``n_windows``, ``n_leaked_windows`` (distinct matched), and
    ``leaked``.
    """
    if k < 2:
        raise ValueError("k must be >= 2 characters")
    t = F.col(text_col)
    ln = F.length(t)
    t_wins = F.transform(
        F.sequence(F.lit(1), ln - F.lit(k - 1), F.lit(k)),
        lambda i: t.substr(i, F.lit(k)),
    )
    e_wins = F.transform(
        F.sequence(F.lit(1), ln - F.lit(k - 1)),
        lambda i: t.substr(i, F.lit(k)),
    )
    train_w = train.where(ln >= k).select(
        F.col(id_col),
        F.explode(F.array_distinct(t_wins)).alias("w"),
    )
    eval_w = (
        eval_df.where(ln >= k)
        .select(F.explode(e_wins).alias("w"))
        .distinct()
    )
    hits = (
        train_w.join(eval_w, "w", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_leaked_windows"))
    )
    sizes = train.select(
        F.col(id_col),
        F.when(ln >= k, F.size(F.array_distinct(t_wins)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    return sizes.join(hits, id_col, "left").select(
        id_col,
        "n_windows",
        F.coalesce("n_leaked_windows", F.lit(0))
        .cast("long")
        .alias("n_leaked_windows"),
        (F.coalesce("n_leaked_windows", F.lit(0)) > 0).alias("leaked"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted fingerprint index
# ---------------------------------------------------------------------------


def dedup_against_index(
    spark,
    new_docs: DataFrame,
    index_path: str,
    content_cols: list[str] | None = None,
    id_col: str = "doc_id",
    fp_col: str = "content_fp",
    exclude_subdir: str | None = None,
    prefix_prefilter: bool = False,
) -> DataFrame:
    """Pure admission compute for incremental exact dedup: fingerprint
    the batch (sha256 over the content columns), keep one survivor per
    fingerprint within the batch, and anti-join the persisted index —
    NO writes. Returns the admitted rows with ``fp_col`` attached so
    the caller can commit rows and fingerprints in whatever order its
    delivery guarantee requires (see ``incremental_exact_dedup`` for
    the watermark-paired batch shape and
    ``pipelines.robust_ingest_to_lake`` for the replay-safe
    partition-overwrite protocol).

    ``exclude_subdir`` drops index files under
    ``<index_path>/<exclude_subdir>/`` from the pinned file list —
    an at-least-once replay excludes its OWN batch partition so the
    anti-join sees exactly the pre-batch index state and the admitted
    set recomputes identically (``keep_min_survivors`` is
    deterministic: min id per fingerprint).
    """
    from ..sources import fs

    cols = content_cols or ["text"]
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols
    ]
    batch = new_docs.withColumn(fp_col, F.sha2(F.concat_ws("", *parts), 256))
    batch_unique = keep_min_survivors(batch, [fp_col], id_col)
    # pin the index read to the PRE-APPEND file list: the anti-join
    # must not see the fingerprints this very batch is about to add,
    # including on re-execution (a directory-path read re-lists files,
    # and persist() doesn't help — the cache manager re-executes
    # cached plans whose scanned path is appended to). A file-list
    # read is immutable, so the plan stays deterministic with no
    # materialization or executor-storage pinning.
    index_files = fs.list_data_files(spark, index_path)
    if exclude_subdir:
        marker = f"/{exclude_subdir.strip('/')}/"
        index_files = [f for f in index_files if marker not in f]
    if not index_files:
        return batch_unique
    index = spark.read.parquet(*index_files).select(fp_col)
    if prefix_prefilter:
        # Bloom-style reduction with exact set membership: broadcast
        # the batch's DISTINCT 12-hex-char (48-bit) fingerprint
        # prefixes and semi-join the index on the prefix, so the
        # index side never shuffles — it shrinks from |index| to
        # ~|batch ∩ index| (+ vanishingly rare prefix collisions)
        # BEFORE the anti-join. False positives only pass extra index
        # rows into the exact anti-join, so admission is unchanged
        # (pinned by the equality pytest). The broadcast is bounded by
        # the batch, the unit sized to be small by design; leave OFF
        # for backfill-scale batches where |batch| ~ |index| and the
        # plain shuffle anti-join is the right plan.
        batch_pref = batch_unique.select(
            F.substring(F.col(fp_col), 1, 12).alias("_pfx")
        ).distinct()
        index = index.join(
            F.broadcast(batch_pref),
            F.substring(F.col(fp_col), 1, 12) == F.col("_pfx"),
            "left_semi",
        )
    return batch_unique.join(index, fp_col, "left_anti")


def incremental_exact_dedup(
    spark,
    new_docs: DataFrame,
    index_path: str,
    content_cols: list[str] | None = None,
    id_col: str = "doc_id",
    fp_col: str = "content_fp",
) -> DataFrame:
    """Dedup a NEW batch against all history without rescanning it:
    the lake keeps a fingerprint index (one sha256 per ever-admitted
    content), the batch dedups within itself, anti-joins the index,
    and the survivors' fingerprints append back. Per-batch cost is
    O(batch + matching index partitions) — at 100 TB of history the
    index is ~corpus-distinct-count x 32 bytes and the anti-join
    shuffles the fixed-width fingerprint, never document text.

    Returns the admitted rows (batch-unique AND history-unique), with
    the index updated as a side effect. ORDERING CONTRACT: the
    fingerprint append commits HERE, before the caller persists the
    admitted rows anywhere — so this shape is for flows where
    admission itself is the outcome (the returned DataFrame is
    consumed inline) or where each batch is delivered exactly once
    (high-watermark reader, operators/incremental.py). Under
    at-least-once delivery a crash between this append and the
    caller's own sink write would make the replay reject the batch —
    rows lost; use the replay-safe committer
    (``pipelines.robust_ingest_to_lake``), which computes via
    ``dedup_against_index`` and commit rows + fingerprints as
    deterministic per-batch partition overwrites instead.
    """
    from ..sources.writers import write_parquet

    admitted = dedup_against_index(
        spark, new_docs, index_path,
        content_cols=content_cols, id_col=id_col, fp_col=fp_col,
    )
    write_parquet(admitted.select(fp_col), index_path, mode="append")
    return admitted


def _minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
) -> DataFrame:
    """(id, band_idx, band_hash) rows — the LSH bucket keys of each
    document, shared by the batch and incremental paths."""
    r = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[F.col("minhash")[b * r + j] for j in range(r)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def incremental_near_dedup(
    spark,
    new_docs: DataFrame,
    band_index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    verify_exact: bool = False,
) -> DataFrame:
    """NEAR-duplicate admission against all history, without rescanning
    it: the lake keeps an LSH band index ((band_idx, band_hash) per
    ever-admitted doc, bands x 16 bytes each); a new batch first
    collapses its own near-dup clusters (banded-LSH pairs +
    connected components, min-id survivor), then rejects any survivor
    sharing a band bucket with history, and appends the admitted
    docs' bands. Index reads are pinned to the pre-append file list
    (same re-execution-safety argument as ``incremental_exact_dedup``).

    Semantics follow the LSH S-curve: with r = num_hashes/bands rows
    per band, a historical doc at Jaccard j collides with probability
    1-(1-j^r)^bands — high recall above ~0.5 similarity at the
    defaults, with a small, quantifiable false-reject rate below it
    (j = 0.2 -> ~1.3%). Callers needing exact precision verify the
    rejected set against the lake with ``ngram_jaccard_pairs`` before
    discarding.

    ``verify_exact=True`` switches both decision points to EXACT
    shingle-set equality, reached through the same LSH machinery:
    in-batch pairs are banded candidates at est=1.0 verified by a
    set-signature compare, and the history rejection semi-join keys on
    (band_idx, band_hash, set_sig) — identical sets collide in every
    band AND share the signature (total recall by construction), while
    chance band collisions between non-identical docs are filtered by
    the signature. The admission decision becomes fully deterministic
    ("rejected iff an ever-admitted doc has the identical shingle
    set"), which is what makes the catalog twin
    ``doc_incremental_neardup_checked`` value-checkable against a
    hash-free DuckDB oracle; the index grows by one 32-char column.
    """
    assert num_hashes % bands == 0
    from ..sources import fs
    from ..sources.writers import write_parquet

    sigs = None
    if verify_exact:
        # injective set signature: JSON-encode the sorted distinct
        # shingle array (md5 of an unambiguous serialization)
        sigs = new_docs.select(
            F.col(id_col),
            F.md5(
                F.to_json(F.array_sort(word_shingles(text_col, shingle_k)))
            ).alias("set_sig"),
        )
        cands = minhash_lsh_pairs(
            new_docs, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            threshold=1.0,
        )
        pairs = (
            cands.join(
                sigs.select(
                    F.col(id_col).alias("id_a"),
                    F.col("set_sig").alias("_sa"),
                ),
                "id_a",
            )
            .join(
                sigs.select(
                    F.col(id_col).alias("id_b"),
                    F.col("set_sig").alias("_sb"),
                ),
                "id_b",
            )
            .where(F.col("_sa") == F.col("_sb"))
            .select("id_a", "id_b")
        )
    else:
        pairs = minhash_lsh_pairs(
            new_docs, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            threshold=0.0,
        )
    clusters = connected_components(pairs, new_docs, id_col)
    batch_survivors = new_docs.join(
        clusters.where(F.col(id_col) == F.col("cluster_id")).select(id_col),
        id_col,
    )
    new_bands = _minhash_band_table(
        batch_survivors, id_col, text_col, num_hashes, bands, shingle_k
    )
    if verify_exact:
        new_bands = new_bands.join(sigs, id_col)
    hist_key = (
        ["band_idx", "band_hash", "set_sig"]
        if verify_exact
        else ["band_idx", "band_hash"]
    )
    index_files = fs.list_data_files(spark, band_index_path)
    if index_files:
        hist = spark.read.parquet(*index_files).select(*hist_key)
        hit_ids = (
            new_bands.join(hist, hist_key, "left_semi")
            .select(id_col)
            .distinct()
        )
        admitted = batch_survivors.join(hit_ids, id_col, "left_anti")
    else:
        admitted = batch_survivors
    admitted_bands = new_bands.join(
        admitted.select(id_col), id_col, "left_semi"
    )
    write_parquet(
        admitted_bands, band_index_path, mode="append"
    )
    return admitted


# ---------------------------------------------------------------------------
# Duplicated-span removal (C4 / RefinedWeb-style intra-corpus scrub)
# ---------------------------------------------------------------------------

# Position encoding for the global "first occurrence" ordering:
# ord = doc_id * 2^20 + span_pos. Bounds each document to 2^20
# non-overlapping spans (n * 1M tokens) — far beyond any real document
# — while keeping the canonical-occurrence choice ONE bigint MIN, which
# every engine aggregates identically (a struct-min would lean on
# engine-specific struct ordering). The encoding requires a
# NON-NEGATIVE integral id below 2^43; _span_canon enforces that in
# codegen (raise_error, not silent wraparound) and switches to a
# lexicographic struct-min for string / decimal / otherwise-wide ids,
# where cross-engine ordering is Spark-only — fine for the operator,
# but a DuckDB oracle replicating it must mirror the same tuple-min.
SPAN_POS_BITS = 20
_SPAN_ID_MAX = 1 << (63 - SPAN_POS_BITS)
_SPAN_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _span_ord(df: DataFrame, id_col: str):
    """First-occurrence ordinal for a span table carrying (id_col,
    _pos). Integral ids take the single-bigint path, guarded so an id
    outside [0, 2^43) raises in codegen instead of wrapping and
    silently electing the wrong canonical occurrence (r6 advice).
    Anything else (string ids, decimals) falls back to MIN over an
    (id, pos) struct — lexicographic first-occurrence, one extra
    comparison per row, same downstream MIN/equality logic."""
    dtype = dict(df.dtypes)[id_col]
    if dtype in _SPAN_INTEGRAL_TYPES:
        guarded = F.when(
            (F.col(id_col) < 0) | (F.col(id_col) >= F.lit(_SPAN_ID_MAX)),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"span dedup: {id_col} outside [0, 2^43) — the "
                        "bigint first-occurrence encoding would wrap; "
                        "offending id: "
                    ),
                    F.col(id_col).cast("string"),
                )
            ).cast("bigint"),
        ).otherwise(F.col(id_col).cast("bigint"))
        return guarded * F.lit(1 << SPAN_POS_BITS) + F.col("_pos")
    return F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Remove all but the first occurrence of any duplicated n-token
    span across the corpus — the C4 three-sentence-span rule
    generalized to fixed token windows (C4 drops repeated lorem-ipsum /
    boilerplate / license blocks that exact and near dedup both miss,
    because the surrounding document differs).

    Semantics: each document is cut into NON-overlapping spans of
    ``n`` whitespace tokens (the tail span may be shorter). A span
    occurrence survives iff its text occurs exactly once in the corpus
    OR it is the globally-first occurrence (smallest (doc_id, pos)).
    Surviving spans are reassembled in order, single-spaced. Whitespace
    is therefore normalized in the output — by design; exact-dedup the
    corpus first if byte-identical text matters.

    Scale shape: one explode (corpus tokens / n span rows), one
    hash-agg on the span text (count + min-ord — map-side combinable),
    one big-vs-aggregated equi-join back, one per-doc reassembly agg.
    O(corpus) end to end, no pairwise anything; the span-stats table is
    bounded by the corpus itself and shrinks with duplication. Grouping
    keys on the exact span STRING, so matches are verbatim (no hash
    false positives); shuffle width is the corpus text, same as any
    exact dedup.

    Returns one row per input doc: ``(id_col, n_spans, n_kept,
    clean_text)``; documents with empty text keep ``clean_text = ''``.
    """
    if n < 1:
        raise ValueError("span length n must be >= 1 token")
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_w"))
    n_spans = F.ceil(F.size("_w") / F.lit(n)).cast("bigint")
    # CASE guard: sequence(0, -1) DESCENDS instead of returning empty,
    # which would fabricate a phantom span for empty documents
    chunks = F.when(
        F.size("_w") == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - F.lit(1)),
            lambda s: F.array_join(
                F.slice(F.col("_w"), s * F.lit(n) + F.lit(1), F.lit(n)),
                " ",
            ),
        )
    )
    exploded = toks.select(
        F.col(id_col), F.posexplode(chunks).alias("_pos", "_sp")
    )
    spans = exploded.withColumn("_ord", _span_ord(exploded, id_col))
    stats = spans.groupBy("_sp").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("_ord").alias("_canon")
    )
    kept = (
        spans.join(stats, "_sp")
        .where((F.col("_cnt") == 1) | (F.col("_ord") == F.col("_canon")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_sp"))
                    ),
                    lambda x: x["_sp"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    base = toks.select(F.col(id_col), n_spans.alias("n_spans"))
    return base.join(kept, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection (keep the best doc per dup cluster)
# ---------------------------------------------------------------------------


def cluster_representatives(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    max_iter: int = 20,
) -> DataFrame:
    """Pick ONE representative per duplicate cluster — the highest-
    ``score_col`` member (ties broken by smallest id), with every
    other member marked for removal. This is the keep-best step that
    follows near-dup pair generation in a curation pipeline: "keep one
    per cluster" alone keeps an *arbitrary* member; quality-aware
    pipelines keep the longest / highest-quality one.

    Composition: ``connected_components`` labels every node with its
    cluster id (iterative min-label propagation — see its docstring
    for the scale argument), then a single ``row_number`` window per
    cluster ranks members by (score DESC, id ASC). Cluster cardinality
    is dup-group-sized (tiny), so the window never sees a giant
    partition; singletons rank themselves first and stay
    representatives.

    Returns ``(id_col, cluster_id, score_col, is_rep)`` — one row per
    node; filter ``is_rep`` for the deduplicated corpus.
    """
    labels = connected_components(
        pairs, nodes, id_col=id_col, max_iter=max_iter
    )
    scored = nodes.select(F.col(id_col), F.col(score_col)).join(
        labels, id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.select(
        id_col,
        "cluster_id",
        score_col,
        (F.row_number().over(w) == 1).alias("is_rep"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram
    with an explicit polynomial hash recomputed per position (O(n·k),
    not the paper's O(n) rolling update — k is a small constant and
    the recompute stays whole-stage codegen, which a
    previous-position-dependent rolling fold would not), slide a
    window of ``w`` consecutive k-gram hashes, and select each
    window's MINIMUM as a fingerprint. The guarantee: any match of length ≥ w+k−1 between
    two documents shares at least one selected fingerprint, while
    only ~2/(w+1) of all k-grams are kept — position-robust partial-
    overlap detection at a fraction of the full k-gram index, the
    niche between exact span dedup (``substring_leak``: exact
    64-gram matches) and MinHash (whole-document similarity, no
    locality).

    Returns one row per (id, fingerprint): distinct selected hash
    values per document (``fp`` int64). Every stage is whole-stage
    codegen over arrays — no Python, no UDF. The hash is
    ``Σ code·B^(k−1−j) mod P`` with B=257, P=1e9+7 computed by an
    explicit integer fold (values < 2^30, products < 2^60 — int64-
    safe), so ANY engine can restate it bit-for-bit; selecting
    window MINIMA by value makes tie policy irrelevant for the
    selected-value SET (robust winnowing's rightmost-tie rule only
    affects positions, which dedup doesn't consume).

    Scale shape: per-doc array arithmetic (corpus-sized, embarrassing
    parallel) then one explode + distinct — the fingerprint index is
    ~2/(w+1) of the k-gram stream. Pairing consumers bucket-join on
    ``fp`` (8-byte keys), never all-pairs."""
    if k < 2 or w < 1:
        raise ValueError("need k >= 2 and w >= 1")
    b, p = 257, 1_000_000_007
    # Intermediates bind as LAMBDA VARIABLES (`transform(array(e),
    # v -> body)[0]`), never as projected columns: CollapseProject
    # merges chained selects and would inline the hash-array column
    # into the window lambda's body, re-evaluating the ENTIRE array
    # per window — O(n²k) per document (measured: a 1-second corpus
    # became a >10-minute hang). A lambda input evaluates exactly
    # once no matter how the optimizer rewrites the projection.
    chars = (
        f"filter(split(lower(trim(coalesce({text_col}, ''))), ''), "
        "x -> x <> '')"
    )
    # guard BEFORE sequence: Spark's sequence(1, 0) descends
    # through 0 and slice() rejects start 0
    hashes = (
        f"case when size(cs) >= {k} then "
        f"transform(sequence(1, size(cs) - {k} + 1), "
        f"i -> aggregate(slice(cs, i, {k}), cast(0 as bigint), "
        f"(acc, ch) -> (acc * {b} + ascii(ch)) % {p})) "
        "else cast(array() as array<bigint>) end"
    )
    winnow = (
        f"case when size(hs) >= {w} then array_distinct("
        f"transform(sequence(1, size(hs) - {w} + 1), "
        f"j -> array_min(slice(hs, j, {w})))) "
        "else cast(array() as array<bigint>) end"
    )
    fps = (
        f"element_at(transform(array({chars}), cs -> "
        f"element_at(transform(array({hashes}), hs -> {winnow}), 1)), 1)"
    )
    return df.select(
        F.col(id_col), F.explode(F.expr(fps)).alias("fp")
    )


def winnowing_fingerprint_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """ROBUST winnowing — ``winnowing_fingerprints`` plus the selected
    k-gram's character position, using the paper's robust tie rule
    (§"robust winnowing"): within a window, pick the MINIMUM hash,
    ties broken RIGHTMOST. Positions are what fingerprint VALUES
    deliberately discard: with them, a pairing consumer can
    reconstruct matched character RANGES (the MOSS report shape — see
    ``copy_spans``) instead of just an overlap count. The value set is
    identical to ``winnowing_fingerprints``; only the (fp, pos) pair
    set depends on the tie rule, which is why the rule must be pinned
    for cross-engine exactness.

    Returns one row per distinct (id, fp, pos): ``fp`` int64, ``pos``
    int64 0-based character offset of the selected k-gram's start.
    Same hash (Σ code·257^j mod 1e9+7), same lambda-variable binding
    discipline (every intermediate array binds exactly once no matter
    how CollapseProject rewrites the projection), all whole-stage
    codegen — no Python, no UDF.

    Scale shape: identical to the value-only variant — per-doc array
    arithmetic then one explode + distinct; ~2/(w+1) of k-grams
    selected, each now 16 bytes instead of 8."""
    if k < 2 or w < 1:
        raise ValueError("need k >= 2 and w >= 1")
    b, p = 257, 1_000_000_007
    chars = (
        f"filter(split(lower(trim(coalesce({text_col}, ''))), ''), "
        "x -> x <> '')"
    )
    hashes = (
        f"case when size(cs) >= {k} then "
        f"transform(sequence(1, size(cs) - {k} + 1), "
        f"i -> aggregate(slice(cs, i, {k}), cast(0 as bigint), "
        f"(acc, ch) -> (acc * {b} + ascii(ch)) % {p})) "
        "else cast(array() as array<bigint>) end"
    )
    # per window j: bind the w-slice once (ws), bind its min once
    # (mv), then fold positions 0..w-1 ascending keeping the LAST
    # index whose hash equals mv — the rightmost tie. Selected hash
    # index is j + t (1-based), so the 0-based char start is j + t - 1.
    winnow_pos = (
        f"case when size(hs) >= {w} then array_distinct("
        f"transform(sequence(1, size(hs) - {w} + 1), "
        f"j -> element_at(transform(array(slice(hs, j, {w})), "
        "ws -> element_at(transform(array(array_min(ws)), "
        "mv -> named_struct('fp', mv, 'pos', "
        f"cast(j + aggregate(sequence(0, {w} - 1), -1, "
        "(acc, t) -> if(element_at(ws, t + 1) = mv, t, acc)) - 1 "
        "as bigint))), 1)), 1))) "
        "else cast(array() as array<struct<fp:bigint,pos:bigint>>) end"
    )
    fps = (
        f"element_at(transform(array({chars}), cs -> "
        f"element_at(transform(array({hashes}), hs -> {winnow_pos}), "
        "1)), 1)"
    )
    return df.select(
        F.col(id_col), F.explode(F.expr(fps)).alias("u")
    ).select(F.col(id_col), F.col("u.fp").alias("fp"), F.col("u.pos").alias("pos"))


def copy_spans(
    fpos: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    hot_cap: int = 50,
    merge_gap: int | None = None,
    min_fps: int = 2,
) -> DataFrame:
    """MOSS-style matched-range report from robust-winnowing
    positions (``winnowing_fingerprint_positions`` output): documents
    sharing fingerprints get their matches merged into character
    SPANS — "doc A chars [120, 260) match doc B chars [540, 680)" —
    the report a plagiarism/contamination reviewer actually reads,
    where ``doc_winnowing_pairs`` only counts overlap.

    Span merge: two matches join the same span iff they lie on the
    same DIAGONAL (pos2 − pos1 equal — an exact copy preserves the
    offset; an insertion/deletion shifts it and honestly starts a new
    span) and their pos1 gap is ≤ ``merge_gap`` (default w + k − 1,
    the winnowing guarantee distance: a contiguous copy yields a
    selected fingerprint at least every w k-grams). One window over
    (left, right, diag) ordered by pos1 — the gaps-and-islands span
    id — then one hash-agg to span bounds; ``end`` columns are
    inclusive of the k-gram, i.e. last matched char = max(pos)+k−1.

    Fingerprints in more than ``hot_cap`` documents drop before
    pairing (MOSS's "ignore matches in too many documents" rule —
    corpus-wide boilerplate must not pair everyone with everyone).

    Scale shape: one aggregated hot filter + ONE equi-join on the
    8-byte fp key (bucket sizes track true copy density, never
    all-pairs), then window + agg keyed by (pair, diag) — 100 TB-safe
    for the same reason the pairs query is."""
    if merge_gap is None:
        merge_gap = w + k - 1
    cold = (
        fpos.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_n"))
        .where(F.col("_n") <= hot_cap)
        .select("fp")
    )
    keyed = fpos.join(cold, "fp", "left_semi")
    left = keyed.select(
        "fp",
        F.col(id_col).alias("left_id"),
        F.col("pos").alias("pos1"),
    )
    right = keyed.select(
        "fp",
        F.col(id_col).alias("right_id"),
        F.col("pos").alias("pos2"),
    )
    m = (
        left.join(right, "fp")
        .where(F.col("right_id") > F.col("left_id"))
        .select(
            "left_id",
            "right_id",
            "pos1",
            "pos2",
            (F.col("pos2") - F.col("pos1")).alias("diag"),
        )
    )
    wd = Window.partitionBy("left_id", "right_id", "diag").orderBy(
        "pos1"
    )
    new_span = (
        F.when(
            F.col("pos1") - F.lag("pos1").over(wd) > merge_gap, 1
        )
        .otherwise(0)
        .cast("bigint")
    )
    spans = (
        m.withColumn("_brk", new_span)
        .withColumn(
            "span_id",
            F.sum("_brk").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("left_id", "right_id", "diag", "span_id")
        .agg(
            F.min("pos1").alias("start1"),
            (F.max("pos1") + F.lit(k - 1)).alias("end1"),
            F.min("pos2").alias("start2"),
            (F.max("pos2") + F.lit(k - 1)).alias("end2"),
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        )
        .where(F.col("n_fps") >= min_fps)
        .select(
            "left_id",
            "right_id",
            "start1",
            "end1",
            "start2",
            "end2",
            "n_fps",
        )
    )
    return spans


BLOOM_M_BITS = 1 << 15
BLOOM_K = 3
_BLOOM_B1, _BLOOM_P1 = 257, 1_000_000_007
_BLOOM_B2, _BLOOM_P2 = 131, 998_244_353


def _gram_hash(col, base: int, mod: int):
    """Explicit polynomial string hash (Σ code·base^j mod mod) as a
    codegen fold over the gram's characters — the winnowing hash
    discipline: any engine restates it bit-for-bit."""
    cs = F.filter(
        F.split(col, ""), lambda x: x != F.lit("")
    )
    return F.aggregate(
        cs,
        F.lit(0).cast("bigint"),
        lambda a, ch: (a * base + F.ascii(ch)) % mod,
    )


def bloom_build_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build an EXPLICIT Bloom filter over a corpus' distinct word
    n-grams: double hashing (Kirsch–Mitzenmacher — probe_j = (h1 +
    j·h2) mod m from two independent polynomial hashes), 32 bits per
    int64 word so no probe ever touches the sign bit. Returns the
    filter as a DataFrame of (word_idx, bits) — m/32 rows regardless
    of corpus size, the broadcastable representation.

    Why: decontamination against an eval set normally broadcasts the
    full eval n-gram SET; at a 10^9-gram eval suite that broadcast is
    gigabytes. The Bloom words table is fixed-size (m/32 rows), the
    probe is local map work, and only bloom-passing grams proceed to
    the exact join — the standard two-phase prefilter, with the FP
    rate fully visible downstream (``bloom_probe_ngrams`` reports
    bloom hits and true hits side by side). Every bit derives from
    explicit integer arithmetic — no engine-private hash — so the
    filter contents are value-checkable cross-engine."""
    grams = df.select(
        F.explode(word_shingles(text_col, n)).alias("gram")
    ).distinct()
    h1 = _gram_hash(F.col("gram"), _BLOOM_B1, _BLOOM_P1)
    h2 = _gram_hash(F.col("gram"), _BLOOM_B2, _BLOOM_P2)
    probes = grams.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda j: (h1 + j.cast("bigint") * h2)
                % F.lit(m_bits),
            )
        ).alias("p")
    )
    return (
        probes.select(
            (F.col("p") / 32).cast("bigint").alias("word_idx"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(b)").cast("bigint").alias("bits"))
    )


def bloom_probe_ngrams(
    df: DataFrame,
    bloom: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe ``df``'s distinct n-grams against a ``bloom_build_ngrams``
    filter, then exact-join ONLY the bloom-passing grams against the
    true eval gram set: per document, (n_grams, bloom_hits,
    true_hits). bloom_hits ≥ true_hits always (no false negatives —
    the Bloom guarantee, asserted by the pytest); the gap IS the
    measured false-positive count, the number a tuning pass reads to
    size m.

    Scale shape: the m/32-row filter broadcasts; probing is per-gram
    map work (k probe positions joined against the broadcast words);
    the exact join's left side shrinks to the bloom survivors — at a
    clean corpus that is ~FP-rate of the gram stream instead of all
    of it."""
    grams = df.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, n)).alias("gram"),
    )
    h1 = _gram_hash(F.col("gram"), _BLOOM_B1, _BLOOM_P1)
    h2 = _gram_hash(F.col("gram"), _BLOOM_B2, _BLOOM_P2)
    probed = grams.select(
        F.col(id_col),
        "gram",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda j: (h1 + j.cast("bigint") * h2)
                % F.lit(m_bits),
            )
        ).alias("p"),
    ).select(
        F.col(id_col),
        "gram",
        (F.col("p") / 32).cast("bigint").alias("word_idx"),
        F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias("b"),
    )
    hits = (
        probed.join(F.broadcast(bloom), "word_idx", "left")
        .withColumn(
            "_set",
            (
                F.coalesce(F.col("bits"), F.lit(0))
                .bitwiseAND(F.col("b"))
                != 0
            ).cast("int"),
        )
        .groupBy(id_col, "gram")
        .agg(
            (F.sum("_set") == F.lit(k)).alias("bloom_hit")
        )
    )
    ev = eval_grams.select(
        F.col("gram"), F.lit(True).alias("_in_eval")
    ).distinct()
    checked = hits.join(
        ev, "gram", "left"
    ).select(
        F.col(id_col),
        F.col("bloom_hit"),
        (F.col("bloom_hit") & F.coalesce("_in_eval", F.lit(False))).alias(
            "true_hit"
        ),
    )
    return checked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("int"))
        .cast("bigint")
        .alias("bloom_hits"),
        F.sum(F.col("true_hit").cast("int"))
        .cast("bigint")
        .alias("true_hits"),
    )
