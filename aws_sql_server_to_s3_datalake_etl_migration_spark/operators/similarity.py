"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN systems scale:

- ``brute_force_topk``  exact cosine top-k — the correctness baseline.
  One narrow scan + TakeOrderedAndProject; at 100 TB this is the
  per-partition-topk-then-merge plan Spark already generates.
- ``ivf_topk``          IVF-style scale path: vectors are assigned to
  coarse centroids once (``build_ivf_index``); a query probes only the
  ``nprobe`` nearest cells, scanning a fraction of the data. Centroids
  come from k-means|| (Spark MLlib) when available, else a
  deterministic hash-partition fallback.

All distance math is pure column expressions (``zip_with`` +
``aggregate`` folds in whole-stage codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import with_coalesced_cached_rounds


def _dot(vec_col, lit_vec) -> F.Column:
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(float(v)) for v in lit_vec]),
            lambda x, w: x.cast("double") * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(
                vec_col, lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def vector_norm(vec_col) -> F.Column:
    """Public L2-norm fold — the exact expression ``pairwise_cosine``
    uses internally, exposed so callers can HOIST per-row norms out of
    per-pair scoring expressions (r15, guide §1.2) and pass them back
    via ``pairwise_cosine(..., a_norm=, b_norm=)`` with bit-identical
    results."""
    return _norm(vec_col)


def cosine_to_query(vec_col, query_vec) -> F.Column:
    """Cosine similarity of each row's vector to a literal query vector."""
    import math

    qnorm = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    return _dot(vec_col, query_vec) / (_norm(vec_col) * F.lit(qnorm))


def brute_force_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Deterministic
    tiebreak on id so the result set is stable."""
    return (
        df.select(
            F.col(id_col),
            cosine_to_query(F.col(vec_col), query_vec).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def build_ivf_index(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_iter: int = 5,
):
    """IVF coarse quantizer: k-means centroids + cell assignment.

    Returns (assigned_df with ``_cell`` column, centroids: list[list
    [float]]). Uses MLlib KMeans (k-means|| init, distributed); the
    assignment write would be partitioned by ``_cell`` in a lake
    deployment so probes prune files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn(
        "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_features",
        predictionCol="_cell",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def write_ivf_index(
    assigned: DataFrame,
    centroids,
    path: str,
) -> None:
    """Persist the IVF index to the lake: the assignment table is
    written ``partitionBy("_cell")`` so a probe's ``_cell IN (...)``
    filter prunes whole directories at *listing* time — at 100 TB a
    probe touches nprobe/n_cells of the files instead of scanning
    everything. Centroids (≤ n_cells tiny rows) go to a sidecar table.
    """
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        f"{path}/assigned"
    )
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def read_ivf_index(spark, path: str):
    """Load an index written by ``write_ivf_index``. Returns
    (assigned_df, centroids) — probe with ``ivf_topk`` as usual; the
    IN-list on ``_cell`` becomes a PartitionFilter on this table."""
    assigned = spark.read.parquet(f"{path}/assigned")
    rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = [
        list(r["centroid"]) for r in sorted(rows, key=lambda r: r["cell"])
    ]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` cells whose centroids are closest to the
    query, exact cosine within them. Cell selection is driver-side math
    over ≤ n_cells centroids (tiny); the scan prunes to the probed
    cells via an IN-list filter (partition pruning on a real lake)."""
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb) if na and nb else 0.0

    q = [float(v) for v in query_vec]
    order = sorted(
        range(len(centroids)), key=lambda i: -cos(centroids[i], q)
    )
    probe = order[:nprobe]
    return (
        assigned.where(F.col("_cell").isin(probe))
        .select(
            F.col(id_col),
            cosine_to_query(F.col(vec_col), q).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


SEED_CELL_FP_SCALE = 1 << 20


def seeded_cell_assign(
    df: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-cell assignment: the centroids are the
    embeddings of the ``n_cells`` SMALLEST ids (the PQ codebook's
    seed discipline — no sampling, no RNG, no engine-private
    initialization), and every vector goes to the centroid minimizing
    the FIXED-POINT squared L2 distance (per-dimension
    ``floor((x−c)² · 2^20)`` summed as int64; ties break to the
    lowest centroid id). Zero Lloyd iterations — this is the
    value-checkable twin of the k-means cells in ``semantic_dedup``:
    every step is a pure integer/compare expression any engine can
    restate bit-for-bit, at the cost of centroid quality (seed cells
    are adequate for the SemDeDup recipe because downstream pairing
    re-checks exact cosine; cells only gate candidate generation).

    Returns ``df`` plus ``_cell`` (the chosen centroid's id). One
    bounded broadcast join (n_cells rows) + one hash-agg argmin —
    O(n · n_cells) work, no shuffle of the corpus."""
    cents = (
        df.select(
            F.col(id_col).alias("_cell"), F.col(vec_col).alias("_cv")
        )
        .orderBy("_cell")
        .limit(n_cells)
    )
    dist_fp = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("_cv"),
            lambda x, c: F.floor(
                (x.cast("double") - c.cast("double"))
                * (x.cast("double") - c.cast("double"))
                * F.lit(float(SEED_CELL_FP_SCALE))
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    best = (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.struct(dist_fp.alias("d"), F.col("_cell")).alias("_dc"),
        )
        .groupBy(id_col)
        .agg(F.min("_dc").getField("_cell").alias("_cell"))
    )
    return df.join(best, id_col)


def pairwise_cosine(a_col, b_col, a_norm=None, b_norm=None) -> F.Column:
    """Cosine similarity between two array columns (codegen fold).

    ``a_norm``/``b_norm``: optional PRECOMPUTED ``_norm`` columns
    (r15, guide §1.2 per-task work). On quadratic candidate joins the
    norms are per-ROW quantities evaluated inside a per-PAIR
    expression — hoisting them into the join inputs cuts the fold
    work per pair from three array aggregates to one. The result is
    bit-identical by construction: the hoisted column is the exact
    same ``sqrt(Σx²)`` expression over the exact same array, and the
    ``dot / (na * nb)`` structure (including multiply order) is
    unchanged, so every IEEE operation sees the same operands."""
    dot = F.aggregate(
        F.zip_with(
            a_col, b_col, lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = a_norm if a_norm is not None else _norm(a_col)
    nb = b_norm if b_norm is not None else _norm(b_col)
    return dot / (na * nb)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.97,
    n_cells: int = 16,
    max_cell_size: int = 1000,
    seed: int = 11,
    max_iter: int = 20,
    seeded_cells: bool = False,
) -> DataFrame:
    """Semantic deduplication over an embedding column — the SemDeDup
    recipe (cluster, then pairwise cosine WITHIN clusters only):

    1. k-means the embeddings into ``n_cells`` coarse clusters
       (``build_ivf_index`` — k-means|| in MLlib, distributed);
    2. equi-join on the cell id and keep pairs with cosine >=
       ``threshold`` — candidate volume is per-cell quadratic, never
       corpus-quadratic, and cells past ``max_cell_size`` are dropped
       (same skew guard + documented recall trade as the LSH caps:
       a pathological cell is boilerplate that exact/near dedup
       upstream should have collapsed);
    3. connected components over the pair graph, min-id canonical
       label per group.

    At corpus scale, ``n_cells`` should grow with n (cells of a few
    thousand docs each): candidate work is sum of cell^2, so more,
    smaller cells = less work, at some recall cost for pairs straddling
    a cell boundary — the knob SemDeDup itself exposes.

    Returns all original columns plus ``semantic_cluster`` (the min
    reachable id) and ``keep`` (true for the one survivor per group;
    singletons keep themselves).
    """
    from .dedup import connected_components

    if n_cells == 1:
        # degenerate exact configuration (MLlib KMeans requires k>1):
        # one cell = all-pairs within the corpus — the value-checkable
        # small-scale verifier shape (emb_semantic_dedup_exact)
        assigned = df.withColumn("_cell", F.lit(0))
    elif seeded_cells:
        # deterministic multi-cell configuration: seed-id centroids +
        # fixed-point argmin, so the ENTIRE celled pipeline (assign,
        # cap, within-cell pairing, components) is restatable in SQL —
        # the value-checkable twin of the k-means path
        # (emb_semantic_dedup_cells)
        assigned = seeded_cell_assign(
            df, n_cells, id_col=id_col, vec_col=vec_col
        )
    else:
        assigned, _ = build_ivf_index(
            df, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed
        )
    # Persisted (r15, guide §5): the cell-count aggregate, both pair-
    # join sides AND every round of the downstream components loop
    # derive from this projection — unpersisted, the (scan + assign)
    # lineage re-ran once per reference (the assignment argmin alone
    # is ~1.2 s warm at sf0.1). Released after the components labels
    # materialize inside connected_components below.
    slim = assigned.select(id_col, vec_col, "_cell").persist()
    try:
        counts = slim.groupBy("_cell").agg(F.count(F.lit(1)).alias("_n"))
        bounded = slim.join(
            counts.where(F.col("_n") <= max_cell_size).select("_cell"), "_cell"
        )
        # norms hoisted to the join inputs (r15, guide §1.2): one fold
        # per row instead of two per candidate pair; value bit-identical
        # (see pairwise_cosine)
        a = bounded.select(
            "_cell",
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
            _norm(F.col(vec_col)).alias("_na"),
        )
        b = bounded.select(
            "_cell",
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
            _norm(F.col(vec_col)).alias("_nb"),
        )
        pairs = (
            a.join(b, "_cell")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                pairwise_cosine(
                    F.col("_va"),
                    F.col("_vb"),
                    a_norm=F.col("_na"),
                    b_norm=F.col("_nb"),
                ),
            )
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b")
        )
        # connected_components materializes its returned labels
        # (persist + per-round actions) before returning, so slim's
        # cache has served every reader by the time we release it
        labels = connected_components(
            pairs, df.select(F.col(id_col)), id_col=id_col,
            max_iter=max_iter,
        )
    finally:
        slim.unpersist()
    lbl = labels.select(
        F.col(id_col), F.col("cluster_id").alias("semantic_cluster")
    )
    return df.join(lbl, id_col).withColumn(
        "keep", F.col(id_col) == F.col("semantic_cluster")
    )


def ivf_topk_batch(
    assigned: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch ANN join: per-query cosine top-``k`` for a whole
    DataFrame of queries in one distributed plan (the production shape
    — single-query ``ivf_topk`` picks cells on the driver, which can't
    scale to millions of queries).

    1. every query scores the ≤ n_cells centroids (broadcast; the
       cross product is |Q| × n_cells narrow rows) and keeps its
       ``nprobe`` closest cells — a per-query window over n_cells rows;
    2. (query, cell) pairs equi-join the assignment table on the cell
       key, so each query scans ~nprobe/n_cells of the corpus and the
       join never goes all-pairs;
    3. exact cosine against the carried query vector, then a
       per-query top-k window (rank ≤ k, deterministic id tiebreak).

    Recall equals single-query ``ivf_topk`` by construction (same
    probed cells); ``nprobe = n_cells`` degenerates to exact
    brute-force ranking.
    """
    spark = assigned.sparkSession
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    cent = spark.createDataFrame(
        cent_rows, f"_cell int, _centroid array<double>"
    )
    # query-side norm hoisted once per query row (r15, guide §1.2);
    # corpus-side norm hoisted once per corpus row below — one fold
    # per scored pair instead of three, bit-identical values
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).alias("_qvec"),
        _norm(F.col(query_vec_col)).alias("_qn"),
    )
    from pyspark.sql.window import Window

    w_cell = Window.partitionBy("_qid").orderBy(
        F.col("_ccos").desc(), F.col("_cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "_ccos",
            pairwise_cosine(
                F.col("_qvec"), F.col("_centroid"), a_norm=F.col("_qn")
            ),
        )
        .withColumn("_crank", F.row_number().over(w_cell))
        .where(F.col("_crank") <= nprobe)
        .select("_qid", "_qvec", "_qn", "_cell")
    )
    w_k = Window.partitionBy("_qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        probes.join(
            assigned.withColumn("_cn", _norm(F.col(vec_col))), "_cell"
        )
        .withColumn(
            "cosine",
            pairwise_cosine(
                F.col("_qvec"),
                F.col(vec_col),
                a_norm=F.col("_qn"),
                b_norm=F.col("_cn"),
            ),
        )
        .withColumn("_rank", F.row_number().over(w_k))
        .where(F.col("_rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            "cosine",
            F.col("_rank").alias("rank"),
        )
    )


def hard_negative_mining(
    assigned: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    (an anchor with its label), the ``k`` most-cosine-similar corpus
    vectors whose label DIFFERS — the near-misses that make the best
    negatives. Same plan skeleton as ``ivf_topk_batch`` (broadcast
    centroid scoring -> probed-cell equi-join -> per-query top-k
    window); the label-inequality filter runs BEFORE the cosine so
    excluded vectors cost a comparison, not a fold. At
    ``nprobe = n_cells`` this is exact by construction (every cell is
    probed), which is what makes the catalog entry value-checkable;
    partial probe is the scale path with IVF recall semantics.
    """
    spark = assigned.sparkSession
    from pyspark.sql.window import Window

    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "_cell int, _centroid array<double>",
    )
    # norms hoisted once per query / corpus row (r15, guide §1.2):
    # the scored candidate set is queries x probed-cell corpus rows,
    # so per-pair folds drop 3x; values bit-identical (pairwise_cosine)
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).alias("_qvec"),
        F.col(query_label_col).alias("_qlabel"),
        _norm(F.col(query_vec_col)).alias("_qn"),
    )
    w_cell = Window.partitionBy("_qid").orderBy(
        F.col("_ccos").desc(), F.col("_cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "_ccos",
            pairwise_cosine(
                F.col("_qvec"), F.col("_centroid"), a_norm=F.col("_qn")
            ),
        )
        .withColumn("_crank", F.row_number().over(w_cell))
        .where(F.col("_crank") <= nprobe)
        .select("_qid", "_qvec", "_qlabel", "_qn", "_cell")
    )
    w_k = Window.partitionBy("_qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        probes.join(
            assigned.withColumn("_cn", _norm(F.col(vec_col))), "_cell"
        )
        .where(F.col(label_col) != F.col("_qlabel"))
        .withColumn(
            "cosine",
            pairwise_cosine(
                F.col("_qvec"),
                F.col(vec_col),
                a_norm=F.col("_qn"),
                b_norm=F.col("_cn"),
            ),
        )
        .withColumn("_rank", F.row_number().over(w_k))
        .where(F.col("_rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.col(label_col),
            "cosine",
            F.col("_rank").alias("rank"),
        )
    )


def knn_classify(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact k-NN majority-vote classification for a BOUNDED query
    batch: each query's k nearest corpus vectors by cosine (self
    excluded by id) vote on its label; ties break to the smaller
    label. Returns (query_id, pred_label, n_votes).

    Plan: broadcast the query batch against one corpus scan (|Q| must
    be bounded — the batch-ANN serving contract; an unbounded Q makes
    the work quadratic in corpus size by definition), per-query top-k
    via a rank window (WindowGroupLimit pushes the limit map-side),
    then a (query, label) hash-agg and a 1-row-per-query argmax
    window. Exact scoring is the value-checkable baseline; swap the
    scan for ``ivf_topk_batch``'s probed-cell join when the corpus
    outgrows brute force — the vote stage is identical.
    """
    from pyspark.sql.window import Window

    # norms hoisted once per query / corpus row (r15, guide §1.2);
    # bit-identical values (pairwise_cosine)
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).alias("_qvec"),
        _norm(F.col(query_vec_col)).alias("_qn"),
    )
    w_k = Window.partitionBy("_qid").orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    neigh = (
        df.select(
            id_col,
            vec_col,
            label_col,
            _norm(F.col(vec_col)).alias("_cn"),
        )
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("_qid"))
        .withColumn(
            "_cos",
            pairwise_cosine(
                F.col("_qvec"),
                F.col(vec_col),
                a_norm=F.col("_qn"),
                b_norm=F.col("_cn"),
            ),
        )
        .withColumn("_rank", F.row_number().over(w_k))
        .where(F.col("_rank") <= k)
    )
    w_vote = Window.partitionBy("_qid").orderBy(
        F.col("n_votes").desc(), F.col(label_col).asc()
    )
    return (
        neigh.groupBy("_qid", label_col)
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .withColumn("_vrank", F.row_number().over(w_vote))
        .where(F.col("_vrank") == 1)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(label_col).alias("pred_label"),
            "n_votes",
        )
    )


def pca_project(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """PCA dimensionality reduction for an embedding column — the
    standard pre-quantization / visualization step of an embedding
    pipeline. Returns (projected_df with ``projection``
    array<double>, explained_variance ratios list[float]).

    Spark-first: MLlib's distributed PCA (covariance accumulated in
    one pass over executors, eigendecomposition of the d x d Gram on
    the driver — d is the embedding width, so driver work is O(d^2)
    memory and O(d^3) flops regardless of corpus size; 100 TB of rows
    changes only the one distributed pass). The projection itself is
    a broadcast matrix multiply applied per row. Numerical contract
    (subspace match vs a direct eigendecomposition) is pinned by
    pytest; catalog exposure is rows-only since iterative linear
    algebra isn't SQL-expressible.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn(
        "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = PCA(k=k, inputCol="_features", outputCol="_pca").fit(feat)
    out = model.transform(feat).select(
        F.col(id_col),
        vector_to_array(F.col("_pca")).alias("projection"),
    )
    return out, [float(v) for v in model.explainedVariance]


def matryoshka_recall(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    trunc_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension cosine retrieval against the
    full-dimension exact top-k, per query — the acceptance gauge for
    Matryoshka-style dimension reduction (serve the first
    ``trunc_dim`` dims, re-rank with the full vector only when the
    cheap prefix already finds the right neighborhood).

    One corpus scan: the bounded query batch is broadcast, both
    cosines (full + prefix slice) come from the same pair row, and two
    rank windows over the same (query) partition produce both top-k
    memberships — recall is then a conditional count, no set
    intersection join. |Q| must be bounded (the batch-ANN serving
    contract); corpus side stays fully distributed.

    Returns (query_id, n_common, recall) with recall = |∩| / k as one
    exact-integer-over-literal double division (bit-stable).
    """
    from pyspark.sql.window import Window

    # full and sliced norms hoisted once per query / corpus row (r15,
    # guide §1.2); bit-identical values (pairwise_cosine)
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).alias("_qvec"),
        _norm(F.col(query_vec_col)).alias("_qn"),
        _norm(F.slice(F.col(query_vec_col), 1, trunc_dim)).alias(
            "_qnt"
        ),
    )
    pairs = (
        df.select(
            id_col,
            vec_col,
            _norm(F.col(vec_col)).alias("_cn"),
            _norm(F.slice(F.col(vec_col), 1, trunc_dim)).alias("_cnt"),
        )
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("_qid"))
        .withColumn(
            "_cos_full",
            pairwise_cosine(
                F.col("_qvec"),
                F.col(vec_col),
                a_norm=F.col("_qn"),
                b_norm=F.col("_cn"),
            ),
        )
        .withColumn(
            "_cos_trunc",
            pairwise_cosine(
                F.slice(F.col("_qvec"), 1, trunc_dim),
                F.slice(F.col(vec_col), 1, trunc_dim),
                a_norm=F.col("_qnt"),
                b_norm=F.col("_cnt"),
            ),
        )
    )
    w_full = Window.partitionBy("_qid").orderBy(
        F.col("_cos_full").desc(), F.col(id_col).asc()
    )
    w_trunc = Window.partitionBy("_qid").orderBy(
        F.col("_cos_trunc").desc(), F.col(id_col).asc()
    )
    ranked = pairs.withColumn(
        "_rf", F.row_number().over(w_full)
    ).withColumn("_rt", F.row_number().over(w_trunc))
    return (
        ranked.groupBy("_qid")
        .agg(
            F.sum(
                F.when(
                    (F.col("_rf") <= k) & (F.col("_rt") <= k), 1
                ).otherwise(0)
            ).alias("n_common")
        )
        .select(
            F.col("_qid").alias(query_id_col),
            "n_common",
            (F.col("n_common").cast("double") / F.lit(float(k))).alias(
                "recall"
            ),
        )
    )


@with_coalesced_cached_rounds
def label_propagation(
    df: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    iterations: int = 3,
    seed_filter=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seeded_cells: bool = False,
    fp_weights: bool = False,
) -> DataFrame:
    """Semi-supervised label propagation over an approximate kNN graph
    — spread the labels of a small seed set to the unlabeled bulk, the
    standard trick for growing a labeled training corpus from a
    hand-labeled nucleus.

    Graph build is the IVF recipe (``build_ivf_index``): k-means cells
    bound the candidate pairs to per-cell quadratic (never corpus-
    quadratic), cosine edges to each point's k nearest IN-CELL
    neighbors. Propagation is ``iterations`` rounds of one
    edge-to-label equi-join + (node, label) weight sum + per-node
    argmax window each; seeds never change labels.

    Round plumbing (r15, guide §1.2/§2.4 — replaces the r13 per-round
    persist+count): the keep-own-label/seed-clamp arm is folded INTO
    the vote aggregation as one SELF-VOTE row per node on the STATIC
    edge list (seed self-votes carry a +sentinel mass that beats any
    real vote sum, non-seed self-votes a −sentinel that loses to any;
    the ``_self`` grouping key keeps them from merging with a real
    vote for the same label), so each round references the evolving
    label frame exactly ONCE — the WCC self-loop trick. The iteration
    count is FIXED, so the rounds compose into ONE lazily-built
    linear plan executed as a single job (the ``pagerank_fixedpoint``
    cadence); the static augmented edge list persists hash-partitioned
    on the probe key so every round's join reuses the cached exchange
    and only the label-sized frame shuffles.

    Returns (vec_id, label, is_seed) — label is null for nodes no
    labeled component ever reached.
    """
    from pyspark.sql.window import Window

    if seed_filter is None:
        seed_filter = F.col(id_col) % 5 == 0
    if seeded_cells:
        # deterministic seed-id cells (seeded_cell_assign) — the
        # value-checkable twin configuration, same discipline as
        # emb_semantic_dedup_cells / emb_ivf_seeded_topk
        assigned = seeded_cell_assign(
            df.select(id_col, vec_col, label_col),
            n_cells,
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        assigned, _ = build_ivf_index(
            df.select(id_col, vec_col, label_col), n_cells=n_cells
        )
    # Both kNN join sides reference the assignment; persist it so the
    # edge build computes the (scan + assign) lineage once, not once
    # per side (r14 optimization, guide §5 caching rule — reused and
    # non-trivial to recompute). Released right after the edge list
    # materializes. The vector NORM is hoisted into the persisted
    # frame (r15, guide §1.2): the in-cell candidate join is per-cell
    # quadratic, so a per-ROW norm cuts the per-PAIR fold work 3x;
    # bit-identical values (pairwise_cosine).
    assigned = assigned.withColumn(
        "_nrm", _norm(F.col(vec_col))
    ).persist()
    a = assigned.select(
        F.col(id_col).alias("_src"),
        F.col(vec_col).alias("_svec"),
        F.col("_nrm").alias("_snrm"),
        "_cell",
    )
    b = assigned.select(
        F.col(id_col).alias("_dst"),
        F.col(vec_col).alias("_dvec"),
        F.col("_nrm").alias("_dnrm"),
        "_cell",
    )
    w_knn = Window.partitionBy("_src").orderBy(
        F.col("_w").desc(), F.col("_dst").asc()
    )
    edges = (
        a.join(b, on="_cell")
        .where(F.col("_src") != F.col("_dst"))
        .withColumn(
            "_w",
            # fp_weights: 2^30 fixed-point edge weights, so vote
            # masses are exact int64 sums and the per-node argmax is
            # engine-exact (float sums are partition-order-dependent
            # at the last ulp — fine for the production path, fatal
            # for a value oracle)
            F.floor(
                pairwise_cosine(
                    F.col("_svec"),
                    F.col("_dvec"),
                    a_norm=F.col("_snrm"),
                    b_norm=F.col("_dnrm"),
                )
                * F.lit(float(1 << 30))
            ).cast("bigint")
            if fp_weights
            else pairwise_cosine(
                F.col("_svec"),
                F.col("_dvec"),
                a_norm=F.col("_snrm"),
                b_norm=F.col("_dnrm"),
            ),
        )
        .withColumn("_r", F.row_number().over(w_knn))
        .where(F.col("_r") <= k)
        .select("_src", "_dst", "_w")
    )
    # Self-vote sentinels: vote masses are bounded (|w| <= 2^30 per
    # edge in fixed point, finite doubles otherwise; <= k edges per
    # node), so +/-2^62 (resp. +/-inf) can never tie a real vote sum.
    if fp_weights:
        seed_mass = F.lit(1 << 62).cast("bigint")
        keep_mass = F.lit(-(1 << 62)).cast("bigint")
    else:
        seed_mass = F.lit(float("inf"))
        keep_mass = F.lit(float("-inf"))
    self_votes = df.select(
        F.col(id_col).alias("_src"),
        F.col(id_col).alias("_dst"),
        F.when(seed_filter, seed_mass).otherwise(keep_mass).alias("_w"),
        F.lit(True).alias("_self"),
    )
    # Static for the whole fixed-round loop; hash-partitioned on the
    # probe key so each round's join reuses the cached exchange and
    # only the label-sized frame shuffles.
    edges_aug = (
        edges.withColumn("_self", F.lit(False))
        .unionByName(self_votes)
        .repartition(F.col("_dst"))
        .persist()
    )
    edges_aug.count()
    assigned.unpersist()
    labels = df.select(
        F.col(id_col).alias("_id"),
        F.when(seed_filter, F.col(label_col)).alias("_lbl"),
    )
    w_arg = Window.partitionBy("_src").orderBy(
        F.col("_mass").desc(), F.col("_lbl").asc()
    )
    try:
        for _ in range(iterations):
            # one reference to the evolving frame per round: real
            # edges deliver labeled-neighbor votes, the self row
            # delivers the keep/seed arm (separate ``_self`` group so
            # it never merges with a real vote for the same label).
            # Rank 1 = seed label for seeds (+sentinel), best vote
            # for voted non-seeds (finite beats -sentinel), old label
            # otherwise — exactly the former join-back update rule.
            labels = (
                edges_aug.join(
                    labels.select(F.col("_id").alias("_dst"), "_lbl"),
                    on="_dst",
                )
                .where(F.col("_lbl").isNotNull() | F.col("_self"))
                .groupBy("_src", "_lbl", "_self")
                .agg(F.sum("_w").alias("_mass"))
                .withColumn("_rank", F.row_number().over(w_arg))
                .where(F.col("_rank") == 1)
                .select(F.col("_src").alias("_id"), "_lbl")
            )
        out = (
            labels.join(
                df.select(
                    F.col(id_col).alias("_id"),
                    seed_filter.alias("is_seed"),
                ),
                on="_id",
            )
            .select(
                F.col("_id").alias(id_col),
                F.col("_lbl").alias(label_col),
                "is_seed",
            )
            .persist()
        )
        out.count()
        return out
    finally:
        edges_aug.unpersist()
