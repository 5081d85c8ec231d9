"""Embedding scalar quantization (int8 codes) + quantized search.

At 100 TB the dominant cost of embedding workloads is moving float32
vectors through scans and shuffles. Per-dimension scalar quantization
(the SQ8 scheme from the public FAISS / ScaNN literature) cuts vector
bytes 4× with bounded reconstruction error:

    code_j = clamp(floor((x_j - min_j) * 255 / (max_j - min_j)), 0, 255)
    x̂_j    = min_j + (code_j + 0.5) * (max_j - min_j) / 255

so |x_j - x̂_j| <= range_j / 255 / 2 + one quantile of float noise.

Design:

- ``fit_quantizer``  one pass: posexplode → per-dim min/max (64 rows).
- ``quantize``       params collapse to ONE row of dim-indexed arrays,
  broadcast-cross-joined; codes are a pure-codegen indexed ``transform``
  (no Python, no per-dim join).
- ``quantized_topk`` dequantizes inside the same codegen expression and
  reuses the exact top-k plan (TakeOrderedAndProject) — the scan reads
  the 4×-narrower codes column only.

Degenerate dims (min == max) encode as 0 and decode back to the
constant — no divide-by-zero.

All arithmetic is float→double promotion (exact) followed by a fixed
IEEE expression order, so codes are engine-portable and the catalog
entry is value-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_quantizer(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension (dim_idx 0-based, mn, mx) over the corpus."""
    return (
        df.select(F.posexplode(vec_col).alias("dim_idx", "_x"))
        .groupBy("dim_idx")
        .agg(
            F.min(F.col("_x").cast("double")).alias("mn"),
            F.max(F.col("_x").cast("double")).alias("mx"),
        )
    )


def _params_row(params: DataFrame) -> DataFrame:
    """Collapse (dim_idx, mn, mx) to one row of dim-ordered arrays."""
    return params.agg(
        F.array_sort(
            F.collect_list(F.struct("dim_idx", "mn", "mx"))
        ).alias("_p")
    ).select(
        F.col("_p.mn").alias("_mins"), F.col("_p.mx").alias("_maxs")
    )


_CODE_EXPR = (
    "transform({vec}, (x, i) -> CAST(CASE "
    "WHEN _maxs[i] = _mins[i] THEN 0 "
    "ELSE LEAST(255, GREATEST(0, "
    "FLOOR(((CAST(x AS DOUBLE) - _mins[i]) * 255.0) "
    "/ (_maxs[i] - _mins[i])))) END AS INT))"
)


def quantize(
    df: DataFrame,
    params: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Attach ``out_col``: the int8-range code array for ``vec_col``."""
    out = (
        df.crossJoin(F.broadcast(_params_row(params)))
        .withColumn(out_col, F.expr(_CODE_EXPR.format(vec=vec_col)))
        .drop("_mins", "_maxs")
    )
    return out


_DEQ_EXPR = (
    "transform({codes}, (c, i) -> CASE "
    "WHEN _maxs[i] = _mins[i] THEN _mins[i] "
    "ELSE _mins[i] + ((CAST(c AS DOUBLE) + 0.5) "
    "* (_maxs[i] - _mins[i])) / 255.0 END)"
)


def quantized_topk(
    quantized: DataFrame,
    params: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Cosine top-k over dequantized codes (approximate — error bounded
    by the per-dim quantization step). Scans only (id, codes)."""
    import math

    qnorm = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    q_arr = F.array(*[F.lit(float(v)) for v in query_vec])
    deq = F.expr(_DEQ_EXPR.format(codes=codes_col))
    dot = F.aggregate(
        F.zip_with(deq, q_arr, lambda x, w: x * w),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(deq, lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return (
        quantized.select(F.col(id_col), F.col(codes_col))
        .crossJoin(F.broadcast(_params_row(params)))
        .select(
            F.col(id_col),
            (dot / (norm * F.lit(qnorm))).alias("cosine_q"),
        )
        .orderBy(F.col("cosine_q").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): subvector codebooks + asymmetric-distance
# top-k (the FAISS IVFPQ building block, re-expressed as joins)
# ---------------------------------------------------------------------------

# Fixed-point scale for assignment distances and ADC partial dot
# products. Assignment floors each per-dimension squared difference
# BEFORE the sum (order-free integer sum -> engine-portable argmin);
# ADC floors each per-subspace dot product before the cross-subspace
# sum (same trick). 2^20 keeps a 64-dim double sum far inside int64.
PQ_FP_SCALE = 1 << 20


def _pq_subvectors(vec_col: str, dim: int, m: int):
    """Array of m subvector arrays (double), sliced from ``vec_col``."""
    ds = dim // m
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.slice(F.col(vec_col), j * F.lit(ds) + F.lit(1), F.lit(ds)),
            lambda x: x.cast("double"),
        ),
    )


def _seq_norm(vec_col: str):
    """sqrt of the sequential-fold self-dot — same element order as
    DuckDB's list_dot_product(v, v), so norms are engine-identical."""
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") ** 2),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def sample_pq_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Deterministic seed codebook: code ``c`` of every subspace is the
    corresponding subvector of the (c+1)-th smallest-``id_col`` row.
    SQL-expressible (unlike a k-means fit), so the encode+ADC path can
    be VALUE-checked end to end against an oracle; also the init for
    ``fit_pq_codebook``. Returns (sub_idx, code, cent: array<double>).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {m}")
    from pyspark.sql.window import Window

    base = df.orderBy(id_col).limit(n_codes)
    coded = base.withColumn(
        "code", F.row_number().over(Window.orderBy(id_col)) - 1
    )
    return coded.select(
        F.col("code").cast("int").alias("code"),
        F.posexplode(_pq_subvectors(vec_col, dim, m)).alias(
            "sub_idx", "cent"
        ),
    ).select("sub_idx", "code", "cent")


def _pq_assign(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest codeword per (row, subspace): equi-join on sub_idx
    (fan-out = n_codes), fixed-point squared-L2, argmin with ties to
    the smallest code. Input subs: (_id, sub_idx, sv)."""
    dist_fp = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("cent"),
            lambda x, c: F.floor((x - c) * (x - c) * F.lit(float(PQ_FP_SCALE)))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return (
        subs.join(F.broadcast(codebook), "sub_idx")
        .select(
            "_id",
            "sub_idx",
            F.struct(dist_fp.alias("d"), F.col("code").alias("c")).alias(
                "_dc"
            ),
        )
        .groupBy("_id", "sub_idx")
        .agg(F.min("_dc").alias("_b"))
        .select("_id", "sub_idx", F.col("_b.c").alias("code"))
    )


def fit_pq_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 4,
) -> DataFrame:
    """Lloyd-iterated per-subspace codebooks (k-means in each of the m
    subspaces, run jointly: assignment is ONE equi-join keyed on
    sub_idx, centroid refresh is ONE aggregation over (sub_idx, code,
    dim)). The codebook is m x n_codes rows — control-plane-sized — so
    each round materializes it driver-side (same pattern as the IVF
    centroids) and lineage stays flat. Codes that lose all members
    keep their previous centroid. Not SQL-expressible (iterative);
    accuracy is pinned by the recall pytest instead.
    """
    spark = df.sparkSession
    subs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_pq_subvectors(vec_col, dim, m)).alias(
            "sub_idx", "sv"
        ),
    ).persist()
    try:
        cb_rows = {
            (r["sub_idx"], r["code"]): list(r["cent"])
            for r in sample_pq_codebook(
                df, id_col, vec_col, dim, m, n_codes
            ).collect()
        }
        schema = "sub_idx int, code int, cent array<double>"
        for _ in range(max(0, iters)):
            cb = spark.createDataFrame(
                [(s, c, v) for (s, c), v in cb_rows.items()], schema
            )
            new = (
                subs.join(_pq_assign(subs, cb), ["_id", "sub_idx"])
                .select(
                    "sub_idx", "code", F.posexplode("sv").alias("dim", "x")
                )
                .groupBy("sub_idx", "code", "dim")
                # order-free refresh: fixed-point bigint sum / count
                # instead of F.avg over doubles, so the fit is
                # DETERMINISTIC under partition reordering and a
                # crash-replayed bootstrap re-derives the identical
                # codebook (r6 advice — the replay-overwrite contract
                # in pipelines.vector_ingest_to_index leans on this)
                .agg(
                    (
                        F.sum(
                            F.floor(
                                F.col("x") * F.lit(float(PQ_FP_SCALE))
                            ).cast("bigint")
                        ).cast("double")
                        / F.count(F.lit(1)).cast("double")
                        / F.lit(float(PQ_FP_SCALE))
                    ).alias("mu")
                )
                .groupBy("sub_idx", "code")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "mu"))
                    ).alias("_p")
                )
                .select(
                    "sub_idx", "code", F.col("_p.mu").alias("cent")
                )
            )
            for r in new.collect():
                cb_rows[(r["sub_idx"], r["code"])] = list(r["cent"])
        return spark.createDataFrame(
            [(s, c, v) for (s, c), v in cb_rows.items()], schema
        )
    finally:
        subs.unpersist()


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """(id, pq_codes: array<int> of length m, vec_norm) — the
    m-byte-per-vector corpus representation (64 float32 bytes -> m
    codes + one stored norm; 8x-32x narrower scans/shuffles for every
    downstream search). The exact norm rides along so ADC scores can
    be normalized to cosine without touching the float vectors again.
    """
    subs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_pq_subvectors(vec_col, dim, m)).alias(
            "sub_idx", "sv"
        ),
    )
    best = _pq_assign(subs, codebook)
    codes = best.groupBy("_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_idx", "code"))),
            lambda x: x["code"],
        ).alias("pq_codes")
    )
    norms = df.select(
        F.col(id_col).alias("_id"), _seq_norm(vec_col).alias("vec_norm")
    )
    return codes.join(norms, "_id").select(
        F.col("_id").alias(id_col), "pq_codes", "vec_norm"
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays un-quantized; each
    (sub_idx, code) gets one fixed-point partial dot product with the
    query's subvector (an m x n_codes broadcast table computed from the
    codebook — never from the corpus), and a vector's score is the
    integer sum of its m lookups, normalized by the stored norms to a
    cosine approximation. Plan: posexplode(pq_codes) -> broadcast
    equi-join on (sub_idx, code) -> per-id sum -> TakeOrderedAndProject.
    The corpus scan reads (id, pq_codes, vec_norm) only.
    """
    import math

    ds = dim // m
    qnorm = math.sqrt(sum(float(v) ** 2 for v in query_vec))
    q_subs = F.array(
        *[
            F.array(
                *[F.lit(float(v)) for v in query_vec[j * ds:(j + 1) * ds]]
            )
            for j in range(m)
        ]
    )
    ip = F.aggregate(
        F.zip_with(
            F.col("cent"),
            F.element_at(q_subs, F.col("sub_idx") + 1),
            lambda c, q: c * q,
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    adc = codebook.select(
        "sub_idx",
        "code",
        F.floor(ip * F.lit(float(PQ_FP_SCALE))).cast("bigint").alias(
            "ip_fp"
        ),
    )
    scores = (
        encoded.select(
            F.col(id_col),
            "vec_norm",
            F.posexplode("pq_codes").alias("sub_idx", "code"),
        )
        .join(F.broadcast(adc), ["sub_idx", "code"])
        .groupBy(id_col, "vec_norm")
        .agg(F.sum("ip_fp").alias("score_fp"))
    )
    return (
        scores.select(
            F.col(id_col),
            (
                (F.col("score_fp").cast("double") / F.lit(float(PQ_FP_SCALE)))
                / (F.col("vec_norm") * F.lit(qnorm))
            ).alias("cosine_pq"),
        )
        .orderBy(F.col("cosine_pq").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk(
    encoded_with_cell: DataFrame,
    centroids,
    codebook: DataFrame,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """IVF + PQ — the production ANN shape: the coarse quantizer
    prunes the corpus to ``nprobe`` cells (an IN-list filter that
    becomes partition pruning on a ``partitionBy("_cell")`` lake
    layout), and ADC scores only the survivors' m-byte codes. Total
    read cost per query ≈ (nprobe / n_cells) x (m bytes + norm) per
    vector — the two reductions multiply.

    ``encoded_with_cell``: ``pq_encode`` output joined with the IVF
    ``_cell`` column. Cell selection is driver-side math over
    ≤ n_cells centroids (same as ``similarity.ivf_topk``). With
    ``nprobe >= n_cells`` the result equals plain ``pq_adc_topk``
    (pytest-pinned).
    """
    import math

    q = [float(v) for v in query_vec]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb) if na and nb else 0.0

    order = sorted(
        range(len(centroids)), key=lambda i: -cos(centroids[i], q)
    )
    probe = order[:nprobe]
    return pq_adc_topk(
        encoded_with_cell.where(F.col("_cell").isin(probe)),
        codebook,
        q,
        k=k,
        id_col=id_col,
        dim=dim,
        m=m,
    )


# ---------------------------------------------------------------------------
# Persisted PQ index: frozen-codebook appends + refit signal
# ---------------------------------------------------------------------------


def write_pq_index(
    encoded: DataFrame,
    codebook: DataFrame,
    path: str,
    dim: int,
    m: int,
    batch_id: int | str = "bootstrap",
) -> None:
    """Persist a PQ index: the m-byte codes table and a codebook
    sidecar. Codes live under per-batch partitions
    (``codes/ingest_batch_id=...``) — the bootstrap owns the
    ``batch_id`` partition (default ``bootstrap``) — so every later
    append is an idempotent per-batch-id
    overwrite and the layout never mixes plain files with partition
    directories. Pipelines that may REPLAY their bootstrap batch must
    pass the run's own id here (see ``vector_ingest_to_index``): a
    replay then lands in the append path and overwrites the very same
    partition instead of duplicating it under a second name."""
    from ..sources.writers import overwrite_batch_partition

    overwrite_batch_partition(encoded, f"{path}/codes", batch_id)
    meta = codebook.select(
        "sub_idx", "code", "cent",
        F.lit(dim).alias("dim"), F.lit(m).alias("m"),
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")


def read_pq_index(spark, path: str):
    """(codes_df, codebook_df, dim, m) from ``write_pq_index``. The
    per-batch ``ingest_batch_id`` lineage partition is dropped from
    the returned codes (filter on it before the drop to prune to one
    batch's directory)."""
    codes = spark.read.parquet(f"{path}/codes").drop("ingest_batch_id")
    cb = spark.read.parquet(f"{path}/codebook")
    row = cb.select("dim", "m").first()
    return codes, cb.select("sub_idx", "code", "cent"), row["dim"], row["m"]


def assignment_distortion(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """One row: mean fixed-point squared assignment distance over all
    (row, subspace) assignments — the quantization-quality scalar."""
    subs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_pq_subvectors(vec_col, dim, m)).alias(
            "sub_idx", "sv"
        ),
    )
    dist_fp = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("cent"),
            lambda x, c: F.floor(
                (x - c) * (x - c) * F.lit(float(PQ_FP_SCALE))
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    best = (
        subs.join(F.broadcast(codebook), "sub_idx")
        .select(
            "_id", "sub_idx",
            F.struct(dist_fp.alias("d"), F.col("code").alias("c")).alias(
                "_dc"
            ),
        )
        .groupBy("_id", "sub_idx")
        .agg(F.min("_dc").alias("_b"))
    )
    return best.agg(
        F.avg(F.col("_b.d").cast("double")).alias("mean_dist_fp"),
        F.count(F.lit(1)).alias("n_assignments"),
    )


def pq_index_drift(
    new_batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refit signal: the batch's mean assignment distortion vs the
    whole indexed corpus's distortion under the same frozen codebook
    (both computed over aggregates — one scan of the batch; the
    baseline is recomputed from... the batch caller's corpus is NOT
    rescanned: the comparison baseline is the batch-vs-batch ratio a
    deployment tracks over time). Returns one row
    (mean_dist_fp, n_assignments, drift_ratio vs the first batch's
    recorded baseline if present at ``{path}/baseline``, else NULL).
    """
    spark = new_batch.sparkSession
    _, cb, dim, m = read_pq_index(spark, path)
    cur = assignment_distortion(
        new_batch, cb, id_col=id_col, vec_col=vec_col, dim=dim, m=m
    )
    from ..sources import fs

    # Bootstrap-write the baseline only when it is GENUINELY absent
    # (explicit existence probe, r6 advice) — a transient read failure
    # must propagate, not silently reset the drift reference, and a
    # monitoring read must not gain a write side effect on error.
    base_path = f"{path}/baseline"
    if fs.list_data_files(spark, base_path):
        base = spark.read.parquet(base_path).first()["mean_dist_fp"]
    else:
        cur.coalesce(1).write.mode("overwrite").parquet(base_path)
        base = None
    if base is None:
        return cur.withColumn(
            "drift_ratio", F.lit(None).cast("double")
        )
    return cur.withColumn(
        "drift_ratio", F.col("mean_dist_fp") / F.lit(float(base))
    )


# ---------------------------------------------------------------------------
# Embedding validation gate
# ---------------------------------------------------------------------------


def embedding_issues(
    vec_col: str = "embedding", dim: int = 64
):
    """Column expr: the row's first validation issue ('' if clean) —
    wrong_dim / has_null / non_finite / zero_norm. Codegen only."""
    v = F.col(vec_col)
    has_null = F.exists(v, lambda x: x.isNull())
    non_finite = F.exists(
        v,
        lambda x: x.cast("double").isNaN()
        | (F.abs(x.cast("double")) == float("inf")),
    )
    sq = F.aggregate(
        F.transform(v, lambda x: x.cast("double") ** 2),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        F.when(v.isNull() | (F.size(v) != dim), F.lit("wrong_dim"))
        .when(has_null, F.lit("has_null"))
        .when(non_finite, F.lit("non_finite"))
        .when(sq == 0.0, F.lit("zero_norm"))
        .otherwise(F.lit(""))
    )


def validate_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """(clean, quarantined) split for a vector batch — the schema gate
    an embedding lake runs before indexing (a single NaN poisons every
    distance involving its vector; a wrong-dim row breaks subvector
    slicing). One codegen pass, no shuffle; ``quarantined`` carries an
    ``issue`` column for the dead-letter write."""
    tagged = df.withColumn("issue", embedding_issues(vec_col, dim))
    clean = tagged.where(F.col("issue") == "").drop("issue")
    quarantined = tagged.where(F.col("issue") != "")
    return clean, quarantined
