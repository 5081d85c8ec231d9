"""Round-6 curation operators: linkage, retrieval, quantization,
profiling, transitions, trend fits."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
    linkage,
    profile,
    quantize,
    retrieval,
    similarity,
    textops,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.timeseries import (
    groupwise_linear_trend,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark import (
    workloads_curation as wc,
)

from conftest import SF_SMOKE


def _lev(a: str, b: str) -> int:
    """Reference Levenshtein (full DP) for differentials."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[len(b)]


# ---------------------------------------------------------------------------
# Deletion-neighborhood edit-distance join
# ---------------------------------------------------------------------------

_LINK_STRINGS = [
    "alpha", "alpah", "alphaa", "alph", "aalpha",  # cluster around alpha
    "beta", "betta", "bta", "bet", "betaa",
    "gamma", "gamna", "gamm", "gmma",
    "delta", "dleta", "delt",
    "x", "xy", "", "y",  # tiny/empty edge cases
    "longerstringnoneighbors",
    "completelydifferent",
]


@pytest.mark.parametrize("d", [1, 2])
def test_edit_distance_join_matches_brute_force(spark, d):
    rows = [(i, s) for i, s in enumerate(_LINK_STRINGS)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.left_id, r.right_id, r.dist)
        for r in linkage.edit_distance_self_join(
            df, "id", "s", max_distance=d
        ).collect()
    }
    want = set()
    for i, a in rows:
        for j, b in rows:
            if i < j and _lev(a, b) <= d:
                want.add((i, j, _lev(a, b)))
    assert got == want


def test_edit_distance_join_rejects_bad_distance(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError):
        linkage.edit_distance_self_join(df, "id", "s", max_distance=3)


def test_deletion_keys_fanout_bounded(spark):
    # a length-L string must emit <= 1 + L keys at d=1
    df = spark.createDataFrame([(1, "abcdefgh")], "id long, s string")
    n = df.select(
        F.size(linkage.deletion_keys("s", 1)).alias("n")
    ).first()["n"]
    assert n <= 9


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_ranks_matching_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join window"),  # all terms, high tf
            (2, "spark join other words here pad pad pad"),
            (3, "nothing relevant at all"),
            (4, "window"),
        ],
        "doc_id long, text string",
    )
    out = retrieval.bm25_topk(docs, ["spark", "join", "window"], k=10)
    rows = {r.doc_id: (r.score_fp, r.rank) for r in out.collect()}
    assert 3 not in rows  # no query terms -> absent
    assert rows[1][1] == 1  # strongest match ranks first
    assert all(fp > 0 for fp, _ in rows.values())
    # more matched terms beats fewer at comparable lengths
    assert rows[2][0] > rows[4][0]


def test_bm25_empty_query_raises(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        retrieval.bm25_topk(docs, [])


# ---------------------------------------------------------------------------
# SQ8 quantization
# ---------------------------------------------------------------------------


def test_quantize_roundtrip_error_bounded(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    params = quantize.fit_quantizer(emb)
    coded = quantize.quantize(emb, params)
    pdf = coded.select("vec_id", "embedding", "codes").toPandas()
    p = params.toPandas().sort_values("dim_idx")
    mn = p["mn"].to_numpy()
    mx = p["mx"].to_numpy()
    step = np.where(mx > mn, (mx - mn) / 255.0, 0.0)
    for _, row in pdf.head(50).iterrows():
        x = np.asarray(row["embedding"], dtype=np.float64)
        c = np.asarray(row["codes"], dtype=np.float64)
        xhat = np.where(mx > mn, mn + (c + 0.5) * step, mn)
        # mid-rise reconstruction error is at most half a step
        assert np.all(np.abs(x - xhat) <= step / 2 + 1e-9)
        assert c.min() >= 0 and c.max() <= 255


def test_quantize_constant_dim(spark):
    df = spark.createDataFrame(
        [(1, [1.5, 2.0]), (2, [1.5, 3.0])],
        "vec_id long, embedding array<float>",
    )
    params = quantize.fit_quantizer(df)
    codes = {
        r.vec_id: r.codes
        for r in quantize.quantize(df, params).collect()
    }
    assert codes[1][0] == 0 and codes[2][0] == 0  # constant dim -> 0


def test_quantized_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    exact = [
        r.vec_id
        for r in similarity.brute_force_topk(emb, qv, k=10).collect()
    ]
    params = quantize.fit_quantizer(emb)
    coded = quantize.quantize(emb, params).select("vec_id", "codes")
    approx = [
        r.vec_id
        for r in quantize.quantized_topk(coded, params, qv, k=10).collect()
    ]
    # int8 quantization keeps >= 80% of the exact top-10
    assert len(set(exact) & set(approx)) >= 8


# ---------------------------------------------------------------------------
# Transition matrix
# ---------------------------------------------------------------------------


def test_transition_matrix_invariants(spark):
    out = wc.event_transition_matrix(spark, SF_SMOKE).toPandas()
    sums = out.groupby("src_type")["p_transition"].sum()
    assert np.allclose(sums.to_numpy(), 1.0, atol=1e-9)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert out["n_transitions"].sum() == n_events - n_users


# ---------------------------------------------------------------------------
# Column profiler
# ---------------------------------------------------------------------------


def test_profile_matches_pandas(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    prof = {
        r.col_name: r
        for r in profile.profile_columns(orders).collect()
    }
    pdf = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    assert set(prof) == set(pdf.columns)
    for c in ["o_orderkey", "o_custkey"]:
        r = prof[c]
        assert r.n_rows == len(pdf)
        assert r.n_nulls == int(pdf[c].isna().sum())
        assert r.n_distinct == pdf[c].nunique()
        assert r.min_value == str(pdf[c].min())
        assert r.max_value == str(pdf[c].max())
    assert prof["o_orderstatus"].min_value == pdf["o_orderstatus"].min()
    # doubles go through DECIMAL(18,4)
    assert prof["o_totalprice"].min_value == (
        f"{pdf['o_totalprice'].min():.4f}"
    )


def test_profile_approx_mode_schema(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    exact = profile.profile_columns(orders, cols=["o_orderkey"])
    approx = profile.profile_columns(
        orders, cols=["o_orderkey"], exact_distinct=False
    )
    assert exact.columns == approx.columns
    got = approx.first()
    true_n = exact.first().n_distinct
    assert abs(got.n_distinct - true_n) <= 0.1 * true_n


# ---------------------------------------------------------------------------
# Group-wise OLS trend
# ---------------------------------------------------------------------------


def test_trend_matches_polyfit(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["x"] = (
        ev["ts"].dt.normalize() - pd.Timestamp("1970-01-01")
    ).dt.days
    out = wc.events_value_trend(spark, SF_SMOKE).toPandas()
    for _, r in out.iterrows():
        g = ev[ev["event_type"] == r["event_type"]]
        slope, intercept = np.polyfit(
            g["x"].to_numpy(dtype=np.float64),
            g["value"].to_numpy(dtype=np.float64),
            1,
        )
        assert r["n_obs"] == len(g)
        # decimal(12,6) quantization of y bounds the divergence
        assert abs(r["slope"] - slope) < 1e-6
        assert abs(r["intercept"] - intercept) < 1e-2


def test_trend_degenerate_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("b", 2, 1.0), ("b", 2, 3.0)],
        "g string, x long, y double",
    )
    out = {
        r.g: r
        for r in groupwise_linear_trend(df, ["g"], "x", "y").collect()
    }
    assert out["a"].slope is None  # n < 2
    assert out["b"].slope is None  # zero x variance


# ---------------------------------------------------------------------------
# Source overlap
# ---------------------------------------------------------------------------


def test_source_overlap_invariants(spark):
    out = wc.doc_source_overlap(spark, SF_SMOKE).toPandas()
    assert (out["jaccard"] > 0).all() and (out["jaccard"] <= 1).all()
    assert (
        out[["source_a", "source_b"]].apply(tuple, axis=1).is_unique
    )
    assert (out["source_a"] < out["source_b"]).all()


# ---------------------------------------------------------------------------
# Incremental (mergeable) profiling
# ---------------------------------------------------------------------------


def test_edit_distance_join_hot_key_cap(spark):
    rows = [(i, s) for i, s in enumerate(_LINK_STRINGS)]
    df = spark.createDataFrame(rows, "id long, s string")
    exact = {
        (r.left_id, r.right_id)
        for r in linkage.edit_distance_self_join(df, "id", "s", 1).collect()
    }
    # generous cap: identical result
    high = {
        (r.left_id, r.right_id)
        for r in linkage.edit_distance_self_join(
            df, "id", "s", 1, hot_key_cap=1000
        ).collect()
    }
    assert high == exact
    # tight cap on adversarial constant-prefix data: bounded AND a
    # subset of the exact pairs
    adversarial = spark.createDataFrame(
        [(i, f"SHAREDPREFIX{i:03d}") for i in range(200)],
        "id long, s string",
    )
    capped = {
        (r.left_id, r.right_id)
        for r in linkage.edit_distance_self_join(
            adversarial, "id", "s", 1, hot_key_cap=10
        ).collect()
    }
    full = {
        (r.left_id, r.right_id)
        for r in linkage.edit_distance_self_join(
            adversarial, "id", "s", 1
        ).collect()
    }
    assert capped <= full


def test_edit_distance_join_block_cols(spark):
    # blocking in the key must equal post-filtering pairs on block
    # equality — and cross-block near-identical strings must never pair
    rows = [
        (0, "martha", 1),
        (1, "marths", 1),  # dist 1, same block -> pair
        (2, "martho", 2),  # dist 1 to both, different block -> no pair
        (3, "zzzzzz", 1),
        (4, "marthq", None),  # NULL block: never pairs
    ]
    df = spark.createDataFrame(rows, "id long, s string, blk int")
    blocked = {
        (r.left_id, r.right_id, r.dist)
        for r in linkage.edit_distance_self_join(
            df, "id", "s", 1, block_cols=["blk"]
        ).collect()
    }
    assert blocked == {(0, 1, 1)}
    # equivalence with the post-hoc filter on a bigger fuzzy set
    big = spark.createDataFrame(
        [(i, s, i % 3) for i, s in enumerate(_LINK_STRINGS)],
        "id long, s string, blk int",
    )
    unblocked = linkage.edit_distance_self_join(big, "id", "s", 1)
    side = big.select("id", "blk")
    post = {
        (r.left_id, r.right_id)
        for r in unblocked.join(
            side.withColumnRenamed("id", "left_id").withColumnRenamed(
                "blk", "bl"
            ),
            "left_id",
        )
        .join(
            side.withColumnRenamed("id", "right_id").withColumnRenamed(
                "blk", "br"
            ),
            "right_id",
        )
        .where("bl = br")
        .collect()
    }
    in_key = {
        (r.left_id, r.right_id)
        for r in linkage.edit_distance_self_join(
            big, "id", "s", 1, block_cols=["blk"]
        ).collect()
    }
    assert in_key == post


def test_bm25_batch_matches_single_query(spark):
    """A batch of one query must reproduce the single-query ranking
    exactly (scores AND order) when df is computed over the same
    vocabulary."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    terms = ["spark", "join", "window"]
    single = [
        (r.doc_id, r.score_fp, r.rank)
        for r in retrieval.bm25_topk(docs, terms, k=5).collect()
    ]
    qdf = spark.createDataFrame(
        [(9, terms)], "query_id long, terms array<string>"
    )
    batch = [
        (r.doc_id, r.score_fp, r.rank)
        for r in retrieval.bm25_topk_batch(docs, qdf, k=5)
        .orderBy("rank")
        .collect()
    ]
    assert batch == single


def test_bm25_batch_duplicate_terms_counted_once(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark join"), (2, "join join join")],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame(
        [(1, ["spark", "spark", "join"])],
        "query_id long, terms array<string>",
    )
    dup = {
        r.doc_id: r.score_fp
        for r in retrieval.bm25_topk_batch(docs, qdf, k=5).collect()
    }
    qdf2 = spark.createDataFrame(
        [(1, ["spark", "join"])], "query_id long, terms array<string>"
    )
    nodup = {
        r.doc_id: r.score_fp
        for r in retrieval.bm25_topk_batch(docs, qdf2, k=5).collect()
    }
    assert dup == nodup


# ---------------------------------------------------------------------------
# Bigram LM fluency
# ---------------------------------------------------------------------------


def test_lm_fluency_orders_by_predictability(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat the cat sat the cat sat"),  # repeated bigrams
            (2, "the cat sat on a warm quiet red mat"),  # each bigram once
            (3, "zq"),  # single token -> no bigrams
            (4, ""),  # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.lm_fluency(docs).collect()}
    assert out[1].lm_score > out[2].lm_score
    assert out[3].n_bigrams == 0 and out[3].lm_score is None
    assert out[4].n_bigrams == 0 and out[4].lm_score is None
    assert out[1].n_bigrams == 8


def test_lm_fluency_score_in_unit_interval(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pdf = textops.lm_fluency(docs).toPandas()
    scored = pdf[pdf["lm_score"].notna()]
    assert (scored["lm_score"] >= 0).all()
    assert (scored["lm_score"] <= 1).all()


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def test_pq_kmeans_recall_vs_exact(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize, similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [
        float(v)
        for v in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    exact = {
        r.vec_id for r in similarity.brute_force_topk(embs, q, k=10).collect()
    }
    cb = quantize.fit_pq_codebook(embs, m=16, n_codes=64, iters=2)
    enc = quantize.pq_encode(embs, cb, m=16)
    pq = {
        r.vec_id
        for r in quantize.pq_adc_topk(enc, cb, q, k=10, m=16).collect()
    }
    # measured 9/10 at iters=3, 16x4-dim subspaces; assert with margin
    assert len(exact & pq) >= 6


def test_pq_shortlist_rerank_recovers_exact_topk(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize, similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [
        float(v)
        for v in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    exact = [
        r.vec_id for r in similarity.brute_force_topk(embs, q, k=10).collect()
    ]
    cb = quantize.fit_pq_codebook(embs, m=16, n_codes=64, iters=2)
    enc = quantize.pq_encode(embs, cb, m=16)
    shortlist = quantize.pq_adc_topk(enc, cb, q, k=100, m=16).select("vec_id")
    rerank = [
        r.vec_id
        for r in similarity.brute_force_topk(
            embs.join(shortlist, "vec_id", "left_semi"), q, k=10
        ).collect()
    ]
    # the standard two-stage pattern: PQ shortlist + exact rerank
    # recovers nearly the whole exact top-10
    assert len(set(exact) & set(rerank)) >= 8


def test_pq_codewords_reproduce_exactly(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize,
    )

    # corpus whose vectors ARE the codebook entries: every subvector
    # assignment must hit its own codeword with distance 0, and ADC
    # must equal the (fixed-point) true dot product
    embs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where(F.col("vec_id") < 16)
    cb = quantize.sample_pq_codebook(embs, m=8, n_codes=16)
    enc = quantize.pq_encode(embs, cb, m=8)
    codes = {r.vec_id: list(r.pq_codes) for r in enc.collect()}
    for vid, cs in codes.items():
        assert cs == [vid] * 8, (vid, cs)


def test_ivfpq_full_probe_equals_plain_pq(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize, similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [
        float(v)
        for v in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    assigned, centroids = similarity.build_ivf_index(embs, n_cells=8)
    cb = quantize.fit_pq_codebook(embs, m=16, n_codes=64, iters=1)
    enc = quantize.pq_encode(embs, cb, m=16)
    enc_c = enc.join(assigned.select("vec_id", "_cell"), "vec_id")
    plain = [r.vec_id for r in quantize.pq_adc_topk(enc, cb, q, k=10, m=16).collect()]
    full = [
        r.vec_id
        for r in quantize.ivfpq_topk(
            enc_c, centroids, cb, q, k=10, nprobe=8, m=16
        ).collect()
    ]
    assert full == plain
    # partial probe: a real subset of cells is scanned, recall holds
    part = {
        r.vec_id
        for r in quantize.ivfpq_topk(
            enc_c, centroids, cb, q, k=10, nprobe=4, m=16
        ).collect()
    }
    exact = {
        r.vec_id for r in similarity.brute_force_topk(embs, q, k=10).collect()
    }
    assert len(part & exact) >= 4


def test_validate_embeddings_classifies_and_splits(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        quantize,
    )

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0]),            # wrong_dim
        (3, None),                        # wrong_dim
        (4, [1.0, None, 3.0, 4.0]),       # has_null
        (5, [1.0, float("nan"), 3.0, 4.0]),   # non_finite
        (6, [1.0, float("inf"), 3.0, 4.0]),   # non_finite
        (7, [0.0, 0.0, 0.0, 0.0]),        # zero_norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    clean, quar = quantize.validate_embeddings(df, dim=4)
    assert [r.vec_id for r in clean.collect()] == [1]
    issues = {r.vec_id: r.issue for r in quar.collect()}
    assert issues == {
        2: "wrong_dim", 3: "wrong_dim", 4: "has_null",
        5: "non_finite", 6: "non_finite", 7: "zero_norm",
    }


# ---------------------------------------------------------------------------
# PII scrubbing (round 7)
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_all_categories(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "server at 192.168.10.250 and 10.0.0.1 rebooted"),
        (3, "call 555-867-5309 or 555.123.4567 now"),
        (4, "mixed: a@b.io via 8.8.8.8 at 555-000-1111"),
        (5, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_e, n_i, n_p = textops.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textops.scrub_pii("text").alias("clean"),
            n_e.alias("e"),
            n_i.alias("i"),
            n_p.alias("p"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (1, 0, 0)
    assert out[1]["clean"] == "mail me at <EMAIL> today"
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 2, 0)
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (0, 0, 2)
    assert (out[4]["e"], out[4]["i"], out[4]["p"]) == (1, 1, 1)
    assert out[4]["clean"] == "mixed: <EMAIL> via <IP> at <PHONE>"
    assert out[5]["clean"] == rows[4][1]
    # no raw PII shape survives in any scrubbed text
    import re

    for r in out.values():
        for pat in (
            textops.PII_EMAIL_RE,
            textops.PII_IPV4_RE,
            textops.PII_PHONE_RE,
        ):
            assert not re.search(pat, r["clean"])


def test_pii_scrub_ip_not_double_counted_as_phone(spark):
    # the precedence contract _PII_ORDER documents: a valid dotted
    # quad is consumed whole by the IP pass and never contributes a
    # phone match (final phone group needs 4 digits, octets have <=3);
    # a 4-digit tail is NOT a valid quad and legitimately parses as a
    # dotted phone
    rows = [(1, "ip 123.456.789.012 x"), (2, "ip 123.456.789.0123 x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_e, n_i, n_p = textops.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", n_i.alias("i"), n_p.alias("p")).collect()
    }
    assert (out[1]["i"], out[1]["p"]) == (1, 0)
    assert (out[2]["i"], out[2]["p"]) == (0, 1)


def test_doc_pii_scrub_query_counts(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.workloads_curation import (
        doc_pii_scrub,
    )

    out = doc_pii_scrub(spark, SF_SMOKE)
    bad = out.where(
        (F.col("n_emails") != 1) | (F.col("n_ips") != 1) | (F.col("n_phones") != 1)
    ).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# k-NN classification (round 7)
# ---------------------------------------------------------------------------


def test_knn_classify_matches_numpy_reference(spark):
    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    labels = (np.arange(60) % 3).astype("int64")
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(labels[i]))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = df.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = {
        r.query_id: (r.pred_label, r.n_votes)
        for r in similarity.knn_classify(df, queries, k=5).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    for qid in (0, 20, 40):
        cos = (vecs @ vecs[qid]) / (norms * norms[qid])
        order = sorted(
            (i for i in range(60) if i != qid),
            key=lambda i: (-cos[i], i),
        )[:5]
        votes = {}
        for i in order:
            votes[labels[i]] = votes.get(labels[i], 0) + 1
        pred = min(votes, key=lambda l: (-votes[l], l))
        assert out[qid] == (pred, votes[pred])


def test_knn_classify_excludes_self(spark):
    # a duplicated vector must not vote for itself: with k=1 the
    # nearest neighbor of the query is its twin, not the query row
    rows = [
        (1, [1.0, 0.0], 7),
        (2, [1.0, 0.0], 9),
        (3, [0.0, 1.0], 5),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = df.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = similarity.knn_classify(df, queries, k=1).collect()
    assert len(out) == 1 and out[0].pred_label == 9


# ---------------------------------------------------------------------------
# Positional phrase search (round 7)
# ---------------------------------------------------------------------------


def test_phrase_search_positions_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a hash join b hash join c"),
            (2, "hash join"),
            (3, "hash x join"),         # not consecutive
            (4, "join hash"),           # wrong order
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in retrieval.phrase_search(docs, ["hash", "join"]).collect()
    }
    assert out == {1: (2, 1), 2: (1, 0)}


def test_phrase_search_repeated_terms_and_overlap(spark):
    # "go go go" contains "go go" at positions 0 and 1 (overlapping)
    docs = spark.createDataFrame(
        [(1, "go go go"), (2, "go stop go")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in retrieval.phrase_search(docs, ["go", "go"]).collect()
    }
    assert out == {1: (2, 0)}


def test_phrase_search_single_term_and_empty(spark):
    docs = spark.createDataFrame([(1, "x y x")], "doc_id long, text string")
    out = retrieval.phrase_search(docs, ["x"]).collect()
    assert out[0].n_occurrences == 2 and out[0].first_pos == 0
    with pytest.raises(ValueError):
        retrieval.phrase_search(docs, [])


def test_winsorized_matches_numpy(spark):
    """Clamped mean equals the numpy winsorization at the same exact
    order statistics."""
    out = {r.source: r for r in wc.doc_length_winsorized(spark, SF_SMOKE).collect()}
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    docs["n"] = docs["text"].str.strip().map(
        lambda t: len(t.split()) if t else 0
    )
    for src, g in docs.groupby("source"):
        v = np.sort(g["n"].to_numpy(), kind="stable")
        n = len(v)
        p10 = v[(n + 9) // 10 - 1]
        p90 = v[(9 * n + 9) // 10 - 1]
        w = np.clip(g["n"].to_numpy(), p10, p90)
        r = out[src]
        assert (r.p10, r.p90, r.n_docs) == (p10, p90, n)
        assert abs(r.winsorized_mean - w.sum() / n) < 1e-12
