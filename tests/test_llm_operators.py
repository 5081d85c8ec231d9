"""Unit tests for the training-data-pipeline operators: dedup families,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textops,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different words about spark engines"),
        (4, "el gato y el perro en la casa de la abuela"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, ["text"], "doc_id").collect()
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep[0] == 2  # docs 0 and 2 identical
    assert by_keep[1] == 1
    assert len(out) == 5  # 5 distinct texts


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_pairs(
        docs.where("text <> ''"), "doc_id", "text",
        num_hashes=32, bands=16, threshold=0.3,
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 2) in got  # exact dup: jaccard_est = 1.0
    est = {(r.id_a, r.id_b): r.jaccard_est for r in pairs}
    assert est[(0, 2)] == 1.0
    # near-dup 0-1 shares most shingles; unrelated 0-3 must not appear
    assert (0, 3) not in got


def test_simhash_exact_dup_distance_zero(spark, docs):
    fps = {
        r.doc_id: r.simhash
        for r in dedup.simhash_fingerprints(
            docs.where("text <> ''"), "doc_id", "text"
        ).collect()
    }
    assert fps[0] == fps[2]
    pairs = dedup.simhash_pairs(
        docs.where("text <> ''"), "doc_id", "text", max_hamming=10
    ).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 2)] == 0


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs.where("text <> ''"), "doc_id", "text", n=3, threshold=0.1
    ).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(0, 2)] == 1.0
    # 0 vs 1: 7 shared 3-grams of 7 each => 6 common... compute: tokens 9,
    # grams 7 distinct each, 6 shared -> 6/(7+7-6)=0.75
    assert jac[(0, 1)] == pytest.approx(0.75)


def test_embedding_neardup_and_topk(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.05  # cosine ~ 0.999
    far = rng.standard_normal(16)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in near]),
        (2, [float(x) for x in far]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_neardup_pairs(
        df, threshold=0.9, bands=4, planes_per_band=2
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got
    assert all(p != (0, 2) for p in got)

    topk = similarity.brute_force_topk(df, rows[0][1], k=2).collect()
    assert [r.vec_id for r in topk] == [0, 1]
    assert topk[0].cosine == pytest.approx(1.0)


def test_ivf_topk_matches_brute_force(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(v) for v in embs.where("vec_id = 0").first()["embedding"]]
    brute = [r.vec_id for r in similarity.brute_force_topk(embs, q, k=5).collect()]
    assigned, centroids = similarity.build_ivf_index(embs, n_cells=4)
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(
            assigned, centroids, q, k=5, nprobe=4
        ).collect()
    ]
    # probing ALL cells must reproduce brute force exactly
    assert ivf == brute


def test_ivf_index_lake_roundtrip_prunes_partitions(spark, sf_dir, tmp_path):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(v) for v in embs.where("vec_id = 0").first()["embedding"]]
    assigned, centroids = similarity.build_ivf_index(embs, n_cells=4)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(assigned, centroids, path)
    back, centroids2 = similarity.read_ivf_index(spark, path)
    assert centroids2 == [[float(v) for v in c] for c in centroids]
    probe = similarity.ivf_topk(back, centroids2, q, k=5, nprobe=1)
    # The _cell IN-list must land as a partition filter on the scan —
    # directory pruning, not a post-scan row filter. That's what makes
    # a 100 TB probe read nprobe/n_cells of the files.
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "_cell" in pf
    # full-probe (nprobe = n_cells) over the lake copy still matches
    # brute force
    brute = [r.vec_id for r in similarity.brute_force_topk(embs, q, k=5).collect()]
    full = [
        r.vec_id
        for r in similarity.ivf_topk(back, centroids2, q, k=5, nprobe=4).collect()
    ]
    assert full == brute


def test_token_count_and_empty(spark, docs):
    out = {
        r.doc_id: (r.n_tokens, r.n_bpe_tokens)
        for r in textops.with_token_count(docs).collect()
    }
    assert out[0][0] == 9
    assert out[5] == (0, 0)
    # 'the'(1) 'quick'(2) 'brown'(2) 'fox'(1) 'jumps'(2) 'over'(1)
    # 'the'(1) 'lazy'(1) 'dog'(1) = 12
    assert out[0][1] == 12


def test_lang_id(spark, docs):
    out = {
        r.doc_id: r.lang_pred
        for r in textops.with_lang_id(docs).collect()
    }
    assert out[0] == "en"
    assert out[4] == "es"
    assert out[5] == "und"


def test_quality_score_bounds(spark, docs):
    for r in textops.with_quality_score(docs).collect():
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0


def test_fingerprint_deterministic(spark, docs):
    a = {r.doc_id: (r.fp_md5, r.fp_roll)
         for r in textops.with_fingerprint(docs).collect()}
    b = {r.doc_id: (r.fp_md5, r.fp_roll)
         for r in textops.with_fingerprint(docs).collect()}
    assert a == b
    assert a[0] == a[2]          # exact dups share fingerprints
    assert a[0][0] != a[3][0]    # different docs differ


def test_multimodal_features_and_frames(spark):
    assets = multimodal.synthetic_assets(spark, n=12)
    feats = multimodal.extract_features(assets)
    assert feats.count() == 12
    row = feats.where("asset_id = 0").first()
    assert len(row.content_sha256) == 64 and row.n_bytes > 0
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(assets, decode_fn="real")
    frames = multimodal.sample_video_frames(assets, every_n=10)
    vids = assets.where("modality = 'video'").count()
    assert frames.count() >= vids  # at least frame 0 per video
    assert frames.select("frame_idx").where("frame_idx % 10 != 0").count() == 0
    resized = multimodal.resize_images(assets, 224, 224)
    metas = resized.select("meta.width", "meta.height").distinct().collect()
    assert metas == [(224, 224)] or [
        (m.width, m.height) for m in metas
    ] == [(224, 224)]


def test_connected_components_clusters_and_convergence(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 13)], ["doc_id"])
    out = dedup.connected_components(pairs, nodes, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    for single in (4, 5, 6, 7, 8, 9, 12):
        assert got[single] == single

    # a 5-node chain needs diameter-many rounds — exercises iteration
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    cnodes = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    out2 = dedup.connected_components(chain, cnodes, "doc_id")
    assert {r["cluster_id"] for r in out2.collect()} == {1}

    # refusal to return half-merged clusters
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, cnodes, "doc_id", max_iter=1)


def test_asof_join_boundaries(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 20), (3, 1, 25), (4, 2, 50)],
        ["event_id", "user_id", "us"],
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"))
    right = spark.createDataFrame(
        [(1, 10), (1, 20), (3, 7)], ["user_id", "us"]
    ).select("user_id", F.timestamp_micros("us").alias("ts"))
    out = {
        r["event_id"]: r["matched_ts"]
        for r in asof_join(left, right, on="user_id").collect()
    }
    from datetime import datetime, timezone

    def dt(us):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).replace(
            tzinfo=None
        )

    assert out[1] is None          # no view before t=5
    assert out[2] == dt(20)        # inclusive at equal ts
    assert out[3] == dt(20)        # carries most recent, not first
    assert out[4] is None          # user with no right rows at all

    fwd = {
        r["event_id"]: r["matched_ts"]
        for r in asof_join(
            left, right, on="user_id", direction="forward"
        ).collect()
    }
    assert fwd[1] == dt(10)        # next right row at/after t=5
    assert fwd[2] == dt(20)        # inclusive at equal ts
    assert fwd[3] is None          # nothing after t=25
    assert fwd[4] is None

    tol = {
        r["event_id"]: r["matched_ts"]
        for r in asof_join(
            left, right, on="user_id",
            tolerance="5 microseconds",
        ).collect()
    }
    assert tol[2] == dt(20)        # distance 0 within tolerance
    assert tol[3] == dt(20)        # distance 5us == bound: inclusive
    tight = {
        r["event_id"]: r["matched_ts"]
        for r in asof_join(
            left, right, on="user_id",
            tolerance="4 microseconds",
        ).collect()
    }
    assert tight[2] == dt(20)      # distance 0 still in
    assert tight[3] is None        # 5us > 4us tolerance -> nulled


def test_range_join_bin_boundaries(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import range_join

    W = 10  # microsecond window for exact boundary checks
    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 19), (3, 2, 100)], ["event_id", "user_id", "us"]
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"))
    right = spark.createDataFrame(
        [(1, 90), (1, 99), (1, 100), (1, 89), (1, 15), (2, 95)],
        ["user_id", "us"],
    ).select("user_id", F.timestamp_micros("us").alias("ts"))
    out = {
        r["event_id"]: r["n_in_range"]
        for r in range_join(
            left, right, on="user_id", ts_col="ts", window_us=W
        ).collect()
    }
    # [90, 100): 90 and 99 count; 100 (not strictly before) and 89
    # (outside) don't — and 90 sits in the PREVIOUS bin, proving the
    # two-bin expansion works.
    assert out[1] == 2
    # [9, 19): right 15 counts (cross-bin again)
    assert out[2] == 1
    # user 2: right 95 in [90, 100) counts
    assert out[3] == 1


def test_repetition_stats_known_values(spark):
    rows = [
        (1, "a b a b"),          # bigrams: "a b","b a","a b" -> top 2/3
        (2, "x\nx\ny"),          # dup line x -> 1 - 2/3; bigrams 1/2
        (3, ""),                 # empty -> all zeros
        (4, "one"),              # single token -> no bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_lines, r.dup_line_frac, r.top_bigram_frac)
        for r in textops.with_repetition_stats(df).collect()
    }
    assert got[1] == (1, 0.0, pytest.approx(2 / 3))
    assert got[2] == (3, pytest.approx(1 - 2 / 3), pytest.approx(1 / 2))
    assert got[3] == (0, 0.0, 0.0)
    assert got[4] == (1, 0.0, 0.0)


def test_stratified_sample_deterministic_and_nested(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        sampling,
    )

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    half = sampling.deterministic_sample(df, 0.5, "k")
    n_half = half.count()
    assert abs(n_half - 1000) < 150  # uniform hash, not RNG luck
    # repartitioning must not change the selected set (the whole point)
    ids = {r.k for r in half.collect()}
    assert {r.k for r in df.repartition(7).where(
        sampling.hash_bucket("k") < sampling.rate_threshold(0.5)
    ).collect()} == ids
    # thresholds nest: the 25% sample is a subset of the 50% sample
    quarter = {r.k for r in sampling.deterministic_sample(df, 0.25, "k").collect()}
    assert quarter <= ids
    # degenerate rates
    assert sampling.deterministic_sample(df, 1.0, "k").count() == 2000
    assert sampling.deterministic_sample(df, 0.0, "k").count() == 0
    # stratified: per-stratum rates hold independently
    strat = sampling.stratified_sample(
        df, strata_col="s", key_col="k", rates={"a": 1.0}, default_rate=0.0
    )
    got = {r.s for r in strat.collect()}
    assert got == {"a"} and strat.count() == 1000


def test_tfidf_top_terms_ranking(spark):
    rows = [
        (1, "apple apple banana"),   # apple tf=2, rare -> top
        (2, "banana cherry"),
        (3, "banana dates"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.tfidf_top_terms(df, k=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.score))
    top1 = sorted(by_doc[1])[0]
    # apple: tf=2, df=1, N=3 -> score 6; banana: tf=1, df=3 -> score 1
    assert top1[1] == "apple" and top1[2] == 6.0
    assert all(len(v) <= 2 for v in by_doc.values())
    # rare terms outrank common ones: cherry (df=1, score 3) before
    # banana (df=3, score 1)
    assert [t for _, t, _ in sorted(by_doc[2])] == ["cherry", "banana"]
    assert [t for _, t, _ in sorted(by_doc[3])] == ["dates", "banana"]


def test_asof_join_rejects_malformed_tolerance(spark):
    """tolerance is spliced into F.expr(f"INTERVAL ...") — anything but
    '<n> <unit>' must fail loudly at the call site (round-4 advisory)."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import asof_join

    df = spark.createDataFrame([(1, 10)], ["user_id", "us"]).select(
        "user_id", F.timestamp_micros("us").alias("ts")
    )
    for bad in ("1 fortnight", "'; drop", "hour", "1hour", "1 hour + 2"):
        with pytest.raises(ValueError, match="tolerance"):
            asof_join(df, df, on="user_id", tolerance=bad)
    # the documented shapes still pass validation
    asof_join(df, df, on="user_id", tolerance="90 seconds")
    asof_join(df, df, on="user_id", tolerance="1 HOUR")


def test_contamination_flags_semantics(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        contamination_flags,
    )

    ev = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # contains a verbatim eval 3-gram run
            (1, "paragraph quoting the secret benchmark answer is here"),
            # clean: no 3-gram overlap with the eval doc
            (2, "totally unrelated clean training content body text"),
            # shares tokens but no full 3-gram
            (3, "the answer benchmark secret is unrelated order"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in contamination_flags(
            train, ev, n=3, min_overlap=1
        ).collect()
    }
    assert out[1]["contaminated"] is True
    # "the secret benchmark", "secret benchmark answer",
    # "benchmark answer is" — 3 shared distinct grams
    assert out[1]["n_contaminated_grams"] == 3
    assert out[2]["contaminated"] is False
    assert out[2]["n_contaminated_grams"] == 0
    assert out[3]["contaminated"] is False
    # n_grams: len(tokens) - 2
    assert out[1]["n_grams"] == 6


def test_shuffle_shards_is_deterministic_total_order(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        shuffle_shards,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", n_shards=8).collect()
    # repartitioning the input must not change the assignment
    b = shuffle_shards(df.repartition(13), "doc_id", n_shards=8).collect()
    key = lambda rows: sorted((r.doc_id, r.shard, r.shard_pos) for r in rows)
    assert key(a) == key(b)
    # every row kept; (shard, shard_pos) is a total order
    assert len(a) == 500
    assert len({(r.shard, r.shard_pos) for r in a}) == 500
    # positions within a shard are 1..k dense
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in a:
        by_shard[r.shard].append(r.shard_pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # within-shard order matches md5 order (engine-portable)
    import hashlib

    for shard, _ in by_shard.items():
        rows = sorted(
            (r for r in a if r.shard == shard), key=lambda r: r.shard_pos
        )
        hashes = [
            hashlib.md5(str(r.doc_id).encode()).hexdigest() for r in rows
        ]
        assert hashes == sorted(hashes), shard


def test_semantic_dedup_keeps_one_per_near_identical_group(spark):
    """SemDeDup semantics: near-identical embedding groups collapse to
    their min-id member; distinct vectors survive untouched; the hot
    cell cap drops oversized cells with recall cost, not errors."""
    import numpy as np

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(3)
    rows = []
    # 3 groups of 4 near-identical vectors around orthogonal axes
    for g in range(3):
        base = np.zeros(8)
        base[g] = 1.0
        for j in range(4):
            v = base + rng.normal(0, 0.01, 8)
            rows.append((g * 10 + j, [float(x) for x in v]))
    # 6 singletons along distinct axis pairs (cosine far below 0.97
    # from every group and from each other)
    for s in range(6):
        v = np.zeros(8)
        v[3 + (s % 5)] = 1.0
        v[(s * 2 + 1) % 3] = 0.7 * (1 if s % 2 else -1)
        rows.append((100 + s, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    out = semantic_dedup(df, threshold=0.97, n_cells=4, seed=11).collect()
    assert len(out) == len(rows)
    by_id = {r.vec_id: r for r in out}
    # each group collapsed to min id
    for g in range(3):
        ids = [g * 10 + j for j in range(4)]
        clusters = {by_id[i].semantic_cluster for i in ids}
        assert clusters == {g * 10}, clusters
        assert [i for i in ids if by_id[i].keep] == [g * 10]
    # singletons all survive as their own cluster
    for s in range(6):
        r = by_id[100 + s]
        assert r.semantic_cluster == 100 + s and r.keep
    # survivors overall: one per group + singletons
    assert sum(1 for r in out if r.keep) == 3 + 6


def test_weighted_sample_rate_tracks_weight(spark):
    """Inclusion frequency must track the weight: w=1.0 rows at ~50%
    under scale=0.5, w=0.1 rows at ~5%, w>=2 rows always included;
    selection is partitioning-invariant."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        weighted_sample,
    )

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, 1.0)
        .when(F.col("id") % 3 == 1, 0.1)
        .otherwise(2.5)
        .alias("w"),
    )
    kept = weighted_sample(df, "w", 0.5, "k").collect()
    by_w = {}
    for r in kept:
        by_w.setdefault(r.w, 0)
        by_w[r.w] += 1
    sizes = {
        1.0: len([i for i in range(n) if i % 3 == 0]),
        0.1: len([i for i in range(n) if i % 3 == 1]),
        2.5: len([i for i in range(n) if i % 3 == 2]),
    }
    assert abs(by_w[1.0] / sizes[1.0] - 0.5) < 0.05
    assert abs(by_w[0.1] / sizes[0.1] - 0.05) < 0.02
    assert by_w[2.5] == sizes[2.5]  # p = min(1, 1.25) -> all kept
    # partitioning-invariant
    again = weighted_sample(df.repartition(17), "w", 0.5, "k").collect()
    assert {r.k for r in again} == {r.k for r in kept}


def test_temperature_mix_flattens_skewed_sources(spark):
    """alpha=0.5 mixing: keep-rate per stratum ∝ share^(-1/2), so the
    rare stratum keeps a ~sqrt(ratio) larger fraction of its rows than
    the hot one, the realized total tracks target_fraction, and the
    selection is invariant to partitioning."""
    import math

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "hot" if i < 3200 else "rare") for i in range(3600)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = temperature_mix(
        df, strata_col="src", key_col="doc_id",
        alpha=0.5, target_fraction=0.3,
    )
    rates = {
        r["src"]: r["mix_rate"]
        for r in out.select("src", "mix_rate").distinct().collect()
    }
    # rate ratio = sqrt(n_hot / n_rare), while raw shares differ 8x
    assert rates["rare"] / rates["hot"] == pytest.approx(
        math.sqrt(3200 / 400), rel=1e-12
    )
    kept = out.count()
    assert abs(kept - 1080) < 120  # hash noise around the 30% target
    # partitioning-invariant: same rows regardless of layout
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in temperature_mix(
            df.repartition(13), "src", "doc_id", 0.5, 0.3
        ).collect()
    }
    assert a == b

    with pytest.raises(ValueError, match="alpha"):
        temperature_mix(df, "src", "doc_id", alpha=0.7)


def test_pack_sequences_exact_greedy_next_fit(spark):
    """Exact packing: matches a pure-Python greedy next-fit fold per
    group, never splits a document, flags oversized docs, and a full
    sequence closes immediately."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    rows = [
        # group g1: 60+30 | 80 | 120(overflow) | 50+50 | 10
        ("g1", 0, 60), ("g1", 1, 30), ("g1", 2, 80), ("g1", 3, 120),
        ("g1", 4, 50), ("g1", 5, 50), ("g1", 6, 10),
        # group g2: exact fits close the bin: 100 | 1
        ("g2", 0, 100), ("g2", 1, 1),
    ]
    df = spark.createDataFrame(rows, "g string, i long, n long")
    out = pack_sequences(
        df, token_col="n", order_col="i", capacity=100, group_cols=["g"]
    )
    got = {
        (r["g"], r["i"]): (r["seq_id"], r["seq_offset"], r["overflow"])
        for r in out.collect()
    }

    def reference(items, cap):
        res, seq, used = {}, 0, 0
        for i, n in items:
            if used > 0 and used + n > cap:
                seq, used = seq + 1, 0
            res[i] = (seq, used, n > cap)
            used += n
            if used >= cap:
                seq, used = seq + 1, 0
        return res

    for g, items in (
        ("g1", [(i, n) for gg, i, n in rows if gg == "g1"]),
        ("g2", [(i, n) for gg, i, n in rows if gg == "g2"]),
    ):
        exp = reference(items, 100)
        for i, t in exp.items():
            assert got[(g, i)] == t, (g, i, got[(g, i)], t)

    stats = {r["g"]: r for r in packing_stats(
        out, "n", 100, group_cols=["g"]
    ).collect()}
    assert stats["g1"]["n_sequences"] == 5
    assert stats["g1"]["n_overflow"] == 1
    assert stats["g2"]["n_sequences"] == 2
    # fill fraction caps at 1.0 even for the overflow sequence
    assert 0 < stats["g1"]["mean_fill"] <= 1.0

    with pytest.raises(ValueError, match="capacity"):
        pack_sequences(df, "n", "i", 0, ["g"])


def test_ivf_topk_batch_matches_brute_force_at_full_probe(spark, sf_dir):
    """Batch ANN join: probing every cell is exact — per-query results
    must equal independent brute-force top-k; partial probe keeps
    recall high and never exceeds the probed-cell candidate set."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk_batch,
    )
    from aws_sql_server_to_s3_datalake_etl_migration_spark.sources.readers import (
        read_table_dir,
    )

    embs = read_table_dir(spark, sf_dir, "embeddings")
    assigned, centroids = build_ivf_index(embs, n_cells=8)
    assigned = assigned.persist()
    queries = (
        embs.where(F.col("vec_id") % 37 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    exact_probe = ivf_topk_batch(
        assigned, centroids, queries, k=5, nprobe=8
    )
    got = {}
    for r in exact_probe.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    q_rows = queries.collect()
    assert set(got) == {r["query_id"] for r in q_rows}
    for qr in q_rows:
        bf = [
            r["vec_id"]
            for r in brute_force_topk(
                embs, qr["query_vec"], k=5
            ).collect()
        ]
        batch = [v for _, v in sorted(got[qr["query_id"]])]
        assert batch == bf, (qr["query_id"], batch, bf)

    # partial probe: recall@5 of at least 3/5 averaged over queries
    part = ivf_topk_batch(assigned, centroids, queries, k=5, nprobe=3)
    pg = {}
    for r in part.collect():
        pg.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qr in q_rows:
        bf = {
            r["vec_id"]
            for r in brute_force_topk(embs, qr["query_vec"], k=5).collect()
        }
        recalls.append(len(pg[qr["query_id"]] & bf) / 5)
    assert sum(recalls) / len(recalls) >= 0.6
    assigned.unpersist()


def test_source_term_drift_l1_semantics(spark):
    """L1 drift on a hand-computed corpus, including the absent-term
    mass closing identity: a source missing corpus terms picks up
    their full corpus probability."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.textops import (
        source_term_drift,
    )

    rows = [
        # source A: 'x x y' ; source B: 'y z'
        (1, "A", "x x y"),
        (2, "B", "y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["source"]: r["l1_drift"]
        for r in source_term_drift(df, "text", "source").collect()
    }
    # corpus: x=2/5, y=2/5, z=1/5
    # A (x=2/3, y=1/3): |2/3-2/5| + |1/3-2/5| + z-mass 1/5
    exp_a = abs(2 / 3 - 2 / 5) + abs(1 / 3 - 2 / 5) + 1 / 5
    # B (y=1/2, z=1/2): |1/2-2/5| + |1/2-1/5| + x-mass 2/5
    exp_b = abs(1 / 2 - 2 / 5) + abs(1 / 2 - 1 / 5) + 2 / 5
    assert got["A"] == pytest.approx(exp_a, abs=1e-9)
    assert got["B"] == pytest.approx(exp_b, abs=1e-9)
    # identical distributions -> zero drift
    same = spark.createDataFrame(
        [(1, "A", "x y"), (2, "B", "x y")],
        "doc_id long, source string, text string",
    )
    for r in source_term_drift(same, "text", "source").collect():
        assert r["l1_drift"] == pytest.approx(0.0, abs=1e-9)


def test_temperature_mix_alpha_one_keeps_natural_mix(spark):
    """alpha=1: weights equal raw shares, so every stratum keeps the
    same target fraction — natural proportions preserved."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "hot" if i < 1600 else "rare") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    rates = {
        r["src"]: r["mix_rate"]
        for r in temperature_mix(df, "src", "doc_id", alpha=1.0,
                                 target_fraction=0.4)
        .select("src", "mix_rate").distinct().collect()
    }
    assert rates["hot"] == pytest.approx(0.4, rel=1e-12)
    assert rates["rare"] == pytest.approx(0.4, rel=1e-12)


def test_asof_join_payload_atomic_carry_and_tolerance(spark):
    """Payload fields must attach ATOMICALLY from the matched right
    row: a newer right row carrying a NULL field must not let an older
    row's value bleed through (the bug per-column last(ignorenulls)
    carries would have). Tolerance nulls ts and payload together."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import (
        asof_join_payload,
    )

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 250, "e2"), (2, 50, "e3")],
        "k long, ts long, tag string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [
            (1, 90, "old", 7.0),
            (1, 200, None, 9.0),   # newer row, NULL name field
            (3, 10, "other", 1.0),
        ],
        "k long, ts long, name string, score double",
    ).withColumn("ts", F.timestamp_seconds("ts"))

    got = {
        (r["k"], r["tag"]): (r["r_name"], r["r_score"])
        for r in asof_join_payload(
            left, right, on="k", payload_cols=["name", "score"]
        ).collect()
    }
    # ts=100 matches the t=90 row; ts=250 matches t=200 whose name is
    # NULL — and must stay NULL (no bleed from "old")
    assert got[(1, "e1")] == ("old", 7.0)
    assert got[(1, "e2")] == (None, 9.0)
    assert got[(2, "e3")] == (None, None)  # unmatched key

    # tolerance: e2 (250) is 50s after its match (200) — a 30-second
    # tolerance nulls ts and payload together
    tol = {
        (r["k"], r["tag"]): (r["matched_ts"], r["r_name"], r["r_score"])
        for r in asof_join_payload(
            left, right, on="k", payload_cols=["name", "score"],
            tolerance="30 seconds",
        ).collect()
    }
    assert tol[(1, "e1")][0] is not None
    assert tol[(1, "e2")] == (None, None, None)

    # duplicate (key, ts) right rows: lexicographic-max payload struct
    # wins deterministically
    dup = spark.createDataFrame(
        [(1, 90, "a", 1.0), (1, 90, "b", 0.5)],
        "k long, ts long, name string, score double",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    got2 = {
        r["tag"]: (r["r_name"], r["r_score"])
        for r in asof_join_payload(
            left, dup, on="k", payload_cols=["name", "score"]
        ).collect()
    }
    assert got2["e1"] == ("b", 0.5)


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token appears in at least one chunk in order; interior
    chunk boundaries overlap by exactly `overlap` tokens; the final
    chunk may be short; empty docs produce no chunks."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.textops import (
        chunk_documents,
    )

    text = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "   "), (4, "x")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=5, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_token"], r["n_chunk_tokens"],
             r["chunk_text"])
        )
    # doc 1: 12 tokens, chunk 5, stride 3 -> 1 + ceil(7/3) = 4 chunks
    # (coverage semantics: generation stops once every token is
    # covered, so no redundant trailing window)
    c1 = sorted(by_doc[1])
    assert [c[1] for c in c1] == [0, 3, 6, 9]
    assert [c[2] for c in c1] == [5, 5, 5, 3]  # final chunk short
    assert c1[0][3] == "w0 w1 w2 w3 w4"
    assert c1[1][3] == "w3 w4 w5 w6 w7"      # 2-token overlap
    assert c1[3][3] == "w9 w10 w11"
    # reconstruction: stitching chunks (dropping each next chunk's
    # overlap) rebuilds the doc exactly
    stitched = c1[0][3].split()
    for _, _, _, t in c1[1:]:
        stitched.extend(t.split()[2:])
    assert stitched == text.split()
    assert by_doc[2] == [(0, 0, 2, "a b")]   # short doc: one chunk
    assert 3 not in by_doc                    # whitespace-only: none
    assert by_doc[4] == [(0, 0, 1, "x")]

    # validation
    for bad in [dict(chunk_tokens=0), dict(chunk_tokens=4, overlap=4)]:
        try:
            chunk_documents(df, **bad)
            assert False
        except ValueError:
            pass


def test_substring_leak_guarantee_and_exactness(spark):
    """The strided-window guarantee: a verbatim common substring of
    length >= 2k-1 is ALWAYS detected; disjoint texts never flag (no
    hashing, no false positives); shorter overlaps may legitimately
    miss."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        substring_leak,
    )

    k = 10
    leaked_span = "ABCDEFGHIJKLMNOPQRS"          # 19 = 2k-1 chars
    train = spark.createDataFrame(
        [
            (1, "xxxxx" + leaked_span + "yyyyy"),   # must flag
            (2, "completely different content here"),  # must not
            (3, "short"),                           # < k chars: 0 windows
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "zz" + leaked_span + "qq")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_leaked_windows"], r["leaked"])
        for r in substring_leak(train, eval_df, k=k).collect()
    }
    assert got[1][2] is True and got[1][1] >= 1
    assert got[2] == (got[2][0], 0, False)
    assert got[3] == (0, 0, False)

    # k >= 2 validation
    try:
        substring_leak(train, eval_df, k=1)
        assert False
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# Duplicated-span removal
# ---------------------------------------------------------------------------


def test_span_dedup_keeps_first_occurrence_only(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        span_dedup,
    )

    boiler = "a b c d"  # one 4-token span, repeated across docs
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} u1 u2 u3 u4"),
            (2, f"{boiler} v1 v2 v3 v4"),
            (3, f"w1 w2 w3 w4 {boiler}"),
            (4, ""),
            (5, "x1 x2"),  # short doc -> one sub-n span, unique
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, n=4).collect()}
    # doc 1 owns the canonical occurrence (smallest doc_id, pos 0)
    assert out[1].clean_text == f"{boiler} u1 u2 u3 u4"
    assert out[2].clean_text == "v1 v2 v3 v4"
    assert out[3].clean_text == "w1 w2 w3 w4"
    assert out[4].n_spans == 0 and out[4].clean_text == ""
    assert out[5].n_spans == 1 and out[5].clean_text == "x1 x2"
    assert out[1].n_kept == 2 and out[2].n_kept == 1 and out[3].n_kept == 1


def test_span_dedup_string_ids_struct_path(spark):
    """r6 advice: ids outside the bigint encoding's domain must not
    wrap — string ids route through the lexicographic struct-min and
    still elect the globally-first occurrence."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        span_dedup,
    )

    boiler = "a b c d"
    docs = spark.createDataFrame(
        [
            ("docA", f"{boiler} u1 u2 u3 u4"),
            ("docB", f"{boiler} v1 v2 v3 v4"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, n=4).collect()}
    assert out["docA"].clean_text == f"{boiler} u1 u2 u3 u4"
    assert out["docB"].clean_text == "v1 v2 v3 v4"


def test_span_dedup_out_of_range_id_raises(spark):
    """Negative or >=2^43 integral ids would silently corrupt the
    first-occurrence ordinal; the codegen guard raises instead."""
    import pytest
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        span_dedup,
    )

    docs = spark.createDataFrame(
        [(-5, "a b c d"), (1, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="outside \\[0, 2\\^43\\)"):
        span_dedup(docs, n=4).collect()


def test_span_dedup_within_doc_repeats_collapse(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        span_dedup,
    )

    docs = spark.createDataFrame(
        [(7, "p q p q p q")],  # spans: "p q" x3 at pos 0,1,2
        "doc_id long, text string",
    )
    row = span_dedup(docs, n=2).collect()[0]
    assert row.n_spans == 3 and row.n_kept == 1
    assert row.clean_text == "p q"


def test_span_dedup_identity_when_no_duplicates(spark, sf_dir):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        span_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = span_dedup(docs, n=1_000_000)  # spans = whole doc
    joined = (
        docs.select("doc_id", F.trim("text").alias("t"))
        .join(out, "doc_id")
        .where(
            (F.col("n_kept") == F.col("n_spans"))
            & (F.col("clean_text") != F.col("t"))
        )
    )
    # fully-kept docs reassemble to their (trimmed, single-spaced) text
    assert joined.count() == 0


# ---------------------------------------------------------------------------
# Cluster representatives
# ---------------------------------------------------------------------------


def test_cluster_representatives_argmax_and_ties(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        cluster_representatives,
    )

    nodes = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {r.doc_id: r for r in cluster_representatives(nodes, pairs).collect()}
    # one cluster {1,2,3,4} with max score 30 shared by 2 and 3 -> min id 2
    assert all(out[i].cluster_id == 1 for i in (1, 2, 3, 4))
    assert out[2].is_rep and not out[3].is_rep
    assert not out[1].is_rep and not out[4].is_rep
    # singleton is its own representative
    assert out[9].cluster_id == 9 and out[9].is_rep


def test_cluster_representatives_one_rep_per_cluster(spark, sf_dir):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                      threshold=0.4)
    out = dedup.cluster_representatives(docs, pairs)
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_rep").cast("int")).alias("n_reps")
    )
    assert per.where(F.col("n_reps") != 1).count() == 0
    assert out.count() == docs.count()


# ---------------------------------------------------------------------------
# Epoch up-sampling
# ---------------------------------------------------------------------------


def test_epoch_upsample_copy_counts(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        epoch_upsample,
    )

    df = spark.createDataFrame(
        [(1, 3.0), (2, 0.0), (3, -2.0), (4, 1.0), (5, 2.4)],
        "doc_id long, rate double",
    )
    out = epoch_upsample(df, "rate", "doc_id")
    counts = {
        r.doc_id: r.n for r in
        out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # integral rates are exact; negatives clamp to zero copies
    assert counts[1] == 3 and counts[4] == 1
    assert 2 not in counts and 3 not in counts
    assert counts[5] in (2, 3)  # floor(2.4) or +1 by hash
    # copy indices are dense 0..n-1
    idx = sorted(r.copy_idx for r in out.where(F.col("doc_id") == 1).collect())
    assert idx == [0, 1, 2]


def test_epoch_upsample_partitioning_invariant(spark, sf_dir):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        sampling, textops,
    )

    docs = textops.with_quality_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).withColumn("rate", F.col("quality_score") * F.lit(2.5))
    a = sampling.epoch_upsample(docs, "rate", "doc_id")
    b = sampling.epoch_upsample(docs.repartition(17), "rate", "doc_id")
    assert a.count() == b.count()
    assert (
        a.select("doc_id", "copy_idx")
        .exceptAll(b.select("doc_id", "copy_idx"))
        .count()
        == 0
    )


def test_hard_negatives_labels_differ_and_match_bruteforce(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assigned, centroids = similarity.build_ivf_index(embs, n_cells=8)
    queries = embs.where(F.col("vec_id").isin(0, 37, 74)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = similarity.hard_negative_mining(
        assigned, centroids, queries, k=3, nprobe=8
    ).collect()
    qlabels = {r.query_id: r.query_label for r in queries.collect()}
    assert len(out) == 9
    for r in out:
        assert r.label != qlabels[r.query_id]
    # full probe == exact: the top negative for anchor 0 is the most
    # similar different-label vector found by brute force
    q0 = [
        float(v)
        for v in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    bf = (
        similarity.brute_force_topk(
            embs.where(F.col("label") != qlabels[0]), q0, k=3
        )
        .collect()
    )
    mined = sorted(
        (r for r in out if r.query_id == 0), key=lambda r: r.rank
    )
    assert [r.vec_id for r in mined] == [r.vec_id for r in bf]


def test_hard_negatives_probed_recall_floor(spark):
    """The production-shaped partial-probe miner (nprobe=2 of 8 real
    k-means cells — the emb_hard_negatives_probed catalog entry)
    keeps a recall floor vs the exact full-probe result on the SAME
    index, and every mined negative still satisfies the label
    contract. Measured 0.64 at sf0.01; floor 0.5 leaves noise margin
    without letting a broken probe (≈0.33 at nprobe=1) pass."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assigned, centroids = similarity.build_ivf_index(embs, n_cells=8)
    queries = embs.where(
        (F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 500 * 37)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    full = {
        (r.query_id, r.vec_id)
        for r in similarity.hard_negative_mining(
            assigned, centroids, queries, k=3, nprobe=8
        ).collect()
    }
    probed = similarity.hard_negative_mining(
        assigned, centroids, queries, k=3, nprobe=2
    ).collect()
    got = {(r.query_id, r.vec_id) for r in probed}
    assert len(got & full) / len(full) >= 0.5
    qlabels = {
        r.query_id: r.query_label for r in queries.collect()
    }
    assert all(r.label != qlabels[r.query_id] for r in probed)


def test_interval_overlap_join_matches_theta_join(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import (
        interval_overlap_join,
    )

    import random

    rng = random.Random(11)
    H = 3_600_000_000
    left = [
        (i, s, s + rng.randint(0, 5 * H))
        for i, s in enumerate(
            rng.randint(0, 100 * H) for _ in range(120)
        )
    ]
    right = [
        (j, s, s + rng.randint(0, 3 * H))
        for j, s in enumerate(
            rng.randint(0, 100 * H) for _ in range(60)
        )
    ]
    ldf = spark.createDataFrame(left, "lid long, s_us long, e_us long")
    rdf = spark.createDataFrame(right, "rid long, r_s long, r_e long")
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, rdf, "s_us", "e_us", "r_s", "r_e"
        ).collect()
    }
    want = {
        (i, j)
        for i, ls, le in left
        for j, rs, re in right
        if ls <= re and rs <= le
    }
    assert got == want
    # duplicate-free: multi-bin overlaps appear exactly once
    rows = interval_overlap_join(
        ldf, rdf, "s_us", "e_us", "r_s", "r_e"
    ).groupBy("lid", "rid").count().where("count > 1").count()
    assert rows == 0


def test_interval_overlap_join_hot_bin(spark):
    """Hot-bin stress: thousands of sessions overlapping ONE incident
    hour — the pair count is the true overlap count (linear in the
    overlapping sessions), so a dense bin fans out exactly to its
    real matches, never bucket-quadratic (incidents per bin stay
    bounded)."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.temporal import (
        interval_overlap_join,
    )

    H = 3_600_000_000
    base = 1000 * H
    sessions = spark.range(2000).select(
        F.col("id").alias("lid"),
        (F.lit(base) + F.col("id")).alias("s_us"),
        (F.lit(base) + F.lit(H // 2) + F.col("id")).alias("e_us"),
    )
    incidents = spark.createDataFrame(
        [(0, base, base + H - 1), (1, base + 100 * H, base + 101 * H - 1)],
        "rid long, r_s long, r_e long",
    )
    out = interval_overlap_join(
        sessions, incidents, "s_us", "e_us", "r_s", "r_e"
    )
    assert out.count() == 2000
    assert out.where("rid = 1").count() == 0


def test_ngram_jaccard_packed_and_wide_paths_agree(spark):
    """The packed-bigint pair key (fast path) and the struct fallback
    (wide_ids=True) must produce identical pairs; ids past 2^31 raise
    on the packed path instead of silently wrapping."""
    import pytest
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),
            (3, "x y z w q r"),
        ],
        "doc_id long, text string",
    )
    fast = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    wide = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.1, wide_ids=True
        ).collect()
    }
    assert fast == wide and (1, 2) in fast

    big = spark.createDataFrame(
        [(1 << 40, "a b c d"), ((1 << 40) + 1, "a b c d")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="wide_ids=True"):
        ngram_jaccard_pairs(big, threshold=0.1).collect()
    # the explicit wide path handles them
    out = ngram_jaccard_pairs(big, threshold=0.1, wide_ids=True).collect()
    assert len(out) == 1 and out[0].jaccard == 1.0


def test_token_budget_mix_allocation_math(spark):
    """Hand-computed waterfilling: heavy source caps at availability,
    leftover re-splits over the light sources by weight."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        token_budget_mix,
    )

    rows = []
    # srcA: 100 tokens (10 docs x 10) — heavy w=10
    # srcB: 1000 tokens (10 docs x 100) — light w=1
    # srcC: 1000 tokens (10 docs x 100) — light w=1
    for i in range(10):
        rows.append((i, "srcA", 10))
        rows.append((100 + i, "srcB", 100))
        rows.append((200 + i, "srcC", 100))
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_mix(
        df, ["srcA"], 10, 1, budget_num=1, budget_den=2
    )
    # T=2100, B=1050, SW=12; a0: A=875->cap 100, B=C=87
    # L=1050-(100+87+87)=776, SWU=2, extra=388 -> alloc B=C=475
    alloc = {
        r["source"]: r["source_budget"]
        for r in out.select("source", "source_budget").distinct().collect()
    }
    assert alloc["srcA"] == 100
    assert alloc.get("srcB", 475) == 475 and alloc.get("srcC", 475) == 475
    # srcA rate = 100/100 = 1.0 -> every srcA doc survives
    assert out.where(F.col("source") == "srcA").count() == 10


def test_token_budget_mix_zero_budget(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.sampling import (
        token_budget_mix,
    )

    df = spark.createDataFrame(
        [(1, "s", 10), (2, "s", 20)], "doc_id long, source string, n_tokens long"
    )
    assert token_budget_mix(df, [], 1, 1, 0, 2).count() == 0
    import pytest

    with pytest.raises(ValueError):
        token_budget_mix(df, [], 1, 1, 1, 0)


def test_pca_project_matches_numpy(spark):
    """MLlib PCA (emb_pca_project) agrees with a direct numpy
    eigendecomposition: explained-variance ratios match the top-k
    covariance eigenvalue ratios, and each component spans the same
    direction (|cosine| ~ 1, sign being arbitrary)."""
    import numpy as np

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out, ev = similarity.pca_project(embs, k=8)
    X = np.array(
        [
            [float(v) for v in r["embedding"]]
            for r in embs.orderBy("vec_id").collect()
        ]
    )
    C = np.cov(X, rowvar=False, bias=False)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    w, V = w[order], V[:, order]
    ratios = w / w.sum()
    assert np.allclose(ev, ratios[:8], rtol=1e-5, atol=1e-8)
    # projected variance along each component equals its eigenvalue
    P = np.array(
        [
            [float(v) for v in r["projection"]]
            for r in out.orderBy("vec_id").collect()
        ]
    )
    assert P.shape == (X.shape[0], 8)
    pv = P.var(axis=0, ddof=1)
    assert np.allclose(pv, w[:8], rtol=1e-5)
    # subspace alignment: each MLlib axis matches a numpy eigenvector
    # up to sign (compare via projections of centered data)
    Pn = (X - X.mean(axis=0)) @ V[:, :8]
    cos = np.abs(
        (P - P.mean(axis=0)).T @ (Pn - Pn.mean(axis=0))
    ) / (
        np.linalg.norm(P - P.mean(axis=0), axis=0)[:, None]
        * np.linalg.norm(Pn - Pn.mean(axis=0), axis=0)[None, :]
    )
    assert np.allclose(np.diag(cos), 1.0, atol=1e-5)


def test_compression_ratio_matches_zlib_and_is_deterministic(spark, sf_dir):
    """with_compression_ratio reproduces direct zlib byte-for-byte,
    NULLs the ratio for empty text, and is invariant to
    repartitioning (fixed level -> deterministic)."""
    import zlib

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (r.n_raw_bytes, r.n_deflate_bytes, r.deflate_ratio)
        for r in textops.with_compression_ratio(docs).collect()
    }
    sample = docs.where(F.col("doc_id") % 7 == 0).collect()
    assert sample
    for r in sample:
        raw = (r.text or "").encode("utf-8")
        n_def = len(zlib.compress(raw, 6))
        nr, nd, ratio = got[r.doc_id]
        assert (nr, nd) == (len(raw), n_def)
        if len(raw) == 0:
            assert ratio is None
        else:
            assert ratio == n_def / len(raw)
    empty = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    for r in textops.with_compression_ratio(empty).collect():
        assert r.deflate_ratio is None
    again = {
        r.doc_id: (r.n_raw_bytes, r.n_deflate_bytes, r.deflate_ratio)
        for r in textops.with_compression_ratio(
            docs.repartition(13)
        ).collect()
    }
    assert again == got


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (round 8)
# ---------------------------------------------------------------------------


def test_matryoshka_recall_full_dim_is_one(spark):
    """Truncating to the FULL dimension must reproduce the full top-k
    exactly — recall 1.0 for every query (self-consistency of the two
    rank windows)."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.where(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = similarity.matryoshka_recall(
        embs, queries, k=10, trunc_dim=64
    ).collect()
    assert out and all(r["recall"] == 1.0 for r in out)


def test_matryoshka_recall_bounds_and_monotony(spark):
    """Recall lies in [0,1]; a longer prefix can only help on average
    (mean recall at 32 dims >= mean recall at 4 dims over the batch —
    averaged, not per-query, since individual queries can flip)."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.where(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def mean_recall(dim):
        rows = similarity.matryoshka_recall(
            embs, queries, k=10, trunc_dim=dim
        ).collect()
        assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
        assert all(r["n_common"] == round(r["recall"] * 10) for r in rows)
        return sum(r["recall"] for r in rows) / len(rows)

    assert mean_recall(32) >= mean_recall(4)


# ---------------------------------------------------------------------------
# Label propagation (round 8)
# ---------------------------------------------------------------------------


def test_label_propagation_seeds_fixed_and_deterministic(spark):
    """On the real table: seeds never change labels, ≥80% of
    non-seeds get reached, and two runs are identical (k-means
    seeded, argmax deterministically tie-broken). Accuracy is NOT
    asserted here — the synthetic testdata labels are uncorrelated
    with embedding geometry (measured: kNN accuracy ≈ the
    majority-class baseline), so geometry-spread labels can't
    recover them; the accuracy contract lives on the clustered
    fixture below."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {r["vec_id"]: r["label"] for r in embs.collect()}
    out1 = similarity.label_propagation(
        embs, k=5, n_cells=8, iterations=3
    ).collect()
    out2 = similarity.label_propagation(
        embs, k=5, n_cells=8, iterations=3
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    for r in out1:
        if r["is_seed"]:
            assert r["label"] == truth[r["vec_id"]]
    scored = [
        r for r in out1 if not r["is_seed"] and r["label"] is not None
    ]
    assert len(scored) > 0.8 * sum(1 for r in out1 if not r["is_seed"])


def test_label_propagation_recovers_clustered_labels(spark):
    """On three well-separated Gaussian blobs with 20% seed labels,
    propagation must recover nearly all hidden labels — the operator's
    actual accuracy contract."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = np.eye(3) * 10.0
    rows = []
    for i in range(300):
        c = i % 3
        vec = centers[c] + rng.normal(0, 0.5, 3)
        rows.append((i, [float(v) for v in vec], int(c)))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    out = similarity.label_propagation(
        df, k=5, n_cells=3, iterations=3
    ).collect()
    hidden = [r for r in out if not r["is_seed"]]
    assert hidden
    acc = sum(
        1 for r in hidden if r["label"] is not None
        and r["label"] == r["vec_id"] % 3
    ) / len(hidden)
    assert acc > 0.95, acc


def test_bpe_learn_merges_matches_reference(spark, sf_dir):
    """The distributed BPE learner's merge table must equal a pure-
    Python Sennrich reference run on the same vocabulary — rule
    selection (count desc, lexicographic tiebreak) AND left-to-right
    rewrite semantics both pinned."""
    from collections import Counter

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["weight"])
        for r in textops.bpe_learn_merges(docs, n_merges=8).collect()
    ]

    # pure-Python reference on the same tokenization
    vocab = Counter()
    for row in textops.with_tokens(docs).select("tokens").collect():
        for w in row["tokens"]:
            vocab[w] += 1
    sym = {w: tuple(w) for w in vocab}
    want = []
    for rank in range(1, 9):
        pairs: Counter = Counter()
        for w, n in vocab.items():
            s = sym[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        (a, b), wt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rank, a, b, a + b, wt))
        for w in vocab:
            s, out, i = sym[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            sym[w] = tuple(out)
    assert got == want


def test_merge_adjacent_pair_left_to_right(spark):
    """Overlapping occurrences resolve like a sequential scan."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.textops import (
        merge_adjacent_pair,
    )

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "a", "b"],), (["x"],), ([],)],
        "s array<string>",
    )
    got = [
        r["m"]
        for r in df.select(
            merge_adjacent_pair("s", "a", "a", "aa").alias("m")
        ).collect()
    ]
    assert got == [["aa", "a"], ["a", "b", "a", "b"], ["x"], []]


def test_content_integrity_sniffs_magic_and_flags_mismatch(spark):
    """Real magic-byte sniffing: signed assets sniff to their planted
    container format; unsigned/garbage content flags a mismatch."""
    rows = [
        (1, "image", bytes.fromhex("89504E470D0A1A0A") + b"px", ("png",)),
        (2, "image", b"\xff\xd8\xff\xe0rest", ("png",)),
        (3, "audio", b"RIFFxxxxWAVE", ("wav",)),
        (4, "video", bytes.fromhex("0000001866747970") + b"mp42", ("mp4",)),
        (5, "image", b"plain text bytes", ("png",)),
        (6, "image", b"", (None,)),
    ]
    df = spark.createDataFrame(
        rows,
        "asset_id long, modality string, content binary, "
        "meta struct<format:string>",
    )
    got = {
        r["asset_id"]: (r["sniffed_format"], r["format_mismatch"])
        for r in multimodal.content_integrity(df).collect()
    }
    assert got[1] == ("png", False)
    assert got[2] == ("jpeg", True)  # declared png, is jpeg
    assert got[3] == ("wav", False)
    assert got[4] == ("mp4", False)
    assert got[5] == ("unknown", True)
    assert got[6] == ("unknown", False)  # nothing declared -> no flag


def test_byte_entropy_matches_pure_python(spark):
    """The Arrow-batched entropy/zero-frac values must equal a pure-
    Python recomputation bit-for-bit (repr round-trip)."""
    import math

    payloads = [
        (1, b"\x00" * 64),
        (2, bytes(range(256))),
        (3, b"abababab"),
        (4, b""),
        (5, b"The quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in payloads], "asset_id long, content binary"
    )
    got = {
        r["asset_id"]: (r["n_bytes"], r["entropy_bits"], r["zero_frac"])
        for r in multimodal.byte_entropy(df).collect()
    }
    for i, b in payloads:
        if not b:
            assert got[i] == (0, repr(0.0), repr(0.0))
            continue
        counts = [0] * 256
        for x in b:
            counts[x] += 1
        p = [c / len(b) for c in counts if c > 0]
        # numpy computes -sum(p*log2(p)) via float64 ops; mirror it
        import numpy as np

        arr = np.array(p, dtype=np.float64)
        ent = float(-(arr * np.log2(arr)).sum())
        assert got[i][0] == len(b)
        assert got[i][1] == repr(ent)
        assert got[i][2] == repr(counts[0] / len(b))
    assert math.isclose(eval(got[1][1]), 0.0) and eval(got[2][1]) == 8.0


def test_apply_bpe_matches_python_encoder(spark, sf_dir):
    """apply_bpe's corpus tokenization must equal a pure-Python BPE
    encoder applying the SAME learned merge table word by word —
    exercising the chunked vocab fold (merges_per_stage below the
    table size forces persist/materialize staging) and the
    shuffle-join vocab path (broadcast_vocab=False)."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    merges = textops.bpe_learn_merges(docs, n_merges=8)
    merge_rows = [
        (r["left"], r["right"], r["merged"])
        for r in merges.orderBy("rank").collect()
    ]

    got = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in textops.apply_bpe(
            docs,
            merges,
            merges_per_stage=3,
            broadcast_vocab=False,
        ).collect()
    }

    # the id-keyed fast path (token shuffles carry only (id, pos,
    # word); doc columns re-attach by one id join) must agree with
    # the group-by-all-columns path exactly
    got_keyed = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in textops.apply_bpe(
            docs, merges, id_col="doc_id"
        ).collect()
    }
    assert got_keyed == got

    def encode(word: str) -> list[str]:
        s = list(word)
        for a, b, m in merge_rows:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(m)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    want = {}
    for row in textops.with_tokens(docs).select(
        "doc_id", "tokens"
    ).collect():
        seq: list[str] = []
        for w in row["tokens"]:
            seq.extend(encode(w))
        want[row["doc_id"]] = seq
    assert got == want


def test_bpe_vocab_ids_matches_python_ranking(spark):
    """bpe_vocab_ids must assign 0-based ids by (corpus count DESC,
    token ASC) exactly — verified against a pure-Python recount and
    re-rank over the same applied-BPE token stream, including ties
    (equal counts order lexicographically)."""
    from collections import Counter

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        textops,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the rat"),
        (3, "a mat a rat a cat"),
        (4, None),
        (5, "zz zz zz yy yy xx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = textops.bpe_learn_merges(docs, n_merges=4)
    toked = textops.apply_bpe(docs, merges, id_col="doc_id")

    streams = {
        r["doc_id"]: list(r["bpe_tokens"]) for r in toked.collect()
    }
    counts = Counter(t for seq in streams.values() for t in seq)
    want = {
        tok: i
        for i, (tok, _) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    }

    got = {
        r["token"]: (r["token_id"], r["n"])
        for r in textops.bpe_vocab_ids(toked).collect()
    }
    assert {t: i for t, (i, _) in got.items()} == want
    assert {t: n for t, (_, n) in got.items()} == dict(counts)
    # ids are a dense 0..|vocab|-1 permutation
    assert sorted(i for i, _ in got.values()) == list(
        range(len(counts))
    )
