"""Round-15 optimization guards.

1. ``pointer_jump_components`` (graph.py) must produce EXACTLY the
   star-contraction labels (component = smallest reachable id) on
   adversarial shapes — it replaced star contraction on the integral-id
   hot paths (customer_entity_resolution, doc_link_components).
2. The materialize-then-release pattern must not leave stale cached
   data behind: after a sweep operator's returned frame is consumed
   and unpersisted, NO cached RDD may survive (r14 verdict item 3 —
   this is the regression test that goes red if someone removes an
   input's ``finally`` unpersist, which would silently turn the
   bench's min-of-5 into a cache benchmark on a future Spark).
3. Bench-style consumption (count + ``spark.catalog.clearCache()``)
   keeps the CacheManager flat across catalog queries (r14 verdict
   item 5).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aws_sql_server_to_s3_datalake_etl_migration_spark.operators.graph import (
    connected_components,
    pointer_jump_components,
    star_connected_components,
)


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _graph_cases():
    rng = random.Random(1234)
    cases = {
        # min id attached as a leaf at the FAR end of a path whose ids
        # ascend away from it — the layout where pointer doubling
        # without stochastic hooking degrades to O(diameter) crawling
        "caterpillar": (
            list(range(0, 41)),
            [(i, i + 1) for i in range(1, 40)] + [(40, 0)],
        ),
        "cliques_pairs_singletons": (
            list(range(60)),
            [(i, j) for i in range(8) for j in range(i + 1, 8)]
            + [(30 + 2 * i, 31 + 2 * i) for i in range(5)],
        ),
        "random200": (
            list(range(200)),
            [
                (rng.randrange(200), rng.randrange(200))
                for _ in range(160)
            ],
        ),
        "selfloops_dups_reversed": (
            list(range(12)),
            [(5, 5), (1, 2), (2, 1), (1, 2), (7, 3), (3, 9)],
        ),
        "star_high_center": (
            list(range(50)),
            [(49, i) for i in range(15)],
        ),
    }
    return cases


@pytest.mark.parametrize("case", sorted(_graph_cases()))
def test_pointer_jump_matches_star_contraction(spark, case):
    nodes, edges = _graph_cases()[case]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = _labels(pointer_jump_components(ndf, edf))
    want = _labels(star_connected_components(ndf, edf))
    assert got == want


def test_pointer_jump_no_edges_all_singletons(spark):
    ndf = spark.createDataFrame([(i,) for i in range(5)], "node bigint")
    edf = spark.createDataFrame(
        [(0, 0)], "src bigint, dst bigint"
    ).where(F.lit(False))
    got = _labels(pointer_jump_components(ndf, edf))
    assert got == {i: i for i in range(5)}


def test_pointer_jump_rejects_string_ids_and_dispatcher_routes(spark):
    ndf = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string"
    )
    edf = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="integral node ids"):
        pointer_jump_components(ndf, edf)
    # the public dispatcher must still serve string ids (star path)
    got = _labels(connected_components(ndf, edf))
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_connected_components_algo_param_same_labels(spark):
    # both delegates must keep the min-label contract; callers route
    # per measurement (doc_link_components pins algo="pointer_jump")
    nodes = [1, 2, 3, 4, 5, 9]
    edges = [(1, 2), (2, 3), (4, 5)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}
    assert _labels(connected_components(ndf, edf)) == want
    assert (
        _labels(connected_components(ndf, edf, algo="pointer_jump"))
        == want
    )
    with pytest.raises(ValueError, match="unknown algo"):
        connected_components(ndf, edf, algo="nope")


# ---------------------------------------------------------------------------
# cache hygiene: materialize-then-release must not strand cached data
# ---------------------------------------------------------------------------


def _cached_rdd_count(spark) -> int:
    """Cached-RDD count; polls briefly because block drops of
    non-blocking unpersists (e.g. operators' internal ``finally``
    releases) land asynchronously."""
    import time

    n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    deadline = time.time() + 10.0
    while n and time.time() < deadline:
        time.sleep(0.2)
        n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return n


def _consume_and_release(spark, df) -> None:
    df.count()
    df.unpersist(blocking=True)


def test_sweep_operators_leave_no_stale_cache(spark):
    """After consuming a sweep operator's returned (persisted) frame
    and unpersisting it, no cached RDD may survive. Red if an
    operator's input ``finally`` unpersist is removed — the stranded
    input cache would show up here AND would turn repeat bench
    iterations into cache reads."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        dedup,
        linkage,
        retrieval,
    )

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta epsilon zeta token{i % 7} "
                f"eta theta iota kappa{i % 3}")
            for i in range(60)
        ],
        "doc_id bigint, text string",
    )
    names = spark.createDataFrame(
        [(i, f"Customer#{i:05d}") for i in range(80)],
        "cid bigint, name string",
    )

    _consume_and_release(
        spark,
        linkage.edit_distance_self_join(names, "cid", "name"),
    )
    assert _cached_rdd_count(spark) == 0, "edit_distance_self_join"

    _consume_and_release(
        spark,
        dedup.ngram_containment_pairs(docs, n=2, threshold=0.5),
    )
    assert _cached_rdd_count(spark) == 0, "ngram_containment_pairs"

    _consume_and_release(
        spark,
        retrieval.bm25_topk(docs, ["alpha", "token1"], k=5),
    )
    assert _cached_rdd_count(spark) == 0, "bm25_topk"


def test_iterative_operators_leave_no_stale_cache(spark):
    """The iterative loops (pointer-jump CC, BPE learner, label
    propagation) release every per-round frame except the returned
    result."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
        textops,
    )

    spark.catalog.clearCache()
    ndf = spark.createDataFrame([(i,) for i in range(30)], "node bigint")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "src bigint, dst bigint"
    )
    _consume_and_release(spark, pointer_jump_components(ndf, edf))
    assert _cached_rdd_count(spark) == 0, "pointer_jump_components"

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer newest wide wider")],
        "doc_id bigint, text string",
    )
    merges = textops.bpe_learn_merges(docs, n_merges=4)
    merges.collect()  # plain driver-side frame, nothing persisted
    assert _cached_rdd_count(spark) == 0, "bpe_learn_merges"

    embs = spark.createDataFrame(
        [
            (i, [float(i % 4) + 1.0, float((i + 1) % 3)], f"L{i % 2}")
            for i in range(24)
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    _consume_and_release(
        spark,
        similarity.label_propagation(
            embs, k=3, n_cells=2, iterations=3, seeded_cells=True
        ),
    )
    assert _cached_rdd_count(spark) == 0, "label_propagation"


def _path_cc(op):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        dedup,
        graph,
    )

    def run(ndf, edf, **kw):
        if op == "dedup":
            return dedup.connected_components(
                edf.select(
                    F.col("src").alias("id_a"), F.col("dst").alias("id_b")
                ),
                ndf.select(F.col("node").alias("doc_id")),
                **kw,
            )
        if op == "k_core":
            return graph.k_core(ndf, edf, 2, **kw)
        return getattr(graph, op)(ndf, edf, **kw)

    return run


@pytest.mark.parametrize(
    "op",
    [
        "star_connected_components",
        "pointer_jump_components",
        "k_core",
        "coreness",
        "dedup",
    ],
)
def test_non_convergence_raise_leaves_no_cache(spark, op):
    """Every fixed-point operator refuses a half-converged answer AND
    releases every round it persisted on the way out."""
    spark.catalog.clearCache()
    ndf = spark.createDataFrame([(i,) for i in range(8)], "node bigint")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _path_cc(op)(ndf, edf, max_iter=1)
    assert _cached_rdd_count(spark) == 0, op


def test_bench_style_consumption_keeps_cachemanager_flat(spark, sf_dir):
    """Bench/checker consumption contract: count + clearCache after
    each catalog query keeps the CacheManager empty — one entry per
    sweep query must not accumulate across a catalog pass."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark import (
        workloads,
    )

    spark.catalog.clearCache()
    qs = workloads.queries()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name in (
        "customer_name_neardup_pairs",
        "doc_ngram_containment_pairs",
        "doc_link_components",
    ):
        qs[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        assert cm.isEmpty(), f"CacheManager not flat after {name}"
        assert _cached_rdd_count(spark) == 0, name


# ---------------------------------------------------------------------------
# label propagation: the folded self-vote arm must keep the exact
# keep/seed/vote semantics (negative vote masses included)
# ---------------------------------------------------------------------------


def test_label_propagation_adopts_negative_mass_votes(spark):
    """A non-seed whose only labeled neighbor votes with NEGATIVE
    cosine mass must still ADOPT the vote (the old join-back rule's
    coalesce took any vote); the r15 self-vote sentinel must lose to
    it. Seeds keep their label against any vote."""
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "A"),
            (1, [-1.0, 0.01], "B"),  # non-seed; cosine to 0 is ~ -1
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    for fp in (False, True):
        out = {
            r["vec_id"]: (r["label"], r["is_seed"])
            for r in similarity.label_propagation(
                embs,
                k=2,
                n_cells=1,
                iterations=1,
                seed_filter=F.col("vec_id") == 0,
                seeded_cells=True,
                fp_weights=fp,
            ).collect()
        }
        assert out[0] == ("A", True), fp
        assert out[1] == ("A", False), fp


def test_label_propagation_unreached_nodes_keep_null(spark):
    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    # two isolated seedless vectors in their own cell never get a
    # label; the seed keeps its own
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "A"),
            (7, [0.0, 1.0], "B"),
            (9, [0.0, 0.9], "C"),
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    out = {
        r["vec_id"]: r["label"]
        for r in similarity.label_propagation(
            embs,
            k=1,
            n_cells=2,
            iterations=2,
            seed_filter=F.col("vec_id") == 0,
            seeded_cells=True,
        ).collect()
    }
    assert out[0] == "A"
    # 7 and 9 share a cell with each other only (both unlabeled):
    # no labeled component ever reaches them
    assert out[7] is None and out[9] is None


def test_label_propagation_zero_norm_vector_raises_typed(spark):
    """A zero-norm embedding never reaches the seed-sentinel vote
    arithmetic: the cosine normalization divides by its norm, and
    Spark's default ANSI mode raises DIVIDE_BY_ZERO in both weight
    modes, so a seed can never be silently relabeled."""
    from pyspark.errors import ArithmeticException

    from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
        similarity,
    )

    embs = spark.createDataFrame(
        [
            (0, [0.0, 0.0], "A"),  # zero-norm seed
            (1, [1.0, 0.0], "B"),
            (2, [0.9, 0.1], None),
        ],
        "vec_id bigint, embedding array<double>, label string",
    )
    for fp in (False, True):
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            similarity.label_propagation(
                embs,
                k=2,
                n_cells=1,
                iterations=2,
                seed_filter=F.col("label").isNotNull(),
                seeded_cells=True,
                fp_weights=fp,
            ).collect()
