"""Physical-plan audit for the headline queries.

Checks, per query, the properties that decide whether the plan survives
a 100× scale-up — and prints the formatted plan on request:

- ``pushed``: the parquet scan carries PushedFilters (predicates reach
  the reader, not a post-scan Filter).
- ``pruned``: ReadSchema holds only the referenced columns for scans of
  wide tables (column pruning).
- ``broadcast``: every fact-dim join is a BroadcastHashJoin (no
  SortMergeJoin shuffling the fact side for a dim lookup).
- ``codegen``: WholeStageCodegen spans exist (expressions stay
  JVM-side).

Usage: python tools/explain_audit.py [--show] [names...]
Exit code 1 if any expectation fails.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_sql_server_to_s3_datalake_etl_migration_spark import workloads
from aws_sql_server_to_s3_datalake_etl_migration_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> expectations. no_smj: every join below the agg must be
# broadcast (fact side never shuffles for a join). pushed: at least one
# scan shows a non-empty PushedFilters. hints: exact number of explicit
# broadcast hints allowed in the analyzed plan (the dim-only broadcast
# rule — fact-derived sides must stay un-hinted; AQE converts them to
# broadcast at this SF, which no_smj verifies). aqe_bhj: the final
# adaptive plan must contain a BroadcastHashJoin chosen at runtime.
EXPECT: dict[str, dict] = {
    # flagship: nation (bounded dim) is the ONLY allowed hint; the
    # customer-derived semi-join side must stay un-hinted (it grows with
    # SF) and AQE must pick the broadcast at this SF.
    "flagship_policies_ingest": {
        "pushed": True, "no_smj": True, "hints": 1, "aqe_bhj": True,
    },
    "pricing_summary": {"pushed": True, "no_smj": True},
    # r13: the segment-filtered customer hint removed (linear in SF —
    # _BROADCAST_RULE); AQE must still broadcast it at this SF.
    "shipping_priority": {
        "pushed": True, "no_smj": True, "hints": 0, "aqe_bhj": True,
    },
    "returned_item_losses": {
        "pushed": True, "no_smj": True, "hints": 1, "aqe_bhj": True,
    },
    "small_quantity_part_revenue": {"pushed": True, "no_smj": True},
    "outer_join_nation_order_stats": {"pushed": False, "no_smj": True},
    "window_top_orders_per_segment": {"pushed": False, "no_smj": True},
    "part_type_margins": {"pushed": False, "no_smj": True},
    "late_shipment_orders": {"pushed": True, "no_smj": True},
    "events_in_list_filter": {"pushed": True, "no_smj": True},
    "topk_orders": {"pushed": False, "no_smj": True},
    # local_supplier_volume keeps one SMJ by design (big-big
    # lineitem ⋈ orders); everything else must broadcast.
    "local_supplier_volume": {"pushed": True, "no_smj": False},
    "merge_upsert_preview": {"pushed": True, "no_smj": True},
    "pivot_status_by_priority": {"pushed": False, "no_smj": True},
    "events_json_props": {"pushed": False, "no_smj": True},
    "event_session_stats": {"pushed": False, "no_smj": True},
    "supplier_balance_rank": {"pushed": False, "no_smj": True},
    "running_customer_spend": {"pushed": True, "no_smj": True},
    "monthly_order_momentum": {"pushed": False, "no_smj": True},
    "forecast_revenue_change": {"pushed": True, "no_smj": True},
    "large_volume_customers": {
        "pushed": False, "no_smj": True, "hints": 0, "aqe_bhj": True,
    },
    "nation_market_share": {
        "pushed": True, "no_smj": True, "hints": 3, "aqe_bhj": True,
    },
    "disjunctive_filter_revenue": {"pushed": True, "no_smj": True},
    "array_hof_surface": {"pushed": False, "no_smj": True},
    "nation_customer_rosters": {"pushed": False, "no_smj": True},
    # part_pruned: the scan must carry a non-empty PartitionFilters —
    # directory-level pruning, the partitioned-ingest posture's payoff.
    "partitioned_orders_pruned_scan": {
        "pushed": False, "no_smj": True, "part_pruned": True,
    },
    "volume_shipping": {"pushed": True, "no_smj": True, "aqe_bhj": True},
    "promo_revenue_pct": {"pushed": True, "no_smj": True},
    "waiting_suppliers": {"pushed": True, "no_smj": True, "aqe_bhj": True},
    # TPC-H gap-fill shapes (workloads_tpch2.py)
    "cheapest_part_offers": {"pushed": True, "no_smj": True, "hints": 4},
    "product_type_profit": {
        "pushed": True, "no_smj": True, "hints": 3, "aqe_bhj": True,
    },
    # v's dim hints (nation + roster) appear twice in the analyzed plan
    # because the per-part aggregate feeds both the filter branch and
    # the scalar-total branch: 2*2 + 1 (total broadcast) = 5.
    "important_part_value": {"pushed": True, "no_smj": True, "hints": 5},
    "priority_shipment_classes": {
        "pushed": True, "no_smj": True, "hints": 0, "aqe_bhj": True,
    },
    "customer_order_distribution": {
        "pushed": True, "no_smj": True, "hints": 0, "aqe_bhj": True,
    },
    "top_revenue_suppliers": {"pushed": True, "no_smj": True, "hints": 2},
    "part_supplier_variety": {"pushed": True, "no_smj": True, "hints": 2},
    "promotable_part_suppliers": {
        "pushed": True, "no_smj": True, "hints": 3,
    },
    # Warehouse-maintenance + LLM-prep additions
    # scd2 keeps its SMJ by design: a full-outer join null-fills both
    # sides, so neither can be the broadcast build side.
    "scd2_customer_history": {"pushed": True, "no_smj": False, "hints": 0},
    "dq_orders_report": {
        "pushed": True, "no_smj": True, "hints": 0, "aqe_bhj": True,
    },
    "doc_prep_pipeline": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # n-gram Jaccard: the postings self-join is an equi-join on the
    # shingle key — SMJ is the sanctioned big-big strategy at scale, but
    # a nested-loop/cartesian (non-equi condition) or any Python eval
    # node in the hot path is a regression. The default BNLJ check plus
    # pure_jvm pin both.
    "doc_ngram_jaccard_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    "emb_label_centroids": {"pushed": True, "no_smj": True, "hints": 0},
    # Repetition signals: pure column expressions — the bigram-mode
    # run-length fold must stay inside codegen with no join/exchange.
    "doc_repetition_stats": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # Hash-threshold sampling: one codegen'd filter; only the two
    # projected columns may be read.
    "doc_stratified_sample": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # tf-idf: the DF side is aggregated (one row per distinct term), so
    # the term join must broadcast, not sort-merge; no explicit hints —
    # AQE decides from runtime stats.
    "doc_tfidf_topterms": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # decontamination: eval side collapses to distinct grams (small) —
    # the gram join must broadcast at this SF; the filter doc_id % 41
    # reaches the scan.
    "doc_decontamination": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
        "aqe_bhj": True,
    },
    # shuffle shards: one hash shuffle on shard + in-partition sort for
    # the rank; no joins at all.
    "doc_shuffle_shards": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # funnel: both running-min windows and the per-user agg share ONE
    # user_id exchange; no joins anywhere.
    "event_funnel_conversion": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 2,
    },
    # gapfill: the grid joins the *aggregated* hourly table (both sides
    # one row per key×bucket) — raw events never re-scanned, the join
    # broadcasts at this SF, and nothing leaves the JVM.
    "events_gapfill_locf": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # interpolation: gapfill plan + two neighbor windows sharing one
    # sort per direction; still no Python and no sort-merge join.
    "events_gapfill_interpolate": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # anomaly scoring: gapfill plan + one ROWS-frame window; still no
    # Python and no sort-merge join.
    "events_anomaly_zscore": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # MG sketch: MapInPandas is the operator's design (bounded-memory
    # summaries), so pure_jvm is NOT pinned — but the merge must stay a
    # plain hash agg + bounded window: no join of any kind.
    "doc_frequent_terms_sketch": {
        "pushed": False, "no_smj": True, "hints": 0,
    },
    # variant extraction: props IS NOT NULL reaches the scan; variant
    # decode + agg stay JVM-side.
    "events_variant_props": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # rolling WAU: the day-restriction join is the one explicit
    # broadcast (tiny distinct-days list); user-day spread + distinct
    # agg never sort-merge.
    "events_rolling_active_users": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # temperature mix: the rates join is the one explicit broadcast
    # (|strata| rows); the corpus side never shuffles for it.
    "doc_temperature_mix": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # substring leak: eval side collapses to a distinct window set
    # (small), so the window equi-join must broadcast; the % 41 split
    # filter reaches the scan; everything JVM-side.
    "doc_substring_leak": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
        "aqe_bhj": True,
    },
    # CDC apply: the snapshot side is one anti-join against the
    # latest-change key set — AQE must broadcast the (small) feed so
    # the snapshot never shuffles for it; everything stays JVM-side.
    "orders_cdc_apply": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "aqe_bhj": True,
    },
    # chunking: tokenize + explode + slice — no joins, no Python.
    "doc_chunks": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # per-source caps: the limit must push MAP-SIDE via
    # WindowGroupLimit (a hot source forwards O(cap) rows per input
    # partition, not its full size).
    "doc_source_caps": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "wgl": True,
    },
    # fixed-size deterministic sample: ORDER BY + LIMIT must plan as
    # TakeOrderedAndProject (per-partition heaps), never a global sort.
    "doc_take_n": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "take_ordered": True,
    },
    # payload as-of join: union-tag + window — there must be NO join
    # operator at all (the inequality-join formulation Spark would
    # otherwise plan is the scale killer this operator exists to
    # avoid), and the struct carry stays JVM-side.
    "event_asof_enrich": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # incremental exact dedup: the fingerprint-index anti-join must
    # shuffle ONLY the fixed-width fingerprint — every scan of the
    # index reads exactly content_fp (at 100 TB the index is
    # distinct-count x 32 bytes; a wider ReadSchema would drag
    # admitted-row payloads through the join).
    "doc_incremental_dedup": {
        "no_smj": True, "hints": 0, "pure_jvm": True,
        "narrow_scans": [("fp_idx_", ["content_fp"])],
    },
    # incremental near-dup: the history side of the admission
    # semi-join reads ONLY the two band-bucket key columns from the
    # persisted LSH index — never ids or text.
    "doc_incremental_neardup": {
        "no_smj": True, "hints": 0,
        "narrow_scans": [("band_idx_", ["band_idx", "band_hash"])],
    },
    # Round-6 curation additions
    # deletion-neighborhood linkage: the candidate generator is an
    # equi-join on the deletion key (big-big: SMJ sanctioned, AQE may
    # broadcast at this SF) — but a nested-loop join would mean the
    # cross join the operator exists to avoid, and the verify must be
    # codegen levenshtein, not Python.
    "customer_name_neardup_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
        # the verify stage must be the JVM levenshtein expression in
        # codegen — if it ever regressed to a Python UDF the global
        # BatchEvalPython check would fire, but this pins the positive
        # side too (r6 verdict item 7)
        "plan_contains": ["levenshtein"],
    },
    # BM25: postings filtered to query terms pre-shuffle; df (≤|terms|
    # rows) and the (N, avgdl) row are the two explicit broadcasts;
    # final ranking must be TakeOrderedAndProject.
    "doc_bm25_search": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
        "take_ordered": True,
    },
    # transition matrix: one user_id exchange for the lead() window;
    # the normalizing window runs on the |types|^2 aggregate; no joins.
    "event_transition_matrix": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # source overlap: postings self-join on the gram key (big-big —
    # SMJ sanctioned at scale); the two size joins broadcast |sources|
    # rows each.
    "doc_source_overlap": {
        "pushed": False, "no_smj": False, "hints": 2, "pure_jvm": True,
    },
    # column profiler: ONE scan; the multi-distinct plans as an Expand
    # + hash aggregates — no joins, no Python, no re-scan per column.
    "orders_column_profile": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # OLS trend: a single partial-aggregated groupBy of decimal sums.
    "events_value_trend": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # SQ8 quantization: params collapse to one broadcast row (the
    # sanctioned single-row nested-loop); encode stays codegen.
    "emb_quantize_int8": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # quantized search: encode + decode + rank in one plan; ranking
    # must stay TakeOrderedAndProject over the codes-only scan.
    "emb_quantized_topk": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
        "take_ordered": True,
    },
    # batch BM25: vocabulary semi-join, df, stats, and the
    # (query, term) pairs are the explicit broadcasts; the vocabulary
    # hint appears twice in the analyzed plan because the filtered
    # postings feed both the tf branch and the df branch: 5 total.
    # Per-query ranking must push WindowGroupLimit.
    "doc_bm25_batch": {
        "pushed": False, "no_smj": True, "hints": 5, "pure_jvm": True,
        "wgl": True,
    },
    # bigram LM fluency: the per-position joins key on aggregated
    # count tables (AQE broadcasts them at this SF; only the bigram
    # join may go SMJ at corpus scale) and V is the one explicit
    # single-row broadcast; everything stays JVM-side.
    "doc_lm_fluency": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # duplicated-span removal: one explode + span-text hash-agg +
    # big-vs-aggregated join back (SMJ sanctioned at corpus scale) +
    # reassembly agg; no hints, no Python, no window.
    "doc_span_dedup": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # cluster representatives: postings join for pairs (big-big, SMJ
    # sanctioned) + per-cluster row_number over dup-group-sized
    # partitions; label propagation runs outside this lazy plan.
    "doc_dedup_survivors": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # epoch up-sampling: one scan + codegen quality score + explode of
    # the per-row repeat factor — no joins, no window, no shuffle.
    "doc_epoch_mix": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # DPP join: the peak-year set is DATA in the calendar dim, so the
    # fact scan must carry a dynamicpruning PartitionFilter (runtime
    # directory pruning); the calendar broadcast is the one hint.
    "partitioned_orders_dpp_join": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
        "dpp": True,
    },
    # salted hot-key aggregate: stage-1 (type, salt) + stage-2 (type)
    # + the distinct-user branch; joins run over tiny aggregates.
    "events_salted_type_stats": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # bucketed Q5: the lineitem-orders join consumes the bucketed
    # layout — the ONLY materialized shuffle stage left is the final
    # n_name aggregate (write-time shuffle amortized). The customer
    # side rides a size-gated maybe_broadcast (r13): hinted at this SF
    # so the fact stream never shuffles for it, AQE-owned past the
    # size bound.
    "bucketed_supplier_volume": {
        "pushed": True, "no_smj": False, "pure_jvm": True,
        "shuffles": 1,
    },
    # z-order scan: both range predicates must reach the parquet
    # reader (PushedFilters) — that's what the layout's min/max stats
    # serve; no joins, no Python.
    "zorder_orders_skipping_scan": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # embedding quality report: one codegen validation pass + one
    # hash-agg; no joins, no Python.
    "emb_quality_report": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # session-incident overlap: sessionize windows share one user_id
    # exchange; the interval join is an EQUI-join on the hour bin
    # (explode fan-out), never a BroadcastNestedLoopJoin; the 168-slot
    # baseline is the one explicit broadcast.
    "session_incident_overlap": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # OOV rate: explode + top-k vocab aggregate broadcast back into
    # the membership join + per-doc agg; one explicit hint.
    "doc_oov_rate": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # corpus card: ONE scan + one hash-agg; the mixed distinct/plain
    # aggregate plans as an Expand like the column profiler; no joins.
    "doc_corpus_card": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # seasonal baseline: two aggregates of one scan; the 168-slot
    # baseline broadcasts explicitly; no window, no Python.
    "events_seasonal_baseline": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # time-bound funnel: identical single-shuffle shape as the
    # unbounded funnel — both running-min windows and the per-user agg
    # reuse ONE user_id exchange; the deadline is a predicate, not a
    # range self-join.
    "event_funnel_windowed": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        # ONE user_id exchange shared by both windows + the per-user
        # agg, plus the final single-partition global agg
        "shuffles": 2,
    },
    # SCD2 change feed: the history build (full-outer MERGE shape) +
    # one per-key window + union; no Python.
    "scd2_customer_changes": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # RFM: one map-side-combined aggregate, then three DISTRIBUTED
    # ordered-prefix passes (operators/ranking.py) joined back on the
    # customer key — quantile-bucketed rank windows, one broadcast
    # carry join per pass (3 hints), closed-form NTILE. The only
    # unpartitioned windows are the three <=64-row bucket carries
    # (GLOBAL_WINDOW_OK).
    # the persisted per-customer aggregate absorbs the base shuffles
    # (InMemoryTableScan); carry aggregates broadcast. No shuffle-
    # count pin: since the r10 eager-materialize/unpersist pattern,
    # the returned frame reads ITS OWN cache and the visible stage
    # count depends on session cache state (1 in isolation, 2 after a
    # long audit run evicts blocks) — order-dependent, not a plan
    # property.
    "customer_rfm_segments": {
        "pushed": False, "no_smj": True, "hints": 3, "pure_jvm": True,
    },
    # hard-negative mining: centroid cross product is |Q| x n_cells
    # narrow rows (one explicit broadcast); the probed-cell equi-join
    # + label filter + per-query window must stay JVM-side.
    "emb_hard_negatives": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # discrete quantiles (rewritten r10): bucket-locate order
    # statistics — the needed-list broadcast (the 1 hint) filters to
    # ~1/64 of each segment before the (segment, bucket, p) window;
    # never a whole-segment sort task.
    "orders_price_quantiles": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # PQ ADC search: the codebook (m x n_codes rows) broadcasts into
    # both the encode argmin and the ADC lookup; the seed-codebook
    # limit(16) sort is 16 rows, so no_smj holds; ranking must stay
    # TakeOrderedAndProject.
    "emb_pq_topk": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
        "take_ordered": True,
        # the ADC lookup and encode argmin must consume the codebook
        # as a BROADCAST build side — a ShuffledHashJoin/SMJ here
        # would shuffle the corpus-encode stream against an m x
        # n_codes table (r6 verdict item 7)
        "bhj_only": True,
    },
    # Round-7 additions
    # PII scrub: three chained regexp_replace in ONE codegen pass over
    # one scan — no joins, no shuffle, no Python.
    "doc_pii_scrub": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # verified LSH twins: banded candidate generation (bucket
    # collect_list agg) + the exact-equality verify joins; big-big
    # joins sanctioned (AQE picks the strategy at this SF), but the
    # whole pipeline must stay JVM-side.
    "doc_minhash_exact_dup_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    "doc_simhash_exact_dup_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # phrase search: postings filtered to the two phrase terms before
    # the position equi-joins (tiny sides; AQE picks the strategy).
    "doc_phrase_search": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # token-budget mix: control-plane arithmetic over per-source
    # aggregates. Three explicit broadcasts (totals row, leftover row,
    # final allocation) — the totals hint appears twice in the
    # analyzed tree because the leftover aggregate re-reads the
    # hinted a0 lineage, hence 4 ResolvedHints.
    "doc_token_budget_mix": {
        "pushed": False, "no_smj": True, "hints": 4, "pure_jvm": True,
    },
    # kNN classify: ONE explicit broadcast (the bounded query batch)
    # into the corpus scan; top-k + vote windows over |Q|-bounded rows.
    "emb_knn_classify": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # change points: hourly hash-agg + per-type RANGE windows — the
    # (type,hour) agg exchange and the per-type window exchange are
    # the only shuffles; span/frame windows share the second.
    "events_change_points": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 2,
    },
    # winsorized stats (rewritten r10): bucket-locate integer-rank
    # cuts (1 hinted needed-list broadcast) + the hinted 20-row cut
    # join + final hash-agg; never a per-source corpus window.
    "doc_length_winsorized": {
        "pushed": False, "no_smj": False, "hints": 2, "pure_jvm": True,
    },
    # join-view delta propagation: each leg shuffles a DELTA against
    # one base on the join key — pushed filters carve the deltas out
    # of the scans; big-big legs sanctioned (AQE decides).
    "order_lineitem_view_delta": {
        "pushed": True, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # sliding windows: one Expand-style window assignment + one
    # hash-agg; no joins, no Python.
    "events_sliding_windows": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # delta roundtrip: the RETURNED plan is a log-replay read — a
    # plain scan of the live files, no joins, no Python (the merge
    # commits run eagerly before the plan is handed back).
    "orders_delta_merge_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # Round-8 additions
    # update/delete roundtrip: like the merge roundtrip, the RETURNED
    # plan is a log-replay scan of the post-mutation live files — the
    # copy-on-write UPDATE/DELETE commits ran eagerly beforehand.
    "orders_delta_update_delete_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # compact+restore roundtrip: returned plan is a log-replay scan of
    # the restored live set (the compaction bin-pack, delete and
    # metadata-only restore all committed eagerly beforehand).
    "orders_delta_compact_restore_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # stats-skipping scan: file list pruned by footer min/max, residual
    # range predicate pushed into the surviving files' scan; no joins,
    # no shuffles.
    "orders_delta_stats_skipping_scan": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # schema evolution roundtrip: declared-schema log-replay scan (new
    # column NULL-backfilled by the explicit read schema, not a
    # mergeSchema footer pass); no joins, no shuffles.
    "orders_delta_schema_evolution": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # zorder skipping scan: Morton-clustered log-replay scan pruned on
    # BOTH predicate columns at the file list; residual conjunction
    # pushed; no joins, no shuffles (clustering committed eagerly).
    "orders_delta_zorder_skipping_scan": {
        "pushed": True, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # replaceWhere backfill: the returned plan is a log-replay scan of
    # the post-replacement live files (the atomic delete+insert commit
    # ran eagerly); no joins, no Python.
    "orders_delta_replace_where_backfill": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # CDF feed: per-commit unions of added/removed file scans diffed
    # with exceptAll (hash-agg shuffles, no joins) — dataChange=false
    # commits never even reach the plan.
    "orders_delta_cdf": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # CDF view maintenance: base-aggregate (time-travel read) full-
    # outer-joined with the signed delta aggregate — both sides are
    # already-aggregated status rows (full outer => SMJ is the correct
    # physical join here; the inputs are tiny by construction).
    "orders_cdf_view_maintenance": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # all-pairs characteristic-term similarity: prefix-bounded posting
    # self-join on term (big-big sanctioned, AQE decides) after the
    # per-term frequency-cap window (the PPJoin-style bound) + pair
    # agg. The text scan has no pushable predicate.
    "doc_tfidf_topterm_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # RI audit: seven key-column anti-joins (dims broadcast; the
    # lineitem-parent edges are big-big, AQE decides) + 1x1 count
    # crossjoins.
    "referential_integrity_audit": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # partitioned delta roundtrip: the returned plan is a log-replay
    # scan of ONE partition's live files (pruned at the FILE LIST, so
    # other partitions' files don't even appear as scan inputs) — no
    # joins, no shuffles, no Python.
    "orders_delta_partitioned_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # partial-probe hard negatives (the production-shaped twin): same
    # bounded centroid cross join + probed-cell equi-join + label
    # filter machinery as the full-probe verifier, scanning
    # nprobe/n_cells of the corpus per anchor.
    "emb_hard_negatives_probed": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # verified incremental near-dup twin: LSH band agg + exact-verify
    # joins; big-big joins sanctioned (AQE decides); JVM throughout.
    "doc_incremental_neardup_checked": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # readability: one codegen pass over one scan — no joins, no
    # shuffles, no Python; runs at scan speed at any scale.
    "doc_readability": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # per-dimension stats: posexplode fan-out into the COUNT(DISTINCT)
    # two-phase aggregate — one shuffle dedups (dim, value) with
    # map-side partials, the second folds the 64 groups. Both are the
    # exact-distinct plan, not a lost reuse.
    "emb_dim_stats": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 2,
    },
    # HLL rollup: per-day sketch agg + the merge agg over day
    # sketches; the final orderBy sorts days+1 rows.
    "events_hll_rollup": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # time-weighted average (rewritten r10): ordered-lead bucketed on
    # the within-day offset — windows partition by (type, day,
    # bucket), the carry is a plain join (broadcast_carry=False for
    # the |type-days| x 64 carry table), then the final hash-agg. No
    # shuffle-count pin: the lead pass legitimately adds exchanges in
    # trade for removing the per-type-day task-size ceiling.
    "events_time_weighted_avg": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # ABC classes: the fact-side spend agg shuffles once by customer;
    # the cumulative share runs as a distributed ordered-prefix pass
    # (quantile buckets + one broadcast carry join — 1 hint); only the
    # <=64-row carry windows are unpartitioned (GLOBAL_WINDOW_OK).
    # r14: the per-customer spend aggregate is persisted across the
    # prefix pass's boundary/main/carry derivations (guide §5), so
    # the three duplicate orders-side shuffles collapsed — 6 -> 3
    # materialized shuffle stages.
    "customer_abc_classes": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
        "shuffles": 3,
    },
    # OHLC bars (rewritten r10): zero windows — min_by/max_by fold
    # open/close into the ONE map-side-combined (type, hour) hash-agg.
    "events_ohlc_bars": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 1,
    },
    # pair affinity: basket dedup agg + the order-key self-equi-join
    # + the pair-key agg; the join side is fact-derived, so AQE picks
    # the strategy (broadcast at this SF, SMJ at scale — sanctioned).
    "part_pair_affinity": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # --- round-8 late additions ---
    # skyline: the pre-filter keeps the exact pass's join tiny — AQE
    # broadcasts it (no hint: the gmax side is fact-derived); the
    # bucket min/max + survivors = 2 shuffles total.
    "orders_skyline": {
        "pushed": True, "no_smj": True, "hints": 0, "aqe_bhj": True,
        "shuffles": 2, "pure_jvm": True,
    },
    # HHI: supplier + nation are true dims (2 hints, all joins
    # broadcast); supplier-grouping + nation-grouping = 2 shuffles.
    "supplier_nation_hhi": {
        "pushed": False, "no_smj": True, "hints": 2, "bhj_only": True,
        "shuffles": 2, "pure_jvm": True,
    },
    # weighted median (rewritten r10): distributed ordered-prefix
    # cumulative weight partitioned by flag — the old per-flag window
    # carried the fact table in 3 tasks; the 1 hint is the <=64-row
    # carry broadcast.
    "lineitem_weighted_median": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # ACF: daily pre-agg + per-type window; all 7 lags from the ONE
    # window sort (a per-lag pass would be 8 shuffles).
    "events_acf_daily": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 2,
        "pure_jvm": True,
    },
    # top paths: the rn <= 3 rank filter must push into the window
    # sort as WindowGroupLimit (map-side top-3 per session).
    "events_top_paths": {
        "pushed": False, "no_smj": True, "hints": 0, "wgl": True,
        "pure_jvm": True,
    },
    "orders_benford_dq": {
        "pushed": True, "no_smj": True, "hints": 0, "shuffles": 2,
        "pure_jvm": True,
    },
    # matryoshka: ONE corpus scan against the broadcast bounded query
    # batch (1 hint); both rank windows share the hash(_qid) exchange.
    "emb_matryoshka_recall": {
        "pushed": True, "no_smj": True, "hints": 1, "shuffles": 1,
        "pure_jvm": True,
    },
    # ORC roundtrip: the price predicate must reach the ORC reader
    # (PushedFilters) — the format-parity pin next to the parquet
    # scans; a pure scan-side plan, zero shuffles.
    "orders_orc_roundtrip": {
        "pushed": True, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True,
    },
    # JSON roundtrip: row-oriented text scan — no pushdown, and the
    # plan is a bare FileScan with no codegen stage to span
    # (codegen_ok lifts the blanket WholeStageCodegen check).
    "events_json_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True, "codegen_ok": False,
    },
    # gaps & islands: the distinct (cust, month) pre-agg + the
    # customer-keyed window/agg family share partitioning — 2
    # shuffles total, no join at all.
    "customer_order_streaks": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 2,
        "pure_jvm": True,
    },
    # cross-correlation: one daily-pivot agg (exchange reused across
    # the 3 pair branches), one per-pair window (all 7 shifts from
    # one sort), one stats agg — a per-shift window pass would blow
    # the count up to 7+.
    "events_cross_correlation": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 4,
        "pure_jvm": True,
    },
    # histogram: 1-row bounds agg broadcast back (sanctioned BNLJ) +
    # the (type, bin) rollup.
    "events_value_histogram": {
        "pushed": False, "no_smj": True, "hints": 1, "shuffles": 2,
        "pure_jvm": True,
    },
    # audience overlap: distinct pre-agg, user-keyed self-join, pair
    # agg, sizes agg + 2 broadcast joins of the 5-row sizes table.
    "events_user_overlap": {
        "pushed": True, "no_smj": True, "hints": 2, "shuffles": 5,
        "pure_jvm": True,
    },
    # multiformat union: three independent era scans glued plan-level
    # (Union, no exchange) — each stays splittable/pruneable.
    "orders_multiformat_union": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True, "plan_contains": ["Union"],
    },
    # pseudonymize: pure codegen row transform — zero shuffles.
    "customer_pseudonymize": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True,
    },
    # partitioned merge roundtrip: returned plan is a log-replay scan
    # of the merged partitioned live set (the merge committed eagerly)
    "orders_delta_partitioned_merge_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True,
    },
    # rename roundtrip: one log-replay scan aliasing two physical-name
    # generations into the logical shape — no joins, no shuffles.
    "orders_delta_rename_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True,
    },
    # generated-month scan: file-list partition pruning on the
    # derived column — exactly one month's files reach the scan.
    "orders_delta_generated_month_scan": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True,
    },
    # shallow-clone divergence: two log-replay scans glued plan-level
    # (source at its root, clone mixing absolute-path source files +
    # clone-materialized rewrites) — no joins, no shuffles, no Python.
    "orders_delta_clone_divergence": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 0,
        "pure_jvm": True, "plan_contains": ["Union"],
    },
    # boilerplate coverage: gram explode feeds the distinct-doc gram
    # agg and the per-doc coverage agg; the tiny >=20-doc boilerplate
    # set is the one hinted broadcast.
    "doc_boilerplate_coverage": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # BPE pair counts: token hash-agg -> vocab-sized pair explode ->
    # pair hash-agg -> TakeOrderedAndProject; no joins at all.
    "doc_bpe_pair_counts": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 2,
        "pure_jvm": True, "take_ordered": True,
    },
    # DSIR importance: corpus/target vocab hash-aggs -> vocab-sized
    # ratio table (1-row stats crossjoin is the hinted broadcast) ->
    # token-stream equi-join (AQE broadcasts the vocab side) ->
    # per-doc agg.
    "doc_dsir_importance": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # CCNet buckets: the lm_fluency machinery (bigram/unigram aggs,
    # 1-row vocab crossjoin hinted) + the per-language tercile via the
    # distributed ordered-prefix pass — its carry join is hinted, and
    # the fluency hint appears on both sides of the carry (3 total).
    "doc_ccnet_buckets": {
        "pushed": False, "no_smj": False, "hints": 3, "pure_jvm": True,
    },
    # lang-ID confusion: per-doc prediction expressions -> one
    # (true, pred) hash-agg + the per-true-lang normalization window.
    "doc_langid_confusion": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # behavior outliers: user-keyed hash-agg (map-side combined) then
    # the DISTRIBUTED percent-rank (ordered-prefix pass: quantile
    # buckets, parallel in-bucket rank, one hinted <=64-row carry
    # join) — the user dimension tracks the fact table, so no global
    # single-task window is allowed here.
    "events_user_behavior_outliers": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # A/B lift: two distinct pre-aggs + the user-keyed converter join
    # (AQE broadcasts the converter side) + variant agg + 1-row pivot.
    "events_ab_conversion_lift": {
        "pushed": False, "no_smj": True, "hints": 0, "shuffles": 4,
        "aqe_bhj": True, "pure_jvm": True,
    },
    # round-9 additions
    # exact AUC: score-group hash-agg + distributed ordered-prefix
    # (one hinted <=64-row carry join) + final 1-row aggregate
    "doc_quality_score_auc": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # k-anonymity: two shrinking hash-aggs, nothing else
    "customer_k_anonymity": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 2,
    },
    # BPE learner: the returned frame is the collected merge table
    # (LocalTableScan — the distributed work ran in the per-round
    # pair-count/rewrite jobs, which the roundtrip pytest exercises)
    "doc_bpe_learn_merges": {
        "pushed": False, "no_smj": True, "hints": 0,
        "codegen_ok": False,
    },
    # hybrid RRF: two TakeOrderedAndProject candidate lists, 50-row
    # rank windows (GLOBAL_WINDOW_OK), one outer join of 50+50 rows
    "doc_hybrid_rrf_search": {
        # the 2 hints are bm25's 1-row corpus-stats broadcast appearing
        # on both the posting and df sides; the BNLJ is that same
        # bounded crossjoin (SCALAR_SUBQUERY_OK)
        "pushed": False, "no_smj": False, "hints": 2, "pure_jvm": True,
        "take_ordered": True,
    },
    # leakage-free split: the returned frame projects the persisted
    # CC labels (InMemoryTableScan) through the md5 split expression;
    # the iterative rounds ran as separate jobs
    "doc_leakage_free_split": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # magic sniff: one codegen'd hex-prefix CASE over the content scan
    "mm_integrity_screen": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 0,
    },
    # entropy screen: the sanctioned Arrow-batched numpy pass — the
    # MapInPandas node is the point, so no pure_jvm pin
    "mm_entropy_screen": {
        "pushed": False, "no_smj": True, "hints": 0,
    },
    # cumulative reach: user-min agg, day rollup, one bounded prefix
    # window over |days| (GLOBAL_WINDOW_OK)
    "events_cumulative_reach": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # confusable skeleton: fold fused into the scan projection, one
    # skeleton hash-agg (count_distinct expands to two)
    "doc_confusable_spam_groups": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # WAP roundtrip: the returned frame is the published target's
    # log-replay scan
    "orders_wap_gated_publish": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # round-10 additions
    # WAP red path: union of two log-replay scans (staged red batch +
    # untouched target) — no join, no window
    "orders_wap_red_path_audit": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # byte-histogram twin: in-cell hex transform + explode into two
    # shrinking hash-aggs keyed (asset, byte) then (asset)
    "mm_byte_histogram_checked": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
        "shuffles": 2,
    },
    # collocation lift: in-cell bigram transform, three hash-aggs,
    # two unigram-keyed joins, 1-row corpus-total broadcast (the hint)
    "doc_collocation_lift": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # novelty curve: distinct (batch, gram) + MIN(batch) per gram,
    # two 10-row rollups joined — no window, no per-batch rescan
    "doc_ngram_novelty_curve": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # source gini: ordered-prefix pass partitioned by source (1 hinted
    # <=64-row carry broadcast) + one source-keyed agg
    "doc_source_gini": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # fixed-point PageRank: returned frame is the final persisted
    # score table (InMemoryTableScan); the per-round join+agg jobs ran
    # eagerly with persist/unpersist lineage control
    "doc_pagerank_fixedpoint": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # BPE tokenize (r11): the learner ran as per-round jobs; the
    # returned frame's plan is the apply half — one hinted vocab
    # broadcast mapping word -> tokens onto the posexploded corpus,
    # then the per-doc reassembly hash-agg
    "doc_bpe_tokenize": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # token-id stream (r12): every hint is vocabulary-sized (Heaps-
    # sublinear, the dim-like bound doc_bpe_tokenize already uses):
    # apply's word->tokens map appears TWICE in the analyzed tree
    # (the toked frame feeds both the posexploded stream branch and
    # the vocab-count branch), + the ordered-prefix <=64-row carry,
    # + the token->id table broadcast, + the apply-internal map on
    # the id branch = 5; id ranking carries GLOBAL_WINDOW_OK
    "doc_bpe_token_ids": {
        "pushed": False, "no_smj": True, "hints": 5, "pure_jvm": True,
    },
    # chain-graph WCC (r11): labels come back as a localCheckpoint
    # leaf (lineage truncated per round — the exponential-analysis
    # fix); component sizes are one hash-agg equi-joined back
    "doc_link_components": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # supplier fulfillment median (r11): the in-engine bucket-locate
    # on a fact-tracking key — needed-list deliberately SHUFFLE-joined
    # (broadcast_needed=False), so zero hints; windows partition by
    # (suppkey[, bucket, stat]) and the carry windows are <=64 rows
    # per supplier
    "supplier_leadtime_median": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # cohort LTV: per-customer MIN agg + co-partitioned custkey join
    # + bounded (cohort, index) agg — no broadcast (customers track
    # the warehouse)
    "orders_cohort_ltv": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # inter-purchase gaps: LAG window per customer (fact-tracking key,
    # bounded partitions), two hash-aggs, co-partitioned segment join
    "customer_interpurchase_stats": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # seasonality grid: fact agg to a 5x12 grid + one hinted 5-row
    # total broadcast
    "orders_seasonality_index": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # dup pressure: sha256-fingerprint cluster sizes + fingerprint
    # equi-join + source rollup — 32-byte shuffle keys, no broadcast
    "doc_dup_rate_by_source": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # modality size profile (r11): ONE bucket-locate pass carrying
    # both rank labels (1 hinted needed-list broadcast); only the
    # byte LENGTH enters the shuffle
    "mm_size_profile": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # Q4-shaped priority check: LEFT SEMI on the order key with the
    # lateness predicate in the join condition
    "order_priority_check": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # Q21-shaped blame report: orderkey fact-fact join, the
    # EXISTS/NOT-EXISTS pair collapsed into one per-order aggregate
    # joined back; supplier attach AQE-broadcast
    "suppliers_kept_waiting": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # Q22-shaped opportunity scan: 1-row scalar-average broadcast +
    # LEFT ANTI on the urgent-filtered key projection (pushed filter)
    # + hinted 25-row nation broadcast
    "global_sales_opportunity": {
        "pushed": True, "no_smj": False, "hints": 2, "pure_jvm": True,
    },
    # Pareto deciles: supplier-keyed agg, ordered-prefix NTILE (1
    # hinted carry), 10-row decile rollup + bounded share windows
    "supplier_pareto_deciles": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # round-11 second batch -------------------------------------------
    # degree-ordered triangle counting: the closing-edge probe must
    # stay a LeftSemi (a rewrite to inner+distinct would double-count)
    "doc_link_triangles": {
        "pushed": False, "hints": 0, "pure_jvm": True,
        "plan_contains": ["LeftSemi"],
    },
    # two-sample KS on the ordered-prefix pass: one hinted <=64-row
    # carry broadcast, everything else hash-agg
    "events_ks_drift": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # block jackknife: one hinted 1-row totals broadcast back over the
    # 32-row block table; no other join anywhere
    "orders_block_jackknife_ci": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # l-diversity: two stacked hash-aggs, join-free
    "customer_l_diversity": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # per-key OLS: one hinted |keys|-row min-join broadcast, then the
    # moment hash-agg
    "events_ols_trend": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # entity resolution: the explained frame is the golden-record agg
    # over the persisted star-contraction labels + the customer join
    # (fact-keyed, un-hinted — AQE picks the strategy)
    "customer_entity_resolution": {
        "pushed": False, "hints": 0, "pure_jvm": True,
    },
    # median CI: one bucket-locate pass (hinted needed-list broadcast,
    # same shape as orders_price_quantiles)
    "orders_median_ci": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # round-11 third batch --------------------------------------------
    # k-core peeling: the explained frame is the persisted membership
    # table left-joined back onto the doc roster
    "doc_link_kcore": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # round-12 -----------------------------------------------------------
    # full core decomposition: the explained frame is the persisted
    # h-index fixed point left-joined back onto the doc roster
    "doc_link_coreness": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # Mann-Whitney U: the ks_drift plan shape — per-value hash-agg +
    # ordered-prefix (1 hinted <=64-row carry broadcast) + scalar agg
    "events_mannwhitney_drift": {
        "pushed": True, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # Mann-Kendall: daily rollup self-join per type (calendar-bounded;
    # AQE broadcasts at this SF) + two bounded rollup joins
    "events_mann_kendall": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # CUSUM: (type, day) hash-agg + per-type prefix/min windows —
    # calendar-bounded partitions, un-hinted totals join
    "events_cusum_alarm": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # ANOVA: one fact hash-agg to 3 sufficient-stat rows + a 1-row
    # totals broadcast cross join (SCALAR_SUBQUERY_OK)
    "lineitem_returnflag_anova": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # Cramér's V: the chi2 bounded marginal grid (hinted category /
    # 1-row broadcasts; SCALAR_SUBQUERY_OK)
    "orders_priority_status_cramers_v": {
        "pushed": False, "no_smj": True, "hints": 4, "pure_jvm": True,
    },
    # decile migration: ONE partition-col ordered-prefix pass whose
    # hinted <=64-row carry broadcast appears twice in the analyzed
    # tree (the ranked frame feeds both period slices of the custkey
    # self-join)
    "customer_decile_migration": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
    },
    # Simpson diversity: two shrinking hash-aggs, no join at all
    "doc_simpson_diversity": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # TTR curve: ordered-prefix NTILE whose hinted <=64-row carry
    # appears twice in the analyzed tree (the ranked frame feeds both
    # the per-decile rollup and the token explode); carry windows are
    # GLOBAL_WINDOW_OK
    "doc_ttr_curve": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
    },
    # CONVERT TO DELTA roundtrip: the returned frame is a plain
    # log-backed read of the converted table
    "orders_convert_to_delta_roundtrip": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # winnowing pairs: per-doc lambda-bound array codegen, explode to
    # the fingerprint index, hot-fp semi-join filter, one fp equi-join
    "doc_winnowing_pairs": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # EWMA baseline: (type, day) hash-agg + calendar-bounded pinned
    # scalar fold; no join
    "events_ewma_baseline": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # target encoding: un-hinted fact-dim join (AQE broadcasts at this
    # SF) + one hinted 1-row totals broadcast
    "customer_target_encoding": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
        "aqe_bhj": True,
    },
    # embargo split: one hinted 1-row bounds broadcast, otherwise
    # join-free aggregation
    "events_embargo_split": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # Kaplan-Meier: per-customer agg + calendar-bounded rollup windows
    "customer_survival_km": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # DiD: two fact scans folded to a 4-cell agg + 1-row pivot
    "events_diff_in_diff": {
        "pushed": True, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # customer revenue Gini (r11): per-customer agg, global
    # ordered-prefix rank (1 hinted <=64-row carry), one final global
    # aggregate row
    "customer_revenue_gini": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # brand share shift (r11): three-way fact join (AQE picks the
    # part broadcast), bounded (brand, year) grid + hinted year-total
    # broadcast, LAG over <=|years| rows per brand
    "part_brand_share_shift": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # chi-square drift screen: one (source, lang) hash-agg, then the
    # bounded marginal grid (3 hinted broadcasts of category-sized /
    # 1-row frames)
    "doc_source_lang_chi2": {
        "pushed": False, "no_smj": True, "hints": 4, "pure_jvm": True,
    },
    # embedding drift: posexplode -> one 128-group hash-agg -> 64-row
    # self-join (AQE broadcasts)
    "emb_batch_drift": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # robust median/MAD screen: the r11 in-engine locate keeps each
    # pass's needed-list broadcast, but the needed-list is now PART
    # OF med's lineage (it derives from the count aggregate instead
    # of a driver-collected local frame), so med's two analyzed-plan
    # appearances (dev derivation, stats join) each carry their own
    # copy of that hint: 2 needed (med) + 1 needed (mad) + med
    # broadcast x2 + stats broadcast + one more med-needed copy under
    # the final stats lineage = 7 analyzed hints. All broadcast
    # frames stay <= |types| x |stats| rows; windows partition by
    # (type, bucket, stat).
    "events_robust_outliers": {
        "pushed": False, "no_smj": True, "hints": 7, "pure_jvm": True,
    },
    # trigram language distance: gram-keyed profile self-join with
    # the two hinted lang-total broadcasts + the bounded |langs|^2
    # pair grid (3 hints)
    "doc_lang_trigram_distance": {
        "pushed": False, "no_smj": False, "hints": 3, "pure_jvm": True,
    },
    # quality prune (rewritten r10): ordered-prefix percent-rank
    # partitioned by source (1 hinted carry) — never ~20 tasks each
    # carrying 1/20th of the corpus
    "doc_quality_prune": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # window-breadth demo (rewritten r10): per-segment windows now
    # partition by (segment, bucket), never segment alone. 7 analyzed
    # hints = the prefix carry + the lead carry + one more bounded
    # carry broadcast; the customer roster hint was removed r13
    # (_BROADCAST_RULE — linear in SF), so the persisted-spend subtree
    # copies no longer multiply it. Runtime reads the cache.
    "segment_spend_quartiles": {
        "pushed": True, "no_smj": True, "hints": 3, "pure_jvm": True,
    },
    # calibration: one fixed-bin hash-agg; no window, no join
    "doc_quality_calibration": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # Theil-Sen: BUCKETED pair generation (r9 verdict item 2) — the
    # hourly-rollup self-join equi-keys on (event_type, h1_bkt), so
    # parallelism is |types| x _TS_BUCKETS, pinned by the h1_bkt
    # fragment appearing in the join/exchange keys; the per-type
    # median runs through the ordered-prefix pass (1 hinted <=64-row
    # carry broadcast).
    "events_theilsen_trend": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
        "plan_contains": ["h1_bkt"],
    },
    # ---- round-13 additions ----
    # per-doc segmental TTR: pure array codegen, no join, no exchange
    # beyond the scan
    "doc_msttr": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # per-source vocab rollup: explode + two hash-aggs, no join
    "doc_hapax_stats": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # containment: same fused-postings class as the Jaccard pin —
    # equi-join SMJ sanctioned, no BNLJ, no Python
    "doc_ngram_containment_pairs": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # span reporter: fp equi-join + (pair, diag) window — SMJ
    # sanctioned on the big-big fp join
    "doc_copy_spans": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # bloom prefilter: the m/32-row filter must ride a broadcast
    # (explicit hint on the words table); gram probing stays codegen
    "doc_bloom_prefilter": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # rate-shift test: one stream agg + a 1-row bounds broadcast
    "events_poisson_rate_shift": {
        "pushed": False, "no_smj": True, "hints": 1, "pure_jvm": True,
    },
    # hourly Simpson: two chained hash-aggs, nothing else
    "events_hourly_concentration": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # basket rules: orderkey self-join is the sanctioned big-big SMJ;
    # the 1-row basket count broadcasts
    "part_rules_lift": {
        "pushed": False, "no_smj": False, "hints": 1, "pure_jvm": True,
    },
    # seeded IVF: centroid + query frames broadcast (2 hints), probe
    # semi-join rides AQE; in-cell cosine is codegen
    "emb_ivf_seeded_topk": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
    },
    # batch seeded IVF (round 14): centroid frame broadcast twice
    # (assignment + per-query probe scoring); candidate equi-join on
    # the cell key rides AQE; per-query windows are partitioned
    "emb_ivf_seeded_topk_batch": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
    },
    # 2-hop balls: wedge join co-partitioned on the middle vertex —
    # SMJ sanctioned (big-big on the synthetic graph's edge frame)
    "doc_link_ball_sizes": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # MASE: one fact hash-agg + a calendar-bounded (priority, day)
    # self-equi-join of two daily rollups — AQE broadcasts the lag
    # side at this SF
    "orders_forecast_mase": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # ---- round 14 ----
    # binned interval join: bin-key equi-joins + residual range
    # filter (never BNLJ); AQE picks strategies, no hints
    "events_incident_window_join": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # binseg changepoint: (type, day) hash-agg then prefix/argmax
    # windows over the calendar-bounded rollup
    "events_changepoint": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # explicit HLL: distinct-user agg -> 64-row register table; two
    # 1-row/64-row broadcast cross joins carry the summary columns
    "events_hll_explicit": {
        "pushed": False, "no_smj": True, "hints": 2, "pure_jvm": True,
    },
    # count-min: explode + hash folds + (row, bucket) agg; top-20
    # TakeOrderedAndProject; 80-row probe equi-join rides AQE
    "doc_cms_heavy_hitters": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # trailing RANGE window: one custkey shuffle + per-customer
    # value-bounded frame
    "orders_trailing_90d_spend": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # MAD screen: two distributed bucket-locates (rank machinery) +
    # type-key joins of 5-row stat frames. 4 hints = 2 per
    # group_rank_statistics call (bucket boundaries + needed-list),
    # legal because the partition key is event_type — a BOUNDED
    # category domain, not a fact-tracking key (the
    # supplier_leadtime_median case passes broadcast_needed=False)
    "events_mad_outliers": {
        "pushed": False, "no_smj": False, "hints": 4, "pure_jvm": True,
    },
    # hashing trick: explode + two hash folds + one (doc, bucket)
    # hash-agg; no join
    "doc_feature_hashing": {
        "pushed": False, "no_smj": True, "hints": 0, "pure_jvm": True,
    },
    # collocations: two token hash-aggs, unigram-roster equi-joins
    # (AQE), two 1-row totals broadcasts
    "doc_bigram_collocations": {
        "pushed": False, "no_smj": False, "hints": 2, "pure_jvm": True,
    },
    # clustering coeff: triangle_count's oriented wedge plan + a
    # degree hash-agg + roster left joins (AQE)
    "doc_link_clustering_coeff": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # audience overlap: distinct (type, user) + user-key equi-join
    # bounded by the category domain
    "events_type_audience_overlap": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # personalized PageRank: the global twin's fixed-depth linear
    # plan + one bounded seed-roster left join per round input
    "doc_personalized_pagerank": {
        "pushed": False, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # LATERAL top-2: decorrelated to WindowGroupLimit + partitioned
    # window; segment filter pushed to the customer scan
    "customer_lateral_top2_orders": {
        "pushed": True, "no_smj": False, "hints": 0, "pure_jvm": True,
    },
    # seeded label propagation: per-cell kNN self-join (SMJ
    # sanctioned) + node-keyed rank/argmax windows per round. No
    # hint-count pin: the bounded centroid broadcast inside
    # seeded_cell_assign re-appears once per persisted-round
    # reference in the ANALYZED tree (count varies with round
    # structure, not with any fact-side hint).
    "emb_label_prop_cells": {
        "pushed": False, "no_smj": False, "pure_jvm": True,
    },
}

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# a 1-row scalar-subquery result cross-joined back (the correct plan
# for scalar subqueries — the build side is exactly one row).
SCALAR_SUBQUERY_OK = {
    "rich_idle_customers",
    "important_part_value",
    "top_revenue_suppliers",
    # single-row broadcast cross join: the positive-balance average
    # (the Q22 scalar subquery)
    "global_sales_opportunity",
    # single-row broadcast cross joins by design: (N, avgdl) stats row
    # for BM25; the dim-indexed quantizer-params row for SQ8
    "doc_bm25_search",
    "doc_bm25_batch",
    "emb_quantize_int8",
    "emb_quantized_topk",
    # single-row broadcast cross join: the vocabulary-size row V
    "doc_lm_fluency",
    "doc_ccnet_buckets",
    # seven 1x1 count-aggregate cross joins (n_child x n_orphans per
    # FK edge) — each side is exactly one row by construction
    "referential_integrity_audit",
    # bounded broadcast cross join by design: every query scores the
    # <= n_cells centroid rows before pruning to nprobe cells (the
    # batch-ANN cell-selection step)
    "emb_hard_negatives",
    # bounded broadcast cross joins by design: the S-row allocation /
    # 1-row totals tables (token mix) and the bounded query batch
    # (kNN classify)
    "doc_token_budget_mix",
    "emb_knn_classify",
    # bounded centroid cross join (cell selection), as in the
    # full-probe twin
    "emb_hard_negatives_probed",
    # bounded broadcast cross join: the <= 500-query Matryoshka batch
    # against one corpus scan
    "emb_matryoshka_recall",
    # 1-row bounds aggregate broadcast back over the stream
    "events_value_histogram",
    # 1-row (nc, nt, V) corpus-stats crossjoin into the ratio table
    "doc_dsir_importance",
    # bm25's 1-row corpus-stats crossjoin inside the hybrid fusion
    "doc_hybrid_rrf_search",
    # 1-row corpus-token-total crossjoin into the lift expression
    "doc_collocation_lift",
    # bounded marginal-grid cross joins: |sources| x |langs| category
    # tables plus 1-row total/dof frames
    "doc_source_lang_chi2",
    # bounded |langs|^2 pair grid cross join
    "doc_lang_trigram_distance",
    # 1-row jackknife-totals aggregate broadcast back over the
    # 32-row block table
    "orders_block_jackknife_ci",
    # 1-row global-prior aggregate broadcast back over the |segments|
    # rows
    "customer_target_encoding",
    # 1-row time-bounds aggregate broadcast back over the stream
    "events_embargo_split",
    # 1-row totals aggregate cross-joined over the 3 sufficient-stat
    # group rows (round 12)
    "lineitem_returnflag_anova",
    # bounded marginal-grid cross joins: |priorities| x |statuses|
    # category tables plus 1-row total/dof frames (round 12)
    "orders_priority_status_cramers_v",
    # 1-row horizon / midpoint-cut aggregates broadcast back
    "customer_survival_km",
    "events_diff_in_diff",
    # 1-row exposure-bounds aggregate broadcast over the |types| rows
    # (round 13)
    "events_poisson_rate_shift",
    # 1-row basket-count aggregate broadcast over the rule pairs
    # (round 13)
    "part_rules_lift",
    # 1-row query-vector frame cross-joined over the <= n_cells
    # centroid rows for probe selection (round 13)
    "emb_ivf_seeded_topk",
    # BOUNDED query batch (<= 100 rows) cross-joined over the
    # <= n_cells centroid rows for probe scoring (round 14)
    "emb_ivf_seeded_topk_batch",
    # 1-row summary + 1-row exact-count frames cross-joined over the
    # fixed 64-register table (round 14)
    "events_hll_explicit",
    # two 1-row corpus totals (N1, N2) broadcast over the surviving
    # bigram rows (round 14)
    "doc_bigram_collocations",
    # bounded centroid cross join (seeded cell assignment), as in
    # the hard-negatives cell-selection entries
    "emb_label_prop_cells",
}


# Queries allowed to run an UNPARTITIONED window — each over a
# provably bounded aggregate (the value is the bound). Everything
# else fails the audit: a global ORDER BY window funnels its whole
# input through ONE task, which is exactly the plan shape that made
# events_user_behavior_outliers / customer_rfm_segments /
# customer_abc_classes scale-killers in round 8 (their inputs were
# per-user/per-customer aggregates — cardinality tracks the fact
# table). Those three now use the distributed ordered-prefix pass
# (operators/ranking.py); the entries here are its <=64-row bucket
# carries plus the genuinely bounded rollup windows.
GLOBAL_WINDOW_OK: dict[str, str] = {
    "monthly_order_momentum": "LAG over the per-month rollup — |months|"
    " rows, grows with calendar time, not data rate",
    "emb_ivf_seeded_topk": "rank row_number over the ALREADY-LIMITED"
    " top-10 rows (TakeOrderedAndProject runs first) — <= k rows by"
    " construction",
    "doc_frequent_terms_sketch": "final top-50 rank over <=capacity"
    " (4096) merged Misra-Gries summary rows",
    "doc_temperature_mix": "stratum-rate windows over the per-source"
    " count table — |sources| rows",
    "doc_bm25_search": "rank over the k=10 retrieval result",
    "customer_rfm_segments": "ordered-prefix bucket carries — <=64"
    " rows each (3 passes + totals)",
    "emb_pq_topk": "codebook argmin over 256 codes and rank over the"
    " k=10 ADC result",
    "customer_abc_classes": "ordered-prefix bucket carry + grand"
    " total — <=64 rows",
    "doc_bpe_token_ids": "ordered-prefix bucket carry for the vocab-id"
    " rank — <=64 rows",
    "doc_ttr_curve": "ordered-prefix bucket carry + grand total for"
    " the length-decile NTILE — <=64 rows",
    "customer_survival_km": "suffix-risk and product-limit folds over"
    " the per-lifetime-day rollup — calendar-bounded rows (the"
    " monthly-momentum class)",
    "orders_skyline": "exact frontier pass over the grid-prefiltered"
    " band (~frontier cardinality), never the table",
    "orders_benford_dq": "share normalization over the 9 first-digit"
    " groups",
    "events_user_behavior_outliers": "ordered-prefix bucket carry +"
    " total — <=64 rows",
    "doc_quality_score_auc": "ordered-prefix bucket carry over the"
    " score groups — <=64 rows",
    "doc_bm25_batch": "per-query rank over k-bounded candidates",
    "doc_hybrid_rrf_search": "rank windows over the two 50-row"
    " candidate lists",
    "events_cumulative_reach": "prefix sum over the per-day rollup —"
    " |days| rows, grows with calendar time",
    "supplier_pareto_deciles": "ordered-prefix carry (<=64 rows) +"
    " cumulative share over the 10-row decile rollup",
    "customer_revenue_gini": "ordered-prefix carry (<=64 rows; the"
    " rank pass itself partitions by bucket)",
}


def _unpartitioned_windows(plan: str) -> int:
    """Count WindowExec nodes with an EMPTY partition spec in a
    physical plan string. A fully-specified window prints
    ``Window [exprs], [partSpec], [orderSpec]`` (3 top-level bracket
    groups); both the partition and order spec may be omitted, so a
    2-group node is unpartitioned only when its LAST group is an
    ORDER spec — catalyst always prints sort direction (ASC/DESC)
    there, never in a partition spec. WindowGroupLimit is excluded —
    its arg layout differs (partition spec first) and it only ever
    accompanies a Window node."""
    import re as _re

    n = 0
    for ln in plan.splitlines():
        m = _re.search(r"\bWindow (\[.*)$", ln)
        if not m:
            continue
        groups: list[str] = []
        depth = 0
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            if depth > 0:
                groups[-1] += ch
            if ch == "]":
                depth -= 1
        is_order = lambda g: " ASC" in g or " DESC" in g  # noqa: E731
        if len(groups) == 2 and is_order(groups[1]):
            n += 1  # [exprs], [orderSpec] — global ordered window
        elif len(groups) == 1:
            n += 1  # [exprs] only — global unordered window
    return n


def audit(name: str, show: bool = False) -> list[str]:
    spark = get_spark(app_name="explain_audit")
    df = workloads.queries()[name](spark, SF_DIR)
    import contextlib
    import io

    df.collect()  # materialize THIS plan so AQE finalizes it (count()
    # would build a different query execution and leave this one open)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan.toString() appends the pre-AQE "Initial Plan";
    # judge only the runtime-final plan (the initial one legitimately
    # contains the SortMergeJoins AQE later converts to broadcast).
    plan = plan.split("== Initial Plan ==")[0]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    if show:
        print(f"===== {name} =====\n{formatted}")
    problems: list[str] = []
    exp = EXPECT.get(name, {})
    if exp.get("pushed"):
        # Must FAIL when no PushedFilters line exists at all (a renamed
        # scan node or non-parquet source would otherwise silently pass).
        pushed_nonempty = any(
            "PushedFilters: [" in ln and "[]" not in ln
            for ln in formatted.splitlines()
        )
        if not pushed_nonempty:
            problems.append("no non-empty PushedFilters on any scan")
    if exp.get("no_smj") and "SortMergeJoin" in plan:
        problems.append("unexpected SortMergeJoin (dim join not broadcast?)")
    if "hints" in exp:
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("ResolvedHint")
        if n_hints != exp["hints"]:
            problems.append(
                f"{n_hints} broadcast hints in analyzed plan, expected "
                f"{exp['hints']} (fact-derived side re-hinted?)"
            )
    if exp.get("part_pruned"):
        pruned = any(
            "PartitionFilters: [" in ln and "[]" not in ln
            for ln in formatted.splitlines()
        )
        if not pruned:
            problems.append("no non-empty PartitionFilters on any scan")
    if exp.get("dpp"):
        # the partitioned fact scan must carry a dynamicpruning
        # subquery in PartitionFilters — runtime directory pruning
        # driven by the dim side's surviving keys
        if "dynamicpruning" not in formatted.lower():
            problems.append(
                "no dynamicpruning expression on the partitioned scan "
                "(DPP not injected?)"
            )
    if exp.get("aqe_bhj"):
        if "AdaptiveSparkPlan" not in plan:
            problems.append("no AdaptiveSparkPlan (AQE off?)")
        if "BroadcastHashJoin" not in plan:
            problems.append(
                "AQE did not convert the un-hinted join to broadcast at "
                "this SF"
            )
    if "shuffles" in exp:
        # count MATERIALIZED shuffle stages in the AQE-final plan —
        # distinct ShuffleQueryStage ids. Pins "both windows and the
        # agg share ONE exchange"-style claims: an accidental second
        # partitioning (changed orderBy, lost reuse) shows up as an
        # extra stage.
        import re as _re

        n_stages = len(set(_re.findall(r"ShuffleQueryStage (\d+)", plan)))
        if n_stages != exp["shuffles"]:
            problems.append(
                f"{n_stages} materialized shuffle stages, expected "
                f"{exp['shuffles']} (lost exchange reuse?)"
            )
    if exp.get("bhj_only"):
        # every join must be a broadcast build: no shuffle-side join
        # operator of any kind, and at least one BroadcastHashJoin
        if "SortMergeJoin" in plan or "ShuffledHashJoin" in plan:
            problems.append(
                "shuffled join in a bhj_only plan (broadcast side "
                "regressed to a shuffle?)"
            )
        if "BroadcastHashJoin" not in plan:
            problems.append("no BroadcastHashJoin in a bhj_only plan")
    if "plan_contains" in exp:
        for frag in exp["plan_contains"]:
            if frag not in plan and frag not in formatted:
                problems.append(
                    f"expected plan fragment '{frag}' not found"
                )
    if exp.get("take_ordered") and "TakeOrderedAndProject" not in plan:
        problems.append(
            "ORDER BY + LIMIT did not plan as TakeOrderedAndProject "
            "(global sort instead of per-partition heaps?)"
        )
    if exp.get("wgl") and "WindowGroupLimit" not in plan:
        problems.append(
            "rank-filter window did not get WindowGroupLimit pushdown"
        )
    if "narrow_scans" in exp:
        # every scan whose Location matches the substring must read
        # EXACTLY the named columns (ReadSchema pruned to the join
        # key) — and at least one such scan must exist
        for loc_substr, cols in exp["narrow_scans"]:
            want = set(cols)
            got_schemas: list[set[str]] = []
            lines = formatted.splitlines()
            for i, ln in enumerate(lines):
                if "Location:" in ln and loc_substr in ln:
                    for follow in lines[i:i + 4]:
                        if "ReadSchema:" in follow:
                            schema = follow.split("struct<", 1)[-1]
                            fields = {
                                f.split(":")[0].strip()
                                for f in schema.rstrip(">").split(",")
                                if f.strip()
                            }
                            got_schemas.append(fields)
                            break
            if not got_schemas:
                problems.append(
                    f"no scan over '{loc_substr}' found for "
                    "narrow-scan check"
                )
            for fields in got_schemas:
                if fields != want:
                    problems.append(
                        f"scan over '{loc_substr}' reads {sorted(fields)}"
                        f", expected exactly {sorted(want)}"
                    )
    if exp.get("pure_jvm"):
        # No Python evaluation of any kind in the hot path: every
        # expression must stay inside codegen/Tungsten.
        for node in ("ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            if node in plan:
                problems.append(f"{node} in a pure-JVM query")
    if (
        exp.get("codegen_ok", True)
        and "WholeStageCodegen" not in plan
        and "codegen id" not in formatted
    ):
        problems.append("no WholeStageCodegen span")
    if "BroadcastNestedLoopJoin" in plan and name not in SCALAR_SUBQUERY_OK:
        problems.append("BroadcastNestedLoopJoin (accidental cross join?)")
    # Default-on for EVERY audited query: an unpartitioned WindowExec
    # is a single-task global sort — allowed only over provably
    # bounded aggregates (GLOBAL_WINDOW_OK carries each bound).
    n_up = _unpartitioned_windows(plan)
    if n_up and name not in GLOBAL_WINDOW_OK:
        problems.append(
            f"{n_up} unpartitioned WindowExec node(s) — single-task "
            "global sort; if the window input is provably bounded, "
            "add the query to GLOBAL_WINDOW_OK with the bound"
        )
    # Row-at-a-time Python UDFs are never sanctioned anywhere in this
    # engine — Arrow-batched nodes are allowed only where pure_jvm is
    # not pinned (multimodal).
    if "BatchEvalPython" in plan:
        problems.append("BatchEvalPython (row-at-a-time Python UDF)")
    return problems


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    show = "--show" in sys.argv
    names = args or list(EXPECT)
    failures = 0
    for name in names:
        problems = audit(name, show)
        if problems:
            failures += 1
            print(f"BAD   {name}: {'; '.join(problems)}")
        else:
            print(f"GOOD  {name}")
    print(f"{failures} plan problems")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
