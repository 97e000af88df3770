"""Physical-plan audit: assert the plans have the shape we designed for scale.

Checks, per audited query:
  - column pruning: parquet scans read only the needed columns (ReadSchema)
  - filter pushdown where the query filters a scan (PushedFilters)
  - dimension joins are broadcast (no shuffle on the small side)
  - pixel/doc hot paths sit inside WholeStageCodegen spans
  - no CartesianProduct anywhere (except queries that intentionally
    cross-join a tiny broadcast relation, which must appear as
    BroadcastNestedLoopJoin instead)

Run:  python tools/explain_audit.py [query ...]
Exits nonzero if any assertion fails; prints a one-line verdict per query.
"""

from __future__ import annotations

import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sarpro_spark.queries import spark_queries
from sarpro_spark.session import build_session

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
#: the package the static broadcast and persist gates parse
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sarpro_spark")

# per-query expectations: substrings that MUST appear / MUST NOT appear in the
# formatted physical plan
AUDITS: dict[str, dict] = {
    "pricing_summary": {
        "require": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct"],
        # pruning: scan must not read l_orderkey and friends
        "schema_excludes": ["l_orderkey", "l_partkey", "l_suppkey"],
    },
    "nation_revenue_join": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct"],
        "schema_excludes": ["c_name", "c_acctbal", "o_totalprice"],
    },
    "top_revenue_parts": {
        "require": ["TakeOrderedAndProject", "HashAggregate"],
        "forbid": ["CartesianProduct"],
        "schema_excludes": ["l_shipdate", "l_quantity"],
    },
    "band_math_ops": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "histogram_stats": {
        "require": ["BroadcastHashJoin", "HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_standard_u8": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_clahe_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "synrgb_default": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "pad_to_square": {
        "require": ["REPARTITION_BY_NUM"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        # the max_dim^2 cell explode must be the LAST operator — cells are
        # materialized inside tasks and never shuffled (the r01 plan exploded
        # the whole canvas from one dims row per product, then shuffled it)
        "no_exchange_after_last_generate": True,
    },
    "autoscale_advanced_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "similarity_topk_lsh": {
        # banded-hyperplane keys via Arrow-vectorized pandas UDF; candidates
        # from a key equi-join (never all-pairs); exact cosine JVM-side
        "require": ["ArrowEvalPython"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_embedding_cosine": {
        "require": ["ArrowEvalPython"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "pipeline_kernel_tiled_u8": {
        # shuffle-free oversized-product path: quantize as MapInPandas on the
        # scan partitioning with broadcast per-product params — a grouping
        # shuffle (FlatMapGroupsInPandas) in this plan is a regression
        "require": ["MapInPandas", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "FlatMapGroupsInPandas"],
    },
    "tiff_roundtrip": {
        "require": ["FlatMapGroupsInPandas", "MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_minhash_lsh": {
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "similarity_topk_bruteforce": {
        # tiny query relation intentionally crossed: must be broadcast NLJ,
        # never a shuffled cartesian
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "text_quality": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["lang", "source"],
    },
    "events_sessionize": {
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "multimodal_decode_features": {
        # the ONE query where Python is the point: Arrow-batched mapInPandas
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct"],
    },
    "affine_warp_bilinear": {
        # row-grain canvas + corner explode (Generate) + co-partitioned join;
        # all expression work, no Python, no all-pairs. The gather join is
        # PINNED SortMergeJoin: cells x pixels is big x big, and a cached px
        # lineage's optimistic stats once flipped it to a driver-fatal
        # broadcast (r5 sf1 soak) — SortMergeJoin here is load-bearing.
        "require": ["Generate", "SortMergeJoin", "REPARTITION_BY_NUM"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "affine_warp_kernels": {
        # fused certificate: ONE 36-tap gather (the near tap, the bilinear
        # corners and the cubic patch are subsets of the Lanczos3 6x6
        # patch; geometry.resample_gather with a tuple of kernels) with a pinned
        # SortMergeJoin (cells x pixels is big x big), u8 via the grouped
        # kernel (FlatMapGroupsInPandas), single-pass explode unpivot
        # (Generate) — a Union here would mean the join is re-executed per
        # kernel leg, which is exactly what the fusion removes.
        # REPARTITION_BY_NUM: canvas stub exchange carries an explicit
        # count so AQE can't coalesce the whole canvas into one task
        "require": ["Generate", "SortMergeJoin", "FlatMapGroupsInPandas",
                    "REPARTITION_BY_NUM"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Union"],
    },
    "jpeg_roundtrip": {
        # per-product grouped encode (applyInPandas) + manifest-driven
        # mapInPandas decode — same two-stage shape as tiff_roundtrip
        "require": ["FlatMapGroupsInPandas", "MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "text_contamination": {
        "require": ["HashAggregate", "LeftSemi"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "text_pii_redaction": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["lang", "source", "n_chars"],
    },
    "sample_stratified": {
        # rate table broadcast; the hash filter is pure row arithmetic
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "similarity_topk_int8": {
        # tiny query relation broadcast-crossed against the quantized scan
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "embedding_kmeans": {
        # iterative: the returned frame scans the checkpointed final
        # centroids (iteration plans already executed — the per-iteration
        # broadcast-cross + HashAggregate shape is asserted in
        # tests/test_llm.py); here only the explode projection is visible
        "require": ["Generate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_attribution_join": {
        # equi-key + event-time range predicate: hash/merge join on user_id,
        # never a cartesian
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["props"],
    },
    "pivot_order_priority": {
        # explicit-value pivot = ONE conditional-count aggregate, no second
        # scan for value discovery
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["o_totalprice", "o_comment"],
    },
    "warp_gcp_grid": {
        # GCP piecewise warp: tile relation (k^2-fold reduction) joins the
        # cell grid via a PINNED broadcast on the ground-bucket keys; the
        # canvas/corner explodes are Generates; never cell-x-tile cartesian
        "require": ["BroadcastHashJoin", "Generate", "REPARTITION_BY_NUM"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_forecast_revenue": {
        # the pushdown benchmark: every predicate must reach the scan and
        # the scan must read exactly the 4 referenced columns
        "require": ["PushedFilters: [IsNotNull(l_shipdate)"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_orderkey", "l_partkey", "l_returnflag", "l_tax"],
    },
    "tpch_min_cost_supplier": {
        # correlated-MIN decorrelation: supply agg + join-back, nation/region
        # broadcast, deterministic top-100 via TakeOrderedAndProject
        "require": ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_order_priority_exists": {
        # EXISTS with non-equi residual: must plan a LeftSemi, never inflate
        # the probe side
        "require": ["LeftSemi"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_important_stock": {
        # scalar-subquery threshold: 1-row aggregate broadcast back; the val
        # relation must not be scanned twice from parquet for the threshold
        "require": ["BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_large_orders": {
        # HAVING aggregate joins forward as payload (single lineitem pass);
        # top-k via TakeOrderedAndProject
        "require": ["TakeOrderedAndProject", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_disjunctive_filter": {
        # Catalyst splits the OR into per-side pushable disjunctions: BOTH
        # scans must show an Or(Or(And(...))) pushed filter (part gets the
        # brand/size disjunction, lineitem the quantity-range disjunction)
        "require": ["Or(Or(And(EqualTo(p_brand,Brand#1)",
                    "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_excess_supply": {
        "require": ["LeftSemi"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "warp_gcp_tps": {
        # true TPS warp (r7; solve distributed r8): the (n+3)^2 spline solve
        # runs per product as ONE applyInPandas task (FlatMapGroupsInPandas
        # on the tiny GCP relation — REQUIRED, its absence means the solve
        # regressed to a driver collect); the coefficient row joins the
        # canvas via a pinned broadcast; the bend term is an aggregate fold
        # over the coefficient arrays — the CELL path stays pure column
        # expr (no per-row Python: BatchEvalPython/ArrowEvalPython forbidden
        # — FlatMapGroupsInPandas is the grouped solve, not a cell UDF);
        # REPARTITION_BY_NUM pins the canvas row-stub exchange before the
        # col explode (same trap as warp_utm)
        "require": ["BroadcastHashJoin", "Generate", "REPARTITION_BY_NUM",
                    "FlatMapGroupsInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "warp_params_tps": {
        # r9: the params-routed chain (from_dict -> warp_route -> gcp_warp)
        # must land in the IDENTICAL plan shape as the direct operator —
        # same distributed solve, same broadcast, same pinned canvas
        # exchange; a missing FlatMapGroupsInPandas means the dispatch
        # layer re-grew a driver-side solve
        "require": ["BroadcastHashJoin", "Generate", "REPARTITION_BY_NUM",
                    "FlatMapGroupsInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "tps_gcp_residuals": {
        # the residual certificate runs the production solve (grouped
        # applyInPandas REQUIRED) + broadcast + fold at GCP grain; no
        # canvas, so no Generate/repartition requirement
        "require": ["BroadcastHashJoin", "FlatMapGroupsInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "laea_roundtrip_points": {
        # ellipsoidal LAEA forward+inverse is pure column arithmetic: one
        # codegen span over the exploded point grid, no UDF, no join
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "webmerc_roundtrip_points": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "lcc_roundtrip_points": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "osgb_roundtrip_points": {
        # r9: the four-chain datum route (WGS84 geocentric -> Helmert ->
        # Airy geodetic -> National Grid TM, forward+inverse) must stay
        # pure codegen column arithmetic like the other projection
        # families — a UDF or join sneaking in means the datum shift
        # regressed off the JVM hot path
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "bd72_roundtrip_points": {
        # r9: second Helmert family — same codegen-only contract as osgb
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "albers_roundtrip_points": {
        # r9: equal-area conic — pure column arithmetic like laea/lcc
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "histogram_stats_approx": {
        # GK sketch agg -> tiny sketch broadcast back onto the scan -> one
        # rank-counting agg with map-side combine
        "require": ["BroadcastHashJoin", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "box_resize_2x": {
        # scan-partitioned coarse-cell agg: map-side combine, no Python
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "lineitem_percentiles": {
        # exact percentiles: single sort-based aggregate, no self-joins
        "require": [],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_shipdate", "l_orderkey"],
    },
    "similarity_topk_ivf": {
        # centroid assignment broadcast-crossed (tiny centroid relation),
        # then inverted-list equi-join — never corpus x queries
        "require": [],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "skewed_agg_salted": {
        # two-level salted aggregation: partial on (key, salt), final on key
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_stream_dedup": {
        # batch twin of streaming dedup: first-wins dropDuplicates = one
        # keyed aggregate
        "require": [],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["props"],
    },
    "rollup_sales": {
        # hierarchy via Expand (one scan replicated per grouping set), one agg
        "require": ["Expand", "HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "cube_orders": {
        "require": ["Expand", "HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "orders_above_cust_avg": {
        # correlated subquery decorrelated to agg + join, not re-executed
        # per row
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_props_json": {
        # JSON property extraction stays JVM-side (get_json_object), one agg
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "multimodal_frame_sample": {
        # two chained Arrow kernels: payload build + demux/decode
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "sample_topk_per_stratum": {
        # exact-k per stratum: rank window inside the stratum partition,
        # no global sort
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tfidf_topk_similar": {
        # dense regime at audit SF: vector assembly (broadcast vocab join +
        # hash agg) feeding the Arrow block-pair scan; the n^2 pair stream
        # lives inside the cogrouped tasks, never as a shuffle. No row-wise
        # Python (BatchEvalPython) — the UDF is the Arrow cogroup kind.
        "require": ["BroadcastHashJoin", "HashAggregate", "FlatMapCoGroupsInPandas", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "utm_forward_gcps": {
        # the Kruger series is pure column arithmetic: one codegen span over
        # the exploded GCP grid, no UDF, no join, no Python
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "warp_utm_from_lonlat": {
        # projection feeds the GCP-tile warp: pinned tile broadcast, no
        # cartesian, no Python anywhere (gather is relational).
        # REPARTITION_BY_NUM is the canvas row-stub exchange with an
        # EXPLICIT partition count — AQE must not coalesce it (the stub
        # bytes are tiny while the downstream col/tap explode is the whole
        # canvas; r6 measured the coalesced version at 704 MB peak task
        # memory in ONE task — the explode-after-exchange trap)
        "require": ["BroadcastHashJoin", "HashAggregate", "REPARTITION_BY_NUM"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "corpus_pack_assignments": {
        # per-shard prefix sum: window partitioned by bucket (parallel),
        # never a global-order single-partition window
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "corpus_pack_sequences": {
        # bounded span explode + one hash aggregate keyed (bucket, seq)
        "require": ["Generate", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "corpus_mixture_plan": {
        # the 1-row global totals ride a broadcast nested-loop join
        "require": ["BroadcastNestedLoopJoin", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "text_dup_passages": {
        # shingle-keyed df aggregate + join back; runs via per-doc window
        "require": ["Generate", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_incremental": {
        # fingerprint agg, band-bucket join and jaccard verify are
        # relational; the signature frame is the Arrow kernel behind a
        # checkpoint
        "require": ["HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "quality_classifier_scores": {
        # scoring is pure column expressions over the feature projection
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["n_chars", "lang"],
    },
    "embedding_pca_project": {
        # iterative: the moments pass (MapInPandas partials + (pos, sum)
        # combine) and the eigen fit already executed during construction
        # (kmeans-style); the RETURNED plan is the literal-weight projection
        # — one codegen'd scan pass, no joins, no Python
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Exchange"],
        "schema_excludes": ["label"],
    },
    "shipping_priority": {
        # Q3 shape: customer dim broadcast, fact join on keys, global top-10
        "require": ["BroadcastHashJoin", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["c_name", "c_acctbal", "o_totalprice"],
    },
    "nations_trade_volume": {
        # Q7 shape: both nation dims + supplier broadcast; fact chain shuffles
        "require": ["BroadcastHashJoin", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["c_name", "p_name"],
    },
    "returned_items_report": {
        "require": ["BroadcastHashJoin", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["o_totalprice", "c_mktsegment"],
    },
    "text_bigram_logprob": {
        # three broadcast count tables over one pair explode; no row Python
        "require": ["BroadcastHashJoin", "Generate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "corpus_cardinality_sketch": {
        # exact distinct + HLL in ONE aggregate pass
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "domain_pagerank": {
        # iterative: rank vector stays distributed; final plan joins the
        # checkpointed state with degree aggregates
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "corpus_curation_funnel": {
        # the stage chain is filters + one dedup semi-join over one scan
        # lineage; each funnel leg is a 1-row aggregate
        "require": ["HashAggregate", "LeftSemi", "Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "corpus_export_roundtrip": {
        # read-back of the partitioned export: scan partition column in
        # schema, one aggregate; no Python
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "similarity_topk_ivf_persisted": {
        # serving from the persisted index: centroid broadcast, probe
        # window, list join; no cartesian
        "require": ["BroadcastNestedLoopJoin", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_funnel_steps": {
        # stage chain: three filtered user-keyed aggregates, no raw-event
        # window, no cartesian
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "Window"],
    },
    "events_cohort_retention": {
        # firsts broadcast back onto the stream; two aggregates
        "require": ["HashAggregate", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["props", "value"],
    },
    "events_ab_test": {
        # single-pass moment aggregate; assignment is pure row arithmetic
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["props", "event_id"],
    },
    "events_path_transitions": {
        # one per-user lag window + one aggregate
        "require": ["Window", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["props", "value"],
    },
    # pack plans: a pack is the UNION of its members' plans — the member
    # shapes are audited above/individually; here assert the union executes
    # each member once with no cross-member recombination and that no member
    # smuggles in a cartesian or row-Python stage
    "llm_dedup_pack": {
        "require": ["Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "similarity_topk_pack": {
        "require": ["Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "relational_pack": {
        "require": ["Union", "Expand"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dormant_rich_customers": {
        # Q22 decorrelation: AVG scalar subquery -> 1-row broadcast cross
        # (must plan BroadcastNestedLoopJoin, never a shuffled cartesian);
        # NOT EXISTS -> LeftAnti on the customer key. Priority filter must
        # reach the orders scan.
        "require": ["BroadcastNestedLoopJoin", "LeftAnti",
                    "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["c_name", "c_mktsegment", "o_orderdate", "o_totalprice"],
    },
    "tpcds_margin_rank": {
        # Q36 shape: ONE expand+shuffle feeds every rollup level
        # (HashAggregate with partial/map-side combine), the rank window
        # re-shuffles only at hierarchy-level grain; the lineitem x part
        # join must never be a cartesian, and the scan reads only the 5
        # needed part columns + 4 lineitem columns
        "require": ["Expand", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["p_name", "p_size", "l_shipdate", "l_tax"],
    },
    "tpcds_rollup_topk": {
        # Q67 shape: one expand feeds 4 grouping sets; rank-then-filter
        # top-k at category grain; no cartesian, pruned scans
        "require": ["Expand", "HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["p_name", "p_size", "l_tax", "l_quantity"],
    },
    "tpcds_cumulative_crossover": {
        # Q51 shape: the channel join must be a keyed FULL OUTER (SMJ),
        # never cartesian; two window passes (cumsum, running max) over
        # the per-priority ordering; orders scan pruned to 4 columns
        "require": ["SortMergeJoin", "FullOuter", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["o_comment", "o_custkey", "o_clerk"],
    },
    "warp_ntv2_from_lonlat": {
        # same scaffolding contract as warp_utm_from_lonlat (pinned tile
        # broadcast, explicit canvas repartition, no Python) PLUS the
        # datum leg's cell-grain grid broadcast; the gather stays a keyed
        # SortMergeJoin, never cartesian
        "require": ["BroadcastHashJoin", "HashAggregate", "REPARTITION_BY_NUM",
                    "SortMergeJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "ntv2_multigrid_points": {
        # densest-first coalesce dispatch: one broadcast cell join per
        # subgrid per round, never a shuffled or cartesian grid join
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "mga_roundtrip_points": {
        # r10 GDA94/MGA family: pure-codegen Krüger TM, no joins at all
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Exchange hashpartitioning"],
    },
    "ntv2_roundtrip_points": {
        # r10 grid-shift datum chain: every bilinear interpolation is four
        # BROADCAST joins of the bounded shift-grid dimension against the
        # point relation — a shuffled or cartesian grid join would be the
        # wrong plan at every scale; the TM series is pure codegen
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "neardup_recall_multiprobe": {
        # r10 doc-side multi-probe: candidates come from the keyed
        # (band, dropped, bucket) self-join — a CartesianProduct here is
        # the all-pairs scan banding exists to prevent; truth is the
        # inverted-index exact-jaccard path; the signature frame is the
        # Arrow block kernel behind a checkpoint, the banding is column
        # expressions (md5 buckets), no per-row Python UDF
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "window_range_frames": {
        # r10 RANGE-frame cert: all four value-based frames share ONE
        # partition-key ordering (a second sort/exchange would mean the
        # frames stopped sharing their shuffle); integer-cents arithmetic
        # keeps the whole thing codegen'd expression work
        "require": ["Window"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["o_comment", "o_custkey", "o_clerk", "o_orderstatus"],
    },
    "tpcds_cross_channel_items": {
        # Q14 shape (r10): each INTERSECT plans as a distinct-aggregated
        # LeftSemi join (never a shuffled set-materialization or a
        # cartesian); the avg_sales threshold is a 1-row broadcast
        # (BroadcastNestedLoopJoin, the Q15-family scalar pattern);
        # lineitem scan pruned to join keys + price columns
        "require": ["LeftSemi", "BroadcastNestedLoopJoin", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_quantity", "l_tax", "l_returnflag", "o_totalprice"],
    },
    "tpcds_frequent_buyers": {
        # Q23 shape (r11): the freq_items / best_customers / cust_sums
        # subtrees each feed two consumers — they must plan ONCE and reach
        # the second consumer as ReusedExchange (re-executing a shared CTE
        # per branch is the exact multi-pass trap Q23 exists to exercise);
        # the gates are LeftSemi joins, the thresholds 1-row broadcasts;
        # branch year filters push down to the lineitem scan
        "require": ["ReusedExchange", "LeftSemi", "BroadcastNestedLoopJoin",
                    "HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_quantity", "l_tax", "l_returnflag", "l_comment"],
    },
    "dedup_stream_stream_neardup": {
        # r9 cross-stream twin: the cross-pair join must key on the LSH
        # (band, bucket) — a CartesianProduct here is the all-pairs scan
        # the banding exists to prevent. The signature stage is the
        # vectorized Arrow block kernel (MapInArrow, over the batch
        # frame's own hash helpers — the interpreted HOF form pinned the
        # 10x soak at vs_linear 0.95); the join and agreement math stay
        # JVM-side
        "require": ["MapInArrow"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "dedup_semantic_prune": {
        # SemDeDup composition (r9): the assignment relation is
        # checkpointed ONCE (the sub-kmeans + pair + verdict stages made
        # 6+ full re-executions of the corpus scan through it), so the
        # broadcast-centroid assignment join sits behind the checkpoint
        # boundary and is certified by the kmeans/IVF query plans instead.
        # What this plan must still show: the within-(cluster, sub, salt)
        # pair join as a keyed SortMergeJoin — a global all-pairs
        # CartesianProduct is the scale failure the cluster contract
        # exists to prevent — and no per-row Python.
        "require": ["SortMergeJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "nation_market_share": {
        # Q8 8-relation tree: nation x2 + region broadcast; part/supplier/
        # customer unpinned (SF-scaling). Filters must reach the scans.
        "require": ["BroadcastHashJoin",
                    "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["p_name", "p_brand", "s_name", "c_name", "o_totalprice"],
    },
    "suppliers_sole_problem": {
        # Q21 decorrelation shape: the EXISTS leg plans LeftSemi, the NOT
        # EXISTS leg LeftAnti — equi-keyed on l_orderkey with the supplier
        # inequality as residual; never a correlated re-exec or cartesian.
        # Join STRATEGY is deliberately unpinned (no broadcast hint, no SMJ
        # pin): at sf0.01 reliable file stats make the small legs broadcast,
        # at 100 TB the same sizing flips them to SortMergeJoin — the r6
        # de-hint doctrine. Top-100 via TakeOrderedAndProject.
        "require": ["LeftSemi", "LeftAnti",
                    "TakeOrderedAndProject", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_extendedprice", "l_quantity", "o_totalprice"],
    },
    "multimodal_pack": {
        "require": ["Union", "MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    # --- r11 coverage ratchet (verdict item 8): specs for the remaining ----
    # high-cost pack members and head rows whose plan shape previously
    # lived only in tests (or nowhere)
    "pyramid_downsample_read": {
        # S5 partition pruning: the level filter MUST reach the scan as a
        # PartitionFilter — reading all pyramid levels for one level's
        # query is the exact 100x over-read this source exists to avoid
        # (was test-only before r11)
        "require": ["PartitionFilters: ["],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_minhash_verified": {
        # below LSH_MAX_HASHES the banding and exact verify run in one
        # mapInArrow task over the checkpointed signature frame — an
        # all-pairs cartesian is the failure this pipeline exists to avoid
        "require": ["MapInArrow"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_corpus_summary": {
        # checkpointed component labels unioned with the anti-joined
        # singletons (LeftAnti keyed, never re-executed per row), then the
        # summary aggregate
        "require": ["LeftAnti", "Union", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_cluster_components": {
        # the union-find output is checkpointed and feeds both union legs:
        # no edge-node distinct aggregate left in the plan
        "require": ["LeftAnti", "Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "window_rank_orders": {
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "window_analytics_orders": {
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "grouping_sets_sales": {
        # rollup/cube plans as ONE Expand + aggregate, not a union of
        # per-grouping re-scans
        "require": ["Expand", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "Union"],
    },
    "user_running_totals": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_tumbling_hourly": {
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_sliding_windows": {
        # sliding windows = ONE Expand (each event into its covering
        # windows), never a per-offset union of re-scans
        "require": ["Expand", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "Union"],
    },
    "skewed_join_salted": {
        # the salt explode (Generate) must sit on the build side and the
        # join stay keyed
        "require": ["Generate", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpch_promo_revenue": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
        "schema_excludes": ["l_quantity", "l_tax", "l_returnflag"],
    },
    "tpch_top_supplier": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_standard_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_robust_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_adaptive_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_equalized_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "autoscale_tamed_u16": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "synrgb_suppressed": {
        "require": ["BroadcastHashJoin"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "ups_roundtrip_points": {
        # pure column arithmetic over generated lattice points: codegen
        # end to end, no Python, no join at all beyond the point build
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "FlatMapGroupsInPandas"],
    },
    "nad27_roundtrip_points": {
        # r11 NADCON family: every interpolation round is ONE broadcast
        # cell join whose exchange is REUSED across the fixed-point rounds
        "require": ["BroadcastHashJoin", "ReusedExchange"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "gtg_roundtrip_points": {
        # r11 third grid format (PROJ GeoTIFF): identical plan family —
        # the loader must not change the dataflow, only the bytes
        "require": ["BroadcastHashJoin", "ReusedExchange"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "zorder_layout_locality": {
        # r11 layout locality row: Morton interleave is pure bitwise
        # codegen; min/max scaling is ONE broadcast aggregate row crossed
        # back (BNLJ on a 1-row side, never a shuffled cartesian); both
        # layouts' per-file stats come from a single grouping-sets pass
        # (Expand), so the base is scanned once
        "require": ["Expand", "BroadcastNestedLoopJoin", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "dedup_exact_substring": {
        # r11 suffix-array-class dedup: anchor explode (Generate) feeds a
        # hash self-join whose anchor exchange is REUSED for the gram-df
        # cap aggregate; diagonal islands are one Window; no Python, no
        # cartesian — candidates only ever come from shared anchor hashes
        "require": ["Generate", "Window", "ReusedExchange", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "dedup_substring_removal": {
        # same span pipeline + per-doc interval union: the two span sides
        # union, then running-max-end island merge = one more Window
        "require": ["Generate", "Window", "Union", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "cdc_apply_changelog": {
        # r11 CDC merge: latest-wins rn=1 must prune map-side
        # (WindowGroupLimit), untouched rows pass via anti-join, upserts
        # append via Union — two key shuffles total, no Python
        "require": ["WindowGroupLimit", "Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "events_ab_cuped": {
        # r11 CUPED: per-user aggregate -> 1-row moments -> theta BNLJ
        # broadcast back -> per-variant reduce; same no-shuffle economics
        # as the OLS line it composes with
        "require": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Window", "SortMergeJoin"],
    },
    "events_ols_fit": {
        # r11 closed-form OLS: two scans, one 1-row moment aggregate, one
        # 1-row coefficient BNLJ broadcast back; no window, no Python, no
        # data shuffle beyond the final reduces
        "require": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Window", "SortMergeJoin"],
    },
    "events_interval_overlap": {
        # r11 interval x interval: bucket registration is a bounded
        # Generate; candidates equi-join on (key, bucket); the
        # first-shared-bucket rule dedupes in the join filter (no
        # distinct pass, no window); exact predicate in the same Filter
        "require": ["Generate", "Filter"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Window", "HashAggregate"],
    },
    "cdc_snapshot_diff": {
        # r11 apply<->diff cross-validation: the snapshot rebuild keeps
        # apply's WindowGroupLimit; the diff itself is ONE full-outer
        # SortMergeJoin on the key — no Python, no cartesian
        "require": ["SortMergeJoin", "WindowGroupLimit", "Union"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "cdc_scd2_history": {
        # r11 SCD2: one lead() window per key over the changelog — no join
        # anywhere in the plan
        "require": ["Window", "Union"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Join"],
    },
    "domain_triangle_census": {
        # r11 degree-oriented triangles: wedge enumeration joins the
        # oriented edge set with itself (SMJ on the apex) and the closing
        # edge confirms by equi-join — never an unconstrained self-join;
        # Generate is the URL explode
        "require": ["Generate", "SortMergeJoin", "HashAggregate", "Union"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "fuzzy_match_partnames": {
        # r11 record linkage: q-gram inverted index (Generate) -> count
        # filter aggregate -> levenshtein verify on candidates only ->
        # per-mention resolution Window; candidates only ever come from
        # shared grams — a cartesian distance matrix is the failure mode
        # this operator exists to avoid
        "require": ["Generate", "Window", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin"],
    },
    "bloom_semijoin_reduction": {
        # r11 runtime filter: the dim-key left join + three word-relation
        # probes are ALL broadcast hash joins (the word relation is a
        # cached m/32-row constant — ReusedExchange across probes); the
        # n_dim crossJoin is a 1-row BNLJ; no shuffle join anywhere on the
        # fact side, no Python
        "require": ["BroadcastHashJoin", "InMemoryTableScan", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "SortMergeJoin"],
    },
    "events_resample_gapfill": {
        # r11 hypertable gapfill: per-key grid via sequence explode
        # (Generate) from a per-key bounds aggregate — never a global
        # calendar crossJoin; fills are two per-key Window passes
        "require": ["Generate", "Window", "HashAggregate"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "BroadcastNestedLoopJoin"],
    },
    "hilbert_vs_morton_locality": {
        # r11 curve comparison: one enumerated panel feeds the 16-level
        # unrolled Hilbert transform (pure integer projections, codegen)
        # and the Morton interleave; measurement windows over the bounded
        # 65536-row panel; 1-row aggregates cross back as broadcast BNLJ
        "require": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Window"],
    },
    "bucketed_colocated_join": {
        # r11 layout certificate: both sides scan as bucketed tables and
        # the key join + key aggregate run with ZERO exchanges — any
        # Exchange in this plan (shuffle or broadcast) means the
        # co-location regressed; the SMJ is pinned (static stats would
        # broadcast the small-SF orders side and skip the demonstration)
        "require": ["SortMergeJoin", "Bucketed: true"],
        "forbid": ["Exchange", "CartesianProduct", "BatchEvalPython"],
    },
    "ann_recall_binary": {
        # r11 recall frontier: one Hamming scan + one rescoring pass feed
        # all three multipliers via a CHECKPOINTED shortlist (uncached it
        # re-ran the corpus scan per leg). The Hamming BNLJ runs INSIDE
        # the eager checkpoint so the final plan can't show it (the r9
        # SemDeDup lesson) — it stays visible in similarity_topk_binary's
        # audited plan, which shares the scan; here we pin the
        # post-checkpoint shape: per-mult windows, keyed joins, no Python
        "require": ["Window", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "similarity_topk_binary": {
        # r11 1-bit ANN: bounded query batch deliberately crossed (must be
        # broadcast NLJ, never a shuffled cartesian); the Hamming
        # shortlist and sign-bit packing are pure integer codegen, the
        # float cosine touches only the shortlisted rows; no Python
        "require": ["BroadcastNestedLoopJoin", "Window"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas", "MapInPandas"],
    },
    "dedup_exact": {
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_exact_normalized": {
        "require": ["HashAggregate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_ngram_jaccard": {
        # the per-doc hash sets come from the MinHash chain's Arrow kernels,
        # which run inside the eager checkpoint, so this plan reads them
        # back (Scan ExistingRDD) rather than showing a MapInArrow; their
        # exploded hash keys drive the df-cap semi-join and the
        # inverted-index equi-join; the verify intersects the two docs'
        # sets and never cross-joins docs
        "require": ["HashAggregate", "Generate", "Scan ExistingRDD"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "dedup_minhash_signatures": {
        # Arrow kernels (hash rows, merge runs of one id) around ONE
        # exchange on id whose partition count is given by number — AQE
        # coalesces a by-column repartition of these few bytes to a single
        # task; the exchange moves the text, or per-row signatures for a
        # wide scan; no per-shingle explode or wide aggregate
        "require": ["MapInArrow", "REPARTITION_BY_NUM"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "Generate", "HashAggregate"],
    },
    "dedup_simhash": {
        "require": ["HashAggregate", "Generate"], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "ann_recall_at_k": {
        # truth leg = deliberate bounded-query cross (BroadcastNLJ);
        # the LSH legs key on probe buckets (Arrow-batched key UDF)
        "require": ["BroadcastNestedLoopJoin", "ArrowEvalPython"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "text_lang_id": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "text_token_stats": {
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    },
    "embedding_quantize_int8": {
        # per-vector transform: pure higher-order column functions, no
        # Python anywhere in the plan
        "require": [], "codegen": True,
        "forbid": ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas", "MapInPandas"],
    },
    "tfidf_top_terms": {
        "require": ["HashAggregate", "Window"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "batch_report": {
        "require": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "safe_discovery": {
        # the error-tolerant opener is ONE mapInPandas pass over product
        # dirs — per-product Python, never per-pixel rows through Python
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "generic_reader_roundtrip": {
        "require": ["Union"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "pipeline_kernel_standard_u8": {
        # grouped per-product kernel: ONE FlatMapGroupsInPandas, stats via
        # Window inside the group route
        "require": ["FlatMapGroupsInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "multimodal_byte_features": {
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "events_range_join": {
        # range join: bucketed equi-keys carry the band join (Generate =
        # bucket explode), the inequality is a residual — never cartesian
        "require": ["Generate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    "tpcds_rollup_topk": {
        "require": ["Expand", "Window", "HashAggregate"],
        "forbid": ["CartesianProduct", "BatchEvalPython"],
    },
    # r12 ratchet: the fourteen TPC-H shapes in one union: broadcast dims, SMJ facts, grouping-set Expand, top-k via TakeOrderedAndProject
    "tpch_shapes_pack": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Expand', 'Generate', 'HashAggregate', 'SortMergeJoin', 'TakeOrderedAndProject', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: pure scalar expressions on one scan: any join or Python node is a regression
    "scalar_function_pack": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: as-of via union + last-value window: no join node at all
    "events_asof_signup": {
        "require": ['HashAggregate', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: cached band frame + mask window; pure column math
    "db_conversion_mask": {
        "require": ['InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: per-band stats broadcast back; SMJ only on the band-pair align
    "tamed_synrgb_u8_copol": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'HashAggregate', 'InMemoryTableScan', 'SortMergeJoin', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: grouped Arrow kernel per product (FlatMapGroupsInPandas) on the cached frame
    "pipeline_kernel_clahe_u16": {
        "require": ['FlatMapGroupsInPandas', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: 3x3 neighborhood via bounded Generate + first-value windows; dims broadcast
    "local_median_3x3": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'InMemoryTableScan', 'ObjectHashAggregate', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: per-product dims aggregate + window; no Python
    "geotransform_update": {
        "require": ['HashAggregate', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: grouped Arrow kernel per product
    "pipeline_kernel_synrgb_default": {
        "require": ['FlatMapGroupsInPandas', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: grouped Arrow kernel per product
    "pipeline_kernel_synrgb_suppressed": {
        "require": ['FlatMapGroupsInPandas', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: ONE grouped-solve task per product (FlatMapGroupsInPandas), bilinear gather joins, no cartesian
    "warp_gcp_pack": {
        "require": ['BroadcastHashJoin', 'FlatMapGroupsInPandas', 'Generate', 'HashAggregate', 'InMemoryTableScan', 'SortAggregate', 'SortMergeJoin', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: token/shingle Generates + hash aggregates; 1-row stats ride BNLJ
    "llm_text_pack": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Generate', 'HashAggregate', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: hygiene legs: Generates + aggregates + bounded top-k
    "llm_hygiene_pack": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Generate', 'HashAggregate', 'SortMergeJoin', 'TakeOrderedAndProject', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: packing prefix sums: grouping-set Expand + WindowGroupLimit-pruned rank windows
    "llm_sampling_pack": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Expand', 'Generate', 'HashAggregate', 'TakeOrderedAndProject', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: window legs are grouping-sets (Expand) + explode grids; no join
    "events_windows_pack": {
        "require": ['Expand', 'Generate', 'HashAggregate', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: encode legs are grouped Arrow kernels; metadata joins broadcast
    "sink_sidecar_pack": {
        "require": ['BroadcastHashJoin', 'FlatMapGroupsInPandas', 'Generate', 'HashAggregate', 'InMemoryTableScan', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: SAFE tree parse + grid loops: MapInPandas decode legs, broadcast grid joins.
    # r13 optimization round: the fixture GCP/annotation relations became Arrow-backed
    # LocalRelations (localrel.py) with EXACT size statistics, so the one SortMergeJoin
    # this spec used to pin (the centroid-CRS leg, planned SMJ only because a pickled-RDD
    # side had no stats) correctly lowered to a broadcast of the bounded side — every
    # join in the pack now broadcasts bounded dimension data, the right 100 TB shape.
    "sources_pack": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'InMemoryTableScan', 'MapInPandas', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: INTERSECT/EXCEPT lower to join-free aggregates on the union of two scans of one table
    "set_operations": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: lowered to broadcast semi/anti by AQE at this SF — no shuffle join
    "semi_anti_join": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: cogrouped as-of compiles to ONE aggregate here (no Python fallback)
    "events_asof_cogrouped": {
        "require": ['HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: dim joins broadcast; one aggregate
    "local_supplier_volume": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: old rollup + delta union, re-aggregated — the incremental-maintenance shape
    "events_incremental_rollup": {
        "require": ['BroadcastHashJoin', 'HashAggregate', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: broadcast dims, one aggregate
    "tpch_product_profit": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: broadcast dims, one aggregate
    "tpch_priority_shipclass": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: anti-join lowered to broadcast at this SF, two aggregates
    "tpch_customer_distribution": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: broadcast semi legs, distinct + count aggregates
    "tpch_supplier_cnt_distribution": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: broadcast part dim, one aggregate
    "tpch_small_qty_revenue": {
        "require": ['BroadcastHashJoin', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: band-pair align broadcast on the cached frame; window for the zip
    "band_zip_ndiff": {
        "require": ['BroadcastHashJoin', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: grouped Arrow quantize after broadcast param join
    "pipeline_op_ratio_u8": {
        "require": ['BroadcastHashJoin', 'FlatMapGroupsInPandas', 'InMemoryTableScan', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: GCP grid explode + per-sheet aggregate; pure column math
    "ups_forward_points": {
        "require": ['Generate', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: one aggregate over parsed labels
    "metadata_polarization_label": {
        "require": ['HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: six-line sidecar derivation: one aggregate, no join
    "worldfile_sidecar": {
        "require": ['HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: pure parse projection: no join, no aggregate, no Python
    "safe_annotations": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: plan-flag derivation is pure column logic
    "pipeline_plan_flags": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: sidecar text assembly is pure projection
    "sidecar_outputs": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: drained-sink read-back: plain scan + projection
    "ingest_sink_roundtrip": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: banded keys Generate + bucket equi-join (broadcast at this SF) + popcount verify
    "dedup_simhash_pairs": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: probe keys via Arrow UDF; truth legs SMJ; WindowGroupLimit prunes rank windows
    "ann_recall_multiprobe": {
        "require": ['ArrowEvalPython', 'BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Generate', 'HashAggregate', 'SortMergeJoin', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython'],
    },
    # r12 ratchet: k-gram Generate + per-doc window min + distinct aggregate
    "text_winnowing": {
        "require": ['Generate', 'HashAggregate', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: whole-doc hash: pure projection
    "text_fingerprint": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: driver-unrolled merge rounds end in a bounded literal plan
    "bpe_vocab_train": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: vocab broadcast into the encode join; explode for pair stats
    "bpe_encode_corpus": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: header sniff: pure projection on binary columns
    "multimodal_metadata": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: decode-or-degrade is ONE MapInPandas pass
    "multimodal_progressive_fallback": {
        "require": ['MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: quasi-identifier grouping: one aggregate
    "privacy_k_anonymity": {
        "require": ['HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: shingle Generate + window + aggregate; stats broadcast
    "text_repetition": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: URL regexp explode + rollup aggregate
    "text_url_domains": {
        "require": ['Generate', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: token explode, vocab aggregate, 1-row total BNLJ, bounded top-k
    "text_unigram_logprob": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Generate', 'HashAggregate', 'TakeOrderedAndProject'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: weighted rank window pruned map-side (WindowGroupLimit)
    "sample_weighted_topk": {
        "require": ['Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: codebook kmeans aggregates + broadcast LUT joins + rank windows pruned map-side
    "similarity_topk_pq": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'HashAggregate', 'ObjectHashAggregate', 'Generate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: truth SMJ + ADC rank windows; one scan serves all multipliers
    "ann_recall_pq": {
        "require": ['HashAggregate', 'SortMergeJoin', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: IVF-PQ — probed-list candidates gate the ADC scan (broadcast LUT),
    # exact rerank windows; no Python, no cartesian
    "similarity_topk_ivfpq": {
        "require": ['BroadcastHashJoin', 'HashAggregate', 'Generate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: serving from the persisted IVF-PQ index — centroid/LUT broadcasts,
    # probe window, candidate join over the reloaded parquet relations; the
    # codes arrive pre-encoded so no Generate in the serve plan
    "similarity_topk_ivfpq_persisted": {
        "require": ['BroadcastHashJoin', 'HashAggregate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: one ADC scan + rescoring pass per nprobe leg serves every multiplier
    "ann_recall_ivfpq": {
        "require": ['HashAggregate', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: length-bucketed batching — shard-local rank windows (never global),
    # two-level integer aggregates, union of the bucketed + baseline legs
    "corpus_length_bucketed_batches": {
        "require": ['HashAggregate', 'Window', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r13: incremental CC maintenance — contracted-graph components composed
    # over the old labels (+ anti-joined singletons) by left joins on the
    # representative; components and the pair pipeline are checkpointed
    # scans, so each runs once
    "dedup_incremental_clusters": {
        "require": ['LeftAnti', 'SortMergeJoin', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: hard-negative mining — IVF-gated scoring, near-dup exclusion agg,
    # per-query rank window; broadcast query batch and exclusion counts
    "contrastive_hard_negatives": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'HashAggregate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: MaxSim recall frontier — checkpointed brute truth, one IVF-gated
    # leg per probe width, per-query hit aggregates unioned
    "ann_recall_maxsim": {
        "require": ['HashAggregate', 'Union', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: MaxSim rerank gated by the probed IVF lists — the t*t interaction
    # block is pure codegen projection over candidate pairs; broadcast query
    # batch; per-query rank window
    "similarity_topk_maxsim": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'HashAggregate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: DSIR — exploded hashed n-grams (Generate), map-side-combined bag
    # counts, broadcast nano-ratio model join, top-k FIRST
    # (TakeOrderedAndProject) then rank-attach over the <=k survivors
    "dsir_resample_en": {
        "require": ['Generate', 'HashAggregate', 'BroadcastHashJoin', 'TakeOrderedAndProject', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: the per-language certificate leg — same feature/model stages, one
    # lang aggregate, the argmax as a keyless 1-row min_by broadcast back
    "dsir_logweight_by_lang": {
        "require": ['Generate', 'HashAggregate', 'BroadcastHashJoin', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'Window'],
    },
    # r13: densest-subgraph peel — per-round semi-joins + degree aggregates,
    # 1-row stat broadcasts, snapshot/stat unions, the 12-row best window
    "suppart_densest": {
        "require": ['HashAggregate', 'BroadcastNestedLoopJoin', 'Union', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: batch twin of the streaming pipeline: band Generate + bucket join + SMJ verify
    # r12 ratchet: batch twin of the streaming pipeline — the signature
    # stage is the vectorized Arrow kernel (MapInArrow), index/bucket
    # joins and verify stay JVM-side
    "dedup_streaming_neardup": {
        "require": ['HashAggregate', 'MapInArrow'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: unrolled logistic steps end in a bounded literal plan
    "quality_classifier_train": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: power-iteration moments collapse to a literal component plan
    "embedding_pca": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: CMS rows via Generate + BIT/min aggregates; bounded top-k
    "terms_heavy_hitters_cms": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'TakeOrderedAndProject'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: component labels anti-join to docs (the union-find's label
    # ids broadcast, bounded by UF_MAX_EDGES); split counts union; 1-row
    # totals BNLJ
    "corpus_leakage_safe_split": {
        "require": ['BroadcastNestedLoopJoin', 'HashAggregate', 'LeftAnti', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: token explode + signed-hash aggregate; dims broadcast
    "text_feature_hashing": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: chunk grid is ONE bounded explode, no shuffle at all
    "corpus_chunk_windows": {
        "require": ['Generate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: ONE MapInPandas decode pass
    "multimodal_audio_features": {
        "require": ['MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: ONE MapInPandas frame pass
    "multimodal_audio_frames": {
        "require": ['MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: ONE MapInPandas thumbnail pass
    "multimodal_thumbnails": {
        "require": ['MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: label x prediction matrix: one aggregate
    "text_lang_confusion": {
        "require": ['HashAggregate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: threshold legs union + aggregate; no join
    "quality_threshold_sweep": {
        "require": ['HashAggregate', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: mojibake/control scans are pure projections
    "text_encoding_hygiene": {
        "require": [],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: inverted-index probe: term join broadcast at this SF, per-query rank window pruned map-side, 1-row stats BNLJ
    "text_bm25_topk": {
        "require": ['BroadcastHashJoin', 'BroadcastNestedLoopJoin', 'Generate', 'HashAggregate', 'Window', 'WindowGroupLimit'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: decode+hash is ONE MapInPandas pass; band join + popcount verify JVM-side
    "dedup_image_phash": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12: mergeable MG — shard/key aggregates + per-shard rank window; the one
    # global rank window sits on the plan-visible m*shards GlobalLimit (bounded
    # exception); 1-row budget broadcasts
    "events_heavy_hitters_mg": {
        "require": ['HashAggregate', 'Window', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: streaming-KMV batch twin — one distinct + per-shard rank window
    "events_kmv_distinct_sketch": {
        "require": ['HashAggregate', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12: outer stream-stream twin — batch mode is a range LEFT join keyed
    # on user_id: any hash/merge equi-join is fine, a nested loop is not
    "events_attribution_outer": {
        "require": ['Join'],
        "forbid": ['CartesianProduct', 'BroadcastNestedLoopJoin', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: FULL OUTER stream-stream twin — same range-equi-join shape, both
    # null-extension directions
    "events_attribution_full": {
        "require": ['Join'],
        "forbid": ['CartesianProduct', 'BroadcastNestedLoopJoin', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: entity resolution — components on the pair-connected subgraph only
    # (the expensive fuzzy pair lineage is checkpoint-truncated, so no Window
    # appears in the resolved plan), survivorship = keyed aggregates
    "entity_resolution_parts": {
        "require": ['HashAggregate', 'SortMergeJoin', 'BroadcastHashJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: KMV — bottom-k sketches are TakeOrderedAndProject; all joins are
    # sketch-sized or 1-row broadcasts; exact legs are hash-distinct aggregates
    "orders_overlap_kmv": {
        "require": ['TakeOrderedAndProject', 'HashAggregate', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: k-core — per-round keyed semi-joins (LeftSemi) + count aggregates,
    # 1-row convergence probes broadcast; no cartesian, no Python
    "suppart_kcore": {
        "require": ['HashAggregate', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: IVM — touched-key semi-join + delta agg + affected-group semi-join;
    # the only windows are the changelog's per-key latest-change rank
    "orders_incremental_agg_maintenance": {
        "require": ['HashAggregate', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: mergeable quantiles — shard-local sort windows; the one global cumsum
    # window sits on the plan-visible shards*(k+1) GlobalLimit (bounded exception);
    # panel/budget broadcasts; exact-rank verify is one conditional-agg pass
    "lineitem_quantile_sketch": {
        "require": ['HashAggregate', 'Window', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r13: DDSketch — one bucket projection + map-side-combined counter agg,
    # bounded-window cum read-off, broadcast-panel exact-rank verify; the
    # bucket map is value-pure so no sort/shuffle beyond the tiny sketch
    "lineitem_ddsketch_quantiles": {
        "require": ['HashAggregate', 'Window', 'BroadcastNestedLoopJoin'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12: prefix-filter join — df agg + per-doc window + shingle-keyed candidate join,
    # set arrays verified JVM-side (array_intersect); no Python, no cartesian
    "dedup_allpairs_jaccard": {
        "require": ['HashAggregate', 'Window', 'Generate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    "dedup_allpairs_prefix_stats": {
        "require": ['HashAggregate', 'Window', 'Generate'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12: decode+fingerprint is ONE MapInPandas pass; band join + popcount verify JVM-side
    "dedup_audio_fingerprint": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r13: split+decode+per-frame pHash is ONE MapInPandas pass; frame-band join,
    # distinct, and the vote aggregate are JVM-side
    "dedup_video_phash": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: winnow kernel is ONE MapInPandas pass; diagonal join + per-pair array spans, no per-position rows
    "dedup_exact_substring_winnowed": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'MapInPandas'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
    # r12 ratchet: both paths in one plan: winnow MapInPandas + full-density Generate + SMJ full-outer compare
    "substring_winnow_recall": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'MapInPandas', 'SortMergeJoin', 'Window'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython'],
    },
    # r12 ratchet: nine projection families in one union: grid corners broadcast, GCP explodes, no Python
    "datum_roundtrip_pack": {
        "require": ['BroadcastHashJoin', 'Generate', 'HashAggregate', 'Union'],
        "forbid": ['CartesianProduct', 'BatchEvalPython', 'ArrowEvalPython', 'SortMergeJoin'],
    },
}


def scan_read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def singlepart_window_problems(simple_plan: str) -> list[str]:
    """Flag any Window fed by an Exchange SinglePartition — Spark's own
    'Moving all data to a single partition' hazard: one task sorts every
    input row. The ONLY blessed shape is a rank-attach over an already
    top-k-limited input (TakeOrderedAndProject / GlobalLimit below the
    window), where the single partition holds <=k rows by construction.

    Parses the simple-mode plan tree by indentation: a node's subtree is the
    following lines with greater depth."""
    lines = simple_plan.splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        if m:
            return m.start() + 3
        m2 = re.match(r"^\s*", line)
        return len(m2.group(0))

    problems = []
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow(Group)?(Limit)?\b|\bWindowExec\b", line):
            continue
        if "Window" not in line:
            continue
        d = depth(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if not nxt.strip():
                break
            if depth(nxt) <= d:
                break
            subtree.append(nxt)
        sub = "\n".join(subtree)
        # a SinglePartition exchange whose parent is a KEYLESS aggregate is
        # a scalar total (count/max over partial-agg rows — one row per
        # upstream partition, bounded by construction), not a data sort;
        # ignore those when deciding whether this window is hazardous
        # (r11: tfidf's n_docs count sat inside the window's join subtree
        # and false-positived the gate)
        hazardous = False
        for j, sl in enumerate(subtree):
            if "Exchange SinglePartition" not in sl:
                continue
            dj = depth(sl)
            parent = next(
                (subtree[p] for p in range(j - 1, -1, -1) if depth(subtree[p]) < dj),
                "",
            )
            if re.search(r"HashAggregate\(keys=\[\]", parent):
                continue
            hazardous = True
        if hazardous and not (
            "TakeOrderedAndProject" in sub or "GlobalLimit" in sub
        ):
            problems.append(
                "Window fed by Exchange SinglePartition with no TakeOrdered/GlobalLimit "
                "below it — one task sorts ALL rows; top-k first, then rank the survivors"
            )
    return problems


# --- forced-broadcast boundedness gate ---------------------------------------
# Every F.broadcast(...) in the engine must name a relation whose cardinality
# is BOUNDED (per-product params, k centroids, a capped vocabulary, a 1-row
# total) — a broadcast hint ignores actual size, so hinting an
# unbounded-cardinality relation (per-doc, per-term, per-user tables, or any
# TPC-H table whose row count is a function of SF) is a driver OOM at corpus
# scale. New sites fail this audit until the target is reviewed bounded and
# added here with a (grain, reason) entry. Grain classes:
#   constant      — fixed row count independent of data volume (25 nations,
#                   k centroids, a 1-row total, W counter registers)
#   per-product   — one/few rows per product or (product, band); products per
#                   batch are operator-bounded, never corpus-proportional
#   bounded-batch — capped by an explicit limit before the broadcast (top-K
#                   vocab, LIMITed query batch, vocab <= DENSE_VOCAB_MAX)
# Anything whose cardinality grows with SF (customer, supplier, orders,
# lineitem, part, events, documents, embeddings, per-user/per-doc derived
# tables) is rejected BY CONSTRUCTION below — an allowlist entry cannot
# bless it. (r5 verdict: five such sites were wrongly reviewed as "dims".)
GRAIN_CLASSES = {"constant", "per-product", "bounded-batch"}
# tables/derived grains whose row count is a function of the scale factor —
# word-matched against both the broadcast expression and the review text
SF_SCALING_NAMES = (
    "customer", "supplier", "orders", "lineitem", "part",
    "events", "documents", "embeddings", "per-user", "per-doc",
)
BROADCAST_ALLOW: dict[tuple[str, str], tuple[str, str]] = {
    ("operators/geometry.py", "coef"): (
        "per-product",
        "one TPS coefficient row per product (GCP-grid-sized arrays; the "
        "tiles_b class of k^2-fold-reduced relation)",
    ),
    ("operators/gridshift.py", "corner"): (
        "constant",
        "NTv2 shift-grid cells — a national grid is a bounded few-MB "
        "dimension fixed by geography, never SF-scaling",
    ),
    ("operators/gridshift.py", "g01"): (
        "constant", "grid self-join side in the cell build (same bound)",
    ),
    ("operators/gridshift.py", "g10"): (
        "constant", "grid self-join side in the cell build (same bound)",
    ),
    ("operators/gridshift.py", "g11"): (
        "constant", "grid self-join side in the cell build (same bound)",
    ),
    ("functions/heavyhitters.py", "budget"): (
        "constant",
        "ONE error-budget row (total_err, n_total scalars) scaled back over "
        "the bounded m*shards summary — 1 row at any SF",
    ),
    ("functions/heavyhitters.py", "thr_g"): (
        "constant",
        "the (m+1)-th merged count as a 1-row aggregate (global MG trim)",
    ),
    ("llm/graph.py", "n_last"): (
        "constant", "ONE survivor-count row (k-core convergence probe)",
    ),
    ("llm/graph.py", "n_next"): (
        "constant", "ONE survivor-count row (k-core convergence probe)",
    ),
    ("functions/kmv.py", "th"): (
        "constant", "ONE theta row (k-th union hash + sketch size scalars)",
    ),
    ("functions/kmv.py", "ea"): ("constant", "ONE exact-|A| verification scalar"),
    ("functions/kmv.py", "eb"): ("constant", "ONE exact-|B| verification scalar"),
    ("functions/kmv.py", "ei"): ("constant", "ONE exact-intersection verification scalar"),
    ("functions/ddsketch.py", "totals"): (
        "constant", "ONE n_total row (scalar) joined to the fixed panel (r13)",
    ),
    ("functions/ddsketch.py", "cum"): (
        "constant",
        "the cumulative bucket sketch — <= MAX_BUCKETS (255) rows by "
        "construction, plan-visible LIMIT (r13)",
    ),
    ("functions/ddsketch.py", "est"): (
        "constant", "the fixed 7-row quantile panel with bucket bounds (r13)",
    ),
    ("functions/ddsketch.py", "ranks"): (
        "constant", "the fixed 7-row exact-rank verify panel (r13)",
    ),
    ("functions/quantiles.py", "totals"): (
        "constant", "ONE n_total row (scalar) joined to the fixed panel",
    ),
    ("functions/quantiles.py", "cum"): (
        "constant",
        "the merged weighted summary — bounded shards*(k+1) rows by "
        "construction (plan-visible GlobalLimit), never SF-scaling",
    ),
    ("functions/quantiles.py", "est"): (
        "constant", "the fixed 7-row quantile panel with estimates",
    ),
    ("functions/quantiles.py", "err_budget"): (
        "constant", "ONE error-budget row (scalar sum of shard steps)",
    ),
    ("functions/zorder.py", "mm"): (
        "constant",
        "ONE min/max aggregate row (four scalars) scaled back over the frame "
        "for fixed-point quantization — 1 row at any SF",
    ),
    ("operators/stats.py", "base"): ("per-product", "per-(product,band) stats rows"),
    ("operators/stats.py", "pct_rows"): ("constant", "fixed percentile list"),
    ("operators/autoscale.py", "params"): ("per-product", "per-(product,band) autoscale params"),
    ("operators/autoscale.py", "ext"): ("per-product", "per-(product,band) extrema"),
    ("operators/synrgb.py", "tot"): ("per-product", "per-(product,band) histogram totals"),
    ("operators/synrgb.py", "fl"): ("per-product", "per-(product,band) floor row"),
    ("operators/clahe.py", "win"): ("per-product", "per-(product,band) window row"),
    ("operators/clahe.py", "dims"): ("per-product", "per-(product,band) dims row"),
    ("operators/clahe.py", "tile_agg"): ("per-product", "per-tile CDF, tiles-per-product grain"),
    ("operators/clahe.py", "c"): ("per-product", "per-tile centers, tiles-per-product grain"),
    ("operators/geometry.py", "dims"): ("per-product", "per-(product,band) dims row"),
    ("operators/geometry.py", "tiles_b"): ("per-product", "pinned GCP tile grid, grid-cell grain"),
    ("operators/local_enhance.py", "dims"): ("per-product", "per-(product,band) dims row"),
    ("operators/kernel.py", "params"): ("per-product", "per-(product,band) kernel params"),
    ("llm/dedup.py", "sa"): (
        "bounded-batch",
        "set relation broadcast ONLY behind broadcast_sets=True — the "
        "caller's bounded-panel contract (recall measurement lines)",
    ),
    ("llm/dedup.py", "sb"): (
        "bounded-batch",
        "same panel-bounded contract as sa (broadcast_sets=True only)",
    ),
    ("llm/cluster.py", "cc"): (
        "bounded-batch",
        "union-find label ids, taken only at or below UF_MAX_EDGES edges: "
        "at most two ids per edge, the build side of the singleton anti-join",
    ),
    ("llm/sampling.py", "rate_df"): ("constant", "per-stratum rates over enumerated strata"),
    ("llm/text.py", "freqs"): ("bounded-batch", "vocabulary CAPPED to top-K before broadcast"),
    ("llm/text.py", "totals"): ("constant", "1-row global totals"),
    ("llm/text.py", "big"): ("bounded-batch", "bigram table over the capped vocab"),
    ("llm/text.py", "cprev"): ("bounded-batch", "capped-vocab context counts"),
    ("llm/packing.py", "totals"): ("constant", "1-row global totals"),
    ("llm/graph.py", "dm"): ("constant", "1-row dangling-mass scalar"),
    ("llm/similarity.py", "queries"): ("bounded-batch", "query batch bounded by serving contract"),
    ("llm/similarity.py", "qkeys"): ("bounded-batch", "LSH keys of the bounded query batch"),
    ("llm/similarity.py", "centroids"): (
        "constant",
        "k IVF/k-means centroids (list assignment and the one IVF probe, which "
        "also gates the MaxSim and hard-negative candidates)",
    ),
    ("llm/similarity.py", "qc"): ("bounded-batch", "query x probe-centroid rows, bounded batch"),
    ("llm/similarity.py", "qb"): ("bounded-batch", "sign-bit codes of the bounded query batch (r11 binary ANN)"),
    ("llm/similarity.py", "books"): (
        "constant",
        "PQ codebooks: m*ksub rows (64 at defaults) regardless of corpus size (r12)",
    ),
    ("llm/similarity.py", "cent"): (
        "constant",
        "grouped-PQ training centroids: <= m*ksub rows (64 at defaults) per "
        "Lloyd round, corpus-size-free (r13 optimization round)",
    ),
    ("llm/dsir.py", "ratios"): (
        "constant",
        "the <= DSIR_BUCKETS-row (2048) nano-unit log-ratio model table (r13)",
    ),
    ("llm/dsir.py", "n_raw"): ("constant", "1-row corpus token total (r13 DSIR)"),
    ("llm/dsir.py", "n_tgt"): ("constant", "1-row target token total (r13 DSIR)"),
    ("llm/lateinteraction.py", "queries"): (
        "bounded-batch",
        "the query batch scored against the corpus in the brute-force "
        "MaxSim truth leg (r13)",
    ),
    ("llm/lateinteraction.py", "qv"): (
        "bounded-batch",
        "query vectors of the bounded batch (r13 MaxSim rerank)",
    ),
    # r14: the per-round n_e / stat broadcasts left llm/densest.py — the
    # (n_v, n_e) pair is now a driver-side scalar collect whose values are
    # embedded as literals in the peel predicate (verdict item 5)
    ("llm/densest.py", "best"): (
        "constant",
        "the single best-round stats row (round, n_v, n_e, density) (r13)",
    ),
    ("llm/similarity.py", "codebooks"): (
        "constant",
        "m x ksub PQ codebook rows (4 x 16 default) joined to the exploded "
        "subspace slices in the one-pass code assignment (r13)",
    ),
    ("llm/similarity.py", "lut"): (
        "bounded-batch",
        "ADC lookup table: query batch x m*ksub codebook entries (r12 PQ)",
    ),
    ("llm/similarity.py", "qn"): ("bounded-batch", "one norm row per query in the bounded batch (r12 PQ)"),
    ("llm/similarity.py", "short"): (
        "bounded-batch",
        "ADC shortlist: k*mult rows per query in the bounded batch (r12 PQ rerank)",
    ),
    ("llm/similarity.py", "qv"): ("bounded-batch", "query vectors of the bounded batch (r12 PQ rerank)"),
    ("llm/bm25.py", "stats"): (
        "constant",
        "ONE (n_docs, avgdl) corpus-stats row folded into the idf expression (r12 BM25)",
    ),
    ("llm/tfidf.py", "total"): ("constant", "1-row corpus count"),
    ("llm/tfidf.py", "vocab_idx"): ("bounded-batch", "dense path only: vocab <= DENSE_VOCAB_MAX"),
    ("llm/tfidf.py", "reps"): ("constant", "G replication ids"),
    ("queries_llm.py", "excl"): (
        "bounded-batch",
        "1-row excluded-long-docs count (winnow POS_ENC guard, r13) and the "
        "one-exclusion-count-row-per-query relation of the bounded query "
        "batch (r13 hard negatives)",
    ),
    ("queries_llm.py", "cost"): ("constant", "1-row candidate-count aggregate"),
    ("queries_llm.py", "best"): (
        "constant",
        "1-row argmax (top language by mean DSIR log-weight, r13)",
    ),
    ("queries_llm.py", "qv"): (
        "bounded-batch", "query vectors of the bounded batch (r13 negatives)",
    ),
    ("queries_llm.py", "cr"): ("constant", "count-min row of W counters"),
    ("queries_llm.py", "straddle"): ("constant", "1-row straddling-pair count"),
    ("queries_relational.py", "avg_bal"): ("constant", "1-row scalar-subquery aggregate"),
    ("llm/regression.py", "coef"): ("constant", "1-row OLS coefficient aggregate"),
    ("queries_relational.py", "th"): ("constant", "1-row CUPED theta/xbar aggregate"),
    ("functions/bloom.py", "w"): (
        "constant",
        "bloom word relation — at most m_bits/32 rows (2 KiB at the cert's "
        "1024 bits, 16 KiB at the 2^17 production default) regardless of "
        "dim cardinality",
    ),
    ("queries_relational.py", "hs"): ("constant", "1-row hilbert step aggregate"),
    ("queries_relational.py", "zs"): ("constant", "1-row morton step aggregate"),
    ("queries_relational.py", "hb"): ("constant", "1-row hilbert bbox aggregate"),
    ("queries_relational.py", "zb"): ("constant", "1-row morton bbox aggregate"),
    ("queries_relational.py", "w"): (
        "constant", "same bloom word relation probed in the certificate's flag loop",
    ),
    ("queries_relational.py", 't["nation"]'): ("constant", "25-row nation dim"),
    ("queries_relational.py", 't["region"]'): ("constant", "5-row region dim"),
    ("queries_relational.py", "n1"): ("constant", "25-row nation dim"),
    ("queries_relational.py", "n2"): ("constant", "25-row nation dim"),
    ("queries_relational.py", "n"): ("constant", "25-row nation dim"),
    ("queries_relational.py", "r"): ("constant", "5-row region dim"),
    ("queries_tpch.py", "nat"): ("constant", "25-row nation dim (filtered or whole)"),
    ("queries_tpch.py", "reg"): ("constant", "5-row region dim"),
    ("queries_tpch.py", "thr"): ("constant", "1-row scalar-subquery threshold aggregate"),
    ("queries_tpch.py", "maxrev"): ("constant", "1-row MAX-revenue scalar aggregate"),
    ("queries_tpch.py", "cthr"): ("constant", "1-row AVG-count threshold (Q23 shape)"),
    ("queries_tpch.py", "sthr"): ("constant", "1-row MAX-spend threshold (Q23 shape)"),
    ("queries_raster.py", "sketch"): ("per-product", "GK sketch rows per-(product,band)"),
    ("queries_raster.py", "pvv"): ("per-product", "per-product percentile row"),
    ("queries_raster.py", "pvh"): ("per-product", "per-product percentile row"),
}


def audit_broadcast_sites() -> list[str]:
    """Return problems for F.broadcast sites not in the reviewed allowlist,
    for allowlist entries whose site no longer exists (drift: a stale review
    would silently bless a future reintroduction), and — rejected BY
    CONSTRUCTION, allowlist or not — for any site or review that names an
    SF-scaling relation (the r5 failure mode: customer/supplier/per-user
    tables reviewed as 'dims')."""
    # capture the full first-arg expression incl. a subscript, so
    # t["customer"] and t["nation"] are DISTINCT gate keys (r5 let the bad
    # one ride in on the good one's bare-variable key)
    pat = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\[[^\]]+\])?)")
    scaling = re.compile(
        "|".join(r"\b" + re.escape(nm).replace(r"\-", "-") + r"\b" for nm in SF_SCALING_NAMES)
    )
    problems = []
    seen: set[tuple[str, str]] = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                for ln, line in enumerate(fh, 1):
                    for m in pat.finditer(line):
                        key = (rel, m.group(1))
                        seen.add(key)
                        hit = scaling.search(m.group(1))
                        if hit:
                            problems.append(
                                f"sarpro_spark/{rel}:{ln} F.broadcast({m.group(1)}...) "
                                f"names SF-scaling relation {hit.group(0)!r} — "
                                "unbroadcastable by construction (driver OOM at scale); "
                                "remove the hint and let AQE pick the join"
                            )
                        elif key not in BROADCAST_ALLOW:
                            problems.append(
                                f"sarpro_spark/{rel}:{ln} F.broadcast({m.group(1)}...) "
                                "not in BROADCAST_ALLOW — review cardinality bound first"
                            )
    for key, entry in BROADCAST_ALLOW.items():
        if not (isinstance(entry, tuple) and len(entry) == 2):
            problems.append(f"BROADCAST_ALLOW entry {key} must be a (grain, reason) tuple")
            continue
        grain, reason = entry
        if grain not in GRAIN_CLASSES:
            problems.append(
                f"BROADCAST_ALLOW entry {key} grain {grain!r} not in {sorted(GRAIN_CLASSES)}"
            )
        hit = scaling.search(key[1]) or scaling.search(reason)
        if hit:
            problems.append(
                f"BROADCAST_ALLOW entry {key} names SF-scaling relation "
                f"{hit.group(0)!r} — such a review is invalid by construction"
            )
        if key not in seen:
            problems.append(
                f"BROADCAST_ALLOW entry {key} matches no F.broadcast site — remove the stale review"
            )
    return problems


#: r14 (verdict item 4): every `.persist()` or `.cache()` site must be reviewed
#: here — grain (what bounds the cached bytes) + lifecycle (who releases the
#: blocks). Grain classes: "corpus-rows" = O(input rows) of NARROW columns
#: (ids/hashes/shingles — never decoded payloads); "pair-aggregate" =
#: O(surviving candidate pairs) — can exceed the corpus on adversarial
#: inputs; "bounded" = cardinality fixed by contract. Lifecycle: a site
#: whose consumers all complete during query CONSTRUCTION must unpersist
#: inline ("released"); a site feeding the RETURNED lazy plan cannot
#: (the action happens in the caller) and is "query-lifetime" — the bench
#: clears the catalog cache between lines, and a long-lived session
#: releases them via spark.catalog.clearCache().
PERSIST_GRAINS = {"corpus-rows", "pair-aggregate", "bounded"}
PERSIST_ALLOW: dict[tuple[str, str], tuple[str, str]] = {
    ("operators/kernel.py", "q16"): (
        "corpus-rows",
        "query-lifetime: per-pixel quantized frame feeds both the extent "
        "aggregate and the rescale join of the returned plan; recompute = "
        "the pandas kernel twice",
    ),
    ("llm/imagehash.py", "h"): (
        "corpus-rows",
        "query-lifetime: ids+hashes only (~100 B/row; decoded pixels never "
        "persist) feeding both banded-join sides (r13 entry)",
    ),
    ("llm/audiohash.py", "h"): (
        "corpus-rows",
        "query-lifetime: ids+fingerprints only, both banded-join sides",
    ),
    ("llm/videohash.py", "h"): (
        "corpus-rows",
        "query-lifetime: ids+frame hashes only, banded join + frame-vote "
        "aggregate",
    ),
    ("llm/substring.py", "anchors"): (
        "corpus-rows",
        "query-lifetime: (id, pos, gram-hash) anchors feeding the gram-df "
        "aggregate and the cap join",
    ),
    ("llm/substring.py", "ok"): (
        "corpus-rows",
        "query-lifetime: capped anchors feeding both self-join sides",
    ),
    ("llm/substring.py", "spans"): (
        "corpus-rows",
        "query-lifetime: matched spans feeding both sides of the interval "
        "union in the removal variant",
    ),
    ("llm/setjoin.py", "tok"): (
        "corpus-rows",
        "query-lifetime: distinct (id, shingle) stream feeding the df "
        "aggregate, rank join and verify set arrays (r13 entry)",
    ),
    ("llm/setjoin.py", "pfx"): (
        "corpus-rows",
        "query-lifetime: prefix slice of the shingle stream, both "
        "self-join sides",
    ),
    ("llm/setjoin.py", "ranked"): (
        "corpus-rows",
        "query-lifetime: ranked shingles feeding the prefix slice and the "
        "telemetry aggregate",
    ),
    ("llm/setjoin.py", "pairstats"): (
        "pair-aggregate",
        "query-lifetime: O(surviving prefix pairs) — on an adversarial "
        "low-vocabulary corpus this is the largest relation in the query "
        "(verdict r13 item 2). Bound review: DataFrame persist stores "
        "compressed COLUMNAR batches at MEMORY_AND_DISK, so overflow "
        "spills to local disk instead of OOMing, and the relation is 7 "
        "narrow columns (2 ids + 5 longs) — no payload bytes. The "
        "prefix-filter size gate (size_ok) caps the blowup the same way "
        "the verify join's cost is capped; acceptable at the 100 TB "
        "design point, re-reviewed r14",
    ),
    ("llm/classifier.py", "feats"): (
        "corpus-rows",
        "released: unpersisted after the training loop's last collect",
    ),
    ("llm/similarity.py", "slices"): (
        "corpus-rows",
        "released: unpersisted after the (eager) PQ training loop (r14)",
    ),
    ("frames.py", "out"): (
        "corpus-rows",
        "query-lifetime: the synthetic band frame (product_id, row, col, vv, "
        "vh — five narrow numeric columns per pixel), memoized per (session, "
        "sf_dir) and shared by the raster queries; bench.py and the tools "
        "release it between lines with catalog clearCache() plus "
        "frames._BAND_FRAME_CACHE.clear()",
    ),
    ("queries_relational.py", "bloom"): (
        "bounded",
        "query-lifetime: Bloom filter words, m_bits/32 rows fixed by "
        "_BLOOM_CERT_M; read by every hash probe's broadcast join in the "
        "returned plan",
    ),
    ("queries_raster.py", "wide"): (
        "corpus-rows",
        "query-lifetime: per-pixel u8 wide frame (ids + two u8 bands) that "
        "the A8 floor union and final compose of the returned plan read 3x",
    ),
    ("queries_raster.py", "u8"): (
        "corpus-rows",
        "query-lifetime: per-pixel kernel u8 output shared by the dims "
        "aggregate and the fused gather of the returned plan",
    ),
}


def _persist_site_name(node, parents) -> str:
    """Key of a persist/cache call: its nearest enclosing assignment target,
    else its enclosing function (``<module>`` at top level)."""
    while node in parents:
        node = parents[node]
        if isinstance(node, ast.Assign):
            return ast.unparse(node.targets[0])
        if isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            return ast.unparse(node.target)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return node.name
    return "<module>"


def audit_persist_sites() -> list[str]:
    """Static persist gate (r14, verdict item 4): parse every module, find
    each ``.persist(...)``/``.cache()`` call in any statement context
    (assignment, bare expression, return, argument), and require a reviewed
    (grain, lifecycle) entry in PERSIST_ALLOW keyed by the call's nearest
    assignment target, else its enclosing function — so a new cache cannot
    land without stating what bounds it and who releases it. Stale
    allowlist entries fail too (they would silently bless a
    reintroduction)."""
    problems: list[str] = []
    seen: set[tuple[str, str]] = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            parents = {
                child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    continue
                key = (rel, _persist_site_name(node, parents))
                seen.add(key)
                if key not in PERSIST_ALLOW:
                    problems.append(
                        f"sarpro_spark/{rel}:{node.lineno} .{node.func.attr}() in "
                        f"{key[1]!r} not in PERSIST_ALLOW — review the "
                        "cached grain and lifecycle first"
                    )
    for key, entry in PERSIST_ALLOW.items():
        if not (isinstance(entry, tuple) and len(entry) == 2):
            problems.append(f"PERSIST_ALLOW entry {key} must be a (grain, reason) tuple")
            continue
        grain, reason = entry
        if grain not in PERSIST_GRAINS:
            problems.append(
                f"PERSIST_ALLOW entry {key} grain {grain!r} not in {sorted(PERSIST_GRAINS)}"
            )
        if not reason.startswith(("query-lifetime", "released")):
            problems.append(
                f"PERSIST_ALLOW entry {key} reason must state the lifecycle "
                "(start with 'query-lifetime:' or 'released:')"
            )
        if key not in seen:
            problems.append(f"PERSIST_ALLOW entry {key} is stale (no such site)")
    return problems


def main() -> int:
    names = sys.argv[1:] or list(AUDITS)
    bcast_problems = audit_broadcast_sites()
    if bcast_problems:
        for p in bcast_problems:
            print(f"✗ broadcast-gate: {p}")
        if not sys.argv[1:]:
            print(f"\nPLAN AUDIT FAILED (broadcast gate: {len(bcast_problems)})")
            return 1
    elif not sys.argv[1:]:
        print("✓ broadcast-gate: all F.broadcast sites reviewed bounded")
    persist_problems = audit_persist_sites()
    if persist_problems:
        for p in persist_problems:
            print(f"✗ persist-gate: {p}")
        if not sys.argv[1:]:
            print(f"\nPLAN AUDIT FAILED (persist gate: {len(persist_problems)})")
            return 1
    elif not sys.argv[1:]:
        print("✓ persist-gate: all .persist/.cache sites reviewed (grain + lifecycle)")
    # static planning: AQE hides codegen ids / finalizes lazily, and the
    # audit is about the designed plan shape, not runtime re-planning
    spark = build_session("explain_audit", extra_conf={"spark.sql.adaptive.enabled": "false"})
    qs = spark_queries()
    # r10 (r9 verdict item 5): 93 serial explains were the slowest gate
    # after the oracle. Plan construction + explainString are py4j/JVM
    # work that releases the GIL, so a thread pool parallelizes them
    # cleanly against the one session; checks still evaluate in the
    # original deterministic order below. band_frame is pre-warmed so
    # racing raster queries don't each materialize the shared cache.
    from concurrent.futures import ThreadPoolExecutor

    from sarpro_spark import frames as _frames

    audited = [n for n in names if AUDITS.get(n) is not None]
    if audited:
        try:
            _frames.band_frame(spark, SF).count()
        except Exception:
            pass  # non-raster-only subsets may not need (or have) the fixture

    def _plans(name: str):
        try:
            df = qs[name](spark, SF)
            qe = df._jdf.queryExecution()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            simple = df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
            return plan, simple
        except Exception as exc:  # surfaced as an audit failure, not a crash
            return None, f"explain raised: {exc!r}"

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(audited)))) as pool:
        plan_by_name = dict(zip(audited, pool.map(_plans, audited)))
    # flake-proofing: any explain that failed inside the pool is retried
    # ONCE serially — a real plan problem reproduces, a concurrency
    # artifact (shared-state race in query construction) does not, and a
    # gate must never fail on the artifact
    for name, (plan, simple) in list(plan_by_name.items()):
        if plan is None:
            plan_by_name[name] = _plans(name)

    failures = []
    for name in names:
        spec = AUDITS.get(name)
        if spec is None:
            print(f"  {name}: no audit spec")
            continue
        plan, simple = plan_by_name[name]
        if plan is None:
            failures.append((name, [simple]))
            print(f"✗ {name}: {simple}")
            continue
        problems = singlepart_window_problems(simple)
        if spec.get("codegen"):
            # JVM fast path: fused codegen span, or a columnar cache scan for
            # cached-frame consumers (the real anti-goal — Python in the row
            # path — is covered by the BatchEvalPython forbid)
            if "codegen id :" not in plan and "InMemoryTableScan" not in plan:
                problems.append("no WholeStageCodegen span")
        for s in spec.get("require", []):
            if s not in plan:
                problems.append(f"missing {s!r}")
        for s in spec.get("forbid", []):
            if s in plan:
                problems.append(f"forbidden {s!r} present")
        schemas = " ".join(scan_read_schemas(plan))
        for col in spec.get("schema_excludes", []):
            if col in schemas:
                problems.append(f"scan reads unneeded column {col!r} (pruning failed)")
        if spec.get("no_exchange_after_last_generate"):
            if plan.rfind("Exchange") > plan.rfind("Generate"):
                problems.append("Exchange after the last Generate (cell-grain shuffle)")
        if problems:
            failures.append((name, problems))
            print(f"✗ {name}: {'; '.join(problems)}")
        else:
            print(f"✓ {name}")
    print()
    if failures:
        print(f"PLAN AUDIT FAILED for {len(failures)}/{len(names)}")
        return 1
    print(f"PLAN AUDIT OK for {len(names)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
