"""Plan-regression tests: assert the physical plans Catalyst produces are
the ones a 100 TB deployment needs — filters pushed to the Parquet scan,
column pruning in ReadSchema, broadcast joins for dims, TakeOrderedAndProject
for global top-k (no full sort). A passing correctness suite with a
regressed plan is still a failure at scale; these tests pin the plans."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from collimate_spark.catalog import load_table
from collimate_spark.plans import plan_features
from collimate_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    sort_topk,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema and "l_returnflag" in read_schema


def test_q1_wholestage_codegen(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE reveals the final plan (and codegen spans) post-run
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan form
    assert "*(" in plan  # agg pipeline stays JVM-compiled


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q5_star_join_broadcasts(spark, sf_dir):
    plan = _plan(q5_local_supplier_volume(spark, sf_dir))
    # every dim join (customer/supplier/nation/region) is broadcast; the
    # only shuffle exchanges are for the fact-fact join + final agg/sort
    assert plan.count("BroadcastHashJoin") >= 4


def test_sort_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(sort_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition heap, not full sort


def test_q8_star_join_all_broadcast(spark, sf_dir):
    """Q8's six dim joins must all be broadcast hash joins — a single
    sort-merge join in a star pattern is a plan regression."""
    from collimate_spark.operators.tpch_ext import q8_market_share

    plan = _plan(q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_asof_join_partitions_on_composite_key(spark, sf_dir):
    """The as-of window must shuffle on (bucket, gkey) — a bucket-only
    key caps parallelism at 10 and lets partitions grow unboundedly with
    data volume. Forced day grain is the 100 TB shape (month collapsed
    this dataset's one-month event stream to 10 partitions — the r8
    sweep's 5.5× slope); hashpartitioning on both columns is the scale
    contract in EITHER grain."""
    from collimate_spark.operators.joins import asof_join_events_orders

    for grain in (True, False):
        plan = _plan(asof_join_events_orders(spark, sf_dir, day_grain=grain))
        assert "hashpartitioning(bucket" in plan and "gkey" in plan.split("hashpartitioning(bucket", 1)[1][:80]


def test_asof_join_grain_gate_and_equivalence(spark, sf_dir):
    """The month-vs-day granularity gate (VERDICT r9 #1): bench-scale
    inputs sit under the ``_ASOF_DAY_MIN_BYTES`` (8 MiB) bytes floor so
    the gate picks MONTH with zero jobs, and the two grains are
    result-identical — the gate may only ever trade time, never
    answers."""
    from collimate_spark.operators.joins import (
        _auto_asof_day_grain,
        asof_join_events_orders,
    )
    from collimate_spark.catalog import load_table

    assert _auto_asof_day_grain(load_table(spark, "events", sf_dir)) is False
    month = asof_join_events_orders(spark, sf_dir, day_grain=False).collect()
    day = asof_join_events_orders(spark, sf_dir, day_grain=True).collect()
    assert month == day and len(month) > 0


def test_range_join_partitions_on_composite_key(spark, sf_dir):
    """The range join must hash on (bucket, week) so fan-out per join key
    is bounded by one week of one bucket — as either a composite-key
    shuffle or (small inputs) a composite-key broadcast hash join; never
    an equi-join on bucket alone."""
    from collimate_spark.operators.joins import range_join_events_orders

    plan = _plan(range_join_events_orders(spark, sf_dir))
    join_lines = [l for l in plan.splitlines() if "HashJoin" in l]
    assert join_lines, "range join lost its hash-join shape"
    assert any("bucket" in l and "week" in l for l in join_lines), join_lines


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    """BM25's top-k must be TakeOrderedAndProject over the scored docs —
    a global row_number window would funnel the corpus through one
    partition."""
    from collimate_spark.operators.textstats import bm25_search

    plan = _plan(bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # df/avgdl scalars ride as broadcasts, never shuffle the scored side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_quality_filter_is_mapper_only(spark, sf_dir):
    """The keep/drop gate must stay a mapper-only pass: no Exchange before
    the final presentation sort."""
    from collimate_spark.operators.textstats import quality_filter_pipeline

    plan = _plan(quality_filter_pipeline(spark, sf_dir))
    # the ONLY exchange is the presentation sort's range partitioning —
    # no hash shuffle (no aggregation/join) anywhere in the gate
    assert plan.count("Exchange") == plan.count("Exchange rangepartitioning"), plan
    assert "hashpartitioning" not in plan, plan


def test_cohort_retention_single_fact_scan(spark, sf_dir):
    """Cohort retention must touch the events table exactly once — the
    join-back formulation re-executes the scan subtree per branch."""
    from collimate_spark.operators.events import cohort_retention

    plan = _formatted(cohort_retention(spark, sf_dir))
    # formatted output lists each scan once in the tree and once in the
    # details; two mentions == one physical scan
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_q21_single_fact_execution(spark, sf_dir):
    """q21's window form must execute the lineitem+orders subtree once:
    3 tables -> exactly 3 scans (6 formatted mentions)."""
    from collimate_spark.operators.tpch_ext import q21_waiting_suppliers

    plan = _formatted(q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("Scan parquet") == 6, plan.count("Scan parquet")


def test_projection_prunes_payload_column(spark, sf_dir):
    """Multimodal pattern: metadata-only queries must not read the payload
    bytes — selecting two scalar columns prunes `text` from ReadSchema."""
    docs = load_table(spark, "documents", sf_dir)
    plan = _formatted(docs.select("doc_id", "lang").filter(F.col("lang") == "en"))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_timeseries_windows_share_one_exchange(spark, sf_dir):
    """rolling median / EWMA / zscore each use ONE user_id window pass:
    exactly one hashpartitioning(user_id) exchange in the plan."""
    from collimate_spark.operators.timeseries import anomaly_zscore, rolling_median_value

    for q in (rolling_median_value, anomaly_zscore):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning(user_id") == 1, q.__name__


def test_skyline_reduces_before_dominance_join(spark, sf_dir):
    """The dominance self-join must run on the reduced per-supplier
    metric table (broadcast NLJ), never on the fact table."""
    from collimate_spark.operators.dataeng import skyline_suppliers

    plan = _plan(skyline_suppliers(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    # the join's streamed child is the reduced metric table (an aggregate
    # or its cached form), never the raw lineitem FileScan
    join_child = plan.split("BroadcastNestedLoopJoin", 1)[1].splitlines()[1]
    assert "FileScan" not in join_child


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    from collimate_spark.operators.dataeng import winsorize_stats

    plan = _plan(winsorize_stats(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds crossJoin


def test_winsorize_approx_mode_within_gk_bound(spark, sf_dir):
    """The at-scale approx mode: the approx [p01, p99] bounds must sit
    within the GK rank guarantee (rank error ≤ n / accuracy) of the
    exact ranks, and the winsorized means must track the exact mode
    closely (the clamp only moves the extreme 2% of mass)."""
    import pyspark.sql.functions as F

    from collimate_spark.catalog import load_table
    from collimate_spark.operators.dataeng import (
        APPROX_PCT_ACCURACY,
        winsorize_stats,
    )

    li = load_table(spark, "lineitem", sf_dir)
    n = li.count()
    pct = (
        f"approx_percentile(l_extendedprice, array(0.01, 0.99), {APPROX_PCT_ACCURACY})"
    )
    p01, p99 = li.agg(F.expr(pct)).first()[0]
    # exact rank of each approx bound; GK: |rank/n - q| ≤ 1/accuracy
    # (+1 row of slack for duplicate-value rank plateaus)
    tol = 1.0 / APPROX_PCT_ACCURACY + 1.0 / n
    for q, b in ((0.01, p01), (0.99, p99)):
        rank = li.filter(F.col("l_extendedprice") <= b).count()
        assert abs(rank / n - q) <= tol, (q, b, rank / n)

    exact = {r.l_returnflag: r.avg_wins for r in winsorize_stats(spark, sf_dir).collect()}
    approx = {
        r.l_returnflag: r.avg_wins
        for r in winsorize_stats(spark, sf_dir, approx=True).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(exact[k] - approx[k]) / abs(exact[k]) < 1e-3


def test_encoding_advisor_approx_mode_same_recommendations(spark, sf_dir):
    """approx=True (GK sketch over the full delta stream + HLL distinct)
    must reproduce the exact mode's encoding recommendation per column —
    the advisor's decisions sit far from the thresholds."""
    from collimate_spark.operators.dataeng import encoding_advisor_lineitem

    exact = {
        r.col_name: r.encoding
        for r in encoding_advisor_lineitem(spark, sf_dir).collect()
    }
    approx = {
        r.col_name: r.encoding
        for r in encoding_advisor_lineitem(spark, sf_dir, approx=True).collect()
    }
    assert exact == approx


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """Top-k by sample key must be TakeOrderedAndProject (per-partition
    local top-k + driver merge), never a global sort."""
    from collimate_spark.operators.curation import weighted_sample_documents

    plan = _plan(weighted_sample_documents(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_copurchase_edges_broadcast_part_dims(spark, sf_dir):
    from collimate_spark.operators.graph import _copurchase_edges

    plan = _plan(_copurchase_edges(spark, sf_dir))
    # both part-dim joins broadcast; the self-join co-partitions on order key
    assert plan.count("BroadcastHashJoin") >= 2


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be on and actively coalescing small shuffle partitions
    (AQEShuffleRead coalesced) — the runtime re-plan the engine relies on
    for skew and small-partition handling at scale."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", "l_linestatus")
        .count()
    )
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan
    # dedup_simhash's residual hot-bucket bound (a large exact-dup
    # cluster collides on one 32-bit block-pair key) relies on AQE's
    # skew-join split to keep that bucket off a single straggler task —
    # pin the default so a config regression is loud, not a silent
    # single-task stall at scale.
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_heavy_hitters_broadcasts_candidates(spark, sf_dir):
    """The exact-verify pass must join the corpus against a BROADCAST
    candidate set (<= 30 x #partitions rows) — a shuffle join here would
    shuffle the full exploded token stream at 100 TB."""
    from collimate_spark.operators.stats import heavy_hitters_words

    plan = _plan(heavy_hitters_words(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_rfm_single_fact_scan_and_broadcast_max(spark, sf_dir):
    """RFM scans orders exactly ONCE: the per-customer aggregate is
    scratch-cached and the global max date folds from it (max of the
    per-customer maxes), entering as a broadcast 1-row join — never an
    un-partitioned window over fact rows, never a second fact scan."""
    from collimate_spark.operators.stats import rfm_segmentation

    df = rfm_segmentation(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the global max must read the cache, not parquet: exactly one
    # DISTINCT scan node id in the formatted plan (cache re-prints keep
    # the same node id; a real second scan would get its own)
    ids = set(re.findall(r"\((\d+)\) Scan parquet", _formatted(df)))
    assert len(ids) == 1, ids
    assert "InMemoryTableScan" in plan


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is row-local: scan -> generate -> project, zero Exchange."""
    from collimate_spark.operators.curation import chunk_documents

    plan = _plan(chunk_documents(spark, sf_dir).drop("chunk_idx"))
    # the orderBy is presentation-only; strip it the same way the noop
    # sink would and assert the transform itself has no exchange
    from collimate_spark.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    import pyspark.sql.functions as FF
    from collimate_spark.functions import text as X
    from collimate_spark.operators.curation import CHUNK_STRIDE, CHUNK_TOKENS

    toks = X.tokens(FF.col("text"))
    starts = FF.sequence(FF.lit(0), FF.greatest(FF.size(toks) - 1, FF.lit(0)), FF.lit(CHUNK_STRIDE))
    core = docs.select("doc_id", toks.alias("toks"), FF.posexplode(starts).alias("chunk_idx", "start"))
    assert "Exchange" not in _plan(core)


def test_domain_mix_broadcasts_rates(spark, sf_dir):
    """The per-source keep-rates (|sources| rows) broadcast back onto the
    corpus scan; the corpus itself is never shuffled before the final agg."""
    from collimate_spark.operators.curation import domain_mix_temperature

    plan = _plan(domain_mix_temperature(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cusum_windows_share_one_exchange(spark, sf_dir):
    """All four window passes (mean/std/prefix-sum/running-min) partition
    by user_id — Catalyst must reuse ONE hashpartitioning exchange."""
    from collimate_spark.operators.stats import cusum_changepoints

    plan = _plan(cusum_changepoints(spark, sf_dir))
    n_user_exchanges = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "user_id" in line
    )
    assert n_user_exchanges == 1, f"expected 1 user_id exchange, saw {n_user_exchanges}"


def test_inverted_index_collapses_postings_map_side(spark, sf_dir):
    """r13 shape: the raw posting stream must NOT cross an exchange as
    individual rows — a partial (term, doc_id) aggregate collapses each
    doc's positions BEFORE the first shuffle, the ranking window sorts
    one row per (term, doc) rather than per posting, and df/tf are plain
    count/sum (no two-phase countDistinct partial over posting rows)."""
    from collimate_spark.operators.textstats import inverted_index_postings

    plan = _plan(inverted_index_postings(spark, sf_dir))
    header = plan.split("\n\n")[0].splitlines()
    # the tree header prints root first, leaves last: the bottom-most
    # Exchange is the FIRST executed, and the map-side partial aggregate
    # must sit BELOW it (between it and the Generate/Scan leaves)
    deepest_exchange = max(i for i, l in enumerate(header) if "Exchange" in l)
    below = "\n".join(header[deepest_exchange + 1 :])
    assert "Generate" in below, f"Generate not below the first Exchange:\n{plan}"
    assert "HashAggregate" in below, (
        f"expected a map-side partial aggregate before the first Exchange:\n{plan}"
    )
    assert "count(distinct" not in plan.lower(), "df must be a plain count now"


def test_pit_join_single_user_exchange(spark, sf_dir):
    """The PIT join is a carry-forward window over ONE per-user timeline;
    its plan must not contain an interval join (no BroadcastNestedLoop /
    cartesian) — that is the whole point of the rewrite."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    plan = _plan(pit_join_scd2(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_set_overlap_broadcasts_frequency_table(spark, sf_dir):
    """The vocabulary-sized token-frequency table must broadcast onto the
    exploded token stream (a shuffle join there would shuffle the corpus
    to join 31 rows)."""
    from collimate_spark.operators.dedup import set_overlap_join_prefix

    plan = _plan(set_overlap_join_prefix(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_price_histogram_broadcasts_bounds(spark, sf_dir):
    """The min/max bounds row joins via broadcast; only the final
    20-row aggregation shuffles."""
    from collimate_spark.operators.stats import price_histogram

    plan = _plan(price_histogram(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("FileScan") == 2  # bounds agg + bucketing pass


def test_plan_features_helper(spark, sf_dir):
    """plans.plan_features distills the counts the other tests grep for;
    sanity-check it against a known query shape (q1: one scan, one agg
    shuffle, pushed shipdate filter, codegen spans present)."""
    from collimate_spark.plans import assert_scalable, plan_features

    f = plan_features(q1_pricing_summary(spark, sf_dir))
    assert f["n_scans"] == 1
    assert f["n_exchanges"] >= 1
    assert any("l_shipdate" in p for p in f["pushed_filters"])
    assert not f["has_cartesian"]
    assert_scalable(
        q1_pricing_summary(spark, sf_dir),
        max_exchanges=2,
        allow_bnl=False,
        require_pushdown=True,
    )


def test_assert_scalable_catches_cartesian(spark, sf_dir):
    import pytest

    from collimate_spark.catalog import load_table
    from collimate_spark.plans import assert_scalable

    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    bad = n.crossJoin(r)
    with pytest.raises(AssertionError, match="Cartesian|BroadcastNestedLoop"):
        # crossJoin plans as BNL when one side broadcasts; forbid both
        assert_scalable(bad, allow_bnl=False)


def test_cached_frame_reuses_inmemory_scan(spark, sf_dir):
    """df.persist(): downstream consumers must read InMemoryTableScan,
    not re-scan parquet — the iterative-workload lever the CC / PageRank
    loops rely on (they use localCheckpoint, the stronger cousin)."""
    from collimate_spark.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 10).cache()
    try:
        li.count()  # materialize
        agg = li.groupBy("l_returnflag").count()
        plan = _plan(agg)
        assert "InMemoryTableScan" in plan
        # parquet scan happens once (inside the cached relation), not per query
        assert _plan(li.select("l_partkey")).count("FileScan") <= 1
    finally:
        li.unpersist()


# Queries whose construction EXECUTES Spark jobs (iterative label
# propagation, quantizer training, driver-side LUT building) — building
# their plan is not "free", so the blanket sweep skips them; each has its
# own dedicated plan/behavior tests elsewhere.
_SWEEP_SKIP = {
    "dedup_connected_components",
    "dedup_survivor_best_quality",
    "curate_corpus",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "kmeans_lloyd_clusters",
    "pagerank_copurchase",
    "bfs_distances",
    "entity_resolution_customers",
    "merge_upsert_orders",  # builds two filtered snapshots eagerly? cheap but join-heavy
    "winsorize_stats",
}

# The one sanctioned cartesian/BNL-between-real-tables: region × nation,
# both broadcast-sized by construction.
_CARTESIAN_OK = {"join_cross"}


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Blanket 100×-scale-up guard: build the physical plan of EVERY
    registered query and reject CartesianProduct outright (except the
    documented tiny join_cross). BroadcastNestedLoop joins are allowed
    only when one side is a 1-row bound/stat frame — approximated here by
    allowing BNL but never Cartesian; the per-operator tests pin the
    stricter shapes."""
    import __spark_entry__ as entrymod
    from collimate_spark.plans import plan_features

    offenders = []
    for name, fn in entrymod.queries().items():
        if name in _SWEEP_SKIP or name in _CARTESIAN_OK:
            continue
        f = plan_features(fn(spark, sf_dir))
        if f["has_cartesian"]:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_dynamic_session_single_user_exchange(spark, sf_dir):
    """session_window(ts, gap_expr) + the per-user re-aggregation must
    share one hashpartitioning(user_id) exchange chain — the native
    session operator sorts within the same shuffle, no second scan."""
    from collimate_spark.operators.events import session_window_dynamic_gap

    plan = _plan(session_window_dynamic_gap(spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_bitmap_distinct_two_level_agg(spark, sf_dir):
    """Bitmap distinct: (priority, bucket) bitmap build then per-priority
    reduce — exactly one fact scan and no expensive expand (unlike
    COUNT(DISTINCT) rewrites, which add an Expand node per distinct)."""
    from collimate_spark.operators.udx import bitmap_distinct_counts

    plan = _plan(bitmap_distinct_counts(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Expand" not in plan


def test_conversion_quantiles_no_self_join(spark, sf_dir):
    """Time-to-convert uses the forward-carry window, never an events
    self-join: exactly one scan of the fact table."""
    from collimate_spark.operators.events import conversion_time_quantiles

    plan = _plan(conversion_time_quantiles(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_bootstrap_single_scan_no_explode(spark, sf_dir):
    """The Poisson bootstrap's whole point: all 50 replicates ride ONE
    fact scan as conditional aggregates — no Generate (explode) of the
    fact rows, no join. The only row multiplication is the B-row stack
    over the already-aggregated grid."""
    from collimate_spark.operators.stats import bootstrap_mean_ci

    plan = _plan(bootstrap_mean_ci(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_pipeline_funnel_single_scan(spark, sf_dir):
    """quality → dedup → split composed as one plan must still read the
    corpus once: flags are narrow expressions, the dedup window is the
    only shuffle, the funnel is one aggregate."""
    from collimate_spark.operators.curation import corpus_pipeline_funnel

    plan = _plan(corpus_pipeline_funnel(spark, sf_dir))
    assert plan.count("FileScan") == 1


def test_join_skew_diagnostics_never_materializes_join(spark, sf_dir):
    """The diagnostics join runs on per-key COUNT frames (key-cardinality
    sized), never on the fact rows: two scans (one per side), and the
    only joins sit above aggregates."""
    from collimate_spark.operators.joins import join_skew_diagnostics
    from collimate_spark.plans import plan_features

    f = plan_features(join_skew_diagnostics(spark, sf_dir))
    assert f["n_scans"] == 2
    assert not f["has_cartesian"]


def test_bpe_pairs_single_scan_tiny_shuffle(spark, sf_dir):
    """BPE pair counting: one documents scan, one alphabet²-bounded
    groupBy — the two Generates (words, pairs) are row-local."""
    from collimate_spark.operators.textstats import bpe_merge_candidates

    plan = _plan(bpe_merge_candidates(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


SCAN_CEILINGS = {
    # cache/pass-reduction wins of round 4 — a regression that reintroduces
    # branch recompute shows up here as an extra unique FileScan
    "dedup_containment": 1,
    "dedup_ngram_jaccard": 1,
    "set_overlap_join_prefix": 1,
    "degree_assortativity": 4,
    "kaplan_meier_retention": 2,
    # 3 is MAD's floor (median, residual median, fence count) — the old
    # ceiling of 2 was an artifact of plan_features' global line dedup
    # collapsing the two genuinely-executing dev branches; the honest
    # cached-subtree-only dedup counts all three
    "mad_outliers": 3,
    "chi2_event_value": 1,
    "heavy_hitters_words": 3,
    "gdpr_erasure_audit": 6,
    "domain_mix_temperature": 2,
    "tfidf_top_terms": 2,
    "psi_price_drift": 4,
    # round-5 single-scan rewrites: basket-set pair generation, first-5
    # session pre-filter, hashed-block cache — one FileScan each
    "market_basket_rules": 1,
    "top_event_paths": 1,
    "block_dedup_stats": 1,
    # round-8 additions: one embeddings scan (cached frame feeds centroid
    # agg, both pair sides, and the member re-join); one documents scan
    # (aliased token frame feeds windows and the n_tokens join-back)
    "semdedup_prune": 1,
    "dup_span_coverage": 1,
}


@pytest.mark.parametrize("name", sorted(SCAN_CEILINGS))
def test_scan_ceiling_holds(spark, sf_dir, name):
    """Unique-FileScan ceilings for the operators whose fact re-scans were
    eliminated by caching tiny multiply-referenced frames or folding
    passes; plan_features dedupes cached-build re-prints, so the count is
    runtime-true."""
    import __spark_entry__ as entrymod

    # cached plans from earlier tests change which subtrees print as
    # InMemoryRelation — clear for a deterministic count
    spark.catalog.clearCache()
    f = plan_features(entrymod.queries()[name](spark, sf_dir))
    assert f["n_scans"] <= SCAN_CEILINGS[name], (
        f"{name}: {f['n_scans']} scans > ceiling {SCAN_CEILINGS[name]}"
    )


def test_kcore_matches_python_peeling(spark, sf_dir):
    """The Spark fixpoint peeling must equal pure-Python peeling on the
    collected edge list — every survivor, with its exact within-core
    degree, and the 3-core property itself (all degrees ≥ 3)."""
    from collections import defaultdict

    from collimate_spark.operators.graph import (
        KCORE_K,
        _copurchase_edges,
        kcore_membership,
    )

    got = {r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()}

    edges = {(r.x, r.y) for r in _copurchase_edges(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < KCORE_K:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    expected = {v: len(ns) for v, ns in adj.items() if ns}
    assert got == expected
    assert all(d >= KCORE_K for d in got.values())


def test_kcore_shuffle_fallback_identical(spark, sf_dir):
    """Broadcast disabled vs default planning: with every survivor-set
    semi join forced to shuffle, the 3-core must equal EXACTLY the one
    default planning produces."""
    from collimate_spark.operators.graph import kcore_membership

    baseline = {r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fallback = {
            r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fallback == baseline


def test_kcore_warns_when_round_cap_hit(spark):
    """A chain longer than KCORE_MAX_ROUNDS peels one end per round for
    k=2... but our k=3 peels a pure chain entirely in ~2 rounds, so to
    hit the cap we patch KCORE_MAX_ROUNDS to 0 iterations equivalent:
    set it to 1 on a graph needing ≥2 rounds, and require the
    RuntimeWarning fires."""
    import warnings as _w

    import collimate_spark.operators.graph as g

    # triangle core + a tail vertex: round 1 peels the tail (degree 1),
    # round 2 confirms fixpoint — with MAX_ROUNDS=1 the loop exits
    # unconverged and must warn
    rows = [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(rows, "x long, y long")
    orig_loader, orig_rounds = g._copurchase_edges, g.KCORE_MAX_ROUNDS
    g._copurchase_edges = lambda _spark, _sf: edges
    g.KCORE_MAX_ROUNDS = 1
    try:
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            g.kcore_membership(spark, "unused").collect()
        assert any(
            issubclass(w.category, RuntimeWarning) and "fixpoint" in str(w.message)
            for w in caught
        )
    finally:
        g._copurchase_edges = orig_loader
        g.KCORE_MAX_ROUNDS = orig_rounds


def test_pagerank_on_empty_graph_returns_no_rows(spark, monkeypatch):
    """An edgeless co-purchase graph has no vertices to rank: the query
    returns zero rows, as its oracle does, instead of dividing by N=0."""
    import collimate_spark.operators.graph as g

    empty = spark.createDataFrame([], "x long, y long")
    monkeypatch.setattr(g, "_copurchase_edges", lambda _spark, _sf: empty)
    out = g.pagerank_copurchase(spark, "unused")
    assert out.columns == ["node", "rank"]
    assert out.collect() == []


def test_gdpr_shuffle_fallback_identical(spark, sf_dir):
    """gdpr_erasure_audit with broadcast disabled vs default planning:
    the shuffle-join path for the fact-derived order-key set must
    produce EXACTLY the default plan's report."""
    from collimate_spark.operators.quality import gdpr_erasure_audit

    spark.catalog.clearCache()
    baseline = sorted(map(tuple, gdpr_erasure_audit(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    try:
        fallback = sorted(map(tuple, gdpr_erasure_audit(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fallback == baseline


def test_mad_outliers_approx_mode_within_gk_bound(spark, sf_dir):
    """approx=True swaps both grouped medians for GK sketches.
    approx_percentile returns an actual data value (no interpolation),
    so the guarantee to pin is RANK, not value: each approx median's
    rank within its group must sit within the GK bound of 0.5, the MAD
    likewise over residuals against that median, and the fence count may
    differ from exact only marginally."""
    import pandas as pd

    from collimate_spark.catalog import load_table
    from collimate_spark.operators.dataeng import APPROX_PCT_ACCURACY
    from collimate_spark.operators.stats import mad_outliers

    spark.catalog.clearCache()
    exact = {r.event_type: r for r in mad_outliers(spark, sf_dir).collect()}
    approx = {
        r.event_type: r for r in mad_outliers(spark, sf_dir, approx=True).collect()
    }
    assert exact.keys() == approx.keys()

    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_type", "value")
        .toPandas()
    )
    for k, grp in ev.groupby("event_type"):
        vals = grp["value"].dropna().to_numpy()
        n = len(vals)
        tol = 1.0 / APPROX_PCT_ACCURACY + 1.0 / n  # GK + rounding slack
        med = approx[k].median_value  # rounded to 4dp; ranks unaffected
        assert abs((vals <= med + 1e-4).sum() / n - 0.5) <= tol + 0.5 / n, k
        absdev = abs(vals - med)
        mad = approx[k].mad
        assert abs((absdev <= mad + 1e-3).sum() / n - 0.5) <= tol + 1.0 / n, k
        assert exact[k].n == approx[k].n
        # a rank-bounded median shift can only flip rows hugging the fence
        assert abs(exact[k].n_outliers - approx[k].n_outliers) <= max(
            2, int(0.01 * exact[k].n)
        )


def test_agg_percentile_disc_approx_rank_bound(spark, sf_dir):
    """approx=True swaps both percentile_disc buffers for GK sketches
    (O(accuracy) state per group instead of every value). GK returns an
    actual data value — the *disc* contract survives — so pin (1) that
    each approx result IS a member of its group, and (2) that its rank
    interval overlaps [q - ε, q + ε] for ε = 1/accuracy. With ties a
    value occupies a rank SPAN [#(<v)/n, #(≤v)/n]; the bound holds when
    that span intersects the tolerance band, not when the max rank does."""
    from collimate_spark.catalog import load_table
    from collimate_spark.operators.dataeng import APPROX_PCT_ACCURACY
    from collimate_spark.operators.grouped import agg_percentile_disc

    exact = {r.l_returnflag: r for r in agg_percentile_disc(spark, sf_dir).collect()}
    approx = {
        r.l_returnflag: r
        for r in agg_percentile_disc(spark, sf_dir, approx=True).collect()
    }
    assert exact.keys() == approx.keys()

    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    for k, grp in li.groupby("l_returnflag"):
        for col, field, q in (
            ("l_quantity", "p50_qty_disc", 0.5),
            ("l_extendedprice", "p90_price_disc", 0.9),
        ):
            vals = grp[col].dropna().to_numpy()
            n = len(vals)
            v = float(getattr(approx[k], field))
            assert (abs(vals - v) < 1e-9).any(), (k, field, "not a data value")
            tol = 1.0 / APPROX_PCT_ACCURACY + 1.0 / n
            lo_rank = (vals < v - 1e-9).sum() / n
            hi_rank = (vals <= v + 1e-9).sum() / n
            assert lo_rank <= q + tol and hi_rank >= q - tol, (k, field)


def test_conversion_time_quantiles_approx_mode_within_gk_bound(spark, sf_dir):
    """approx=True swaps p50/p90 for GK sketches. Recompute the per-user
    click→next-purchase delays in pandas (the oracle recurrence) and pin
    each approx quantile's RANK within its bucket to the GK bound —
    approx_percentile returns a real delay value, not an interpolation,
    so value-equality with exact mode is not the contract."""
    from collimate_spark.catalog import load_table
    from collimate_spark.operators.dataeng import APPROX_PCT_ACCURACY
    from collimate_spark.operators.events import conversion_time_quantiles

    exact = {
        r.user_bucket: r for r in conversion_time_quantiles(spark, sf_dir).collect()
    }
    approx = {
        r.user_bucket: r
        for r in conversion_time_quantiles(spark, sf_dir, approx=True).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert exact[k].n_conversions == approx[k].n_conversions
        assert exact[k].max_s == approx[k].max_s

    ev = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
    )
    ev = ev[ev.event_type.isin(["click", "purchase"])].sort_values(
        ["user_id", "ts", "event_id"]
    )
    delays: dict[int, list[float]] = {}
    for uid, grp in ev.groupby("user_id"):
        nxt = None
        for row in grp.iloc[::-1].itertuples():
            if row.event_type == "purchase":
                nxt = row.ts
            elif nxt is not None:
                delays.setdefault(int(uid) % 5, []).append(
                    (nxt - row.ts).total_seconds()
                )
    for k, ds in delays.items():
        n = len(ds)
        assert approx[k].n_conversions == n
        tol = 1.0 / APPROX_PCT_ACCURACY + 1.0 / n
        for q, field in ((0.5, "p50_s"), (0.9, "p90_s")):
            a = getattr(approx[k], field)  # rounded to 2dp
            rank = sum(1 for d in ds if d <= a + 0.006) / n
            assert abs(rank - q) <= tol + 1.0 / n, (k, field, a, rank)


@pytest.mark.parametrize(
    "name",
    [
        "asof_join_forward",
        "lm_perplexity_score",
        "set_overlap_join_prefix",
        "market_basket_rules",
        "dedup_ngram_jaccard",
        "dedup_containment",
    ],
)
def test_size_gated_broadcast_fallback_identical(spark, sf_dir, name):
    """Joins against fact-/vocab-/catalog-proportional frames, broadcast
    disabled vs default planning: the output with those joins forced to
    shuffle must match the default plan's — same contract as kcore's
    and gdpr's tests. Float columns compare within 1e-9, not bit-exact:
    broadcast vs shuffle joins can sum partials in a different order, so
    an avg-of-logs double may legitimately move ~1 ulp and flip a 4dp
    rounding boundary — that is summation-order noise, not a fallback
    semantics difference."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]

    def stable_sorted(rows):
        # Sort key rounds floats to the comparison tolerance's scale:
        # sorting on raw floats would let a ~1-ulp summation-order
        # difference reorder tied rows between the two runs and zip
        # misaligned pairs — exactly the flake the pytest.approx
        # compare below was added to avoid (ADVICE r6).
        def key(row):
            out = []
            for v in row:
                if v is None:
                    out.append((0, "", ""))
                elif isinstance(v, float):
                    # `or 0.0` collapses -0.0 → +0.0 before formatting
                    out.append((1, "f", f"{(round(v, 6) or 0.0):+.6f}"))
                else:
                    out.append((1, type(v).__name__, str(v)))
            return tuple(out)

        return sorted(map(tuple, rows), key=key)

    spark.catalog.clearCache()
    baseline = stable_sorted(q(spark, sf_dir).collect())
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    try:
        fallback = stable_sorted(q(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(fallback) == len(baseline)
    for got, want in zip(fallback, baseline):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            if isinstance(g, float) and isinstance(w, float):
                assert g == pytest.approx(w, rel=1e-9, abs=1e-9), name
            else:
                assert g == w, name


def test_runtime_lines_counting_rules():
    """Pin _runtime_lines' three rules on a synthetic toString plan:
    (1) lines under an InMemoryTableScan dedupe on content across ALL
    re-prints of the same cache build; (2) identical sibling subtrees
    OUTSIDE a cache count per occurrence (they really execute twice);
    (3) '== Initial Plan ==' sections drop wholesale, while the final
    plan's lines at the same gutter depth survive.

    Also pins the DOCUMENTED undercount caveat (plans.py docstring): a
    DIFFERENT cache ([z]) whose build shares line text with [x]'s build
    dedupes against it — cache identity is not text-recoverable (header
    expr-ids re-alias per reference; nested-AQE sections reset gutter
    depth), so counts are a lower bound on cache-build work."""
    from collimate_spark.plans import _runtime_lines

    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Union",
        "   :- HashAggregate A",
        "   :  +- FileScan parquet [shared]",          # uncached branch 1
        "   :- HashAggregate B",
        "   :  +- FileScan parquet [shared]",          # identical, executes again
        "   :- Filter f",
        "   :  +- InMemoryTableScan [x]",
        "   :        +- InMemoryRelation [x]",
        "   :              +- FileScan parquet [cached]",   # build print 1
        "   :- Project p",
        "   :  +- InMemoryTableScan [x]",
        "   :        +- InMemoryRelation [x]",
        "   :              +- FileScan parquet [cached]",   # re-print, same cache
        "   :              +- AdaptiveSparkPlan isFinalPlan=true",
        "   :                 +- == Final Plan ==",
        "   :                    ResultQueryStage 1",
        "   :                    +- FileScan parquet [final]",
        "   :                 +- == Initial Plan ==",
        "   :                    Exchange never-ran",
        "   :                    +- FileScan parquet [initial-only]",
        "   +- Sort s",
        "      +- InMemoryTableScan [z]",                   # DIFFERENT cache...
        "            +- InMemoryRelation [z]",
        "                  +- FileScan parquet [cached]",   # ...same leaf text
    ])
    lines = _runtime_lines(plan)
    scans = [l for l in lines if "FileScan" in l]
    # two real uncached executions + one cached build + one final-plan scan
    assert scans.count("FileScan parquet [shared]") == 2
    # the documented caveat: [z]'s build scan dedupes against [x]'s —
    # 2 would be the fully-honest count, 1 is the accepted lower bound
    assert scans.count("FileScan parquet [cached]") == 1
    assert scans.count("FileScan parquet [final]") == 1
    assert not any("initial-only" in l for l in lines)
    assert not any("never-ran" in l for l in lines)
    # all three InMemoryTableScan references themselves count (cache reads)
    assert sum(1 for l in lines if "InMemoryTableScan" in l) == 3


def test_window_range_frame_uses_incremental_frames(spark, sf_dir):
    """window_range_frame must stay in the prefix-difference form: every
    RangeFrame in the plan is UnboundedPreceding-lower-bounded (the one
    shape Spark's WindowExec maintains incrementally). A sliding
    [-5000, 5000] RangeFrame re-aggregates the whole frame per row —
    O(rows x frame_size), the 14.1s -> 1.1s round-7 find — so its
    reappearance is a quadratic-at-scale regression."""
    import re

    from collimate_spark.operators.windows import window_range_frame

    plan = window_range_frame(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    frames = re.findall(r"specifiedwindowframe\(RangeFrame, ([a-z$()]+)", plan)
    assert frames, "no RangeFrame found — operator shape changed?"
    assert all(f.startswith("unboundedpreceding") for f in frames), frames


def test_window_range_frame_auto_gate(spark, sf_dir, monkeypatch):
    """The two-level auto-select (VERDICT r8 directive #4): at bench scale
    the gate must short-circuit on file-size metadata (single-level, no
    extra job); with the thresholds forced down, the SAME call must take
    the two-level path and produce the identical result."""
    from collimate_spark.operators import windows as W

    auto_df = W.window_range_frame(spark, sf_dir)
    single = W.window_range_frame(spark, sf_dir, two_level=False)
    # bench-scale auto = single-level: plans match feature-for-feature
    assert auto_df.schema == single.schema
    assert "unionbyname" not in auto_df._jdf.queryExecution().analyzed().toString().lower()

    monkeypatch.setattr(W, "_TWO_LEVEL_MIN_BYTES", 1)
    monkeypatch.setattr(W, "_TWO_LEVEL_ROWS_PER_PARTITION", 10)
    forced = W.window_range_frame(spark, sf_dir)
    assert "Union" in forced._jdf.queryExecution().analyzed().toString()
    assert forced.collect() == single.collect()


def _parquet_bytes_per_row(path: str) -> float:
    import os

    import pyarrow.parquet as pq

    return os.path.getsize(path) / pq.ParquetFile(path).metadata.num_rows


def _csv_bytes_per_row(parquet_path: str, tmpdir: str) -> float:
    """Measured bytes/row of the CSV text layout the ingest gate actually
    sizes (its floor compares RAW SOURCE bytes, not parquet)."""
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path)
    out = os.path.join(tmpdir, "layout_probe.csv")
    tbl.to_pandas().head(5000).to_csv(out, index=False)
    return os.path.getsize(out) / min(5000, tbl.num_rows)


def _size_gate_specs():
    """Every bytes-floor size gate in the engine, with its crossover
    contract — ADD NEW GATES HERE (VERDICT r10 #6: a gate cannot ship
    without a measured-layout calibration row). Fields: gate name,
    floor bytes, crossover rows, measured-layout bytes/row source,
    direction ('max': worst-case rows at the floor must sit UNDER the
    crossover, i.e. the cheap path is still safe at the floor; 'min':
    rows at the floor must sit OVER the crossover, i.e. the expensive
    path only engages where it pays)."""
    from collimate_spark.ingest import (
        AUTO_SAMPLE_MIN_BYTES,
        MIN_SCAN_COUNT,
        PROFILE_SAMPLE_FRACTION,
    )
    from collimate_spark.operators.joins import _ASOF_DAY_MIN_BYTES, _ASOF_ROWS_PER_KEY
    from collimate_spark.operators.windows import (
        _TWO_LEVEL_MIN_BYTES,
        _TWO_LEVEL_ROWS_PER_PARTITION,
    )

    return [
        # VERDICT r9 #7: the 64 MiB two-level floor encodes a MEASURED
        # ~15 B/row orders layout; worst case = every row in one status
        # partition. A codec/schema change that shrinks bytes/row must
        # fail HERE, not silently stay single-level at two-level scale
        # (the 256 MiB guess lesson).
        (
            "two_level_window",
            _TWO_LEVEL_MIN_BYTES,
            _TWO_LEVEL_ROWS_PER_PARTITION,
            ("parquet", "/root/testdata/sf0.1/orders.parquet"),
            "max",
        ),
        # As-of grain gate: worst case = every event in one (bucket,
        # month) key at the measured events bytes/row.
        (
            "asof_day_grain",
            _ASOF_DAY_MIN_BYTES,
            _ASOF_ROWS_PER_KEY,
            ("parquet", "/root/testdata/sf0.1/events.parquet"),
            "max",
        ),
        # Ingest auto-sample floor: the SMALLEST input that triggers
        # sampling must still hand the profiler >= MIN_SCAN_COUNT rows
        # after the 0.3 fraction (the reference's max(1000, 0.3N)
        # budget floor, index.js:220-221) — a text-layout change that
        # fattens rows must fail HERE, not silently sample a
        # few-hundred-row file.
        (
            "ingest_auto_sample",
            AUTO_SAMPLE_MIN_BYTES,
            MIN_SCAN_COUNT / PROFILE_SAMPLE_FRACTION,
            ("csv", "/root/testdata/sf0.1/orders.parquet"),
            "min",
        ),
    ]


@pytest.mark.parametrize(
    "gate,floor_bytes,crossover_rows,layout,direction",
    _size_gate_specs(),
    ids=[s[0] for s in _size_gate_specs()],
)
def test_size_gate_floor_calibrated_for_measured_layout(
    gate, floor_bytes, crossover_rows, layout, direction, tmp_path
):
    """Shared calibration contract for EVERY bytes-floor size gate
    (VERDICT r10 #6): floors encode measured layouts, so each gate's
    floor is re-checked against a freshly measured bytes/row every run.
    New size gates must register in _size_gate_specs()."""
    kind, path = layout
    bpr = (
        _parquet_bytes_per_row(path)
        if kind == "parquet"
        else _csv_bytes_per_row(path, str(tmp_path))
    )
    rows_at_floor = floor_bytes / bpr
    if direction == "max":
        assert rows_at_floor <= crossover_rows, (
            f"{gate}: floor {floor_bytes >> 20} MiB at measured {bpr:.1f} B/row "
            f"admits {int(rows_at_floor)} rows — above the {crossover_rows:.0f} "
            f"crossover; recalibrate the floor"
        )
    else:
        assert rows_at_floor >= crossover_rows, (
            f"{gate}: floor {floor_bytes >> 20} MiB at measured {bpr:.1f} B/row "
            f"admits only {int(rows_at_floor)} rows — below the "
            f"{crossover_rows:.0f} minimum; recalibrate the floor"
        )


# ---------------------------------------------------------------------------
# r13 structural pins: kernels and dimension-sized aggregates must execute
# once per query, not once per reference (cache re-prints keep their node
# id in the formatted plan; a real duplicate subtree gets its own).
#
# VERSION PIN (ADVICE r13): these regexes rely on EXPLAIN FORMATTED
# re-printing a cached/shared subtree under its ORIGINAL node id — true on
# Spark 4.1 (calibrated here) and 3.5, but an undocumented formatting
# artifact. If a Spark upgrade ever assigns fresh ids to re-printed
# subtrees, every count below inflates and these pins fail LOUDLY (never
# silently weaken). The companion InMemoryTableScan >= 2 assertions below
# check the cache is actually read from both references, independent of
# the id-reuse behavior.


def _distinct_scan_nodes(df) -> set:
    return set(re.findall(r"\((\d+)\) Scan parquet", _formatted(df)))


def _distinct_kernel_nodes(df) -> set:
    return set(re.findall(r"\((\d+)\) MapInPandas", _formatted(df)))


def _imts_mentions(df) -> int:
    """InMemoryTableScan mentions in the TREE section — one per cache
    reference, so >= 2 proves both references read the cache."""
    return _plan(df).count("InMemoryTableScan")


def test_multimodal_pair_kernels_run_once(spark, sf_dir):
    """The banded self-joins must read ONE cached hash relation — uncached,
    the synthesize->decode->hash Python chain ran once per join side."""
    from collimate_spark.operators.multimodal import (
        multimodal_audio_fingerprint_pairs,
        multimodal_image_dhash_pairs,
    )

    for fn in (multimodal_image_dhash_pairs, multimodal_audio_fingerprint_pairs):
        df = fn(spark, sf_dir)
        # exactly one synth + one hash kernel node; both join sides read
        # the InMemoryRelation (>= 2 cache reads, ADVICE r13)
        assert len(_distinct_kernel_nodes(df)) == 2, fn.__name__
        assert _imts_mentions(df) >= 2, fn.__name__


def test_single_fact_scan_via_cached_aggregate(spark, sf_dir):
    """Queries whose dimension-sized intermediate is referenced twice must
    scan their fact table once per pass, not once per reference."""
    from collimate_spark.operators.stats import (
        heavy_hitters_words,
        kaplan_meier_retention,
        quantile_sketch_value,
    )
    from collimate_spark.operators.tpch_ext import q15_top_supplier

    # (query, max distinct parquet scan nodes)
    specs = [
        (q15_top_supplier, 2),  # lineitem once + supplier
        (kaplan_meier_retention, 1),  # events once; corpus max from cache
        (quantile_sketch_value, 2),  # sketch pass once + exact-audit pass
        (heavy_hitters_words, 2),  # MG sketch pass + exact-verify pass
    ]
    for fn, max_scans in specs:
        got = len(_distinct_scan_nodes(fn(spark, sf_dir)))
        assert got <= max_scans, f"{fn.__name__}: {got} > {max_scans}"


def test_pit_join_scd2_single_scan_no_aggregate(spark, sf_dir):
    """r14: the point-in-time probe derives BOTH union arms (segment
    starts + probes) from one events scan via the explode-roles device —
    the plan must show exactly one parquet scan, no aggregate (the old
    groupBy run-collapse is subsumed by the boundary-row identity), and
    both windows sharing one user_id exchange (1 hash exchange + the
    final orderBy's range exchange)."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    df = pit_join_scd2(spark, sf_dir)
    plan = _formatted(df)
    assert len(_distinct_scan_nodes(df)) == 1
    assert "HashAggregate" not in plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 2
