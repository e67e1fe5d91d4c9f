"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with the noop sink (full computation, no collect /
serialization cost), timed individually after a warm-up of the session.

Flags: --wide adds the non-headline operator set (the headline total
stays r1-comparable without it); --calibrate runs ONLY the two frozen
host probes (~10 s, no queries) — see BASELINE.md "Host-drift
calibration" for how to read calibration_sec / calibration_io_sec.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collimate_spark.operators import all_queries  # noqa: E402
from collimate_spark.scratch import clear_scratch  # noqa: E402
from collimate_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: covers scan/agg/join/window/dedup/similarity/text/events.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "join_left_outer",
    "asof_join_events_orders",
    "json_extract_events",
    "tumbling_window_agg",
    "sessionization_gap",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "text_quality_metrics",
    "doc_fingerprint",
]

# Wider coverage measured per-round and recorded in BASELINE.md; kept out
# of the headline set so round-over-round totals stay comparable to the
# round-1 baseline. Run `python bench.py --wide` to include them.
EXTRA_QUERIES = [
    "range_join_events_orders",
    "dedup_embedding_cosine",
    "ann_ivf_topk",
    "text_pii_scrub",
    "pack_sequences",
    "decontaminate_ngram",
    # round 3
    "q21_waiting_suppliers",
    "cohort_retention",
    "hypertable_rollup",
    "bm25_search",
    "shard_export_assignment",
    "quality_filter_pipeline",
    "curate_corpus",
    "multimodal_audio_features",
    "salted_join_hot_key",
    "asof_join_forward",
    "dedup_survivor_best_quality",
    "lm_perplexity_score",
    "embedding_cluster_cohesion",
    "ohlc_bars",
    "time_weighted_average",
    # round 3, second wave
    "rolling_median_value",
    "ewma_value",
    "anomaly_zscore",
    "markov_transitions",
    "scd2_user_segments",
    "merge_upsert_orders",
    "winsorize_stats",
    "skyline_suppliers",
    "ivm_incremental_agg",
    "triangle_participation",
    "pagerank_copurchase",
    "collocation_pmi",
    "zipf_slope",
    "char_entropy",
    "weighted_sample_documents",
    "chi2_event_value",
    "embedding_gram_matrix",
    "kmeans_lloyd_clusters",
    "hll_sketch_partitioned",
    "top_event_paths",
    "market_basket_rules",
    "corr_matrix_lineitem",
    "embedding_dim_stats",
    "session_window_agg",
    "yoy_revenue_growth",
    # round 3, third wave
    "regr_price_trend",
    "rfm_segmentation",
    "pareto_revenue_share",
    "heavy_hitters_words",
    "cusum_changepoints",
    "chunk_documents",
    "domain_mix_temperature",
    "ann_pq_topk",
    "multimodal_video_features",
    "inverted_index_postings",
    "pit_join_scd2",
    "join_null_safe",
    "quantile_sketch_value",
    "udtf_parse_props",
    "set_overlap_join_prefix",
    "bfs_distances",
    "price_histogram",
    "k_anonymity_report",
    "entity_resolution_customers",
    "multimodal_image_resize",
    "multimodal_frame_sample",
    "grouped_agg_gini",
    "sliding_distinct_users",
    "ann_ivfpq_topk",
    "ann_range_search",
    "grouped_arrow_profile",
    "table_profile_lineitem",
    "benford_first_digit",
    "embedding_jl_projection",
    "set_ops_all",
    "psi_price_drift",
    "countmin_word_frequencies",
    "union_by_name_evolution",
    "variant_props_stats",
    "xml_roundtrip_stats",
    "collated_group_count",
    "listagg_supplier_names",
    "approx_top_k_words",
    "try_functions_safety",
    "map_hof_functions",
    "conversion_time_quantiles",
    "bitmap_distinct_counts",
    "hll_native_distinct",
    "session_window_dynamic_gap",
    "rollup_grouping_id",
    "agg_percentile_disc",
    "agg_mode_deterministic",
    "asof_join_nearest",
    # round 3, ninth wave
    "kaplan_meier_retention",
    "ab_test_welch",
    "mad_outliers",
    "bloom_prefilter_join",
    "geo_radius_join_grid",
    "referential_integrity_report",
    "attribution_multitouch",
    "bottomk_sample_per_group",
    "zorder_cluster_stats",
    "fifo_allocation",
    "gdpr_erasure_audit",
    "dow_seasonality",
    "acf_daily_events",
    "train_val_test_split",
    "join_skew_diagnostics",
    "bpe_merge_candidates",
    "longest_daily_streak",
    "approx_percentile_error",
    "lang_id_confusion",
    "corpus_pipeline_funnel",
    "bootstrap_mean_ci",
    "concurrent_sessions_timeline",
    "new_vs_returning_daily",
    "mutual_information_value",
    "ingest_typed_profile",
    "agg_approx_distinct",
    "ann_lsh_topk",
    "multimodal_features",
    "multimodal_image_features",
    "winnow_fingerprint_pairs",
    "dedup_containment",
    "block_dedup_stats",
    "hll_intersection_users",
    "order_total_reconciliation",
    "partition_advisor_orders",
    "encoding_advisor_lineitem",
    "multimodal_image_dhash_pairs",
    "multimodal_audio_fingerprint_pairs",
    "multimodal_video_scene_cuts",
    "kcore_membership",
    "degree_assortativity",
    # round 5: last two window queries previously outside the wide set
    "agg_boolean_counting",
    "window_distribution_ranks",
    # round 6: window re-verification capstone previously un-benched
    "dedup_connected_components",
    # round 7: r1/r2-vintage window re-verifications (VERDICT r6 #1)
    "q2_cheapest_supplier",
    "q4_order_priority",
    "q7_nation_volume",
    "q11_important_parts",
    "q12_shipmode_priority",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q22_idle_rich_customers",
    "agg_argmax",
    "agg_cube",
    "agg_distinct",
    "agg_grouping_sets",
    "agg_stats",
    "agg_percentile",
    "scalar_conditional",
    "scalar_date_funcs",
    "scalar_math_funcs",
    "scalar_string_funcs",
    "set_ops",
    "sort_topk",
    "subquery_exists",
    "unpivot_lineitem",
    "join_full_outer",
    "join_theta_inequality",
    # round 8: r2/r3/r4-vintage window re-verifications (VERDICT r7 #3 —
    # every driver-window query must have a bench row)
    "join_anti",
    "join_cross",
    "join_semi",
    "sliding_window_agg",
    "window_lag_lead",
    "array_agg_sorted",
    "array_functions",
    "data_quality_report",
    "dedup_ngram_jaccard",
    "embedding_quantize_int8",
    "funnel_conversion",
    "fuzzy_name_match",
    "interpolate_missing_values",
    "lang_id_heuristic",
    "map_functions",
    "multimodal_metadata",
    "pandas_udf_scalar",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q20_excess_shippers",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "repetition_metrics",
    "snapshot_diff",
    "stratified_sample_documents",
    "text_length_histogram",
    "tfidf_top_terms",
    "udtf_tokenize",
    # grouped_zscore is the DELIBERATE applyInPandas Arrow-round-trip
    # demo (per-group overhead over ~100k tiny groups is what its row
    # measures); grouped_zscore_native is the production JVM window plan
    # for the same output — read the pair together (r7 VERDICT #6).
    "grouped_zscore",
    "grouped_zscore_native",
    # round 8 mid-round additions (in the r8 driver window)
    "semdedup_prune",
    "dup_span_coverage",
    "date_spine_fill",
    "pivot_event_counts",
    "window_range_frame",
    "window_rank_dense_ntile",
]


def bench_calibration(spark) -> float:
    """Constant-work CPU host-speed probe (VERDICT r11 #4): a fixed
    JVM-only fold over spark.range(2**27) — no IO, no Python workers, no
    shuffle — whose definition NEVER changes across rounds. Its value in
    BENCH_r{N}.json is a function of host CPU state, so any reader can
    normalize round-over-round query drift without a judge re-bench:
    ratio = calibration_rN / calibration_r13 rescales query rows across
    host states (r3 and r11 both burned a judge A/B proving uniform
    artifact inflation was host drift).

    HISTORY (VERDICT r12 #1): the r12 expression, ``sum(xxhash64(id))``,
    deterministically overflowed LongType under Spark 4's default ANSI
    mode — summing 2**27 near-uniform signed 64-bit hashes overflows with
    certainty — so every artifact through r12 recorded ``null``. The
    ``pmod(..., 1_000_000_007)`` fold below bounds the sum at
    2**27 × (1e9+6) ≈ 1.3e17 ≪ 2**63: same work (range + xxhash64 +
    one-row agg), overflow-free. No artifact ever carried a value from
    the old expression, so this redefinition is the series origin.
    Runs BEFORE the query set (ADVICE r12): host state, not a JVM warmed
    and memory-pressured by 200 queries. Timed min-of-3 like the
    headline set. DO NOT EDIT the expression from r13 on; a changed
    calibration is worthless."""
    times = []
    for _ in range(3):
        t0 = time.time()
        spark.range(1 << 27).selectExpr(
            "sum(pmod(xxhash64(id), 1000000007)) AS s"
        ).collect()
        times.append(time.time() - t0)
    return round(min(times), 3)


IO_PROBE_BYTES = 256 << 20  # frozen: 256 MiB, same device as the data
IO_PROBE_CHUNK = 4 << 20  # 4 MiB aligned reads


def bench_calibration_io() -> float:
    """Constant-work IO host-speed probe (VERDICT r12 #5). The r12 perf
    story hinged on the box's READ path decaying 129→6 MB/s under
    sustained load — invisible to the CPU-only fold above. This probe
    sequentially reads a pinned 256 MiB file on the same ext4 device as
    the test data with O_DIRECT (bypasses the page cache, so every pass
    hits the device path), min-of-3, pure Python — no JVM, no Spark.
    Healthy box ≈ 0.2-0.3 s/pass (~1 GB/s burst); the r12 degraded
    state (6 MB/s) would show ~40 s.
    Read it with the CPU row: CPU flat + IO inflated ⇒ the r12 failure
    mode (scan-heavy rows drift, compute rows don't). Falls back to
    fadvise(DONTNEED) + buffered read where O_DIRECT is unsupported.
    DO NOT EDIT size/chunk; a changed probe is worthless."""
    import mmap

    path = os.path.join(tempfile.gettempdir(), "bench_io_probe_256m.bin")
    if not (os.path.exists(path) and os.path.getsize(path) == IO_PROBE_BYTES):
        with open(path, "wb") as f:
            block = os.urandom(1 << 20)
            for _ in range(IO_PROBE_BYTES >> 20):
                f.write(block)
            f.flush()
            os.fsync(f.fileno())
    times = []
    buf = mmap.mmap(-1, IO_PROBE_CHUNK)  # page-aligned, O_DIRECT-safe
    for _ in range(3):
        t0 = time.time()
        try:
            fd = os.open(path, os.O_RDONLY | os.O_DIRECT)
        except (AttributeError, OSError):
            fd = os.open(path, os.O_RDONLY)
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
        try:
            while os.readv(fd, [buf]) > 0:
                pass
        finally:
            os.close(fd)
        times.append(time.time() - t0)
    return round(min(times), 3)


def bench_ingest(spark, runs_out: list | None = None) -> float:
    """The reference's own task: CSV → typed columnar store. Exports
    lineitem at the bench SF to CSV once (cached in /tmp, not timed), then
    times profile+apply+parquet-write end-to-end. ``runs_out``, if given,
    receives the individual run times (run 1 = the cold pass)."""
    import tempfile

    from collimate_spark.ingest import ingest, to_columnar

    sf_tag = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    csv_dir = os.path.join(tempfile.gettempdir(), f"bench_csv_{sf_tag}")
    marker = os.path.join(csv_dir, "_READY")
    if not os.path.exists(marker):
        src = os.path.join(SF_DIR, "lineitem.parquet")
        src_bytes = (
            sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(src)
                for f in fs
            )
            if os.path.isdir(src)
            else os.path.getsize(src)
        )
        li = spark.read.parquet(src)
        w = li.selectExpr(
            "*", "date_format(l_shipdate, 'yyyy-MM-dd') AS ship_iso"
        ).drop("l_shipdate")
        # Size-gated export recipe: a decade-scale lineitem (600M rows ≈
        # 70 GB raw CSV) doesn't fit a sweep box uncompressed, so above
        # 500 MB of source parquet the export switches to MANY medium
        # .gz parts (gzip is non-splittable; 64 parts keeps the timed
        # scan wide — the exact guidance in ingest.py's format notes).
        # Bench SFs keep the original 8-part uncompressed layout so the
        # headline ingest number stays comparable across rounds.
        if src_bytes > (500 << 20):
            w = w.repartition(64)
            w.write.mode("overwrite").option("header", True).option(
                "compression", "gzip"
            ).csv(csv_dir)
        else:
            w.coalesce(8).write.mode("overwrite").option("header", True).csv(csv_dir)
        open(marker, "w").close()
    # Spark's csv() writes part files without .csv extension handling via
    # read_raw's extension dispatch — point ingest at the directory with
    # explicit csv part files. Min of 3 full passes, the SAME min-of-3
    # methodology as the headline queries (run 1 pays whole-stage-codegen
    # compile of the ~140-expression profile aggregate; r10 fresh-JVM
    # re-measures spread 2.3-3.3 s at min-of-2 — this row needs the same
    # host-noise robustness as the rest of the headline set).
    from collimate_spark.ingest import apply_manifest, profile

    times = []
    for _ in range(3):
        t0 = time.time()
        raw = (
            spark.read.option("header", True)
            .option("ignoreLeadingWhiteSpace", True)
            .option("ignoreTrailingWhiteSpace", True)
            .csv(csv_dir)
        )
        manifest = profile(spark, raw, parse_dates=True)
        typed = apply_manifest(raw, manifest)
        out = os.path.join(tempfile.gettempdir(), f"bench_ingest_out_{sf_tag}")
        to_columnar(typed, out, manifest, write_manifest=True)
        times.append(time.time() - t0)
    if runs_out is not None:
        runs_out.extend(times)
    return round(min(times), 3)


def _ann_train_probe(spark, queries) -> float:
    """Seconds to train the IVF quantizer + PQ codebooks from COLD caches
    at this SF (construction-time work the ann_ivf/pq/ivfpq rows exclude —
    they run with these memos warm, the documented offline-artifact
    posture). Leaves the caches warm, exactly as a bench run would."""
    from collimate_spark.functions import fast_vec

    fast_vec._QUANTIZER_CACHE.clear()
    fast_vec._PQ_CACHE.clear()
    t0 = time.time()
    queries["ann_ivf_topk"](spark, SF_DIR)
    queries["ann_pq_topk"](spark, SF_DIR)
    dt = round(time.time() - t0, 3)
    clear_scratch()
    return dt


STREAM_ROWS_N = 500_000  # fixed bounded input for the streaming rows
STREAM_N_USERS = 5_000


def _stage_stream_input(spark) -> tuple[str, str]:
    """Write the two fixed synthetic stream inputs (events, orders) once
    per box (cached in /tmp, untimed — the bench_ingest CSV pattern).
    Deterministic: pure functions of ``id``. The cache directory is keyed
    on the size constants, so changing them never reuses stale inputs."""
    from pyspark.sql import functions as F

    base = os.path.join(
        tempfile.gettempdir(),
        f"bench_stream_src_{STREAM_ROWS_N}_{STREAM_N_USERS}",
    )
    ev_dir = os.path.join(base, "events")
    od_dir = os.path.join(base, "orders")
    marker = os.path.join(base, "_READY")
    if not os.path.exists(marker):
        epoch = 1704067200  # 2024-01-01 00:00:00 UTC
        ev = spark.range(STREAM_ROWS_N).select(
            # 25% duplicate event_ids so the dedup row has real work
            (F.col("id") % (STREAM_ROWS_N * 3 // 4)).alias("event_id"),
            F.timestamp_seconds(F.lit(epoch) + F.col("id") % 86400).alias("ts"),
            (F.col("id") % STREAM_N_USERS).alias("user_id"),
            (F.col("id") % 100).cast("double").alias("value"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("cart"), F.lit("buy")),
                (F.col("id") % 4 + 1).cast("int"),
            ).alias("event_type"),
        )
        ev.repartition(8).write.mode("overwrite").parquet(ev_dir)
        od = spark.range(STREAM_ROWS_N // 5).select(
            (F.col("id") % STREAM_N_USERS).alias("o_user"),
            F.timestamp_seconds(F.lit(epoch) + F.col("id") % 86400).alias("o_ts"),
            (F.col("id") % 500).cast("double").alias("o_amount"),
        )
        od.repartition(4).write.mode("overwrite").parquet(od_dir)
        open(marker, "w").close()
    return ev_dir, od_dir


def bench_streaming(spark, cold: dict) -> dict[str, float]:
    """Bounded micro-bench rows for the streaming pipelines (--wide only,
    VERDICT r13 #8): fixed-row-count file-source streams, availableNow
    trigger, noop streaming sink, min-of-2 (cold run recorded like every
    other row). Each run gets a FRESH checkpoint so no state is reused
    across runs."""
    import uuid

    from collimate_spark.streaming import pipeline as sp

    ev_dir, od_dir = _stage_stream_input(spark)
    ev_schema = spark.read.parquet(ev_dir).schema
    od_schema = spark.read.parquet(od_dir).schema

    def ev_stream():
        return spark.readStream.schema(ev_schema).parquet(ev_dir)

    def od_stream():
        return spark.readStream.schema(od_schema).parquet(od_dir)

    pipelines = {
        "streaming_windowed_counts": lambda: sp.windowed_counts(ev_stream()),
        "streaming_sessionized": lambda: sp.sessionized(ev_stream()),
        "streaming_dedup": lambda: sp.deduped_stream(ev_stream(), ["event_id"]),
        "streaming_user_running_stats": lambda: sp.user_running_stats(ev_stream()),
        "streaming_stream_stream_join": lambda: sp.stream_stream_join(
            ev_stream(), od_stream()
        ),
    }
    out: dict[str, float] = {}
    ck_base = os.path.join(tempfile.gettempdir(), "bench_stream_ck")
    for name, build in pipelines.items():
        times = []
        for _ in range(2):
            ck = os.path.join(ck_base, f"{name}_{uuid.uuid4().hex[:8]}")
            df = build()
            t0 = time.time()
            q = (
                df.writeStream.format("noop")
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            times.append(time.time() - t0)
        out[name] = round(min(times), 3)
        cold[name] = round(times[0], 3)
    return out


def calibrate_only() -> None:
    """`python bench.py --calibrate`: just the two host probes (~10 s),
    one JSON line — a quick host-state check before/after a bench or
    judge re-bench, without running any query. Samples each probe twice
    (IO, CPU, CPU, IO) so a drift arriving DURING the 10 s shows."""
    out: dict = {}
    out["calibration_io_sec"] = bench_calibration_io()
    spark = get_session("collimate_spark_calibrate")
    out["calibration_sec"] = bench_calibration(spark)
    out["calibration_post_sec"] = bench_calibration(spark)
    out["calibration_io_post_sec"] = bench_calibration_io()
    print(json.dumps(out))


def main() -> None:
    if "--calibrate" in sys.argv:
        calibrate_only()
        return
    bench_set = list(BENCH_QUERIES)
    if "--wide" in sys.argv:
        bench_set += EXTRA_QUERIES
    errors: dict[str, str] = {}

    # Host-speed calibrations run FIRST (ADVICE r12): before the query
    # set they measure HOST state; after it they'd also measure 200
    # queries' worth of accumulated JVM/session state. IO probe before
    # the JVM even starts; CPU probe right after session-up, before the
    # warm-up query touches any data.
    try:
        calibration_io = bench_calibration_io()
    except Exception:
        calibration_io = None
        errors["_calibration_io"] = traceback.format_exc(limit=3)

    spark = get_session("collimate_spark_bench")

    try:
        calibration = bench_calibration(spark)
    except Exception:
        calibration = None
        errors["_calibration"] = traceback.format_exc(limit=3)

    queries = all_queries()

    # warm-up: JVM + parquet footer caches, one tiny action
    queries["q6_forecast_revenue"](spark, SF_DIR).count()

    # Two timed runs per query, report the min: the first run pays one-time
    # whole-stage-codegen compilation + Python-worker startup (~0.5-1s of
    # constant cost that vanishes at cluster scale); steady-state is the
    # number comparable across engines.
    # Per-query fault isolation: one raising query must cost one red row,
    # never the round's entire perf artifact (round-2 lesson).
    results: dict[str, float] = {}
    # Run-1 times per query (VERDICT r13 #2): clear_scratch() runs in the
    # per-QUERY finally below, so run 1 of each query is the scratch-COLD
    # pipeline (it also pays one-time codegen compile) and runs 2..N reuse
    # the caches run 1 built. `queries` (the min) stays the r1-comparable
    # series; `queries_cold` makes the warm-path accounting explicit so a
    # cache-based win can be read against the cold pipeline it replaced.
    cold: dict[str, float] = {}

    # The ingest row runs FIRST (VERDICT r13 #5): at the END of a bench it
    # inherited 60 queries' worth of page-cache/session churn and swung
    # 2.5-10.4 s across otherwise-quiet runs; right after warm-up it
    # measures the pipeline, not the session's history. Same min-of-3
    # methodology, same row name — only the position changed.
    try:
        ing_runs: list[float] = []
        results["ingest_csv_to_columnar"] = bench_ingest(spark, runs_out=ing_runs)
        cold["ingest_csv_to_columnar"] = round(ing_runs[0], 3)
    except Exception:
        errors["ingest_csv_to_columnar"] = traceback.format_exc(limit=3)

    for name in bench_set:
        # 3 runs for the r1-comparable headline set (host-noise robustness:
        # min-of-3 discards a neighbor burst), 2 for the wide extras.
        n_runs = 3 if name in BENCH_QUERIES else 2
        try:
            times = []
            for _ in range(n_runs):
                df = queries[name](spark, SF_DIR)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            results[name] = round(min(times), 3)
            cold[name] = round(times[0], 3)
        except Exception:
            errors[name] = traceback.format_exc(limit=3)
        finally:
            # operators register their small multiply-referenced cached
            # frames with collimate_spark.scratch; each bench invocation
            # builds fresh frames, so earlier queries' blocks are garbage
            # — release them between queries so a --wide sweep (200+
            # queries, one session) doesn't accumulate spilled blocks for
            # the session lifetime. clear_scratch() is scoped to operator
            # frames (and exercises the public helper); no cache is
            # shared across queries (catalog.py never caches), so
            # steady-state timings are unaffected.
            clear_scratch()

    if "--wide" in sys.argv:
        # Streaming pipelines get bench rows only in the --wide sidecar
        # (VERDICT r13 #8): bounded input (fixed row count staged once,
        # untimed), availableNow trigger, noop streaming sink, min-of-2.
        # The headline set and its total are untouched.
        try:
            stream_rows = bench_streaming(spark, cold)
            results.update(stream_rows)
        except Exception:
            errors["_streaming"] = traceback.format_exc(limit=3)

    # ANN training-cost disclosure (VERDICT r13 #7): ivf/pq/ivfpq/lsh rows
    # time the QUERY with the quantizer/codebook caches warm — training is
    # a persisted offline artifact in production (BASELINE.md). This field
    # makes the excluded cost visible: seconds to train the IVF quantizer
    # + PQ codebooks from cold caches at this SF. Diagnostic only; lives
    # OUTSIDE `queries`.
    try:
        payload_ann_train = _ann_train_probe(spark, queries)
    except Exception:
        payload_ann_train = None
        errors["_ann_train"] = traceback.format_exc(limit=3)

    # Both calibrations (taken above, pre-queries) land OUTSIDE `results`
    # so the headline total stays comparable to the r1 baseline (they
    # measure the host, not the engine). See the bench_calibration /
    # bench_calibration_io docstrings + BASELINE.md.
    #
    # A second sample of each AFTER the query set ("in both positions",
    # ADVICE r12) separates sustained host pressure (pre ≈ post, both
    # inflated — the r12 signature) from a transient burst or drift that
    # arrived mid-run (pre ≠ post). The PRE values are the normalization
    # series; the post values are diagnostic only.
    try:
        calibration_post = bench_calibration(spark)
    except Exception:
        calibration_post = None
        errors["_calibration_post"] = traceback.format_exc(limit=3)
    try:
        calibration_io_post = bench_calibration_io()
    except Exception:
        calibration_io_post = None
        errors["_calibration_io_post"] = traceback.format_exc(limit=3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload: dict = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        # Run-1 (scratch-cold + codegen-compile) time per row; `queries`
        # (the min) remains THE series — see BASELINE.md "Cold vs warm
        # accounting". Dropped from stdout before anything else if the
        # one-line budget is tight; always present in bench_full.json.
        "queries_cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration_sec": calibration,
        "calibration_io_sec": calibration_io,
        "calibration_post_sec": calibration_post,
        "calibration_io_post_sec": calibration_io_post,
        "ann_train_sec": payload_ann_train,
    }
    if errors:
        payload["errors"] = errors
    history = _load_history()
    if history:
        # Totals only on stdout: the driver's artifact keeps just the
        # LAST 2000 stdout chars, and round 5 proved that per-query
        # history grows the payload line past that window, truncating
        # the headline `value` out of the official record. Per-query
        # history remains available to readers in the BENCH_r*.json
        # artifacts themselves (which _load_history reads).
        payload["history_totals"] = {k: v["total"] for k, v in history.items()}
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    # One-line contract: stdout carries exactly ONE JSON line, sized to
    # fit the driver's ~2000-char tail capture with headroom for trailing
    # log noise. TAIL-BUDGET FRAGILITY (VERDICT r12 #7): anything the
    # JVM prints to stdout AFTER this line (log4j ERROR lines from a
    # late failure — the broken r12 calibration did exactly this)
    # competes with the payload for that 2000-char window; keep every
    # fallible step ABOVE this point and let per-step try/except route
    # diagnostics into payload["errors"], never raw stdout.
    # Printing the full payload AND a compact fallback would
    # leave a first-JSON-line parser reading the truncation-prone big
    # line (ADVICE r6) — so when oversized, the full payload goes to a
    # sidecar file and only the compact line hits stdout.
    print(_stdout_line(payload, sidecar))


STDOUT_LINE_BUDGET = 1900  # driver tail capture is ~2000 chars


def _stdout_line(payload: dict, sidecar: str) -> str:
    """The one JSON line bench.py prints. Diagnostic-only fields are shed
    to fit STDOUT_LINE_BUDGET (see ``_shed_for_stdout``), so `queries` —
    the per-row series — never leaves stdout except in the oversized
    --wide case, where a compact summary line stands in.
    Whenever the printed line lacks anything the payload has, the FULL
    payload is written to ``sidecar`` first, so no field is ever lost."""
    stdout_payload = _shed_for_stdout(payload)
    line = json.dumps(stdout_payload)
    oversized = len(line) > STDOUT_LINE_BUDGET
    if oversized or stdout_payload != payload:
        with open(sidecar, "w") as f:
            f.write(json.dumps(payload) + "\n")
    if not oversized:
        return line
    return json.dumps(
        {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "sf": payload["sf"],
            "calibration_sec": payload["calibration_sec"],
            "calibration_io_sec": payload["calibration_io_sec"],
            "n_queries": len(payload["queries"]),
            "n_errors": len(payload.get("errors", {})),
            "full_payload": os.path.basename(sidecar),
        }
    )


def _shed_for_stdout(payload: dict) -> dict:
    """Fit the payload to the one-line stdout budget by shedding
    diagnostic-only fields in a fixed order (history_totals first, then
    queries_cold). `queries` — the driver's per-row series — is never
    shed; an oversized result after shedding falls back to the compact
    line in main() with the full payload in bench_full.json."""
    out = dict(payload)
    for shed in ("history_totals", "queries_cold"):
        if len(json.dumps(out)) <= STDOUT_LINE_BUDGET:
            break
        out.pop(shed, None)
    return out


def _load_history() -> dict:
    """Per-query numbers from prior rounds' driver artifacts
    (BENCH_r{N}.json beside this script), so a reader can separate host
    variance from real regressions without BASELINE.md archaeology.
    Rounds whose bench errored (rc != 0) contribute nothing."""
    import glob
    import re

    out: dict[str, dict] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for p in sorted(glob.glob(os.path.join(root, "BENCH_r*.json"))):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            art = json.load(open(p))
        except (OSError, json.JSONDecodeError):
            continue
        if art.get("rc", 0) not in (0, None):
            continue  # bench errored that round; partials would mislead
        parsed = art.get("parsed") or art  # driver wraps; accept raw too
        queries = parsed.get("queries") if isinstance(parsed, dict) else None
        if queries:
            out[f"r{int(m.group(1))}"] = {
                "total": parsed.get("value"),
                "queries": queries,
            }
    return out


if __name__ == "__main__":
    main()
