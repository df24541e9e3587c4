#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

The LAST stdout line is ONE compact JSON object:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``queries`` holds only the headline components (pipelines + 4 BI queries +
the split incremental-refresh keys), so the line stays well under any
tail-buffer limit — round 3 lost its BENCH record because the full ~60-key
per-query dict pushed the leading fields out of the driver's tail window.
The complete per-query timing dict is printed on an EARLIER stdout line
(``bench_detail``) and written to ``BENCH_DETAIL.json`` next to this script.

Noise discipline (r4 VERDICT item 5): every repeatable unit runs
``SPARK_GRAFT_BENCH_REPS`` times (default 3) in ONE session and reports the
MEDIAN; the headline also reports ``noise_band`` = (max-min)/median of the
per-rep headline totals, so a regression signal can be told from host-load
drift (r4's ±30-40% band swallowed 25 spurious "regressions"). One-time
costs (warehouse init, IVF index build, stream drain) are timed ONCE under
explicit ``*_init``/build keys and excluded from the repeated medians —
conflating them was r4 VERDICT item 6.

Workload (BASELINE.md plan): the full sales + supplier pipelines (bronze x8,
silver x3, gold x4 materialized through the warehouse, QC suite) — i.e. the
reference's daily/weekly jobs — plus the 4 README BI queries executed
against the materialized views. Query timings force full computation with a
noop sink (no driver collect).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from databricks_incremental_lakehouse_spark.pipelines import (  # noqa: E402
    LakehouseConfig,
    run_sales_analytics,
    run_supplier_analytics,
)
from databricks_incremental_lakehouse_spark.session import build_spark  # noqa: E402

# clamp: REPS=0 would run the whole warm-up then crash on median([]) at
# the very end with no tail line at all
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# Reference seconds for the fixed-work calibration probe (VERDICT r10 #4:
# round 10 spent a worktree A/B to prove a 21% headline move was machine
# drift, not code — this probe makes drift detection mechanical). The
# probe is deterministic CPU + one shuffle (hash agg over 20M synthetic
# rows), no I/O, no data dependence. The r11 three-run same-day A/B
# (BASELINE.md r11 closing band) validated it as a drift FLAG — a
# calibration_sec far from this reference means the window is
# contaminated and the headline should be re-run or worktree-A/B'd —
# but NOT as a linear scale factor: the probe is CPU-bound while the
# pipelines are parquet-I/O-mixed, so a 1.5x probe ratio corresponded to
# only ~1.05x of headline. The emitted JSON therefore carries the ratio,
# a contamination flag, and the caveat itself (calibration_note) — no
# normalized headline is emitted (ADVICE r11: a linear rescale would
# over-correct and misattribute real code moves).
CALIB_REF_SEC = 1.0


def _calibration_probe(spark) -> float:
    """Median seconds of the fixed-work microbench (run REPS times).
    bench runs it at session START and again at the END (the r11 same-day
    A/B caught the machine drifting DURING a ~20-minute run: in-run probe
    1.56 vs 1.38/1.19 around the adjacent run), and the headline
    normalizes by the median of both ends."""
    import statistics as _st
    import time as _t

    from pyspark.sql import functions as F

    def run() -> None:
        (
            spark.range(20_000_000)
            .select((F.col("id") * 2654435761 % 1000003).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("k"))
            .limit(5)
            .collect()
        )

    run()  # warm-up (codegen/plan compile)
    times = []
    for _ in range(REPS):
        t0 = _t.time()
        run()
        times.append(_t.time() - t0)
    return round(_st.median(times), 3)

# Registry queries timed under ext.* keys — module-level so
# scripts/latency_audit.py can import the ACTUAL benched set instead of
# grepping quoted strings out of this file.
EXT_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "sim_topk_bruteforce",
    "sim_topk_vectorized",
    "sim_topk_quantized",
    "sim_ivf_topk",
    "sim_range_search",
    "sim_knn_graph",
    "sim_bitext_mining",
    "sim_hyperplane_lsh",
    "text_stats",
    "text_langid",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "sketch_bloom_membership",
    "sketch_kmv_overlap",
    "sketch_hll_rollup_daily",
    "text_pii_scrub",
    "text_pii_report",
    "multimodal_feature_stats",
    "multimodal_frame_sample",
    "multimodal_phash_dedup",
    "multimodal_phash_search",
    "multimodal_resize",
    "events_markov_transitions",
    "events_tumbling_hourly",
    "events_sliding_windows",
    "events_session_windows",
    "events_deduped",
    "events_asof_join",
    "events_attribution_last_touch",
    "events_path_topk",
    "events_rolling_5min",
    "events_funnel",
    "events_funnel_aggjoin",
    "events_retention",
    "events_view_purchase_join",
    "scd2_user_tier_history",
    "scd2_point_in_time_purchases",
    "sketch_histogram_quantiles",
    "dedup_clusters",
    "graph_pagerank",
    "dedup_canonical_selection",
    "dedup_semantic",
    "sim_hard_negatives",
    "dedup_substring_spans",
    "dedup_substring_clean",
    "text_decontamination",
    "text_quality_gopher",
    "text_boilerplate_report",
    "sample_stratified",
    "sample_temperature",
    "sample_exact_k",
    "vocab_topk",
    "vocab_bpe_merges",
    "tokenize_bpe_apply",
    "tokenize_pack_ids",
    "text_tfidf_topterms",
    "search_bm25_topk",
    "text_length_quantiles",
    "text_unigram_logprob",
    "text_ccnet_buckets",
    "text_bigram_lm",
    "embedding_quantize",
    "pack_sequences",
    "text_chunk_overlap",
    "corpus_shard_assign",
    "corpus_token_budget_select",
    "corpus_mixture_weights",
    "corpus_split_assign",
    "corpus_curriculum_order",
    "corpus_curate_report",
    "vocab_pmi_topk",
    "bi_tpch_q1",
    "bi_tpch_q3",
    "bi_tpch_q5",
    "bi_tpch_q6",
    "bi_tpch_q10",
    "bi_tpch_q12",
    "bi_tpch_q14",
    "bi_tpch_q4",
    "bi_tpch_q13",
    "bi_tpch_q15",
    "bi_tpch_q17",
    "bi_tpch_q18",
    "bi_tpch_q7",
    "bi_tpch_q8",
    "bi_tpch_q9",
    "bi_tpch_q19",
    "bi_tpch_q22",
    "bi_tpch_q2",
    "bi_tpch_q11",
    "bi_tpch_q16",
    "bi_tpch_q20",
    "bi_tpch_q21",
    "qc_revenue_anomaly",
    "qc_revenue_anomaly_robust",
]

# registry queries timed OUTSIDE the ext loop: the four README BI keys
# (headline section, against materialized views) and the queries with
# one-time init/build memoization (dedicated *_init / steady-state keys)
OTHER_TIMED_QUERIES = [
    "bi_regional_revenue_1998",
    "bi_top_platinum_clv",
    "bi_strategic_suppliers",
    "bi_monthly_trend_series",
    "incr_monthly_trends_refresh",
    "incr_customer_orders_refresh",
    "sim_ivf_topk_indexed",
    "sim_ivf_append_search",
    "sim_ivf_search_calibrated",
    "maintenance_report",
    "sim_ivf_topk_quantized",
    "stream_user_totals",
    "stream_view_purchase_join",
    "stream_view_purchase_left_join",
    "stream_session_windows",
    "stream_tumbling_hourly",
    "stream_scd2_history",
    "stream_dedup_redelivery",
    "stream_attribution_last_touch",
    "sim_ivf_topk_pq",
    "incr_token_stats_update_only",
    "incr_bigram_stats_update_only",
    "incr_curate_report_update_only",
    "sim_ivf_pq_append_search",
    "dedup_minhash_append",
    "dedup_semantic_append",
    "incr_hll_distinct_update_only",
    "incr_cms_heavy_hitters_update_only",
    "graph_pagerank_update_only",
    "dedup_canonical_selection_update_only",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# The build/init once-keys in the MAIN pass's execution order — each key's
# precondition (which stores/warehouses are already warm when it runs) is
# created by the keys before it, so a replay must preserve this order.
# VERDICT r12 #2: a key that executes exactly once in a loaded session is
# unfalsifiable under drift (the r12 driver run read 36.1s for an IVF
# build the same tree measures at 5-8s), so bench re-pays this chain in
# SPARK_GRAFT_ONCE_REPEATS extra FRESH sessions and reports the median;
# all samples ship in BENCH_DETAIL. Stream-drain once keys are not
# replayed (single sample each).
ONCE_CHAIN: list[tuple[str, str]] = [
    ("once.incr_monthly_trends_refresh_init", "incr_monthly_trends_refresh"),
    ("once.incr_customer_orders_refresh_init", "incr_customer_orders_refresh"),
    ("once.incr_token_stats_init", "incr_token_stats_update_only"),
    ("once.incr_curate_rollup_init", "incr_curate_report_update_only"),
    ("once.sim_ivf_index_build_and_search", "sim_ivf_topk_indexed"),
    ("once.sim_ivf_append_build_ingest_and_search", "sim_ivf_append_search"),
    ("once.sim_ivf_pq_train_encode_and_search", "sim_ivf_topk_pq"),
    ("once.sim_ivf_pq_append_build_ingest_and_search", "sim_ivf_pq_append_search"),
    ("once.incr_hll_registers_init", "incr_hll_distinct_update_only"),
    ("once.incr_cms_counters_init", "incr_cms_heavy_hitters_update_only"),
    ("once.dedup_index_build_ingest_and_probe", "dedup_minhash_append"),
    ("once.dedup_semantic_index_build_ingest_and_probe", "dedup_semantic_append"),
    ("once.pair_index_build_and_pagerank", "graph_pagerank_update_only"),
]

# extra fresh-session replays of ONCE_CHAIN (0 disables; each costs about
# one chain's worth of build time at the bench SF)
ONCE_REPEATS = max(0, int(os.environ.get("SPARK_GRAFT_ONCE_REPEATS", "2")))

# cheap warmers replayed before the chain in each fresh session, mirroring
# the memo warmth the MAIN session's ext loop gives the chain (codegen,
# the k-means codebook via sim_ivf_topk, tokenization/shingle frames via
# text_stats/dedup_minhash_lsh/graph_pagerank) without re-running the
# whole ext loop (~9s total at sf0.1 vs minutes)
_ONCE_WARMERS = ("text_stats", "sim_ivf_topk", "dedup_minhash_lsh", "graph_pagerank")


def _repeat_once_chain(sf_dir: str) -> dict[str, float]:
    """Re-pay every ONCE_CHAIN key in one fresh session (same JVM —
    executor startup stays outside the timings via the same warm-up the
    main session gets). Every memo entry is keyed by session, so the new
    session starts cold; ``memo.clear()`` first releases the previous
    session's persisted blocks and temp stores."""
    from databricks_incremental_lakehouse_spark import memo as _memo
    from databricks_incremental_lakehouse_spark.registry import QUERIES

    spark = build_spark(app_name="dbx-lakehouse-bench-once")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    try:
        spark.range(1_000_000).select("id").summary("count").collect()
        with tempfile.TemporaryDirectory() as warm:
            spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.mode(
                "overwrite"
            ).parquet(os.path.join(warm, "w"))
        _memo.clear()
        for name in _ONCE_WARMERS:
            _noop(QUERIES[name](spark, sf_dir))
        for key, name in ONCE_CHAIN:
            t0 = time.time()
            _noop(QUERIES[name](spark, sf_dir))
            out[key] = round(time.time() - t0, 3)
    finally:
        spark.stop()
    return out


def run_headline_band(sess, sf_dir, record, headline_totals, reps=None) -> None:
    """``reps`` timed headline reps (+1 untimed warm rep) in ``sess``,
    recording per-key samples via ``record`` and appending per-rep
    totals to ``headline_totals``. Module-level so a contamination-
    flagged run can self-repeat the band in the fresh end-probe session
    before committing the number (VERDICT r12 #2), and so the second-
    session path is unit-testable."""
    from pyspark.sql import functions as F

    for _rep in range((REPS if reps is None else reps) + 1):
        warm = _rep == 0
        rep_total = 0.0
        with tempfile.TemporaryDirectory() as tmp:
            cfg = LakehouseConfig.from_env_file(
                sf_dir=sf_dir, warehouse_dir=os.path.join(tmp, "warehouse")
            )

            t0 = time.time()
            sales = run_sales_analytics(sess, cfg)
            sec = time.time() - t0
            if not warm:
                record("pipeline_sales", sec)
                rep_total += sec
                for stage, res in sales.items():
                    record(f"sales.{stage}", res["elapsed"])

            t0 = time.time()
            supplier = run_supplier_analytics(sess, cfg)
            sec = time.time() - t0
            if not warm:
                record("pipeline_supplier", sec)
                rep_total += sec
                for stage, res in supplier.items():
                    record(f"supplier.{stage}", res["elapsed"])

            # README BI queries over the materialized gold views
            clv = sess.read.parquet(
                cfg.table_path("views", "vw_customer_lifetime_value")
            )
            rbr = sess.read.parquet(
                cfg.table_path("views", "vw_revenue_by_region")
            )
            spf = sess.read.parquet(
                cfg.table_path("views", "vw_supplier_performance")
            )
            mst = sess.read.parquet(
                cfg.table_path("views", "vw_monthly_sales_trends")
            )
            bi = {
                "bi_regional_revenue_1998": lambda: _noop(
                    rbr.filter(F.col("order_year") == 1998)
                ),
                "bi_top_platinum_clv": lambda: _noop(
                    clv.filter(F.col("value_tier") == "Platinum")
                    .select(
                        "customer_name", "estimated_3yr_clv", "customer_segment"
                    )
                    .orderBy(F.col("estimated_3yr_clv").desc())
                    .limit(20)
                ),
                "bi_strategic_suppliers": lambda: _noop(
                    spf.filter(
                        F.col("supplier_tier") == "Tier 1 - Strategic"
                    ).select(
                        "supplier_name",
                        "supplier_region",
                        "performance_score",
                        "on_time_delivery_rate",
                    )
                ),
                "bi_monthly_trend_series": lambda: _noop(
                    mst.select(
                        "order_year",
                        "order_month",
                        "total_revenue",
                        "revenue_3mo_moving_avg",
                        "mom_revenue_growth_pct",
                    )
                ),
            }
            for name, fn in bi.items():
                t0 = time.time()
                fn()
                sec = time.time() - t0
                if not warm:
                    record(name, sec)
                    rep_total += sec
        if not warm:
            headline_totals.append(round(rep_total, 3))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = build_spark(app_name="dbx-lakehouse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # samples[key] -> list of per-rep seconds; medians reported at the end
    samples: dict[str, list[float]] = {}
    once: dict[str, float] = {}  # one-time costs (init/build/drain keys)

    def record(key: str, sec: float) -> None:
        samples.setdefault(key, []).append(round(sec, 3))

    # JVM/session warmup outside any stage timing, so the first pipeline
    # stage measures its own work rather than executor startup. The
    # range-summary warms codegen; the 5-row parquet round-trip warms the
    # parquet reader/writer + committer classes, which otherwise cost the
    # first extract stage ~5s of one-time class loading at any data size.
    t0 = time.time()
    spark.range(1_000_000).select("id").summary("count").collect()
    with tempfile.TemporaryDirectory() as warm:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(warm, "w"))
    once["session_warmup"] = round(time.time() - t0, 3)
    calib_start = _calibration_probe(spark)
    once["calibration_start_sec"] = calib_start

    from pyspark.sql import functions as F

    # Rep 0 is an UNTIMED warm-up: the first execution of each pipeline
    # plan pays one-time query compilation/codegen caching (measured 1.5x
    # slower than steady state at sf0.01), which is neither host noise nor
    # steady-state cost — including it would structurally inflate
    # noise_band past the <=15% regression bar it exists to enforce.
    headline_totals: list[float] = []

    run_headline_band(spark, sf_dir, record, headline_totals)

    # Extension operators (LLM-data + streaming-batch) — timed for the
    # record but kept out of the headline total so `value` stays comparable
    # across rounds (BASELINE.md). Median of REPS runs each; queries with
    # one-time init/build memoization are timed separately below.
    from databricks_incremental_lakehouse_spark.registry import QUERIES

    ext = EXT_QUERIES
    for name in ext:
        # one untimed warm-up per query, matching the headline loop's
        # convention (ADVICE r5: first execution pays ~1.5x one-time query
        # compile/codegen caching; without this, REPS=1 runs were pure
        # cold numbers inconsistent with the stated noise discipline)
        _noop(QUERIES[name](spark, sf_dir))
        for _rep in range(REPS):
            t0 = time.time()
            _noop(QUERIES[name](spark, sf_dir))
            record(f"ext.{name}", time.time() - t0)

    # One-time costs, explicitly keyed under the ``once.`` prefix (r4
    # VERDICT item 6: do not conflate warehouse/index/stream init with the
    # steady state the operator exists for; r5 VERDICT item 4/task 5: the
    # prefix — plus the ``one_time`` list in BENCH_DETAIL — lets a
    # round-over-round diff exclude setup-dominated keys mechanically
    # instead of misreading a key reclassification as a regression):
    # - once.incr_*_refresh_init: first-ever call pays the full warehouse
    #   build + replay-batch selection (measured-by-design) — timed ONCE.
    # - ext.incr_*_update_only: every later call re-applies the pinned
    #   50-order micro-batch against the cached warehouse — the
    #   steady-state number, median of REPS. (The batch is selected once
    #   and localCheckpoint-pinned in refresh._replay_batch, so these reps
    #   no longer carry the harness's two source scans.)
    t0 = time.time()
    _noop(QUERIES["incr_monthly_trends_refresh"](spark, sf_dir))
    once["once.incr_monthly_trends_refresh_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_monthly_trends_refresh"](spark, sf_dir))
        record("ext.incr_monthly_trends_update_only", time.time() - t0)

    t0 = time.time()
    _noop(QUERIES["incr_customer_orders_refresh"](spark, sf_dir))
    once["once.incr_customer_orders_refresh_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_customer_orders_refresh"](spark, sf_dir))
        record("ext.incr_customer_orders_update_only", time.time() - t0)

    # Maintained token statistics (r9): the first call initializes the
    # stats warehouse from the 90% base corpus (merge + change-feed
    # drain); later calls re-ingest the pinned 10% arrival batch — the
    # steady-state O(changes) maintenance cost a deployment pays per
    # micro-batch. Both registry queries share one warehouse, so the
    # bigram key never pays init.
    t0 = time.time()
    _noop(QUERIES["incr_token_stats_update_only"](spark, sf_dir))
    once["once.incr_token_stats_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_token_stats_update_only"](spark, sf_dir))
        record("ext.incr_token_stats_update_only", time.time() - t0)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_bigram_stats_update_only"](spark, sf_dir))
        record("ext.incr_bigram_stats_update_only", time.time() - t0)

    t0 = time.time()
    _noop(QUERIES["incr_curate_report_update_only"](spark, sf_dir))
    once["once.incr_curate_rollup_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_curate_report_update_only"](spark, sf_dir))
        record("ext.incr_curate_report_update_only", time.time() - t0)

    # Same isolation for the ANN index: first call builds + persists the
    # cl-partitioned cell store (shared by the plain and quantized
    # searches); later calls are the steady-state search-only cost.
    t0 = time.time()
    _noop(QUERIES["sim_ivf_topk_indexed"](spark, sf_dir))
    once["once.sim_ivf_index_build_and_search"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_topk_indexed"](spark, sf_dir))
        record("ext.sim_ivf_search_only", time.time() - t0)
    t0 = time.time()
    _noop(QUERIES["sim_ivf_append_search"](spark, sf_dir))
    once["once.sim_ivf_append_build_ingest_and_search"] = round(time.time() - t0, 3)
    for _ in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_append_search"](spark, sf_dir))
        record("ext.sim_ivf_append_search_only", time.time() - t0)
    # profile-guided serving face (r12): same store, width from the
    # store's own calibration — on this structureless corpus it keeps
    # 5/8 (the key records the policy's zero-overhead steady state; the
    # sqrt regime's 3x win is measured on the clustered corpora,
    # BASELINE.md)
    t0 = time.time()
    _noop(QUERIES["sim_ivf_topk_pq"](spark, sf_dir))
    once["once.sim_ivf_pq_train_encode_and_search"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_topk_pq"](spark, sf_dir))
        record("ext.sim_ivf_pq_search_only", time.time() - t0)
    t0 = time.time()
    _noop(QUERIES["sim_ivf_pq_append_search"](spark, sf_dir))
    once["once.sim_ivf_pq_append_build_ingest_and_search"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_pq_append_search"](spark, sf_dir))
        record("ext.sim_ivf_pq_append_search_only", time.time() - t0)

    # Maintained sketch warehouse (r10): first call initializes the HLL
    # register table from the base events; later calls re-fold the
    # arrival batch (idempotent max-merge) — the O(batch) sketch
    # maintenance a deployment pays per micro-batch.
    t0 = time.time()
    _noop(QUERIES["incr_hll_distinct_update_only"](spark, sf_dir))
    once["once.incr_hll_registers_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_hll_distinct_update_only"](spark, sf_dir))
        record("ext.incr_hll_distinct_update_only", time.time() - t0)
    # CMS counters fold the token warehouse's postings feed (shared with
    # the incr_token_stats keys above, so this never pays warehouse init)
    t0 = time.time()
    _noop(QUERIES["incr_cms_heavy_hitters_update_only"](spark, sf_dir))
    once["once.incr_cms_counters_init"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["incr_cms_heavy_hitters_update_only"](spark, sf_dir))
        record("ext.incr_cms_heavy_hitters_update_only", time.time() - t0)
    # the SERVING half alone (answer from maintained counter + token-stats
    # tables; no ingest, no fold) — the update_only key above times the
    # full maintenance cycle, so the sub-second serving claim is a
    # recorded number, not prose (VERDICT r10 #3)
    from databricks_incremental_lakehouse_spark.llmdata import incrsketch as _isk
    from databricks_incremental_lakehouse_spark.llmdata import incrstats as _ist

    _cms_root = _ist._warehouse_for(spark, sf_dir)  # warm from the keys above
    _noop(_isk.cms_heavy_hitters_answer(spark, _cms_root))  # untimed warm-up
    for _rep in range(REPS):
        t0 = time.time()
        _noop(_isk.cms_heavy_hitters_answer(spark, _cms_root))
        record("ext.incr_cms_heavy_hitters_answer_only", time.time() - t0)

    # Maintained near-dup index (r10): first call builds the bucketed
    # band store from the base corpus, appends the arrival batch's band
    # rows, and probes; later calls are the steady-state probe-only cost
    # (arrival bands are pinned, only the bucket-pruned join + candidate
    # verify re-run — the O(batch) dedup a deployment pays per ingest).
    t0 = time.time()
    _noop(QUERIES["dedup_minhash_append"](spark, sf_dir))
    once["once.dedup_index_build_ingest_and_probe"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["dedup_minhash_append"](spark, sf_dir))
        record("ext.dedup_minhash_append_probe", time.time() - t0)
    t0 = time.time()
    _noop(QUERIES["dedup_semantic_append"](spark, sf_dir))
    once["once.dedup_semantic_index_build_ingest_and_probe"] = round(
        time.time() - t0, 3
    )
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["dedup_semantic_append"](spark, sf_dir))
        record("ext.dedup_semantic_append_probe", time.time() - t0)
    # Maintained pagerank (r11): first call builds the shingle inverted
    # index + base edge list (one-time batch discovery); later calls are
    # the steady state — bucket-pruned arrival-pair probe + integer
    # fixed-point ranking over the maintained edge partition.
    t0 = time.time()
    _noop(QUERIES["graph_pagerank_update_only"](spark, sf_dir))
    once["once.pair_index_build_and_pagerank"] = round(time.time() - t0, 3)
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["graph_pagerank_update_only"](spark, sf_dir))
        record("ext.graph_pagerank_update_only", time.time() - t0)
    # canonical keeper from the same maintained stores; the untimed first
    # call builds the LSH/CC labels (lazy on first canonical-selection use),
    # so the timed reps measure the steady-state lookup + window
    _noop(QUERIES["dedup_canonical_selection_update_only"](spark, sf_dir))
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["dedup_canonical_selection_update_only"](spark, sf_dir))
        record("ext.dedup_canonical_update_only", time.time() - t0)

    # r12 serving/policy keys, placed AFTER the maintained-store section on
    # purpose: maintenance_report's first call triggers every session store
    # build it reports on (band index, pair index incl. the base CC settle,
    # IVF append), and running those builds EARLIER in the loaded session
    # measurably degraded every later key at REPS=3 (CMS 9s -> 60s+ — the
    # r12 closing-band investigation); here the stores are already warm and
    # the keys time what they claim: the calibrated serving width and the
    # telemetry read.
    _noop(QUERIES["sim_ivf_search_calibrated"](spark, sf_dir))
    for _ in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_search_calibrated"](spark, sf_dir))
        record("ext.sim_ivf_search_calibrated", time.time() - t0)
    _noop(QUERIES["maintenance_report"](spark, sf_dir))  # untimed warm-up
    for _ in range(REPS):
        t0 = time.time()
        _noop(QUERIES["maintenance_report"](spark, sf_dir))
        record("ext.maintenance_report", time.time() - t0)

    _noop(QUERIES["sim_ivf_topk_quantized"](spark, sf_dir))  # warm-up
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["sim_ivf_topk_quantized"](spark, sf_dir))
        record("ext.sim_ivf_quantized_search_only", time.time() - t0)

    # stream drains are memoized per sf_dir: the first call IS the drain;
    # repeating would time a memoized parquet read, not the operator.
    t0 = time.time()
    _noop(QUERIES["stream_user_totals"](spark, sf_dir))
    once["once.stream_user_totals_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_view_purchase_join"](spark, sf_dir))
    once["once.stream_view_purchase_join_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_view_purchase_left_join"](spark, sf_dir))
    once["once.stream_view_purchase_left_join_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_session_windows"](spark, sf_dir))
    once["once.stream_session_windows_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_tumbling_hourly"](spark, sf_dir))
    once["once.stream_tumbling_hourly_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_funnel"](spark, sf_dir))
    once["once.stream_funnel_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_sliding_windows"](spark, sf_dir))
    once["once.stream_sliding_windows_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_retention"](spark, sf_dir))
    once["once.stream_retention_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_scd2_history"](spark, sf_dir))
    once["once.stream_scd2_history_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_dedup_redelivery"](spark, sf_dir))
    once["once.stream_dedup_redelivery_drain"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(QUERIES["stream_attribution_last_touch"](spark, sf_dir))
    once["once.stream_attribution_drain"] = round(time.time() - t0, 3)

    # Skew contrast (VERDICT r6 #7): the skewed 10x corpus (.bench/sfskew,
    # one user = 40% of 1M events). funnel_window is the whole-partition-
    # window plan (hot partition serializes one task); funnel_adaptive
    # probes the key histogram and dispatches to the salted agg+join-back
    # plan. Timed under ext.skew.* so the contrast is a recorded bench row.
    skew_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench", "sfskew"
    )
    if os.path.isdir(skew_dir):
        from databricks_incremental_lakehouse_spark.streaming.temporal import (
            events_funnel,
            events_funnel_adaptive,
            events_funnel_aggjoin,
        )

        # control: the core silver aggregate at the UNIFORM 10x corpus vs
        # the skewed one (same fact size, one customer holding 30%) — flat
        # timing is the evidence that broadcast dims + map-side partial
        # aggregation make the relational surface skew-immune without any
        # dispatch (measured 2.80 vs 2.83 when added, r7)
        sf1cust = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".bench", "sf1cust"
        )
        if os.path.isdir(sf1cust):
            from databricks_incremental_lakehouse_spark.silver.customer_orders import (
                silver_customer_orders,
            )

            for key, d in (
                ("ext.skew.silver_customer_orders_uniform10x", sf1cust),
                ("ext.skew.silver_customer_orders_skew10x", skew_dir),
            ):
                _noop(silver_customer_orders(spark, d, shared=False))
                for _rep in range(REPS):
                    t0 = time.time()
                    _noop(silver_customer_orders(spark, d, shared=False))
                    record(key, time.time() - t0)

        for key, fn in (
            ("ext.skew.funnel_window", events_funnel),
            ("ext.skew.funnel_adaptive", events_funnel_adaptive),
            # the unsalted agg form: partial aggregation absorbs the agg
            # skew and AQE's skew-join split absorbs the join-back skew —
            # the fastest plan when AQE is available; the salted form is
            # the insurance when it is not (recorded side by side)
            ("ext.skew.funnel_aggjoin_unsalted", events_funnel_aggjoin),
        ):
            _noop(fn(spark, skew_dir))  # untimed warm-up
            for _rep in range(REPS):
                t0 = time.time()
                _noop(fn(spark, skew_dir))
                record(key, time.time() - t0)

    # the operated curation DAG (flags -> corpus || report -> packing)
    from databricks_incremental_lakehouse_spark.llmdata.pipeline import (
        run_corpus_curation,
    )

    with tempfile.TemporaryDirectory() as tmp:  # untimed warm-up rep (plan
        # compile + codegen of the 4 stage shapes — every other ext key
        # gets one; this key's r8 regression was mostly its absence)
        run_corpus_curation(spark, sf_dir, os.path.join(tmp, "curated"))
    for _rep in range(REPS):
        with tempfile.TemporaryDirectory() as tmp:
            t0 = time.time()
            run_corpus_curation(spark, sf_dir, os.path.join(tmp, "curated"))
            record("ext.pipeline_curation", time.time() - t0)

    # Serving mode (LAST block — the memo swap must not disturb earlier
    # keys): the text consumers answering from the MAINTAINED token-stats
    # warehouse instead of the session corpus scan — the steady-state a
    # deployment actually runs once incr_token_stats keeps the tables
    # current. Value-identity is test-locked (tests/test_incrstats.py);
    # this key records what the adoption buys/costs at bench SF.
    from databricks_incremental_lakehouse_spark import memo as _memo
    from databricks_incremental_lakehouse_spark.llmdata import incrstats as _incr

    # drop the scan-path tiers so the adopted frames serve; the clear also
    # releases the warehouse, so rebuild it and re-ingest the arrivals
    # (untimed) before adopting the corpus-complete root
    _memo.clear()
    _noop(QUERIES["incr_token_stats_update_only"](spark, sf_dir))
    root = _incr._warehouse_for(spark, sf_dir)
    _incr.adopt_token_stats(spark, sf_dir, root)
    _noop(QUERIES["search_bm25_topk"](spark, sf_dir))  # untimed warm-up
    for _rep in range(REPS):
        t0 = time.time()
        _noop(QUERIES["search_bm25_topk"](spark, sf_dir))
        record("ext.search_bm25_from_maintained", time.time() - t0)
    # the other heavy tf/df/bigram consumers in the same adopted session
    # (VERDICT r13 #3): value-identity with the scan path is test-locked
    # (tests/test_incrstats.py); these keys record what serving them from
    # the maintained postings/stats tables buys at bench SF, next to the
    # scan-path medians the ext loop recorded earlier in this run.
    for q, key in (
        ("sketch_cms_heavy_hitters", "ext.sketch_cms_from_maintained"),
        ("text_tfidf_topterms", "ext.text_tfidf_from_maintained"),
        ("vocab_topk", "ext.vocab_topk_from_maintained"),
        ("text_bigram_lm", "ext.text_bigram_lm_from_maintained"),
    ):
        _noop(QUERIES[q](spark, sf_dir))  # untimed warm-up
        for _rep in range(REPS):
            t0 = time.time()
            _noop(QUERIES[q](spark, sf_dir))
            record(key, time.time() - t0)

    # end-of-run probe in a FRESH session: running it inside the loaded
    # bench session measured 5.1s against 1.1s at start of the SAME run —
    # cached blocks/GC state contaminate the probe, so it must see the
    # machine, not the session (first two r11 runs; BASELINE.md r11)
    spark.stop()

    # once-key spread (VERDICT r12 #2): re-pay the build chain in fresh
    # sessions; each once key becomes the median of [main, fresh...] so a
    # single drifted window can't stand as THE build number. All samples
    # ship in BENCH_DETAIL.once_samples.
    once_samples = {k: [v] for k, v in once.items() if k in dict(ONCE_CHAIN)}
    for _ in range(ONCE_REPEATS):
        for k, v in _repeat_once_chain(sf_dir).items():
            once_samples.setdefault(k, []).append(v)
    for k, vals in once_samples.items():
        once[k] = round(statistics.median(vals), 3)

    spark2 = build_spark(app_name="dbx-lakehouse-bench-calib")
    spark2.sparkContext.setLogLevel("ERROR")
    spark2.range(1_000_000).select("id").summary("count").collect()
    calib_end = _calibration_probe(spark2)
    once["calibration_end_sec"] = calib_end
    calibration = round(statistics.median([calib_start, calib_end]), 3)
    contaminated = not (0.8 <= calibration / CALIB_REF_SEC <= 1.3)
    band_reruns = 0
    if contaminated and REPS > 1:
        # self-repeat the headline band ONCE before committing the number
        # (VERDICT r12 #2: r12's driver run shipped a 0.319 noise band
        # with the contamination flag set and nothing acted on it). The
        # rerun lands in this fresh session; medians then cover both
        # windows and the widened noise_band records the disagreement.
        run_headline_band(spark2, sf_dir, record, headline_totals)
        band_reruns = 1
    spark2.stop()

    timings = {k: round(statistics.median(v), 3) for k, v in samples.items()}
    timings.update(once)
    value = round(statistics.median(headline_totals), 3)
    noise_band = (
        round((max(headline_totals) - min(headline_totals)) / value, 3)
        if value > 0
        else None
    )

    # Full per-query detail: side file + an early stdout line. Neither is the
    # driver's parse target, so their size is unconstrained.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "sf": sf,
                "reps": REPS,
                "queries": timings,
                "samples": samples,
                "headline_totals": headline_totals,
                "noise_band": noise_band,
                # setup-dominated keys a round-over-round diff must skip
                "one_time": sorted(once),
                # per-key [main-session, fresh-session...] build readings
                # behind the once.* medians (VERDICT r12 #2)
                "once_samples": once_samples,
                "once_repeats": ONCE_REPEATS,
                "band_reruns": band_reruns,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(json.dumps({"bench_detail": timings, "sf": sf}))
    sys.stdout.flush()

    headline = {
        "metric": "full_pipeline_plus_bi_sec",
        "value": value,
        "unit": "sec",
        "queries": {
            "pipeline_sales": timings["pipeline_sales"],
            "pipeline_supplier": timings["pipeline_supplier"],
            "bi_regional_revenue_1998": timings["bi_regional_revenue_1998"],
            "bi_top_platinum_clv": timings["bi_top_platinum_clv"],
            "bi_strategic_suppliers": timings["bi_strategic_suppliers"],
            "bi_monthly_trend_series": timings["bi_monthly_trend_series"],
            "incr_refresh_init": once["once.incr_monthly_trends_refresh_init"],
            "incr_update_only": timings["ext.incr_monthly_trends_update_only"],
        },
        "reps": REPS,
        "noise_band": noise_band,
        # fixed-work probe, reported as a DRIFT FLAG only (ADVICE r11:
        # the probe is CPU-bound while the pipelines are parquet-I/O-
        # mixed, so a linear rescale over-corrects — r11 measured a 1.5x
        # probe ratio against only ~1.05x of headline). The caveat ships
        # IN the JSON so a round-over-round reader can't misuse the ratio.
        "calibration_sec": calibration,
        "calibration_ratio": round(calibration / CALIB_REF_SEC, 3),
        "calibration_contaminated": contaminated,
        # a contaminated run re-runs the headline band once in the fresh
        # end-probe session; medians/noise_band then span both windows
        "band_reruns": band_reruns,
        "calibration_note": (
            "drift flag only, NOT a scale factor: probe is CPU-bound,"
            " headline is I/O-mixed (measured headline sensitivity ~0.1x"
            " of probe ratio, r11); if contaminated, re-run or worktree-A/B"
        ),
        "sf": sf,
    }
    # LAST stdout line, compact (~400 bytes): the driver's parse target.
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
