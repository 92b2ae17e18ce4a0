"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is timed to full materialization via the noop sink (no
driver-side collect, no pandas conversion — measures the Spark plan).

Measurement note (r12): per-query executor task-time capture needs
spark.ui.enabled=true, whose listener/REST machinery costs a measured
~6% of headline wall on this box (147 queries: 154.5s UI-off vs
164.6s UI-on, both quiet starts).  The capture stays ON by default —
task_time is what makes pin-unchanged wall swings attributable, worth
more than the constant — so r12+ wall totals carry that one-time step
vs r11-and-earlier stamps (which ran UI-off); SPARK_GRAFT_BENCH_UI=0
reproduces the old measurement basis.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "a1_group_collect",
    "a3_running_count",
    "l1_topk_per_group",
    "edgar_index_pipeline",
    "edgar_company_topk",
    "events_sessionize",
    "events_tumbling_daily",
    "text_quality_filter",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "edgar_sgml_roundtrip",
    "edgar_form4_roundtrip",
    # round 2 additions
    "agg_percentiles_approx",
    "dedup_ngram_jaccard_pairs",
    "ann_ivf_topk",
    "edgar_company_pagination",
    "events_asof_join",
    # round 4 additions
    "events_range_join",
    "edgar_concept_roundtrip",
    "text_repetition_filter",
    "curation_domain_mix",
    "dedup_embedding_cosine",
    "agg_hll_distinct",
    "emb_quantize_int8",
    # round 5 additions: the iterative/trained/stateful-heavy paths, so
    # regressions there are visible round-over-round (VERDICT r4 §next.5)
    "ml_kmeans_assign",
    "ann_ivf_trained",
    "dedup_chunk_overlap",
    "curation_keep_best",
    "events_retention_cohorts",
    # late round-5 additions: trained semantic dedup, PQ, BM25, and one
    # new TPC-H join-heavy shape
    "dedup_semantic",
    "ann_pq_adc_topk",
    "text_bm25_search",
    "q9_product_profit",
    "text_bigram_pmi",
    "text_vocab_growth",
    "events_sliding_daily",
    "profile_lineitem",
    "text_ngram_novelty",
    "ml_cluster_quality",
    "text_phrase_merge",
    "events_incremental_rollup",
    # round-5 session-3 additions: the new scale-pattern battery
    # (iterative pagerank, bloom runtime-filter, incremental SCD2)
    "graph_pagerank",
    "j_bloom_prefilter",
    "events_scd2_merge",
    "events_session_native",
    # round 6 additions: the new dedup/similarity/selection family
    "dedup_incremental_lsh",
    "dedup_span_removal",
    "dedup_simhash_hamming",
    "text_sparse_cosine_pairs",
    "text_winnowing_pairs",
    "curation_dsir_select",
    "ml_ridge_closed_form",
    "agg_ivm_join_maintenance",
    # round-6 statistics/retrieval battery
    "agg_bootstrap_ci",
    "events_ab_test",
    "events_rank_sum_test",
    "graph_kcore_prune",
    "text_phrase_search",
    # round 7 additions: adaptive/capped candidate generation and the
    # end-to-end binary pretraining export (quality -> dedup -> decon
    # -> pack -> .bin/.idx shards -> checksummed read-back)
    "dedup_simhash_adaptive",
    "dedup_prefix_filter_capped",
    "dedup_containment_capped",
    "curation_export_shards",
    # round 8 additions: the two-stage retrieval family and per-domain
    # quality calibration
    "ann_rerank_refine",
    "ann_rerank_cross",
    "curation_quality_calibrate",
    "curation_ccnet_buckets",
    "curation_contamination_report",
    "curation_mixture_reweight",
    "text_tokenizer_fertility",
    "curation_rho_select",
    "curation_cluster_balanced_sample",
    "text_bigram_surprisal",
    "events_cusum_changepoint",
    "graph_wcc_components",
    "er_match_score",
    "er_sorted_neighborhood",
    "er_entity_groups",
    "er_match_score_capped",
    "text_trigram_search",
    "events_acf_lags",
    "audit_k_anonymity",
    "agg_weighted_percentiles",
    "curation_curriculum_order",
    "text_type_token_ratio",
    "curation_length_histogram",
    "events_trend_mannkendall",
    "agg_selfjoin_size_estimate",
    "ann_lsh_multiprobe_topk",
    "events_trend_theilsen",
    "agg_trimmed_mean",
    "ann_matryoshka_recall",
    "graph_ppr_seeded",
    "multimodal_audio_energy",
    "agg_kmv_distinct",
    "curation_corpus_summary",
    "events_session_entry_exit",
    "events_attribution_linear",
    "events_attribution_capped",
    "events_hot_key_profile",
    "text_zipf_fit",
    "events_sessionize_salted",
    # round 11: the salted bounded-ROWS-frame twin (poison/lowmem round)
    "window_moving_avg_salted",
    "text_langid_confusion",
    "audit_sampler_uniformity",
    "audit_quality_length_bias",
    "dedup_cluster_size_histogram",
    "events_interarrival_percentiles",
    "graph_degree_histogram",
    "curation_token_budget_select",
    "emb_norm_outliers",
    "agg_kmv_resemblance",
    # round 9 additions: hybrid retrieval fusion and the image
    # sample-byte kernel
    "retrieval_hybrid_rrf",
    "retrieval_hybrid_weighted",
    "multimodal_image_tile_luminance",
    # round-9 session-2 additions: provenance audits, link prediction,
    # weighted sampling, URL dedup, Markov journeys
    "audit_source_overlap_kmv",
    "graph_link_prediction_jaccard",
    "curation_oov_rate",
    "dedup_url_canonical",
    "sample_priority_weighted",
    "events_markov_transitions",
    "dedup_rate_by_source",
    "text_vocab_drift",
    "text_kwic",
    # round-9 session-3 additions: apportionment, behavioral cohorts,
    # vector hygiene, robust anomaly screening
    "curation_epoch_mix_schedule",
    "events_rfm_segmentation",
    "emb_dim_variance_audit",
    "events_anomaly_mad",
    "curation_funnel_report",
    # round-9 session-4 additions
    "curation_card_by_source",
    "graph_components_modularity",
    "events_seasonality_dow",
    "multimodal_image_dedup_tiles",
    "dedup_band_tuning",
    "dedup_residual_audit",
    # round 11: the scale-safe SemDeDup twin (trains k-means like
    # dedup_semantic) and its forfeit ledger
    "dedup_semantic_capped",
    "dedup_semantic_cap_audit",
    # round 12: the remaining heat-dispatched event queries, so the
    # salt-dispatch economics (HEAT.md) stay visible round-over-round
    "events_funnel_conversion",
    "events_scd2_build",
    "events_scd2_pit_enrich",
    "events_attribution_last_touch",
    "events_time_to_convert",
]

# Iterative-trainer queries (multi-job loops: k-means iterations, PQ
# codebook fits, centroid assignment).  Their first run routinely eats
# a codegen/JIT warmup spike that best-of-2 can't always dodge — r6's
# only >2x round-over-round bench number (ann_ivf_trained 2.51->5.25s)
# was exactly this, adjudicated noise because the plan was unchanged
# and a quiet-box retime swung 8.1->3.8s within one pair (VERDICT r6
# "what's wrong" #2).  Force a third sample for these so min() sees at
# least two post-warmup runs.
BEST_OF_3 = {
    "ann_ivf_trained",
    "ml_kmeans_assign",
    "ann_pq_adc_topk",
    "dedup_semantic",
    "dedup_semantic_capped",
    "dedup_semantic_cap_audit",
    "graph_wcc_components",  # convergence loop: same warmup class
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Debug subset (comma-separated names) — BENCH_LOCAL.json is NOT
    # written for subset runs, so a partial run can't clobber the
    # round's full stamp.
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    headline = [q for q in HEADLINE if not only or q in only]
    # UI stays on by default for the task-time capture; 0 disables both
    # (control arm for measuring the listener's own overhead).
    ui_on = os.environ.get("SPARK_GRAFT_BENCH_UI", "1") != "0"

    load_start = round(os.getloadavg()[0], 2)

    from sec_edgar_spark.session import builder
    import sec_edgar_spark.queries as Q

    # UI on (engine default is off): the task-time capture below reads
    # the UI REST API; negligible overhead on a bench box.
    spark = (
        builder(app_name="sec-edgar-spark-bench")
        .config("spark.ui.enabled", "true" if ui_on else "false")
        .getOrCreate()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    qs = Q.queries()

    # Warm the JVM (codegen/JIT), parquet footers and the reader path
    # with trivial counts so per-query timings measure the plans, not
    # session startup.  No query results are precomputed.
    from sec_edgar_spark import catalog

    spark.range(1).count()
    for t in catalog.TABLES:
        catalog.table(spark, sf_dir, t).count()
    # Warm the three engine paths whose first use otherwise lands on
    # whichever query runs first (round-1 bench showed ~7s of Arrow +
    # codegen warmup attributed to q1/text_quality): whole-stage
    # codegen + hash-agg shuffle, the Python-worker pool + Arrow
    # transfer (workers are reused afterwards), and a window exec.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    noop(spark.range(100000).groupBy(F.col("id") % 7).count())
    noop(spark.range(10000).mapInPandas(lambda it: it, "id long"))
    noop(
        spark.range(10000).select(
            F.row_number()
            .over(Window.partitionBy(F.col("id") % 5).orderBy("id"))
            .alias("rn")
        )
    )
    # session-window exec (its first use showed ~5s of codegen warmup
    # attributed to events_session_native in r6 bench runs)
    noop(
        spark.range(10000)
        .select(
            (F.col("id") % 7).alias("k"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
        )
        .groupBy("k", F.session_window("ts", "30 seconds"))
        .count()
    )

    # Per-sample executor task-time via the UI REST API (VERDICT r11
    # "what's wrong" #1: a pin-unchanged 3x wall swing was
    # indistinguishable from a regression in the artifact).  Wall time
    # on a shared box mixes the plan's cost with ambient load; the SUM
    # OF TASK DURATIONS is load-shift-resistant (a contending process
    # delays tasks' scheduling, not their measured run time), so a
    # wall swing with a flat task_time is attributable to noise from
    # the artifact alone.  Attribution is by JOB GROUP (ADVICE r12):
    # each sample runs under sc.setJobGroup(unique id), and task time
    # sums executorRunTime of exactly the stages belonging to that
    # group's jobs — a submissionTime window wrongly swept in
    # concurrent jobs in the same app (e.g. the memoized heat probe's
    # first fire landed on whatever query triggered it PLUS the window
    # start).  With job groups the probe's cost is attributed to the
    # sample that actually ran it, once, which is the honest shape.
    # Caveat (recorded in the artifact as task_time_note): the UI
    # retains spark.ui.{retainedJobs,retainedStages} (default 1000)
    # entries; we query immediately after each sample so eviction
    # would only undercount a single sample exceeding ~1000 stages,
    # which none of the battery does.
    from tools.taskmetrics import GroupMetrics

    metrics = GroupMetrics(spark)

    timings: dict[str, float] = {}
    task_times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in headline:
        fn = qs[name]
        # Best-of-2 per query (the scale legs, tools/scale.py, take
        # the min of their warm passes the same way):
        # single-shot wall times on a shared box swing up to 5x on
        # whichever query catches a GC pause or a contending process —
        # round-to-round comparisons were drowning in that noise.  The
        # min of two runs measures the plan, not the neighbor.  When
        # the two samples STILL disagree by >1.5x (both hit noise, or
        # one did and min can't tell which), take a third — bounded
        # extra cost, paid only by the noisy queries.
        samples: list[tuple[float, float | None]] = []
        for attempt in range(3):
            if (
                attempt == 2
                and name not in BEST_OF_3
                and (
                    len(samples) < 2
                    or max(s[0] for s in samples)
                    / max(min(s[0] for s in samples), 1e-9)
                    <= 1.5
                )
            ):
                break
            # Isolate queries from each other: drop any cached frames
            # the previous run left behind so timings don't depend on
            # HEADLINE ordering.
            spark.catalog.clearCache()
            group_id = f"bench:{name}:{attempt}"
            spark.sparkContext.setJobGroup(group_id, name)
            t0 = time.time()
            # One broken query must not zero the whole round's signal:
            # report it under "errors" and keep timing the rest.
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                break
            finally:
                spark.sparkContext.setJobGroup("", "")
            wall = time.time() - t0
            samples.append(
                (wall, metrics.task_time_s(group_id) if ui_on else None)
            )
        if samples:
            best = min(samples, key=lambda s: s[0])
            timings[name] = round(best[0], 3)
            if best[1] is not None:
                task_times[name] = best[1]

    total = round(sum(timings.values()), 3)
    # Field order + compactness are deliberate (VERDICT r13 #7: the r12
    # driver artifact kept only a truncated tail of this line and lost
    # the whole round's per-query table): totals/sf/errors lead so a
    # head-keeping capture still carries the headline numbers, the
    # per-query map comes last, and compact separators shave ~25% off
    # the line.  Same ONE-JSON-LINE contract, same keys.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    out["queries"] = timings
    if only:
        # debug-subset runs surface task_time inline (full runs keep
        # the one-line stdout contract; task_time lives in BENCH_LOCAL)
        out["task_time"] = task_times
    print(json.dumps(out, separators=(",", ":")))
    # Persist the full per-query record next to the repo (VERDICT r8
    # #2: the driver artifact truncates its tail to 2000 chars, so
    # round-over-round per-query comparisons need a repo-side record).
    # Adds git SHA + 1-min loadavg so a noisy-host number is legible
    # as such later.  Stdout contract above is unchanged.
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip()
    except Exception:  # noqa: BLE001 — bench must not die on metadata
        sha = None
    local = dict(out)
    local["git_sha"] = sha or "unknown"
    local["loadavg_1m"] = round(os.getloadavg()[0], 2)
    local["loadavg_1m_start"] = load_start
    # task_time: per-query executor task-duration sum of the min-wall
    # sample (tools/taskmetrics.GroupMetrics) — lets round-over-round
    # analysis split pin-changed plan deltas from pin-unchanged ambient
    # noise.
    local["task_time"] = task_times
    local["task_time_note"] = (
        "job-group attributed (r13); sums executorRunTime of the "
        "min-wall sample's own stages only; UI eviction "
        "(retainedStages=1000) could undercount only a single sample "
        "with >1000 stages, none exist in the battery; a query whose "
        "sample ran no stage has no entry"
    )
    if not only:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            ),
            "w",
        ) as fh:
            json.dump(local, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
