#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
driver collect). Timings are per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "topn_orders_per_customer",
    "rollup_order_stats",
    "upsert_merge",
    "incremental_sync_composite",
    "patch_overlay",
    "qa_log_pipeline",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_increment_vs_corpus",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "label_propagation_communities",
    "sessionize_events",
    "q10_returned_items",
    "asof_join_prior_click",
    "scd2_user_event_history",
    "token_count_bpeish",
    "embedding_neardup_pairs",
    "dedup_connected_components",
    "gopher_quality_filter",
    "similarity_ivf",
    "similarity_ivfpq",
    "source_reputation_report",
    "robust_outlier_events",
    "skewed_agg_salted",
    "referential_integrity_report",
    "fuzzy_name_pairs",
    "incremental_agg_merge",
    "sync_checksum_ranges",
    "quarantine_rejects",
    "hll_weekly_users_rollup",
    "doc_distinctive_terms",
    "embedding_dim_profile",
    "curation_pipeline_stats",
    "dedup_simhash",
    "minhash_index_match",
    "dq_expectations_report",
    "similarity_ivf_index",
    "similarity_ivfpq_index",
    "cdc_apply_roundtrip",
    "html_text_extract",
    "unigram_surprisal",
    "rendezvous_reshard_roundtrip",
    "pagerank_link_graph",
    "bucketed_time_travel",
    "semantic_dedup",
    "sparse_cosine_shingles",
    "spatial_neighbor_pairs",
    "ann_recall_at_k",
    "bloom_semi_join_stats",
    "ivm_join_delta",
    "entity_resolution_map",
    "time_interpolate_linear",
    "kmeans_lloyd_exact",
    "substring_dup_maximal_spans",
    "interval_join_clicks_after_purchase",
    "bm25_query_join",
    "trigram_stupid_backoff",
    "embedding_simhash_neardup",
    "heavy_hitters_exhaustive",
    "node_neighbor_jaccard",
    # round 8: scale-path twins + fixpoint graph ops + decontamination
    "value_drift_bins_sketch",
    "kcore_fixpoint",
    "lpa_modularity",
    "oov_rate_histogram",
    "benchmark_ngram_contamination",
    # round 9: multimodal metadata tier + hybrid retrieval + SQ8 + live PSI
    "binary_format_profile",
    "wav_header_parse",
    "rrf_hybrid_retrieval",
    "embedding_sq8_codes",
    "streaming_drift_psi",
    # round 10: decode tier + IR eval + covariance + lateness semantics
    "wav_audio_qa",
    "image_dims_parse",
    "retrieval_eval_metrics",
    "embedding_cov_matrix",
    "streaming_late_data_windows",
    # round 10 (cont.): evaluation tier + pointer-jumping graph ops +
    # margin mining
    "auc_score_eval",
    "cluster_silhouette_exact",
    "scc_functional_graph",
    "dag_longest_levels",
    "mutual_margin_pairs",
    "cc_two_phase_star",
    # round 11: distributed-rank rank statistics + late-dedup composition
    "spearman_rank_corr",
    "ks_two_sample",
    "streaming_late_dedup",
    "exact_group_quantiles",
    "iqr_outlier_screen",
    # round 12: session-window merge under late data
    "streaming_session_merge_late",
    # round 13: quantile-mapping off the gathered grid + join-state
    # eviction under late data
    "quantile_mapping_normalize",
    "streaming_join_late_attribution",
]

# Always in the 10x scaling guard alongside the measured top-5: the
# round-5 families whose sub-quadratic claims should be measured, not
# argued (grid-binned spatial join; cell-local SemDeDup pair work).
SCALING_PINNED = ["spatial_neighbor_pairs", "semantic_dedup"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from fastetl_spark.session import get_spark

    spark = get_spark("fastetl-spark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    # Warm up the JVM + parquet reader + codegen paths untimed so the
    # first timed query doesn't absorb session startup cost
    spark.range(1000).count()
    queries["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Pre-build the persistent-ANN scratch indexes and time the builds as
    # sub-metrics, so the similarity_*_index per-query walls measure the
    # PROBE path only, comparable round-over-round regardless of whether
    # the sandbox's /tmp scratch is cold (PERF.md #36: a cold rep-1 build
    # is 5-7 s at sf0.1 and used to pollute median/spread). build_sec is
    # None when a complete index already existed (warm scratch).
    ann_build: dict[str, float | None] = {}
    from fastetl_spark.io.readers import ensure_parallelism as _ep
    from fastetl_spark.io.readers import read_table as _rt
    from fastetl_spark.operators.ann_index import (
        build_ivf_index,
        build_ivfpq_index,
        read_ivf_meta,
        read_ivfpq_meta,
    )
    from fastetl_spark.operators.dedup_index import _scratch_index_path

    small_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    build_dirs = [sf_dir] + (
        # the 10x scaling guard may re-run the _index queries at the next
        # sf down; pre-build there too so its small_sec is probe-only
        # (skip when bench runs AT sf0.01 — a duplicate pass would
        # overwrite the just-recorded build wall with None)
        [small_dir]
        if os.path.isdir(small_dir)
        and os.path.abspath(small_dir) != os.path.abspath(sf_dir.rstrip("/"))
        else []
    )
    for d in build_dirs:
        emb = _ep(_rt(spark, d, "embeddings"))
        for kind, rmeta, build in (
            ("ivf", read_ivf_meta, build_ivf_index),
            ("ivfpq", read_ivfpq_meta, build_ivfpq_index),
        ):
            idx = _scratch_index_path(d, f"{kind}_idx")
            tag = f"{kind}_build_sec_sf{d.rstrip('/').rsplit('sf', 1)[-1]}"
            if rmeta(spark, idx) is None:
                start = time.perf_counter()
                build(emb, idx, "vec_id", "embedding")
                ann_build[tag] = round(time.perf_counter() - start, 3)
            else:
                ann_build[tag] = None  # warm scratch reused

    # One scratch-COLD build per kind at the main sf, into a throwaway
    # dir, every run (round-8 VERDICT ask #6): the committed
    # BENCH_DETAIL then always carries a non-null build wall, so a
    # build-path regression is visible round-over-round even when the
    # probe path reuses a warm scratch. ~5-7 s/kind at sf0.1.
    if os.environ.get("SPARK_GRAFT_SKIP_COLD_BUILD") != "1":
        import shutil

        emb_main = _ep(_rt(spark, sf_dir, "embeddings"))
        for kind, build in (("ivf", build_ivf_index),
                            ("ivfpq", build_ivfpq_index)):
            tmp_idx = _scratch_index_path(sf_dir, f"{kind}_coldprobe")
            shutil.rmtree(tmp_idx, ignore_errors=True)
            start = time.perf_counter()
            build(emb_main, tmp_idx, "vec_id", "embedding")
            ann_build[f"{kind}_cold_build_sec"] = round(
                time.perf_counter() - start, 3
            )
            shutil.rmtree(tmp_idx, ignore_errors=True)

    # best-of-N per query: repeats amortize codegen/JIT, GC pauses, and
    # ambient machine load so the figure reflects steady-state
    # throughput. Per-query median + spread are reported alongside so a
    # round-over-round delta can be told apart from run jitter (a delta
    # inside the spread band is noise, not a regression).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # Quiet-capture gate (round-9 VERDICT ask #1): co-tenant load spikes
    # have repeatedly produced bad committed captures (r6 ANN doubling,
    # r8's 1.27x across untouched queries — PERF.md #36, VERDICT r8).
    # With SPARK_GRAFT_BENCH_LA1_GATE=<n> the timed loop WAITS (up to
    # SPARK_GRAFT_BENCH_LA1_WAIT seconds, default 900) for 1-min
    # loadavg to drop below n before starting; either way the emitted
    # line carries la1_median so a hot capture is self-annotating.
    la_gate = float(os.environ.get("SPARK_GRAFT_BENCH_LA1_GATE", "0") or 0)
    if la_gate > 0:
        deadline = time.time() + float(
            os.environ.get("SPARK_GRAFT_BENCH_LA1_WAIT", "900")
        )
        while os.getloadavg()[0] > la_gate and time.time() < deadline:
            time.sleep(20)
    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name in HEADLINE:
        fn = queries[name]
        # 1-min loadavg at query start: forensic signal for telling a
        # co-tenant load spike apart from a real regression when a
        # round-over-round wall moves (PERF.md #31-33, #36 precedent)
        la1 = round(os.getloadavg()[0], 1)
        times = []
        for _ in range(reps):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
        times.sort()
        best, median = times[0], times[len(times) // 2]
        timings[name] = round(best, 3)
        stats[name] = {
            "median": round(median, 3),
            "spread_pct": round((times[-1] - times[0]) / median * 100, 1)
            if median > 0
            else 0.0,
            "la1": la1,
            # raw sorted rep walls (r14 VERDICT ask #2): lets a judge
            # separate co-tenant load from code mechanically — a real
            # regression moves ALL reps, a load spike moves the tail.
            # BENCH_DETAIL-only addition; the one-line JSON contract
            # (metric/value/queries keys) is unchanged.
            "times": [round(t, 3) for t in times],
        }

    # scaling-curve guard: the heaviest queries also run at the next
    # sf down; wall-time ratio across a 10x data step should stay well
    # under ~25x (fixed overheads keep it below linear at these sizes —
    # a ratio past the guard means accidental super-linear work, the
    # kind that would explode long before 100 TB). Reported, not
    # asserted: the bench must still emit its JSON line either way.
    scaling: dict[str, dict] = {}
    small_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if os.path.isdir(small_dir) and os.path.abspath(small_dir) != os.path.abspath(
        sf_dir.rstrip("/")
    ):
        heavy = sorted(timings, key=timings.get, reverse=True)[:5]
        heavy += [n for n in SCALING_PINNED if n not in heavy]
        for name in heavy:
            fn = queries[name]
            best = float("inf")
            for _ in range(2):
                start = time.perf_counter()
                fn(spark, small_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
            ratio = timings[name] / best if best > 0 else float("inf")
            scaling[name] = {
                "small_sec": round(best, 3),
                "big_sec": timings[name],
                "ratio": round(ratio, 2),
                "ok": ratio < 25.0,
            }

    # persistent-index scaling guard: hold the INCREMENT fixed (30
    # docs), grow the CORPUS 10x, and require the index match AND
    # append walls to stay ~flat — the sublinearity claim of the
    # persistent dedup index, measured instead of asserted. (A corpus
    # scan path would grow ~10x here; bucket-pruned reads of a fixed
    # shingle set do not scale with the corpus.)
    index_scaling: dict[str, dict] = {}
    if os.path.isdir(small_dir) and os.path.abspath(small_dir) != os.path.abspath(
        sf_dir.rstrip("/")
    ):
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from fastetl_spark.io.readers import ensure_parallelism, read_table
        from fastetl_spark.operators.dedup_index import (
            append_to_shingle_index,
            build_shingle_index,
            match_against_index,
        )

        inc = (
            ensure_parallelism(read_table(spark, small_dir, "documents"))
            .filter(F.col("doc_id") % 7 == 0)
            .limit(30)
            .cache()
        )
        inc.count()
        walls: dict[str, tuple[float, float]] = {}
        for tag, d in (("small", small_dir), ("big", sf_dir)):
            corpus = ensure_parallelism(read_table(spark, d, "documents")).filter(
                F.col("doc_id") % 7 != 0
            )
            idx_root = tempfile.mkdtemp(prefix="fe_bench_idx_")
            idx = os.path.join(idx_root, "idx")
            build_shingle_index(corpus, idx, n_buckets=64)  # untimed one-off
            best = float("inf")
            for _ in range(3):
                start = time.perf_counter()
                match_against_index(spark, idx, inc).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - start)
            start = time.perf_counter()
            append_to_shingle_index(inc, idx)
            append_wall = time.perf_counter() - start
            walls[tag] = (best, append_wall)
            shutil.rmtree(idx_root, ignore_errors=True)
        for i, op in enumerate(("match", "append")):
            small_t, big_t = walls["small"][i], walls["big"][i]
            ratio = big_t / small_t if small_t > 0 else float("inf")
            index_scaling[f"shingle_index_{op}"] = {
                "small_sec": round(small_t, 3),
                "big_sec": round(big_t, 3),
                "ratio": round(ratio, 2),
                # flat means ~1.0; 1.5 leaves jitter headroom while a
                # corpus-proportional path would land near 10
                "ok": ratio < 1.5,
            }

        # same guard for the MinHash-LSH index — the documented 100 TB
        # dedup DEFAULT: probe cost must track the increment's band
        # set, not the corpus (fast xxhash64 variant, as production
        # would run; build untimed)
        from fastetl_spark.operators.dedup_index import (
            build_minhash_index,
            match_minhash_index,
        )

        mh_walls: dict[str, float] = {}
        for tag, d in (("small", small_dir), ("big", sf_dir)):
            corpus = ensure_parallelism(read_table(spark, d, "documents")).filter(
                F.col("doc_id") % 7 != 0
            )
            idx_root = tempfile.mkdtemp(prefix="fe_bench_mhidx_")
            idx = os.path.join(idx_root, "idx")
            build_minhash_index(corpus, idx, n_buckets=64)  # untimed one-off
            best = float("inf")
            for _ in range(3):
                start = time.perf_counter()
                match_minhash_index(spark, idx, inc).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - start)
            mh_walls[tag] = best
            shutil.rmtree(idx_root, ignore_errors=True)
        inc.unpersist()
        ratio = (
            mh_walls["big"] / mh_walls["small"]
            if mh_walls["small"] > 0
            else float("inf")
        )
        index_scaling["minhash_index_match"] = {
            "small_sec": round(mh_walls["small"], 3),
            "big_sec": round(mh_walls["big"], 3),
            "ratio": round(ratio, 2),
            "ok": ratio < 1.5,
        }

    # BM25 max_df guard on a Zipf-vocabulary corpus (round-9 VERDICT
    # ask #3): the documents fixture's 31-term vocabulary is all head,
    # so only a synthetic Zipf corpus can show the cap doing its real
    # job — pruning stopword-grade candidate pairs while every query
    # without a capped term scores BIT-identically (stats-before-cap
    # contract). Reported like the other guards: measured, not argued.
    bm25_zipf: dict[str, object] = {}
    if os.environ.get("SPARK_GRAFT_SKIP_ZIPF_GUARD") != "1":
        from fastetl_spark.operators.retrieval import zipf_maxdf_evidence

        bm25_zipf = zipf_maxdf_evidence(spark, n_docs=5000, vocab=2048)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver captures only the TAIL of stdout (~2 kB), so the
    # emitted line must stay compact: per-query bests at 1 dp plus the
    # guard booleans. Everything else (median/spread stats, scaling and
    # index-scaling detail, 3-dp timings) goes to the run's own
    # bench_runs/<run>/BENCH_DETAIL.json next to this script.
    la1s = sorted(s["la1"] for s in stats.values())
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 1) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # capture-quality annotation: per-query 1-min loadavg median —
        # the committed artifact says for itself whether it was a
        # quiet capture (PERF.md #31/#36 forensics, r8 VERDICT)
        "la1_median": la1s[len(la1s) // 2] if la1s else None,
    }
    detail = {
        "queries": timings,
        "query_stats": stats,
        "n_queries": len(timings),
        "ann_index_build": ann_build,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    if scaling:
        out["scaling_ok"] = all(s["ok"] for s in scaling.values())
        detail["scaling"] = scaling
    if index_scaling:
        out["index_scaling_ok"] = all(s["ok"] for s in index_scaling.values())
        detail["index_scaling"] = index_scaling
    if bm25_zipf:
        out["bm25_zipf_ok"] = bm25_zipf["ok"]
        detail["bm25_zipf"] = bm25_zipf
    # Each run's detail goes to its own git-ignored directory, so a run
    # never rewrites a committed capture; committing one is a deliberate
    # copy of that run's file.
    run_dir = os.path.join(
        "bench_runs", time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + f"-{os.getpid()}"
    )
    detail_rel = os.path.join(run_dir, "BENCH_DETAIL.json")
    here = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(here, run_dir), exist_ok=True)
    with open(os.path.join(here, detail_rel), "w") as fh:
        json.dump({**out, **detail}, fh, indent=1)
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's 2 kB tail capture
        out["queries"] = {
            k: round(v, 1)
            for k, v in sorted(timings.items(), key=lambda kv: -kv[1])[:30]
        }
        out["queries_truncated_see"] = detail_rel
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
