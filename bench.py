#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is measured with the `noop` sink (full plan runs, rows are
discarded) — no driver-side collect in the timed path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_gcp_function_tmabrasil_spark.queries import all_queries
from etl_gcp_function_tmabrasil_spark.session import get_spark

#: Headline queries: one per major operator family (SURVEY.md §2.2).
HEADLINE = [
    "q1_pricing_summary",       # scan-heavy groupBy agg
    "q3_shipping_priority",     # 3-way join + topk
    "q5_local_supplier_volume", # snowflake join w/ broadcast dims
    "q6_forecast_revenue",      # pushdown filter + scalar agg
    "q10_returned_items",       # join + group + topk
    "window_rank_orders",       # window functions
    "window_running_sum",       # running frames
    "dedup_pick_latest",        # keep-latest dedup
    "json_agg_by_key",          # JSON extraction + agg
    "window_tumbling_batch",    # event-time windows
    "text_token_count",         # text analysis (higher-order fns)
    "dedup_minhash_lsh",        # minhash LSH near-dup
    "knn_bruteforce_cosine",    # vector similarity
    "ann_ivf_cosine",           # IVF cell-probe ANN (scale path)
    "join_asof_purchase",       # as-of join pattern
    "q9_product_profit",        # 5-way join + profit rollup
    "q13_customer_distribution", # outer join + double agg
    "q21_waiting_suppliers",    # exists/not-exists semi+anti joins
    "decontaminate_ngram",      # eval-set n-gram scrub (broadcast semi)
    "vocab_doc_frequency",      # corpus vocab (partial-agg word count)
    "text_token_diversity",     # repetition filters (HOF + 2-level agg)
    "bpe_merge_pairs",          # tokenizer-training pair counts
    "embedding_gram_matrix",    # pandas-partial covariance accumulation
    "pagerank_dedup_graph",     # iterative rank over near-dup graph
    "fuzzy_name_match",         # FastSS deletion-variant edit-distance join
    "agg_robust_outliers",      # median/MAD via banded exact quantiles
    # round-5 additions: operator families previously unbenched
    "scd2_user_history",        # warehouse-load (CDC/SCD2 window chain)
    "resample_daily_locf",      # calendar-spine join + carry-forward window
    # (kmeans_ivf_codebook moved to scripts/bench_gate_sf01.py in r6:
    # its Lloyd's iterations run driver-coordinated at CONSTRUCTION —
    # the eager-construction guard correctly tripped on it, and the
    # r5 headline number (0.33 s) was only the final assignment pass.
    # The gate-bench script times construct+action separately and
    # honestly: ~1.5 s + ~0.5 s warm at sf0.1.)
    # round-6 additions (lazy-constructing registrations only — the
    # eager gate queries are benched by scripts/bench_gate_sf01.py)
    "json_variant_ops",         # Spark 4 VARIANT parse-once path
    "sql_lateral_topk",         # correlated LATERAL, decorrelated plan
    "udf_arrow_vector_norms",   # mapInArrow Arrow-native batch UDF
    "split_group_integrity",    # leakage-guard user-keyed split
    "window_global_rownum_scalable",  # two-phase global contiguous ids
    # round-7 additions (lazy construction)
    "dedup_corpus_lines",       # C4-style corpus-wide line dedup
    "timeseries_ewma",          # per-key linear-recurrence ordered fold
    "agg_approx_percentile",    # GK sketch + broadcast bound-verify
    "sql_recursive_cte_index",  # WITH RECURSIVE frontier-join chain
    # round-8 additions (lazy construction; the skew/PQ gates are
    # eager and live in scripts/bench_gate_sf01.py)
    "text_ccnet_quality_buckets",  # CCNet per-lang LM-score terciles
    "embedding_pca_power",      # gram-matrix power iteration (persisted scan)
    # round-9 additions (lazy construction; the snapshot/stream gates
    # are eager and live in scripts/bench_gate_sf01.py)
    "interval_max_concurrency", # sweep-line peak-overlap per key
    "pareto_frontier_orders",   # local-prune + global-refine skyline
    "text_gopher_rules",        # Gopher quality rule suite (row-local)
    "timeseries_twa",           # time-weighted average (lead window + decimal fold)
    "timeseries_cusum",         # CUSUM drift alarm (struct-state ordered fold)
    "text_token_entropy",       # per-lang Shannon entropy (fixed-point sum)
    "agg_correlation_matrix",   # k-column Pearson matrix in one scan
    "simjoin_prefix_jaccard",   # exact set-similarity join (prefix filter)
    "graph_triangle_count",     # degree-oriented wedge-closing triangles
    "table_diff_checksum",      # bucketed-checksum reconciliation (2 scans)
    "ab_test_welch",            # one-scan conditional moments + Welch t
    "text_word_pmi",            # capped-vocab co-occurrence PMI
    "rfm_customer_segments",    # banded-quantile RFM discretization
    "dq_constraint_suite",      # fused constraint metrics + anti-join
]

#: Round-10 additions measured with the SAME warmup+min-of-N machinery
#: but recorded ONLY in BENCH_LOCAL.json ("queries_extended"): the
#: stdout line is at its pinned capacity (worst case 1768 of 1792 B —
#: tests/test_bench_contract.py), and HEADLINE stays append-only so
#: same-position round-over-round comparisons keep cancelling the
#: measured JVM session-aging drift (a forward/reversed-order probe
#: showed inflation following list position; SCALING.md). The
#: extended totals are intentionally NOT folded into "value".
EXTENDED = [
    "dedup_winnowing_pairs",        # winnowing fingerprints + pair join
    "agg_kmv_distinct",             # KMV sketch + mergeable union
    "seq_pattern_match",            # per-user symbol-string regex CEP
    "timeseries_seasonal_decompose",  # MA trend + dow seasonal split
    "agg_weighted_median",          # decimal cumulative-weight crossing
    "corpus_divergence_js",         # per-source JSD vs corpus unigrams
    "quantile_normalize_profile",   # cross-source equal-depth profile
    "agg_winsorized_mean",          # type-1 fences + clipped mean
    "drift_psi",                    # PSI drift over reference deciles
    "profile_key_skew",             # shuffle-key skew diagnostics
    "sample_neyman_allocation",     # variance-optimal sample allocation
    "dedup_winnowing_containment",  # asymmetric fingerprint share pairs
    # (sink_snapshot_point_skipping is EAGER — fixture commits run at
    # construction — so it belongs to scripts/bench_gate_sf01.py)
    # round-11 additions (lazy construction; the snapshot delete/
    # replace and exchange-reuse gates are eager -> gate-bench script)
    "agg_spearman_corr",            # banded mid-ranks + decimal Pearson
    "timeseries_acf",               # demeaned lag products, one window
    "vocab_zipf_fit",               # log-log OLS over the vocab head
    "dedup_url_canonical",          # row-local URL canonicalize + count
    "sample_importance_dsir",       # DSIR hashed-bigram importance
    "text_unicode_nfc_profile",     # pandas-UDF NFC normalization
    "knn_mmr_rerank",               # unrolled greedy MMR over pools
    # (graph_bfs_distances and agg_count_min_sketch run driver
    # loops / driver-side sketch reads at CONSTRUCTION — eager, so
    # they bench in scripts/bench_gate_sf01.py like kmeans/kcore)
    "funnel_time_to_convert",       # two-stage funnel delay quantiles
    "multimodal_phash_dedup",       # dHash buckets over decoded media
    "stats_bootstrap_ci",           # one-pass Poisson bootstrap CIs
    # round-12 lazy registrations (ann_ivfpq_rerank,
    # sink_snapshot_clone, and the update-mode stream are eager ->
    # scripts/bench_gate_sf01.py; graph_label_propagation was eager
    # then, became a lazy EXTENDED entry in r15 — see below)
    "dedup_sorted_neighborhood",    # banded-rank SNM window pairs
    "link_fellegi_sunter",          # FS weights over FastSS blocks
    "ann_lsh_multiband",            # 4x8-bit OR'd LSH tables
    "ab_test_ratio_delta",          # delta-method ratio z-test
    "seq_path_topk",                # daily path strings top-k
    "text_feature_hashing",         # hashing-trick vectorizer
    "feature_target_encode_oof",    # leave-one-fold-out target means
    "join_asof_nearest",            # nearest as-of with tolerance
    "sample_balanced_classes",      # banded-rank minority downsample
    # round-13 lazy registrations (sink_snapshot_wap is eager ->
    # scripts/bench_gate_sf01.py)
    "ab_test_cuped",                # CUPED variance-reduced A/B readout
    "ab_test_did",                  # difference-in-differences, user-clustered
    "feature_woe_iv",               # weight-of-evidence + information value
    "period_over_period_growth",    # DoD/WoW exact-date growth joins
    "forecast_backtest_smape",      # naive/seasonal-naive sMAPE backtest
    "graph_adamic_adar",            # degree-capped wedge link prediction
    "dedup_incremental_bloom",      # bloom-prefiltered batch-vs-corpus dedup
    "batch_length_bucketing",       # power-of-two padding-waste planner
    "text_readability",             # Flesch reading-ease bands
    "knn_radius_cells",             # exact radius search, cell-pruned
    "stats_power_mde",              # power analysis / MDE closed forms
    "conformal_interval_split",     # split-conformal banded order statistic
    # round-14 lazy registrations (sink_snapshot_fsck is eager —
    # fixture commits + fsck scans at construction ->
    # scripts/bench_gate_sf01.py)
    "stats_sequential_msprt",       # always-valid mSPRT p-values
    "model_calibration_brier",      # reliability bins + Brier decomposition
    "ann_silhouette_cells",         # simplified silhouette per IVF cell
    "stats_group_sequential_peto",  # Haybittle-Peto group-sequential looks
    "model_eval_auc_binned",        # exact tie-aware AUC from score bins
    "model_calibration_isotonic",   # PAV calibration via minimax segments
    "ab_test_srm_check",            # sample-ratio-mismatch chi-square gate
    "embedding_matryoshka_fidelity",  # prefix-dim top-1 agreement + cos error
    "attribution_position_based",   # U-shaped multi-touch credit paths
    # (sink_snapshot_merge is eager — 4 commits + a real merge at
    # fixture build -> scripts/bench_gate_sf01.py)
    # round-15 lazy registrations
    "text_langid_hashed_ngram",     # trained hashed char-n-gram langid
    # r15 optimization: LPA's fixed 3-round unroll no longer
    # localCheckpoints per round (eager in PySpark 4), so it is now a
    # LAZY plan and benchable here; scripts/bench_gate_sf01.py keeps
    # its historical construct+action split for comparability.
    "graph_label_propagation",      # bounded synchronous LPA communities
]


#: Absolute floor (seconds) for the eager-construction strike
#: threshold. Construction cost is driver-side Py4J plan building —
#: it tracks plan width, not execution time, so the bar must not be
#: derived from a fast query's execution (see _time_query docstring).
_CONSTRUCT_FLOOR_S = 2.5


class ConstructionGuardTripped(RuntimeError):
    """Eager-construction guard exhausted its strikes for one query.

    Raised (and caught PER QUERY in main) so a single guard trip can
    never nullify the whole artifact: the r12 driver artifact came
    back ``parsed: null`` because one false-positive trip on a stalling
    driver host crashed the run at query 50/54 and lost every number.
    """


def _time_query(spark, fn, name: str, sf_dir: str) -> tuple[float, float]:
    """Warmup + min/median of 3 timed runs, with the eager-construction
    guard: construction must stay lazy (e.g. PySpark 4 localCheckpoint
    executes even with eager=False) or engine work escapes the timer
    and the reported number is fake.

    The guard fails only when slow construction PERSISTS (3 strikes):
    a multi-second construction stall can equally be a host/GC pause —
    measured r11: three different LAZY queries tripped a 2-strike
    guard in three consecutive bench runs on a stall-prone host, each
    a different query, none reproducible standalone. A genuinely eager
    query stalls on EVERY construction, so it still exhausts the
    strikes (and its stalled samples never enter the timing set —
    each strike discards the sample and retries the run).

    The strike threshold is floored at an ABSOLUTE 2.5 s, not a
    multiple of the query's own execution time: construction is
    driver-side Py4J plan building, whose cost tracks plan WIDTH
    (number of operators crossed over Py4J), not execution cost. A
    fast multi-stage query (r12 casualty: text_token_entropy, 0.41 s
    execution, explode→agg→join→agg construction) gets a ~1.2 s bar
    under a 3×-execution rule — inside ordinary stall range on a
    loaded host — while a genuinely eager query (kmeans' driver-
    coordinated Lloyd iterations, snapshot fixture commits) blows
    through 2.5 s on every single construction regardless."""
    best = float("inf")
    samples: list[float] = []
    slow = 0
    runs = 0
    while len(samples) < 3 and runs < 8:
        # Queries that persist() intermediates would otherwise be
        # served from cache on the repeat run (Spark's CacheManager
        # matches canonicalized plans across DataFrame objects) —
        # clear so every timed run is a cold query.
        spark.catalog.clearCache()
        tc = time.perf_counter()
        df = fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        runs += 1
        if runs == 1:
            continue  # run 0 is warmup (codegen compile, JIT, workers)
        ref = best if samples else (t1 - t0)
        if t0 - tc > max(_CONSTRUCT_FLOOR_S, 3 * ref):
            slow += 1
            if slow >= 3:
                raise ConstructionGuardTripped(
                    f"{name}: construction took {t0 - tc:.2f}s vs "
                    f"{ref:.2f}s timed on {slow} runs — eager work is "
                    "escaping the timer"
                )
            continue  # host stall: discard the sample, retry the run
        samples.append(t1 - t0)
        best = min(samples)
    # median alongside min: a round-over-round swing in `queries` is
    # classifiable as host noise (median stable, min moved) vs a real
    # regression (both moved) without a bisect.
    return round(best, 3), round(sorted(samples)[len(samples) // 2], 3)


def _time_query_isolated(
    spark,
    fn,
    name: str,
    sf_dir: str,
    errors: dict[str, str],
) -> tuple[float | None, float | None]:
    """Per-query failure isolation around ``_time_query``.

    A guard trip or any per-query exception records a ``None``
    sentinel (rendered ``null`` in JSON) plus the error text in
    ``errors``, and benching CONTINUES — the stdout contract line is
    always emitted with every other query's real number. One flaky
    query must never again cost the round its entire perf artifact
    (the r12 driver artifact, rc=1/parsed:null)."""
    try:
        return _time_query(spark, fn, name, sf_dir)
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        errors[name] = f"{type(exc).__name__}: {exc}"
        print(f"bench: {name} FAILED ({errors[name]})", file=sys.stderr)
        return None, None


def _bench_streaming(spark, sf_dir: str) -> tuple[float, float]:
    """Round-6 streaming headline: time one end-to-end checkpointed
    availableNow run of the watermarked tumbling agg (the r5 gate's
    plan) over the shared chunk fixture. The fixture build is EXCLUDED
    from the timing (it's pyarrow plumbing, not engine work), and each
    measured run gets a FRESH sink/checkpoint root — reusing one would
    make every run after the first a no-op restart. Returns (min,
    median) over 3 timed runs after 1 warmup, like the batch loop."""
    import shutil
    import tempfile

    from etl_gcp_function_tmabrasil_spark.queries import streaming_gate as sg

    chunks = sg._shared_chunks(sf_dir)  # untimed fixture build/reuse
    samples: list[float] = []
    for i in range(4):
        root = tempfile.mkdtemp(prefix="spark_graft_bench_stream_")
        t0 = time.perf_counter()
        sg.run_tumbling_stream(spark, chunks, root)
        dt = time.perf_counter() - t0
        shutil.rmtree(root, ignore_errors=True)
        if i > 0:
            samples.append(dt)
    return round(min(samples), 3), round(sorted(samples)[len(samples) // 2], 3)


#: Scale-probe query set (r16, opt-in): the heaviest compute-amplified
#: bench entries whose work parallelizes across cores — chosen so that
#: at the probe scale (sf1, 10× sf0.1) per-query fixed overhead (job
#: scheduling, codegen, Py4J) no longer dominates and the 8-vs-32-core
#: ratio can actually expose a serial operator. The r15 PERF scaling
#: block measured every sf0.1 headline ratio ≈ 1 for exactly that
#: overhead reason.
SCALE_PROBE = [
    "simjoin_prefix_jaccard",       # shingle explode, id window, id join + verify
    "text_langid_hashed_ngram",     # per-char md5 gram hashing
    "dedup_winnowing_containment",  # per-position md5 fingerprinting
    "agg_spearman_corr",            # 3 amplified lineitem passes
    "stats_bootstrap_ci",           # ×64 Poisson-replicate explode
]


def _scale_probe_main(spark) -> None:
    """Opt-in scale-probe mode (``SPARK_GRAFT_SCALE_PROBE=1``): time
    SCALE_PROBE against the 10×-sf0.1 fixture (generated once under
    /tmp by scripts/sf1_scale_probe.py's translator) with the same
    warmup+min-of-N machinery, and print ONE dedicated compact JSON
    line. The default bench path — and therefore the driver's stdout
    contract line, which is at capture-window capacity — is byte-
    identical when the env var is unset. The driver (or the judge) runs
    this mode at two core counts; the per-query ratio between the two
    artifacts is the scaling measurement the sf0.1 leg cannot provide.
    """
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "sf1_scale_probe", os.path.join(here, "scripts", "sf1_scale_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from etl_gcp_function_tmabrasil_spark.catalog import TABLES

    if not all(
        os.path.exists(os.path.join(mod.SF1, f"{t}.parquet")) for t in TABLES
    ):
        mod.generate()
    queries = all_queries()
    spark.range(1_000_000).selectExpr("sum(id) as s").write.format(
        "noop"
    ).mode("overwrite").save()
    timings: dict[str, float | None] = {}
    medians: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in SCALE_PROBE:
        timings[name], medians[name] = _time_query_isolated(
            spark, queries[name], name, mod.SF1, errors
        )
    total = round(sum(v for v in timings.values() if v is not None), 3)
    print(
        json.dumps(
            {
                "metric": "scale_probe_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": "sf1_probe",
                "cpus": spark.sparkContext.defaultParallelism,
            },
            separators=(",", ":"),
        )
    )


def main() -> None:
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE") == "1":
        spark = get_spark(app_name="bench_scale_probe")
        _scale_probe_main(spark)
        spark.stop()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir
    spark = get_spark(app_name="bench")
    queries = all_queries()
    # Untimed warmup: exercise JVM JIT, codegen, parquet reader, and the
    # noop-sink path once so the first timed query isn't charged for them.
    spark.range(1_000_000).selectExpr("sum(id) as s").write.format("noop").mode(
        "overwrite"
    ).save()
    queries["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Per query: one UNTIMED warmup execution (pays that plan shape's
    # codegen compile, JIT, and Python-worker spinup), then three
    # measured executions, min reported — single-shot local timings
    # vary ±30% from JIT/GC noise (measured: q1 runs 2.43/1.02/0.66 s
    # back-to-back), and warmup + min-of-N is the standard steady-state
    # estimator (hyperfine/JMH practice).
    #
    # The timer starts after DataFrame construction (driver-side Py4J
    # plan building is not engine execution); every headline query is
    # fully lazy, so all cluster work lands inside the timed action —
    # pinned by the construction-laziness check below.
    timings: dict[str, float | None] = {}
    medians: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        timings[name], medians[name] = _time_query_isolated(
            spark, queries[name], name, sf_dir, errors
        )
    # EXTENDED: same machinery, recorded only in BENCH_LOCAL.json (the
    # stdout line is at capacity and HEADLINE is append-only — see the
    # EXTENDED docstring above).
    ext_timings: dict[str, float | None] = {}
    ext_medians: dict[str, float | None] = {}
    for name in EXTENDED:
        ext_timings[name], ext_medians[name] = _time_query_isolated(
            spark, queries[name], name, sf_dir, errors
        )
    # streaming headline (eager end-to-end run; own timing path — the
    # lazy-construction loop above cannot time a streaming job). Same
    # isolation: a streaming hiccup must not nullify the batch numbers.
    try:
        timings["stream_tumbling_e2e"], medians["stream_tumbling_e2e"] = (
            _bench_streaming(spark, sf_dir)
        )
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        errors["stream_tumbling_e2e"] = f"{type(exc).__name__}: {exc}"
        print(
            f"bench: stream_tumbling_e2e FAILED ({errors['stream_tumbling_e2e']})",
            file=sys.stderr,
        )
        timings["stream_tumbling_e2e"] = None
        medians["stream_tumbling_e2e"] = None
    # Total over the queries that produced numbers; a null entry in
    # `queries` plus its name in `errors` marks the gap explicitly —
    # round-over-round total comparisons must check `errors` is empty.
    total = round(sum(v for v in timings.values() if v is not None), 3)
    # The driver captures only a ~2 KB TAIL of stdout and parses the
    # JSON line out of it (the r06 driver artifact came back parsed:null
    # when the line — 34 min + 34 median entries — outgrew the window
    # and lost its head). So stdout gets exactly ONE compact line, totals
    # first, min map only; the full record including medians goes to a
    # repo-side file. tests/test_bench_contract.py pins the stdout
    # line's worst-case size under the driver's capture window.
    full = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_extended": ext_timings,
        "queries_extended_median": ext_medians,
        "errors": errors,
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # Driver-invoked runs land in the gitignored BENCH_LOCAL_DRIVE.json
    # so they can never silently shadow the COMMITTED close-out profile
    # (the r13 drive overwrote the committed 48.769 s record with its
    # own 58.632 s host profile — r13 VERDICT item 3). The builder's
    # clean-host close-out opts into the committed artifact explicitly:
    #   SPARK_GRAFT_BENCH_ARTIFACT=BENCH_LOCAL.json python bench.py
    artifact = os.environ.get(
        "SPARK_GRAFT_BENCH_ARTIFACT", "BENCH_LOCAL_DRIVE.json"
    )
    with open(os.path.join(here, artifact), "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    stdout_payload = {
        k: v
        for k, v in full.items()
        if k in ("metric", "value", "unit", "queries", "sf")
    }
    print(json.dumps(stdout_payload, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
