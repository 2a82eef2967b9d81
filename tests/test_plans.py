"""Plan-shape guardrails: pin the physical-plan properties that make the
headline queries survive a 100 TB scale-up. A change that loses pushdown,
de-broadcasts a dim, or adds a shuffle fails here even if results stay
correct."""

from __future__ import annotations

import re

from etl_gcp_function_tmabrasil_spark.plans.inspect import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    has_take_ordered,
    pushed_filters,
    scan_read_schema,
)
from etl_gcp_function_tmabrasil_spark.queries.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
    q6_forecast_revenue,
)
from etl_gcp_function_tmabrasil_spark.queries.setops_dedup import sort_topk_orders
from etl_gcp_function_tmabrasil_spark.queries.windows import window_topk_per_group


def test_q6_filters_reach_scan(spark, sf_dir):
    q6 = q6_forecast_revenue(spark, sf_dir)
    pushed = " ".join(pushed_filters(q6))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"filter on {col} not pushed to parquet scan"


def test_q6_column_pruning(spark, sf_dir):
    cols = set(scan_read_schema(q6_forecast_revenue(spark, sf_dir)))
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, (
        "scan reads more columns than the query needs"
    )


def test_q1_single_aggregation_shuffle(spark, sf_dir):
    # partial+final agg: exactly one hash exchange (plus the output sort's
    # range exchange) — the fact stream must not shuffle twice
    n = count_exchanges(q1_pricing_summary(spark, sf_dir))
    assert n <= 2, f"q1 pays {n} shuffles; expected agg + final sort only"


def test_q5_dims_broadcast(spark, sf_dir):
    q5 = q5_local_supplier_volume(spark, sf_dir)
    assert has_broadcast_hash_join(q5), "q5 dims did not broadcast"


def test_global_topk_avoids_sort(spark, sf_dir):
    assert has_take_ordered(sort_topk_orders(spark, sf_dir)), (
        "orderBy+limit did not compile to TakeOrderedAndProject"
    )


def test_grouped_topk_single_shuffle(spark, sf_dir):
    df = window_topk_per_group(spark, sf_dir)
    assert count_exchanges(df) <= 2, "per-group top-k should shuffle once on the group key (+1 for final order)"


def test_q16_not_in_becomes_broadcast_anti_join(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        q16_supplier_part_counts,
    )

    plan = explain_str(q16_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti" in plan, "NOT IN subquery did not plan as an anti join"
    assert "BroadcastHashJoin" in plan, "small exclusion list did not broadcast"


def test_q21_exists_shapes_are_semi_and_anti(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        q21_waiting_suppliers,
    )

    plan = explain_str(q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, (
        "EXISTS/NOT EXISTS did not plan as semi/anti joins"
    )


def test_ivf_probe_join_is_selective_key_join(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.similarity import ann_ivf_cosine

    plan = explain_str(ann_ivf_cosine(spark, sf_dir))
    # candidate scan must be an equi-join on cell_id, never a cartesian
    # of queries x corpus
    assert "CartesianProduct" not in plan, "IVF degenerated to a cross join"


def test_scalar_subquery_broadcasts_one_row(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        q11_important_part_value,
    )

    plan = explain_str(q11_important_part_value(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "global-total threshold did not broadcast"
    )


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        decontaminate_ngram,
    )

    df = decontaminate_ngram(spark, sf_dir)
    assert has_broadcast_hash_join(df), "eval gram set did not broadcast"
    # Budget: 2 round-robin rebalances of *document rows* (single-row-
    # group layout guard — these shuffle the tiny pre-explode rows, not
    # the token stream) + eval distinct + per-doc agg + final sort. The
    # exploded corpus gram stream itself must never hit an exchange:
    # it flows scan -> explode -> broadcast join -> partial agg.
    n = count_exchanges(df)
    assert n <= 5, f"decontamination pays {n} shuffles; corpus grams leaked into one"


def test_pii_mask_is_scan_speed_projection(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        pii_mask_customer,
    )

    n = count_exchanges(pii_mask_customer(spark, sf_dir))
    assert n <= 1, f"PII mask pays {n} shuffles; expected final sort only"


def test_vocab_topk_avoids_global_sort(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        vocab_doc_frequency,
    )

    assert has_take_ordered(vocab_doc_frequency(spark, sf_dir)), (
        "vocab top-N did not compile to TakeOrderedAndProject"
    )


def test_pack_prefix_sum_only_bucket_table_single_task(spark, sf_dir):
    # two-pass prefix sum: the only SinglePartition exchange allowed is
    # the one carrying the per-bucket subtotal table (one row per 4096
    # docs); corpus rows must flow through bucket-hash exchanges only.
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        pack_token_budget,
    )

    plan = (
        pack_token_budget(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    hits = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert hits, "expected the tiny bucket-table prefix window"
    for i in hits:
        below = " ".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in below, (
            "corpus rows cross a single-task exchange (prefix sum not two-pass)"
        )
    assert "hashpartitioning(bkt" in plan, "running sum not partitioned by bucket"


def test_ntile_no_global_single_task_sort(spark, sf_dir):
    # distributed two-pass rank: customer rows shuffle on the balance
    # band only; any SinglePartition exchange must carry the tiny
    # per-band count table (sits directly above a HashAggregate).
    from etl_gcp_function_tmabrasil_spark.queries.windows import window_ntile

    plan = (
        window_ntile(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            below = " ".join(lines[i + 1 : i + 3])
            assert "HashAggregate" in below, (
                "customer rows cross a single-task exchange (global ntile sort)"
            )
    assert "hashpartitioning(bkt" in plan, "rank window not band-partitioned"


def test_bpe_pairs_topn_avoids_global_sort(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import bpe_merge_pairs

    df = bpe_merge_pairs(spark, sf_dir)
    assert has_take_ordered(df), "BPE top-N did not compile to TakeOrderedAndProject"
    n = count_exchanges(df)
    assert n <= 1, f"BPE pair count pays {n} shuffles; expected the pair agg only"
    # the keyed shuffle must carry pair keys, never the token stream
    plan = explain_str(df)
    assert len(re.findall(r"hashpartitioning\(pair", plan)) >= 1


def test_gram_matrix_shuffles_partials_not_corpus(spark, sf_dir):
    # the shuffle input must be the mapInPandas partial rows (i, j,
    # partial), never an exploded per-element corpus stream
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import (
        embedding_gram_matrix,
    )

    df = embedding_gram_matrix(spark, sf_dir)
    plan = explain_str(df)
    assert "Generate" not in plan, "gram matrix exploded the corpus declaratively"
    assert "MapInPandas" in plan


def test_funnel_stages_equi_join_on_user(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import (
        event_funnel_conversion,
    )

    plan = explain_str(event_funnel_conversion(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # stage predicates must reach the parquet scans
    pushed = " ".join(pushed_filters(event_funnel_conversion(spark, sf_dir)))
    assert "event_type" in pushed, "stage filter not pushed to scan"


def test_range_frame_window_keyed_on_time_bucket(spark, sf_dir):
    # ghost-bucket sliding aggregate: the RANGE window must partition on
    # (event_type, hour-bucket), never on the bare 5-value event_type.
    import re

    from etl_gcp_function_tmabrasil_spark.queries.windows import window_range_frame

    plan = (
        window_range_frame(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "range-frame window missing from plan"
    for spec in specs:
        assert "wb" in spec, f"window over bare event_type: {spec[:100]}"


def test_array_predicates_row_local(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.expr_gaps import (
        func_array_predicates,
    )

    n = count_exchanges(func_array_predicates(spark, sf_dir))
    assert n <= 1, f"array predicates pay {n} shuffles; expected final sort only"


def test_cume_dist_banded_rank_no_group_bottleneck(spark, sf_dir):
    # distribution windows must not sort a whole 5-value priority class
    # in one task: the rank window is keyed on (priority, price-band)
    # and the per-group band table feeds broadcasts.
    from etl_gcp_function_tmabrasil_spark.queries.expr_gaps import window_cume_dist

    import re

    plan = (
        window_cume_dist(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    # the row-level rank window (the one ordering by o_totalprice,
    # o_orderkey) must be partitioned by (priority, band); only the tiny
    # band-table prefix window may partition by bare priority.
    row_windows = [
        m.group(0)
        for m in re.finditer(r"Window \[[^\n]*", plan)
        if "o_orderkey" in m.group(0)
    ]
    assert row_windows, "row-level rank window missing from plan"
    for w in row_windows:
        assert "band" in w, f"row-level window over bare priority class: {w[:120]}"


def test_token_diversity_materializes_bigrams_once(spark, sf_dir):
    # the zip_with bigram build is interpreted (CodegenFallback); the
    # plan must evaluate it once per row, not re-inline it per use or
    # into a constraint-derived scan filter (explode would add one).
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_token_diversity,
    )

    df = text_token_diversity(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("zip_with") <= 1, "bigram zip_with duplicated in plan"
    n = count_exchanges(df)
    assert n <= 1, f"token diversity pays {n} shuffles; expected final sort only"


def test_per_row_curation_wave_is_sort_and_shuffle_free(spark, sf_dir):
    # round-4 terminal-sort removal: per-row-output queries must compile
    # to pure scan-speed projections — the driver's value hash is
    # order-insensitive, so any Sort or Exchange here is pure waste that
    # becomes a full-corpus range shuffle at 100 TB.
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        chunk_documents,
        embedding_quantize_int8,
    )
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_quality_score,
    )
    from etl_gcp_function_tmabrasil_spark.plans.inspect import count_sorts

    for fn in (text_quality_score, chunk_documents, embedding_quantize_int8):
        df = fn(spark, sf_dir)
        assert count_sorts(df) == 0, f"{fn.__name__} re-grew a sort"
        n = count_exchanges(df)
        assert n == 0, f"{fn.__name__} pays {n} shuffles; expected none"


def test_ann_ivf_single_topk_window_with_group_limit(spark, sf_dir):
    # round-4 rewrite: assignment and probe selection are ROW-LOCAL
    # array_min/array_sort over one broadcast centroid-array row — the
    # corpus side never shuffles until the final per-query top-k
    # window over candidate rows only, whose rank limit must push down
    # (WindowGroupLimit). The only hash exchanges left are the
    # single-row centroid-array collects (+ the top-k partitioning).
    from etl_gcp_function_tmabrasil_spark.queries.similarity import ann_ivf_cosine
    from etl_gcp_function_tmabrasil_spark.plans.inspect import (
        count_exchanges,
        count_windows,
        has_window_group_limit,
    )

    df = ann_ivf_cosine(spark, sf_dir)
    assert count_windows(df) == 1, "assign/probe windows crept back in"
    assert has_window_group_limit(df), "top-k rank limit did not push down"
    assert count_exchanges(df) <= 4, "IVF assignment started shuffling the corpus"


def test_multimodal_embed_knn_no_window(spark, sf_dir):
    # round-4: top-1 neighbor via min_by struct-argmin — no per-media
    # window sort anywhere in the banded-LSH kNN plan.
    from etl_gcp_function_tmabrasil_spark.queries.multimodal_q import (
        multimodal_embed_knn,
    )
    from etl_gcp_function_tmabrasil_spark.plans.inspect import count_windows

    assert count_windows(multimodal_embed_knn(spark, sf_dir)) == 0


def test_kmeans_codebook_loop_is_window_free_and_bounded(spark, sf_dir):
    # the Lloyd loop is joins + partial/final aggs only; the k-row init
    # window is cut by localCheckpoint. Exchanges stay bounded per
    # iteration (assign argmin + the two update aggs), independent of
    # corpus size.
    from etl_gcp_function_tmabrasil_spark.operators import reuse
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        kmeans_ivf_codebook,
    )
    from etl_gcp_function_tmabrasil_spark.plans.inspect import count_windows

    # pin the FRESH construction's shape: if an earlier test populated
    # the r16 trainer memo, the persisted centroid frame's formatted
    # explain embeds the cached relation's stored plan (AQE initial AND
    # final — the same exchanges printed twice), inflating the text
    # count this test pins (the pagerank test documents the same
    # cache-printout hazard)
    spark.catalog.clearCache()
    for key in [k for k in reuse._SLOTS.get(spark, {}) if k[0] == "kmeans_fit"]:
        reuse.release(spark, key)
    df = kmeans_ivf_codebook(spark, sf_dir)
    assert count_windows(df) == 0, "Lloyd loop grew a window sort"
    assert count_exchanges(df) <= 5, "k-means final iteration shuffles too much"


def test_pagerank_lazy_loop_reuses_cached_adjacency(spark, sf_dir):
    # round-4 rewrite: the fixed 3-iteration loop is ONE lazy plan (no
    # localCheckpoint — PySpark 4 materializes it at construction even
    # with eager=False). The load-bearing properties: no window sort
    # anywhere; each iteration reads the persisted adjacency from cache
    # and the rank seed reads the persisted degree table from cache —
    # seeding ranks from deg's own UNcached lineage used to re-run the
    # whole SimHash pair job a second time (measured 3.14 → 2.44 s at
    # sf0.1 when the seed moved onto the cache). The printed plan shows
    # 2·ITERS + 1 InMemoryTableScans: one per iteration for adj, whose
    # printed build subtree nests the deg cache scan (+ITERS), plus the
    # seed's own deg read.
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        PAGERANK_ITERS,
        pagerank_dedup_graph,
    )
    from etl_gcp_function_tmabrasil_spark.plans.inspect import count_windows

    # isolate from caches earlier tests left behind: CacheManager
    # matches by logical plan, so a stale same-lineage entry (or a
    # cached superset frame) changes the InMemoryTableScan count this
    # test pins exactly
    spark.catalog.clearCache()
    df = pagerank_dedup_graph(spark, sf_dir)
    try:
        assert count_windows(df) == 0, "PageRank loop grew a window sort"
        plan = df._jdf.queryExecution().executedPlan().toString()
        # edges, deg, AND adj are all cached (round-4: edges too, so
        # the adj build no longer re-runs the simhash pair job). The
        # printed plan nests cache-build subtrees, so each iteration
        # shows 4 InMemoryTableScans (adj + its build's deg + edges
        # twice) and the rank seed shows 2 (deg + its build's edges).
        assert plan.count("InMemoryTableScan") == 4 * PAGERANK_ITERS + 2, (
            "edges/degree/adjacency caches not serving every iteration + seed"
        )
    finally:
        spark.catalog.clearCache()


def test_setop_count_queries_construct_lazily(spark, sf_dir):
    # these two used to run eager .count() jobs at construction (3 jobs
    # + a createDataFrame each); the registry contract is a LAZY frame —
    # pin that constructing them schedules zero Spark jobs
    from etl_gcp_function_tmabrasil_spark.queries.setops_dedup import (
        distinct_count_full_rows,
        setop_union_intersect_except,
    )

    def n_jobs() -> int:
        return spark._jsc.sc().statusStore().jobsList(None).size()

    # warm construction once: the FIRST parquet load may schedule a
    # file-listing job, which is catalog overhead, not eager compute
    setop_union_intersect_except(spark, sf_dir)
    distinct_count_full_rows(spark, sf_dir)
    before = n_jobs()
    setop_union_intersect_except(spark, sf_dir)
    distinct_count_full_rows(spark, sf_dir)
    assert n_jobs() == before, "setop queries ran jobs at construction"


def test_heavy_hitters_counts_only_broadcast_candidates(spark, sf_dir):
    """agg_heavy_hitters' exact pass must join the token stream against
    the BROADCAST sketch candidates (selective shuffle of candidate
    tokens only) — a SortMergeJoin or missing broadcast would mean the
    full vocabulary flows through the exchange, defeating the
    sketch-then-verify design."""
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        agg_heavy_hitters,
    )

    plan = explain_str(agg_heavy_hitters(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_under_gate_confs(spark, sf_dir):
    """The bloom gate's plan claim, pinned independently of the gate's
    own hard-check: under _BLOOM_CONFS (shuffle join forced, app-side
    size floor lifted) Catalyst must build a bloom_filter_agg over the
    filtered dim's keys and inject might_contain into the fact side;
    with the session's normal confs (broadcast-eligible dim) it must
    NOT — a broadcast join already ships the filtered dim everywhere,
    so an injection there would be pure overhead."""
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        _BLOOM_CONFS,
        bloom_filtered_revenue,
    )

    saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        plan = explain_str(bloom_filtered_revenue(spark, sf_dir))
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    plan = explain_str(bloom_filtered_revenue(spark, sf_dir))
    assert "might_contain" not in plan, plan


def test_approx_percentile_sketch_is_partial_final_with_broadcast_verify(
    spark, sf_dir
):
    """agg_approx_percentile's GK sketch must ride one partial+final
    aggregation (the mergeable-sketch contract its SCALING entry
    claims) and its rank-bound verification join must BROADCAST the
    one-row-per-group sketch output — a SortMergeJoin would shuffle
    the fact table a second time just to check the theorem."""
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        agg_approx_percentile,
    )

    plan = explain_str(agg_approx_percentile(spark, sf_dir))
    assert "partial_percentile_approx" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ngram_jaccard_baseline_stays_block_keyed(spark, sf_dir):
    """The labeled-quadratic dedup baseline must stay quadratic only
    WITHIN (lang, source) blocks: its self-join has to be an equi-join
    on the block key, never a cartesian — a lost join key would turn
    the documented non-scale variant into an all-pairs blowup."""
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        dedup_ngram_jaccard,
    )

    plan = explain_str(dedup_ngram_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the block key must actually reach the join condition
    assert "lang" in plan and "source" in plan


def test_no_registered_query_grows_a_cartesian(spark, sf_dir):
    """Regression tripwire on the quadratic boundary (r5 verdict #3):
    across the WHOLE registry, only `join_cross` (the deliberate 5×5
    cross-join operator) may contain a CartesianProduct. Everything
    else — including the brute-force kNN and n-gram Jaccard labeled
    baselines — must keep its candidate generation on a broadcast or
    key-equi join, so the labeled-baseline boundary can't silently
    widen when a query is edited.

    Streaming/fixture gate queries are excluded: they run eager
    checkpointed jobs at construction (their plan pins live in their
    own tests) and a cartesian cannot hide in an availableNow
    file-replay pipeline unnoticed by its oracle."""
    from etl_gcp_function_tmabrasil_spark.queries import all_queries

    allowed = {"join_cross"}
    eager_prefixes = ("stream_", "scan_", "sink_", "etl_", "xlsx_")
    # driver-loop queries: constructing the DataFrame RUNS the full
    # iterative computation (Lloyd's / min-label / Pregel loops with
    # collects or localCheckpoints) — tens of seconds just to read a
    # plan string. Each has its own plan pin elsewhere in this file or
    # a no-cartesian assertion in its composition tests.
    eager_names = {
        "kmeans_ivf_codebook",
        "dedup_semantic_semdedup",
        "dedup_components",
        "dedup_cluster_representative",
        "pagerank_dedup_graph",
    }
    offenders = []
    spark.catalog.clearCache()
    for name, fn in all_queries().items():
        if name in allowed or name in eager_names or name.startswith(eager_prefixes):
            continue
        plan = explain_str(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    spark.catalog.clearCache()
    assert not offenders, f"non-broadcast cartesian grew in: {offenders}"


def test_bucketed_gate_join_only_shuffles_the_rollup(spark, sf_dir):
    """sink_bucketed_colocated_join: the orders⨝lineitem join must be
    exchange-free (both sides bucketed+sorted on the key at write time
    — the pay-the-shuffle-once layout), leaving the bounded-key
    priority rollup's exchange as the ONLY one in the plan. Two
    exchanges would mean the bucketed layout stopped informing the
    planner and the full fact tables shuffle again on every join."""
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        sink_bucketed_colocated_join,
    )

    df = sink_bucketed_colocated_join(spark, sf_dir)
    # exactly two exchanges, both POST-join: the rollup's partial→final
    # hash exchange and the presentation orderBy's range exchange
    n = count_exchanges(df)
    assert n == 2, f"expected rollup + orderBy exchanges only, got {n}"
    plan = explain_str(df)
    assert plan.count("Bucketed: true") == 2, plan
    # in the compact plan tree the join's whole subtree prints AFTER the
    # SortMergeJoin line — no Exchange may appear in it (both exchanges
    # sit above the join in the tree)
    tree = plan.split("(1) Scan")[0]
    below_join = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, tree


def test_global_rownum_avoids_single_task_funnel(spark, sf_dir):
    """window_global_rownum_scalable: the FULL table must flow through
    rangepartitioning + a pid-PARTITIONED window only. The plan's two
    SinglePartition exchanges are the provably bounded frames — the
    per-partition counts (one row per partition) feeding the offsets
    window and the count(1) scalar — never the data; a bare
    `row_number() OVER (ORDER BY …)` would add a SinglePartition
    exchange carrying the whole table."""
    from etl_gcp_function_tmabrasil_spark.queries.windows import (
        window_global_rownum_scalable,
    )

    df = window_global_rownum_scalable(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(o_orderkey" in plan, plan
    # the big window is partitioned by pid (its spec names pid)
    assert "windowspecdefinition(pid" in plan, plan
    # exactly the two bounded single-partition frames, no third
    assert plan.count("SinglePartition") == 2, plan
    # Correctness depends on BOTH consumers of `ranged` (the per-pid
    # counts and the numbered join) seeing the SAME sampled range
    # boundaries — range-partitioner sampling is tied to the physical
    # RDD instance, and without materialization Spark plans TWO
    # independent rangepartitioning exchanges that ReuseExchange does
    # NOT dedupe (verified r7: the join rewrites one side's exprIds),
    # so one partitioning's offsets could be applied to the other's
    # local row numbers (ADVICE r6). managed_persist collapses the fork
    # onto ONE cached materialization: both consumers must read
    # InMemoryTableScan (the printed plan repeats the cached exchange
    # under each InMemoryRelation block, but it executes once when the
    # cache populates — same pid values for both subtrees).
    assert plan.count("InMemoryTableScan") == 2, plan
    # every o_orderkey range exchange sits INSIDE a cached-plan block
    assert plan.count("Exchange rangepartitioning(o_orderkey") == plan.count(
        "InMemoryRelation"
    ), plan


def test_banded_quantiles_reuses_the_band_exchange_at_runtime(spark, sf_dir):
    """The banded-quantile docstring claims the shared groupBy(g, band)
    exchange is computed once for its two consumers (band offsets and
    per-group totals). The STATIC plan plans the subtrees
    independently (five scans printed — measured r7, same shape as
    the global-rownum hazard); what actually protects the single-scan
    property at 100 TB is AQE's runtime stage reuse. Pin it on the
    EXECUTED plan: if exchange reuse ever stops firing here, the
    full-table scan under the band table runs per consumer and this
    operator's cost doubles silently."""
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        agg_percentiles,
    )

    df = agg_percentiles(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    assert plan.count("ReusedExchange") >= 1, (
        "no runtime exchange reuse in agg_percentiles' final plan — "
        "the band table's parent scan is running once per consumer"
    )


def test_line_dedup_broadcasts_the_duplicate_set(spark, sf_dir):
    """dedup_corpus_lines joins back only the FILTERED duplicate set
    (boilerplate digests, tiny vs distinct lines) — the optimizer must
    broadcast it so the exploded lines table never shuffles for the
    join; its only full shuffle stays the count's partial-agg
    exchange. Executed-plan pin (AQE picks broadcast from the runtime
    size of the filtered side)."""
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        dedup_corpus_lines,
    )

    df = dedup_corpus_lines(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:300]
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, (
        "duplicate set did not broadcast — the lines table is paying a "
        "join shuffle"
    )


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """join_dpp_partitioned's fact scan must carry a dynamic-pruning
    subquery in its PartitionFilters: the dim filter is on a non-join
    column, so no static partition predicate exists — without DPP the
    scan reads every date directory and only the join discards rows.
    Executed-plan pin on the partitioned FileScan."""
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        join_dpp_partitioned,
    )

    df = join_dpp_partitioned(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "events_dpp" in line
    ]
    assert scan_lines, plan[:400]
    assert any("dynamicpruning" in line.lower() for line in scan_lines), (
        "fact scan has no dynamic pruning filter — every partition is read:\n"
        + scan_lines[0]
    )


def test_repeated_substrings_broadcasts_dup_set(spark, sf_dir):
    """dedup_repeated_substrings joins back only the FILTERED cross-doc
    duplicate set (tiny vs the distinct-window mass) — AQE must
    broadcast it so the sampled window table never shuffles for the
    join; its full shuffles stay the count's partial-agg exchange and
    the bounded per-doc rollup. Executed-plan pin, same contract as
    the line dedup's."""
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        dedup_repeated_substrings,
    )

    df = dedup_repeated_substrings(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:300]
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, (
        "duplicate set did not broadcast — the window table is paying a "
        "join shuffle"
    )


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """DSIR's 64-row log-ratio table must reach the per-doc counts as
    a broadcast — a shuffled join here would re-shuffle the corpus'
    (doc, bucket) rows on the bucket key for nothing."""
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import (
        sample_importance_dsir,
    )

    plan = explain_str(sample_importance_dsir(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_acf_means_broadcast(spark, sf_dir):
    """The per-type means (one row per event type) join back to the
    series as a broadcast; the lag window is the only series-sized
    sort."""
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        timeseries_acf,
    )

    plan = explain_str(timeseries_acf(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_spearman_has_no_whole_group_sort_window(spark, sf_dir):
    """The banded Spearman must keep every window on the BAND tables:
    a Window whose partition spec is the bare 3-value group key would
    re-introduce the single-task whole-group sort the decomposition
    exists to avoid. Band windows partition by (flag, band) or order
    the O(bands) band table — both specs carry 'band'."""
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        agg_spearman_corr,
    )

    plan = explain_str(agg_spearman_corr(spark, sf_dir))
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line
    ]
    assert specs, "expected band-table Window operators in the plan"
    for spec in specs:
        assert "band" in spec, f"whole-group window crept in: {spec}"
