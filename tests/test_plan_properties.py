"""Physical-plan regression tests: the scale-critical plan properties
documented in PERF.md are asserted here so a refactor can't silently
reintroduce a shuffle, lose a pushdown, or drop a broadcast.

These inspect ``executedPlan`` strings at sf0.001 — plan SHAPE is scale
independent (that's the point of asserting it), only the data volume
isn't.
"""

import pytest

from whisper_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = Q.QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_date_filter(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_q3_broadcasts_dimensions_and_pushes_segment(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # the customer-side predicate must reach the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_no_sort_merge_join(spark):
    """All dimension joins broadcast; the fact table never sort-merges."""
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lww_is_partial_aggregated(spark):
    """LWW must be a map-side-combinable aggregate, not a window sort."""
    plan = plan_of(spark, "ws_lww_seconds")
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_ivf_assign_is_narrow(spark):
    """Literal-centroid assignment: one scan, zero shuffles/joins."""
    plan = plan_of(spark, "emb_ivf_assign")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ivf_topk_minimal_shuffles(spark):
    plan = plan_of(spark, "emb_ivf_topk")
    # the probe->bucket join broadcasts; no sort-merge anywhere
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_q16_anti_join_broadcasts(spark):
    plan = plan_of(spark, "q16_supplier_cnt")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q13_outer_join_shape(spark):
    """Customer-preserving outer join; orders-side priority filter must
    reach the orders scan, not post-filter the join."""
    plan = plan_of(spark, "q13_custdist")
    assert "LeftOuter" in plan
    assert "o_orderpriority" in plan.split("PushedFilters")[1][:400] or (
        "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    )


def test_q14_pushes_shipdate_and_broadcasts_part(spark):
    plan = plan_of(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in plan
    assert "SortMergeJoin" not in plan


def test_top_bigrams_uses_distributed_topk(spark):
    """Global top-k must be TakeOrderedAndProject (distributed partial
    top-k), never a single-partition window over the full gram table."""
    plan = plan_of(spark, "doc_top_bigrams")
    assert "TakeOrderedAndProject" in plan


def test_store_fetch_prunes_partitions(spark, tmp_path):
    """The fetch path must show partition filters on (resolution, tb) and
    pushed ts bounds — the property that bounds IO at 100 TB."""
    from whisper_spark.store import WhisperStore

    NOW = 1700000000
    store = WhisperStore.create(spark, str(tmp_path / "db"), [(5, 60), (60, 30)])
    store.update_many([(NOW - i * 5, float(i)) for i in range(20)], now=NOW, metric="m")
    res = store.fetch("m", from_time=NOW - 299, until_time=NOW, now=NOW)
    assert res is not None
    (_, df) = res
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "resolution" in plan
    assert "tb" in plan
    pushed = plan.split("PushedFilters")[1][:300] if "PushedFilters" in plan else ""
    assert "ts" in pushed


def _pushed_filters(plan):
    """The filters pushed into the one parquet scan."""
    return plan.split("PushedFilters: [", 1)[1].split("], ", 1)[0]


def test_fetch_reads_the_window_and_its_ring_colliders(spark, tmp_path):
    """The fetch scan reads one predicate, whatever the store holds: the
    window, every later ts, and the window one span back, skipping the
    rows between ``last - span`` and ``from``, which share no ring slot
    with the window.  A store with only in-window points and one with a
    future point get the same pushed ts bounds, and either way the
    fetch is one parquet scan and one aggregate: one Exchange, no
    broadcast."""
    from whisper_spark.store import WhisperStore

    NOW = 1700000000
    SPAN = 5 * 60
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")  # untruncated filters

    def check(store, from_time, until_time):
        ((frm, until, step), df) = store.fetch(
            "m", from_time=from_time, until_time=until_time, now=NOW
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Exchange") == 1 and "BroadcastExchange" not in plan, plan
        pushed = _pushed_filters(plan)
        last = until - step
        assert f"GreaterThanOrEqual(ts,{frm - SPAN})" in pushed, pushed
        assert (
            f"Or(LessThanOrEqual(ts,{last - SPAN}),GreaterThanOrEqual(ts,{frm}))"
            in pushed
        ), pushed
        # no upper bound: later ts (future points) are read
        assert pushed.count("LessThanOrEqual(ts,") == 1, pushed

    try:
        # archive tb width = 5*TB_SLOTS; all points inside the window
        store = WhisperStore.create(spark, str(tmp_path / "db"), [(5, 60)])
        store.update_many([(NOW - i * 5, float(i)) for i in range(12)], now=NOW, metric="m")
        check(store, NOW - 59, NOW)

        # same points plus a future-timestamped one, read over a window
        # ending before NOW
        store2 = WhisperStore.create(spark, str(tmp_path / "db2"), [(5, 60)])
        store2.update_many(
            [(NOW - i * 5, float(i)) for i in range(12)] + [(NOW + 40, 99.0)],
            now=NOW, metric="m",
        )
        check(store2, NOW - 59, NOW - 45)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_all_series_fetch_is_partitioned_on_metric(spark, tmp_path):
    """``fetch(None)`` hash-partitions both union sides on ``metric``:
    the scan by a repartition, the key spine by its ``distinct``.  The
    union keeps that partitioning (``spark.sql.unionOutputPartitioning``,
    on by default), so the slot aggregate needs no exchange of its own,
    and a render's per-series window reuses it: no ``Exchange`` between
    the slot ``SortAggregate`` and the ``Window``."""
    import re

    from whisper_spark.store import WhisperStore

    NOW = 1700000000
    store = WhisperStore.create(spark, str(tmp_path / "db"), [(60, 120), (600, 100)])
    for m in ("a.cpu", "b.cpu"):
        store.update_many([(NOW - 60 * i, float(i)) for i in range(30)], now=NOW, metric=m)

    (_, df) = store.fetch(None, from_time=NOW - 3600, until_time=NOW, now=NOW)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+\([^)]*\))", plan)
    assert len(exchanges) == 2, plan
    assert all(re.fullmatch(r"hashpartitioning\(metric#\d+, \d+\)", e) for e in exchanges), plan

    out, _ = store.render("movingAverage(a.cpu, 3)", from_time=NOW - 3600, until_time=NOW, now=NOW)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window [" in plan and "SortAggregate(" in plan, plan
    between = plan.split("Window [", 1)[1].split("SortAggregate(", 1)[0]
    assert "Exchange" not in between, plan


def test_q21_single_fact_aggregate_no_cartesian(spark):
    """The EXISTS/NOT-EXISTS rewrite must stay one per-order aggregate
    joined back — no cartesian product, no second lineitem self-join
    beyond the ostats join, supplier/nation broadcast."""
    plan = plan_of(spark, "q21_suppliers_waiting")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q19_prunes_part_scan(spark):
    """The derivable brand residual must reach the part scan so the
    broadcast build side is pruned before the join."""
    plan = plan_of(spark, "q19_discounted_revenue")
    assert "p_brand" in plan.split("PushedFilters", 2)[-1][:600]
    assert "SortMergeJoin" not in plan


def test_q15_scalar_max_is_broadcast(spark):
    """The max-revenue scalar subquery must broadcast its 1-row result,
    never shuffle the revenue table twice."""
    plan = plan_of(spark, "q15_top_supplier")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_fixed_is_narrow(spark):
    """Chunking must be generate+explode over the scan: no shuffle."""
    plan = plan_of(spark, "doc_chunk_fixed")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_quantize_is_narrow(spark):
    plan = plan_of(spark, "emb_quantize_int8")
    assert "Exchange" not in plan and "Join" not in plan


def test_contamination_broadcasts_benchmark(spark):
    plan = plan_of(spark, "doc_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_recall_no_sort_merge(spark):
    """PQ search: distance tables and the re-rank shortlist broadcast;
    the corpus is never sort-merged."""
    plan = plan_of(spark, "emb_pq_recall")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_no_cartesian(spark):
    plan = plan_of(spark, "ev_funnel")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_clean_pipeline_single_wide_stage(spark):
    """The composed cleaning pipeline: canonicalization is the only
    groupBy; the gates stay scan-side (broadcast joins, no SMJ)."""
    plan = plan_of(spark, "doc_clean_pipeline")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_join_shapes(spark):
    """IVF-PQ: centroids, codebook, and distance tables broadcast.  The
    codes<->assignment join IS allowed to sort-merge — both sides are
    corpus-sized and share the vec_id key (the legitimate large-large
    equi-join at scale); what must never appear is a cartesian product
    or a sort-merge against one of the tiny index tables."""
    import re

    from whisper_spark.operators.similarity import ivf_residual_assign

    # the residual assignment is checkpointed before the query plan is
    # built, so its broadcasts (the coarse centroids) live in its own
    # plan; the codebook and distance-table broadcasts stay in the query
    res = ivf_residual_assign(Q._emb_qv_cached(spark, SF), n_coarse=4)
    res_plan = res._jdf.queryExecution().executedPlan().toString()
    plan = plan_of(spark, "emb_ivfpq_recall")
    for p in (res_plan, plan):
        assert "CartesianProduct" not in p
        # any SMJ must be on the corpus key, not on (s, code)/(cid) index keys
        for m in re.finditer(r"SortMergeJoin \[([a-z_]+)#", p):
            assert m.group(1) == "vec_id", p
    # centroid cross-join and the residual's centroid join both broadcast
    assert "BroadcastNestedLoopJoin" in res_plan
    assert res_plan.count("BroadcastHashJoin") >= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_filtered_topk_pushes_lang(spark):
    """Filtered ANN: the attribute filter must reach the documents scan
    (pre-filtering), not post-filter the scored pairs."""
    plan = plan_of(spark, "emb_filtered_topk")
    assert "EqualTo(lang,en)" in plan
    assert "SortMergeJoin" not in plan


#: every registered query that (directly, through a shared _*_cached
#: helper or through a nested registered-query call) reuses a derived
#: frame within one query, and so materializes it with localCheckpoint()
PERSISTING_QUERIES = [
    "doc_ngram_jaccard_pairs",      # _shingles_cached
    "doc_minhash_lsh_pairs",        # sig
    "doc_simhash_pairs",            # _simhash_fp_cached
    "doc_simhash_recall",           # _simhash_fp_cached
    "doc_lsh_recall",               # _shingles_cached, sig
    "doc_minhash_estimate_error",   # _shingles_cached, mh, _minhash_cand
    "doc_dup_triangles",            # _minhash_cand
    "doc_incremental_dedup",        # incremental index
    "doc_bigram_lm_score",          # d3, c2
    "doc_corpus_card",              # t
    "doc_bloom_membership",         # tok
    "doc_source_ngram_jaccard",     # counts
    "doc_curation_pipeline_v2",     # klm
    "emb_pq_recall",                # _emb_qv_cached
    "emb_ivfpq_recall",             # _emb_qv_cached, res
    "emb_pq_distortion",            # _emb_qv_cached
    "emb_srp_pairs",                # fp
    "ev_retention_cohorts",         # e, f
    "ev_type_cooccurrence",         # ut
    "ws_anomaly_mad",               # rk, dev
    "mm_image_neardup",             # fp
]


def test_reused_frames_do_not_contaminate_other_scans(spark):
    """No query may leave a frame in Spark's cache manager: a cached
    plan is substituted into ANY later query whose analyzed plan
    contains the same canonicalized subtree, so a cached raw
    ``load(...)`` silently strips parquet pushdown from every other
    query reading that table (regression: doc_incremental_dedup's
    cached documents scan cost emb_filtered_topk its lang pushdown).
    Build every query that reuses a derived frame — they checkpoint it,
    which adds no cache entry — then assert canaries from every family
    keep their pushdown and are not cache-substituted."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for name in PERSISTING_QUERIES + [
        "doc_dup_clusters", "emb_semdedup_survivors", "doc_bpe_token_counts",
    ]:
        Q.QUERIES[name].fn(spark, SF)
        assert cache.numCachedEntries() == before, name
    # documents scan elsewhere keeps its parquet pushdown
    plan = plan_of(spark, "emb_filtered_topk")
    assert "EqualTo(lang,en)" in plan
    # embeddings scan elsewhere is not substituted by a cache read
    plan = plan_of(spark, "emb_cosine_topk")
    assert "InMemoryTableScan" not in plan
    # events scans elsewhere keep their event_type pushdown and are
    # not substituted by a cache read
    plan = plan_of(spark, "ev_funnel")
    assert "event_type" in plan and "PushedFilters" in plan
    assert "InMemoryTableScan" not in plan
    # ws_* family: the min1 rollup has ~43 call sites — after
    # ws_anomaly_mad no other ws_* query may read a cache
    for canary in ("ws_render_target", "ws_rollup_1m_avg", "ws_ewma"):
        plan = plan_of(spark, canary)
        assert "InMemoryTableScan" not in plan, canary
    # doc family: a documents query keeps its scan
    plan = plan_of(spark, "doc_exact_dup_groups")
    assert "InMemoryTableScan" not in plan
    # registered queries whose output plans feed other queries'
    # checkpointed frames are never root-substituted by a cache read
    for canary in ("doc_simhash", "doc_minhash_lsh_pairs",
                   "doc_ngram_jaccard_pairs"):
        df = Q.QUERIES[canary].fn(spark, SF)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert not opt.startswith("InMemoryRelation"), canary


def test_asof_join_single_shuffle_no_join(spark):
    """The as-of match is forward-fill over ONE user-keyed shuffle — a
    plan with any join node would be the unbounded range-join shape the
    operator exists to avoid."""
    plan = plan_of(spark, "ev_asof_view_purchase")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_highest_avg_broadcasts_rank_back(spark):
    """The per-series rank table is one row per metric; joining it back
    over the scan must broadcast, never sort-merge."""
    plan = plan_of(spark, "ws_highest_avg_top2")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_matryoshka_recall_broadcast_only(spark):
    """Both ranking passes broadcast the 8-query side; the corpus is
    never shuffled for a join."""
    plan = plan_of(spark, "emb_matryoshka_recall")
    assert "SortMergeJoin" not in plan


def test_source_jaccard_no_cartesian(spark):
    """The source-pair counts come from the gram equi-join — a plan that
    degenerates to a cartesian/nested-loop product would be |A|x|B|."""
    plan = plan_of(spark, "doc_source_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_partial_aggregates(spark):
    """Both counting stages must map-side combine before their shuffle."""
    plan = plan_of(spark, "doc_tfidf_topterms")
    assert "partial_count" in plan


def test_trailing_window_queries_run_one_discovery_scan_per_session(spark):
    """The `hi = max(ts)` now-pin and the parquet schema read are cached
    per (session, dataset): after one discovery job, building every
    trailing-window query plan launches ZERO additional Spark jobs (at
    100 TB a per-query discovery is a full second pass over the fact
    table; a per-query footer job is real latency too)."""
    sc = spark.sparkContext

    def last_job():
        ids = sc.statusTracker().getJobIdsForGroup(None) or []
        return max(ids, default=-1)

    Q._NOW_CACHE.clear()
    Q.events_now(spark, SF)  # the one discovery job (warms both caches)
    n_before = last_job()
    for name in ("ws_ewma", "ws_holt_linear", "ws_integral_2h",
                 "ws_keep_last_6h", "ws_interpolate_6h",
                 "ws_linear_regression"):
        Q.QUERIES[name].fn(spark, SF)  # plan construction only, no action
    assert last_job() == n_before, (
        f"query construction launched {last_job() - n_before} extra job(s)"
    )


def test_substring_dedup_is_aggregation_only(spark):
    """The suffix-style window dedup must stay a posting-list
    aggregation pipeline: no join operator AT ALL (pairs come from
    in-list expansion), and exactly the two aggregate shuffles
    (posting build, pair count)."""
    plan = plan_of(spark, "doc_substring_dup_pairs")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_mix_allocation_single_scan(spark):
    """doc_mix_allocation reads the documents table exactly once — the
    shares/quotas all derive from one token aggregate."""
    plan = plan_of(spark, "doc_mix_allocation")
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


def test_reduce_series_single_shuffle(spark):
    """reduceSeries pairs matched series in ONE groupBy — the plan must
    contain exactly one Exchange (the (key, ts) aggregation), not a
    per-matcher join tree."""
    from whisper_spark.render import evaluate_target

    rows = [
        ("srv.a.disk.used", 0, 30.0), ("srv.a.disk.total", 0, 100.0),
        ("srv.b.disk.used", 0, 10.0), ("srv.b.disk.total", 0, 40.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(
        df,
        "reduceSeries(mapSeries(srv.*.disk.*, 1), 'asPercent', 3, 'used', 'total')",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_render_functions_list_matches_dispatch(spark):
    """Every name in render.FUNCTIONS must reach a real dispatch branch:
    evaluating it may fail on arity/args, but never with 'unknown
    function' — catches drift between the registry and the evaluator."""
    from whisper_spark.render import FUNCTIONS, TargetSyntaxError, evaluate_target

    rows = [("a.b.c", 0, 1.0), ("a.b.c", 60, 2.0), ("ref.x", 0, 1.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    for name in FUNCTIONS:
        try:
            evaluate_target(df, f"{name}(a.*.c, 1)")
        except TargetSyntaxError as e:
            assert "unknown function" not in str(e), name
        except Exception:
            pass  # arity/type errors are fine — dispatch was reached


def test_embedding_covariance_two_level_fold_no_join(spark):
    """Covariance is join-free: per-row triangle expansion + the
    round-6 two-level deterministic fold — groupBy((i,j,bucket)) with a
    bounded per-bucket buffer, then groupBy((i,j)) over the n_buckets
    partials.  Exactly two Exchanges (the second over d^2/2 x n_buckets
    bounded rows), never a join or cartesian product."""
    from whisper_spark.operators.similarity import embedding_covariance

    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        embedding_covariance(df, dim=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 2
    assert "partial_" in plan  # map-side partials before each shuffle


def test_bigram_lm_no_cartesian(spark):
    from whisper_spark.operators.textanalysis import bigram_lm_score

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        bigram_lm_score(df, vocab_size=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_encode_token_ids_broadcasts_vocab(spark):
    from whisper_spark.operators.textanalysis import (
        build_vocab,
        encode_token_ids,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        encode_token_ids(df, build_vocab(df, vocab_size=100))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def _unbounded_global_windows(plan: str) -> list[str]:
    """Window nodes with no partition spec whose input is NOT bounded by
    a limit.  Signature (verified empirically): a partition-less window
    forces ``Exchange SinglePartition`` in its subtree, while a
    limit-bounded one sits on TakeOrderedAndProject / GlobalLimit."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        i = 0
        while i < len(ln) and ln[i] in " +-:*(":
            i += 1
        return i

    bad = []
    for i, ln in enumerate(lines):
        if "Window " not in ln:
            continue
        # exempt pure time folds: a window ordered ONLY by ts is a
        # per-series sequential recurrence; it goes partition-less only
        # when upstream aggregation collapsed the list to ONE series
        # (metric became a literal Catalyst folds out of the partition
        # spec), and one series' render range is bounded by
        # time-range/step — it is not a series-rank scale risk
        spec = ln.split("windowspecdefinition(", 1)[-1]
        spec = spec.split("specifiedwindowframe", 1)[0]
        order_cols = [c.strip() for c in spec.split(",") if c.strip()]
        if order_cols and all(c.startswith("ts#") for c in order_cols):
            continue
        d = depth(ln)
        for j in range(i + 1, len(lines)):
            if depth(lines[j]) <= d:
                break
            t = lines[j]
            if ("TakeOrderedAndProject" in t or "GlobalLimit" in t
                    or "CollectLimit" in t or "LocalLimit" in t):
                break  # bounded: the window ranks <= n survivors
            if "Exchange SinglePartition" in t:
                bad.append(ln.strip())
                break
    return bad


RENDER_QUERIES = [
    "ws_render_target", "ws_render_pie", "ws_render_target_ratio",
    "ws_render_target_filter", "ws_render_target_topk",
    "ws_render_target_window", "ws_render_target_tags",
    "ws_render_target_reduce", "ws_render_target_group",
    "ws_highest_avg_top2", "ws_sort_by_total_top3",
    "ws_percentile_series_p50", "ws_remove_above_p90",
]


@pytest.mark.parametrize("name", RENDER_QUERIES)
def test_render_queries_have_no_unbounded_global_window(spark, name):
    """Round-7 scale guard (VERDICT r6 task 4): no render-family query
    may rank/sort through a partition-less WindowExec over an unbounded
    frame — top-N functions rank only orderBy().limit() survivors
    (TakeOrderedAndProject), pairing ranks come from a
    MAX_QUERY_SERIES-guarded broadcast table, and percentile bands are
    TakeOrdered selections."""
    plan = plan_of(spark, name)
    assert not _unbounded_global_windows(plan), (
        name, _unbounded_global_windows(plan))


def test_gopher_rules_shuffle_free_pruned_scan(spark):
    """The Gopher scorer is per-row: no exchange anywhere, and the
    scan reads only (doc_id, text) with the null filter pushed."""
    plan = plan_of(spark, "doc_gopher_rules")
    assert "Exchange" not in plan
    assert "IsNotNull(text)" in plan
    assert "struct<doc_id:bigint,text:string>" in plan


def test_c4_filters_shuffle_free(spark):
    """The C4 transforming filter is per-row higher-order expressions:
    no exchange, pruned two-column scan."""
    plan = plan_of(spark, "doc_c4_filters")
    assert "Exchange" not in plan
    assert "struct<doc_id:bigint,text:string>" in plan


def test_repetition_full_narrow_key_exchanges(spark):
    """The full repetition metrics shuffle ONLY on narrow keys —
    (doc_id, n, gram) then (doc_id, n) then doc_id — never on text or
    gram arrays, and never via a window over the whole corpus."""
    plan = plan_of(spark, "doc_repetition_full")
    import re
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    for k in keys:
        # last tuple element is the partition count; the rest are keys
        cols = {c.strip().split("#")[0] for c in k.split(",")}
        cols = {c for c in cols if c and not c.isdigit()}
        assert cols <= {"doc_id", "n", "g"}, (cols, k)


def test_bm25_topk_broadcast_stats_distributed_topk(spark):
    """BM25: corpus stats broadcast back as a 1-row join (never a
    shuffle of the corpus against itself), scoring stays per-row, and
    the top-k is distributed TakeOrderedAndProject — no global Sort,
    no SortMergeJoin."""
    plan = plan_of(spark, "doc_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quality_features_single_projection_no_exchange(spark):
    """The feature matrix must be ONE per-row projection over the scan
    — no exchange, no join (the anti-pattern is one shuffle per
    feature family), with the scan pruned to (doc_id, text)."""
    plan = plan_of(spark, "doc_quality_features")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "struct<doc_id:bigint,text:string>" in plan


def test_quality_logit_select_per_group_window(spark):
    """Classifier selection must rank within source partitions — a
    hashpartitioning on source, never a single-partition global sort."""
    plan = plan_of(spark, "doc_quality_logit_select")
    assert "hashpartitioning(source" in plan
    assert "Exchange SinglePartition" not in plan
