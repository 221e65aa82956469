"""Plan-shape regression tests: the SCALE.md invariants, asserted against the
physical plan so a refactor that silently de-optimizes a query class fails CI
— scan pruning/pushdown, broadcast policy, top-k without global sort, no
nested-loop joins where an equi conjunct exists."""

from __future__ import annotations

import os

from etl_lala_spark.plans import query_fns


def plan_of(spark, name, sf_dir) -> str:
    return query_fns()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns are read
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema and "l_returnflag" in read_schema
    # partial+final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "topk_parts_by_revenue", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 10


def test_star_joins_broadcast_dimensions(spark, sf_dir):
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        plan = plan_of(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "NestedLoop" not in plan, name


def test_range_join_is_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "join_range_part_qty", sf_dir)
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # equi conjunct drives the join


def test_asof_window_form_has_no_join(spark, sf_dir):
    plan = plan_of(spark, "asof_join_window", sf_dir)
    assert "Join" not in plan  # union + single window pass


def test_rollup_expands_before_partial_agg(spark, sf_dir):
    plan = plan_of(spark, "rollup_pricing", sf_dir)
    assert "Expand" in plan
    assert plan.index("Expand") > plan.index("HashAggregate")  # Expand is below agg


def test_q4_semi_join_keeps_equi_key(spark, sf_dir):
    """EXISTS with an inter-table inequality: the equi conjunct must drive a
    hash semi join (inequality as residual), never a nested loop."""
    plan = plan_of(spark, "q4_order_priority", sf_dir)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, "q6_forecast_revenue", sf_dir)
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # 4-column projection only


def test_q2_decorrelated_min_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, "q2_min_cost_supplier", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 without global sort


def test_datasus_dbc_source_prunes_below_the_decode(spark, sf_dir):
    """The provenance predicate of datasus_dbc_source is pushed below the
    decode's Generate to the binaryFile scan, so the second file is never
    exploded, and the plan has no Python node (UDF, Arrow eval or Python
    data source)."""
    plan = plan_of(spark, "datasus_dbc_source", sf_dir)
    assert "Python" not in plan
    scan = plan.index("FileScan binaryFile")
    assert plan.index("Generate inline") < plan.index("Filter") < scan
    assert "PAPE2501" in plan[plan.index("Filter") : scan]


def test_q21_single_wide_shuffle(spark, sf_dir):
    """The one-agg rewrite of Q21 must not re-shuffle lineitem per EXISTS:
    at most two exchanges touch lineitem-derived data (join + order agg)."""
    plan = plan_of(spark, "q21_suppliers_kept_waiting", sf_dir)
    assert "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_bm25_single_projection_no_explode(spark, sf_dir):
    """BM25 term frequencies ride one JVM-side projection: no Generate
    (explode) node and no Python UDF in the plan."""
    plan = plan_of(spark, "text_bm25_retrieval", sf_dir)
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be live: after execution, the adaptive plan of a grouped
    aggregate shows AQEShuffleRead coalescing the tiny shuffle."""
    df = query_fns()["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan


def test_diag_key_skew_never_sorts_fact_table(spark, sf_dir):
    plan = plan_of(spark, "diag_key_skew", sf_dir)
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert plan.count("HashAggregate") >= 2  # map-side combine on the key


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """A selective dim filter feeding a shuffle join injects a bloom-filter
    semi-join reduction (`might_contain`) on the fact scan, dropping most
    fact rows before the shuffle. Local test data sits under the 10 MB
    creation-side threshold, so the thresholds are lowered here to assert
    the rewrite itself fires; production keeps the stock thresholds."""
    from etl_lala_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        urgent = orders.filter("o_orderpriority = '1-URGENT'").select("o_orderkey")
        q = li.join(urgent, li.l_orderkey == urgent.o_orderkey).groupBy().count()
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_load(spark, sf_dir, tmp_path):
    """Tables written partitioned by the incremental writer are DPP-eligible:
    joining on the partition column against a filtered broadcast dimension
    puts a dynamicpruningexpression into the scan's PartitionFilters, so only
    the matching partition directories are listed and read — at 100 TB the
    other partitions never leave object storage."""
    from pyspark.sql import functions as F

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import load_incremental

    path = str(tmp_path / "li_by_flag")
    li = load_table(spark, sf_dir, "lineitem")
    load_incremental(spark, li, path, part_col="l_returnflag")

    part = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], ["flag", "tag"]
    )
    q = (
        part.join(F.broadcast(dim), part.l_returnflag == dim.flag)
        .filter(F.col("tag") == "keep")
        .groupBy("flag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan


def test_market_basket_has_no_join(spark, sf_dir):
    """Pair mining must generate C(n,2) inside each task (array lambdas
    after one groupBy) — never as a lineitem self-join."""
    plan = plan_of(spark, "market_basket_pairs", sf_dir)
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL top-n must decorrelate: partial per-group
    limit below the shuffle, one equi-join, no per-row subquery NLJ."""
    plan = plan_of(spark, "join_lateral_topn", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_is_single_sketch_agg(spark, sf_dir):
    """approx_top_k aggregates to ONE sketch row (partial+final, no
    per-key shuffle of raw counts) before the explode."""
    plan = plan_of(spark, "events_heavy_hitters", sf_dir)
    assert "approx_top_k" in plan
    assert plan.count("Exchange") <= 1  # only the partial->final singleton


def test_quantization_has_no_explode(spark, sf_dir):
    """Vector quantization stays in array lambdas: no Generate (explode)
    node — the 64x row inflation it avoids."""
    plan = plan_of(spark, "embedding_quantize_int8", sf_dir)
    assert "Generate" not in plan


def test_rag_chunking_is_zero_shuffle_narrow_map(spark, sf_dir):
    """Chunking must stay a narrow map: one scan, no join/agg; the only
    exchange is the presentation orderBy."""
    plan = plan_of(spark, "rag_chunk_documents", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "HashAggregate" not in plan
    assert plan.count("Exchange") == 1


def test_source_mixing_scans_corpus_once(spark, sf_dir):
    """The normalizer must come from the per-source aggregate, not a second
    corpus branch — a naive agg-of-agg cross join doubles the 100 TB scan."""
    plan = plan_of(spark, "curate_source_mixing", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_kmeans_assignment_broadcasts_codebook(spark, sf_dir):
    """Lloyd assignment must reach the corpus via a broadcast codebook —
    never a shuffle join of the corpus against centroids."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    asg = sim.kmeans_fit(emb, dim=64, k=4, iters=1)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_er_fuzzy_join_runs_on_deduped_domain(spark, sf_dir):
    """The quadratic ER step must run on the distinct-name domain (post-agg),
    so the self-join's inputs are aggregates, not raw part scans feeding the
    join directly."""
    plan = plan_of(spark, "er_fuzzy_part_names", sf_dir)
    assert plan.count("Scan parquet") == 2  # two branches of the self-join
    # each branch aggregates to the name domain before joining
    assert plan.count("HashAggregate") >= 4


def test_weighted_sample_is_partial_topk(spark, sf_dir):
    """A-Res sampling must cut via TakeOrderedAndProject (partial top-k);
    the ranking window sees only the k survivors, never the corpus."""
    plan = plan_of(spark, "curate_weighted_sample", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_behavior_similarity_rank_uses_window_group_limit(spark, sf_dir):
    """The per-query rank filter must rewrite to WindowGroupLimit (partial
    per-partition top-k before the final window)."""
    plan = plan_of(spark, "behavior_similarity_topk", sf_dir)
    assert "WindowGroupLimit" in plan


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_view():
    """(registry, driver order, last_checked, last_green, pins) as the
    driver contract (``__spark_entry__``) sees them."""
    import json
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from etl_lala_spark.plans import all_queries

    with open(entry.PINS_PATH) as fh:
        pins = json.load(fh)
    assert pins == sorted(set(pins)), "RECHECK_PINS.json is one sorted list"
    last_checked, last_green = entry.correctness_records()
    return all_queries(), list(entry.queries()), last_checked, last_green, set(pins)


def _recheck_pins_tool():
    import importlib
    import sys

    tools = os.path.join(REPO, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    return importlib.import_module("recheck_pins")


def test_driver_rotation_window_is_valid():
    """The driver materializes CORRECTNESS rows for the first ~50 entries of
    ``__spark_entry__.queries()``, so that order IS the verification
    budget. Guards: (a, round-4 verdict #3) no never-driver-checked query
    may ever sort outside the first 50; (b) verified queries must be
    ordered by staleness — oldest green/ran round first — so the driver
    budget always lands on the stalest signal."""
    import __spark_entry__ as entry

    qs, order, last_checked, last_green, pins = _driver_view()
    assert last_green, "repo carries at least the round-1 CORRECTNESS record"
    assert sorted(order) == sorted(qs), "the driver order is a permutation"
    assert pins <= set(qs), "RECHECK_PINS.json names an unregistered query"
    # oracle_sql() keeps the same order over the oracle-backed queries.
    assert list(entry.oracle_sql()) == [n for n in order if qs[n].oracle is not None]
    # Guard (a): every query with no driver row in any CORRECTNESS record
    # must appear within the driver's 50-row cap.
    never = {n for n in qs if n not in last_checked}
    for n in never:
        assert order.index(n) < 50, (
            f"never-driver-checked query {n} at position {order.index(n)} — "
            f"outside the driver's 50-row window"
        )
    # Never-checked queries lead, ahead of every re-check.
    queued = [n for n in order if n in never]
    assert order[: len(queued)] == queued
    # Oracle-backed checked-but-never-green (red awaiting retry) outrank
    # every verified re-check.
    tail = order[len(queued):]
    red = [n for n in tail if qs[n].oracle is not None and n not in last_green]
    assert tail[: len(red)] == red, "red retries must precede verified re-checks"
    # Guard (b): the verified remainder splits into the changed-since-green
    # pins (evidence invalidated by a later code change, r10 verdict task
    # 1) followed by plain re-checks, each sorted least-recently-verified
    # first.
    verified = tail[len(red):]
    ch = [n for n in verified if n in pins]
    plain = [n for n in verified if n not in pins]
    assert verified[: len(ch)] == ch, (
        "changed-since-green pins must precede plain re-checks"
    )

    def vintage(n: str) -> int:
        return last_green[n] if qs[n].oracle is not None else last_checked[n]

    for seq in (ch, plain):
        st = [vintage(n) for n in seq]
        assert st == sorted(st), (
            "re-checks must be least-recently-verified first within a tier"
        )
    # The concrete round-6 payoff, on the PLAIN remainder (pins occupy
    # their slots by design and may fill the cap entirely): no plain
    # verified query outside the cap is staler than the plain ones inside.
    plain_in = [n for n in order[:50] if n in plain]
    plain_out = [n for n in order[50:] if n in plain]
    if plain_in and plain_out:
        assert min(vintage(n) for n in plain_in) <= min(
            vintage(n) for n in plain_out
        ), "a staler plain verified query sits outside the 50-row cap"


def test_new_curation_operators_plan_shapes(spark, sf_dir):
    # Repetition signals: pure within-row folds — one pruned 2-column scan,
    # a single partial+final aggregate, no join and no explode.
    plan = plan_of(spark, "text_dup_ngram_coverage", sf_dir)
    assert "Join" not in plan and "Generate" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" not in read_schema and "n_chars" not in read_schema

    # Repeated-block dedup: the banned set must come back as a BROADCAST
    # join (heavy-hitters-only side), never a shuffle join on block text.
    plan = plan_of(spark, "dedup_repeated_blocks", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # Bigram LM: no nested-loop anywhere; LM joins are hash joins.
    plan = plan_of(spark, "text_bigram_lm_perplexity", sf_dir)
    assert "NestedLoop" not in plan


def test_triangle_count_materializes_edges_once(spark, sf_dir):
    """The co-purchase edge list feeds five consumers; without the
    checkpoint the whole mining pipeline re-executes per consumer
    (observed: 18 lineitem scans). Checkpointed, the plan contains no
    parquet scan at all and single-digit exchanges."""
    plan = plan_of(spark, "graph_triangle_count", sf_dir)
    assert "FileScan parquet" not in plan
    assert plan.count("Exchange") <= 12
    # wedge + closing joins are equi-joins, never a nested loop over edges
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            # only the final 1-row stat assembly may nested-loop
            assert "Cross" in line or "Inner" in line


def test_jl_projection_is_single_narrow_map(spark, sf_dir):
    """All 16 output coordinates are codegen folds in one projection over
    one scan — no Generate (explode), no Python, and only the final
    orderBy's range exchange."""
    plan = plan_of(spark, "embedding_random_projection", sf_dir)
    assert "FileScan parquet" in plan
    assert "Generate" not in plan and "Python" not in plan
    assert plan.count("Exchange") <= 1
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "label" not in read_schema  # column pruning holds


def test_events_funnel_single_fact_shuffle(spark, sf_dir):
    """Funnel: both cumulative-flag windows share the (user_id; ts, event_id)
    partitioning — ONE events shuffle feeds two Window nodes, no self-joins
    (the textbook 3-CTE funnel re-scans events per stage)."""
    plan = plan_of(spark, "events_funnel_conversion", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Window") == 2
    assert "Join" not in plan


def test_events_peak_concurrency_single_scan(spark, sf_dir):
    """Sweep-line peak concurrency: the ±1 boundary points come from one
    explode (not a subtree-duplicating union) and the argmin-at-peak is
    folded into the final aggregate (not a broadcast self-join) — events is
    scanned exactly once. r2's shape scanned it 4×."""
    plan = plan_of(spark, "events_peak_concurrency", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_events_seasonal_baseline_single_scan(spark, sf_dir):
    """Hour-of-day baseline: derived from the hourly pre-agg via an unbounded
    window, never by re-aggregating events and joining back — one scan."""
    plan = plan_of(spark, "events_seasonal_baseline", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_events_sessionization_single_user_shuffle(spark, sf_dir):
    """Gap-rule sessionization (and its session_ids twin): the lag flag and
    the running session counter share one (user_id) partitioning — a single
    events shuffle, two stacked Window nodes, no join."""
    for name in ("events_sessionization", "events_session_ids"):
        plan = plan_of(spark, name, sf_dir)
        assert plan.count("Scan parquet") == 1, name
        assert plan.count("Exchange hashpartitioning(user_id") == 1, name
        assert "Join" not in plan, name


def test_events_enrichment_broadcasts_user_dim(spark, sf_dir):
    """Fact-events × customer-dim enrichment must broadcast the dimension —
    never shuffle events on the join key."""
    plan = plan_of(spark, "events_user_enrichment", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_events_trending_topk_uses_window_group_limit(spark, sf_dir):
    """Per-window trending top-k: rank-filter must plan as WindowGroupLimit
    (partial top-k on both shuffle sides), not a full sort + filter."""
    plan = plan_of(spark, "events_trending_topk", sf_dir)
    assert "WindowGroupLimit" in plan


def test_events_rollups_scan_once_no_python(spark, sf_dir):
    """The grouped-rollup family (tumbling/sliding/hourly-active/tagged-union/
    json-props/variant-props/dedup/gap-detection/rate-anomaly): one events
    scan, JVM-only expressions (no Python eval in the plan)."""
    for name in (
        "events_tumbling_window", "events_sliding_window",
        "events_hourly_active_users", "events_tagged_union",
        "events_json_props", "events_variant_props", "events_dedup_exact",
        "events_gap_detection", "events_rate_anomaly",
    ):
        plan = plan_of(spark, name, sf_dir)
        assert plan.count("Scan parquet") == 1, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_executed_plan_single_scan_ground_truth(spark, sf_dir):
    """Ground-truth complement to the text asserts above: walk the FINAL
    adaptive plan after execution (plan_audit.executed_scan_counts) and pin
    the per-evaluation scan counts — text grep can overcount (cached
    subtrees, AQE initial plan) or undercount (reused stages)."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from plan_audit import executed_scan_counts

    expected = {
        "events_peak_concurrency": 1,
        "events_seasonal_baseline": 1,
        "events_funnel_conversion": 1,
        "q1_pricing_summary": 1,
        # base + the single-scan changelog's two consumers (winner agg,
        # anti-join broadcast) — the naive 3-slice union form costs 7
        "cdc_merge_apply": 3,
        # distribution scan + scoring scan; bucket totals ride a window
        # over the 64-row stats, never a second tokenize of the corpus
        "curate_importance_resampling": 2,
    }
    fns = query_fns()
    for name, n_scans in expected.items():
        df = fns[name](spark, sf_dir)
        df.collect()
        c = executed_scan_counts(df)
        assert c["scan"] == n_scans, (name, c)
        assert c["python_eval"] == 0, (name, c)


def _headline_budget() -> dict:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "plan_scan_budget.json")
    with open(path) as fh:
        return json.load(fh)


def test_headline_scan_budget_holds(spark, sf_dir):
    """Full-coverage executed-plan regression gate (r3 verdict item 8): for
    EVERY bench headline query, the number of file scans that actually
    re-run per evaluation — and the number of Python/Arrow eval nodes —
    must match the snapshot plan_audit.py recorded
    (tests/plan_scan_budget.json, regenerated with `python plan_audit.py`).
    This is the net that holds the single-scan rewrites (7→3 CDC, 3→2
    DSIR, single-scan sweep-line events) and the zero-Python-in-hot-path
    discipline against silent refactor regressions."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from bench import HEADLINE
    from plan_audit import executed_scan_counts

    budget = _headline_budget()
    assert set(HEADLINE) <= set(budget), (
        "regenerate tests/plan_scan_budget.json: `python plan_audit.py`"
    )
    fns = query_fns()
    failures = []
    for name in HEADLINE:
        df = fns[name](spark, sf_dir)
        # collect() finalizes df's OWN adaptive plan (a noop write executes
        # a separate QueryExecution, hiding runtime exchange reuse)
        df.collect()
        c = executed_scan_counts(df)
        spark.catalog.clearCache()
        want = budget[name]
        if c["scan"] > want["scan"] or c["python_eval"] > want["python_eval"]:
            failures.append((name, {k: c[k] for k in ("scan", "python_eval")}, want))
    assert not failures, failures


def test_rotation_window_recheck_slots_go_to_stalest_cohort():
    """Round-7 rotation hygiene (round-6 verdict #8): after tier 1 (the
    never-driver-checked registrations of this round), the window's
    re-check slots must be filled by the OLDEST-vintage cohort — entering
    round 7 that is the 37 queries whose latest green is r2, so the
    staleness floor provably rises each round. Phrased vintage-relative so
    the assertion keeps holding in later rounds."""
    qs, order, last_checked, last_green, pinned = _driver_view()
    window = order[:50]

    def staleness(n: str) -> int:
        return (
            last_green[n]
            if qs[n].oracle is not None and n in last_green
            else last_checked[n]
        )

    never = [n for n in window if n not in last_checked]
    # Tier-2 retries (oracle-backed, checked, NEVER hash-green — the
    # driver order front-loads them ahead of every re-check) are excluded
    # from the re-check-slot assertions so one future red row on a new
    # query doesn't fail this test for an unrelated reason. Likewise the
    # RECHECK_PINS.json pins (r10 verdict task 1: invalidated evidence
    # outranks stale evidence) occupy window slots by design. Rows-only
    # queries are verified like greens (mirrors __spark_entry__'s key()).
    retries = [
        n
        for n in order
        if n in last_checked
        and qs[n].oracle is not None
        and n not in last_green
    ]
    greens = [
        n
        for n in order
        if n in last_checked and n not in retries and n not in pinned
    ]
    oldest = min(staleness(n) for n in greens)
    cohort = [n for n in greens if staleness(n) == oldest]
    reserved = len(never) + len(retries) + len(
        [p for p in pinned if p in qs and p in last_checked]
    )
    if reserved + len(cohort) <= 50:
        missing = [n for n in cohort if n not in window]
        assert not missing, (
            f"stalest (r{oldest}-vintage) cohort not fully inside the "
            f"50-row window: {missing}"
        )
    else:
        rechecks = [n for n in window if n in greens]
        assert all(staleness(n) == oldest for n in rechecks), (
            "window re-check slots must be exclusively the oldest cohort "
            "when it overflows the cap"
        )


def test_change_aware_pins_precede_staleness_rechecks():
    """Round-10 verdict task 1: a verified query whose dependency
    fingerprint differs from the tree its last green tested must sort
    ahead of every same-or-older plain staleness re-check, and the
    fingerprinting in tools/recheck_pins.py must be deterministic and total
    (every registered query fingerprints)."""
    tool = _recheck_pins_tool()
    qs, order, last_checked, last_green, changed = _driver_view()
    fps = tool.fingerprints(tool.working_reader)
    assert set(fps) == set(qs), "every registered query must fingerprint"
    assert tool.fingerprints(tool.working_reader) == fps  # deterministic

    assert changed <= set(qs)

    def staleness(n):
        return (
            last_green[n]
            if qs[n].oracle is not None and n in last_green
            else last_checked.get(n, 99)
        )

    plain_greens = [
        n
        for n in order
        if n in last_checked
        and n not in changed
        and not (qs[n].oracle is not None and n not in last_green)
    ]
    if changed and plain_greens:
        worst_changed = max(order.index(n) for n in changed)
        # every plain re-check whose evidence is at least as old must sort
        # AFTER every changed pin
        for n in plain_greens:
            if staleness(n) <= min(staleness(c) for c in changed):
                assert order.index(n) > worst_changed, (
                    n,
                    "plain re-check sorted ahead of a changed-since-green pin",
                )


def test_recheck_pins_fingerprint_contract():
    """What moves a query's fingerprint, on a tiny in-memory package: an
    edit to a function the query calls through a ``from … import module``
    alias used as ``module.attr``, or to the oracle SQL in its decorator.
    An edit to an uncalled function of the same module does not."""
    tool = _recheck_pins_tool()
    ops, plan = "etl_lala_spark/ops/text.py", "etl_lala_spark/plans/q.py"
    base = {
        "etl_lala_spark/__init__.py": "",
        "etl_lala_spark/ops/__init__.py": "",
        ops: "def called(x):\n    return x + 1\n\n\ndef uncalled(x):\n    return x - 1\n",
        plan: (
            "from etl_lala_spark.ops import text\n"
            "from etl_lala_spark.plans import register\n\n\n"
            "@register('q', oracle='SELECT 1 AS x')\n"
            "def q(spark, sf_dir):\n"
            "    return text.called(1)\n"
        ),
    }

    def fp(path: str | None = None, old: str = "", new: str = "") -> str:
        files = dict(base)
        if path:
            assert old in files[path]
            files[path] = files[path].replace(old, new)
        return tool.fingerprints(files.get, [plan])["q"]

    ref = fp()
    assert fp() == ref
    assert fp(ops, "x + 1", "x + 2") != ref, "called function edited"
    assert fp(ops, "x - 1", "x - 2") == ref, "uncalled function edited"
    assert fp(plan, "SELECT 1", "SELECT 2") != ref, "oracle SQL edited"


def test_registry_read_has_no_side_effects():
    """Reading the registry only imports code: in a child interpreter with
    an audit hook, importing the plans and calling query_fns(),
    all_queries() and oracle_sqls() starts no process, opens no file for
    writing, replaces none and reads no CORRECTNESS record; the registry
    comes out in registration order."""
    import json
    import subprocess
    import sys

    child = """
import json, os, sys
events = []
WRITE = os.O_WRONLY | os.O_RDWR | os.O_CREAT | os.O_APPEND | os.O_TRUNC

def hook(event, args):
    if event in ("subprocess.Popen", "os.rename"):  # os.replace audits as os.rename
        events.append([event, repr(args)])
    elif event == "open":
        path, mode, flags = args
        if (set(mode or "") & set("wax+") or (flags or 0) & WRITE
                or "CORRECTNESS_r" in str(path)):
            events.append([event, repr(args)])

sys.addaudithook(hook)
from etl_lala_spark.plans import _REGISTRY, all_queries, oracle_sqls, query_fns
fns = query_fns()
all_queries()
oracle_sqls()
print(json.dumps({"events": events, "in_order": list(fns) == list(_REGISTRY)}))
"""
    # -B: the import system's own .pyc writes are not the registry's.
    out = subprocess.run(
        [sys.executable, "-B", "-c", child],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    seen = json.loads(out.stdout.splitlines()[-1])
    assert seen["events"] == []
    assert seen["in_order"]


def test_bench_subset_starts_from_repo_root_without_pythonpath(sf_dir):
    """``python bench.py <query>`` runs as its docstring says: from the repo
    root, with PYTHONPATH unset, it prints one min line per query with the
    query's job count, and writes no detail file."""
    import re
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
    )

    def status() -> str:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True
        ).stdout

    before = status()
    out = subprocess.run(
        [sys.executable, "bench.py", "q1_pricing_summary"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert re.search(
        r"^q1_pricing_summary: min \d+\.\d{3}s over 1 \(.*jobs [1-9]\d*",
        out.stdout, re.M,
    ), out.stdout
    assert status() == before
    assert not os.path.exists(os.path.join(REPO, "BENCH_DETAIL_c2.json"))


def test_bench_stdout_line_contract():
    """The driver reads the last stdout line of ``python bench.py`` from a
    2000-byte tail: the line stays within 1900 bytes with all headline
    names, carries exactly the fixed heavy rows when the full dict
    overflows, and falls back to ``{}`` when even those do not fit."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from bench import _STDOUT_TOP, HEADLINE, stdout_line

    assert len(HEADLINE) == len(set(HEADLINE)) == 124
    assert set(_STDOUT_TOP) <= set(HEADLINE)
    for value in (0.0, 999.999, 123456.789):
        timings = {n: value for n in HEADLINE}
        line = stdout_line(value * len(timings), timings, "0.1")
        got = json.loads(line)
        assert len(line) <= 1900
        assert sorted(got) == ["metric", "queries", "sf", "unit", "value"]
        assert got["metric"] == "headline_queries_total_wall" and got["sf"] == 0.1
        assert list(got["queries"]) == _STDOUT_TOP
    few = {n: 1.5 for n in HEADLINE[:5]}
    assert json.loads(stdout_line(7.5, few, "0.1"))["queries"] == few
    huge = {n: 10.0**12 + 0.123 for n in HEADLINE}
    line = stdout_line(1.0, huge, "0.1")
    assert len(line) <= 1900 and json.loads(line)["queries"] == {}


def test_per_host_shuffle_skew_posture(spark):
    """Mega-host skew posture of the per-host crawl operators (round-9
    verdict task 7; measured at sf1.0 with a 50%-of-URLs host in
    SCALE.md): (1) the host-edge aggregate must partial-aggregate BEFORE
    its exchange — map-side combine is what absorbs a mega-host, the
    skewed key shuffles as one combined row per map task; (2)
    politeness_schedule's delay join must be a broadcast join — a
    shuffled join on host would put 50% of rows in one task and is the
    shape AQE skew-split exists to rescue, but the delays side is
    hosts-sized by construction so the plan must never shuffle it; (3)
    politeness_waves performs exactly one exchange (the per-host window
    — semantically irreducible: the window IS the host's serialized
    fetch queue) and zero Python evals."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import (
        politeness_schedule,
        politeness_waves,
        robots_crawl_delays,
    )

    fr = spark.range(4000).select(
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("http://mega.example.com/p"), F.col("id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("http://host"), (F.col("id") % 50).cast("string"),
                F.lit(".example.com/p"), F.col("id").cast("string"),
            )
        )
        .alias("url")
    )
    robots = spark.createDataFrame(
        [("mega.example.com", "Crawl-delay: 2")],
        "host string, robots_txt string",
    )

    # (1) host-edge aggregate: partial agg before the exchange
    agg = (
        fr.select(
            F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))).alias("host")
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg.collect()
    txt = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in txt, "host agg lost its map-side combine"

    # (2) schedule: broadcast join on the hosts-sized delay table
    sched = politeness_schedule(
        fr, robots_crawl_delays(robots), per_host_per_wave=4
    )
    sched.collect()
    stxt = sched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in stxt or "BroadcastNestedLoopJoin" in stxt, (
        "delay join must broadcast, never shuffle on the skewed host key"
    )

    # (3) waves: one exchange (the host window), no Python
    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(__file__)))
    from plan_audit import executed_scan_counts

    waves = politeness_waves(fr, per_host_per_wave=4)
    waves.collect()
    c = executed_scan_counts(waves)
    assert c["python_eval"] == 0, c

    # count shuffles by WALKING the finalized tree — toString reprints the
    # AQE initial plan and doubles any grep (the executed_scan_counts
    # docstring's warning)
    def shuffles(node, seen=None):
        seen = set() if seen is None else seen
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return shuffles(node.executedPlan(), seen)
        if cls.endswith("QueryStageExec"):
            sid = node.id()
            if sid in seen:
                return 0
            seen.add(sid)
            return shuffles(node.plan(), seen)
        n = 1 if cls.startswith("ShuffleExchange") else 0
        for i in range(node.children().length()):
            n += shuffles(node.children().apply(i), seen)
        return n

    n_exchanges = shuffles(waves._jdf.queryExecution().executedPlan())
    assert n_exchanges == 1, f"waves must shuffle exactly once, saw {n_exchanges}"


def test_counted_checkpoint_observes_row_count(spark):
    from pyspark.sql import functions as F

    from etl_lala_spark.plans._gates import counted_checkpoint

    df = spark.range(0, 37).repartition(3).filter(F.col("id") % 4 != 0)
    cp, n = counted_checkpoint(df)
    assert n == df.count() == cp.count() == 27
    empty, n0 = counted_checkpoint(df.filter(F.col("id") < 0))
    assert n0 == 0 and empty.count() == 0
    _, total = counted_checkpoint(df, F.sum("id"))
    assert total == sum(i for i in range(37) if i % 4)


def test_stage_log_frame_orders_rows(spark, job_group):
    from etl_lala_spark.plans._gates import StageLog

    log = StageLog()
    for name, n in (("cdx_lines", 192), ("cdx_selected", 64), ("shards", 3)):
        log(name, n)
    df = log.frame(spark)
    assert df.schema.simpleString() == (
        "struct<stage_ord:int,stage:string,n:bigint>"
    )
    with job_group("stage_log_frame") as jobs:
        rows = [tuple(r) for r in df.collect()]
    assert rows == [
        (0, "cdx_lines", 192), (1, "cdx_selected", 64), (2, "shards", 3)
    ]
    # A gate's result frame costs no Spark job of its own.
    assert jobs == []


def test_shuffle_width_restores_when_body_raises(spark):
    import pytest

    from etl_lala_spark.plans._gates import shuffle_width

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with pytest.raises(RuntimeError), shuffle_width(spark, 3):
        assert spark.conf.get(key) == "3"
        raise RuntimeError("stage failed")
    assert spark.conf.get(key) == prev


def _get(base: str, path: str, rng: str = "bytes=0-3") -> tuple[int, bytes]:
    import http.client

    host, port = base.removeprefix("http://").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=10)
    try:
        conn.request("GET", path, headers={"Range": rng})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def test_loopback_server_refuses_connections_after_exit(tmp_path):
    import socket

    import pytest

    from etl_lala_spark.plans._gates import loopback_server, ranged_file_handler

    (tmp_path / "a.warc.gz").write_bytes(b"0123456789")
    with loopback_server(ranged_file_handler(str(tmp_path))) as base:
        assert _get(base, "/a.warc.gz", "bytes=2-5") == (206, b"2345")
    port = int(base.rsplit(":", 1)[1])
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=5).close()


def test_ranged_file_handler_serves_only_files_directly_under_root(tmp_path):
    from etl_lala_spark.plans._gates import loopback_server, ranged_file_handler

    root = tmp_path / "warcs"
    (root / "sub").mkdir(parents=True)
    (root / "a.warc.gz").write_bytes(b"0123456789")
    (root / "sub" / "b.warc.gz").write_bytes(b"0123456789")
    (tmp_path / "secret.txt").write_bytes(b"secret")
    with loopback_server(ranged_file_handler(str(root))) as base:
        assert _get(base, "/a.warc.gz") == (206, b"0123")
        for path in (
            "/../secret.txt", "/..", "/.", "/", "/sub", "/sub/b.warc.gz",
            "/sub/../a.warc.gz", "//etc/passwd", "/" + str(tmp_path / "secret.txt"),
        ):
            assert _get(base, path)[0] == 404, path


def test_corpus_gates_job_budget(spark, sf_dir, job_group):
    """Spark jobs per call of the two corpus gates, counted with a job group
    as in test_canonical_components_job_budget: both enter the shared
    curation tail through one counted checkpoint, so a stage count that
    re-scans a frame, or a seam that loses its checkpoint, fails here."""
    from etl_lala_spark.plans import gates_io

    for gate, budget in (("web_corpus_wet_build", 54), ("web_corpus_build", 80)):
        with job_group(f"{gate}_job_budget") as jobs:
            rows = getattr(gates_io, gate)(spark, sf_dir).collect()
        assert rows[-1]["stage"] == "shards" and rows[-1]["n"] > 0
        assert 0 < len(jobs) <= budget, (gate, len(jobs))


def test_wet_gate_rerun_reuses_generated_code(spark, sf_dir):
    """A second ``web_corpus_wet_build`` run in one session compiles almost
    no generated classes: a run needs ~180 of them, so a codegen cache of
    Spark's default 100 entries evicts each class before its reuse and the
    rerun compiled ~180 again. Counted by Spark's own CodegenMetrics, so
    host load cannot move it."""
    import sys
    import time

    sys.path.insert(0, REPO)
    from bench import codegen_compiles
    from etl_lala_spark.plans import gates_io

    gates_io.web_corpus_wet_build(spark, sf_dir).collect()
    before = codegen_compiles(spark)
    gates_io.web_corpus_wet_build(spark, sf_dir).collect()
    rerun = codegen_compiles(spark) - before
    # the counter is live: a literal no earlier plan held compiles afresh
    before = codegen_compiles(spark)
    spark.range(1).selectExpr(f"id + {time.time_ns()} AS x").collect()
    assert codegen_compiles(spark) > before
    assert rerun <= 10, rerun


# Engine definitions kept although no code in this repository refers to them.
REACHED_FROM_OUTSIDE = {
    "load_incremental_jdbc": "the reference's PostgreSQL load",
    "register_views": "the spark.sql entry point its docstring documents",
    "parse_dbf_columns": "the Python DBF split tests/test_jvm_codec.py checks the JVM codec against",
    "dbc_to_dbf": "the Python DBC container tests/test_jvm_codec.py checks the JVM codec against",
}


def test_every_engine_definition_is_reached():
    """Every module-level function and class under ``etl_lala_spark/`` is
    referred to in code, outside its own definition, by some non-test code:
    the engine, ``tools/``, ``perfbench/``, ``bench.py``,
    ``__spark_entry__.py`` or ``plan_audit.py``. A query registered with
    ``@register`` is reached through the registry. Code that only tests
    call is dead weight: delete it with its tests, or name it in
    REACHED_FROM_OUTSIDE with a reason.

    A reference is a name, an attribute or an imported name in the syntax
    tree (``ast.Name``, ``ast.Attribute``, ``ast.alias``); a mention in a
    docstring, comment or string does not count."""
    import ast
    import pathlib

    root = pathlib.Path(REPO)
    engine = sorted((root / "etl_lala_spark").rglob("*.py"))
    callers = [
        *engine,
        *sorted((root / "tools").rglob("*.py")),
        *sorted((root / "perfbench").rglob("*.py")),
        *(root / f for f in ("bench.py", "__spark_entry__.py", "plan_audit.py")),
    ]
    trees = {path: ast.parse(path.read_text()) for path in callers}
    sites: dict[str, list] = {}  # name -> [(path, line)] of each reference
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            sites.setdefault(name, []).append((path, node.lineno))

    def registered(node) -> bool:
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in node.decorator_list
        )

    unreached = []
    for path in engine:
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if registered(node) or node.name in REACHED_FROM_OUTSIDE:
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if all(
                other == path and start <= line <= node.end_lineno
                for other, line in sites.get(node.name, [])
            ):
                unreached.append(f"{path.relative_to(root)}:{node.lineno} {node.name}")
    assert unreached == [], unreached
