"""Physical-plan assertions: correctness tests prove WHAT we compute,
these prove HOW — filters reach the scan, partitions get pruned, small
dims broadcast, top-k avoids full sorts. This is the 100-TB contract:
a plan that passes these scales; one that regresses fails fast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeapi_spark.queries import QUERIES


def plan_str(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["filter_eq"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "PushedFilters" in plan
    assert "EqualTo(p_brand,Brand#13)" in plan, plan


def test_column_pruning(spark, sf_dir):
    df = QUERIES["filter_gt_lte"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    # ReadSchema must carry only the two projected/filtered columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "c_custkey" in read and "c_acctbal" in read
    assert "c_name" not in read and "c_mktsegment" not in read, read


def test_partition_pruning_direct(spark, sf_dir):
    df = QUERIES["partition_prune_direct"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_partition_pruning_md5_derived(spark, sf_dir):
    df = QUERIES["partition_prune_md5_prefix"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    # the derived hash filter must appear as a partition filter on the scan
    assert "o_orderpriority_md5_prefix_2" in pf_line, pf_line


def test_partition_pruning_prunes_files(spark, sf_dir):
    """The md5-pruned scan must read strictly fewer partitions than exist."""
    from lakeapi_spark.sources.partitioned import partitioned_copy

    pcol = "o_orderpriority_md5_prefix_2"
    full = partitioned_copy(spark, sf_dir, "orders", [pcol], derive=("o_orderpriority", "md5_prefix", 2))
    n_parts = full.select(pcol).distinct().count()
    df = QUERIES["partition_prune_md5_prefix"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    # scan node reports the selected partition count
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # formatted plans include it on newer builds
        assert int(m.group(1)) < n_parts


def test_small_dims_broadcast(spark, sf_dir):
    df = QUERIES["q5_revenue_by_nation"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "BroadcastHashJoin" in plan, plan


def test_topk_is_take_ordered(spark, sf_dir):
    df = QUERIES["sort_limit_topk"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "TakeOrderedAndProject" in plan, plan


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"].build(spark, sf_dir)
    df.collect()  # AQE: codegen stages only exist in the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in toString output
    assert "*(1)" in plan, plan[:500]
    # aggregation must be partial (map-side combine) before the shuffle
    assert "partial_sum" in plan, plan[:500]


def test_limit_pushdown_no_sort(spark, sf_dir):
    """limit without sort/filter must not trigger a shuffle."""
    from lakeapi_spark.catalog import table
    from lakeapi_spark.operators.pipeline import QueryRequest, apply_query

    df = apply_query(table(spark, sf_dir, "customer"), QueryRequest(limit=10))
    plan = plan_str(spark, df, "simple")
    assert "Exchange" not in plan or "CollectLimit" in plan


def test_search_single_scan(spark, sf_dir):
    """The LIKE scorer must be one scan + project/filter — no join, no
    second pass over the data (the reference's portable scorer is one
    SELECT too, df_base.py:354-377)."""
    df = QUERIES["search_like_score"].build(spark, sf_dir)
    plan = plan_str(spark, df, "simple")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_no_heavy_filter_below_fanout_exchange(spark, sf_dir):
    """Regression guard for the serial-filter trap: Catalyst must NOT
    evaluate the tokenize/shingle pipeline below the fan_out exchange.

    Two historical offenders: (1) InferFiltersFromGenerate synthesized
    `size(shingles)>0` from the explode and pushdown dragged the full
    bigram expression below the repartition (15s vs 3.5s at sf0.1);
    (2) a post-hoc size() filter did the same. The shingle expression
    (identified by array_distinct) must appear exactly once — in the
    post-exchange projection — and the only pre-exchange filter is the
    cheap rlike token-count predicate."""
    from lakeapi_spark.operators.dedup import _exploded_shingles

    spark.catalog.clearCache()  # a cached shingle relation from earlier
    # tests would substitute an InMemoryRelation and mask the plan shape
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_str(spark, _exploded_shingles(docs, "doc_id", "text", None))
    assert plan.count("array_distinct") == 1, plan
    assert "RLIKE" in plan
    # signature stage: hashed-shingle projection must stay a separate
    # node (CollapseProject would re-evaluate it once per permutation)
    from lakeapi_spark.operators.dedup import minhash_signature

    sig_plan = plan_str(spark, minhash_signature(docs, "doc_id", "text", 8))
    assert sig_plan.count("array_distinct") == 1, sig_plan


def test_semi_join_stays_equi_join(spark, sf_dir):
    """EXISTS decorrelation must produce a hash-partitionable equi semi
    join (never BroadcastNestedLoop/cartesian from the date residual)."""
    plan = plan_str(spark, QUERIES["exists_late_shipment_orders"].build(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed by the join key at the same bucket count ->
    the exchange vanishes: this is the storage-level answer to the
    biggest shuffle at 100 TB (fact-fact joins). Broadcast is disabled
    so the test proves co-location, not small-side shipping."""
    from lakeapi_spark.catalog import table
    from lakeapi_spark.sources.bucketed import read_bucketed, write_bucketed

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "b_orders", "o_orderkey", 8, path=str(tmp_path / "b_orders"))
    write_bucketed(l, "b_lineitem", "l_orderkey", 8, path=str(tmp_path / "b_lineitem"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "b_orders").join(
            read_bucketed(spark, "b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = plan_str(spark, joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sorted buckets: no per-task sort either
        n = joined.count()
        assert n == table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_nearby_bbox_reaches_scan(spark, tmp_path):
    """The geo radius itself is trig (never pushable); on a table with
    REAL lat/lon columns the bounding-box prefilter must reach the
    parquet scan as plain comparisons (row-group min/max skipping).
    The registered nearby_radius query synthesizes coordinates from a
    key, so the box lands in a post-scan Filter there — this test is
    the storage-shaped case."""
    import re

    from lakeapi_spark.operators.nearby import nearby

    path = str(tmp_path / "geo")
    spark.range(0, 1000).selectExpr(
        "id",
        "CAST(45.0 + (id % 400) / 100.0 AS DOUBLE) AS lat",
        "CAST(7.0 + (id % 700) / 100.0 AS DOUBLE) AS lon",
    ).write.parquet(path)
    df = nearby(spark.read.parquet(path), "lat", "lon", 46.9, 7.44, 150000.0)
    plan = plan_str(spark, df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "GreaterThanOrEqual(lat" in pushed and "LessThanOrEqual(lon" in pushed, pushed


def test_q19_or_disjunct_pushes_quantity_bound(spark, sf_dir):
    """The lineitem-only envelope of the OR (quantity in 1..30) must
    reach the probe scan as a pushed filter; the part-side disjunct
    must prune the broadcast build side before the join."""
    df = QUERIES["q19_discounted_revenue"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "BroadcastHashJoin" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    lineitem_pushed = [ln for ln in pushed if "l_quantity" in ln]
    assert lineitem_pushed, pushed


def test_q21_single_wide_shuffle(spark, sf_dir):
    """The two-level aggregate + window reuse one orderkey
    partitioning: at most 2 exchanges total (fact shuffle + the
    result-sized supplier aggregate), never a lineitem self-join."""
    df = QUERIES["q21_waiting_suppliers"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"{n_exchange} shuffles\n{plan}"
    assert plan.count("FileScan") <= 3 or "Scan parquet" in plan


def test_q8_small_dims_broadcast(spark, sf_dir):
    """Eight-way join: the guaranteed-small dims (part, nation x2,
    region, supplier) are hinted broadcast — at least 5 BHJs.
    Customer is deliberately unhinted (scale-proportional at sf100);
    at test SF the optimizer may still broadcast it from stats."""
    df = QUERIES["q8_market_share"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj >= 5, f"only {n_bhj} broadcast joins\n{plan}"


def test_q13_preaggregates_before_join(spark, sf_dir):
    """Orders must aggregate to one row per customer BEFORE joining
    customer — the join input is bounded by |customer|, not |orders|."""
    df = QUERIES["q13_order_count_distribution"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_minhash_lsh_plan_vectorized_kernel(spark, sf_dir):
    """dedup_minhash_lsh plan contract (r6): the signature+bucket stage
    runs as ONE Arrow-batched MapInPandas over the cached shingle
    relation, and the only hash-partition shuffles are the fan_out
    spread inside the shingle build plus the tiny final distinct —
    bucket/verify joins must not add shuffle exchanges at this SF."""
    df = QUERIES["dedup_minhash_lsh"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "MapInPandas" in plan, plan
    assert "InMemoryRelation" in plan  # shingles persisted once
    n_exchange = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange roundrobin"
    )
    assert n_exchange <= 2, plan


def test_semantic_dedup_single_cid_shuffle(spark, sf_dir):
    """dedup_semantic plan contract (kernel path): scan -> Arrow
    assignment kernel (MapInPandas) -> exactly ONE hash exchange on the
    cluster id -> per-cluster pair kernel (FlatMapGroupsInPandas).
    Never a cartesian/nested-loop product (embedding_dup_pairs'
    all-pairs shape — the exact thing the cluster routing avoids)."""
    df = QUERIES["dedup_semantic"].build(spark, sf_dir)
    plan = plan_str(spark, df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas [cid" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(cid" in plan, plan


def test_unigram_logprob_vocab_broadcast_and_bounded_shuffles(spark, sf_dir):
    """text_unigram_logprob plan contract: the corpus side joins the
    vocab through a BROADCAST (no shuffle of the exploded corpus for
    the membership join), and the only hash exchanges are the vocab
    aggregation and the final per-doc aggregation."""
    df = QUERIES["text_unigram_logprob"].build(spark, sf_dir)
    plan = plan_str(spark, df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_dsir_scoring_is_map_only(spark, sf_dir):
    """dsir_importance_weights plan contract (r13): scoring is a
    MAP-ONLY fold over the persisted per-doc bucket arrays against a
    K-element literal ratio lookup — no join of any kind and no hash
    exchange in the scoring plan (the bucket histogram runs eagerly at
    build time as a K-bounded aggregate; the old plan broadcast-joined
    the exploded gram stream and shuffled it into a per-doc groupBy)."""
    df = QUERIES["dsir_importance_weights"].build(spark, sf_dir)
    plan = plan_str(spark, df, mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_shuffle_shard_no_global_sort(spark, sf_dir):
    """shuffle_shard plan contract: one hash exchange on the shard key
    + in-partition sort; a rangepartitioning exchange would mean the
    window degenerated into a global total-order sort."""
    df = QUERIES["shuffle_shard_docs"].build(spark, sf_dir)
    plan = plan_str(spark, df, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_theil_sen_single_pass_no_self_join(spark, sf_dir):
    """r13 single-pass contract: the estimator is ONE aggregation over
    the monthly rollup (pair expansion + both medians as array
    expressions), so the fact side is scanned once and there is no
    pair self-join, no window, and no persisted intermediate at all —
    the previous join+window spelling needed a persist to avoid 3
    source re-scans and still paid 4 more exchanges."""
    df = QUERIES["theil_sen_revenue_trend"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert plan.count("orders.parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "InMemoryRelation" not in plan, plan
    # monthly rollup + per-group collect: nothing else is wide
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_feature_hash_single_shuffle(spark, sf_dir):
    """Hashing-trick featurizer: one (id, idx)-keyed exchange with
    map-side partial counts — nothing else is wide."""
    df = QUERIES["feature_hash_docs"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 1, f"{n_exchange} shuffles\n{plan}"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_roc_auc_histogram_collapse(spark, sf_dir):
    """AUC never ranks rows: the plan is a per-(group, score) hash
    aggregate (partial+final), a domain window, and one final group
    aggregate — at most 3 exchanges, no global sort of the fact."""
    df = QUERIES["roc_auc_value_purchase"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"{n_exchange} shuffles\n{plan}"
    assert "Exchange rangepartitioning" not in plan, plan


def test_canary_probe_broadcasts_bench_side(spark, sf_dir):
    """Exact-substring decontamination: the canary set is the
    BROADCAST side; the training scan must not shuffle for the
    containment join."""
    df = QUERIES["decontaminate_canary_hits"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # only the per-doc hit count is allowed a hash exchange
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 2, f"{n_exchange} shuffles\n{plan}"


def test_hub_degree_cap_prunes_before_wedge_shuffle(spark):
    """The max_hub_degree dial must prune hubs BEFORE any wedge pair
    is generated (the 100x escape hatch for link prediction). In the
    grouped in-row wedge shape (r13) that means a size(ns) filter on
    the neighbor-set relation BELOW the pair-expansion Generate — the
    former broadcast semi-join pruning without the joins."""
    from lakeapi_spark.operators.graph import adamic_adar_topk

    edges = spark.createDataFrame(
        [(i, 100) for i in range(1, 6)] + [(1, 7), (2, 7)],
        "src long, dst long",
    )
    capped = adamic_adar_topk(edges, max_hub_degree=3)
    plan = plan_str(spark, capped)
    # the cap is a size filter on the pre-expansion neighbor sets
    # (capped fan-out is never generated), and the former wedge
    # self-join — and with it the broadcast semi-join pruning — is gone
    assert "size(ns" in plan and "<= 3" in plan, plan
    # the wedge self-join is gone; the only join left is the
    # existing-edge LeftAnti (strategy up to the planner)
    assert "LeftSemi" not in plan, plan
    assert "Join Inner" not in plan and "Join LeftOuter" not in plan, plan
    # behavior: the degree-5 hub's wedges exist only uncapped, and the
    # capped result is a strict subset of the uncapped one
    got_capped = {(r.u, r.v) for r in capped.collect()}
    got_off = {(r.u, r.v) for r in adamic_adar_topk(edges).collect()}
    assert (1, 2) in got_capped and (3, 4) not in got_capped
    assert (3, 4) in got_off and got_capped < got_off


def test_topk_per_group_no_window_one_shuffle(spark, sf_dir):
    """Two-phase top-k must never plan a per-group window over the
    fact table: phase 1 is an in-partition Arrow scan (zero shuffle),
    phase 2 one bounded hash aggregate. WindowExec-free, exactly one
    hash exchange."""
    df = QUERIES["topk_customers_per_nation_two_phase"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "Window" not in plan, plan
    assert "MapInPandas" in plan, plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 1, f"{n_exchange} shuffles\n{plan}"
    assert "Exchange rangepartitioning" not in plan, plan


def _walk_physical(node):
    """Yield every node of a physical plan tree (descending through
    AQE wrappers via initialPlan)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    yield node
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk_physical(ch.apply(i))


def _unbounded_global_windows(df) -> list[str]:
    """Window/WindowGroupLimit nodes with an EMPTY partition spec whose
    subtree contains no TakeOrderedAndProject / GlobalLimit / local
    aggregate-to-one-row bound — i.e. single-partition sorts whose
    input grows with the data."""
    bad = []
    for node in _walk_physical(df._jdf.queryExecution().executedPlan()):
        if not node.nodeName().startswith("Window"):
            continue
        try:
            if not node.partitionSpec().isEmpty():
                continue  # partitioned window — bounded per group
        except Exception:
            pass  # no partitionSpec accessor: treat as global, check bound
        subtree = node.toString()
        if not any(
            tag in subtree
            for tag in ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
        ):
            bad.append(node.simpleString(120))
    return bad


def test_ranked_topk_sites_plan_bounded_windows(spark, sf_dir):
    """VERDICT r11 hygiene sweep: every converted rank-then-filter site
    must plan TakeOrderedAndProject (per-partition heap, no global
    sort of a key-linear relation), and any remaining unpartitioned
    WindowExec must sit ABOVE a limit — constant input bound k at any
    corpus size. Hashes over all 11 converted queries re-verified vs
    the oracle this round (drive_contract)."""
    converted = [
        "search_rrf_fusion",
        "pagerank_cust_supp",
        "heavy_hitters_cms",
        "ppr_nation_seeded",
        "vocab_zipf_fit",
        "part_popularity_decayed",
        "hybrid_search_rerank",
        "bpe_merge_candidates",
        "oov_rate_docs",
        "market_basket_part_pairs",
        "market_basket_triples",
    ]
    for name in converted:
        df = QUERIES[name].build(spark, sf_dir)
        plan = plan_str(spark, df)
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"
        bad = _unbounded_global_windows(df)
        assert not bad, f"{name}: unbounded global window(s): {bad}"


def test_ranked_topk_exact_vs_window_truth(spark):
    """ranked_topk must equal rank-then-filter on a total order,
    including ties broken by the tiebreak column."""
    import random

    from pyspark.sql.window import Window as _W

    from lakeapi_spark.operators.pipeline import ranked_topk

    rng = random.Random(11)
    rows = [(i, float(rng.randrange(50))) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    order = [F.col("v").desc(), F.col("id")]
    got = sorted(
        (r.id, r.v, r.rank) for r in ranked_topk(df, order, k=25).collect()
    )
    want = sorted(
        (r.id, r.v, r.rank)
        for r in df.withColumn("rank", F.row_number().over(_W.orderBy(*order)))
        .filter(F.col("rank") <= 25)
        .collect()
    )
    assert got == want and len(got) == 25


def test_decile_bridge_no_global_sort(spark, sf_dir):
    """The decile bridge must NOT plan a global NTILE sort: boundaries
    come from one percentile aggregate, assignment is a broadcast
    compare — no range partitioning anywhere, and the only windows run
    over the 10-row decile relation."""
    df = QUERIES["decile_revenue_bridge"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_session_attribution_single_user_exchange(spark, sf_dir):
    """Both attribution models come from ONE union+window pass: a
    single hash exchange on user_id feeds the running first/last
    windows; the final (model, channel) aggregate is the only other
    exchange."""
    df = QUERIES["session_attribution_first_last"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"{n_exchange} shuffles\n{plan}"
    assert "Exchange rangepartitioning" not in plan, plan


def test_rolling_mau_no_range_self_join(spark, sf_dir):
    """Rolling 28-day MAU explodes the bounded distinct user-day
    relation — never a range self-join of events: no SortMergeJoin,
    no CartesianProduct, and the only nested-loop join is the 1-row
    broadcast date-range."""
    df = QUERIES["rolling_28d_mau"].build(spark, sf_dir)
    plan = plan_str(spark, df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# Unpartitioned WindowExec sites whose input does NOT grow with the
# corpus (VERDICT r12 #1a audit): each entry names WHY the global
# window's input is bounded. Anything NOT listed here that plans an
# unpartitioned data-sized window fails the registry audit below.
_GLOBAL_WINDOW_ALLOWLIST = {
    # bounded key domains (calendar buckets / design cells / strata)
    "monthly_revenue_mom": "one row per month — calendar-bounded",
    "mi_event_type_dow": "event_type x day-of-week cells",
    "chi2_event_type_dow": "event_type x day-of-week cells",
    "did_value_policy": "4 design cells (treated x post)",
    "cusum_changepoint_daily": "one row per day — calendar-bounded",
    "survival_km_conversion": "one row per distinct day-grain event time",
    "fdr_bh_nation_price_tests": "one test per nation (25)",
    "forecast_shootout_event_daily": "model x event_type rows",
    "neyman_allocation_sample": "one row per order-priority stratum (5)",
    # constant-bounded by construction
    "bootstrap_ci_order_value": "B=40 bootstrap replicates",
    "decile_revenue_bridge": "10-row decile relation",
    # histogram-collapsed value grids (bounded by the rounding grain)
    "ks_value_drift_events": "distinct rounded values of a [0,100] grid",
    "mann_whitney_purchase_vs_click": "distinct rounded values histogram",
    "isotonic_calibration_value": "score-bucket histogram",
    # contracted relations where the windowed relation is broadcast
    # or reduced to one row immediately after (the single-partition
    # pass costs what the broadcast costs anyway; the 100 TB swap is
    # documented in the operator docstring)
    "text_unigram_logprob": "vocab total; vocab is broadcast right after",
    "text_bigram_logprob": "unigram vocab total; broadcast right after",
    "curation_verdicts": "contains unigram_logprob's vocab total",
    "pareto_revenue_parts": "per-part relation reduced to ONE row; swap = weighted-quantile histogram refinement",
}


@pytest.mark.soak
def test_registry_no_unbounded_global_windows(spark, sf_dir):
    """r13 sweep (VERDICT r12 #1a): EVERY registered query must either
    plan no unpartitioned WindowExec over a data-sized input, or appear
    in the justified allowlist above. Guards against reintroducing the
    single-partition global sort the banded-NTILE / ranked_topk /
    order_statistics conversions removed."""
    offenders = {}
    for name, q in QUERIES.items():
        df = q.build(spark, sf_dir)
        bad = _unbounded_global_windows(df)
        if bad and name not in _GLOBAL_WINDOW_ALLOWLIST:
            offenders[name] = bad[:1]
    assert not offenders, f"unallowlisted global windows: {offenders}"
    stale = sorted(
        n for n in _GLOBAL_WINDOW_ALLOWLIST
        if not _unbounded_global_windows(QUERIES[n].build(spark, sf_dir))
    )
    assert not stale, f"allowlist entries no longer needed: {stale}"


def test_request_validation_uses_no_assert():
    """Request and config validation raises typed errors: ``python -O``
    strips ``assert`` statements, so a bad request would otherwise fail
    deep inside Spark. No ``assert`` may appear in the serving core."""
    import ast
    import pathlib

    import lakeapi_spark

    root = pathlib.Path(lakeapi_spark.__file__).parent
    offenders = [
        f"{rel}:{node.lineno}"
        for rel in (
            "registry.py", "sources/readers.py", "operators/search.py", "sql/endpoint.py",
            "sql/dml.py", "operators/windows.py", "queries.py", "sources/delta.py",
        )
        for node in ast.walk(ast.parse((root / rel).read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not offenders, f"assert statements validate input: {offenders}"


def test_delta_writers_commit_through_one_path():
    """Every delta commit goes through ``sources/delta.py:_commit``, the
    one retry loop and staleness rule: only it calls ``_try_commit``, and
    no other function calls a commit inside a loop. Every commit,
    checkpoint and ``_last_checkpoint`` lands through ``_publish``, the
    only caller of ``os.link``; every other function that writes a file
    writes data, deletion-vector or manifest files."""
    import ast
    import pathlib

    import lakeapi_spark

    source = pathlib.Path(lakeapi_spark.__file__).parent / "sources" / "delta.py"
    funcs = [
        n for n in ast.walk(ast.parse(source.read_text())) if isinstance(n, ast.FunctionDef)
    ]

    def calls(node, *names):
        return any(
            isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id in names
            for n in ast.walk(node)
        )

    callers = {f.name for f in funcs if calls(f, "_try_commit")}
    assert callers == {"_commit"}, callers
    retrying = {
        f.name
        for f in funcs
        for loop in ast.walk(f)
        if isinstance(loop, (ast.For, ast.While)) and calls(loop, "_try_commit", "_commit")
    }
    assert retrying == {"_commit"}, retrying

    def os_calls(node, *attrs):
        return {
            n.func.attr
            for n in ast.walk(node)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "os"
            and n.func.attr in attrs
        }

    def writes(node):
        opens = any(
            isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "open"
            and len(n.args) > 1 and isinstance(n.args[1], ast.Constant)
            and set(n.args[1].value) & set("wxa")
            for n in ast.walk(node)
        )
        return opens or bool(os_calls(node, "link", "rename", "replace", "open"))

    assert {f.name for f in funcs if os_calls(f, "link")} == {"_publish"}
    assert {f.name for f in funcs if calls(f, "_publish")} == {"_try_commit", "checkpoint_delta"}
    assert {f.name for f in funcs if writes(f)} == {
        "_publish", "_stage_data_files", "delete_delta", "optimize_delta",
        "generate_symlink_manifest",
    }


def test_maintained_indexes_share_one_store_and_one_refresh():
    """The three maintained indexes of ``operators/incremental.py`` (LSH,
    IVF, BM25) share one store and one change-feed refresh: only
    ``_meta_path`` names the ``meta`` relation, exactly one function
    writes that path and calls the retention (``_write``, the store's
    writer), and exactly one function calls ``delta_changes``
    (``_refresh``)."""
    import ast
    import pathlib

    import lakeapi_spark

    source = pathlib.Path(lakeapi_spark.__file__).parent / "operators" / "incremental.py"
    funcs = [
        n for n in ast.walk(ast.parse(source.read_text())) if isinstance(n, ast.FunctionDef)
    ]

    def calls(node, name):
        return any(
            isinstance(n, ast.Call)
            and (
                (isinstance(n.func, ast.Name) and n.func.id == name)
                or (isinstance(n.func, ast.Attribute) and n.func.attr == name)
            )
            for n in ast.walk(node)
        )

    def writes_meta(node):  # `<...>.write<...>.parquet(_meta_path(...))`
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
            and any(calls(a, "_meta_path") for a in n.args)
            and any(isinstance(m, ast.Attribute) and m.attr == "write" for m in ast.walk(n.func))
            for n in ast.walk(node)
        )

    names_meta = {
        f.name
        for f in funcs
        if any(isinstance(n, ast.Constant) and n.value == "meta" for n in ast.walk(f))
    }
    assert names_meta == {"_meta_path"}, names_meta
    assert {f.name for f in funcs if writes_meta(f)} == {"_write"}
    assert {f.name for f in funcs if calls(f, "_retain_snapshots")} == {"_write"}
    assert {f.name for f in funcs if calls(f, "delta_changes")} == {"_refresh"}
