"""Plan-shape assertions — the Spark port of the reference's optimizer
tests (JoinOrderVerifier / plan-node assertions, SURVEY.md §5.3):
instead of matching join trees node-by-node, we assert the physical
properties that matter at 100 TB:

  - filters and projections reach the parquet scan (PushedFilters /
    ReadSchema pruning);
  - small dimensions broadcast (no shuffle of the fact side);
  - large-large joins sort-merge;
  - aggregates are partial+final (map-side combine);
  - top-k plans as TakeOrderedAndProject (no full sort+collect);
  - no redundant sort below an already-satisfying order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbt_lab_spark.workload import all_queries

_QUERIES = {q.name: q.build for q in all_queries()}


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, kind: str) -> int:
    """Count physical nodes of `kind` in a formatted plan (the detail
    section numbers each node once: `(N) Kind`)."""
    import re

    return len(re.findall(rf"\(\d+\) {kind}\b", plan))


def _plan(spark, sf, name: str) -> str:
    return _formatted(_QUERIES[name](spark, sf))


def test_scan_filter_pushdown_and_pruning(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_scan_filter")
    # all four predicates reach the parquet reader
    for frag in [
        "GreaterThanOrEqual(l_quantity,10.0)",
        "LessThanOrEqual(l_quantity,20.0)",
        "LessThanOrEqual(l_discount,0.05)",
        "EqualTo(l_returnflag,A)",
    ]:
        assert frag in plan, f"predicate not pushed: {frag}\n{plan}"
    # column pruning: the scan must not read unprojected, unfiltered cols
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_tax" not in read_schema and "l_linestatus" not in read_schema


def test_multiway_broadcasts_all_dimensions(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_multiway")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # the fact table must never hit an exchange other than broadcast
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_merge_join_is_sort_merge(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_merge_join")
    assert "SortMergeJoin" in plan, plan


def test_group_by_has_partial_aggregation(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_tpch_q1")
    # two HashAggregate nodes (partial + final) around one exchange
    assert _nodes(plan, "HashAggregate") == 2, plan
    # exactly one data shuffle for the agg (plus one for the final sort)
    assert _nodes(plan, "Exchange") <= 2, plan


def test_topk_plans_take_ordered(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_sort_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_group_customers_broadcasts_nation(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_group_customers")
    assert "BroadcastHashJoin" in plan, plan
    # sort happens once, at the top, after the aggregate
    head = plan.split("(1) Scan parquet")[0]
    assert head.count("Sort") <= 1, plan


def test_tpch_q6_no_shuffle_of_rows(spark, sf_medium):
    """Q6 is scan→filter→grand-agg: the only exchange moves partial
    aggregates (SinglePartition), never data rows."""
    plan = _plan(spark, sf_medium, "q_tpch_q6")
    assert _nodes(plan, "HashAggregate") == 2, plan
    assert _nodes(plan, "Exchange") == 1, plan
    assert "SinglePartition" in plan, plan


def test_semi_anti_join_shapes(spark, sf_medium):
    for name, frag in [("q_semi_join", "LeftSemi"), ("q_anti_join", "LeftAnti")]:
        plan = _plan(spark, sf_medium, name)
        assert frag in plan, f"{name}: {frag} missing\n{plan}"


def test_tpch_q5_broadcasts_dims_shuffles_fact(spark, sf_medium):
    """Q5 shape: the four dimension joins broadcast; only the
    orders⋈lineitem fact join may shuffle rows."""
    plan = _plan(spark, sf_medium, "q_tpch_q5")
    assert _nodes(plan, "BroadcastHashJoin") >= 4, plan
    fact_joins = _nodes(plan, "SortMergeJoin") + _nodes(plan, "ShuffledHashJoin")
    assert fact_joins <= 1, plan


def test_ngram_jaccard_never_cartesian(spark, sf_medium):
    """The exact all-pairs jaccard must stay a bucketed equi-join —
    no cartesian/BNLJ anywhere in the plan."""
    plan = _plan(spark, sf_medium, "q_ngram_jaccard")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q19_single_broadcast_no_bnlj(spark, sf_medium):
    """OR-of-conjuncts must stay ONE broadcast hash join with a residual
    filter — not a BNLJ, not a 3-way union of joins."""
    plan = _plan(spark, sf_medium, "q_tpch_q19")
    assert _nodes(plan, "BroadcastHashJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _nodes(plan, "Union") == 0, plan


def test_grouping_sets_single_expand(spark, sf_medium):
    """GROUPING SETS = one Expand + one partial+final aggregate — not a
    union of per-set group-bys."""
    plan = _plan(spark, sf_medium, "q_grouping_sets")
    assert _nodes(plan, "Expand") == 1, plan
    assert _nodes(plan, "Union") == 0, plan
    assert _nodes(plan, "HashAggregate") == 2, plan


def test_argmax_aggregates_without_window(spark, sf_medium):
    """max(struct(...)) arg-max is a partial+final aggregate with ONE
    shuffle — no window.  (Catalyst picks SortAggregate because struct
    ordering isn't hash-aggregable; the sorts are local pre-agg sorts
    on the group key, not a global order.)"""
    plan = _plan(spark, sf_medium, "q_argmax")
    assert "Window" not in plan, plan
    assert _nodes(plan, "SortAggregate") == 2, plan  # partial + final
    assert _nodes(plan, "Exchange") == 1, plan


def test_time_range_frame_single_shuffle(spark, sf_medium):
    """Trailing-1h RANGE frame: one exchange (user_id) + one window."""
    plan = _plan(spark, sf_medium, "q_time_range_frame")
    assert _nodes(plan, "Window") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_medium):
    """When a selective dim filter feeds a SHUFFLE join, Catalyst's
    InjectRuntimeFilter plants a bloom-filter semi-filter on the fact
    side (`might_contain` backed by bloom_filter_agg) — at 100 TB this
    drops most fact rows BEFORE the join shuffle.  (With broadcast
    joins the bloom is unnecessary, so we force shuffle to pin the
    behavior.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_medium}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_medium}/part.parquet").filter(
            F.col("p_brand") == "Brand#23"
        )
        j = li.join(part, li.l_partkey == part.p_partkey).groupBy("p_brand").count()
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tpch_q21_no_cartesian_single_shuffle(spark, sf_medium):
    """Q21's EXISTS + NOT-EXISTS self-join pair must become plain
    (semi/anti) hash joins — no BNLJ/cartesian — and one final
    aggregate shuffle on s_name."""
    plan = _plan(spark, sf_medium, "q_tpch_q21")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _nodes(plan, "HashAggregate") == 2, plan


def test_tpch_q2_correlated_min_is_window(spark, sf_medium):
    """Q2's correlated MIN subquery decorrelates to ONE window over
    p_partkey on the already-joined candidates — not a second
    aggregate-join of the whole derived partsupp."""
    plan = _plan(spark, sf_medium, "q_tpch_q2")
    assert _nodes(plan, "Window") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_window_suite_single_window_single_shuffle(spark, sf_medium):
    """All eight ranking/navigation functions share one window spec —
    the plan must contain ONE Window node and ONE exchange, not one
    per function."""
    plan = _plan(spark, sf_medium, "q_window_suite")
    assert _nodes(plan, "Window") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan


def test_aqe_splits_skewed_join_partition(spark):
    """Planted 90%-one-key skew through a forced shuffle join: AQE must
    replan the hot partition into splits (SortMergeJoin(skew=true) +
    AQEShuffleRead skewed) — the runtime answer to skew that salting
    handles statically.  Thresholds are lowered so the ~20 MB planted
    skew registers; at production scale the defaults (256 MB) fire the
    same way."""
    import random

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rng = random.Random(7)
        big = spark.createDataFrame(
            [(0 if rng.random() < 0.9 else rng.randint(1, 50), "x" * 100)
             for _ in range(200_000)],
            ["k", "pad"],
        )
        right = spark.createDataFrame([(i, f"r{i}") for i in range(51)], ["k", "v"])
        j = big.join(right, "k").select(F.length("pad").alias("l"), "v")
        list(j.toLocalIterator())  # run THIS QueryExecution to its final plan
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)

def test_decontaminate_broadcasts_eval_side(spark, sf_medium):
    """The 1%-sized eval side of the decontamination join must
    broadcast — the train-side shingle stream never shuffles (at
    100 TB the train side is the corpus; shuffling it on gram hash
    would dominate the job)."""
    plan = _plan(spark, sf_medium, "q_decontaminate")
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert _nodes(plan, "SortMergeJoin") == 0, plan
    assert _nodes(plan, "CartesianProduct") == 0, plan


def test_mix_epochs_is_narrow_until_audit_agg(spark, sf_medium):
    """mix_epochs itself (filter + explode) must add no exchange; the
    only shuffles in the audit query belong to the final distinct
    aggregate."""
    plan = _plan(spark, sf_medium, "q_mix_epochs")
    assert _nodes(plan, "Generate") == 1, plan  # the explode
    # count(distinct doc_id) plans as two-phase agg: <= 2 exchanges total
    assert _nodes(plan, "Exchange") <= 2, plan


def test_quality_filter_threshold_broadcasts(spark, sf_medium):
    """The 1-row p25 threshold joins the corpus via broadcast — the
    scored corpus itself is never shuffled for the filter step."""
    plan = _plan(spark, sf_medium, "q_quality_filter")
    assert _nodes(plan, "BroadcastNestedLoopJoin") >= 1, plan
    assert _nodes(plan, "CartesianProduct") == 0, plan


def test_pii_redact_single_scan_single_exchange(spark, sf_medium):
    """Redaction is a pure narrow projection: scan -> project ->
    partial agg -> exchange -> final agg.  One scan, one exchange."""
    plan = _plan(spark, sf_medium, "q_pii_redact")
    assert _nodes(plan, "Scan parquet") == 1, plan
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "HashAggregate") == 2, plan


def test_star_schema_dpp_and_bloom_fire_together(spark, tmp_path):
    """Pins the 100x-scale plan for the canonical star-schema layout at
    sf0.1: a partitioned fact joined to (a) a filtered dim on the
    PARTITION column — must plant a dynamicpruningexpression so whole
    directories are skipped at runtime — and (b) a selective dim on a
    NON-partition key under a forced shuffle join — must plant a
    runtime bloom semi-filter (might_contain / bloom_filter_agg) that
    drops fact rows before the join shuffle.  Both firing in ONE plan
    is the property that matters for 100 TB star queries; each is
    covered individually elsewhere (test_sources.py DPP,
    test_runtime_bloom_filter_prunes_fact_side)."""
    from pyspark.sql import functions as F

    from dbt_lab_spark.sources import write_partitioned

    sf_large = "/root/testdata/sf0.1"
    fact_path = str(tmp_path / "fact_orders")
    orders = spark.read.parquet(f"{sf_large}/orders.parquet")
    write_partitioned(orders, fact_path, ["o_orderpriority"])
    fact = spark.read.parquet(fact_path)

    prio_dim = spark.createDataFrame(
        [("1-URGENT", "u"), ("2-HIGH", "h"), ("3-MEDIUM", "m"),
         ("4-NOT SPECIFIED", "n"), ("5-LOW", "l")],
        ["prio", "tag"],
    ).filter(F.col("tag") == "u")
    cust = spark.read.parquet(f"{sf_large}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = (
            fact.join(prio_dim, fact.o_orderpriority == prio_dim.prio)
            .join(cust, fact.o_custkey == cust.c_custkey)
            .groupBy("prio")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "dynamicpruningexpression" in plan, plan
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # and the plan still produces the right answer
        [(prio, n)] = [(r["prio"], r["n"]) for r in j.collect()]
        want = (
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .join(cust, orders.o_custkey == cust.c_custkey)
            .count()
        )
        assert (prio, n) == ("1-URGENT", want)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_cbo_join_reorder_with_statistics(spark, sf_medium):
    """The reference's flagship optimizer assignment is cost-based join
    ordering from catalogue statistics (TestJoinOrderOptimizerStudents).
    Spark-first counterpart: ANALYZE feeds CBO, and a deliberately
    bad-ordered 3-table join (fact x fact first, dimension last) is
    re-ordered so the selective dimension reaches the fact before the
    fact-fact join.  Asserted on the optimized plan's join tree: with
    CBO + stats the nation dim must NOT be the outermost (last) join
    when written last."""
    from pyspark.sql import functions as F

    from dbt_lab_spark.catalog import Catalog

    cat = Catalog(sf_medium)
    cat.analyze(spark, ("nation", "customer", "orders"))
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # written order: orders JOIN customer (fact x fact), THEN the
        # 1-row-filtered nation — the worst order; CBO should push the
        # selective dimension down
        q = spark.sql(
            """
            SELECT n.n_name, COUNT(*) AS cnt
            FROM dbt_lab.orders o
            JOIN dbt_lab.customer c ON o.o_custkey = c.c_custkey
            JOIN dbt_lab.nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_7'
            GROUP BY n.n_name
            """
        )
        optimized = q._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        # in the optimized tree, the nation scan must appear before
        # (deeper than) the orders scan: nation+customer join first,
        # then the result joins orders.  Plan text lists join children
        # top-down, so nation's relation line must come before orders'.
        first_nation = optimized.find("dbt_lab.nation[")
        first_orders = optimized.find("dbt_lab.orders[")
        assert first_nation != -1 and first_orders != -1
        assert first_nation < first_orders, optimized
        # and the result is correct
        rows = q.collect()
        want = (
            cat.table(spark, "orders")
            .join(
                cat.table(spark, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .join(
                cat.table(spark, "nation").filter(F.col("n_name") == "NATION_7"),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .count()
        )
        assert rows[0]["cnt"] == want and want > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tpch_q7_nation_filters_below_orderkey_join(spark, sf_medium):
    """Q7's scale property: both inputs of the lineitem⋈orders shuffle
    join are already nation-filtered (supplier/customer dimension joins
    broadcast BELOW it), so the wide join moves ~2/|nation| of each
    fact.  In the optimized tree (printed top-down) the orderkey join
    must therefore have a nation relation under BOTH children, and the
    dimension joins are all broadcast."""
    import re

    df = _QUERIES["q_tpch_q7"](spark, sf_medium)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    m = re.search(r"l_orderkey#\d+L = o_orderkey#\d+L", optimized)
    assert m, optimized
    # two nation-filtered broadcast joins live under the orderkey join:
    # each side's nation IN-filter appears in its subtree (top-down print)
    subtree = optimized[m.start():]
    assert len(re.findall(r"n_name#\d+ IN \(NATION_1,NATION_2\)", subtree)) == 2, optimized
    plan = _formatted(df)
    assert _nodes(plan, "BroadcastHashJoin") >= 4, plan
    fact_joins = _nodes(plan, "SortMergeJoin") + _nodes(plan, "ShuffledHashJoin")
    assert fact_joins <= 1, plan


def test_tpch_q9_part_filter_broadcast_prunes_fact(spark, sf_medium):
    """Q9: the %gear% part filter reaches its scan and joins lineitem
    via broadcast (pre-shrinking the orderkey join's lineitem side);
    at most the single fact-fact join shuffles."""
    plan = _plan(spark, sf_medium, "q_tpch_q9")
    assert "StringContains(p_name,gear)" in plan, plan
    assert _nodes(plan, "BroadcastHashJoin") >= 3, plan
    fact_joins = _nodes(plan, "SortMergeJoin") + _nodes(plan, "ShuffledHashJoin")
    assert fact_joins <= 1, plan


def test_tpch_q13_aggregates_orders_below_join(spark, sf_medium):
    """Q13: orders collapse to per-custkey counts BEFORE the customer
    join — the optimized tree has the o_custkey aggregate UNDER the
    join node, so the join runs |customer| x |customers-with-orders|
    instead of |customer| x |orders|."""
    import re

    df = _QUERIES["q_tpch_q13"](spark, sf_medium)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    join_m = re.search(r"Join LeftOuter", optimized)
    agg_m = re.search(r"Aggregate \[o_custkey#\d+L\]", optimized)
    assert join_m and agg_m, optimized
    assert agg_m.start() > join_m.start(), optimized


def test_hash_features_token_path_stays_jvm(spark, sf_medium):
    """The hashing-trick front end must never drop into per-row Python:
    tokenize/explode/md5/conv are all JVM expressions, so the plan has
    zero Python eval nodes and exactly one Generate (the explode)."""
    plan = _plan(spark, sf_medium, "q_hash_features")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert _nodes(plan, "Generate") == 1, plan


def test_bm25_broadcasts_stats_and_idf(spark, sf_medium):
    """Corpus stats (1 row) and idf (|terms| rows) reach the scoring
    join by broadcast; the token path is JVM-only."""
    plan = _plan(spark, sf_medium, "q_bm25")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") + _nodes(plan, "BroadcastHashJoin") >= 2, plan
    assert _nodes(plan, "CartesianProduct") == 0, plan


def test_temperature_mix_rate_table_broadcasts(spark, sf_medium):
    """The computed per-source rate table joins the corpus via
    broadcast hash join; the keep filter is a narrow expression (no
    extra exchange between the join and the final aggregate)."""
    plan = _plan(spark, sf_medium, "q_temperature_mix")
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_tpch_q18_semi_join_below_wide_join(spark, sf_medium):
    """The >300-quantity rollup reaches orders as a semi-join (never a
    full join against the rollup), and customer broadcasts."""
    plan = _plan(spark, sf_medium, "q_tpch_q18")
    assert "LeftSemi" in plan, plan
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan


def test_pagerank_iteration_plan_is_join_plus_aggregate(spark):
    """One power iteration = edges-join-ranks + one aggregate exchange;
    nothing in the loop collects edge-scale data to the driver."""
    from dbt_lab_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3) % 7) for i in range(7)], "src long, dst long"
    )
    ranks = pagerank(edges, iters=2)
    # the returned frame is the checkpointed final iteration: materialized,
    # bounded by node count — sanity-check its size and sum
    rows = ranks.collect()
    assert len(rows) == 7
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-12


def test_interp_fill_single_window_partitioning(spark, sf_medium):
    """The grid is generated distributed (one broadcast-NLJ of the
    1-row bounds frame, then Generate), the hourly left join
    broadcasts, and BOTH window directions run off user_id hash
    partitioning — no unbounded-FOLLOWING frame anywhere (that frame
    is O(partition^2) in WindowExec; see SCALING.md §10)."""
    plan = _plan(spark, sf_medium, "q_interp_fill")
    assert "unboundedfollowing" not in plan.lower()
    assert _nodes(plan, "Generate") == 1
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_mad_outliers_medians_broadcast(spark, sf_medium):
    """Per-group medians join back as broadcasts — the fact table is
    never shuffled for the join."""
    plan = _plan(spark, sf_medium, "q_mad_outliers")
    assert _nodes(plan, "BroadcastHashJoin") >= 2
    assert _nodes(plan, "SortMergeJoin") == 0


def test_corr_matrix_single_scan(spark, sf_medium):
    """All 14 moment sums ride ONE lineitem scan; the pair expansion
    is an explode of the 1-row aggregate, not a union-of-selects."""
    plan = _plan(spark, sf_medium, "q_corr_matrix")
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Union") == 0


def test_expectations_single_scan(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_expectations")
    assert _nodes(plan, "Scan parquet") == 1


def test_bloom_decontaminate_probe_is_map_only(spark, sf_medium):
    """The bloom probe stage is mapInPandas (ArrowEvalPython /
    MapInPandas) with no shuffle between the train-gram scan and the
    probe; the verify join's eval side broadcasts."""
    plan = _plan(spark, sf_medium, "q_bloom_decontaminate")
    assert _nodes(plan, "MapInPandas") == 1
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_scd2_single_window_shuffle(spark, sf_medium):
    """lag-detect and lead-close share the (user_id) partitioning —
    exactly one Exchange on user_id feeds both windows."""
    plan = _plan(spark, sf_medium, "q_scd2")
    assert _nodes(plan, "Window") >= 1
    # events scan -> one hashpartitioning exchange on user_id; the
    # final orderBy adds a range exchange, nothing else
    assert plan.count("hashpartitioning(user_id") <= 2


def test_skyline_aggregates_before_global_window(spark, sf_medium):
    """The global-window sweep sees only DISTINCT (price,size) pairs —
    the aggregate collapses the table before the single-partition
    sort (the documented skyline scale posture)."""
    plan = _plan(spark, sf_medium, "q_skyline")
    assert _nodes(plan, "Window") == 1
    idx_agg = plan.find("(1) Scan parquet")
    assert idx_agg != -1



# --- session-4 additions -------------------------------------------------


def test_pr_curve_single_aggregate_no_fanout(spark, sf_medium):
    """The 9-threshold sweep is ONE aggregate over the scan — no
    thresholds x rows join and exactly one exchange pair."""
    plan = _plan(spark, sf_medium, "q_pr_curve")
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0
    # partial+final global aggregate over the doc scan
    assert _nodes(plan, "HashAggregate") >= 2


def test_bootstrap_fanout_hash_computed_once(spark, sf_medium):
    """The Poisson-weight projection carries exactly ONE md5 call (the
    CASE chain must reference the projected u column, not inline six
    copies of the hash tree)."""
    plan = _plan(spark, sf_medium, "q_bootstrap_ci")
    assert plan.count("md5(") == 1, plan.count("md5(")


def test_dsir_ratio_table_broadcasts(spark, sf_medium):
    """The 1024-row feature-ratio table joins back by broadcast — the
    doc-side explode never shuffles onto the ratio key."""
    plan = _plan(spark, sf_medium, "q_dsir_sample")
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_zorder_audit_is_scan_plus_one_aggregate(spark, sf_medium):
    plan = _plan(spark, sf_medium, "q_zorder")
    assert _nodes(plan, "Exchange") <= 2  # partial agg + final (+ sort)
    assert _nodes(plan, "BatchEvalPython") == 0


def test_salted_join_no_skewed_single_partition(spark, sf_medium):
    """The salted path joins on (key, salt): the join key count in the
    plan must include the salt column, proving the hot key is spread."""
    plan = _plan(spark, sf_medium, "q_salted_join")
    assert "__salt" in plan
    assert _nodes(plan, "BatchEvalPython") == 0


def test_partitioned_lineitem_scan_is_multi_task_and_pruned(spark, sf_medium):
    """r4 (VERDICT r3 #5): the partitioned-layout read path must prove
    scan PARALLELISM (>1 input file -> >1 scan task; every shipped sf
    table is a single-file single-task read that hides the first 100x
    bottleneck) and partition PRUNING (the ship_year predicate lands
    in PartitionFilters, so pruned directories are never opened)."""
    from dbt_lab_spark.workload_beyond import (
        _q_lineitem_partitioned,
        partitioned_lineitem_path,
    )

    df = _q_lineitem_partitioned(spark, sf_medium)
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    assert "ship_year" in plan.split("PartitionFilters", 1)[1][:300]
    # >1 concrete file feeds the scan (multi-task), and only the two
    # selected year directories survive pruning
    import os

    import glob

    path = partitioned_lineitem_path(spark, sf_medium)
    files = spark.read.parquet(path).inputFiles()
    assert len(files) > 1, files  # multi-file layout
    all_years = {
        d.split("=")[1] for d in os.listdir(path) if d.startswith("ship_year=")
    }
    assert len(all_years) >= 4  # plenty of prunable directories on disk
    # The planned scan splits prove both properties: >1 task, and no
    # more splits than the SELECTED directories' files (pruned dirs
    # contribute zero splits — unpruned, all 4x|years| files would).
    pruned = spark.read.parquet(path).filter("ship_year IN (1996, 1997)")
    n_parts = pruned.rdd.getNumPartitions()
    selected = glob.glob(os.path.join(path, "ship_year=199[67]", "*.parquet"))
    assert 1 < n_parts <= len(selected), (n_parts, len(selected), len(files))


def test_cbo_join_reorder_is_live(spark, sf_medium):
    """r4 (VERDICT r3 #3): the CBO conf must DO something on this
    engine's scans.  Catalog.table routes through registered ANALYZE-d
    tables in the tuned session, so (a) scan relations carry real
    rowCount statistics, and (b) the stats-driven join reorderer
    rewrites a deliberately fact-first 5-table star into
    smallest-dimension-first — an assertion that FAILS with
    joinReorder off (reference analogue: bushy enumeration from
    catalogue stats, optimizer/Optimizer.java:202-220,
    optimizer/joins/JoinOrderOptimizer.java:24)."""
    import re

    from dbt_lab_spark.catalog import Catalog, cbo_schema_name

    cat = Catalog(sf_medium)
    # (a) the engine scan path sees statistics
    st = cat.table(spark, "lineitem")._jdf.queryExecution().optimizedPlan().stats()
    assert st.rowCount().isDefined(), "engine scan carries no rowCount: CBO is blind"
    for t in ("customer", "orders", "nation", "region"):
        cat.cbo_table(spark, t)
    s = cbo_schema_name(sf_medium)
    sql = f"""
        SELECT n_name, sum(l_extendedprice) AS rev
        FROM {s}.lineitem, {s}.orders, {s}.customer, {s}.nation, {s}.region
        WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
          AND n_nationkey = c_nationkey AND r_regionkey = n_regionkey
          AND r_name = 'REGION_1'
        GROUP BY n_name"""

    def leaf_order() -> list[str]:
        p = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        return re.findall(r"Relation \S*?\.(\w+)\[", p)

    assert spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"
    on = leaf_order()
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    try:
        off = leaf_order()
    finally:
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    # (b) without stats-driven reordering the textual fact-first order
    # survives; with it, the smallest dimensions join first.
    assert off[0] == "lineitem"
    assert on != off
    assert on[0] in ("nation", "region"), on


def test_merge_key_scan_is_column_pruned(spark, tmp_path):
    """CoW merge's touched-file detection must scan ONLY the join keys
    (+ _metadata): at 100 TB the detection pass is a key-column scan,
    never a full-width read.  Pin the ReadSchema of the detection-side
    plan merge() builds."""
    from pyspark.sql import functions as F

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v", "id * 2 AS w", "id * 3 AS x"
        )
    )
    head = t._log()[-1]
    target = spark.read.parquet(*head["files"])
    source = spark.createDataFrame([(5,)], "k long")
    detect = (
        target.select(F.col("_metadata.file_path").alias("__f"), "k")
        .join(source, ["k"], "left_semi")
        .select("__f")
        .distinct()
    )
    plan = _formatted(detect)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"k"}, f"detection scan reads {cols}, not just the key"


def test_snapshot_generation_reads_bounded_by_evolutions(spark, tmp_path):
    """r6: _read_paths groups snapshot dirs by physical schema
    GENERATION — a never-evolved table stays ONE plain parquet scan no
    matter how many delta dirs it has; after one evolve the plan has
    exactly two generation scans under a union, not one per dir."""
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10)], "k int, n int"))
    for i in range(2, 5):
        t.append(spark.createDataFrame([(i, i * 10)], "k int, n int"))
    import re

    def n_scans(df):
        # formatted plans list each scan once in the tree and once in
        # the details; count the numbered detail headers only
        return len(re.findall(r"^\(\d+\) Scan parquet", _formatted(df), re.M))

    assert n_scans(t.read(spark)) == 1 and "Union" not in _formatted(t.read(spark))
    t.evolve(widen={"k": "long"})
    for i in range(5, 8):  # post-evolve generation, three more dirs
        t.append(spark.createDataFrame([(i, i * 10)], "k long, n int"))
    assert n_scans(t.read(spark)) == 2  # generations, not dirs
    got = {(r.k, r.n) for r in t.read(spark).collect()}
    assert got == {(i, i * 10) for i in range(1, 8)}


def test_dv_apply_is_broadcast_anti_join(spark, tmp_path):
    """r7: the deletion-vector apply must compile to ONE
    BroadcastHashJoin LeftAnti — never a SortMergeJoin, whose shuffle
    would put the whole table scan through an exchange just to drop a
    handful of tombstoned rows.  The DV side is small by construction
    (one row per deleted record), so the broadcast is the only
    scale-sane physical form."""
    from pyspark.sql import functions as F

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    t.delete_where(spark, "k % 100 = 7", mode="dv")
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_pass_reuses_generated_code(spark, sf_small):
    """The session's codegen cache holds the TPC-H working set: the 22
    queries generate about 270 distinct classes, so with Spark's default
    of 100 cache entries every pass recompiles all of them with Janino.
    A second pass at the same plans must compile nothing — keep
    `spark.sql.codegen.cache.maxEntries` in `session.get_spark()` well
    above 270 (the whole OLAP pass cycles through about 460)."""
    import __spark_entry__

    builders = [b for n, b in sorted(__spark_entry__.queries().items()) if n.startswith("q_tpch_q")]
    assert len(builders) == 22
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001

    def one_pass() -> None:
        for build in builders:
            build(spark, sf_small).write.format("noop").mode("overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0
