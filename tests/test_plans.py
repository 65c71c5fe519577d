"""Physical-plan assertions: the shapes that make queries scale.

Correctness tests prove the WHAT; these prove the HOW stays right —
pushdown reaching the scan, small dims broadcasting, top-N pushing
below the shuffle, the as-of join costing exactly one shuffle. A
regression here is invisible at sf0.001 and catastrophic at 100 TB.
"""

from __future__ import annotations

from plan_lint import (
    BNLJ_OK,
    KEY_SKEW_WINDOW_OK,
    SINGLE_PARTITION_WINDOW_OK,
    STREAMING_PLAN_PINS,
    batch_antipatterns,
    explain,
    keyskew_window_offenders,
)

from flink_scala_spark.queries.catalog import QUERIES


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """W9 evictor-as-filter: the predicate must land in PushedFilters
    of the parquet scan, not a post-scan Filter only."""
    df = QUERIES["evictor_prefilter"].fn(spark, sf_dir)
    plan = explain(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(value,5.0)" in plan.replace(" ", "").replace("value,5.0", "value,5.0")


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Similarity scans must read only (vec_id, embedding), never the
    full embeddings schema."""
    df = QUERIES["embedding_near_dup"].fn(spark, sf_dir)
    plan = explain(df)
    scan_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert scan_schemas, plan
    for line in scan_schemas:
        assert "vec_id" in line and "embedding" in line


def test_small_dim_broadcasts(spark, sf_dir):
    """The dashboard's nation dim (25 rows) must broadcast — a
    shuffle-hash or sort-merge join against it is wrong at any scale."""
    df = QUERIES["order_dashboard_province"].fn(spark, sf_dir)
    plan = explain(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topn_uses_window_group_limit(spark, sf_dir):
    """rank<=N over a window must plan WindowGroupLimit (per-partition
    top-N before the shuffle) — without it, the full sort materializes."""
    df = QUERIES["top_events_per_user"].fn(spark, sf_dir)
    plan = explain(df)
    assert "WindowGroupLimit" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join is a union + one keyed window: exactly one
    hash-partitioning exchange in the whole plan."""
    df = QUERIES["asof_join_purchase_click"].fn(spark, sf_dir)
    plan = explain(df, "simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_codegen_covers_similarity_scoring(spark, sf_dir):
    """ann_pq_refined's flat-column JVM scoring must keep its 64-dim
    arithmetic inside whole-stage codegen (flat columns keep generated
    methods under Janino's 64 KB limit, with maxFields=256 covering the
    pair rows of 2x64 vector columns); an interpreted scoring stage is
    ~15x slower. Pinned: the exact-cosine rerank Project, and PQ
    encoding's per-subspace distance Project over the broadcast
    codebook cross join beneath it."""
    import re

    df = QUERIES["ann_pq_refined"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution of THIS df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen stages print as "*(n) Operator"
    for op in (r"Project \[query_id#\d+L, neighbor_id#\d+L, \(",
               r"Project \[nid#\d+L, code_id#\d+, \(",
               r"BroadcastNestedLoopJoin"):
        assert re.search(r"\*\(\d+\) " + op, plan), (op, plan[:3000])


def test_pricing_summary_single_agg_shuffle_with_pushdown(spark, sf_dir):
    """TPC-H Q1 shape: the date filter must reach the parquet scan and
    the whole query must cost exactly ONE shuffle (the map-side-combined
    final agg)."""
    df = QUERIES["lineitem_pricing_summary"].fn(spark, sf_dir)
    plan = explain(df)
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    simple = explain(df, "simple")
    assert simple.count("Exchange hashpartitioning") == 1, simple


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """The 4-dim star join must stream lineitem once through four
    BroadcastHashJoins; the only shuffle is the final rollup agg."""
    df = QUERIES["revenue_by_region_parttype"].fn(spark, sf_dir)
    plan = explain(df, "simple")
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan


def test_near_dup_is_blocked_group_single_shuffle(spark, sf_dir):
    """embedding_near_dup's quadratic stage is the distributed block
    nested loop: exactly ONE shuffle — hash-partitioned by the tile
    pair (g_lo, g_hi) — into a grouped Arrow scorer. No join of the
    pair space, no broadcast, no driver collect of vector data (the
    only driver action is the metadata-cheap tile count)."""
    df = QUERIES["embedding_near_dup"].fn(spark, sf_dir)
    plan = explain(df, "simple")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(g_lo" in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_shipping_priority_plan_shape(spark, sf_dir):
    """Q3 shape: date filters pushed to both big scans, the segment
    dim broadcast, and the global top-10 planned as
    TakeOrderedAndProject (per-partition local top-10, driver merge)
    so the full sort never materializes."""
    df = QUERIES["shipping_priority_topk"].fn(spark, sf_dir)
    plan = explain(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # both date bounds must reach the scans as data filters
    flat = plan.replace(" ", "")
    assert "isnotnull(l_shipdate" in flat
    assert "isnotnull(o_orderdate" in flat


def test_anti_join_prunes_probe_scan(spark, sf_dir):
    """NOT EXISTS: the recent-shipments side must be date-pruned at
    the scan and the join must be a real anti join (no distinct, no
    row multiplication)."""
    df = QUERIES["orders_without_recent_shipments"].fn(spark, sf_dir)
    plan = explain(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan.replace(" ", "")


def test_latest_event_single_hash_agg(spark, sf_dir):
    """Last-write-wins compaction must be one aggregate, not a window:
    no Sort below the agg, no Window node anywhere."""
    df = QUERIES["latest_event_per_key"].fn(spark, sf_dir)
    plan = explain(df, "simple")
    assert "Window" not in plan
    assert "Aggregate" in plan or "HashAggregate" in plan


def test_q4_exists_plans_semi_join(spark, sf_dir):
    """EXISTS must become a LEFT SEMI join — no row multiplication,
    no distinct pass."""
    plan = explain(QUERIES["order_priority_pipeline"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q10_topk_pushes_filter_and_takeordered(spark, sf_dir):
    """The returnflag filter must reach the lineitem scan and the
    ordered LIMIT must plan TakeOrderedAndProject (per-partition
    top-k + driver merge, no global sort)."""
    plan = explain(QUERIES["returned_revenue_top_customers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "BroadcastHashJoin" in plan


def test_q15_max_join_avoids_global_window(spark, sf_dir):
    """'revenue equal to the max' must be agg + broadcast join-back,
    never a max() over () window that funnels all rows through one
    partition."""
    plan = explain(QUERIES["top_supplier_revenue"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_cube_expands_grouping_sets_once(spark, sf_dir):
    """CUBE must plan a single Expand + one aggregation pipeline, with
    every dimension joined broadcast."""
    plan = explain(QUERIES["revenue_cube"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert "SortMergeJoin" not in plan


# The batch lints of tests/plan_lint.py run on every batch catalog
# entry inside the per-entry test of tests/test_catalog_oracle.py (one
# construction per entry); the meta-tests below prove each detector
# fires.


def test_keyskew_lint_catches_ntile_funnel(spark, sf_dir):
    """Meta-test: the detector must fire on the exact shape round 9
    shipped (per-type ntile over raw events) and stay silent on the
    round-10 histogram-CDF rebuild that replaced it."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flink_scala_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    funnel = ev.select(
        "event_type", "value", F.ntile(10).over(w).alias("decile")
    ).groupBy("event_type", "decile").count()
    assert keyskew_window_offenders(funnel) == ["Window[event_type]"]
    assert keyskew_window_offenders(QUERIES["value_deciles"].fn(spark, sf_dir)) == []
    # corpus-scaling Aggregate output (user grain) windowed by a
    # low-card key must STILL fire — groupBy(user_id) does not bound
    per_user = (
        ev.groupBy("user_id", "event_type")
        .agg(F.sum("value").alias("s"))
        .withColumn(
            "r", F.rank().over(W.partitionBy("event_type").orderBy("s"))
        )
    )
    assert keyskew_window_offenders(per_user) == ["Window[event_type]"]
    # a corpus-scale side that merely JOINS an aggregated dim is not
    # bounded either (every leaf path must pass through a reducer)
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
    joined = ev.join(dim, "event_type").withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("value", "event_id")
        ),
    )
    assert keyskew_window_offenders(joined) == ["Window[event_type]"]


def test_antipattern_sweep_catches_dropped_join_key(spark, sf_dir):
    """Meta-test: a deliberately broken join (equi key dropped, leaving
    only the range predicate -> BroadcastNestedLoopJoin) must be caught
    by the sweep's detector — proving the BNLJ allowlist actually
    guards, not just enumerates."""
    from flink_scala_spark import tables

    ev = tables.load(spark, sf_dir, "events").select("event_id", "value")
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    broken = ev.join(docs, ev.value > docs.n_chars)  # key dropped
    plan = explain(broken)
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert batch_antipatterns("not_an_allowlisted_query", plan)
    # and the allowlist is not a wildcard: a listed name still fails on
    # a cartesian product
    assert "CartesianProduct" in batch_antipatterns(
        "skew_join_salted", plan + "CartesianProduct"
    )


def test_q6_scan_predicate_pushdown(spark, sf_dir):
    """Q6 shape: every filter (date range, discount band, quantity
    cap) must reach the parquet scan as pushed data filters, and the
    keyless aggregate must not shuffle on any hash key."""
    df = QUERIES["forecast_revenue_change"].fn(spark, sf_dir)
    plan = explain(df)
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in flat
    assert "LessThan(l_quantity" in flat
    assert "GreaterThanOrEqual(l_discount" in flat
    simple = explain(df, "simple")
    assert "Exchange hashpartitioning" not in simple


def test_q17_window_single_exchange(spark, sf_dir):
    """Q17's correlated-avg decorrelation must stay the single-scan
    keyed-window form: exactly ONE Exchange over the fact (the partkey
    partition), no join back, no second lineitem scan."""
    import re

    df = QUERIES["small_quantity_part_revenue"].fn(spark, sf_dir)
    plan = explain(df)
    # formatted explain lists every node twice (tree + detail header)
    assert plan.count("Scan parquet") == 4  # lineitem + part, once each
    # shuffles: the window partition + the 1-row final agg, nothing else
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q21_collapses_self_joins_to_aggregates(spark, sf_dir):
    """The sole-late-supplier query must plan as two aggregations over
    one orders-lineitem join — never the textbook three-pass
    semi+anti self-join cascade over the fact table."""
    df = QUERIES["sole_late_supplier_waits"].fn(spark, sf_dir)
    plan = explain(df)
    # formatted explain lists every node twice (tree + detail header)
    assert plan.count("Scan parquet") == 6  # lineitem, orders, supplier
    assert "SortMergeJoin LeftSemi" not in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_q22_anti_probe_is_date_pruned(spark, sf_dir):
    """Q22's NOT EXISTS probe must push the order-date cutoff into the
    orders scan (the anti join then probes a pruned set), and the
    global-average threshold must be a broadcast, not a shuffle."""
    df = QUERIES["idle_high_balance_customers"].fn(spark, sf_dir)
    plan = explain(df)
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "o_orderdate" in l]
    assert any("GreaterThanOrEqual" in l for l in pushed), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_substring_spans_no_explode_shuffle_of_text(spark, sf_dir):
    """Duplicate-passage detection must shuffle 60-bit span hashes,
    never span strings: the pre-shuffle projection carries span_hash
    (a conv(md5) bigint), and the agg is partial+final (map-side
    combinable)."""
    df = QUERIES["dedup_substring_spans"].fn(spark, sf_dir)
    plan = explain(df)
    assert "span_hash" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # the exploded span string must not survive into any exchange
    parts = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert parts and all("concat_ws" not in l for l in parts), plan


def test_binned_range_join_avoids_nested_loop(spark, sf_dir):
    """The keyless range correlation must run as a bin-keyed shuffle
    join, never BroadcastNestedLoop/Cartesian — binning exists exactly
    to kill the O(|L|x|R|) plan."""
    df = QUERIES["range_join_binned"].fn(spark, sf_dir)
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # any EQUI-join operator is the win (small inputs legitimately
    # broadcast; at scale the same plan becomes a shuffle join on bin)
    assert any(
        op in plan
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_streaming_plans_pin_state_operators():
    """Every live streaming entry has a stateful-operator pin in
    plan_lint.STREAMING_PLAN_PINS: a new streaming query must add its
    pin. The pins themselves are checked on each entry's recorded
    executed plan by the per-entry catalog test
    (tests/test_catalog_oracle.py), which builds every entry once."""
    live = {n for n in QUERIES if n.startswith("streaming_")}
    assert live == set(STREAMING_PLAN_PINS), (
        live ^ set(STREAMING_PLAN_PINS)
    )



def test_ngram_lm_score_broadcasts_count_tables(spark, sf_dir):
    """The trigram/bigram count tables are bounded by alphabet^3
    regardless of corpus size, so scoring must broadcast them against
    the position stream — at 100 TB a shuffle of the positions on a
    hot n-gram key (common trigrams are a large fraction of all
    positions) would be the skew bottleneck. Pin: both joins
    broadcast, zero hash-partition exchanges below the final per-doc
    aggregate's own shuffle."""
    plan = explain(QUERIES["ngram_lm_score"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_plan_allowlists_contain_only_live_catalog_entries():
    """A typo'd or since-renamed name in the BNLJ / single-partition-
    window allowlists would silently allow nothing — every allowlist
    entry must name a live catalog query."""
    from flink_scala_spark.queries.catalog import QUERIES

    assert BNLJ_OK <= set(QUERIES), sorted(BNLJ_OK - set(QUERIES))
    assert SINGLE_PARTITION_WINDOW_OK <= set(QUERIES), sorted(
        SINGLE_PARTITION_WINDOW_OK - set(QUERIES)
    )
    assert KEY_SKEW_WINDOW_OK <= set(QUERIES), sorted(
        KEY_SKEW_WINDOW_OK - set(QUERIES)
    )
    # bench.py has the same silent-filter failure mode: a typo'd
    # R1_RECORDED name would just lose its stdout spill priority
    import bench

    assert set(bench.R1_RECORDED) <= set(QUERIES), sorted(
        set(bench.R1_RECORDED) - set(QUERIES)
    )


def test_aqe_skew_join_splits_hot_partition(spark):
    """At 100 TB a hot join key makes one shuffle partition dominate
    its stage. Beyond the explicit two-phase salting keyed_sum_salted
    ships, the engine's standing answer is AQE's OptimizeSkewedJoin —
    this pins that the RUNTIME actually splits a skewed partition
    (SortMergeJoin(skew=true) in the final adaptive plan) when one key
    carries 90% of the build side, under thresholds forced low enough
    to trigger at test scale. Configs are restored so the shared
    session is unchanged for other tests."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("a"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("b")
        )
        j = left.join(right, "k")
        j.collect()  # AQE finalizes only on execution of THIS df
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
