"""Physical-plan assertions: the shapes that make queries scale.

Correctness tests prove the WHAT; these prove the HOW stays right —
pushdown reaching the scan, small dims broadcasting, top-N pushing
below the shuffle, the as-of join costing exactly one shuffle. A
regression here is invisible at sf0.001 and catastrophic at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

from flink_scala_spark.queries.catalog import QUERIES


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """W9 evictor-as-filter: the predicate must land in PushedFilters
    of the parquet scan, not a post-scan Filter only."""
    df = QUERIES["evictor_prefilter"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(value,5.0)" in plan.replace(" ", "").replace("value,5.0", "value,5.0")


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Similarity scans must read only (vec_id, embedding), never the
    full embeddings schema."""
    df = QUERIES["embedding_near_dup"].fn(spark, sf_dir)
    plan = _plan(df)
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
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topn_uses_window_group_limit(spark, sf_dir):
    """rank<=N over a window must plan WindowGroupLimit (per-partition
    top-N before the shuffle) — without it, the full sort materializes."""
    df = QUERIES["top_events_per_user"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join is a union + one keyed window: exactly one
    hash-partitioning exchange in the whole plan."""
    df = QUERIES["asof_join_purchase_click"].fn(spark, sf_dir)
    plan = _plan(df, "simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_codegen_covers_similarity_scoring(spark, sf_dir):
    """The flat-column JVM scoring path (IVF top-k: centroid assignment,
    probing and candidate scoring) must keep its 64-dim cosine
    arithmetic inside whole-stage codegen (flat columns keep generated
    methods under Janino's 64 KB limit, with maxFields=256 covering the
    2x(64+2)-column pair rows); an interpreted scoring stage is ~15x
    slower."""
    import re

    from pyspark.sql import functions as F

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    df = similarity.ivf_topk(emb, F.col("vec_id") % 50 == 0, k=5, nprobe=2)
    df.collect()  # AQE finalizes the plan only on execution of THIS df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen stages print as "*(n) Operator"; the candidate-scoring
    # and centroid-assignment Projects and the 132-column
    # BroadcastNestedLoopJoin beneath the assignment must all be starred
    for op in (r"Project \[query_id#\d+L, neighbor_id#\d+L, \(",
               r"Project \[neighbor_id#\d+L, centroid_id#\d+L, \(",
               r"BroadcastNestedLoopJoin"):
        assert re.search(r"\*\(\d+\) " + op, plan), (op, plan[:3000])


def test_pricing_summary_single_agg_shuffle_with_pushdown(spark, sf_dir):
    """TPC-H Q1 shape: the date filter must reach the parquet scan and
    the whole query must cost exactly ONE shuffle (the map-side-combined
    final agg)."""
    df = QUERIES["lineitem_pricing_summary"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    simple = _plan(df, "simple")
    assert simple.count("Exchange hashpartitioning") == 1, simple


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """The 4-dim star join must stream lineitem once through four
    BroadcastHashJoins; the only shuffle is the final rollup agg."""
    df = QUERIES["revenue_by_region_parttype"].fn(spark, sf_dir)
    plan = _plan(df, "simple")
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
    plan = _plan(df, "simple")
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
    plan = _plan(df)
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
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan.replace(" ", "")


def test_latest_event_single_hash_agg(spark, sf_dir):
    """Last-write-wins compaction must be one aggregate, not a window:
    no Sort below the agg, no Window node anywhere."""
    df = QUERIES["latest_event_per_key"].fn(spark, sf_dir)
    plan = _plan(df, "simple")
    assert "Window" not in plan
    assert "Aggregate" in plan or "HashAggregate" in plan


def test_q4_exists_plans_semi_join(spark, sf_dir):
    """EXISTS must become a LEFT SEMI join — no row multiplication,
    no distinct pass."""
    plan = _plan(QUERIES["order_priority_pipeline"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q10_topk_pushes_filter_and_takeordered(spark, sf_dir):
    """The returnflag filter must reach the lineitem scan and the
    ordered LIMIT must plan TakeOrderedAndProject (per-partition
    top-k + driver merge, no global sort)."""
    plan = _plan(QUERIES["returned_revenue_top_customers"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "BroadcastHashJoin" in plan


def test_q15_max_join_avoids_global_window(spark, sf_dir):
    """'revenue equal to the max' must be agg + broadcast join-back,
    never a max() over () window that funnels all rows through one
    partition."""
    plan = _plan(QUERIES["top_supplier_revenue"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_cube_expands_grouping_sets_once(spark, sf_dir):
    """CUBE must plan a single Expand + one aggregation pipeline, with
    every dimension joined broadcast."""
    plan = _plan(QUERIES["revenue_cube"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert "SortMergeJoin" not in plan


def test_no_scale_antipatterns_in_any_batch_plan(spark, sf_dir):
    """Sweep EVERY batch query's physical plan for the two patterns
    that are invisible at test scale and fatal at 100 TB: a cartesian
    product (accidental — the intended broadcast cross joins plan as
    BroadcastNestedLoopJoin) and a single-partition exchange feeding a
    window function (the whole dataset through one task)."""
    # Windows over PRE-AGGREGATED tiny-cardinality tables are sound on
    # one partition; everything else must justify itself here or fix
    # its plan:
    # - revenue_day_over_day: lag over the day-grain aggregate (rows =
    #   distinct days).
    # - late_data_accounting: phase 2 of the distributed prefix-max —
    #   a running max over PER-CHUNK maxima (rows = n/8192; the raw
    #   rows scan in phase 1 is partitioned by chunk).
    # - ann_pq_topk: code-id assignment runs row_number over the FIXED
    #   PQ_K=16 codebook rows (corpus-size-independent by
    #   construction); the corpus-sized windows are query-partitioned.
    # - small_quantity_part_revenue: the window is partkey-partitioned
    #   (pinned by test_q17_window_single_exchange); the
    #   SinglePartition exchange is the 1-row FINAL aggregate, not the
    #   window's input.
    # - corpus_token_budget: the global-total window runs over the
    #   ALREADY-AGGREGATED (lang, source) rows — metadata cardinality,
    #   not corpus rows — chosen precisely so the corpus is scanned
    #   once (a second agg branch loses exchange reuse to pruning).
    # - hybrid_retrieval_rrf: the rank window runs over the TEXT
    #   system's top-100 candidates — a TakeOrderedAndProject output of
    #   constant size by construction (the corpus itself is reduced by
    #   distributed top-k, never globally sorted).
    offenders = {}
    for name, spec in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        # one construction per query: the formatted-plan antipatterns
        # and the round-10 key-skew window lint share the DataFrame
        # (several builders stage parquet / run real actions inside
        # fn, so a second full-catalog loop would pay that twice)
        df = spec.fn(spark, sf_dir)
        bad = _batch_antipatterns(name, _plan(df))
        if name not in KEY_SKEW_WINDOW_OK:
            bad += [f"KeySkew:{w}" for w in _keyskew_window_offenders(df)]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


SINGLE_PARTITION_WINDOW_OK = {
    "revenue_day_over_day",
    "late_data_accounting",
    "ann_pq_topk",
    "small_quantity_part_revenue",
    "corpus_token_budget",
    "hybrid_retrieval_rrf",
    # same fixed-codebook justification as ann_pq_topk (stage 1 is
    # that operator; stage-2 rerank windows are query-partitioned)
    "ann_pq_refined",
    # its SinglePartition exchanges are the 64-row centroid GlobalLimit
    # merges (TakeOrderedAndProject), fixed-size by construction; the
    # Window operators are all vec_a/vec_b-partitioned — the sweep's
    # "both substrings present" conjunction is a false positive here
    "bitext_mining_ann",
    # totals window over the FIXED 10-row bin table, never the corpus
    "distribution_drift_report",
    # pool-index row_number over the fixed 64-row TakeOrdered pool
    "negative_pool_sampler",
    # every window runs over the AGGREGATED day table (calendar-bounded
    # ~2.4k rows at any SF), the corpus_token_budget justification
    "revenue_cusum_changepoint",
    # the two-level binned_value_cdf kernel: the unpartitioned cum
    # window runs over the $1,000-wide monetary BIN table only
    # (<= domain/1e5 rows, hard-bounded regardless of customer count);
    # rank arithmetic within bins is bin-partitioned
    "revenue_gini",
    # rfm's stacked CDF has NO unpartitioned window (level 1 partitions
    # by metric, level 2 by metric+bin); its SinglePartition exchanges
    # are the 1-row threshold/max-day aggregates — the sweep's
    # "both substrings present" conjunction is a false positive here
    # (the bitext_mining_ann precedent)
    "customer_rfm_segments",
    # round 11: the GLOBAL binned_value_cdf branch — unpartitioned
    # windows over the $1 cents BIN table only (<= domain/100 rows,
    # hard-bounded regardless of corpus size); the per-type branch
    # partitions by event_type/bin (the revenue_gini justification)
    "cross_type_quantile_norm",
    # round 11: rank row_number over the GlobalLimit-12 exact top-N
    # (12 rows by construction, the negative_pool_sampler shape)
    "spacesaving_topk_certified",
}

# Every BroadcastNestedLoopJoin must be an INTENDED broadcast cross:
# the build side is fixed-size by construction (a codebook, a centroid
# set, a 1-row global, a salt array), never corpus-scale. Anything
# else planning a BNLJ is an accidental non-equi join — invisible at
# test scale, a broadcast of half the corpus at 100 TB.
BNLJ_OK = {
    # fixed PQ_K=16 codebook / NUM_CENTROIDS=64 centroid crosses
    "ann_pq_topk",
    "ann_pq_refined",
    "ann_ivf_pq_topk",
    "ann_ivf_index_incremental",
    "bitext_mining_ann",
    "kmeans_assignments",
    "semantic_dedup",
    # 1-row global aggregates broadcast back onto the corpus
    "idle_high_balance_customers",
    "source_reputation_filter",
    "text_rare_token_novelty",
    "corpus_mixture",
    "temperature_mixture",
    "bm25_search",           # query-constant + corpus-stats broadcasts
    "hybrid_retrieval_rrf",  # constant-size top-100 fusion inputs
    "bpe_merges",            # per-round 1-row best-pair broadcast
    "bpe_encode",            # same training loop, same per-round cross
    "skew_join_salted",      # the salt-array explode cross, by design
    "sketch_set_cardinality",  # four 1-row sketch aggregates crossed
    "negative_pool_sampler",   # 1-row pool-count aggregate crossed
    "k_anonymity_audit",       # 3-row threshold frame crossed onto the
                               # bounded QI class table, by design
    "embedding_covariance_report",  # fixed 2080-row literal dim-pair
                                    # frame crossed onto the scan
    "customer_rfm_segments",        # 1-row max-day + ONE 1-row stacked
                                    # quartile-threshold frame crossed
                                    # onto the customer agg
    # documented exact all-pairs BASELINE (scale path: bitext_mining_lsh
    # / bitext_mining_ann)
    "bitext_mining_margin",
    # round 11: 1-row n_chars total + 1-row merge-offset aggregate
    # crossed onto the 12-row exact top-N (negative_pool_sampler shape)
    "spacesaving_topk_certified",
    # round 12: 1-row exact-planner certificate crossed with the 1-row
    # sketch aggregate (X177's sketch-cross shape)
    "join_size_kmv_certified",
}


def _batch_antipatterns(name: str, plan: str) -> list[str]:
    """The scale antipatterns the batch sweep hunts; factored out so a
    meta-test can prove the detector actually fires."""
    bad = []
    if "CartesianProduct" in plan:
        bad.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        bad.append("BroadcastNestedLoopJoin(unallowlisted)")
    # formatted mode prints the exchange's distribution under
    # "Arguments: SinglePartition" — a regex on the node title
    # alone never fires.
    if (
        "SinglePartition" in plan
        and "Window" in plan
        and name not in SINGLE_PARTITION_WINDOW_OK
    ):
        bad.append("SinglePartition+Window")
    return bad


# --- Key-skew window lint (round 10) ------------------------------------
#
# The SinglePartition+Window sweep above cannot see KEY-level skew: a
# window partitioned by a low-cardinality column (event_type has 5
# values, lang/source/band a handful) over corpus-scale input funnels
# 1/k of the corpus through one task at 100 TB — plan-legal, scale-
# fatal. That is exactly how the round-9 value_deciles ntile funnel
# and the customer_rfm_segments monetary window slipped through. This
# lint walks the OPTIMIZED logical plan: a Window whose partition keys
# are all known-low-cardinality columns is an offender unless its
# child subtree is bounded — EVERY leaf path must pass through a
# bounding operator (an Aggregate whose grouping keys include no
# corpus-scaling column, a GlobalLimit, or a literal/1-row/Range leaf)
# — or the entry carries a written justification below.

LOW_CARDINALITY_COLS = {
    "event_type",  # 5 values in events
    "lang",        # handful of language codes
    "source",      # handful of corpus sources
    "band",        # LSH band index (fixed small constant)
    "l_returnflag",
    "l_linestatus",
    "o_orderstatus",
    "o_orderpriority",
}

KEY_SKEW_WINDOW_OK = {
    # (round 11: event_value_quantiles / approx_quantiles_certified
    # entries deleted — group_quantiles now rank-selects over the
    # binned-CDF kernel, so neither plan windows corpus-scale rows by
    # a low-cardinality key anymore)
    # rn <= 20 plans as WindowGroupLimit: each map task keeps its own
    # top-20 per type BEFORE the shuffle, so the per-type funnel task
    # receives <= 20 * num_map_partitions rows, not the corpus (the
    # physical shape test_topn_uses_window_group_limit pins)
    "sample_events_per_type",
}


def _walk_logical(node):
    yield node, node.getClass().getSimpleName()
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


# Columns whose cardinality scales WITH the corpus: an Aggregate whose
# grouping keys include one of these reduces the corpus to a
# corpus-scaling grain (users, docs, orders, ...), NOT to a bounded
# frame — windowing such an output by a low-card key is still the
# funnel (the round-9 customer_rfm_segments monetary histogram was
# exactly this: grouped by a ~customer-cardinality value).
HIGH_CARDINALITY_COLS = {
    "user_id",
    "event_id",
    "doc_id",
    "vec_id",
    "query_id",
    "o_orderkey",
    "o_custkey",
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "c_custkey",
    "s_suppkey",
    "p_partkey",
    "text",
    "payload",
    "monetary",
    # the repo's canonical rename in binned_value_cdf/value_cdf_over_
    # bins and the h60 hash column — without these, aliasing a
    # corpus-scaling column to "v" (the kernel's own convention) would
    # defeat the deny list above
    "v",
    "h",
}


def _agg_grouping_cols(node) -> set[str]:
    import re

    cols: set[str] = set()
    ge = node.groupingExpressions()
    for i in range(ge.size()):
        cols |= {
            m.group(1)
            for m in re.finditer(
                r"([A-Za-z_][A-Za-z0-9_]*)#\d+", ge.apply(i).toString()
            )
        }
    return cols


def _subtree_bounded(node):
    """Is every row source below ``node`` reduced to a bounded frame?

    True only when EVERY leaf path passes through a bounding operator
    (round-10 review tightened this from 'an Aggregate exists anywhere
    below', which blessed corpus-scale sides that merely JOINED an
    aggregated dimension). An Aggregate bounds its subtree only if no
    grouping key is a known corpus-scaling column — a groupBy(user_id)
    output is user-cardinality, not bounded, no matter what sits under
    it. GlobalLimit always bounds."""
    cls = node.getClass().getSimpleName()
    if "GlobalLimit" in cls:
        return True
    if cls == "Aggregate":
        return not (_agg_grouping_cols(node) & HIGH_CARDINALITY_COLS)
    # literal / generator leaves are fixed-size by construction (the
    # 2080-row dim-pair frame, 1-row globals, salt arrays)
    if cls in ("LocalRelation", "OneRowRelation", "Range"):
        return True
    ch = node.children()
    if ch.size() == 0:
        return False
    return all(_subtree_bounded(ch.apply(i)) for i in range(ch.size()))


def _keyskew_window_offenders(df) -> list[str]:
    """Names of low-cardinality partition-key sets for each Window in
    df's optimized logical plan whose input is not a bounded frame."""
    import re

    out = []
    plan = df._jdf.queryExecution().optimizedPlan()
    for node, cls in _walk_logical(plan):
        if cls != "Window":
            continue
        ps = node.partitionSpec()
        cols: set[str] = set()
        for i in range(ps.size()):
            cols |= {
                m.group(1)
                for m in re.finditer(
                    r"([A-Za-z_][A-Za-z0-9_]*)#\d+", ps.apply(i).toString()
                )
            }
        if not cols or not cols <= LOW_CARDINALITY_COLS:
            continue
        ch = node.children()
        if any(_subtree_bounded(ch.apply(i)) for i in range(ch.size())):
            continue
        out.append("Window[" + ",".join(sorted(cols)) + "]")
    return out


# The key-skew lint itself runs inside test_no_scale_antipatterns_in_
# any_batch_plan's single catalog loop (one DataFrame construction per
# query); the meta-test below proves the detector fires.


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
    assert _keyskew_window_offenders(funnel) == ["Window[event_type]"]
    assert _keyskew_window_offenders(QUERIES["value_deciles"].fn(spark, sf_dir)) == []
    # corpus-scaling Aggregate output (user grain) windowed by a
    # low-card key must STILL fire — groupBy(user_id) does not bound
    per_user = (
        ev.groupBy("user_id", "event_type")
        .agg(F.sum("value").alias("s"))
        .withColumn(
            "r", F.rank().over(W.partitionBy("event_type").orderBy("s"))
        )
    )
    assert _keyskew_window_offenders(per_user) == ["Window[event_type]"]
    # a corpus-scale side that merely JOINS an aggregated dim is not
    # bounded either (every leaf path must pass through a reducer)
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
    joined = ev.join(dim, "event_type").withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("value", "event_id")
        ),
    )
    assert _keyskew_window_offenders(joined) == ["Window[event_type]"]


def test_antipattern_sweep_catches_dropped_join_key(spark, sf_dir):
    """Meta-test: a deliberately broken join (equi key dropped, leaving
    only the range predicate -> BroadcastNestedLoopJoin) must be caught
    by the sweep's detector — proving the BNLJ allowlist actually
    guards, not just enumerates."""
    from flink_scala_spark import tables

    ev = tables.load(spark, sf_dir, "events").select("event_id", "value")
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    broken = ev.join(docs, ev.value > docs.n_chars)  # key dropped
    plan = _plan(broken)
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert _batch_antipatterns("not_an_allowlisted_query", plan)
    # and the allowlist is not a wildcard: a listed name still fails on
    # a cartesian product
    assert "CartesianProduct" in _batch_antipatterns(
        "skew_join_salted", plan + "CartesianProduct"
    )


def test_q6_scan_predicate_pushdown(spark, sf_dir):
    """Q6 shape: every filter (date range, discount band, quantity
    cap) must reach the parquet scan as pushed data filters, and the
    keyless aggregate must not shuffle on any hash key."""
    df = QUERIES["forecast_revenue_change"].fn(spark, sf_dir)
    plan = _plan(df)
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in flat
    assert "LessThan(l_quantity" in flat
    assert "GreaterThanOrEqual(l_discount" in flat
    simple = _plan(df, "simple")
    assert "Exchange hashpartitioning" not in simple


def test_q17_window_single_exchange(spark, sf_dir):
    """Q17's correlated-avg decorrelation must stay the single-scan
    keyed-window form: exactly ONE Exchange over the fact (the partkey
    partition), no join back, no second lineitem scan."""
    import re

    df = QUERIES["small_quantity_part_revenue"].fn(spark, sf_dir)
    plan = _plan(df)
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
    plan = _plan(df)
    # formatted explain lists every node twice (tree + detail header)
    assert plan.count("Scan parquet") == 6  # lineitem, orders, supplier
    assert "SortMergeJoin LeftSemi" not in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_q22_anti_probe_is_date_pruned(spark, sf_dir):
    """Q22's NOT EXISTS probe must push the order-date cutoff into the
    orders scan (the anti join then probes a pruned set), and the
    global-average threshold must be a broadcast, not a shuffle."""
    df = QUERIES["idle_high_balance_customers"].fn(spark, sf_dir)
    plan = _plan(df)
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
    plan = _plan(df)
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
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # any EQUI-join operator is the win (small inputs legitimately
    # broadcast; at scale the same plan becomes a shuffle join on bin)
    assert any(
        op in plan
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


# ---------------------------------------------------------------------------
# Streaming plan pins: per-query expected stateful-operator counts.
# ---------------------------------------------------------------------------

#: Exactly which state-store operators each live streaming query's
#: executed physical plan must contain. A drifted count means a
#: changed state layout: an extra StateStoreSave is an extra stateful
#: shuffle + store; a missing one means an agg silently went stateless;
#: a FlatMapGroupsInPandasWithState that became something else means
#: the keyed state machine was replanned. Keys: SSS=StateStoreSave
#: (plain windowed/keyed agg), SW=SessionWindowStateStoreSave,
#: FMG=FlatMapGroupsInPandasWithState (applyInPandasWithState),
#: TWS=TransformWithStateInPySpark (first-class StatefulProcessor),
#: SYM=StreamingSymmetricHashJoin (stream-stream join),
#: DEDUP=StreamingDeduplicate.
STREAMING_PLAN_PINS = {
    "streaming_tumbling_counts": {"SSS": 1},
    "streaming_keyed_sum": {"SSS": 1},
    "streaming_word_count": {"SSS": 1},
    "streaming_order_dashboard": {"SSS": 1},
    "streaming_session_windows": {"SW": 1},
    "streaming_interval_join": {"SYM": 1},
    "streaming_delta_alarm": {"FMG": 1},
    "streaming_delta_alarm_ttl": {"FMG": 1},
    "streaming_rising_alarm": {"FMG": 1},
    "streaming_dedup_events": {"DEDUP": 1},
    "streaming_latest_event": {"SSS": 1},
    "streaming_union_counts": {"SSS": 1},
    "streaming_count_window": {"FMG": 1},
    "streaming_funnel": {"SSS": 1},
    "streaming_cohort_retention": {"SSS": 1},
    "streaming_static_enrichment": {"SSS": 1},  # + a BroadcastHashJoin
    "streaming_dedup_within_watermark": {"DEDUP": 1},
    "streaming_windowed_topk": {"SSS": 1},
    "streaming_interval_join_outer": {"SYM": 1},
    "streaming_cms_heavy_hitters": {"SSS": 1},
    "streaming_cdc_apply": {"SSS": 1},
    # the dimension history is the ONE agg state (collect_list per
    # key); the interval build is stateless batch-side finish
    "streaming_scd2_maintenance": {"SSS": 1},
    # the two-level stateful chains: exactly TWO stores, not one, not three
    "streaming_chained_windows": {"SSS": 2},
    "streaming_interval_join_full_outer": {"SYM": 1},
    "streaming_dedup_then_window": {"DEDUP": 1, "SSS": 1},
    "streaming_approx_ndv_hll": {"DEDUP": 1, "SSS": 1},
    # one windowed HLL-sketch agg is the ONLY stream state; the rolling
    # union and exact audit run post-stream on the closed-day frame
    "streaming_rolling_distinct_daily": {"SSS": 1},
    "streaming_value_quantiles": {"SSS": 1},
    "streaming_join_then_window": {"SYM": 1, "SSS": 1},
    "streaming_rising_alarm_tws": {"TWS": 1},
    "streaming_session_summary_tws": {"TWS": 1},
    "streaming_session_gap_tws": {"TWS": 1},
    # tagged two-input union into ONE keyed processor: exactly one
    # TWS store (per-side state lives inside it), no extra agg state
    "streaming_two_stream_reconcile_tws": {"TWS": 1},
    "streaming_trigger_fire_purge": {"TWS": 1},
    "streaming_dedup_minhash": {"FMG": 1},
    "streaming_dedup_minhash_ttl": {"FMG": 1},
    "streaming_token_budget": {"SSS": 1},
    "streaming_drift_report": {"SSS": 1},
    "streaming_value_mad_daily": {"SSS": 1},
    "streaming_cusum_daily": {"SSS": 1},
    "streaming_k_anonymity_daily": {"SSS": 1},
    # static PQ index served in foreachBatch: ZERO streaming state by
    # design (the index is a broadcast artifact, not store rows)
    "streaming_ann_pq_serving": {},
}

_STREAM_OPS = {
    # negative lookbehind: SessionWindowStateStoreSave contains the
    # plain StateStoreSave as a substring
    "SSS": r"(?<!SessionWindow)StateStoreSave",
    "SW": r"SessionWindowStateStoreSave",
    "FMG": r"FlatMapGroupsInPandasWithState",
    "TWS": r"TransformWithStateInPySpark",
    "SYM": r"StreamingSymmetricHashJoin",
    "DEDUP": r"StreamingDeduplicate",
}


def test_streaming_plans_pin_state_operators(spark, sf_dir):
    """Sweep EVERY live streaming query's executed physical plan (the
    antipattern sweep above skips streaming_*): the stateful-operator
    census must match STREAMING_PLAN_PINS exactly, and no streaming
    plan may contain a cartesian or an (unallowlisted — currently: any)
    BroadcastNestedLoopJoin from a degenerate stream-static join. Plans
    are captured by the bounded runner at execution; queries already
    run this session (the oracle sweep) are not re-run."""
    import re

    from flink_scala_spark.streaming import runner

    live = {n for n in QUERIES if n.startswith("streaming_")}
    # completeness: a new streaming query must add its pin here
    assert live == set(STREAMING_PLAN_PINS), (
        live ^ set(STREAMING_PLAN_PINS)
    )
    failures = {}
    for name in sorted(live):
        if name not in runner.LAST_PLANS:
            QUERIES[name].fn(spark, sf_dir)
        plan = runner.LAST_PLANS.get(name)
        if plan is None:
            failures[name] = ["no plan captured"]
            continue
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan:
            bad.append("BroadcastNestedLoopJoin")
        got = {
            op: len(re.findall(rx, plan)) for op, rx in _STREAM_OPS.items()
        }
        got = {k: v for k, v in got.items() if v}
        if got != STREAMING_PLAN_PINS[name]:
            bad.append(f"state ops {got} != {STREAMING_PLAN_PINS[name]}")
        if bad:
            failures[name] = bad
    assert not failures, failures


def test_ngram_lm_score_broadcasts_count_tables(spark, sf_dir):
    """The trigram/bigram count tables are bounded by alphabet^3
    regardless of corpus size, so scoring must broadcast them against
    the position stream — at 100 TB a shuffle of the positions on a
    hot n-gram key (common trigrams are a large fraction of all
    positions) would be the skew bottleneck. Pin: both joins
    broadcast, zero hash-partition exchanges below the final per-doc
    aggregate's own shuffle."""
    plan = _plan(QUERIES["ngram_lm_score"].fn(spark, sf_dir))
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
    # HEADLINE name would just drop that query from the benchmark
    import bench

    assert set(bench.HEADLINE) <= set(QUERIES), sorted(
        set(bench.HEADLINE) - set(QUERIES)
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
