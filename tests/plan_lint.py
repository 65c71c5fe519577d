"""Plan lint shared by the per-entry catalog test and the plan tests.

Two batch-plan sweeps that are invisible at test scale and fatal at
100 TB run on every batch catalog entry's unexecuted plan (from
``tests/test_catalog_oracle.py``, which builds each entry once):

- the formatted-plan antipatterns: a cartesian product (accidental —
  the intended broadcast cross joins plan as BroadcastNestedLoopJoin,
  each allowlisted in ``BNLJ_OK``) and a single-partition exchange
  feeding a window function (the whole dataset through one task);
- the key-skew window lint over the optimized logical plan.

Streaming entries are checked against ``STREAMING_PLAN_PINS`` on the
executed plan their bounded run recorded. ``tests/test_plans.py``
holds the meta-tests that prove each detector fires.
"""

from __future__ import annotations

import contextlib
import io
import re


def explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


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


def batch_antipatterns(name: str, plan: str) -> list[str]:
    """The formatted-plan scale antipatterns of catalog entry ``name``."""
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


def keyskew_window_offenders(df) -> list[str]:
    """Names of low-cardinality partition-key sets for each Window in
    df's optimized logical plan whose input is not a bounded frame."""
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


def batch_plan_offenders(name: str, df) -> list[str]:
    """Every batch lint finding for catalog entry ``name`` on ``df``'s
    plan; call it before any action, so the plan is the unexecuted one."""
    bad = batch_antipatterns(name, explain(df))
    if name not in KEY_SKEW_WINDOW_OK:
        bad += [f"KeySkew:{w}" for w in keyskew_window_offenders(df)]
    return bad


def streaming_plan_offenders(name: str, plan: str | None) -> list[str]:
    """Findings for a streaming entry's recorded executed plan: a
    cartesian or any BroadcastNestedLoopJoin (a degenerate stream-static
    join), or a stateful-operator census other than its pin."""
    if plan is None:
        return ["no plan captured"]
    bad = []
    if "CartesianProduct" in plan:
        bad.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        bad.append("BroadcastNestedLoopJoin")
    got = {op: len(re.findall(rx, plan)) for op, rx in _STREAM_OPS.items()}
    got = {k: v for k, v in got.items() if v}
    if got != STREAMING_PLAN_PINS[name]:
        bad.append(f"state ops {got} != {STREAMING_PLAN_PINS[name]}")
    return bad
