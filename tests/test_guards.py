"""Scale guards on the retained ground-truth baselines: the quadratic
/ unbounded-state paths must refuse loudly past their documented
bounds, naming their scale-safe twins — and the guard must actually be
wired into the catalog entries, not just exist as a helper."""

import pytest

from flink_scala_spark.pipeline import guards
from flink_scala_spark.queries.catalog import QUERIES


def test_guard_passes_under_bound_and_env_overrides(monkeypatch):
    guards.guard_exact_pairs(guards.MAX_EXACT_PAIRS, "x", "y")
    guards.guard_unbounded_state(guards.MAX_UNBOUNDED_STATE_ROWS, "x", "y")
    with pytest.raises(RuntimeError, match="scale path `the_twin`"):
        guards.guard_exact_pairs(guards.MAX_EXACT_PAIRS + 1, "q", "the_twin")
    with pytest.raises(RuntimeError, match="TTL twin `the_twin`"):
        guards.guard_unbounded_state(
            guards.MAX_UNBOUNDED_STATE_ROWS + 1, "q", "the_twin"
        )
    monkeypatch.setenv("SPARK_GRAFT_ALLOW_QUADRATIC", "1")
    guards.guard_exact_pairs(guards.MAX_EXACT_PAIRS + 1, "q", "t")
    guards.guard_unbounded_state(guards.MAX_UNBOUNDED_STATE_ROWS + 1, "q", "t")


@pytest.mark.parametrize(
    "name,twin",
    [
        ("bitext_mining_margin", "bitext_mining_ann"),
        ("dedup_ngram_jaccard", "dedup_minhash_lsh"),
        ("streaming_dedup_minhash", "streaming_dedup_minhash_ttl"),
        # the exact brute-force ANN family guards at the library choke
        # point (cosine_topk_vectorized), naming each entry's ANN twin
        ("ann_cosine_topk", "ann_ivf_topk"),
        ("hard_negative_mining", "hard_negative_mining_ivf"),
        ("contrastive_triplets", "contrastive_triplets_ivf"),
        ("ann_recall_report", "ann_ivf_topk"),
    ],
)
def test_baselines_are_guard_wired(spark, sf_dir, name, twin, monkeypatch):
    """With the bounds forced to zero, each retained baseline must
    refuse before doing any pair/state work, and the error must point
    at the production twin."""
    monkeypatch.setattr(guards, "MAX_EXACT_PAIRS", 0)
    monkeypatch.setattr(guards, "MAX_UNBOUNDED_STATE_ROWS", 0)
    with pytest.raises(RuntimeError, match=twin):
        QUERIES[name].fn(spark, sf_dir)


def test_guard_errors_name_the_executing_catalog_entry(spark, sf_dir, monkeypatch):
    """The library-level guard must attribute the refusal to the
    CATALOG ENTRY being executed, not the internal helper name."""
    monkeypatch.setattr(guards, "MAX_EXACT_PAIRS", 0)
    with pytest.raises(RuntimeError, match="hard_negative_mining:"):
        QUERIES["hard_negative_mining"].fn(spark, sf_dir)


def test_cosine_topk_rejects_label_col_without_match(spark, sf_dir):
    """label_col without label_match must raise, not silently return
    unmasked neighbors (the IVF sibling masks on label_col alone, so
    the mirrored call shape is an easy trap)."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity
    from pyspark.sql import functions as F

    emb = tables.load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="label_col given without label_match"):
        similarity.cosine_topk_vectorized(
            emb, F.col("vec_id") % 50 == 0, k=3, label_col="label"
        )


def test_serving_collect_is_bounded(spark, sf_dir, monkeypatch):
    """streaming_ann_pq_serving collects each microbatch's requests to
    the driver to build its ADC tables; past MAX_SERVE_BATCH_ROWS it
    must refuse, naming the entry, instead of collecting the batch."""
    from flink_scala_spark.queries import streaming_queries

    monkeypatch.setattr(streaming_queries, "MAX_SERVE_BATCH_ROWS", 0)
    with pytest.raises(Exception, match="streaming_ann_pq_serving: a serving microbatch"):
        QUERIES["streaming_ann_pq_serving"].fn(spark, sf_dir)
