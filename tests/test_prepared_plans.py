"""Pins for the r12 prepared-plan handle cache (registry.py).

The cache stores DataFrame HANDLES (resolved logical plans) per
(session, sf_dir, name) for builders audited as pure plan
constructors. It must never store rows: re-executing a cached handle
recomputes from parquet (the oracle sweep verifies values; here we
pin the caching mechanics and the exclusions).
"""

from __future__ import annotations

from sqawk_spark.operators.registry import (
    _PREPARED,
    PREPARED_PLAN_QUERIES,
    REGISTRY,
)

SF2 = "/root/testdata/sf0.01"


def test_prepared_names_all_registered(spark):
    missing = PREPARED_PLAN_QUERIES - set(REGISTRY)
    assert not missing, missing


def test_prepared_builder_returns_same_handle(spark, sf_dir):
    spec = REGISTRY["tpch_q6_forecast_revenue"]
    a = spec.builder(spark, sf_dir)
    b = spec.builder(spark, sf_dir)
    assert a is b
    # a different data directory is a different plan
    c = spec.builder(spark, SF2)
    assert c is not a


def test_impure_builders_are_not_cached(spark, sf_dir):
    # pipeline_end_to_end localCheckpoints its verdict frame per run;
    # caching its handle would freeze per-run results
    assert "pipeline_end_to_end" not in PREPARED_PLAN_QUERIES
    spec = REGISTRY["pipeline_end_to_end"]
    assert spec.builder(spark, sf_dir) is not spec.builder(spark, sf_dir)
    # per-call driver collects must stay per-call
    for name in (
        "sample_shuffle_deterministic",
        "ann_cosine_topk",
        "dedup_clusters",
        "dedup_keep_best",
        "dedup_semantic_clusters",
    ):
        assert name not in PREPARED_PLAN_QUERIES, name


def test_parameterized_call_bypasses_cache(spark, sf_dir):
    spec = REGISTRY["dedup_embedding_lsh"]
    default = spec.builder(spark, sf_dir)
    assert spec.builder(spark, sf_dir) is default
    custom = spec.builder(spark, sf_dir, 0.5)
    assert custom is not default


def test_clear_prepared_drops_handles(spark, sf_dir):
    spec = REGISTRY["tpch_q6_forecast_revenue"]
    a = spec.builder(spark, sf_dir)
    _PREPARED.release(spark)
    b = spec.builder(spark, sf_dir)
    assert a is not b


def test_cached_handle_reexecutes_from_parquet(spark, sf_dir):
    """The handle stores a plan, not rows: two executions of the same
    cached handle both run real jobs (job count advances) and agree."""
    spec = REGISTRY["groupby_agg"]
    df = spec.builder(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    r1 = df.collect()
    mid = set(tracker.getJobIdsForGroup(None) or [])
    r2 = spec.builder(spark, sf_dir).collect()
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert mid - before, "first execution ran no job"
    assert after - mid, "second execution ran no job (results were cached)"
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
