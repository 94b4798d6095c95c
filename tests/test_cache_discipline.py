"""Unpersist discipline: curve operators must not leak caches.

A persisted intermediate that is never released is harmless run-once
but a slow cache leak in a long-lived session. The operators finalize
their (metric-sized) results eagerly and unpersist in a finally; these
tests pin that no persistent RDDs survive a full curve-family pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture()
def scored(spark):
    return spark.range(0, 5000).select(
        (F.col("id") % 997 / 997.0).alias("score"),
        (F.rand(7) < 0.3).cast("int").alias("label"),
        (F.col("id") % 13).cast("double").alias("w"),
    )


# the derived range count takes the one-range form at this size (nothing
# persists); 4 forced ranges persist the points and exercise the release
RANGES = pytest.mark.parametrize("num_ranges", [None, 4], ids=["derived", "ranges4"])


@RANGES
def test_curve_metrics_releases_cache(spark, scored, num_ranges):
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    before = _persistent_rdd_count(spark)
    out = curve_metrics_df(scored, "score", F.col("label") == 1, num_ranges=num_ranges)
    row = out.collect()[0]
    assert row["auc"] is not None
    # <= (not ==): an earlier test's GC-pending localCheckpoint may be
    # cleaner-released DURING this test, dropping the count below `before`;
    # the contract here is only that the curve pass adds nothing persistent
    assert _persistent_rdd_count(spark) <= before


@RANGES
def test_weighted_curve_metrics_releases_cache(spark, scored, num_ranges):
    from shifu_spark.operators.eval_metrics import curve_metrics_df

    before = _persistent_rdd_count(spark)
    out = curve_metrics_df(
        scored, "score", F.col("label") == 1, num_ranges=num_ranges, weight_col="w"
    )
    row = out.collect()[0]
    assert row["auc"] is not None
    # <= (not ==): an earlier test's GC-pending localCheckpoint may be
    # cleaner-released DURING this test, dropping the count below `before`;
    # the contract here is only that the curve pass adds nothing persistent
    assert _persistent_rdd_count(spark) <= before


def test_dedup_queries_release_caches(spark):
    """The registry dedup pair queries persist shingle/band-key
    intermediates; those upstream caches must be released before the
    result is returned. The result itself is localCheckpoint'ed
    (executor-side materialization, no driver collect round-trip), so
    each query may add AT MOST ONE persistent entry — its own checkpoint
    blocks, which the ContextCleaner releases when the frame is GC'd.
    A leaked upstream cache would add 2+ per query and fail this."""
    from shifu_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    before = _persistent_rdd_count(spark)
    names = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "dedup_groups",
             "embedding_neardup_lsh_scale", "semantic_dedup")
    for i, name in enumerate(names):
        out = QUERIES[name](spark, sf)
        assert out.count() >= 0
        # cumulative allowance: one checkpoint per query run so far (old
        # ones may still be pending async cleanup)
        assert _persistent_rdd_count(spark) <= before + i + 1, name


def test_bm25_and_ann_release_caches(spark):
    """bm25_topk / ann_recall_report persist + release deterministically
    rather than leaving construction-time localCheckpoints to the
    ContextCleaner: ann adds NOTHING persistent
    (its result is driver-side), bm25 adds at most its own finalized
    result checkpoint per run (same contract as the dedup queries)."""
    from shifu_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    before = _persistent_rdd_count(spark)
    out = QUERIES["ann_recall_report"](spark, sf)
    assert out.count() == 3
    assert _persistent_rdd_count(spark) <= before
    for i in range(2):  # repeated invocation must not accumulate caches
        out = QUERIES["bm25_topk"](spark, sf)
        assert out.count() >= 0
        # one pending GC-cleanup checkpoint per completed run
        assert _persistent_rdd_count(spark) <= before + i + 1


def test_streaming_queries_drop_memory_sinks(spark):
    """Memory-sink tables pin their results for the session's lifetime;
    the streaming registry queries must drop their uuid-named sinks
    after snapshotting."""
    from shifu_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    QUERIES["streaming_running_stats"](spark, sf).count()
    QUERIES["streaming_decontamination"](spark, sf).count()
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("drift_", "sess_", "mhdedup_", "rstats_", "sdecon_"))
    ]
    assert leftovers == []
