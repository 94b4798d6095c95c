"""Plan-regression tests: pin the physical-plan properties each operator
family is designed to have (SURVEY §4 — what Catalyst must keep doing
for the 100 TB story to hold)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shifu_spark.plans.inspect import (
    assert_columns_pruned,
    assert_pushed_filters,
    count_shuffles,
    has_broadcast_join,
    whole_stage_codegen_spans,
)

SF = "/root/testdata/sf0.01"


class TestScanHygiene:
    def test_tpch_q1_pushdown_and_pruning(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q1"](spark, SF)
        assert_pushed_filters(df, ["l_shipdate"])
        assert_columns_pruned(df, table_width=11)  # lineitem has 11 cols
        assert count_shuffles(df) <= 2  # partial agg + final agg exchange (+sort reuse)

    def test_purify_filter_pushdown(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["purify_filter"](spark, SF)
        # the translated JEXL predicate must reach the parquet scan
        assert_pushed_filters(df, ["l_quantity"])


class TestAggShapes:
    def test_column_stats_single_pass(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["column_stats"](spark, SF)
        # wide agg: everything reduces through global aggregation —
        # no join, no per-column pass
        assert count_shuffles(df) <= len(df.columns)  # union of k 1-row selects
        assert_columns_pruned(df, table_width=11)
        # exact distincts come from collect_set: no Expand (one row copy
        # per distinct group) and no shuffle keyed by the distinct values
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan
        assert "hashpartitioning" not in plan

    def test_moments_wide_agg_has_no_expand(self, spark):
        # the pipeline's form: moments and boundaries of every column in
        # ONE aggregate, where a per-column countDistinct would Expand
        # each row once per column
        from shifu_spark.operators.stats import _moments

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        plan = _moments(li, cols, F.col("l_returnflag") == "R", 8)
        text = plan._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in text
        assert "hashpartitioning" not in text

    def test_normalize_is_broadcast_only(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["zscore_normalize"](spark, SF)
        # row transform + broadcast stats row: no hash shuffle of the data
        assert has_broadcast_join(df)
        assert count_shuffles(df) <= 1  # only the 1-row agg's own exchange

    def test_codegen_covers_normalize(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["zscore_normalize"](spark, SF)
        df.collect()  # AQE finalizes THIS plan only via its own action
        assert whole_stage_codegen_spans(df) >= 1


class TestJoinShapes:
    def test_combo_join_broadcasts(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["nation_revenue"](spark, SF)
        assert has_broadcast_join(df)  # nation/region dims must broadcast

    def test_lsh_band_join_not_nested_loop(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["minhash_lsh_pairs"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # banding turns the quadratic problem into equi-joins: the plan
        # must contain hash/sort-merge equi-joins, and the only nested
        # loop allowed is a broadcast one (tiny side)
        assert "CartesianProduct" not in plan

    def test_scale_lsh_band_join_not_nested_loop(self, spark):
        # the 16-bit-band embedding LSH must keep the same equi-join
        # shape as the MinHash band join — no cartesian anywhere in the
        # candidate/verify chain
        from shifu_spark.operators.similarity import embedding_neardup_lsh_pairs
        from shifu_spark.queries import _LSH_PLANES_SCALE, _lsh_scale_corpus

        caches = []
        df = embedding_neardup_lsh_pairs(
            _lsh_scale_corpus(spark, SF), _LSH_PLANES_SCALE, bands=4,
            threshold=0.9, cache_out=caches,
        )
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
        finally:
            for c in caches:
                c.unpersist()

    def test_auto_filter_broadcasts_missing_rates(self, spark):
        # the 1-row missing-rate agg joins the per-column KS/IV table by
        # broadcast — no shuffle of either side on the join key
        from shifu_spark.queries import QUERIES

        df = QUERIES["auto_filter"](spark, SF)
        assert has_broadcast_join(df)


class TestRound4Shapes:
    def test_pq_encode_no_shuffle_before_sort(self, spark):
        # PQ encode is a narrow map: codebook literals in the plan, one
        # scan, the only exchange is the output orderBy's range partition
        from shifu_spark.queries import QUERIES

        df = QUERIES["pq_encode"](spark, SF)
        assert count_shuffles(df) <= 1
        assert_columns_pruned(df, table_width=3)  # embeddings has 3 cols

    def test_pq_adc_uses_topk_operator(self, spark):
        # top-k must plan as TakeOrderedAndProject (per-partition heaps,
        # driver merge of k rows) — never a global sort of all rows
        from shifu_spark.queries import QUERIES

        df = QUERIES["pq_adc_topk"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert count_shuffles(df) == 0

    def test_pinned_tree_encode_single_scan(self, spark):
        from shifu_spark.queries import QUERIES

        df = QUERIES["tree_path_encoding_pinned"](spark, SF)
        # one Arrow stage over one scan; only the output sort exchanges
        assert count_shuffles(df) <= 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan

    def test_streaming_eval_finalize_is_window_partitioned(self, spark):
        # the AUC finalize must partition its window functions by
        # window_start — no data-scale unpartitioned window
        from shifu_spark.streaming.eval import auc_confusion_per_window

        counts = spark.createDataFrame(
            [("2024-01-01", 1.0, 3, 4), ("2024-01-01", 2.0, 1, 2)],
            "window_start string, score double, pos long, neg long",
        )
        df = auc_confusion_per_window(counts, 1.5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        matches = list(re.finditer(r"Window \[", plan))
        # vacuous-pass guard: the contract is ONLY checked inside the
        # loop — a refactor that removes Window nodes entirely must fail
        # here, not silently skip every assertion
        assert matches, plan
        for m in matches:
            seg = plan[m.start() : m.start() + 400]
            assert "windowspecdefinition(window_start" in seg or "partitionBy" in seg, seg


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, tmp_path):
        """The 100 TB co-located join story: two tables bucketed on the
        join key by the SAME bucket count must sort-merge join with ZERO
        Exchange — bucketing replaces the shuffle for every downstream
        join/agg on that key (SURVEY §4 optimizer notes)."""
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            a = spark.range(0, 1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("va")
            )
            b = spark.range(0, 1000).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
            )
            (a.write.bucketBy(8, "k").sortBy("k")
             .option("path", str(tmp_path / "ta")).mode("overwrite")
             .saveAsTable("t_bucket_a"))
            (b.write.bucketBy(8, "k").sortBy("k")
             .option("path", str(tmp_path / "tb")).mode("overwrite")
             .saveAsTable("t_bucket_b"))
            j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
            assert count_shuffles(j) == 0, j._jdf.queryExecution().executedPlan().toString()
            assert j.count() == 1000
            # an agg on the bucket key is exchange-free too
            g = spark.table("t_bucket_a").groupBy("k").agg(F.sum("va"))
            assert count_shuffles(g) == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
            spark.sql("DROP TABLE IF EXISTS t_bucket_a")
            spark.sql("DROP TABLE IF EXISTS t_bucket_b")


class TestContinuationRound4Shapes:
    def test_bm25_single_corpus_scan_and_topk(self, spark):
        # per-term tf + doc length are in-row (no token explode) and
        # persisted, so the whole query makes ONE pass over the corpus;
        # zero data-scale shuffles, TakeOrderedAndProject top-k (never a
        # global sort). Inspects the lazy plan (the registry query
        # finalizes eagerly via _materialize_release since ADVICE r4).
        from shifu_spark.queries import _bm25_plan

        df, caches = _bm25_plan(spark, SF)
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
            # every FileScan in the printed tree sits under an
            # InMemoryRelation (the printer repeats the cached subtree
            # per consumer) — i.e. ONE physical corpus scan at cache
            # fill, zero scans outside the cache
            assert "InMemoryTableScan" in plan
            assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")
            assert plan.count("Exchange hashpartitioning") == 0
            assert plan.count("Exchange rangepartitioning") == 0
            assert "TakeOrderedAndProject" in plan
        finally:
            for c in caches:
                c.unpersist()

    def test_decontamination_benchmark_side_broadcast(self, spark):
        # the eval-suite shingle set must broadcast (map-side semi-join
        # against the training corpus); the % 50 split must be pushed to
        # both parquet scans so each side reads only its slice
        from shifu_spark.queries import QUERIES

        df = QUERIES["decontamination_overlap"](spark, SF)
        assert has_broadcast_join(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("(doc_id#") >= 2 and "% 50)" in plan  # pushed residuals

    def test_media_synth_spread_across_cores(self, spark):
        # codec pipelines must not serialize on the single test-scale
        # parquet file: the synth path repartitions to defaultParallelism
        from shifu_spark.queries import _synth_adpcm_payloads, _t

        docs = _t(spark, SF, "documents")
        pay = _synth_adpcm_payloads(docs)
        assert pay.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    def test_quality_filters_are_shuffle_free_maps(self, spark):
        # Gopher rules + hashed-bucket classifier are in-row HOFs: the
        # only exchange either plan may have is the output orderBy's
        # range partition — nothing data-scale shuffles
        from shifu_spark.queries import QUERIES

        for name in ("gopher_quality_flags", "quality_classifier_score"):
            df = QUERIES[name](spark, SF)
            assert count_shuffles(df) <= 1, name
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("FileScan parquet") == 1, name

    def test_sequence_packing_windows_by_shard(self, spark):
        # the packing prefix-sum must partition its window by shard
        # (bounded partitions — shard count scales with the corpus);
        # exactly one hash exchange (the window) + the output sort
        from shifu_spark.queries import QUERIES

        df = QUERIES["sequence_packing"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(shard" in plan
        import re
        assert len(re.findall(r"\+- Exchange hashpartitioning", plan)) == 1

    def test_ivfpq_prunes_cells_and_uses_topk(self, spark):
        # the probed-cell filter must prune candidates BEFORE the code
        # join (cell isin pushed into the assignment branch), and the
        # final top-k must be TakeOrderedAndProject
        from shifu_spark.queries import QUERIES

        df = QUERIES["embedding_ivfpq_topk"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        import re
        # the probed-cell literal IN-filter is fused into the cell
        # assignment's own Filter (Catalyst pushes it under the project)
        assert re.search(r"Filter .*cid#\d+L? IN \(", plan), plan[:2000]


class TestPartitionPruning:
    def test_partitioned_sink_scan_prunes_partitions(self, spark, tmp_path):
        """The 100 TB date-partitioned-lake story: writing
        partitionBy(day) and filtering on day must produce a scan whose
        PartitionFilters carry the predicate, reading only the matching
        directories — partition pruning is what turns a full-lake scan
        into a one-day scan (SURVEY §4 optimizer notes)."""
        ev = spark.createDataFrame(
            [(d, i, float(i)) for d in range(5) for i in range(200)],
            "day int, user_id int, value double",
        )
        path = str(tmp_path / "pev")
        ev.write.partitionBy("day").mode("overwrite").parquet(path)
        df = spark.read.parquet(path).filter(F.col("day") == 3).groupBy().sum("value")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(day" in plan or "PartitionFilters: [(day" in plan, plan
        # the pruned scan must expose only the day=3 slice
        assert df.collect()[0][0] == sum(float(i) for i in range(200))
        n_files = spark.read.parquet(path).filter(F.col("day") == 3).select(
            F.input_file_name()
        ).distinct().count()
        all_files = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
        assert n_files < all_files  # strictly fewer files touched


class TestRound5Shapes:
    def test_pii_redaction_narrow_map(self, spark):
        # PII scrub is ONE narrow projection over the scan: no exchange,
        # no UDF, and only (doc_id, text) read from the parquet
        from shifu_spark.operators.text import pii_redact_df

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = pii_redact_df(docs)
        assert count_shuffles(df) == 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    def test_repetition_signals_narrow_map(self, spark):
        from shifu_spark.operators.text import repetition_signals_df

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = repetition_signals_df(docs)
        assert count_shuffles(df) == 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan

    def test_pinned_forward_queries_single_pass(self, spark):
        # the pinned scoring halves are one scan + (for trees) one Arrow
        # stage — the only exchange allowed is the final order-by sort
        from shifu_spark.queries import QUERIES

        for name in ("lr_forward_pinned", "rf_forward_pinned", "gbt_forward_pinned"):
            df = QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange hashpartitioning") == 0, name
            assert plan.count("FileScan parquet") == 1, name


class TestAdaptiveSkewJoin:
    def test_aqe_splits_skewed_join(self, spark):
        """The 100 TB skew story is AQE's OptimizeSkewedJoin: with one
        hot key dominating a sort-merge join, the FINAL adaptive plan
        must mark the join skew=true (hot partition split into
        subpartitions) instead of one straggler task absorbing it."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            pad = "x" * 200
            fact = spark.range(0, 60_000).select(
                F.when(F.col("id") % 3 != 0, 0)  # key 0 takes 2/3 of all rows
                .otherwise(F.col("id") % 97)
                .alias("k"),
                F.concat(F.lit(pad), F.col("id").cast("string")).alias("payload"),
            )
            dim = spark.range(0, 97).select(
                F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
            )
            j = fact.join(dim, "k")
            # execute THIS dataframe (count() would finalize a different
            # query execution) so AQE finalizes j's own plan
            assert len(j.collect()) == 60_000
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestZorderLayout:
    def test_bucket_spans_bounded_and_no_data_shuffle(self, spark):
        """Every coarse Z-range bucket must confine BOTH dimensions to a
        2^5-of-2^8 rank window (the data-skipping guarantee), and the
        key computation itself must be a broadcast-agg + narrow map —
        the only exchange is the final catalog-sized groupBy."""
        from shifu_spark.operators.layout import zorder_keys
        from shifu_spark.queries import QUERIES

        rows = QUERIES["zorder_skipping_stats"](spark, SF).collect()
        assert len(rows) == 64
        for r in rows:
            assert r["max_q"] - r["min_q"] <= 31, r
            assert r["max_p"] - r["min_p"] <= 31, r
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_quantity", "l_extendedprice"
        )
        z = zorder_keys(li, ["l_quantity", "l_extendedprice"], bits=8)
        assert has_broadcast_join(z)
        assert count_shuffles(z) <= 1  # the 1-row min/max agg's own exchange

    def test_morton_key_matches_python_reference(self, spark):
        from shifu_spark.operators.layout import zorder_keys

        df = spark.createDataFrame(
            [(float(i), float((i * 37) % 100)) for i in range(100)], "a double, b double"
        )
        got = zorder_keys(df, ["a", "b"], bits=4).collect()

        def interleave(x, y):
            out = 0
            for b in range(4):
                out |= ((x >> b) & 1) << (2 * b)
                out |= ((y >> b) & 1) << (2 * b + 1)
            return out

        for r in got:
            assert r["zkey"] == interleave(r["zr_a"], r["zr_b"])


class TestRuntimeBloomFilter:
    def test_selective_join_injects_bloom_filter(self, spark, tmp_path):
        """Catalyst's runtime-filter injection: a selective dim-side
        predicate on a shuffle join must plant a bloom_filter_agg on the
        dim and a might_contain pre-filter on the fact scan — at 100 TB
        this prunes most fact rows BEFORE the join shuffle."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            spark.range(0, 200_000).select(
                F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
            ).write.parquet(str(tmp_path / "fact"))
            spark.range(0, 50_000).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
            ).write.parquet(str(tmp_path / "dim"))
            fact = spark.read.parquet(str(tmp_path / "fact"))
            dim = spark.read.parquet(str(tmp_path / "dim")).filter("tag = 3")
            j = fact.join(dim, "k")
            assert j.count() > 0
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "bloom_filter_agg" in plan
            assert "might_contain" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestCorpusReportShape:
    def test_single_corpus_scan(self, spark):
        """The report card must evaluate every quality signal in ONE
        projection over ONE corpus scan — no join-of-derived-frames
        (which would re-read the corpus per signal and SMJ on doc_id at
        scale)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["corpus_report_by_source"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


class TestRound6Shapes:
    def test_tpch_q3_broadcast_and_topk(self, spark):
        """The segment-filtered customer side must broadcast (never a
        data-scale shuffle of lineitem against a catalog-sized dim) and
        the top-10 must be TakeOrderedAndProject, not a global sort."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q3_shipping_priority"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert_pushed_filters(df, ["l_shipdate"])

    def test_asof_join_single_exchange(self, spark):
        """The union-tag as-of join must cost exactly one hash exchange
        on the join keys (the window sort), like any windowed agg — no
        per-row subqueries, no range cross join."""
        from shifu_spark.operators.join import asof_join

        left = spark.range(0, 1000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("lts"), F.col("id").alias("lid")
        )
        right = spark.range(0, 1000).select(
            (F.col("id") % 50).alias("k"), (F.col("id") * 2).alias("rts"), F.col("id").alias("rid")
        )
        j = asof_join(left, right, ["k"], "lts", "rts", ["rid", "rts"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    def test_tpch_q5_broadcast_dims_single_fact_pass(self, spark):
        """All three catalog dims must broadcast; the only data-scale
        shuffle pair is orders⋈lineitem (no SMJ against a dim)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q5_local_supplier"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 3
        assert_pushed_filters(df, ["o_orderdate"])

    def test_tpch_q18_semi_join_broadcast_topk(self, spark):
        """The HAVING-qualified order set joins back as a broadcast (no
        second lineitem shuffle) and the top-100 is
        TakeOrderedAndProject."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q18_large_orders"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan


class TestLateRound6Shapes:
    def test_rollup_single_expand_single_scan(self, spark):
        """ROLLUP compiles to ONE Expand over one orders scan (grouping
        sets never re-read the fact table) with broadcast dims."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["revenue_rollup_region_nation"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Expand") == 1
        assert plan.count("FileScan parquet") == 4  # orders + 3 dims, once each
        assert "BroadcastHashJoin" in plan

    def test_pivot_is_one_scan_bounded_exchanges(self, spark):
        """Pinned pivot values: exactly one orders scan and no
        distinct-values pre-pass. Spark's pivotfirst runs two phases
        ((status,priority) count agg, then the pivot fold), so there are
        TWO hash exchanges — but both carry aggregate-output-sized rows
        (<= |statuses x priorities|), never data-scale rows."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["order_priority_pivot"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 2
        assert "partial_pivotfirst" in plan  # map-side combine on phase 2 too

    def test_q4_is_semi_join(self, spark):
        """EXISTS must compile to a semi join (no row multiplication,
        no distinct pass over the probe output)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q4_late_shipments"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        assert "HashAggregate" in plan

    def test_sketches_single_scan_bounded_shuffle(self, spark):
        """CMS / HLL builds: one scan of the keyed input, one bounded
        aggregation exchange, nothing quadratic."""
        from shifu_spark.operators.sketch import cms_build_df, hll_registers_df

        ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
        for build in (cms_build_df, hll_registers_df):
            df = build(ev, "user_id")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("FileScan parquet") == 1, build.__name__
            assert plan.count("Exchange hashpartitioning") == 1, build.__name__
            assert "Join" not in plan, build.__name__

    def test_rag_chunks_no_shuffle(self, spark):
        """Chunking is a pure in-row explode: one corpus scan, zero
        data exchanges before the (ordering-only) output sort."""
        from shifu_spark.operators.text import chunk_spans_df

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = chunk_spans_df(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1
        assert plan.count("Exchange hashpartitioning") == 0
        assert "Generate explode" in plan


class TestTpchBreadthShapes:
    """Round-6 continuation TPC-H batch: pin the plan property each
    query exists to demonstrate."""

    def test_q6_pure_pushdown_scan(self, spark):
        """Q6: every predicate reaches the parquet scan; no join, no
        data-scale exchange (global agg only)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q6_forecast_revenue"](spark, SF)
        assert_pushed_filters(df, ["l_shipdate", "l_discount", "l_quantity"])
        assert_columns_pruned(df, table_width=11)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 0

    def test_q19_disjunction_stays_broadcast(self, spark):
        """Q19: the cross-table OR predicate must not force a shuffle —
        part broadcasts and the residual evaluates on the probe side."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q19_disjunctive_revenue"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 0
        assert plan.count("FileScan parquet") == 2  # lineitem + part, once each

    def test_q13_left_outer_keeps_condition_in_join(self, spark):
        """Q13: the priority exclusion rides the join condition (a WHERE
        would drop the zero-order customers the histogram needs)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q13_order_count_distribution"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftOuter" in plan
        # priority filter evaluates inside the join, not as a scan filter
        # on the preserved side
        assert "1-URGENT" in plan

    def test_q16_not_in_is_broadcast_anti(self, spark):
        """Q16: the NOT-IN supplier exclusion compiles to a broadcast
        left_anti, never a shuffled null-aware join."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q16_supplier_relation"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert_pushed_filters(df, ["p_size"])

    def test_q21_single_fact_shuffle(self, spark):
        """Q21: the double-correlated EXISTS/NOT-EXISTS runs as ONE
        per-order aggregate over one lineitem⋈orders join — the fact
        table is scanned once and shuffled once (the classic
        three-self-join formulation scans it three times)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q21_waiting_supplier"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 3  # lineitem, orders, supplier
        # the fact table is scanned ONCE (the classic formulation scans
        # it three times) ...
        assert sum("lineitem" in ln for ln in plan.splitlines() if "FileScan" in ln) == 1
        # ... and shuffled once: 3 hash exchanges total = the single
        # lineitem-scale one + two post-aggregate catalog-scale ones
        # (per-order rows, then per-supplier-name counts). A regression
        # reintroducing a second fact shuffle raises this count.
        import re as _re

        assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
        assert "TakeOrderedAndProject" in plan

    def test_q8_q9_dims_all_broadcast(self, spark):
        """Q8/Q9: every dim side broadcasts; the only hash exchanges
        carry the orderkey join and the bounded final group."""
        from shifu_spark.queries import QUERIES

        for name in ("tpch_q8_market_share", "tpch_q9_product_profit"):
            df = QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("BroadcastHashJoin") >= 3, name
            assert "SortMergeJoin" not in plan, name


class TestBucketedFactJoin:  # renamed: duplicated class name shadowed
    # TestBucketedJoin above and silently dropped its test from collection
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """The co-located-join contract (SURVEY §4 / brief: 'bucketing
        for co-located joins'): two tables bucketed by the join key
        into the same bucket count must sort-merge join with ZERO
        exchanges — at 100 TB this is the difference between re-
        shuffling both fact tables per join and reading them already
        key-partitioned."""
        import uuid

        suffix = uuid.uuid4().hex[:8]
        ta, tb = f"bj_a_{suffix}", f"bj_b_{suffix}"
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        try:
            (li.select("l_orderkey", "l_extendedprice")
               .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
               .mode("overwrite").saveAsTable(ta))
            (orders.select("o_orderkey", "o_orderpriority")
               .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
               .mode("overwrite").saveAsTable(tb))
            a, b = spark.table(ta), spark.table(tb)
            joined = a.join(b, a.l_orderkey == b.o_orderkey)
            # at gate scale the planner would broadcast the small side
            # (which rightly disables bucketed scans); force the SMJ the
            # tables would get at fact×fact scale
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan = joined._jdf.queryExecution().executedPlan().toString()
                assert "Exchange" not in plan, plan
                assert "SortMergeJoin" in plan
                # and the result is right: every lineitem row finds its order
                assert joined.count() == li.count()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ta}")
            spark.sql(f"DROP TABLE IF EXISTS {tb}")


class TestTpchCompletionShapes:
    """Round-7 completion batch (q2/q11/q12/q20): pin the plan property
    each query exists to demonstrate."""

    def test_q2_min_cost_result_invariants(self, spark):
        """Q2 returns localCheckpointed rows (the pc cache is released),
        so pin RESULT invariants instead of the erased plan: within a
        part every emitted supplier carries the same (minimum) cost,
        costs are exact 1e-4 multiples (the integer-domain contract),
        and the sort keys are respected."""
        from collections import defaultdict

        from shifu_spark.queries import QUERIES

        rows = QUERIES["tpch_q2_min_cost_supplier"](spark, SF).collect()
        assert 0 < len(rows) <= 100
        by_part = defaultdict(set)
        for r in rows:
            by_part[r["p_partkey"]].add(r["min_unit_cost"])
            v = r["min_unit_cost"] * 10000.0
            assert abs(v - round(v)) < 1e-6
        assert all(len(costs) == 1 for costs in by_part.values())
        keys = [(-r["s_acctbal"], r["n_name"], r["s_name"], r["p_partkey"]) for r in rows]
        assert keys == sorted(keys)

    def test_q11_integer_domain_and_scalar_broadcast(self, spark):
        """Q11 RESULT-INVARIANT pin (the q2 pattern): the query returns a
        localCheckpoint'ed frame — _materialize_release erases the plan,
        so plan-shape claims are not inspectable here and the pin is the
        exact-integer value domain instead (every stock_value a multiple
        of 1e-4, which only survives if the BIGINT arithmetic does)."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q11_important_stock"](spark, SF)
        rows = df.collect()
        assert len(rows) > 0
        # exact-integer domain: every stock_value is a multiple of 1e-4
        for r in rows:
            v = r["stock_value"] * 10000.0
            assert abs(v - round(v)) < 1e-6

    def test_q12_year_filter_pushed(self, spark):
        """Q12: the ship-year window reaches the lineitem scan."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q12_priority_shipping"](spark, SF)
        assert_pushed_filters(df, ["l_shipdate"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 2  # lineitem + orders

    def test_q20_semi_join_ends_plan(self, spark):
        """Q20: the excess-stock supplier set reaches supplier as a
        broadcast left_semi — no shuffled join against the dim."""
        from shifu_spark.queries import QUERIES

        df = QUERIES["tpch_q20_excess_stock"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


class TestRegistryPlanLint:
    def test_no_cartesian_or_rowwise_python_udf_in_any_registry_plan(self, spark):
        """GLOBAL structural lint over every registry query's physical
        plan at sf0.001 — the two anti-patterns the 100 TB story cannot
        tolerate, enforced as a regression test instead of a per-round
        hand audit:

        - ``CartesianProduct``: an unguarded non-broadcast cross join
          (the documented capped exact kernels use
          crossJoin(broadcast(...)), which plans as
          BroadcastNestedLoopJoin — allowed; a CartesianProduct means a
          join lost its keys or its broadcast hint);
        - ``BatchEvalPython``: a row-at-a-time Python UDF (the Arrow
          paths plan as ArrowEvalPython / MapInPandas / FlatMapGroupsIn*
          — allowed).

        Eager queries (trainers, streaming patterns, iterative graph/
        dedup loops) execute at sf0.001 as a side effect; their
        RETURNED frame's plan is what's linted (interior superstep
        plans are pinned by their own per-family tests above). Doubles
        as an every-query smoke test at the smallest SF."""
        from shifu_spark.plans.inspect import _executed_plan
        from shifu_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        violations: dict[str, list[str]] = {}
        errors: dict[str, str] = {}
        for name, fn in QUERIES.items():
            try:
                plan = _executed_plan(fn(spark, sf))
            except Exception as e:  # noqa: BLE001 — collect, report all at once
                errors[name] = repr(e)[:200]
                continue
            hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
            if hits:
                violations[name] = hits
            spark.catalog.clearCache()
        assert not errors, f"registry queries failed to build/run at sf0.001: {errors}"
        assert not violations, f"plan anti-patterns: {violations}"


class TestExpensiveQueryScanHygiene:
    """VERDICT r9 item 5: POSITIVE pushdown/pruning assertions for the
    most expensive registry queries (BENCH_r09_local ranking) — the
    registry-wide lint above bans anti-patterns; this pins the
    SCALE.md principle-1 property (filters and projections REACH the
    parquet scan) so a refactor that silently materializes-then-filters
    fails a test instead of a bench round.

    Two disjoint groups cover the cost ranking:
    - SCAN_EXPECTATIONS: queries whose returned plan still contains the
      data-scale parquet scans — assert every scan is pruned to at most
      the expected width and the expected filters are pushed;
    - EAGER_FINALIZED: queries whose returned frame is eagerly
      finalized (trainer summaries, label-prop loops,
      _finalize_one_row metrics) — their data-scale scans live in
      interior superstep plans pinned by the per-family tests above;
      asserted scan-free here so a de-eagering refactor trips the lint
      and demands a SCAN_EXPECTATIONS entry.
    Streaming queries are out of scope (readStream plans have no
    batch parquet scan to lint)."""

    # query -> (max parquet-scan width, substrings that must appear in
    # the scans' PushedFilters). Widths from the live plans at sf0.001;
    # lineitem is 11 wide, orders 9, documents 5, embeddings 3 — every
    # bound below proves column pruning reached the scan.
    SCAN_EXPECTATIONS = {
        "dedup_rep_by_quality": (2, ["doc_id"]),
        "robust_column_stats": (1, []),
        "salted_skew_join_revenue": (4, ["l_orderkey", "o_orderkey"]),
        "video_mjpeg_features": (1, []),
        "tree_path_encoding_pinned": (4, []),
        "gbt_forward_pinned": (4, []),
        "rf_forward_pinned": (4, []),
        "simhash_neardup_pairs": (2, []),
    }
    EAGER_FINALIZED = [
        "pagerank_part_supplier", "corpus_curation_funnel",
        "triangle_count_parts", "dedup_groups_distributed", "wdl_train",
        "wdl_train_minibatch", "text_roundtrip_stats", "tree_path_encoding",
        "ns_purify_filter", "rf_train", "sgd_lr_train", "kfold_cv",
        "nn_train", "dedup_groups", "pr_auc", "weighted_pr_auc",
        "matryoshka_recall", "minhash_lsh_pairs", "ngram_jaccard_pairs",
        "ann_recall_report", "eval_meta_score",
        # r12 eval optimization: the curve queries finalize eagerly over
        # one materialized points pass, so their registry plans are
        # scan-free; the pruning/pushdown proof moved to the operator
        # level (test_curve_machinery_lazy_plan_prunes_and_pushes)
        "confusion_matrix_points", "confusion_matrix_scalable",
        "weighted_confusion", "roc_auc", "weighted_roc_auc",
        "gain_buckets", "weighted_gain_buckets", "gain_chart_export",
    ]

    @staticmethod
    def _assert_scan_hygiene(df, max_width, pushed_subs, name="?"):
        from shifu_spark.plans.inspect import pushed_filters, read_schema_columns

        widths = [len(s) for s in read_schema_columns(df)]
        assert widths, f"{name}: expected a parquet scan in the plan, found none"
        assert max(widths) <= max_width, (
            f"{name}: scan reads {max(widths)} columns, pruning bound is {max_width}"
        )
        pf = " | ".join(pushed_filters(df))
        missing = [s for s in pushed_subs if s not in pf]
        assert not missing, f"{name}: filters not pushed to scan: {missing} (pushed: {pf})"

    def test_expensive_lazy_plans_prune_and_push(self, spark):
        from shifu_spark.queries import QUERIES

        for name, (max_w, subs) in self.SCAN_EXPECTATIONS.items():
            df = QUERIES[name](spark, SF)
            self._assert_scan_hygiene(df, max_w, subs, name)
            spark.catalog.clearCache()

    def test_eager_finalized_plans_stay_scan_free(self, spark):
        from shifu_spark.plans.inspect import read_schema_columns
        from shifu_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"  # these EXECUTE on build — smallest SF
        leaked = {}
        for name in self.EAGER_FINALIZED:
            df = QUERIES[name](spark, sf)
            scans = read_schema_columns(df)
            if scans:
                leaked[name] = [len(s) for s in scans]
            spark.catalog.clearCache()
        assert not leaked, (
            "eagerly-finalized queries now expose parquet scans — add "
            f"SCAN_EXPECTATIONS entries with pruning bounds: {leaked}"
        )

    def test_curve_machinery_lazy_plan_prunes_and_pushes(self, spark):
        """The registry curve queries finalize eagerly since r12 (one
        materialized points pass feeds every branch), so their plans are
        scan-free; this pins the SAME pruning/pushdown proof on the lazy
        operator plan they execute internally: only the score (+weight)
        columns read, score filter pushed to the parquet scan."""
        from shifu_spark.operators.eval_metrics import confusion_points_df

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        lazy = confusion_points_df(li, "l_extendedprice", F.col("l_returnflag") == "R")
        self._assert_scan_hygiene(lazy, 2, ["l_extendedprice"], "curve_unweighted")
        lazyw = confusion_points_df(
            li, "l_extendedprice", F.col("l_returnflag") == "R", weight_col="l_quantity"
        )
        self._assert_scan_hygiene(lazyw, 3, ["l_extendedprice"], "curve_weighted")

    def test_lint_rejects_an_unpruned_scan(self, spark):
        """Sanity: the checker itself must FAIL on a deliberately
        regressed plan — a full-width lineitem scan with no pushable
        filter (the materialize-then-filter shape the lint exists to
        catch)."""
        import pytest as _pytest

        full = spark.read.parquet(f"{SF}/lineitem.parquet")  # all 11 cols
        with _pytest.raises(AssertionError, match="pruning bound"):
            self._assert_scan_hygiene(full, 2, [], "regressed")
        # and on a missing pushed filter even when pruned
        pruned = full.select("l_extendedprice", "l_returnflag")
        with _pytest.raises(AssertionError, match="not pushed"):
            self._assert_scan_hygiene(pruned, 2, ["l_shipdate"], "regressed")
