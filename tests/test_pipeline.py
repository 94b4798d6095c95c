"""End-to-end pipeline slice (t1 smoke shape) on the sf0.001 tables."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from shifu_spark.catalog import ColumnFlag, ColumnType, DataSetConf, ModelConfig


@pytest.fixture(scope="module")
def lineitem_mc():
    mc = ModelConfig()
    mc.dataset = DataSetConf(
        target_column="l_returnflag",
        pos_tags=["R"],
        neg_tags=["A", "N"],
        meta_columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_shipdate", "l_linestatus"],
    )
    mc.stats.max_num_bin = 8
    mc.stats.binning_method = "EqualTotal"
    return mc


def test_init_auto_type(spark, sf_dir, lineitem_mc):
    from shifu_spark.pipeline import init_columns

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs = init_columns(li, lineitem_mc)
    by = {c.column_name: c for c in ccs}
    assert by["l_returnflag"].column_flag == ColumnFlag.TARGET
    assert by["l_quantity"].column_type == ColumnType.NUMERICAL
    assert by["l_orderkey"].is_meta
    assert by["l_quantity"].column_stats.distinct_count > 0


def test_stats_fills_catalog(spark, sf_dir, lineitem_mc):
    from shifu_spark.pipeline import init_columns, run_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs = run_stats(li, lineitem_mc, init_columns(li, lineitem_mc))
    by = {c.column_name: c for c in ccs}
    q = by["l_quantity"]
    assert q.column_stats.mean is not None and q.column_stats.std_dev > 0
    assert len(q.column_binning.bin_boundary) >= 2
    # counts include the missing slot as last bin
    assert len(q.column_binning.bin_count_pos) == len(q.column_binning.bin_boundary) + 1
    assert q.column_stats.iv is not None and q.column_stats.ks is not None
    assert sum(q.column_binning.bin_count_pos) + sum(q.column_binning.bin_count_neg) == q.column_stats.total_count


def test_full_pipeline_lr(spark, sf_dir, lineitem_mc):
    from shifu_spark.pipeline import run_pipeline

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs, models, metrics = run_pipeline(li, lineitem_mc, algorithm="LR")
    m = metrics.collect()[0]
    assert m["n_rows"] > 1000
    assert 0.0 <= m["auc"] <= 1.0
    assert len(models) == 1
    assert any(c.final_select for c in ccs)


def test_pipeline_bagged_rf(spark, sf_dir, lineitem_mc):
    from shifu_spark.pipeline import run_pipeline

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)
    ccs, models, metrics = run_pipeline(li, lineitem_mc, algorithm="RF", bags=3)
    assert len(models) == 3
    assert metrics.collect()[0]["n_rows"] > 0


def test_catalog_roundtrip(tmp_path, spark, sf_dir, lineitem_mc):
    from shifu_spark.catalog import load_column_configs, save_column_configs
    from shifu_spark.pipeline import init_columns, run_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs = run_stats(li, lineitem_mc, init_columns(li, lineitem_mc))
    p = str(tmp_path / "ColumnConfig.json")
    save_column_configs(ccs, p)
    back = load_column_configs(p)
    assert len(back) == len(ccs)
    b = {c.column_name: c for c in back}["l_quantity"]
    o = {c.column_name: c for c in ccs}["l_quantity"]
    assert b.column_stats.mean == o.column_stats.mean
    assert b.column_binning.bin_boundary == o.column_binning.bin_boundary


def test_score_ensemble_stats(spark, sf_dir, lineitem_mc):
    """mean/max/min/median columns follow ScoreObject.java:35-74 semantics."""
    from shifu_spark.ml.train import TrainParams, assemble_features, score_ensemble, train_models
    from shifu_spark.operators.normalize import normalize_df
    from shifu_spark.pipeline import init_columns, run_stats, var_select

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1500)
    ccs = var_select(run_stats(li, lineitem_mc, init_columns(li, lineitem_mc)))
    norm = normalize_df(li, ccs, tag_col="l_returnflag", pos_tags=["R"], neg_tags=["A", "N"])
    feat = [c.column_name for c in ccs if c.final_select]
    assembled = assemble_features(norm, feat)
    models = train_models(assembled, TrainParams(algorithm="LR", bags=2, bag_fraction=0.8), len(feat))
    scored = score_ensemble(assembled, models, keep_cols=["label"])
    r = scored.select(
        F.min(F.col("max") - F.col("min")).alias("span_min"),
        F.max(F.abs((F.col("model0") + F.col("model1")) / 2 - F.col("mean"))).alias("mean_err"),
        F.max(F.abs((F.col("model0") + F.col("model1")) / 2 - F.col("median"))).alias("med_err"),
    ).collect()[0]
    assert r["span_min"] >= 0
    assert r["mean_err"] < 1e-9
    assert r["med_err"] < 1e-9  # median of 2 == mean of 2


@pytest.mark.parametrize("method", ["EqualPositive", "EqualNegative", "EqualTotal"])
def test_stats_bins_match_duckdb(spark, sf_dir, method):
    """Boundaries are the de-duplicated quantile_cont over the
    BinningMethod's population; categories are the top-3 by (count desc,
    value asc) over the tagged rows, in each column's native type."""
    import duckdb

    from shifu_spark.pipeline import init_columns, run_stats

    mc = ModelConfig()
    mc.dataset = DataSetConf(
        target_column="l_returnflag",
        pos_tags=["R"],
        neg_tags=["A", "N"],
        meta_columns=["l_orderkey", "l_partkey", "l_suppkey", "l_shipdate", "l_linestatus"],
        categorical_columns=["l_linenumber"],
    )
    mc.stats.max_num_bin = 8
    mc.stats.binning_method = method
    mc.stats.cate_max_num_bin = 3
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs = [c for c in run_stats(li, mc, init_columns(li, mc)) if c.is_candidate]

    con = duckdb.connect()
    con.sql(f"CREATE VIEW li AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')")
    tagged = "l_returnflag IN ('R', 'A', 'N')"
    pop = {"EqualPositive": "l_returnflag IN ('R')", "EqualNegative": "l_returnflag IN ('A', 'N')"}.get(method, tagged)
    qs = [i / 8 for i in range(8)]
    num = [c for c in ccs if c.is_numerical]
    cat = [c for c in ccs if c.is_categorical]
    assert num and "l_linenumber" in {c.column_name for c in cat}
    for cc in num:
        c = cc.column_name
        (arr,) = con.sql(f"SELECT quantile_cont(TRY_CAST({c} AS DOUBLE), {qs}) FROM li WHERE {pop}").fetchone()
        edges: list[float] = []
        for b in arr:
            if not edges or b > edges[-1]:
                edges.append(b)
        assert cc.column_binning.bin_boundary == edges, c
    for cc in cat:
        c = cc.column_name
        top = con.sql(
            f"SELECT {c} FROM li WHERE {tagged} AND {c} IS NOT NULL "
            f"GROUP BY {c} ORDER BY count(*) DESC, {c} ASC LIMIT 3"
        ).fetchall()
        assert cc.column_binning.bin_category == [r[0] for r in top], c
    linenumber = next(c for c in cat if c.column_name == "l_linenumber").column_binning.bin_category
    assert linenumber and all(type(v) is int for v in linenumber)


def _stats_jobs(spark, df, mc, group: str) -> int:
    """Spark jobs one run_stats call launches, read through its job group."""
    from shifu_spark.pipeline import init_columns, run_stats

    sc = spark.sparkContext
    ccs = init_columns(df, mc)
    sc.setJobGroup(group, group)
    try:
        run_stats(df, mc, ccs)
    finally:
        sc.setJobGroup("test_pipeline:idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stats_job_count_flat_in_width(spark, sf_dir, lineitem_mc):
    """run_stats launches as many Spark jobs on a frame as on the same
    frame with every candidate column duplicated under a new name."""
    from shifu_spark.pipeline import init_columns

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cand = [c.column_name for c in init_columns(li, lineitem_mc) if c.is_candidate]
    wide = li.select("*", *[F.col(c).alias(f"{c}_dup") for c in cand])

    narrow_jobs = _stats_jobs(spark, li, lineitem_mc, "test_pipeline:run_stats:narrow")
    assert narrow_jobs > 0
    assert _stats_jobs(spark, wide, lineitem_mc, "test_pipeline:run_stats:wide") == narrow_jobs


def test_stats_job_ceiling(spark, sf_dir, lineitem_mc):
    """run_stats is two scans over the cached rows: one global aggregate
    (moments and boundaries) and one melt + groupBy (bin and category
    counts). Under AQE each runs as a shuffle-map job plus a result job;
    the first scan also fills the cache."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert _stats_jobs(spark, li, lineitem_mc, "test_pipeline:run_stats:ceiling") <= 5


_DIRTY = ["?", "", "NaN", "Infinity", "-Infinity", "abc", "-0", "0", "0.0", "1e3", "1000",
          "1000", "7.5", "7.5", "-2", None, "0", "3"]


def _dirty_stats(spark, vals: list, method: str = "EqualTotal"):
    """run_stats at 4 bins over one string column ``x`` holding ``vals``,
    every row tagged, alternately positive and negative."""
    from shifu_spark.pipeline import init_columns, run_stats

    mc = ModelConfig()
    mc.dataset = DataSetConf(target_column="tag", pos_tags=["P"], neg_tags=["N"])
    mc.stats.max_num_bin = 4
    mc.stats.binning_method = method
    df = spark.createDataFrame([(v, "PN"[i % 2]) for i, v in enumerate(vals)], "x string, tag string")
    ccs = init_columns(df, mc)
    next(c for c in ccs if c.column_name == "x").column_type = ColumnType.NUMERICAL
    return next(c for c in run_stats(df, mc, ccs) if c.column_name == "x")


def _duckdb_text(vals: list):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (x VARCHAR, i INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(v, i) for i, v in enumerate(vals)])
    return con


def test_numeric_stats_match_duckdb_on_dirty_text(spark):
    """The stats scan over a string column holding missing tokens,
    non-finite and unparseable values, signed zeros and duplicate
    spellings: counts, distincts, extremes and quartiles equal DuckDB
    over TRY_CAST(x AS DOUBLE) restricted to finite values."""
    cc = _dirty_stats(spark, _DIRTY)
    con = _duckdb_text(_DIRTY)
    want = con.sql(
        "SELECT count(*), count(DISTINCT v), min(v), max(v), "
        "quantile_cont(v, 0.25), quantile_cont(v, 0.5), quantile_cont(v, 0.75) "
        "FROM (SELECT TRY_CAST(x AS DOUBLE) AS v FROM t) WHERE isfinite(v)"
    ).fetchone()
    cs = cc.column_stats
    assert cs.total_count == len(_DIRTY)
    assert (cs.valid_num_count, cs.distinct_count, cs.min, cs.max, cs.p25th, cs.median, cs.p75th) == want


@pytest.mark.parametrize("method", ["EqualTotal", "EqualPositive"])
def test_stats_boundaries_skip_nonfinite_tokens(spark, method):
    """NaN and ±Infinity tokens are missing for the boundaries as they
    are for the moments and the bin counts: the edges are DuckDB's
    quantile_cont over the finite values of the BinningMethod's
    population, and every non-finite token is counted in the missing
    slot."""
    vals = [str(i) for i in range(1, 21)] + ["NaN", "Infinity", "Infinity", "-Infinity"] + _DIRTY
    cc = _dirty_stats(spark, vals, method)
    pop = "i % 2 = 0" if method == "EqualPositive" else "TRUE"
    con = _duckdb_text(vals)
    (arr,) = con.sql(
        "SELECT quantile_cont(v, [0.0, 0.25, 0.5, 0.75]) FROM "
        f"(SELECT TRY_CAST(x AS DOUBLE) AS v FROM t WHERE {pop}) WHERE isfinite(v)"
    ).fetchone()
    edges: list[float] = []
    for b in arr:
        if not edges or b > edges[-1]:
            edges.append(b)
    b = cc.column_binning
    assert b.bin_boundary == edges
    counts = [n + p for n, p in zip(b.bin_count_neg, b.bin_count_pos)]
    assert sum(counts[:-1]) == cc.column_stats.valid_num_count
    assert sum(counts) == len(vals)


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_run_stats_releases_cache_on_failure(spark, sf_dir, lineitem_mc, monkeypatch):
    """A step that fails after the tagged rows are cached and scanned
    must not pin that cache for the life of the session."""
    from shifu_spark.operators import ksiv
    from shifu_spark.pipeline import init_columns, run_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ccs = init_columns(li, lineitem_mc)

    def fail(neg, pos):
        raise RuntimeError("injected stats failure")

    monkeypatch.setattr(ksiv, "column_metrics_from_counts", fail)
    before = _persistent_rdd_count(spark)
    with pytest.raises(RuntimeError, match="injected stats failure"):
        run_stats(li, lineitem_mc, ccs)
    assert _persistent_rdd_count(spark) <= before


def test_run_pipeline_releases_caches_on_failure(spark, sf_dir, lineitem_mc, monkeypatch):
    """Training that fails after reading the cached normalized rows must
    not leave them cached."""
    from shifu_spark.ml import train
    from shifu_spark.pipeline import run_pipeline

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)

    def fail(assembled, params, n_features):
        assembled.count()  # materializes the normalized cache
        raise RuntimeError("injected train failure")

    monkeypatch.setattr(train, "train_models", fail)
    before = _persistent_rdd_count(spark)
    with pytest.raises(RuntimeError, match="injected train failure"):
        run_pipeline(li, lineitem_mc, algorithm="LR")
    assert _persistent_rdd_count(spark) <= before
