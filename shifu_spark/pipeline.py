"""The pipeline spine: init → stats → norm → train → eval.

Reference lifecycle (SURVEY §3): each CLI step reads/writes
ModelConfig.json + ColumnConfig.json. Here each step is a function over
(DataFrame, ModelConfig, list[ColumnConfig]) — same artifacts, Spark
plans instead of Pig jobs. The reference's two stats jobs (Pig binning +
UpdateBinningInfo MR re-read, SURVEY §3.1) stay two scans over one
cached frame — moments and boundaries in one aggregate, then bin and
category counts in one melt — each covering every column at once, so
the number of Spark jobs the stats step runs does not depend on how
many columns the input has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shifu_spark.catalog import (
    ColumnConfig,
    ColumnFlag,
    ColumnType,
    ModelConfig,
)
from shifu_spark.session import local_frame


def init_columns(df: DataFrame, mc: ModelConfig) -> list[ColumnConfig]:
    """`shifu init`: build the catalog with auto-type inference.

    Reference: InitModelProcessor.java:106-190 — HLL distinct counts +
    numeric-parse rate drive Auto -> N/C typing; flags from ModelConfig
    column lists. One wide agg (approx_count_distinct + conditional
    counts), no shuffle.
    """
    ds = mc.dataset
    aggs = []
    cols = df.columns
    dtypes = dict(df.dtypes)
    _NUMERIC = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal", "long")

    def is_native_numeric(c: str) -> bool:
        return any(dtypes[c].startswith(t) for t in _NUMERIC)

    for c in cols:
        v = F.col(c)
        # parse-rate inference only applies to string transport columns;
        # typed parquet columns keep their native type
        d = v.try_cast("double") if is_native_numeric(c) or dtypes[c] == "string" else F.lit(None).cast("double")
        aggs += [
            F.approx_count_distinct(v).alias(f"{c}__dc"),
            F.count(v).alias(f"{c}__n"),
            F.count(d).alias(f"{c}__numeric"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()

    out: list[ColumnConfig] = []
    for i, c in enumerate(cols):
        cc = ColumnConfig(column_num=i, column_name=c)
        if c == ds.target_column:
            cc.column_flag = ColumnFlag.TARGET
            cc.column_type = ColumnType.CATEGORICAL
        elif ds.weight_column and c == ds.weight_column:
            cc.column_flag = ColumnFlag.WEIGHT
            cc.column_type = ColumnType.NUMERICAL
        elif c in ds.meta_columns:
            cc.column_flag = ColumnFlag.META
        elif c in ds.categorical_columns:
            cc.column_type = ColumnType.CATEGORICAL
        else:
            n, num = row[f"{c}__n"], row[f"{c}__numeric"]
            # auto-type: mostly-parseable -> numerical, else categorical
            # (InitModelProcessor threshold semantics)
            cc.column_type = ColumnType.NUMERICAL if n and num / n >= 0.95 else ColumnType.CATEGORICAL
        cc.column_stats.distinct_count = row[f"{c}__dc"]
        out.append(cc)
    return out


def run_stats(df: DataFrame, mc: ModelConfig, ccs: list[ColumnConfig]) -> list[ColumnConfig]:
    """`shifu stats`: fill moments, bins, bin counts, KS/IV/WOE, pos rates.

    Two scans over the cached tagged rows, each spanning every candidate
    column, so the job count does not grow with width — the reference's
    Pig binning job and UpdateBinningInfo re-read (SURVEY §3.1):

      1. one global aggregate over the numeric columns: moments, and the
         exact-percentile boundaries over the BinningMethod's population,
         both from the same cleaned values;
      2. one melt + groupBy: numeric bin counts (KS/IV/WOE then follow
         on the driver, see operators/stats.py scale notes) and the
         categorical columns' category counts, in native type, capped
         per column by a window when ``cate_max_num_bin`` is set.
    """
    from shifu_spark.operators.binning import binning_population, category_order, top_categories
    from shifu_spark.operators.ksiv import bin_counts_df, column_metrics_from_counts
    from shifu_spark.operators.stats import moments_and_boundaries

    ds, st = mc.dataset, mc.stats
    tag, pos, neg = ds.target_column, ds.pos_tags, ds.neg_tags
    work = df.filter(F.col(tag).isin(pos + neg)) if tag else df
    num_cols = [c.column_name for c in ccs if c.is_candidate and c.is_numerical]
    cat_cols = [c.column_name for c in ccs if c.is_candidate and c.is_categorical]
    by_name = {c.column_name: c for c in ccs}

    work = work.cache()
    try:
        boundaries: dict[str, list[float]] = {}
        if num_cols:
            in_pop = binning_population(st.binning_method, tag, pos, neg)
            stats, boundaries = moments_and_boundaries(work, num_cols, in_pop, st.max_num_bin)
            for s in stats:
                cs = by_name[s.column_name].column_stats
                cs.total_count = s.total_count
                cs.missing_count = s.missing_count
                cs.valid_num_count = s.valid_count
                cs.mean, cs.std_dev = s.mean, s.std_dev
                cs.min, cs.max = s.min, s.max
                cs.skewness, cs.kurtosis = s.skewness, s.kurtosis
                cs.p25th, cs.median, cs.p75th = s.p25, s.median, s.p75
                cs.distinct_count = s.distinct_count
                cs.missing_percentage = s.missing_percentage
            for c, b in boundaries.items():
                by_name[c].column_binning.bin_boundary = b
                by_name[c].column_binning.length = len(b) + 1  # + missing slot

        binned = num_cols if tag else []
        per_col: dict[str, dict[int, tuple]] = {c: {} for c in binned}
        freq: dict[str, dict] = {c: {} for c in cat_cols}
        if binned or cat_cols:
            counts = bin_counts_df(work, binned, boundaries, tag, pos, ds.weight_column, cat_cols)
            for r in top_categories(counts, st.cate_max_num_bin).collect():
                if r["bin"] is not None:
                    per_col[r["column_name"]][r["bin"]] = (
                        r["bin_count_neg"], r["bin_count_pos"], r["bin_weight_neg"], r["bin_weight_pos"],
                    )
                else:
                    value = next(v for k, v in r.asDict().items() if k.startswith("value_") and v is not None)
                    freq[r["column_name"]][value] = r["bin_count_pos"] + r["bin_count_neg"]

        for c in cat_cols:
            cats = category_order(freq[c])
            by_name[c].column_binning.bin_category = cats
            by_name[c].column_binning.length = len(cats) + 1

        for c in binned:
            cc = by_name[c]
            nb = len(boundaries[c]) + 1  # + missing bin (last slot)
            neg_a = [0] * nb
            pos_a = [0] * nb
            wneg = [0.0] * nb
            wpos = [0.0] * nb
            for b, (cn, cp, wn, wp) in per_col[c].items():
                neg_a[b], pos_a[b], wneg[b], wpos[b] = cn, cp, wn, wp
            bn = cc.column_binning
            bn.bin_count_neg, bn.bin_count_pos = neg_a, pos_a
            bn.bin_weighted_neg, bn.bin_weighted_pos = wneg, wpos
            bn.bin_pos_rate = [
                (p / (p + n) if (p + n) > 0 else 0.0) for n, p in zip(neg_a, pos_a)
            ]
            m = column_metrics_from_counts(neg_a, pos_a)
            if m:
                cc.column_stats.ks, cc.column_stats.iv, cc.column_stats.woe = m.ks, m.iv, m.woe
                bn.bin_count_woe = m.bin_woe
            wm = column_metrics_from_counts(wneg, wpos)
            if wm:
                cc.column_stats.weighted_ks = wm.ks
                cc.column_stats.weighted_iv = wm.iv
                cc.column_stats.weighted_woe = wm.woe
                bn.bin_weighted_woe = wm.bin_woe
    finally:
        work.unpersist()
    return ccs


def var_select(ccs: list[ColumnConfig], by: str = "iv", top_n: int | None = None,
               min_iv: float | None = None, min_ks: float | None = None,
               missing_rate_threshold: float = 0.98) -> list[ColumnConfig]:
    """`shifu varselect` filter path: auto-filter (missing rate, minIV/KS)
    then top-N by KS or IV (VariableSelector / ModelVarSelectConf.java:92-113).
    Sets ``final_select`` in place."""
    cand = []
    for cc in ccs:
        if not cc.is_candidate:
            continue
        cc.final_select = False
        mp = cc.column_stats.missing_percentage or 0.0
        if mp > missing_rate_threshold:
            continue
        if min_iv is not None and (cc.column_stats.iv or 0.0) < min_iv:
            continue
        if min_ks is not None and (cc.column_stats.ks or 0.0) < min_ks:
            continue
        cand.append(cc)
    key = (lambda c: c.column_stats.iv or 0.0) if by == "iv" else (lambda c: c.column_stats.ks or 0.0)
    cand.sort(key=key, reverse=True)
    for cc in cand[: top_n or len(cand)]:
        cc.final_select = True
    return ccs


def run_pipeline(df: DataFrame, mc: ModelConfig, algorithm: str = "LR", bags: int = 1):
    """Full t1 slice: init -> stats -> varselect -> norm -> train -> eval.

    Returns (column_configs, models, metrics_df) where metrics_df has one
    row: auc, pr_auc, n_rows.
    """
    from shifu_spark.ml.train import TrainParams, assemble_features, score_ensemble, train_models
    from shifu_spark.operators.eval_metrics import curve_metrics_df
    from shifu_spark.operators.normalize import normalize_df

    ccs = init_columns(df, mc)
    ccs = run_stats(df, mc, ccs)
    ccs = var_select(ccs)

    norm = normalize_df(
        df, ccs, norm_type=mc.normalize.norm_type, cutoff=mc.normalize.std_dev_cut_off,
        tag_col=mc.dataset.target_column, pos_tags=mc.dataset.pos_tags, neg_tags=mc.dataset.neg_tags,
    ).cache()
    scored = None
    try:
        feat_cols = [c.column_name for c in ccs if c.final_select]
        assembled = assemble_features(norm, feat_cols)

        params = TrainParams(algorithm=algorithm, bags=bags)
        models = train_models(assembled, params, len(feat_cols))

        scored = score_ensemble(assembled, models, keep_cols=["label"]).cache()
        # one prefix scan yields AUC + PR AUC (+KS) together
        curve = curve_metrics_df(scored, "mean", F.col("label") == 1.0).collect()[0]
        auc, pr = curve["auc"], curve["pr_auc"]
        n = scored.count()
    finally:
        norm.unpersist()
        if scored is not None:
            scored.unpersist()
    spark = df.sparkSession
    # degenerate corpora (single-class) have NULL AUCs — keep them NULL
    auc_v = float(auc) if auc is not None else None
    pr_v = float(pr) if pr is not None else None
    metrics = local_frame(spark, [(auc_v, pr_v, int(n))], "auc double, pr_auc double, n_rows long")
    return ccs, models, metrics
