"""Normalization transforms (``shifu norm``) as Catalyst column expressions.

Reference: core/Normalizer.java (787 LoC dispatch at :233-270) applied
per-row by udf/NormalizeUDF.java. Every NormType in
ModelNormalizeConf.java:33-57 is a pure function of (value, per-column
catalog constants) — so the Spark build emits ONE ``select()`` of
when/otherwise expressions from the broadcast catalog: no UDF, no
shuffle, fully whole-stage-codegen'd, streaming-compatible.

Semantics reproduced:
  * ZSCALE  (Normalizer.java:426-470, computeZScore:769-787):
    z = (clip(x, mean ± cutoff·std) - mean) / std;  std <= 1e-5 -> 0;
    missing -> mean (z = 0). Categorical x := binPosRate[bin(x)] first.
  * WOE (:619-657): value -> bin -> binCountWoe[bin] (weighted variant
    binWeightedWoe); missing -> last bin's woe.
  * WOE_ZSCORE (:664-672): woe then z-score with woe-population mean/std
    from bin counts (calculateWoeMeanAndStdDev:728-756).
  * HYBRID (:687-700): numeric -> zscore, categorical -> woe.
  * ONEHOT (:379-424): bin one-hot + missing slot.
  * DISCRETE_ZSCORE (:468-500): snap to bin lower boundary then zscore.
  * ASIS_PR / ASIS_WOE (:353-377), *_INDEX variants (:287-350).
  * Tag recode: posTag->1, negTag->0 (NormalizeUDF.java:322-372);
    rows with tag outside pos∪neg dropped (:262-278).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shifu_spark.catalog import ColumnConfig

MIN_STD = 1e-5  # Normalizer.java: std <= 1e-5 -> zscore 0


def _value_or_missing(c: Column, missing: Column) -> Column:
    """NULL / NaN / ±Inf -> ``missing`` (Normalizer.java:569-573: "if the
    value is Infinite or NaN, treat it as missing value").  A bare
    coalesce only covers NULL: a NaN would ride Spark's NaN-is-largest
    ordering through least/greatest and clip to +cutoff·std instead of
    imputing the mean."""
    from shifu_spark.functions.nonvalue import is_value

    return F.when(is_value(c), c).otherwise(missing)


def zscore_expr(col: Column | str, mean: float, std: float, cutoff: float = 6.0) -> Column:
    """(clip(x, mean±cutoff·std) - mean) / std with missing -> mean.

    Exactly Normalizer.computeZScore:769-787 + missing handling :602-605
    (+ the :569-573 NaN/Infinity→missing rule, via _value_or_missing).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.try_cast("double")
    if std is None or abs(std) <= MIN_STD:
        return F.lit(0.0)
    lo, hi = mean - cutoff * std, mean + cutoff * std
    clipped = F.least(F.greatest(_value_or_missing(c, F.lit(mean)), F.lit(lo)), F.lit(hi))
    return (clipped - mean) / std


def zscore_sums_expr(x: Column, n: Column, s1: Column, s2: Column) -> Column:
    """(clip(x, mean±6·std) - mean) / std with the mean and std taken
    from power sums: n = count, s1 = Σx, s2 = Σx². The cut-off is
    ZSCALE's default 6σ; the configured one goes through zscore_expr.

    std is the stats step's sqrt(|s2 - s1²/n + EPS| / (n - 1)), EPS =
    1e-10 (UpdateBinningInfoReducer.java:355). The (n - 1) and ``/ std``
    divisions use try_divide: a one-row population has no sample std,
    so its z is NULL like the DuckDB oracle's /0, not an ANSI
    DIVIDE_BY_ZERO crash.
    """
    mean = s1 / n
    std = F.sqrt(F.abs(F.try_divide(s2 - s1 * s1 / n + F.lit(1e-10), n - 1)))
    clipped = F.least(F.greatest(x, mean - 6 * std), mean + 6 * std)
    return F.try_divide(clipped - mean, std)


def woe_expr(col: Column | str, boundaries: list[float], bin_woes: list[float], missing_woe: float | None = None) -> Column:
    """value -> bin -> woe, missing -> LAST bin's woe (Normalizer.java:619-657).

    ``bin_woes`` must have len(boundaries) entries; ``missing_woe``
    defaults to the last provided woe (the dedicated missing slot).
    """
    from shifu_spark.operators.binning import bin_index_expr

    if missing_woe is None:
        missing_woe = bin_woes[-1]
    all_woes = list(bin_woes) + [missing_woe]
    idx = bin_index_expr(col, boundaries, missing_index=len(bin_woes))
    arr = F.array(*[F.lit(float(w)) for w in all_woes])
    return F.element_at(arr, idx + 1)


def categorical_posrate_expr(col: Column | str, categories: list[str], pos_rates: list[float], missing_value: float) -> Column:
    """category -> binPosRate (the categorical pre-step of ZSCALE;
    CategoryMissingNormType.POSRATE default, Normalizer.java:579-596)."""
    c = F.col(col) if isinstance(col, str) else col
    if not categories:
        return F.lit(missing_value)
    pairs: list = []
    for cat, pr in zip(categories, pos_rates):
        pairs.extend([F.lit(cat), F.lit(float(pr))])
    m = F.create_map(*pairs)
    return F.coalesce(m[c], F.lit(missing_value))


def onehot_exprs(col: Column | str, boundaries: list[float], prefix: str) -> list[Column]:
    """Bin one-hot over numeric bins + missing slot (Normalizer.java:379-424)."""
    from shifu_spark.operators.binning import bin_index_expr

    idx = bin_index_expr(col, boundaries)
    n = len(boundaries)
    return [
        F.when(idx == i, F.lit(1.0)).otherwise(F.lit(0.0)).alias(f"{prefix}_bin{i}")
        for i in range(n + 1)  # +1 = missing slot
    ]


def onehot_cat_exprs(col: Column | str, categories: list[str], prefix: str) -> list[Column]:
    """Categorical one-hot over category slots + missing slot
    (Normalizer.java OneHotNormalize:379-389, zscaleOneHotNormalize:391-406:
    unknown category -> the dedicated missing slot gets the 1)."""
    from shifu_spark.operators.binning import categorical_index_expr

    idx = categorical_index_expr(col, categories, missing_index=len(categories))
    return [
        F.when(idx == i, F.lit(1.0)).otherwise(F.lit(0.0)).alias(f"{prefix}_bin{i}")
        for i in range(len(categories) + 1)  # +1 = missing slot
    ]


def discrete_zscore_expr(col: Column | str, boundaries: list[float], mean: float, std: float, cutoff: float = 6.0) -> Column:
    """Snap to bin lower boundary (bin0 -> min) then zscore
    (Normalizer.java:468-500); missing -> mean (z=0)."""
    from shifu_spark.operators.binning import bin_index_expr

    idx = bin_index_expr(col, boundaries, missing_index=len(boundaries))
    arr = F.array(*[F.lit(float(b)) for b in boundaries] + [F.lit(float(mean))])
    snapped = F.element_at(arr, idx + 1)
    return zscore_expr(snapped, mean, std, cutoff)


def tag_expr(tag_col: str, pos_tags: list[str], neg_tags: list[str]) -> Column:
    """posTag -> 1.0, negTag -> 0.0 (NormalizeUDF.java:322-372)."""
    c = F.col(tag_col)
    return F.when(c.isin(pos_tags), F.lit(1.0)).when(c.isin(neg_tags), F.lit(0.0))


def filter_valid_tags(df: DataFrame, tag_col: str, pos_tags: list[str], neg_tags: list[str]) -> DataFrame:
    """Drop rows whose tag is outside pos∪neg (NormalizeUDF.java:262-278)."""
    return df.filter(F.col(tag_col).isin(list(pos_tags) + list(neg_tags)))


def tag_expr_multiclass(tag_col: str, tag_sets: list[list[str]]) -> Column:
    """Multi-class tag -> class index (NormalizeUDF.java:354-372: index of
    the FIRST tag set containing the raw tag; unlisted tag -> NULL, which
    the caller drops — the reference skips the record)."""
    c = F.col(tag_col)
    e: Column | None = None
    for i, tags in enumerate(tag_sets):
        cond = c.isin(list(tags))
        e = F.when(cond, float(i)) if e is None else e.when(cond, float(i))
    if e is None:
        return F.lit(None).cast("double")
    return e.otherwise(F.lit(None).cast("double"))


def normalize_df(
    df: DataFrame,
    configs: list[ColumnConfig],
    norm_type: str = "ZSCALE",
    cutoff: float = 6.0,
    tag_col: str | None = None,
    pos_tags: list[str] | None = None,
    neg_tags: list[str] | None = None,
    weight_expr: Column | None = None,
    category_missing: str = "POSRATE",
) -> DataFrame:
    """Full `shifu norm` step: one select of generated expressions.

    Column constants come from the driver-side catalog (broadcast via
    literal embedding — columns << rows, the plan stays pure Catalyst).

    ``category_missing`` is CategoryMissingNormType
    (Normalizer.java:579-596): POSRATE fills an unseen category with the
    missing bin's posRate; MEAN fills with the column mean
    (defaultMissingValue:602-605, mean-null -> 0).
    """
    cols: list[Column] = []

    def cat_missing_value(cc: ColumnConfig) -> float:
        b, st = cc.column_binning, cc.column_stats
        if category_missing == "MEAN":
            return float(st.mean) if st.mean is not None else 0.0
        return float(b.bin_pos_rate[-1]) if b.bin_pos_rate else 0.0
    if tag_col:
        df = filter_valid_tags(df, tag_col, pos_tags or [], neg_tags or [])
        cols.append(tag_expr(tag_col, pos_tags or [], neg_tags or []).alias("tag"))
    for cc in configs:
        if not cc.is_candidate or not cc.final_select:
            continue
        name = cc.column_name
        st, b = cc.column_stats, cc.column_binning
        if cc.is_hybrid:
            # hybrid slot layout: [numeric bins][cate bins] + missing
            n_slots = len(b.bin_boundary) + len(b.bin_category)
        elif cc.is_categorical:
            n_slots = len(b.bin_category)
        else:
            n_slots = len(b.bin_boundary)

        def padded(woes_in: list[float]) -> list[float]:
            # one-class columns have no WOE (ColumnStatsCalculator returns
            # null when sumN==0 or sumP==0) -> transform degrades to 0.0
            need = n_slots + 1
            w = list(woes_in[:need])
            return w + [0.0] * (need - len(w))

        def woe_lookup(woes: list[float]) -> Column:
            # kind-aware bin->woe: categorical columns index by category
            # slot (BinUtils categorical getBinNum), numeric by boundary,
            # hybrid via categorical-first combined lookup
            # (woeNormalize:622-640)
            if cc.is_hybrid:
                from shifu_spark.operators.binning import hybrid_bin_index_expr

                idx = hybrid_bin_index_expr(name, b.bin_boundary, b.bin_category)
                arr = F.array(*[F.lit(float(x)) for x in woes])
                return F.element_at(arr, idx + 1)
            if cc.is_categorical:
                from shifu_spark.operators.binning import categorical_index_expr

                idx = categorical_index_expr(name, b.bin_category, missing_index=n_slots)
                arr = F.array(*[F.lit(float(x)) for x in woes])
                return F.element_at(arr, idx + 1)
            return woe_expr(name, b.bin_boundary, woes[:n_slots], woes[-1])

        if norm_type in ("ZSCALE", "ZSCORE"):
            if cc.is_categorical:
                pr = categorical_posrate_expr(name, b.bin_category, b.bin_pos_rate[: len(b.bin_category)],
                                              cat_missing_value(cc))
                e = zscore_expr(pr, st.mean or 0.0, st.std_dev or 0.0, cutoff)
            else:
                e = zscore_expr(name, st.mean or 0.0, st.std_dev or 0.0, cutoff)
        elif norm_type in ("OLD_ZSCALE", "OLD_ZSCORE"):
            # Normalizer.java:444-452 (zScoreNormalize isOld=true):
            # categorical passes the raw posRate through UN-zscored;
            # numeric is identical to ZSCALE
            if cc.is_categorical:
                e = categorical_posrate_expr(name, b.bin_category, b.bin_pos_rate[: len(b.bin_category)],
                                             cat_missing_value(cc))
            else:
                e = zscore_expr(name, st.mean or 0.0, st.std_dev or 0.0, cutoff)
        elif norm_type in ("WOE", "WEIGHT_WOE"):
            woes = padded(b.bin_weighted_woe if norm_type == "WEIGHT_WOE" else b.bin_count_woe)
            e = woe_lookup(woes)
        elif norm_type in ("WOE_ZSCORE", "WOE_ZSCALE", "WEIGHT_WOE_ZSCORE", "WEIGHT_WOE_ZSCALE"):
            weighted = norm_type.startswith("WEIGHT_")
            woes = padded(b.bin_weighted_woe if weighted else b.bin_count_woe)
            wm, ws = cc.woe_mean_std(weighted=weighted)
            e = zscore_expr(woe_lookup(woes), wm, ws, cutoff)
        elif norm_type in ("HYBRID", "WEIGHT_HYBRID"):
            # hybridNormalize (Normalizer.java:687-700): numeric -> zscore,
            # categorical -> (weighted) woe
            if cc.is_categorical:
                woes = padded(b.bin_weighted_woe if norm_type == "WEIGHT_HYBRID" else b.bin_count_woe)
                e = woe_lookup(woes)
            else:
                e = zscore_expr(name, st.mean or 0.0, st.std_dev or 0.0, cutoff)
        elif norm_type == "ONEHOT":
            # OneHotNormalize (Normalizer.java:379-389): bin one-hot with
            # a missing slot for BOTH numeric (boundary bins) and
            # categorical (category slots) — emits multiple columns
            if cc.is_categorical:
                cols.extend(onehot_cat_exprs(name, b.bin_category, name))
            else:
                cols.extend(onehot_exprs(name, b.bin_boundary, name))
            continue
        elif norm_type == "ZSCALE_ONEHOT":
            # zscaleOneHotNormalize (Normalizer.java:391-406):
            # numeric -> zscore (single column), categorical -> one-hot
            if cc.is_categorical:
                cols.extend(onehot_cat_exprs(name, b.bin_category, name))
                continue
            e = zscore_expr(name, st.mean or 0.0, st.std_dev or 0.0, cutoff)
        elif norm_type in ("DISCRETE_ZSCORE", "DISCRETE_ZSCALE"):
            e = discrete_zscore_expr(name, b.bin_boundary, st.mean or 0.0, st.std_dev or 0.0, cutoff)
        elif norm_type == "ASIS_PR":
            if cc.is_categorical:
                e = categorical_posrate_expr(
                    name, b.bin_category, b.bin_pos_rate[: len(b.bin_category)],
                    b.bin_pos_rate[-1] if b.bin_pos_rate else 0.0,
                )
            else:
                e = F.col(name).try_cast("double")
        elif norm_type == "ASIS_WOE":
            # pass-through numeric; categorical -> its bin's woe
            # (Normalizer.java:353-377); woe slots = categories + missing
            if cc.is_categorical:
                e = woe_lookup(padded(b.bin_count_woe))
            else:
                e = F.col(name).try_cast("double")
        elif norm_type in ("ZSCALE_INDEX", "WOE_INDEX", "WOE_ZSCALE_INDEX"):
            # categorical -> RAW bin index (embedding inputs,
            # Normalizer.java:287-350); numeric -> the named transform
            if cc.is_categorical:
                from shifu_spark.operators.binning import categorical_index_expr

                e = categorical_index_expr(name, b.bin_category).cast("double")
            elif norm_type == "ZSCALE_INDEX":
                e = zscore_expr(name, st.mean or 0.0, st.std_dev or 0.0, cutoff)
            else:
                woes = padded(b.bin_count_woe)
                e = woe_expr(name, b.bin_boundary, woes[: len(b.bin_boundary)], woes[-1])
                if norm_type == "WOE_ZSCALE_INDEX":
                    wm, ws = cc.woe_mean_std()
                    e = zscore_expr(e, wm, ws, cutoff)
        else:
            raise ValueError(f"unsupported norm_type {norm_type}")
        cols.append(e.alias(name))
    if weight_expr is not None:
        cols.append(weight_expr.alias("weight"))
    return df.select(*cols)
