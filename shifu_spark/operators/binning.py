"""Binning / discretization operators — the reference's signature family.

Reference algorithms (SURVEY §2.5):
  * EqualPopulation — SPDT streaming histogram (EqualPopulationBinning.java,
    693 LoC, ≤10k centroids)           -> Spark: exact `percentile`, every
    column in one aggregate.
  * MunroPat — multi-pass quantiles (MunroPatBinning.java)  -> same.
  * EqualInterval — (max-min)/k edges (EqualIntervalBinning.java:30)
    -> :func:`equal_interval_bin_expr` over one min/max aggregate.
  * Native — exact sort + equal-count cut (NativeBinning.java:27)
    -> `ntile(k)` window.
  * Categorical — frequency-ordered categories (CategoricalBinning.java:33).
  * BinningMethod variants (ModelStatsConf.java:34-36): EqualPositive
    (default!) / EqualNegative / EqualTotal / WeightEqual* — which
    population the equal-frequency quantiles run over -> a population
    predicate inside the aggregate; any other method (WeightEqual*
    included) takes every row.

Boundary semantics: ``bin_boundary[0]`` is conceptually -inf; bin i covers
[b_i, b_{i+1}); lookup is binary-search with ``low==0 ? 0 : low-1``
(BinUtils.java:53-104); missing -> dedicated LAST bin slot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# boundary builders
# ---------------------------------------------------------------------------

def binning_population(method: str, tag_col: str, pos_tags: list[str], neg_tags: list[str]) -> Column:
    """The rows a BinningMethod's equal-frequency edges run over.

    EqualPositive (reference default) takes positive rows only,
    EqualNegative negatives, and any other method (EqualTotal,
    WeightEqual*) every row (ModelStatsConf.java:34-36,
    udf/stats/NumericalVarStats.java:55-130).
    """
    if method == "EqualPositive":
        return F.col(tag_col).isin(pos_tags)
    if method == "EqualNegative":
        return F.col(tag_col).isin(neg_tags)
    return F.lit(True)


def equal_population_edges(v: Column, in_pop: Column, num_bins: int) -> Column:
    """The aggregate of ``num_bins`` equal-frequency left edges of ``v``
    over the rows where ``in_pop`` holds: exact ``percentile`` at
    i/num_bins. Rows outside the population feed it a NULL, which it
    skips, so the edges equal filter-then-aggregate's, and any number of
    columns share one aggregate.

    ``v`` must already be the cleaned value (``stats._clean``: a finite
    double or NULL), so a NaN or ±Infinity token is missing here as it
    is in the moments and the bin counts, and moves no edge. Pass the
    result through :func:`dedup_edges`.
    """
    qs = F.array(*[F.lit(i / num_bins) for i in range(num_bins)])
    return F.percentile(F.when(in_pop, v), qs)


def dedup_edges(quantiles: list[float] | None) -> list[float]:
    """Strictly increasing edges from an edge aggregate's result, ``[]``
    for an empty population (MunroPatBinning.java:60-99 merges equal
    boundaries)."""
    edges: list[float] = []
    for b in quantiles or []:
        if b is not None and (not edges or b > edges[-1]):
            edges.append(b)
    return edges


def top_categories(counts: DataFrame, max_cate_size: int) -> DataFrame:
    """Keep the ``max_cate_size`` most frequent categories of each
    categorical column of a :func:`ksiv.bin_counts_df` frame
    (CategoricalBinning.java:33: the reference collapses a column with
    more than maxCateSize; 0 keeps all). It is a window, so no more
    categories than the ColumnConfig stores leave Spark. Numeric bin rows
    (``bin`` set) are always kept.

    A category row's frequency is its pos + neg count. Its value sits in
    the ``value_*`` field of its dtype and the other fields are NULL, so
    ordering by every field orders by the value. Ties go to the smaller
    category, as in :func:`category_order`.
    """
    if not max_cate_size or max_cate_size <= 0:
        return counts
    from pyspark.sql import Window

    values = [c for c in counts.columns if c.startswith("value_")]
    freq = F.col("bin_count_pos") + F.col("bin_count_neg")
    w = Window.partitionBy("column_name").orderBy(freq.desc(), *[F.asc(c) for c in values])
    return (
        counts.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("bin").isNotNull() | (F.col("__rank") <= max_cate_size))
        .drop("__rank")
    )


def category_order(freq: dict) -> list:
    """A column's categories by count desc, then category asc — the
    ColumnConfig's ``bin_category`` order. A category keeps its native
    type (an int categorical sorts numerically); NaN sorts last, as in
    Spark's ordering."""
    return sorted(freq, key=lambda v: (-freq[v], v != v, v))


# ntile_boundaries cap: a single-task sort of ~10M doubles is the most a
# driver-adjacent exactness path should ever absorb (same quarantine
# policy as dedup.EXACT_PAIRS_MAX_DOCS / similarity's exact kernel)
NTILE_MAX_ROWS = 10_000_000


def ntile_boundaries(
    df: DataFrame, col: str, num_bins: int, max_rows: int | None = None
) -> list[float]:
    """Exact equal-count cut via ntile window — NativeBinning.java:27.

    Left edge of tile i = min value inside tile i. O(n log n) global sort
    through ONE task (unpartitioned window); test-scale / exactness path
    only.  The guard raises above ``max_rows`` (default the module's
    ``NTILE_MAX_ROWS``) instead of funnelling a data-scale sort through a
    single task — use :func:`equal_population_edges` (a distributed
    aggregate) for data-scale corpora.
    """
    from pyspark.sql import Window

    if max_rows is None:
        max_rows = NTILE_MAX_ROWS  # read at call time (tunable)
    # bounded probe: stops at cap+1 rows instead of a full count
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"exact ntile binning refused: > {max_rows} rows. "
            "This is the single-task global-sort exactness path; use "
            "equal_population_edges (a distributed aggregate) "
            "for data-scale inputs, or raise max_rows "
            "explicitly."
        )
    v = F.col(col).try_cast("double")
    w = Window.orderBy(v)
    tiles = (
        df.filter(v.isNotNull())
        .select(v.alias("v"), F.ntile(num_bins).over(w).alias("t"))
        .groupBy("t")
        .agg(F.min("v").alias("edge"))
        .orderBy("t")
        .collect()
    )
    out: list[float] = []
    for r in tiles:
        if not out or r["edge"] > out[-1]:
            out.append(r["edge"])
    return out


# ---------------------------------------------------------------------------
# lookup expressions (BinUtils semantics)
# ---------------------------------------------------------------------------

def equal_interval_bin_expr(x: Column, mn: Column, mx: Column, k: int) -> Column:
    """Equal-interval bin of ``x`` over k fixed-width bins (max-min)/k
    wide (EqualIntervalBinning.java:30) — the one place the rule is written.

    ``mn``/``mx`` must be the min/max over values only (``is_value``): a
    single NaN or ±Inf in them poisons every edge. A non-value ``x``
    gives NULL; callers map it to their missing outcome. ``x = mx`` lands
    in the last bin, k-1.

    A constant column (mx = mn) is one bin, 0. ANSI mode raises
    DIVIDE_BY_ZERO on a double division too, so the width goes through
    ``try_divide``, and its NULL is coalesced to 0 INSIDE the ``least``:
    ``least`` ignores NULLs, so outside it the bin would be k-1.
    """
    from shifu_spark.functions.nonvalue import is_value

    return F.when(
        is_value(x),
        F.least(
            F.coalesce(F.floor(F.try_divide(x - mn, (mx - mn) / k)), F.lit(0).cast("long")),
            F.lit(k - 1).cast("long"),
        ),
    )


def bin_index_expr(col: Column | str, boundaries: list[float], missing_index: int | None = None) -> Column:
    """JVM-side bin lookup: index = #{edges <= x} - 1, clamped at 0.

    Reproduces BinUtils.java:53-104 (binary search, ``low==0 ? 0 : low-1``);
    first edge acts as -inf so any x < b1 lands in bin 0. Missing (NULL)
    maps to ``missing_index`` (defaults to len(boundaries) — the dedicated
    last slot, Normalizer.java:579-596).

    Emitted as a fold over an array literal -> whole-stage-codegen'd,
    no UDF, O(k) per row (k = bins, small).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.try_cast("double")
    if missing_index is None:
        missing_index = len(boundaries)
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    idx = F.greatest(F.size(F.filter(arr, lambda b: c >= b)) - 1, F.lit(0))
    # NaN/Infinity are MISSING (Normalizer.java:569-573), not values: under
    # Spark's NaN-is-largest ordering a NaN would satisfy `>= b` for every
    # edge and silently land in the LAST REAL BIN instead of the missing
    # slot — poisoning every transform built on this lookup (woe, onehot,
    # hybrid, index, streaming drift).
    from shifu_spark.functions.nonvalue import is_nonvalue

    return F.when(is_nonvalue(c), F.lit(missing_index)).otherwise(idx)


def bin_index_sql(col: str, boundaries: list[float], missing_index: int | None = None) -> str:
    """ANSI-SQL CASE chain equivalent of :func:`bin_index_expr` (for oracles).

    NaN/±Infinity route to the missing slot exactly like the Spark path
    (Normalizer.java:569-573) — DuckDB's NaN-is-greatest comparison would
    otherwise put NaN in the last real bin."""
    if missing_index is None:
        missing_index = len(boundaries)
    whens = [
        f"WHEN {col} IS NULL THEN {missing_index}",
        f"WHEN NOT isfinite(CAST({col} AS DOUBLE)) THEN {missing_index}",
    ]
    for i in range(len(boundaries) - 1, 0, -1):
        whens.append(f"WHEN {col} >= {boundaries[i]!r} THEN {i}")
    return "CASE " + " ".join(whens) + " ELSE 0 END"


def categorical_index_expr(col: Column | str, categories: list[str], missing_index: int | None = None) -> Column:
    """Category -> bin index via a broadcast map expression; miss -> last slot.

    Reference: binCateMap lookup (ColumnBinning.java:56, BinUtils.java).
    Uses a map literal (JVM-side) rather than a UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    if missing_index is None:
        missing_index = len(categories)
    if not categories:
        return F.lit(missing_index)
    pairs: list = []
    for i, cat in enumerate(categories):
        pairs.extend([F.lit(cat), F.lit(i)])
    m = F.create_map(*pairs)
    return F.coalesce(m[c], F.lit(missing_index))


# ---------------------------------------------------------------------------
# Dynamic binning (core/binning/DynamicBinning.java, AutoDynamicBinning.java,
# ColumnConfigDynamicBinning.java; driven by pig/StatsDynamicBinning.pig)
# ---------------------------------------------------------------------------

def small_bin_counts(
    df: DataFrame,
    col: str,
    num_small_bins: int = 100,
    pos_expr: Column | None = None,
) -> DataFrame:
    """Pass 1 (GenSmallBinningInfoUDF): fine equal-interval small bins with
    per-bin pos/neg/total counts. One groupBy — the small-bin table is
    ≤ num_small_bins rows per column regardless of data size, so pass 2
    (the merge) is driver-side array math like the reference's rebin path.

    Returns (small_bin, lo, cnt, pos, neg) ordered by small_bin.
    """
    v = F.col(col).cast("double")
    # values only: missing values are counted by the stats path, never
    # inside value bins (UpdateBinningInfoReducer missing-slot handling)
    from shifu_spark.functions.nonvalue import is_value

    df = df.filter(is_value(v))
    mm = df.agg(F.min(v).alias("mn"), F.max(v).alias("mx"))
    k = num_small_bins
    mn, mx = F.col("mn"), F.col("mx")
    b = equal_interval_bin_expr(v, mn, mx, k)
    binned = df.crossJoin(F.broadcast(mm)).select(
        b.alias("small_bin"),
        (mn + b * ((mx - mn) / k)).alias("lo"),
        (pos_expr if pos_expr is not None else F.lit(False)).cast("int").alias("y"),
    )
    return (
        binned.groupBy("small_bin", "lo")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
        .orderBy("small_bin")
    )


def dynamic_bin_merge(small_bins: list[tuple[float, int]], target_bins: int) -> list[float]:
    """Pass 2 (DynamicBinning/ColumnConfigDynamicBinning rebin): merge
    adjacent small bins into ``target_bins`` equal-population bins.

    ``small_bins`` = [(lo_boundary, count)] ascending. A small bin joins
    the current merged bin until the running count reaches the ideal
    per-bin share; boundaries are small-bin los (never invented values —
    same rule as EqualPopulationBinning quantile snapping). Pure driver
    array op over ≤ num_small_bins entries.
    """
    total = sum(c for _, c in small_bins)
    if total == 0 or not small_bins:
        return []
    share = total / target_bins
    boundaries = [small_bins[0][0]]
    run = 0
    for lo, cnt in small_bins:
        if run >= share * len(boundaries) and len(boundaries) < target_bins:
            boundaries.append(lo)
        run += cnt
    return boundaries


# ---------------------------------------------------------------------------
# Hybrid columns (ColumnType.H: numeric below hybridThreshold, categorical
# at/above it — ColumnConfig.java:76-79, BinUtils hybrid split)
# ---------------------------------------------------------------------------

def hybrid_bin_index_expr(col: Column | str, boundaries: list[float], categories: list[str]) -> Column:
    """Bin lookup for hybrid columns (ColumnType.H), matching the
    reference's lookup order (Normalizer.woeNormalize:622-640):

      1. the raw token is looked up in the categorical map FIRST —
         hit -> category slot + len(boundaries);
      2. miss -> parse as number -> numeric boundary bin;
      3. null / unparseable -> the final missing slot.

    The hybridThreshold acts only at binning time, where it decides which
    values are COLLECTED as categories (BinningPartialDataUDF:119-135:
    NaN or value < hybridThreshold go to the categorical binning), so at
    lookup time a value on the numeric side simply misses the map:
    categorical-first lookup is the reference's exact order and takes
    no threshold.

    Index layout (BinUtils hybrid split): [numeric bins][cate bins][missing].

    Category key contract: NUMERIC category values MUST be stored as
    their plain ``%.2f`` rendering — fixed two decimals, '.' separator,
    NO thousands grouping (e.g. ``"1234.00"``, not ``"1,234.00"``;
    ``format_string`` is locale-free, unlike ``format_number`` whose
    grouping separators would silently miss every value >= 1000) —
    which normalizes numeric-token spellings ("10" == "10.0" ==
    "10.00"). NON-numeric category tokens (e.g. ``"N/A"``) are stored
    raw, and the lookup tries the RAW token first (the reference's
    map-over-raw-string order) so they resolve to their category slot
    rather than falling through to the missing slot.
    """
    c = F.col(col) if isinstance(col, str) else col
    cd = c.try_cast("double")
    n_num = len(boundaries)
    missing = n_num + len(categories)
    num_idx = bin_index_expr(cd, boundaries, missing_index=missing)
    raw_idx = categorical_index_expr(
        c.cast("string"), categories, missing_index=-1 - n_num
    ) + n_num
    fmt_idx = categorical_index_expr(
        F.format_string("%.2f", cd), categories, missing_index=-1 - n_num
    ) + n_num
    return (
        F.when(raw_idx >= n_num, raw_idx)
        .when(cd.isNull(), F.lit(missing))
        .when(fmt_idx >= n_num, fmt_idx)
        .otherwise(num_idx)
    )
