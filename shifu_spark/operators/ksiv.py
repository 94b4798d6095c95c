"""KS / IV / WOE per column from bin counts.

Reference math — core/ColumnStatsCalculator.java:84-120 (long[] overload,
the one the stats reducer uses on binCountNeg/binCountPos,
UpdateBinningInfoReducer.java:345-349):

    EPS = 1e-10
    p_i = pos_i / sumP ;  n_i = neg_i / sumN
    woe_i = ln((n_i + EPS) / (p_i + EPS))
    IV    = Σ (n_i - p_i) * woe_i
    KS    = 100 * max_i |cumP_i - cumN_i|
    WOE   = ln((sumN + EPS) / (sumP + EPS))

Weighted variants run the identical formulas on weight sums
(binWeightNeg/binWeightPos, double[] overload).

Spark shape: per-(column, bin) pos/neg counts come from one
groupBy().agg() (map-side combined — the melt never materializes); the
finalization is either a tiny driver-side walk (library path:
:func:`column_metrics_from_counts`) or a window-function plan
(:func:`ksiv_df`) whose SQL mirror is the DuckDB oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-10


@dataclass
class ColumnMetrics:
    ks: float
    iv: float
    woe: float
    bin_woe: list[float]


def column_metrics_from_counts(neg: list[float], pos: list[float]) -> ColumnMetrics | None:
    """Exact ColumnStatsCalculator.calculateColumnMetrics(long[], long[])."""
    sum_n = float(sum(neg))
    sum_p = float(sum(pos))
    if sum_n == 0 or sum_p == 0:
        return None
    woe = math.log((sum_n + EPS) / (sum_p + EPS))
    cum_p = cum_n = 0.0
    iv = ks = 0.0
    bin_woe: list[float] = []
    for cnt_n, cnt_p in zip(neg, pos):
        p = cnt_p / sum_p
        n = cnt_n / sum_n
        w = math.log((n + EPS) / (p + EPS))
        bin_woe.append(w)
        iv += (n - p) * w
        cum_p += p
        cum_n += n
        ks = max(ks, abs(cum_p - cum_n))
    return ColumnMetrics(ks=ks * 100, iv=iv, woe=woe, bin_woe=bin_woe)


def bin_counts_df(
    df: DataFrame,
    columns: list[str],
    boundaries: dict[str, list[float]],
    tag_col: str | None,
    pos_tags: list[str],
    weight_col: str | None = None,
    categorical: list[str] | None = None,
) -> DataFrame:
    """Per-(column, bin) pos/neg counts (+ weighted) in ONE pass.

    Melt via explode of a struct array (narrow, pipelined), then
    groupBy(column_name, bin) — partial aggregation collapses each task's
    output to cols × bins rows before the shuffle, so shuffle volume is
    independent of row count (reference needed a salted two-level group
    for the same effect, StatsSpdtI.pig:57-60).

    ``categorical`` columns ride the same melt, one row per (column,
    category) with ``bin`` NULL; NULL values are dropped. So that a
    category keeps its native type (an int categorical stays an int),
    each distinct dtype gets its own ``value_<i>`` field; a category row
    sets only its dtype's field, and a bin row sets none. With no
    ``tag_col`` every row counts as negative.
    """
    from shifu_spark.operators.binning import bin_index_expr

    is_pos = F.col(tag_col).isin(pos_tags) if tag_col else F.lit(False)
    # unparseable/NULL weight -> 1.0: UpdateBinningInfoMapper.java:384-400
    # initializes weight = 1.0d and the Double.valueOf throw leaves it in
    # place (a bare try_cast would sum the row as 0 instead). Non-finite
    # weights ('NaN'/'Infinity' DO parse in Java) also default to 1.0 —
    # the engine's garbage-weight rule (one NaN would poison the whole
    # column's bin weights; same rationale as clamp_weight/jexl_weight).
    # Negative weights are counted but NOT clamped in the stats
    # path — unlike the eval clamp (ConfusionMatrix.java:361-370).
    if weight_col:
        from shifu_spark.functions.nonvalue import is_nonvalue

        w0 = F.col(weight_col).try_cast("double")
        w = F.when(is_nonvalue(w0), F.lit(1.0)).otherwise(w0)
    else:
        w = F.lit(1.0)
    categorical = categorical or []
    dtypes = dict(df.dtypes)
    kinds = sorted({dtypes[c] for c in categorical})
    nulls = [F.lit(None).cast(t) for t in kinds]

    def slot(c: str, bin_: Column, values: list[Column]) -> Column:
        return F.struct(
            F.lit(c).alias("column_name"), bin_.alias("bin"),
            *[v.alias(f"value_{i}") for i, v in enumerate(values)],
        )

    structs = [slot(c, bin_index_expr(c, boundaries[c]), nulls) for c in columns]
    for c in categorical:
        k = kinds.index(dtypes[c])
        structs.append(slot(c, F.lit(None).cast("int"), nulls[:k] + [F.col(c)] + nulls[k + 1:]))
    melted = df.select(
        F.explode(F.array(*structs)).alias("cb"),
        is_pos.alias("_pos"),
        w.alias("_w"),
    ).select("cb.*", "_pos", "_w")
    values = [f"value_{i}" for i in range(len(kinds))]
    if values:
        kept = F.col("bin").isNotNull()
        for v in values:
            kept = kept | F.col(v).isNotNull()
        melted = melted.filter(kept)
    return (
        melted.groupBy("column_name", "bin", *values)
        .agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("bin_count_pos"),
            F.sum(F.when(~F.col("_pos"), 1).otherwise(0)).alias("bin_count_neg"),
            F.sum(F.when(F.col("_pos"), F.col("_w")).otherwise(0.0)).alias("bin_weight_pos"),
            F.sum(F.when(~F.col("_pos"), F.col("_w")).otherwise(0.0)).alias("bin_weight_neg"),
        )
    )


def woe_df(counts: DataFrame, pos: Column | str, neg: Column | str, partition: str | None = None) -> DataFrame:
    """Add the class totals ``sum_p``/``sum_n``, the class shares
    ``p``/``n`` and the per-bin ``woe`` to a counts frame, one WOE table
    per ``partition`` value (the whole frame when None).

    ``p``/``n`` use try_divide: a one-class population (sum_p or sum_n
    == 0) must yield NULL ratios like the DuckDB oracle's /0, not an
    ANSI DIVIDE_BY_ZERO crash. The reference's Java double-division
    would give Inf/NaN here; NULL is the engine's portable spelling of
    "undefined".
    """
    pos = F.col(pos) if isinstance(pos, str) else pos
    neg = F.col(neg) if isinstance(neg, str) else neg
    wall = Window.partitionBy(*([partition] if partition else []))
    return (
        counts.withColumn("sum_p", F.sum(pos).over(wall))
        .withColumn("sum_n", F.sum(neg).over(wall))
        .withColumn("p", F.try_divide(pos, F.col("sum_p")))
        .withColumn("n", F.try_divide(neg, F.col("sum_n")))
        .withColumn("woe", F.log((F.col("n") + EPS) / (F.col("p") + EPS)))
    )


def ksiv_df(counts: DataFrame, pos_col: str = "bin_count_pos", neg_col: str = "bin_count_neg", round_to: int | None = 6) -> DataFrame:
    """Window-function KS/IV/WOE plan over a (column_name, bin, pos, neg) table.

    Stays fully distributed: windows partition by column_name (cols × bins
    rows total — trivially small after the count agg at any scale).
    """
    # NULLS LAST pins the MISSING bin to the end of the cumulative
    # walk on both engines (the reference appends the missing slot
    # after the real bins; Spark's asc default is NULLS FIRST while
    # DuckDB's is NULLS LAST — a silent KS/IV split on dirty data)
    wcum = Window.partitionBy("column_name").orderBy(F.asc_nulls_last("bin")).rowsBetween(Window.unboundedPreceding, 0)
    t = (
        woe_df(counts, F.col(pos_col).cast("double"), F.col(neg_col).cast("double"), "column_name")
        .withColumn("iv_term", (F.col("n") - F.col("p")) * F.col("woe"))
        .withColumn("cum_p", F.sum("p").over(wcum))
        .withColumn("cum_n", F.sum("n").over(wcum))
    )
    agg = t.groupBy("column_name").agg(
        (F.max(F.abs(F.col("cum_p") - F.col("cum_n"))) * 100).alias("ks_raw"),
        F.sum("iv_term").alias("iv_raw"),
        F.log((F.first("sum_n") + EPS) / (F.first("sum_p") + EPS)).alias("woe_raw"),
    )

    def rnd(c):
        return F.round(c, round_to) if round_to is not None else c

    return agg.select(
        "column_name",
        rnd(F.col("ks_raw")).alias("ks"),
        rnd(F.col("iv_raw")).alias("iv"),
        rnd(F.col("woe_raw")).alias("woe"),
    ).orderBy("column_name")


def ksiv_oracle_sql(counts_sql: str, round_to: int = 6) -> str:
    """DuckDB mirror of :func:`ksiv_df` over a counts CTE named ``counts``
    with columns (column_name, bin, bin_count_pos, bin_count_neg)."""
    return f"""
WITH counts AS ({counts_sql}),
tot AS (
  SELECT column_name, sum(bin_count_pos)::DOUBLE AS sum_p, sum(bin_count_neg)::DOUBLE AS sum_n
  FROM counts GROUP BY column_name
),
per_bin AS (
  -- the zero-total CASEs mirror Spark's try_divide -> NULL explicitly:
  -- DuckDB <1.1 gives /0 -> NULL but >=1.1 defaults to IEEE inf/nan,
  -- so the semantics are spelled out rather than version-inherited
  SELECT c.column_name, c.bin,
         CASE WHEN t.sum_p = 0 THEN NULL ELSE c.bin_count_pos / t.sum_p END AS p,
         CASE WHEN t.sum_n = 0 THEN NULL ELSE c.bin_count_neg / t.sum_n END AS n,
         ln((CASE WHEN t.sum_n = 0 THEN NULL ELSE c.bin_count_neg / t.sum_n END + 1e-10)
            / (CASE WHEN t.sum_p = 0 THEN NULL ELSE c.bin_count_pos / t.sum_p END + 1e-10)) AS woe_bin,
         sum(CASE WHEN t.sum_p = 0 THEN NULL ELSE c.bin_count_pos / t.sum_p END)
             OVER (PARTITION BY c.column_name ORDER BY c.bin NULLS LAST) AS cum_p,
         sum(CASE WHEN t.sum_n = 0 THEN NULL ELSE c.bin_count_neg / t.sum_n END)
             OVER (PARTITION BY c.column_name ORDER BY c.bin NULLS LAST) AS cum_n,
         t.sum_p, t.sum_n
  FROM counts c JOIN tot t USING (column_name)
)
SELECT column_name,
       round(max(abs(cum_p - cum_n)) * 100, {round_to}) AS ks,
       round(sum((n - p) * woe_bin), {round_to}) AS iv,
       round(ln((any_value(sum_n) + 1e-10) / (any_value(sum_p) + 1e-10)), {round_to}) AS woe
FROM per_bin GROUP BY column_name ORDER BY column_name
"""
