"""Column statistics — the analytical core (``shifu stats``).

Reference pipeline (SURVEY §3.1): two jobs — a Pig binning job
(StatsSpdtI.pig:48-62: unpivot -> salted two-level group -> streaming
histogram partial/merge) followed by an UpdateBinningInfo MapReduce job
(UpdateBinningInfoMapper.java:71-643 / UpdateBinningInfoReducer.java:128-400)
that re-reads ALL raw data accumulating per-column power sums and bin
counts, then finalizes mean/stddev/skew/kurt/KS/IV/WOE
(core/ColumnStatsCalculator.java:31-120,183-215).

Spark-first design — ONE data pass, ZERO row shuffle for the moment pass:
  * All per-column moment aggregates go into a single wide ``df.agg(...)``
    — Catalyst's partial aggregation does the reference's hand-written
    in-mapper combining (UpdateBinningInfoMapper.java:67+) automatically,
    and the shuffled payload is one partial-agg row per task, not data.
  * Bin counting is a melt (posexplode over an array literal — a
    pipelined narrow op, never materialized) followed by
    ``groupBy(col_id, bin).agg(...)`` whose map-side partial agg reduces
    each task's output to ~n_cols×n_bins rows. The reference's manual
    salt ((columnId, rand) two-level group, StatsSpdtI.pig:57-60) is
    unnecessary: partial aggregation already spreads the per-column hot
    keys; AQE handles residual skew.
  * KS/IV/WOE finalization is O(cols × bins) array math on the driver —
    exactly ColumnStatsCalculator semantics (EPS=1e-10).

At 100 TB: the moment pass is a full scan with partial agg and no
``Expand`` (exact distincts come from ``collect_set``, not
``countDistinct``, so no row is copied per column); the bin-count pass
scans once more with only (cols × bins × tasks) rows shuffled. Both are
column-pruned parquet scans when ``columns`` is a subset. The bin
boundaries ride the moment pass, and ``run_stats``'s category counts
ride the bin-count pass. Memory: each exact ``percentile`` (quartiles,
boundaries) keeps a value→count map and ``collect_set`` a hash set,
each of a column's distinct values per task, and both merge in the
single-partition final aggregate — O(distinct values per column) on one
task, the same class as the reference's in-memory distinct sets
(AbstractVarStats.java). A column with billions of distinct values
needs ``percentile_approx``/``approx_count_distinct`` instead.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPS = 1e-10  # reference ColumnStatsCalculator.java EPS


# ---------------------------------------------------------------------------
# driver-side closed forms (reference formulas, exact)
# ---------------------------------------------------------------------------

def sample_std_dev(count: int, s1: float, s2: float) -> float:
    """stdDev = sqrt(|s2 - s1^2/n + EPS| / (n-1)) — UpdateBinningInfoReducer.java:355."""
    if count <= 1:
        return 0.0
    return math.sqrt(abs((s2 - (s1 * s1) / count + EPS) / (count - 1)))


def population_std_dev(count: int, s1: float, s2: float) -> float:
    """aStdDev = sqrt(|s2 - s1^2/n + EPS| / n) — UpdateBinningInfoReducer.java:356."""
    if count <= 0:
        return 0.0
    return math.sqrt(abs((s2 - (s1 * s1) / count + EPS) / count))


def skewness(count: int, mean: float, a_std: float, s1: float, s2: float, s3: float) -> float:
    """NIST skewness from power sums — ColumnStatsCalculator.java:210-215."""
    if count == 0 or a_std == 0:
        return 0.0
    return (s3 - 3 * s2 * mean + 3 * mean * mean * s1 - count * mean**3) / (count * a_std**3)


def kurtosis(count: int, mean: float, a_std: float, s1: float, s2: float, s3: float, s4: float) -> float:
    """NIST kurtosis from power sums — ColumnStatsCalculator.java:186-191."""
    if count == 0 or a_std == 0:
        return 0.0
    return (s4 - 4 * s3 * mean + 6 * s2 * mean * mean - 4 * s1 * mean**3 + count * mean**4) / (count * a_std**4)


@dataclass
class NumericColumnStats:
    column_name: str
    total_count: int
    missing_count: int
    valid_count: int
    mean: float
    std_dev: float
    min: float
    max: float
    skewness: float
    kurtosis: float
    p25: float
    median: float
    p75: float
    distinct_count: int

    @property
    def missing_percentage(self) -> float:
        return self.missing_count / self.total_count if self.total_count else 0.0


# ---------------------------------------------------------------------------
# expression builders
# ---------------------------------------------------------------------------

#: Power sums accumulate as DECIMAL(38,10): exact, order-independent, and
#: bit-identical across engines — double sums vary in the last ulp with
#: partition order, which flips rounded 6th decimals at knife edges. The
#: per-row term is computed in double (identical in Spark/DuckDB), cast to
#: decimal once, then summed exactly. The price is range: the x^4 sum
#: must fit DECIMAL(38,10)'s 28 integer digits, so rescale a column with
#: large values before taking its stats.
_DEC = "decimal(38,10)"


def _clean(c: str) -> Column:
    """``c`` as a finite double, else NULL — every moment reads this.

    Missing values are excluded from moments, mirroring
    UpdateBinningInfoReducer.java:351 ("To make it be consistent with
    SPDT, missingCount is excluded") — and NaN/Infinity ARE missing
    (Normalizer.java:566-571): a non-finite double nulls out of the
    DECIMAL power-sum cast, so counting it in ``valid`` while every sum
    drops it would skew mean/std/skew/kurt silently (and NaN would
    poison max under Spark's NaN-is-largest ordering). Nulling it up
    front keeps count/sums/min/max/percentiles/distinct consistent on
    one population.
    """
    from shifu_spark.functions.nonvalue import is_value

    raw = F.col(c).try_cast("double")
    return F.when(is_value(raw), raw)


def _moments(df: DataFrame, columns: list[str], in_pop: Column | None = None, num_bins: int = 0) -> DataFrame:
    """The one-row wide aggregate behind both stats entry points.

    Each column is cleaned ONCE in a projection, then aggregated. The
    exact distinct count is the size of a ``collect_set`` (NULLs
    skipped, -0.0 folded into 0.0, as ``count(DISTINCT)`` does), which
    keeps the plan one global aggregate: ``countDistinct`` would make
    Catalyst ``Expand`` every row once per column.

    With ``num_bins``, each column's equal-population edges over the
    ``in_pop`` rows (``binning.equal_population_edges``) join the same
    aggregate, so they read the same cleaned values."""
    from shifu_spark.operators.binning import equal_population_edges

    pop = [in_pop.alias("__pop")] if num_bins else []
    vals = df.select(*[_clean(c).alias(f"{c}__v") for c in columns], *pop)

    def s(e):
        return F.sum(e.cast(_DEC)).cast("double")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        v = F.col(f"{c}__v")
        aggs += [
            F.count(v).alias(f"{c}__valid"),
            s(v).alias(f"{c}__s1"),
            s(v * v).alias(f"{c}__s2"),
            s(v * v * v).alias(f"{c}__s3"),
            s(v * v * v * v).alias(f"{c}__s4"),
            F.min(v).alias(f"{c}__min"),
            F.max(v).alias(f"{c}__max"),
            F.percentile(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias(f"{c}__pct"),
            F.size(F.collect_set(v)).alias(f"{c}__dc"),
        ]
        if num_bins:
            aggs.append(equal_population_edges(v, F.col("__pop"), num_bins).alias(f"{c}__edges"))
    return vals.agg(*aggs)


def moments_and_boundaries(
    df: DataFrame, columns: list[str], in_pop: Column, num_bins: int,
) -> tuple[list[NumericColumnStats], dict[str, list[float]]]:
    """Full numeric stats (exact percentiles, exact distinct counts,
    DECIMAL power sums) and the ``num_bins`` equal-population boundaries
    of every column over the ``in_pop`` rows, in ONE wide aggregate."""
    from shifu_spark.operators.binning import dedup_edges

    row = _moments(df, columns, in_pop, num_bins).collect()[0].asDict()

    stats: list[NumericColumnStats] = []
    for c in columns:
        n = row["__n"]
        valid = row[f"{c}__valid"]
        s1 = row[f"{c}__s1"] or 0.0
        s2 = row[f"{c}__s2"] or 0.0
        s3 = row[f"{c}__s3"] or 0.0
        s4 = row[f"{c}__s4"] or 0.0
        mean = s1 / valid if valid else 0.0
        a_std = population_std_dev(valid, s1, s2)
        pct = row[f"{c}__pct"] or [None, None, None]
        stats.append(
            NumericColumnStats(
                column_name=c,
                total_count=n,
                missing_count=n - valid,
                valid_count=valid,
                mean=mean,
                std_dev=sample_std_dev(valid, s1, s2),
                min=row[f"{c}__min"],
                max=row[f"{c}__max"],
                skewness=skewness(valid, mean, a_std, s1, s2, s3),
                kurtosis=kurtosis(valid, mean, a_std, s1, s2, s3, s4),
                p25=pct[0],
                median=pct[1],
                p75=pct[2],
                distinct_count=row[f"{c}__dc"],
            )
        )
    return stats, {c: dedup_edges(row[f"{c}__edges"]) for c in columns}


def numeric_stats_df(df: DataFrame, columns: list[str], round_to: int | None = 6) -> DataFrame:
    """Same stats as :func:`moments_and_boundaries` but as a DataFrame plan
    (one row per column) — the oracle-checkable query shape.

    Implemented as the wide agg + a driver-side unpivot of the SINGLE
    result row into per-column rows via a union of literal-free selects —
    still one Spark job, one data pass.
    """
    wide = _moments(df, columns)

    def rnd(e):
        return F.round(e, round_to) if round_to is not None else e

    selects = []
    for c in columns:
        n, valid = F.col("__n"), F.col(f"{c}__valid")
        s1, s2 = F.col(f"{c}__s1"), F.col(f"{c}__s2")
        s3, s4 = F.col(f"{c}__s3"), F.col(f"{c}__s4")
        mean = s1 / valid
        a_var = F.abs((s2 - s1 * s1 / valid + F.lit(EPS)) / valid)
        a_std = F.sqrt(a_var)
        skew = (s3 - 3 * s2 * mean + 3 * mean * mean * s1 - valid * F.pow(mean, 3)) / (valid * F.pow(a_std, 3))
        kurt = (s4 - 4 * s3 * mean + 6 * s2 * mean * mean - 4 * s1 * F.pow(mean, 3) + valid * F.pow(mean, 4)) / (
            valid * F.pow(a_var, 2)
        )
        # valid <= 1 -> sample std 0.0 (the reference closed form's n<=1
        # guard, sample_std_dev above); a bare (valid-1) divisor is an
        # ANSI DIVIDE_BY_ZERO crash on a single-row population. Oracle
        # mirrors the CASE.
        std = F.when(valid <= 1, F.lit(0.0)).otherwise(
            F.sqrt(F.abs((s2 - s1 * s1 / valid + F.lit(EPS)) / (valid - 1)))
        )
        selects.append(
            wide.select(
                F.lit(c).alias("column_name"),
                n.cast("long").alias("total_count"),
                (n - valid).cast("long").alias("missing_count"),
                rnd(mean).alias("mean"),
                rnd(std).alias("std_dev"),
                rnd(F.col(f"{c}__min")).alias("min_val"),
                rnd(F.col(f"{c}__max")).alias("max_val"),
                rnd(skew).alias("skewness"),
                rnd(kurt).alias("kurtosis"),
                rnd(F.col(f"{c}__pct").getItem(0)).alias("p25"),
                rnd(F.col(f"{c}__pct").getItem(1)).alias("median"),
                rnd(F.col(f"{c}__pct").getItem(2)).alias("p75"),
                F.col(f"{c}__dc").cast("long").alias("distinct_count"),
            )
        )
    out = selects[0]
    for s in selects[1:]:
        out = out.unionAll(s)
    return out


def numeric_stats_oracle_sql(table: str, columns: list[str], round_to: int = 6) -> str:
    """DuckDB SQL computing numeric_stats_df with the SAME closed forms.

    Skew/kurt are written out from power sums (NOT duckdb's skewness(),
    which applies sample-bias correction — the reference uses the NIST
    population forms)."""
    parts = []
    for c in columns:
        # decimal power sums mirror the Spark side exactly (see _DEC note);
        # the inner CASE mirrors the Spark side's non-finite→missing
        # mapping (isfinite(NULL) is NULL, so NULLs stay missing too)
        sums = f"""(SELECT count(*)::BIGINT AS n, count(v)::BIGINT AS valid,
       sum(cast(v AS DECIMAL(38,10)))::DOUBLE AS s1,
       sum(cast(v*v AS DECIMAL(38,10)))::DOUBLE AS s2,
       sum(cast(v*v*v AS DECIMAL(38,10)))::DOUBLE AS s3,
       sum(cast(v*v*v*v AS DECIMAL(38,10)))::DOUBLE AS s4,
       min(v) AS mn, max(v) AS mx,
       quantile_cont(v, 0.25) AS q25, quantile_cont(v, 0.5) AS q50, quantile_cont(v, 0.75) AS q75,
       count(DISTINCT v)::BIGINT AS dc
FROM (SELECT CASE WHEN isfinite({c}::DOUBLE) THEN {c}::DOUBLE END AS v FROM {table}))"""
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       n AS total_count,
       (n - valid) AS missing_count,
       round(s1 / valid, {round_to}) AS mean,
       round(CASE WHEN valid <= 1 THEN 0.0
                  ELSE sqrt(abs((s2 - s1*s1/valid + 1e-10) / (valid - 1))) END, {round_to}) AS std_dev,
       round(mn, {round_to}) AS min_val,
       round(mx, {round_to}) AS max_val,
       round((s3 - 3*s2*(s1/valid) + 3*(s1/valid)*(s1/valid)*s1 - valid*(s1/valid)^3)
             / (valid * sqrt(abs((s2 - s1*s1/valid + 1e-10) / valid))^3), {round_to}) AS skewness,
       round((s4 - 4*s3*(s1/valid) + 6*s2*(s1/valid)*(s1/valid) - 4*s1*(s1/valid)^3 + valid*(s1/valid)^4)
             / (valid * (abs((s2 - s1*s1/valid + 1e-10) / valid))^2), {round_to}) AS kurtosis,
       round(q25, {round_to}) AS p25,
       round(q50, {round_to}) AS median,
       round(q75, {round_to}) AS p75,
       dc AS distinct_count
FROM {sums}"""
        )
    return "\nUNION ALL\n".join(parts)


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, tuple[str, str | None]],
    salt: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-stage salted aggregation for skewed group keys.

    Reference: the stats job salts its per-column groupBy with a random
    int (AddColumnNumUDF isAppendRandom + GROUP BY (columnId, rand),
    StatsSpdtI.pig:57-60) so 10k columns over billions of rows don't
    funnel through #columns reducers. Spark's partial aggregation already
    combines map-side, but when per-key state is heavy the salt still
    matters: stage 1 aggregates on (key, salt) — salt = hash of a
    high-cardinality column (deterministic, unlike the reference's
    Math.random()) — stage 2 merges the ≤ salt partials per key.

    ``agg_exprs``: {out_name: (how, in_col)} with how in
    sum|count|min|max — algebraic aggs whose partial/merge split is
    (sum,sum), (count,sum), (min,min), (max,max); in_col ignored for
    count.
    """
    from pyspark.sql import functions as F

    sc = salt_col or df.columns[0]
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(sc)), F.lit(salt)))
    stage1_aggs = []
    for out, (how, in_col) in agg_exprs.items():
        e = F.count(F.lit(1)) if how == "count" else getattr(F, how)(in_col)
        stage1_aggs.append(e.alias(out))
    stage1 = salted.groupBy(*key_cols, "__salt").agg(*stage1_aggs)
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    return stage1.groupBy(*key_cols).agg(
        *[merge[how](out).alias(out) for out, (how, _in) in agg_exprs.items()]
    )


# ---------------------------------------------------------------------------
# Robust profiling: quartiles / MAD / Tukey fences
# ---------------------------------------------------------------------------

_ROBUST_SCALE = 4_000_000.0  # quarter-micros: round(x·1e6)·4


def _x4(col: str):
    """Scale a numeric column to quarter-micro INTEGERS so every
    interpolated percentile at q ∈ {.25, .5, .75} is exact: the
    interpolation weight is a dyadic quarter and both operands are
    integers ≪ 2^53, so ANY algebraically-equivalent formula (Spark
    ``percentile``, DuckDB ``quantile_cont``, numpy type-7) computes the
    bit-identical double.

    Non-finite values are MISSING (the engine-wide nonvalue class):
    nulled here so percentile/count skip them — a NaN otherwise sorts
    largest into the quantile walk and shifts every interpolated cut,
    engine-dependently."""
    from shifu_spark.functions.nonvalue import is_value

    c = F.col(col)
    return F.when(is_value(c), (F.round(c * 1e6, 0) * 4).cast("double"))


def robust_quartiles(df: DataFrame, columns: list[str]) -> dict[str, list[float]]:
    """Pass 1: exact (q25, q50, q75) per column in ONE wide aggregate,
    in the quarter-micro integer domain. Bounded driver transfer:
    3·|columns| doubles."""
    proj = df.select(*[_x4(c).alias(f"{c}__x4") for c in columns])
    aggs = [
        F.expr(f"percentile(`{c}__x4`, array(0.25d, 0.5d, 0.75d))").alias(f"{c}__q")
        for c in columns
    ]
    row = proj.agg(*aggs).collect()[0].asDict()
    empty = [c for c in columns if row[f"{c}__q"] is None]
    if empty:
        raise ValueError(
            f"robust stats need at least one non-null value; all-null/empty: {empty}"
        )
    return {c: [float(v) for v in row[f"{c}__q"]] for c in columns}


def robust_stats_df(df: DataFrame, columns: list[str], round_to: int = 6) -> DataFrame:
    """Robust per-column profile: exact quartiles, MAD (median absolute
    deviation — median of |x − median|), IQR, Tukey 1.5·IQR fences and
    the outlier count beyond them.  The robust complement of the
    moment-based :func:`numeric_stats_df` (reference parity:
    ColumnStatsCalculator's mean/σ profile, core
    BasicUpdatedBinning-style percentile machinery) — σ-based profiles
    miss exactly the heavy-tail rows these fences flag.

    Two passes over the data (MAD is a percentile of a
    median-dependent transform — irreducible): pass 1 collects 3
    quartiles per column; pass 2 inlines them as literals and computes
    MAD + fence counts in one wide aggregate.  All compares and
    deviations happen in the exact quarter-micro integer domain (see
    :func:`_x4`); the final unscale is a single IEEE division.  At
    scale, swap ``percentile`` for ``percentile_approx`` (KLL) — the
    gate form pins exact semantics.
    """
    qs = robust_quartiles(df, columns)
    proj = df.select(*[_x4(c).alias(f"{c}__x4") for c in columns])
    aggs: list = []
    for c in columns:
        q1, q2, q3 = qs[c]
        iqr4 = q3 - q1
        lo, hi = q1 - 1.5 * iqr4, q3 + 1.5 * iqr4
        x = F.col(f"{c}__x4")
        aggs.append(F.count(x).alias(f"{c}__n"))
        aggs.append(
            F.expr(f"percentile(abs(`{c}__x4` - {q2!r}d), 0.5d)").alias(f"{c}__mad4")
        )
        aggs.append(
            F.sum(((x < F.lit(lo)) | (x > F.lit(hi))).cast("long")).alias(f"{c}__out")
        )
    wide = proj.agg(*aggs)

    def unscale(v):
        return F.round(v / F.lit(_ROBUST_SCALE), round_to)

    selects = []
    for c in columns:
        q1, q2, q3 = qs[c]
        iqr4 = q3 - q1
        selects.append(
            wide.select(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").cast("long").alias("n_valid"),
                unscale(F.lit(q1)).alias("p25"),
                unscale(F.lit(q2)).alias("median"),
                unscale(F.lit(q3)).alias("p75"),
                unscale(F.lit(iqr4)).alias("iqr"),
                unscale(F.col(f"{c}__mad4")).alias("mad"),
                unscale(F.lit(q1 - 1.5 * iqr4)).alias("lo_fence"),
                unscale(F.lit(q3 + 1.5 * iqr4)).alias("hi_fence"),
                F.col(f"{c}__out").cast("long").alias("n_outliers"),
            )
        )
    out = selects[0]
    for s in selects[1:]:
        out = out.unionAll(s)
    return out


def robust_stats_oracle_sql(table: str, columns: list[str]) -> str:
    """DuckDB mirror of :func:`robust_stats_df` — quantile_cont over the
    same quarter-micro integers (an independent engine's interpolation;
    exact-integer operands make the formulas agree bitwise).  MAD and
    the outlier count re-read the scaled relation against the quartile
    row (the same two-pass structure the Spark side runs)."""
    ctes, parts = [], []
    for c in columns:
        ctes.append(
            f"x_{c} AS (SELECT round({c} * 1e6) * 4 AS x4 FROM {table} "
            f"WHERE {c} IS NOT NULL AND isfinite({c}))"
        )
        ctes.append(
            f"q_{c} AS (SELECT quantile_cont(x4, 0.25) AS q1,"
            f" quantile_cont(x4, 0.5) AS q2, quantile_cont(x4, 0.75) AS q3,"
            f" count(x4) AS n FROM x_{c})"
        )
        parts.append(f"""
SELECT '{c}' AS column_name, n::BIGINT AS n_valid,
  round(q1 / 4000000.0, 6) AS p25,
  round(q2 / 4000000.0, 6) AS median,
  round(q3 / 4000000.0, 6) AS p75,
  round((q3 - q1) / 4000000.0, 6) AS iqr,
  (SELECT round(quantile_cont(abs(x4 - q2), 0.5) / 4000000.0, 6)
   FROM x_{c}, q_{c}) AS mad,
  round((q1 - 1.5 * (q3 - q1)) / 4000000.0, 6) AS lo_fence,
  round((q3 + 1.5 * (q3 - q1)) / 4000000.0, 6) AS hi_fence,
  (SELECT count(*) FROM x_{c}, q_{c}
   WHERE x4 < q1 - 1.5 * (q3 - q1) OR x4 > q3 + 1.5 * (q3 - q1))::BIGINT
    AS n_outliers
FROM q_{c}""")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(parts)
