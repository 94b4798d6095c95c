"""PSI — population stability index per column per time unit.

Reference: pig/PSI.pig + udf/PopulationCounterUDF.java:61-107 (per
(unit, columnId) bin counts) + udf/PSICalculatorUDF.java:45-115
(finalize). Exact semantics reproduced:
  * expected_i = (binCountNeg_i + binCountPos_i) / totalCount — the
    training distribution from the catalog;
  * per unit: actual_i = unit bin count / unit total;
  * term skipped when expected_i == 0 OR actual ratio <= 0 (i.e. empty
    actual bin contributes nothing — no epsilon here, unlike WOE);
  * column PSI = Σ over ALL units of the unit's Σ terms (the UDF
    accumulates across the unit bag; the psi_by_column query).

Spark shape: the caller's groupBy(unit, column, bin).count() (map-side
combined, shuffle bounded by units × cols × bins), a window-sum per
unit, a join against the expected distribution (broadcast — it is
cols × bins rows), then one aggregate per unit. Scales to any row
count. Batch (the psi_events_by_day query) and streaming
(streaming.drift.psi_of_batch) both finalize here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def psi_df(
    actual_counts: DataFrame,
    expected: DataFrame,
    round_to: int | None = 6,
) -> DataFrame:
    """PSI per (column_name, unit) — the one place the PSI term is written.

    ``actual_counts``: (column_name, unit, bin, cnt)
    ``expected``:      (column_name, bin, expected_frac)
    Returns (column_name, unit, psi), one row per unit of
    ``actual_counts``; a bin absent from ``expected`` counts in its unit's
    total and contributes no term, like an expected_frac of 0.
    """
    w_unit = Window.partitionBy("column_name", "unit")
    # try_divide: a unit whose bins are all cnt=0 (zero-filled bins from
    # an outer-join counts producer) has unit_total 0, and ANSI mode
    # raises on a bare division; its NULL fracs contribute no term
    a = actual_counts.withColumn("unit_total", F.sum("cnt").over(w_unit)).withColumn(
        "actual_frac", F.try_divide(F.col("cnt"), F.col("unit_total"))
    )
    j = a.join(F.broadcast(expected), ["column_name", "bin"], "left")
    term = F.when(
        (F.col("expected_frac") > 0) & (F.col("actual_frac") > 0),
        (F.col("actual_frac") - F.col("expected_frac")) * F.log(F.col("actual_frac") / F.col("expected_frac")),
    ).otherwise(F.lit(0.0))
    per_unit = (
        j.withColumn("term", term)
        .groupBy("column_name", "unit")
        .agg(F.sum("term").alias("psi_raw"))
    )
    psi = F.round(F.col("psi_raw"), round_to) if round_to is not None else F.col("psi_raw")
    return per_unit.select("column_name", "unit", psi.alias("psi")).orderBy("column_name", "unit")
