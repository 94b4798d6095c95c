"""Streaming drift monitoring — PSI over micro-batches.

The reference is batch-only (SURVEY §2.9); its one temporal feature is
PSI per time-unit (PSI.pig). This module is the *new surface* the north
star asks for: the same PSI code as batch (operators/psi.py), run as a
Structured Streaming query with event-time windows + watermark, expected
distribution broadcast from the training catalog.

Shape: readStream -> bin-index column (same JVM bin-lookup expression as
batch — the catalog is shared) -> windowed groupBy(window, bin) counts
-> foreachBatch computes PSI per closed window against the expected
fractions. State is bounded by (windows-in-watermark × bins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_bin_counts(
    stream: DataFrame,
    value_col: str,
    boundaries: list[float],
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-bin counts over an event stream.

    Uses the identical bin_index_expr as batch stats — one code path for
    both (the catalog's boundaries are literals in the plan).
    """
    from shifu_spark.operators.binning import bin_index_expr

    # watermarks reject TIMESTAMP_NTZ event time. The NTZ->TZ cast is
    # instant-preserving ONLY under a UTC session timezone; callers with
    # a non-UTC session would get silently shifted windows, so pin it.
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        spark = stream.sparkSession
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT"):
            raise ValueError(
                f"streaming_bin_counts requires spark.sql.session.timeZone=UTC "
                f"for TIMESTAMP_NTZ event time (got {tz!r}); set it or cast "
                f"{ts_col} to TIMESTAMP yourself with explicit tz semantics"
            )
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("bin", bin_index_expr(value_col, boundaries))
        .groupBy(F.window(ts_col, window).alias("w"), F.col("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "bin", "cnt")
    )


def psi_of_batch(bin_counts: DataFrame, expected_frac: dict[int, float]) -> DataFrame:
    """PSI per window vs the expected (training) distribution: the
    (window_start, bin, cnt) counts go through batch ``psi.psi_df`` with
    each window as a unit. Called from foreachBatch, or on the
    complete-mode memory sink in tests.
    """
    from shifu_spark.operators.psi import psi_df

    emap = F.create_map(*[F.lit(v) for kv in sorted(expected_frac.items()) for v in kv])
    expected = bin_counts.sparkSession.range(1).select(
        F.lit("").alias("column_name"), F.explode(emap).alias("bin", "expected_frac")
    )
    actual = bin_counts.select(F.lit("").alias("column_name"), F.col("window_start").alias("unit"), "bin", "cnt")
    return psi_df(actual, expected).select(F.col("unit").alias("window_start"), "psi")


def start_drift_monitor_foreach_batch(
    stream: DataFrame,
    value_col: str,
    boundaries: list[float],
    expected_frac: dict[int, float],
    output_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Production sink wiring: closed windows' bin counts flow through
    ``foreachBatch``, which finalizes PSI per window and appends one
    parquet row per (window, psi) — swap the ``write.parquet`` for any
    batch sink (delta/kafka/jdbc) without touching the streaming graph.

    Append mode ⇒ a window's counts arrive exactly once, after the
    watermark passes its end, so each PSI row is final (no upsert logic
    needed downstream). Checkpointing makes the query restartable with
    exactly-once sink semantics for idempotent batch writes."""
    counts = streaming_bin_counts(stream, value_col, boundaries, ts_col, window, watermark)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            psi_of_batch(batch_df, expected_frac)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_path)
        )

    return (
        counts.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
