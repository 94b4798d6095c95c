"""Joins — the combo-model score assembly.

Reference: combo/PigDataJoin.java:45-133 generates a Pig COGROUP of N
score relations by uid, takes the first tuple per bag, and drops groups
missing any side — i.e. an N-way INNER equi-join with
first-value-per-key dedup. combo/DataJoinMapReducer.java is the same as
raw MapReduce.

Spark: chained ``df.join(..., on=uid, how='inner')``. Catalyst picks
broadcast vs sort-merge per side size (use ``F.broadcast`` to force when
a score table is known-small). Score files are unique per uid, so the
reference's first-tuple-per-bag dedup has no counterpart here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Scalable AS-OF join: for every left row, attach the most recent
    right row with ``right_ts <= left_ts`` within the same ``on`` keys
    (NULL payload when no right row precedes) — the event-attribution /
    point-in-time-feature join Spark has no built-in for.

    Spark-first plan (no per-row subqueries, no range cross join): tag
    and UNION the two sides, then ONE window per key ordered by
    (ts, side, tie_cols) carrying ``last(payload, ignorenulls=True)``
    forward — right rows sort BEFORE left rows at equal ts, so the
    boundary is inclusive. Cost is a single hash exchange on the keys +
    a per-key sort, the same shape as any windowed aggregation; at 100 TB
    the keys partition the sort so no single task sees more than one
    key group's rows (salt high-cardinality users upstream if one key
    dominates).

    ``tie_cols`` (default: first payload column) makes the carried row
    deterministic when several right rows share one timestamp — the
    greatest (ts, tie) wins, matching ``max_by`` semantics.

    A NULL-ts right row can never satisfy ``right_ts <= left_ts``
    (three-valued UNKNOWN) and is excluded up front — before this
    guard it sorted FIRST in the window (Spark NULLS-FIRST asc) and
    was carried as a phantom match for left rows with no real
    predecessor, diverging from a native ASOF join's predicate
    semantics. A NULL-ts LEFT row matches nothing and keeps NULL
    payload (it sorts before every surviving right row).
    """
    ties = tie_cols or right_payload[:1]
    payload = F.struct(*[F.col(c) for c in right_payload])
    r = right.where(F.col(right_ts).isNotNull()).select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        payload.alias("_pl"),
        *[F.col(c).alias(f"_tie_{c}") for c in ties],
    )
    lcols = [c for c in left.columns]
    l = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_pl"].dataType).alias("_pl"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_tie_{c}") for c in ties],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts"), F.col("_side"), *[F.asc_nulls_first(f"_tie_{c}") for c in ties])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_match", F.last("_pl", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1).select(
        *lcols, *[F.col(f"_match.{c}").alias(f"asof_{c}") for c in right_payload]
    )
    return out


def combo_join(tables: list[DataFrame], uid_col: str, prefixes: list[str] | None = None) -> DataFrame:
    """N-way inner join by uid with per-table column prefixes.

    Mirrors PigDataJoin's rename (`model_i::score` style) by prefixing
    non-key columns ``{prefix}_{col}``.
    """
    if prefixes is None:
        prefixes = [f"m{i}" for i in range(len(tables))]
    out: DataFrame | None = None
    for t, p in zip(tables, prefixes):
        renamed = t.select(
            F.col(uid_col),
            *[F.col(c).alias(f"{p}_{c}") for c in t.columns if c != uid_col],
        )
        out = renamed if out is None else out.join(renamed, uid_col, "inner")
    assert out is not None
    return out


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    salt_on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Manual hot-key mitigation for LARGE × LARGE equi-joins — the
    third leg of the skew triad next to the salted two-level aggregate
    (stats.salted_group_counts) and AQE's runtime skew split
    (test_plans::TestAdaptiveSkewJoin).  Reach for it when broadcast is
    impossible (both sides data-scale) and AQE can't see the skew
    (stream-static joins, non-adaptive engines, skew inside a single
    in-flight partition).

    The skewed side gets a CONTENT-DERIVED salt in [0, n_salts) — md5
    of (key, ``salt_on``) where ``salt_on`` is a column that VARIES
    WITHIN a key (a line number, an event id): a salt derived from the
    key alone would send every row of a hot key to the same reducer and
    mitigate nothing.  The other side is replicated n_salts times via
    an in-row explode, so the join key becomes (key, salt) and each hot
    key's rows fan over n_salts reducers.  Content-derived (not
    rand()) keeps the plan deterministic across retries/speculative
    tasks — a rand() salt re-rolls on task retry and can DROP OR
    DUPLICATE rows of a non-deterministic shuffle partition, the
    classic correctness bug of naive salting.  Cost: the other side
    shuffles n_salts× its size — size n_salts to the skew factor, not
    higher.

    Output = exactly the plain join's rows (modulo the helper columns,
    which are dropped)."""
    overlap = set(skewed.columns) & set(other.columns)
    if overlap:
        raise ValueError(f"skewed/other column names must be disjoint: {sorted(overlap)}")
    if "__salt" in skewed.columns or "__salt" in other.columns:
        raise ValueError("inputs must not already carry a __salt column")
    salt_src = F.concat_ws(
        "|", F.col(skewed_key).cast("string"), F.col(salt_on).cast("string")
    )
    salt = F.pmod(
        F.conv(F.substring(F.md5(salt_src), 1, 7), 16, 10).cast("long"),
        F.lit(n_salts),
    ).cast("int")
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = left.join(
        right,
        (F.col(skewed_key) == F.col(other_key)) & (left["__salt"] == right["__salt"]),
    )
    return out.drop("__salt")


def range_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket: int,
) -> DataFrame:
    """Scalable LARGE × LARGE interval containment join — all (point,
    interval) pairs with ``lo <= point < hi`` (half-open), with NO equi
    key between the sides.

    Spark plans a pure non-equi join as BroadcastNestedLoopJoin (when
    one side fits) or CartesianProduct (when neither does) — the
    second is O(|P|·|I|) and dead at scale.  The standard rewrite
    turns the range predicate into an equi key: quantize the domain
    into fixed ``bucket``-width cells, assign each point its one cell
    ``floor(point / bucket)``, EXPLODE each interval across every cell
    it overlaps (``floor(lo/bucket) .. floor((hi-1)/bucket)``), hash
    join the two sides on the cell id, and re-check the exact
    containment predicate after the join.  Cost: the interval side
    replicates ~``len/bucket + 1`` rows per interval, and the join is
    an ordinary shuffled hash/sort-merge join on the cell — pick
    ``bucket`` near the typical interval length so replication stays
    O(1) per interval.  (Same technique Databricks exposes as the
    ``range_join`` hint; expressed here with public operators only.)

    ``point_col`` / ``lo_col`` / ``hi_col`` must be integral (cast
    timestamps to ``unix_micros`` upstream); column names of the two
    inputs must be disjoint.  Empty intervals (``hi <= lo``) match
    nothing and are dropped up front.  Inner-join semantics: points in
    no interval and intervals with no points vanish.
    """
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"point/interval column names must be disjoint: {sorted(overlap)}")
    if bucket <= 0:
        raise ValueError(f"bucket width must be positive, got {bucket}")
    # integer floor-division that is exact for negatives too (Spark's
    # `div` truncates toward zero; floor() on a DOUBLE ratio loses
    # exactness above 2^53).  Column `/` is DOUBLE division, so route
    # the quotient through DECIMAL(38,0): (col - nonneg_mod) is exactly
    # divisible by bucket, the true quotient is an integer, and decimal
    # division of exactly-divisible integers is exact at any magnitude.
    def _fdiv(col):
        col = col.cast("long")
        nonneg_mod = ((col % bucket) + bucket) % bucket
        q = (col - nonneg_mod).cast("decimal(38,0)") / F.lit(bucket).cast("decimal(38,0)")
        return q.cast("long")

    p = points.withColumn("__cell", _fdiv(F.col(point_col)))
    iv = (
        intervals.filter(F.col(hi_col) > F.col(lo_col))
        .withColumn(
            "__cell",
            F.explode(
                F.sequence(_fdiv(F.col(lo_col)), _fdiv(F.col(hi_col) - F.lit(1)))
            ),
        )
    )
    out = p.join(iv, "__cell").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    return out.drop("__cell")
