"""Eval metrics — cumulative confusion matrix, ROC/PR/gains, AUC.

Reference: core/ConfusionMatrix.java:276-620 (driver-side single-thread
scan over the score-sorted file carrying running TP/FP/TN/FN + weighted),
core/eval/AreaUnderCurve.java:56-133 (trapezoid integration),
container/obj/PerformanceResult.java. Weight semantics: unparseable
weights default to 1.0 and negatives clamp to 1.0
(ConfusionMatrix.java:361-370).

Spark shape — no driver scan over the data:
  * collapse to per-distinct-score points first (groupBy score — bounds
    all downstream work by #distinct scores, not #rows);
  * cumulative sums via ``prefix_sums``, which splits the points into
    ``ceil(sizeInBytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``
    score ranges, capped at ``defaultParallelism``. ``sizeInBytes`` is
    the optimizer's estimate for the points plan; reading it runs no job.
    - One range (points that fit one advisory partition): running sums
      and totals are windows over one constant bucket — no persist, no
      boundary collect, no offsets join.
    - More ranges: bucket the points by collected quantile boundaries of
      the score, cumulate within each bucket in parallel, then add
      per-bucket exclusive offsets (one tiny row per bucket, broadcast
      back). This is the form for inputs whose distinct scores grow with
      the data; a large or unknown estimate lands here.
    Both forms give the rows of a global
    ``sum() OVER (ORDER BY score DESC)``;
  * ROC AUC, PR AUC and KS all come from that one scan in
    ``curve_metrics_df``: the AUC is the tie-corrected trapezoid, which
    equals the Mann-Whitney rank statistic, summed in DECIMAL so it is
    deterministic across engines and partitionings. ``weight_col`` runs
    the same scan over the clamped weighted tallies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


from shifu_spark.functions.nonvalue import is_nonvalue as _is_nonvalue
from shifu_spark.session import snapshot


def clamp_weight(weight_col: str) -> Column:
    """Unparseable -> 1.0, negative -> 1.0 (ConfusionMatrix.java:361-370).

    try_cast, not cast: an unparseable TEXT weight must land in the
    Java-catch->1.0 branch, not raise under ANSI mode. Non-finite
    weights also clamp to 1.0: a NaN weight would otherwise poison the
    whole weighted tally on the double path and NULL OUT of the
    DECIMAL(38,10) trapezoid sum, silently dropping that population —
    garbage weights are defensively 1.0, same as unparseable ones
    (deliberate divergence from a literal Java replay, where the
    NaN-weight sum degenerates to an all-NaN curve)."""
    from shifu_spark.functions.nonvalue import clamp_weight_expr

    return clamp_weight_expr(F.col(weight_col).try_cast("double"))


def _score_points(
    df: DataFrame, score_col: str, label_expr: Column, weight_col: str | None
) -> DataFrame:
    """Collapse rows to one point per distinct score with pos/neg
    (and weighted) tallies — the map-side combine that bounds every
    curve computation by #distinct scores.

    NULL/NaN/±Infinity scores are EXCLUDED: an unrankable score is no
    evaluation point (under Spark/DuckDB NaN-is-greatest ordering a NaN
    score would silently rank as the most confident prediction; the
    unified missing semantics route it out instead, as the bin lookup
    does). An unparseable TEXT score is missing too: try_cast, not cast,
    so it is dropped instead of raising under ANSI mode. A double score
    plans the same either way (a same-type cast is folded away)."""
    w = clamp_weight(weight_col) if weight_col else F.lit(1.0)
    score = F.col(score_col).try_cast("double")
    df = df.filter(~_is_nonvalue(score))
    return (
        df.select(
            score.alias("score"),
            F.when(label_expr, 1).otherwise(0).alias("y"),
            w.alias("w"),
        )
        .groupBy("score")
        .agg(
            F.sum("y").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).alias("neg"),
            F.sum(F.when(F.col("y") == 1, F.col("w")).otherwise(0.0)).alias("wpos"),
            F.sum(F.when(F.col("y") == 0, F.col("w")).otherwise(0.0)).alias("wneg"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-sum core (the distributed form of the cumulative scan)
# ---------------------------------------------------------------------------

def _finalize_one_row(df: DataFrame) -> DataFrame:
    """Execute a tiny (metric-sized) aggregate NOW and rewrap it as a
    local-backed DataFrame with the identical schema.

    Lets the caller release upstream ``persist()`` caches in a
    try/finally without handing the consumer a plan that would lazily
    re-execute against the already-unpersisted (and thus recomputed)
    lineage. Only ever called on single-row / #buckets-row results.
    The rewrap is :func:`shifu_spark.session.snapshot`: an Arrow
    ``LocalRelation``, so reading the metrics starts no Python worker."""
    return snapshot(df)


def _range_count(df: DataFrame, num_ranges: int | None = None) -> int:
    """Number of score ranges ``prefix_sums`` splits ``df`` into.

    An explicit ``num_ranges`` wins. Otherwise one range per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of the
    optimizer's size estimate for ``df``, at least 1 and at most
    ``defaultParallelism``. Reading the estimate optimizes the plan but
    runs no job. Without CBO the estimate errs high: an ``Aggregate`` or
    ``Filter`` keeps its child's size scaled by row width, and an unknown
    size is ``spark.sql.defaultSizeInBytes`` — so a doubtful input keeps
    the multi-range form."""
    if num_ranges:
        return num_ranges
    spark = df.sparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(-(-size // target), spark.sparkContext.defaultParallelism))


def prefix_sums(
    df: DataFrame,
    cols: list[str],
    num_ranges: int | None = None,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Inclusive prefix-sum of ``cols`` in descending ``score`` order.

    Returns the input with ``tot_<col>`` (grand total, constant),
    ``cum_<col>`` (running sum) and ``__pid`` (range id) columns
    appended. Rows equal an unpartitioned
    ``sum() OVER (ORDER BY score DESC)``.

    The range count is ``_range_count(df, num_ranges)``:
    ``ceil(sizeInBytes / advisoryPartitionSizeInBytes)`` of the input's
    plan estimate, capped at ``defaultParallelism``, unless
    ``num_ranges`` is given.

    One range: ``__pid`` is the constant 0, ``cum_*`` is a running window
    and ``tot_*`` the unbounded window over that one bucket. Nothing is
    persisted or collected and there is no offsets join, so ``cache_out``
    stays empty. The bucket is one task, which the size rule keeps to one
    advisory partition of points.

    More ranges:
      * the input points are persisted once (the cache goes to
        ``cache_out`` for the caller to release) and the ``n - 1``
        boundary quantiles are read from that materialization, so the
        upstream scan + groupBy runs once however many plan branches or
        actions consume the result. Without ``cache_out`` nothing is
        persisted — nothing could release that cache — and every branch
        re-derives the points: correct, but multi-pass;
      * the collected boundaries are embedded as literals, so every
        plan branch sees the SAME buckets as a deterministic function of
        the data. ``repartitionByRange`` samples its boundaries per plan
        instantiation, so a totals branch and a main branch that don't
        share the exchange could disagree about which rows a bucket
        covers and misalign the offsets (seen as a nondeterministic ROC
        AUC). A value-derived bucket id is identical in every branch,
        whether or not Catalyst reuses the exchange;
      * per-bucket totals (one tiny row per bucket) are cumulated under
        a window over ``__pid`` — unpartitioned, but spanning only
        #buckets rows;
      * the (#buckets)-row offsets table is broadcast back and added to
        the within-bucket running sum (the window shuffles on the bucket
        id, spreading buckets across every core).
    """
    wpart = (
        Window.partitionBy("__pid")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = _range_count(df, num_ranges)
    if n == 1:
        # Catalyst folds the constant bucket away: one SinglePartition
        # exchange, and WindowExec's "No Partition Defined" warning is
        # expected here
        one = df.withColumn("__pid", F.lit(0))
        wbucket = Window.partitionBy("__pid")
        one = one.select("*", *[F.sum(c).over(wbucket).alias(f"tot_{c}") for c in cols])
        return one.select("*", *[F.sum(c).over(wpart).alias(f"cum_{c}") for c in cols])
    # one materialization pays for the boundary collect, the per-bucket
    # totals branch and the main cumulative branch
    if cache_out is not None:
        df = df.persist()
        cache_out.append(df)
    qs = [i / n for i in range(1, n)]
    bounds_row = df.agg(F.percentile_approx("score", qs, 1000).alias("b")).collect()
    bounds = sorted({float(b) for b in (bounds_row[0]["b"] or []) if b is not None})
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        # bucket id = #{boundaries >= value}: the top scores are bucket
        # 0; ties share a bucket
        asc_id = F.aggregate(
            arr, F.lit(0), lambda acc, b: acc + F.when(F.col("score") > b, 1).otherwise(0)
        )
        bucket = F.lit(len(bounds)) - asc_id
    else:
        bucket = F.lit(0)
    # no physical repartition needed: the per-bucket window below
    # clusters+sorts on __pid itself, and the offsets join is by value
    parted = df.withColumn("__pid", bucket)
    totals = parted.groupBy("__pid").agg(*[F.sum(c).alias(f"__t_{c}") for c in cols])
    # bounded: these unpartitioned windows run over the per-bucket totals
    # (#buckets <= defaultParallelism rows), not the data — the WindowExec
    # "No Partition Defined" warning they emit is catalog-scale and benign
    wprev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    zero = F.lit(0)
    offsets = totals.select(
        F.col("__pid").alias("__opid"),
        *[F.coalesce(F.sum(f"__t_{c}").over(wprev), zero).alias(f"{c}_off") for c in cols],
        *[F.sum(f"__t_{c}").over(wall).alias(f"tot_{c}") for c in cols],
    )
    out = parted.join(F.broadcast(offsets), F.col("__pid") == F.col("__opid")).drop("__opid")
    for c in cols:
        out = out.withColumn(f"cum_{c}", F.sum(c).over(wpart) + F.col(f"{c}_off"))
    return out.drop(*[f"{c}_off" for c in cols])


def _confusion_select(t: DataFrame, weighted: bool) -> DataFrame:
    cols = [
        "score",
        F.col("cum_pos").cast("long").alias("tp"),
        F.col("cum_neg").cast("long").alias("fp"),
        (F.col("tot_pos") - F.col("cum_pos")).cast("long").alias("fn"),
        (F.col("tot_neg") - F.col("cum_neg")).cast("long").alias("tn"),
    ]
    if weighted:
        cols += [F.col("cum_wpos").alias("wtp"), F.col("cum_wneg").alias("wfp")]
    cols += [
        # try_divide: degenerate corpora (no positives / no negatives)
        # yield NULL metrics instead of an ANSI divide-by-zero
        F.try_divide(F.col("cum_pos"), F.col("cum_pos") + F.col("cum_neg")).alias("precision"),
        F.try_divide(F.col("cum_pos"), F.col("tot_pos")).alias("recall"),
        F.try_divide(F.col("cum_neg"), F.col("tot_neg")).alias("fpr"),
    ]
    return t.select(*cols)


def confusion_points_df(
    df: DataFrame,
    score_col: str,
    label_expr: Column,
    weight_col: str | None = None,
    num_ranges: int | None = None,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-distinct-score cumulative confusion matrix (distributed form).

    Returns (score, tp, fp, fn, tn[, wtp, wfp], precision, recall, fpr)
    — one row per distinct score, cumulative counts for the rule
    "predict positive iff score >= this score" (score-descending scan,
    ConfusionMatrix.java:276-520).  Weighted columns are emitted only
    when ``weight_col`` is given (they are constant-1 sums otherwise).

    Runs on ``prefix_sums`` (one range or several, by the points' size).
    Pass ``cache_out`` to get the single-materialization plan when it
    takes several ranges (the points cache is appended for the caller
    to release); without it each consuming branch re-derives the points.
    """
    pts = _score_points(df, score_col, label_expr, weight_col)
    cols = ["pos", "neg"] + (["wpos", "wneg"] if weight_col else [])
    cum = prefix_sums(pts, cols, num_ranges=num_ranges, cache_out=cache_out)
    return _confusion_select(cum, weighted=weight_col is not None)


def gain_buckets_df(points: DataFrame, num_buckets: int = 10, round_to: int | None = 6) -> DataFrame:
    """Bucketed gains table: first point crossing each 1/N "action rate".

    Reference buckets by FPR/recall/gain boundary crossings
    (ConfusionMatrix.java:276-520 performanceBucketNum). Action rate =
    (tp+fp)/total; we keep the first score point at or past each i/N.

    Plan: the "first point per bucket" is simply the max-score point of
    each bucket — one ``max_by`` aggregation (map-side partial + tiny
    shuffle on ≤N+1 bucket keys) instead of a per-bucket window scan.
    """
    t = points.withColumn("total", (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")))
    t = t.withColumn("action_rate", (F.col("tp") + F.col("fp")) / F.col("total"))
    t = t.withColumn("bucket", F.least(F.floor(F.col("action_rate") * num_buckets), F.lit(num_buckets)))
    picked = F.max_by(
        F.struct("score", "action_rate", "precision", "recall", "fpr"), F.col("score")
    ).alias("pt")
    out = (
        t.groupBy("bucket")
        .agg(picked)
        .select("bucket", "pt.score", "pt.action_rate", "pt.precision", "pt.recall", "pt.fpr")
        .orderBy("bucket")
    )
    if round_to is not None:
        for c in ("action_rate", "precision", "recall", "fpr"):
            out = out.withColumn(c, F.round(F.col(c), round_to))
    return out


def curve_metrics_df(
    df: DataFrame,
    score_col: str,
    label_expr: Column,
    round_to: int | None = 6,
    num_ranges: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """ROC AUC + PR AUC + KS in ONE score-descending prefix scan — the
    only AUC code in the package (ConfusionMatrix.java:276-520 scan,
    AreaUnderCurve.java:56-133 trapezoid).

      * ROC AUC as the tie-corrected trapezoid, U = Σ neg_i·(tp_{i-1}+tp_i)/2
        over the per-distinct-score points — algebraically the
        Mann-Whitney average-rank statistic. The sum runs in DECIMAL, so
        it is exact and partition-order-independent (integer products
        overflow int64 around 10^12 rows);
      * PR AUC as the recall-ordered trapezoid: adjacent pairs resolved
        WITHIN each score range (pid-local lag) plus, when there are
        several ranges, the #ranges−1 boundary pairs from a tiny
        max_by/min_by agg. Score-desc order ≡ (recall asc, precision
        desc): recall ties are exactly the zero-positive runs, along
        which precision strictly falls — the pinned tie order every
        oracle mirrors;
      * KS = max(TPR − FPR) over the full-resolution curve (a fraction,
        not PerformanceResult's ×100).

    With ``weight_col`` the same scan runs over the ``clamp_weight``ed
    tallies (ConfusionMatrix.java:361-370) and gives the weighted AUC,
    PR AUC and KS; the trapezoid numerator then sums in DECIMAL(38,10).

    The range count is ``_range_count`` of the points, as in
    ``prefix_sums``. With one range every adjacent pair lies inside the
    one bucket, so the per-range first/last agg, its lag and the
    ``__barea`` cross join are not built. Returns one row (auc, pr_auc,
    ks), finalized eagerly so the points cache is released here.
    """
    pos, neg = ("wpos", "wneg") if weight_col else ("pos", "neg")
    pts = _score_points(df, score_col, label_expr, weight_col)
    n = _range_count(pts, num_ranges)
    # with several ranges prefix_sums persists the points once — that
    # single materialization serves the boundary collect, the offsets
    # branch, the barea broadcast branch and the final agg
    caches: list[DataFrame] = []
    try:
        cum = prefix_sums(pts, [pos, neg], num_ranges=n, cache_out=caches)
        cpos, cneg = F.col(f"cum_{pos}"), F.col(f"cum_{neg}")
        t = (
            cum.withColumn("rec", F.try_divide(cpos, F.col(f"tot_{pos}")))
            .withColumn("prec", F.try_divide(cpos, cpos + cneg))
            .withColumn("fpr", F.try_divide(cneg, F.col(f"tot_{neg}")))
        )
        wprev = Window.partitionBy("__pid").orderBy(F.desc("score"))
        lagged = t.withColumn("prev_r", F.lag("rec").over(wprev)).withColumn(
            "prev_p", F.lag("prec").over(wprev)
        )
        pr_inner = F.sum(
            F.when(
                F.col("prev_r").isNotNull(),
                (F.col("rec") - F.col("prev_r")) * (F.col("prec") + F.col("prev_p")) / 2.0,
            )
        )
        # trapezoid numerator ×2: Σ neg·(2·cum_pos − pos) = 2·U. Weights
        # are doubles and need fractional digits. Counts stay in INTEGER
        # arithmetic (a 2.0 literal would detour through doubles and lose
        # exactness past 2^53) and cast the OPERANDS to decimal before the
        # multiply: in BIGINT the product overflows (ANSI: loud error)
        # near 3e9·3e9 per term. (2·cum_pos − pos) alone stays in long:
        # it only overflows past ~4.6e18 positives.
        if weight_col:
            u2 = F.sum((F.col(neg) * (F.lit(2.0) * cpos - F.col(pos))).cast("decimal(38,10)"))
        else:
            u2 = F.sum(
                F.col(neg).cast("decimal(38,0)")
                * (F.lit(2) * cpos - F.col(pos)).cast("decimal(38,0)")
            )
        agg = lagged.agg(
            u2.alias("u2"),
            pr_inner.alias("pr_inner"),
            F.max(F.col("rec") - F.col("fpr")).alias("ks_raw"),
            F.first(f"tot_{pos}").alias("tp"),
            F.first(f"tot_{neg}").alias("tn"),
        )
        pr = F.coalesce(F.col("pr_inner"), F.lit(0.0))
        if n > 1:
            # boundary pairs: (lowest-score row of pid k) -> (highest-score
            # row of pid k+1), computed in-plan (per-pid first/last agg ->
            # lag over the #pids-row table -> 1-row sum, broadcast back)
            # instead of a driver collect; both this branch and the final
            # agg read the one persisted points table
            per_pid = t.groupBy("__pid").agg(
                F.max_by(F.struct("rec", "prec"), "score").alias("first"),
                F.min_by(F.struct("rec", "prec"), "score").alias("last"),
            )
            wpid = Window.orderBy("__pid")
            pair_term = F.when(
                F.col("first.prec").isNotNull() & F.col("prev_last.prec").isNotNull(),
                (F.col("first.rec") - F.col("prev_last.rec"))
                * (F.col("first.prec") + F.col("prev_last.prec"))
                / 2.0,
            )
            barea_df = (
                per_pid.withColumn("prev_last", F.lag("last").over(wpid))
                .filter(F.col("prev_last").isNotNull())
                .agg(F.coalesce(F.sum(pair_term), F.lit(0.0)).alias("__barea"))
            )
            agg = agg.crossJoin(F.broadcast(barea_df))
            pr = pr + F.col("__barea")
        auc = F.try_divide(
            F.col("u2").cast("double"),
            2.0 * F.col("tp").cast("double") * F.col("tn").cast("double"),
        )
        ks = F.col("ks_raw")
        if round_to is not None:
            auc, pr, ks = F.round(auc, round_to), F.round(pr, round_to), F.round(ks, round_to)
        return _finalize_one_row(agg.select(auc.alias("auc"), pr.alias("pr_auc"), ks.alias("ks")))
    finally:
        for c in caches:
            c.unpersist()


def weighted_gain_buckets_df(
    df: DataFrame,
    score_col: str,
    label_expr: Column,
    weight_col: str,
    num_buckets: int = 10,
    round_to: int | None = 6,
    num_ranges: int | None = None,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Weighted gains table: first score point at or past each weighted
    action-rate 1/N boundary (ConfusionMatrix.java weighted bucket walk).
    Action rate = (wtp+wfp)/total_weight; per bucket the max-score point
    is picked with one max_by agg. A zero total weight gives NULL rates,
    not a divide-by-zero, like the other weighted curves, and a NULL
    bucket."""
    pts = _score_points(df, score_col, label_expr, weight_col)
    cum = prefix_sums(pts, ["wpos", "wneg"], num_ranges=num_ranges, cache_out=cache_out)
    tot_w = F.col("tot_wpos") + F.col("tot_wneg")
    t = (
        cum.withColumn("action_rate", F.try_divide(F.col("cum_wpos") + F.col("cum_wneg"), tot_w))
        .withColumn("wprecision", F.try_divide(F.col("cum_wpos"), F.col("cum_wpos") + F.col("cum_wneg")))
        .withColumn("wrecall", F.try_divide(F.col("cum_wpos"), F.col("tot_wpos")))
        # least() skips a NULL, so a NULL rate needs its own branch to
        # stay out of the last bucket
        .withColumn("bucket", F.when(
            F.col("action_rate").isNotNull(),
            F.least(F.floor(F.col("action_rate") * num_buckets), F.lit(num_buckets)),
        ))
    )
    picked = F.max_by(F.struct("score", "action_rate", "wprecision", "wrecall"), F.col("score")).alias("pt")
    out = (
        t.groupBy("bucket")
        .agg(picked)
        .select("bucket", "pt.score", "pt.action_rate", "pt.wprecision", "pt.wrecall")
        .orderBy("bucket")
    )
    if round_to is not None:
        for c in ("action_rate", "wprecision", "wrecall"):
            out = out.withColumn(c, F.round(F.col(c), round_to))
    return out


# ---------------------------------------------------------------------------
# Raw-score rescale strategies (GBT scores are unbounded margins)
# ---------------------------------------------------------------------------

def rescale_score_expr(score: Column | str, strategy: str = "SIGMOID") -> Column:
    """Map raw model output to [0,1] before the confusion-matrix sweep.

    Reference: ConfusionMatrix.java:257-276,404-420 — GBT margins are
    rescaled per configured strategy before bucketing:
      RAW       pass-through (already a probability)
      SIGMOID   1/(1+exp(-2·s)) (the reference's scaled sigmoid)
      OLD_SIGMOID  1/(1+exp(-s))
      MAXMIN    (s - min)/(max - min) — needs the global max/min, so this
                variant takes (score, min_col, max_col) broadcast columns

    An unparseable TEXT score rescales to NULL (try_cast, as the curve
    operators read it) instead of raising under ANSI.
    """
    s = F.col(score) if isinstance(score, str) else score
    s = s.try_cast("double")
    if strategy == "RAW":
        return s
    if strategy == "SIGMOID":
        return 1.0 / (1.0 + F.exp(-2.0 * s))
    if strategy == "OLD_SIGMOID":
        return 1.0 / (1.0 + F.exp(-s))
    raise ValueError(f"unsupported rescale strategy {strategy}")


def rescale_maxmin_expr(score: Column | str, min_col: Column, max_col: Column) -> Column:
    """MAXMIN rescale with broadcast global bounds; degenerate range -> 0.5
    (the reference clamps equal-max-min the same way); a NULL or
    unparseable TEXT score is NULL on either range, as in
    :func:`rescale_score_expr`."""
    s = (F.col(score) if isinstance(score, str) else score).try_cast("double")
    rng = max_col - min_col
    return F.when(rng <= 0, F.when(s.isNotNull(), F.lit(0.5))).otherwise((s - min_col) / rng)
